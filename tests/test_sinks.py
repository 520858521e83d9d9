"""Results/orders sink tests: partitioned writes + partition-pruned reads."""

import pytest
from pyspark.sql import functions as F

from moonshot_spark.sources.sinks import read_results, write_orders, write_results


def test_results_roundtrip_partition_pruning(spark, tmp_path):
    rows = [("Return", "A", "2024-01-01", 0.01), ("Weight", "A", "2024-01-01", 0.5),
            ("Return", "B", "2024-01-01", -0.02), ("Signal", "B", "2024-01-01", 1.0)]
    results = spark.createDataFrame(
        rows, "field string, sid string, date string, value double") \
        .withColumn("date", F.col("date").cast("date"))
    path = str(tmp_path / "results")
    write_results(results, path)

    back = read_results(spark, path, fields=["Return"])
    assert back.count() == 2
    assert {r["field"] for r in back.collect()} == {"Return"}
    # partition pruning visible in the plan: only the Return partition read
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "field=Return" in plan or "PartitionFilters" in plan, plan


def test_orders_append_by_trade_date(spark, tmp_path):
    orders = spark.createDataFrame(
        [("A", "U1", "BUY", "x", 10)],
        "sid string, account string, action string, order_ref string, "
        "total_quantity long")
    path = str(tmp_path / "orders")
    write_orders(orders, path, trade_date="2024-06-01")
    write_orders(orders, path, trade_date="2024-06-02")
    back = spark.read.parquet(path)
    assert back.count() == 2
    assert {str(r["trade_date"]) for r in back.collect()} == \
        {"2024-06-01", "2024-06-02"}


def test_results_roundtrip_all_formats(spark, tmp_path):
    from moonshot_spark.sources.sinks import RESULT_FORMATS

    df = spark.createDataFrame(
        [("Return", "A", 0.01), ("Return", "B", -0.02),
         ("Weight", "A", 0.5)],
        "field string, sid string, value double")
    for fmt in RESULT_FORMATS:
        p = str(tmp_path / fmt)
        write_results(df, p, fmt=fmt)
        back = read_results(spark, p, fmt=fmt, fields=["Return"])
        rows = {(r["sid"], round(r["value"], 6)) for r in back.collect()}
        assert rows == {("A", 0.01), ("B", -0.02)}, fmt


def test_schema_evolution_merge_read(spark, tmp_path):
    """A source that gains a column mid-history must read back unified
    under mergeSchema, with the old batch's missing column null — the
    standing-panel upgrade path (new vendor field) without a rewrite."""
    path = str(tmp_path / "evolving")
    v1 = spark.createDataFrame(
        [("A", "2024-01-01", 10.0)], "sid string, date string, close double")
    v1.write.mode("append").parquet(path)
    v2 = spark.createDataFrame(
        [("A", "2024-01-02", 11.0, 1000.0)],
        "sid string, date string, close double, vwap double")
    v2.write.mode("append").parquet(path)

    merged = spark.read.option("mergeSchema", "true").parquet(path)
    assert "vwap" in merged.columns
    rows = {r["date"]: r for r in merged.collect()}
    assert rows["2024-01-01"]["vwap"] is None
    assert rows["2024-01-02"]["vwap"] == 1000.0
    # filters still push down through the merged scan
    plan = (merged.where(F.col("close") > 10.5)
            ._jdf.queryExecution().executedPlan().toString())
    assert "PushedFilters: [IsNotNull(close), GreaterThan(close,10.5)]" \
        in plan, plan


def test_dynamic_partition_overwrite_one_day(spark, tmp_path):
    """Dynamic partitionOverwriteMode must replace ONLY the restated
    day's partition — the incremental-panel restatement path; static
    mode would wipe the untouched history."""
    path = str(tmp_path / "panel")
    base = spark.createDataFrame(
        [("A", "2024-01-01", 10.0), ("A", "2024-01-02", 11.0)],
        "sid string, date string, close double")
    base.write.partitionBy("date").mode("overwrite").parquet(path)

    restated = spark.createDataFrame(
        [("A", "2024-01-02", 99.0)], "sid string, date string, close double")
    (restated.write.partitionBy("date").mode("overwrite")
     .option("partitionOverwriteMode", "dynamic").parquet(path))

    back = {str(r["date"]): r["close"]
            for r in spark.read.parquet(path).collect()}
    assert back == {"2024-01-01": 10.0, "2024-01-02": 99.0}
