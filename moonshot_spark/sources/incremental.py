"""Incremental panel maintenance: merge newly arrived ticks into an
existing daily OHLCV panel without recomputing history.

The daily rollup is made *mergeable* by carrying ``first_ts``/``last_ts``
alongside open/close: two partial aggregates of the same (sid, date) —
the stored panel row and the new ticks' aggregate — combine with pure
column logic (earlier first_ts wins open, later last_ts wins close,
min/max/sum for the rest).  At 100 TB this turns daily ingestion into
a shuffle over one day of ticks plus a broadcast-scale merge of touched
keys, instead of a full-history re-aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from moonshot_spark.sources.parquet import rollup_ticks


def aggregate_ticks(events: DataFrame) -> DataFrame:
    """Tick → mergeable daily OHLCV partial (sid, date, open, close, high,
    low, volume, first_ts, last_ts).  ``events`` needs (user_id, ts_ns,
    value) as produced by sources.parquet.load_table."""
    return rollup_ticks(events, F.min("ts_ns").alias("first_ts"),
                        F.max("ts_ns").alias("last_ts"))


def merge_panels(existing: DataFrame, delta: DataFrame) -> DataFrame:
    """Combine two mergeable panel partials on (sid, date).

    Full-outer join + column-wise combiners: the open comes from whichever
    side saw the earlier first_ts, the close from the later last_ts.
    Untouched keys pass through one side unchanged.
    """
    e = existing.alias("e")
    d = delta.alias("d")
    joined = e.join(d, ["sid", "date"], "full_outer")

    def pick(col_e, col_d, cond):
        """cond chooses the e-side; either side may be absent (NULL)."""
        return (F.when(F.col(col_e).isNull(), F.col(col_d))
                .when(F.col(col_d).isNull(), F.col(col_e))
                .when(cond, F.col(col_e)).otherwise(F.col(col_d)))

    e_first = F.col("e.first_ts")
    d_first = F.col("d.first_ts")
    e_last = F.col("e.last_ts")
    d_last = F.col("d.last_ts")
    return joined.select(
        "sid", "date",
        pick("e.open", "d.open", e_first <= d_first).alias("open"),
        pick("e.close", "d.close", e_last >= d_last).alias("close"),
        F.greatest("e.high", "d.high").alias("high"),
        F.least("e.low", "d.low").alias("low"),
        (F.coalesce("e.volume", F.lit(0.0))
         + F.coalesce("d.volume", F.lit(0.0))).alias("volume"),
        F.least(e_first, d_first).alias("first_ts"),
        F.greatest(e_last, d_last).alias("last_ts"))


def write_panel(panel: DataFrame, path: str) -> None:
    """Initial write of a mergeable panel, partitioned by date — the layout
    ``upsert_panel_partitions`` expects (each ingestion day maps to a
    partition directory, so incremental rewrites touch only those dirs)."""
    panel.write.mode("overwrite").partitionBy("date").parquet(path)


def upsert_panel_partitions(spark, path: str, new_events: DataFrame) -> list:
    """Ingest new ticks into a stored date-partitioned panel: aggregate the
    delta, merge with the stored partials for the TOUCHED dates only, and
    rewrite just those date partitions via dynamic partition overwrite.

    The 100 TB shape: the shuffle is one ingestion batch of ticks; the
    stored-side read is partition-pruned to the touched dates; the write
    replaces only those partition directories (``partitionOverwriteMode=
    dynamic``), leaving years of history untouched — the plain-parquet
    equivalent of a Delta/Iceberg MERGE for this workload.  Late ticks for
    an old date merge correctly because the stored row is a mergeable
    partial (first_ts/last_ts decide open/close).  Returns the touched
    dates (driver-side, bounded by dates-per-batch).
    """
    delta = aggregate_ticks(new_events)
    touched = [r["date"] for r in delta.select("date").distinct().collect()]
    existing = (spark.read.parquet(path)
                .where(F.col("date").isin(touched)))
    merged = merge_panels(existing, delta)
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        # repartition by date so each rewritten partition is one task's
        # output (avoids small-file spray across the touched dirs)
        (merged.repartition("date")
         .write.mode("overwrite").partitionBy("date").parquet(path))
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    return touched
