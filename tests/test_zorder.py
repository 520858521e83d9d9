"""Z-order layout tests: bit-interleave golden values and the actual
data-skipping claim (z beats single-column sort on the second key)."""

from pyspark.sql import functions as F

from moonshot_spark.plans.zorder import (
    z_value_expr, z_value_sql, zorder_bucket_stats)


def test_z_value_golden(spark):
    df = spark.createDataFrame([(3, 1), (0, 0), (15, 15)], "a long, b long")
    got = [r["z"] for r in
           df.select(z_value_expr("a", "b").alias("z"))
           .orderBy("a").collect()]
    # (0,0)->0; (3,1): a bits0,1 -> pos1,3 (2+8), b bit0 -> pos0 (1) = 11;
    # (15,15) -> 0b11111111 = 255
    assert got == [0, 11, 255]


def test_z_sql_matches_expr(spark):
    df = spark.createDataFrame([(i * 7 % 64, i * 13 % 64) for i in range(64)],
                               "a long, b long")
    df.createOrReplaceTempView("zt")
    via_expr = [r["z"] for r in df.select(
        z_value_expr("a", "b").alias("z")).orderBy("z").collect()]
    via_sql = [r["z"] for r in spark.sql(
        f"SELECT {z_value_sql('a', 'b')} AS z FROM zt ORDER BY z").collect()]
    assert via_expr == via_sql


def test_zorder_matches_sql_ntile_uneven(spark):
    # 100 rows into 16 buckets (uneven: 4 buckets of 7, 12 of 6) — the
    # distributed two-phase rank must reproduce SQL ntile exactly
    rows = [(i * 7 % 13, i * 11 % 13, i) for i in range(100)]
    df = spark.createDataFrame(rows, "a long, b long, id long")
    got = {r["bucket"]: r["n_rows"] for r in
           zorder_bucket_stats(df, "a", "b", n_buckets=16, bits=4,
                               tiebreak=["id"]).collect()}
    assert sum(got.values()) == 100
    sizes = sorted(got.values(), reverse=True)
    assert sizes == [7] * 4 + [6] * 12, sizes
    assert sorted(got) == list(range(1, 17))


def test_zorder_one_bin_matches_sql_ntile(spark):
    # every z-value is below 2^6, so all 50 rows land in bin 0 of the 64
    # fixed bins: one cell, offset 0, and the id tiebreak makes the
    # (z, id) order total
    rows = [(i % 5, i % 3, i) for i in range(50)]
    df = spark.createDataFrame(rows, "a long, b long, id long")
    assert df.select(F.shiftright(z_value_expr("a", "b"), 26)) \
        .distinct().count() == 1
    df.createOrReplaceTempView("zone")
    got = sorted(map(tuple, zorder_bucket_stats(
        df, "a", "b", n_buckets=8, tiebreak=["id"]).collect()))
    want = sorted(map(tuple, spark.sql(f"""
        SELECT bucket, min(a), max(a), min(b), max(b), count(*)
        FROM (SELECT a, b, ntile(8) OVER (
                  ORDER BY {z_value_sql('a', 'b')}, id) AS bucket
              FROM zone)
        GROUP BY bucket""").collect()))
    assert len(got) == 8 and got == want, (got, want)


def test_zorder_check_bits_raises(spark):
    import pytest as _pt
    df = spark.createDataFrame([(40, 1, 0)], "a long, b long, id long")
    # the per-bin count collect inside bucket_stats already executes the
    # scan, so the guard fires at construction time
    with _pt.raises(Exception, match="z-order key"):
        zorder_bucket_stats(df, "a", "b", n_buckets=2, bits=4,
                            tiebreak=["id"]).collect()


def test_zorder_partition_stats_streaming_shape(spark):
    from moonshot_spark.plans.zorder import zorder_partition_stats
    grid = spark.createDataFrame(
        [(a, b) for a in range(16) for b in range(16)], "a long, b long")
    stats = zorder_partition_stats(grid, "a", "b", n_files=8, bits=4)
    rows = stats.collect()
    assert sum(r["n_rows"] for r in rows) == 256
    plan = stats._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan, plan
    assert "Window" not in plan, plan


def test_zorder_write_roundtrip(spark, tmp_path):
    from moonshot_spark.plans.zorder import zorder_write
    grid = spark.createDataFrame(
        [(a, b) for a in range(16) for b in range(16)], "a long, b long")
    path = str(tmp_path / "zlayout")
    zorder_write(grid, "a", "b", path, n_files=4, bits=4)
    back = spark.read.parquet(path)
    assert back.count() == 256
    assert set(back.columns) == {"a", "b"}


def test_zorder_prunes_both_keys(spark):
    # 16x16 grid, 16 files: sorting by `a` alone leaves span(b)=15 per
    # file; z-order gives 4x4 blocks with span 3 on BOTH keys
    grid = spark.createDataFrame(
        [(a, b) for a in range(16) for b in range(16)], "a long, b long")
    z = zorder_bucket_stats(grid, "a", "b", n_buckets=16, bits=4)
    z_spans = [(r["max_a"] - r["min_a"], r["max_b"] - r["min_b"])
               for r in z.collect()]
    assert all(sa == 3 and sb == 3 for sa, sb in z_spans), z_spans
