"""Parquet sources (SURVEY.md §2.1 S1–S2).

The reference pulls data over HTTP from quantrocket services
(base.py:28-31); our I/O layer is Parquet-first: ``spark.read.parquet``
with Catalyst predicate pushdown and column pruning standing in for the
reference's server-side sid/date/field filters (base.py:1238-1251).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# Parquet-schema memo: schema inference reads a footer on the driver per
# ``spark.read.parquet`` call — a fixed ~50-100 ms of Py4J + IO that a
# 240-query bench pays 240+ times on identical paths (VERDICT r9 item 1).
# Keyed by path with a stored freshness fingerprint — the root mtime plus
# a first-level listing digest (entry count + max child mtime), so a
# partitioned append that only touches a nested subdirectory (which does
# NOT bump the root mtime) still invalidates the memo (ADVICE r10).  One
# entry per path: a fingerprint change REPLACES the stale entry instead
# of accreting beside it, so a long-lived session can't grow the cache
# unboundedly.  The memo holds StructTypes (plain driver objects), never
# DataFrames, so nothing pins a SparkSession.
_SCHEMA_CACHE: dict = {}


def _fingerprint(path: str) -> tuple:
    """Freshness fingerprint: root mtime + first-level entry count + max
    first-level child mtime.

    Depth-1 by design: a Spark-committed rewrite ALWAYS bumps a
    first-level entry (_SUCCESS is rewritten at the root on every
    commit), so any `df.write.parquet(path)` mutation is caught.  The
    remaining blind spot is a NON-Spark writer appending files at depth
    >= 2 of a multi-level-partitioned path without touching the root or
    any first-level mtime (ADVICE r11) — callers mutating datasets that
    way should call ``clear_schema_cache()`` or touch the root."""
    st = os.stat(path)
    if not os.path.isdir(path):
        return (st.st_mtime_ns, st.st_size, 0)
    n, max_child = 0, 0
    with os.scandir(path) as it:
        for e in it:
            n += 1
            m = e.stat(follow_symlinks=False).st_mtime_ns
            if m > max_child:
                max_child = m
    return (st.st_mtime_ns, n, max_child)


def _read_with_schema_memo(spark: SparkSession, path: str) -> DataFrame:
    try:
        fp = _fingerprint(path)
    except OSError:
        # nonexistent / non-local path (s3a, hdfs): no driver-side stat —
        # fall through to plain inference, Spark raises its own error
        return spark.read.parquet(path)
    hit = _SCHEMA_CACHE.get(path)
    if hit is None or hit[0] != fp:
        df = spark.read.parquet(path)
        _SCHEMA_CACHE[path] = (fp, df.schema)
        return df
    return spark.read.schema(hit[1]).parquet(path)


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """The schema of the parquet dataset at ``path``, through the memo:
    its footer is read once per fingerprint, not once per call."""
    hit = _SCHEMA_CACHE.get(path)
    try:
        if hit is not None and hit[0] == _fingerprint(path):
            return hit[1]
    except OSError:
        pass
    return _read_with_schema_memo(spark, path).schema


def clear_schema_cache() -> int:
    """Drop all memoized parquet schemas (tests / long-lived processes
    reading mutated datasets whose mtime granularity may alias)."""
    n = len(_SCHEMA_CACHE)
    _SCHEMA_CACHE.clear()
    return n


def _parse_byte_conf(value: str, default: int = 128 * 1024 * 1024) -> int:
    units = {"": 1, "b": 1,
             "k": 1 << 10, "kb": 1 << 10,
             "m": 1 << 20, "mb": 1 << 20,
             "g": 1 << 30, "gb": 1 << 30,
             "t": 1 << 40, "tb": 1 << 40}
    s = value.strip().lower()
    num = s.rstrip("kmgtb")
    try:
        return int(num) * units[s[len(num):]]
    except (ValueError, KeyError):
        return default


def scan_partition_estimate(df: DataFrame) -> int | None:
    """Estimate how many scan tasks a FILE-headed lineage will yield,
    without forcing physical planning.

    A parquet scan yields roughly ``max(n_files, total_bytes /
    maxPartitionBytes)`` tasks (files split by byte range, never below a
    row group).  Returns ``None`` for non-file sources (in-memory
    frames, upstream shuffles — already parallel at
    ``spark.sql.shuffle.partitions``) and for unstattable remote paths
    (trust the scan).  This replaces the old ``df.rdd.getNumPartitions``
    probe, which forced a plan→RDD conversion on the driver per wrapped
    lineage (VERDICT r11)."""
    files = df.inputFiles()
    if not files:
        return None
    from urllib.parse import urlparse
    total_bytes = 0
    for f in files:
        p = urlparse(f).path or f
        try:
            total_bytes += os.path.getsize(p)
        except OSError:
            return None   # remote/unstattable: trust the scan layout
    max_pb = _parse_byte_conf(df.sparkSession.conf.get(
        "spark.sql.files.maxPartitionBytes", "134217728"))
    return max(len(files), -(-total_bytes // max_pb))


def ensure_scan_parallelism(df: DataFrame, min_fraction: float = 0.5
                            ) -> DataFrame:
    """Give a CPU-heavy scan-headed lineage at least defaultParallelism
    partitions.

    Parquet cannot split BELOW a row group, so a table written as one
    row group scans as ONE task no matter what ``maxPartitionBytes``
    says — and every tokenize/shingle/fingerprint expression upstream of
    the first shuffle then runs single-threaded (the r10 exec-band
    profile: prepare_corpus spent 1.5 s of its 1.9 s exec in a 1-task
    stage).  A row-level repartition costs one shuffle of the (by
    construction small) scan output and buys full-width parallelism for
    the per-row work.

    Scale-safe by being conditional: when the file layout already yields
    >= ``min_fraction * defaultParallelism`` scan tasks (estimated from
    the file listing, no ``.rdd`` plan-forcing probe) — any real
    multi-file/multi-row-group dataset — this is a NO-OP, so a 100 TB
    corpus never pays a gratuitous full-data shuffle.  Apply it only to
    lineages whose heavy per-row work sits BEFORE the first shuffle;
    aggregation-first queries already parallelize at their groupBy."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    est = scan_partition_estimate(df)
    if est is None or est >= max(1, int(target * min_fraction)):
        return df
    return df.repartition(target)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = _read_with_schema_memo(spark, os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        # events.ts arrives as either TIMESTAMP(NANOS) — which Spark reads
        # as long ns under nanosAsLong — or plain timestamp[us] (NTZ when
        # isAdjustedToUTC=false).  Normalize to two columns regardless:
        # ts     TIMESTAMP (µs, session tz is UTC) for calendar ops, and
        # ts_ns  BIGINT epoch-ns for ordering/tie-breaks (bit-identical to
        # DuckDB's epoch_ns on the same instants).
        ts_type = df.schema["ts"].dataType.simpleString()
        if ts_type == "bigint":
            df = (df.withColumnRenamed("ts", "ts_ns")
                  .withColumn("ts", F.timestamp_micros(
                      F.expr("ts_ns div 1000"))))  # integer div — double
                                                   # division rounds µs
        else:
            # NTZ→TZ cast is exact because the session tz is pinned to UTC
            # (session.ensure_session_confs).
            df = (df.withColumn("ts", F.col("ts").cast("timestamp"))
                  .withColumn("ts_ns", F.unix_micros(F.col("ts")) * F.lit(1000)))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def ohlcv_aggs(order: str) -> list[Column]:
    """The A2 bar aggregates over ``value`` ticks: open/close = first/last
    value by ``order`` (reference base.py:853-854 first-of-day /
    1457-1458 last-of-day), high/low = max/min, volume = tick count."""
    return [F.min_by("value", order).alias("open"),
            F.max_by("value", order).alias("close"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.count("*").cast("double").alias("volume")]


def rollup_ticks(events: DataFrame, *extra: Column) -> DataFrame:
    """Ticks (user_id, ts, ts_ns, value, as ``load_table`` yields them)
    → daily OHLCV bars keyed (sid, date), plus any ``extra`` aggregates.

    One shuffle (groupBy sid,date); at scale this is the classic
    time-series rollup and pre-aggregates 100 TB of ticks down to the
    daily panel before any strategy logic runs.
    """
    return (events
            .withColumn("sid", F.col("user_id").cast("string"))
            .withColumn("date", F.to_date("ts"))
            .groupBy("sid", "date")
            .agg(*ohlcv_aggs("ts_ns"), *extra))


def events_to_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derive a daily OHLCV price panel from the events table.

    The driver's synthetic schema has no price panel; `events` (user_id,
    ts, value) is the time-series analog: sid = user_id, date = day, bars
    from ``rollup_ticks``.
    """
    return rollup_ticks(load_table(spark, sf_dir, "events"))
