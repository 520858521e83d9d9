"""Structured Streaming tests: panel rollup, sessionization, micro-batch
trading — run with availableNow over file sources, compared against the
equivalent batch computation."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from moonshot_spark.sources.parquet import load_table
from moonshot_spark.streaming.pipeline import (
    read_event_stream, stream_events_to_panel, stream_sessionize,
    stream_trade_orders,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def stream_dir(spark, tmp_path_factory):
    """Events as a streaming-source directory (two files → two batches)."""
    path = str(tmp_path_factory.mktemp("stream") / "events")
    ev = load_table(spark, SF_DIR, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props")
    ev.where(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(
        path, mode="overwrite")
    ev.where(F.col("event_id") % 2 == 1).coalesce(1).write.mode(
        "append").parquet(path)
    return path


def run_to_memory(stream_df, spark, name, output_mode="complete"):
    q = (stream_df.writeStream.format("memory").queryName(name)
         .outputMode(output_mode).trigger(availableNow=True).start())
    q.awaitTermination()
    return spark.table(name)


def test_stream_panel_matches_batch(spark, stream_dir):
    stream = read_event_stream(spark, stream_dir)
    panel = stream_events_to_panel(stream)
    got = run_to_memory(panel, spark, "panel_stream")

    batch = (load_table(spark, SF_DIR, "events")
             .groupBy(F.col("user_id").cast("string").alias("sid"),
                      F.to_date("ts").alias("date"))
             .agg(F.max("value").alias("high"), F.min("value").alias("low"),
                  F.count("*").cast("double").alias("volume")))
    g = {(r["sid"], r["date"]): (r["high"], r["low"], r["volume"])
         for r in got.collect()}
    b = {(r["sid"], r["date"]): (r["high"], r["low"], r["volume"])
         for r in batch.collect()}
    assert g == b


def test_stream_sessionize(spark, stream_dir):
    stream = read_event_stream(spark, stream_dir)
    sessions = stream_sessionize(stream, gap="30 minutes")
    got = run_to_memory(sessions, spark, "sessions_stream")
    # session count per user must match the batch lag+cumsum sessionization
    from moonshot_spark.queries import QUERIES
    batch = QUERIES["sessionize_events"](spark, SF_DIR)
    got_counts = {r["user_id"]: r["n"] for r in
                  got.groupBy("user_id").agg(F.count("*").alias("n")).collect()}
    batch_counts = {r["user_id"]: r["n"] for r in
                    batch.groupBy("user_id").agg(
                        F.countDistinct("session_id").alias("n")).collect()}
    assert got_counts == batch_counts


def test_stream_trade_orders(spark, stream_dir, tmp_path):
    from moonshot_spark.strategies.base import Moonshot

    class BuyBelow100(Moonshot):
        CODE = "stream-buy"

        def prices_to_signals(self, prices):
            return prices.withColumn("signal",
                                     (F.col("close") < 100).cast("int"))

    def balances_fn(spark_):
        return spark_.createDataFrame(
            [("U1", "USD", 100000.0)],
            "account string, currency string, net_liquidation double")

    checkpoint = str(tmp_path / "ckpt")
    out = str(tmp_path / "orders")
    stream = read_event_stream(spark, stream_dir)
    panel = stream_events_to_panel(stream)
    q = stream_trade_orders(panel, BuyBelow100, {"U1": 1.0}, balances_fn,
                            checkpoint, out).trigger(availableNow=True).start()
    q.awaitTermination()

    orders = spark.read.parquet(out)
    rows = orders.collect()
    assert len(rows) > 0
    assert {r["order_ref"] for r in rows} == {"stream-buy"}
    assert all(r["total_quantity"] > 0 for r in rows)
    assert {r["action"] for r in rows} <= {"BUY", "SELL"}


def test_stateful_position_tracker(spark, tmp_path):
    """applyInPandasWithState: state accumulates across micro-batches."""
    import pandas as pd

    from moonshot_spark.streaming.stateful import track_positions

    orders_dir = str(tmp_path / "orders_stream")
    os.makedirs(orders_dir)
    batch1 = spark.createDataFrame(
        [("A", "U1", "BUY", 100), ("A", "U1", "BUY", 50), ("B", "U1", "SELL", 30)],
        "sid string, account string, action string, total_quantity long")
    batch1.coalesce(1).write.mode("overwrite").parquet(orders_dir)

    out_dir = str(tmp_path / "positions_out")

    def run_once():
        stream = spark.readStream.schema(batch1.schema).parquet(orders_dir)

        def write_batch(bdf, batch_id):
            bdf.write.mode("append").parquet(out_dir)

        q = (track_positions(stream).writeStream
             .foreachBatch(write_batch).outputMode("update")
             .option("checkpointLocation", str(tmp_path / "ckpt"))
             .trigger(availableNow=True).start())
        q.awaitTermination()

    run_once()
    got = {(r["sid"], r["account"]): r["net_quantity"]
           for r in spark.read.parquet(out_dir).collect()}
    assert got == {("A", "U1"): 150, ("B", "U1"): -30}

    # second batch arrives → restart from checkpoint, state carries forward
    batch2 = spark.createDataFrame(
        [("A", "U1", "SELL", 70)],
        "sid string, account string, action string, total_quantity long")
    batch2.coalesce(1).write.mode("append").parquet(orders_dir)
    run_once()
    rows = spark.read.parquet(out_dir).collect()
    # latest emission for (A, U1) reflects accumulated state: 150 − 70
    a_positions = sorted(r["net_quantity"] for r in rows
                         if r["sid"] == "A")
    assert 80 in a_positions and 150 in a_positions


def test_stream_dedup(spark, tmp_path):
    from moonshot_spark.streaming.pipeline import (
        EVENT_SCHEMA, stream_dedup_events)

    src_dir = str(tmp_path / "dup_events")
    rows = [(1, "2024-01-01 10:00:00", 1, "click", 1.0, "{}"),
            (1, "2024-01-01 10:00:00", 1, "click", 1.0, "{}"),   # dup
            (2, "2024-01-01 10:05:00", 2, "view", 2.0, "{}")]
    df = spark.createDataFrame(rows, "event_id long, ts string, user_id long, "
                               "event_type string, value double, props string") \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    df.coalesce(1).write.parquet(src_dir)

    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(src_dir)
    deduped = stream_dedup_events(stream)
    q = (deduped.writeStream.format("memory").queryName("dedup_stream")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    got = spark.table("dedup_stream").collect()
    assert sorted(r["event_id"] for r in got) == [1, 2]


def test_parse_event_payload_batch_equivalence(spark):
    """The Kafka parse stage is a plain DataFrame transform — verified on
    batch (key, value) pairs, identical in the stream."""
    import json

    from moonshot_spark.streaming.pipeline import parse_event_payload

    payloads = [
        json.dumps({"event_id": 1, "ts": "2024-06-03T10:00:00",
                    "user_id": 7, "event_type": "click", "value": 1.5,
                    "props": "{}"}),
        "not json at all",
    ]
    raw = spark.createDataFrame(
        [(b"k1", p.encode()) for p in payloads], "key binary, value binary")
    rows = parse_event_payload(raw).collect()
    assert rows[0]["event_id"] == 1 and rows[0]["user_id"] == 7
    assert rows[0]["value"] == 1.5
    # malformed payload → NULL fields (dead-letter downstream), not a crash
    assert rows[1]["event_id"] is None


def test_stream_enrich_static_dim(spark, tmp_path):
    import os
    from moonshot_spark.streaming.pipeline import (
        EVENT_SCHEMA, stream_enrich)

    src = str(tmp_path / "events_in")
    os.makedirs(src)
    batch = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", 10, "click", 1.0, "{}"),
         (2, "2024-01-01 00:01:00", 20, "click", 2.0, "{}"),
         (3, "2024-01-01 00:02:00", 99, "click", 3.0, "{}")],
        "event_id long, ts string, user_id long, event_type string, "
        "value double, props string") \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    # the file source watches a flat dir: surface the part files directly
    staging = str(tmp_path / "staging")
    batch.coalesce(1).write.parquet(staging)
    import glob
    import shutil
    for i, f in enumerate(glob.glob(staging + "/part-*.parquet")):
        shutil.move(f, os.path.join(src, f"b{i}.parquet"))
    dim = spark.createDataFrame([(10, "gold"), (20, "silver")],
                                "user_id long, tier string")
    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(src)
    q = (stream_enrich(stream, dim)
         .writeStream.format("memory").queryName("enriched")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    rows = {r["user_id"]: r["tier"]
            for r in spark.table("enriched").collect()}
    # left join: known users enriched, unknown user kept with NULL tier
    assert rows == {10: "gold", 20: "silver", 99: None}


def test_stream_sliding_counts_matches_batch(spark, stream_dir):
    from moonshot_spark.streaming.pipeline import stream_sliding_counts

    stream = read_event_stream(spark, stream_dir)
    got = run_to_memory(
        stream_sliding_counts(stream, window="2 hours", slide="1 hour"),
        spark, "sliding_stream")

    # batch oracle: the same window expr on the static frame
    batch = (load_table(spark, SF_DIR, "events")
             .groupBy(F.window("ts", "2 hours", "1 hour").alias("w"),
                      "event_type")
             .agg(F.count("*").alias("n_events"),
                  F.sum("value").alias("sum_value"))
             .select(F.col("w.start").alias("window_start"), "event_type",
                     "n_events", "sum_value"))
    g = {(r["window_start"], r["event_type"]): (r["n_events"],
                                                round(r["sum_value"], 6))
         for r in got.collect()}
    b = {(r["window_start"], r["event_type"]): (r["n_events"],
                                                round(r["sum_value"], 6))
         for r in batch.collect()}
    assert g == b


def test_stream_stream_join_matches_batch(spark, stream_dir):
    from moonshot_spark.streaming.pipeline import stream_click_purchase_join

    clicks = read_event_stream(spark, stream_dir).where(
        F.col("event_type") == "click")
    purchases = read_event_stream(spark, stream_dir).where(
        F.col("event_type") == "purchase")
    joined = stream_click_purchase_join(clicks, purchases,
                                        horizon_seconds=3600)
    q = (joined.writeStream.format("memory").queryName("ss_join")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    got = {(r["click_id"], r["purchase_id"])
           for r in spark.table("ss_join").collect()}

    ev = load_table(spark, SF_DIR, "events")
    c = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"), F.col("ts").alias("cts"),
        F.col("event_id").alias("click_id"))
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"), F.col("ts").alias("pts"),
        F.col("event_id").alias("purchase_id"))
    expect = {(r["click_id"], r["purchase_id"]) for r in
              c.join(p, (F.col("cu") == F.col("pu"))
                     & (F.col("pts") >= F.col("cts"))
                     & (F.col("pts") <= F.col("cts")
                        + F.expr("INTERVAL 3600 SECONDS"))).collect()}
    assert got == expect and len(got) > 0


def test_stream_anomaly_detector_matches_batch_replay(spark, stream_dir):
    """applyInPandasWithState anomaly detector: the streaming output must
    equal a pure-pandas replay of the same two micro-batches."""
    import pandas as pd
    import pytest as _pt

    from moonshot_spark.streaming.pipeline import read_event_stream
    from moonshot_spark.streaming.stateful import detect_anomalies

    stream = read_event_stream(spark, stream_dir, max_files_per_trigger=1)
    res = detect_anomalies(stream, z_threshold=1.5, min_history=10)
    q = (res.writeStream.format("memory").queryName("anom")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    got = {(r["user_id"], pd.Timestamp(r["ts"])): r["zscore"]
           for r in spark.table("anom").collect()}

    ev = (load_table(spark, SF_DIR, "events")
          .select("event_id", "user_id", "ts", "value").toPandas())
    batches = [ev[ev.event_id % 2 == 0], ev[ev.event_id % 2 == 1]]
    state, expect = {}, {}
    for b in batches:
        for uid, grp in b.sort_values("ts").groupby("user_id"):
            n, s1, s2 = state.get(uid, (0, 0.0, 0.0))
            vals = grp["value"].to_numpy(dtype="float64")
            if n >= 10:
                mean = s1 / n
                var = max((s2 - s1 * s1 / n) / (n - 1), 0.0)
                std = var ** 0.5
                if std > 0:
                    z = (vals - mean) / std
                    for t, zz in zip(grp["ts"], z):
                        if abs(zz) > 1.5:
                            expect[(uid, pd.Timestamp(t))] = zz
            state[uid] = (n + len(vals), s1 + float(vals.sum()),
                          s2 + float((vals * vals).sum()))
    assert len(expect) > 0
    assert got.keys() == expect.keys()
    for k in expect:
        assert got[k] == _pt.approx(expect[k])


def test_stream_dollar_bars_matches_batch(spark, tmp_path):
    """Streaming dollar bars agree with the batch bar assignment and
    carry cumulative-value state across micro-batches (a bar can stay
    open over a batch boundary)."""
    import datetime as dt

    from moonshot_spark.streaming.stateful import stream_dollar_bars

    ticks_dir = str(tmp_path / "ticks_stream")
    os.makedirs(ticks_dir)
    t0 = dt.datetime(2024, 1, 1, 9, 30)
    rows1 = [("A", t0 + dt.timedelta(seconds=i), v)
             for i, v in enumerate([2000.0, 2000.0, 1500.0])]  # bar 0 fills
    batch1 = spark.createDataFrame(
        rows1, "sid string, ts timestamp, value double")
    batch1.coalesce(1).write.mode("overwrite").parquet(ticks_dir)

    out_dir = str(tmp_path / "bars_out")

    def run_once():
        stream = spark.readStream.schema(batch1.schema).parquet(ticks_dir)

        def write_batch(bdf, batch_id):
            bdf.write.mode("append").parquet(out_dir)

        q = (stream_dollar_bars(stream, bar_value=5000.0).writeStream
             .foreachBatch(write_batch).outputMode("update")
             .option("checkpointLocation", str(tmp_path / "ckpt"))
             .trigger(availableNow=True).start())
        q.awaitTermination()

    run_once()
    got = spark.read.parquet(out_dir).collect()
    # 2000+2000+1500 = 5500: first two ticks + the third open bar 0 then
    # roll past 5000 — third tick's cum_before=4000 < 5000 so still bar 0
    assert {(r["sid"], r["bar_id"]) for r in got} == {("A", 0)}
    assert sum(r["n_ticks"] for r in got) == 3

    # batch 2: cum_before=5500 → bar 1 starts; state crossed the batches
    rows2 = [("A", t0 + dt.timedelta(seconds=10), 100.0)]
    spark.createDataFrame(
        rows2, "sid string, ts timestamp, value double") \
        .coalesce(1).write.mode("append").parquet(ticks_dir)
    run_once()
    got2 = spark.read.parquet(out_dir).collect()
    assert ("A", 1) in {(r["sid"], r["bar_id"]) for r in got2}


def test_watermark_drops_late_events(spark, tmp_path):
    """Watermark contract: an event arriving AFTER its window's watermark
    has passed must be dropped from the append-mode aggregation, while an
    on-time event in the same micro-batch still lands.  Two files →
    two micro-batches (maxFilesPerTrigger=1); batch 1 advances the
    watermark past the first hour's window, batch 2 delivers one late
    and one on-time event."""
    from moonshot_spark.streaming.pipeline import (
        EVENT_SCHEMA, read_event_stream)

    src = str(tmp_path / "late_events")
    os.makedirs(src)
    schema = ("event_id long, ts string, user_id long, event_type string, "
              "value double, props string")

    import glob
    import time as _time

    def write_batch(rows, mtime):
        before = set(glob.glob(os.path.join(src, "*.parquet")))
        (spark.createDataFrame(rows, schema)
         .withColumn("ts", F.col("ts").cast("timestamp"))
         .coalesce(1).write.mode("append").parquet(src))
        # FileStreamSource orders micro-batches by file mtime; same-second
        # writes would tie and process in arbitrary order
        for f in set(glob.glob(os.path.join(src, "*.parquet"))) - before:
            os.utime(f, (mtime, mtime))

    # batch 1: events at 10:00-10:30 and 12:00 → after this batch the
    # watermark is 12:00 - 10min = 11:50
    write_batch([(1, "2024-01-01 10:00:00", 1, "click", 1.0, "{}"),
                 (2, "2024-01-01 10:30:00", 1, "click", 1.0, "{}"),
                 (3, "2024-01-01 12:00:00", 1, "click", 1.0, "{}")], 1000)
    # batch 2: on-time filler; during it the [10:00, 11:00) window is
    # evicted from the state store and emitted (watermark 11:50 > end)
    write_batch([(4, "2024-01-01 12:05:00", 1, "click", 1.0, "{}")], 2000)
    # batch 3: LATE event into the long-closed 10:00 window + on-time.
    # The drop is only GUARANTEED once the window state was evicted in
    # an earlier batch — a late row sharing a batch with the eviction
    # may still merge (watermark is a one-directional guarantee).
    write_batch([(5, "2024-01-01 10:05:00", 1, "click", 1.0, "{}"),
                 (6, "2024-01-01 12:10:00", 1, "click", 1.0, "{}")], 3000)

    counts = (read_event_stream(spark, src, max_files_per_trigger=1)
              .withWatermark("ts", "10 minutes")
              .groupBy(F.window("ts", "1 hour").alias("w"))
              .agg(F.count("*").alias("n")))
    q = (counts.writeStream.format("memory").queryName("late_counts")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    got = {r["w"]["start"].hour: r["n"]
           for r in spark.table("late_counts").collect()}
    # the 10:00 window emitted on close with batch-1 events only: the
    # late event_id=4 was dropped (a batch GROUP BY would count 3 here)
    assert got.get(10) == 2, got
    # the 12:00 window never closes (no later event advances the
    # watermark past 13:00), so append mode hasn't emitted it — that is
    # the contract too: append emits only finalized windows
    assert 12 not in got, got


def test_value_millis_matches_spark_decimal_cast(spark):
    """value_millis (the stream_dollar_bars rounding path) must agree
    with Spark's CAST(value AS DECIMAL(18,3)) — the batch query's bar
    unit — on adversarial half-boundary values where np.rint's binary
    half-to-even disagrees (ADVICE r5)."""
    import numpy as np

    from moonshot_spark.streaming.stateful import value_millis

    vals = [2.0005, 0.0005, 0.0015, 0.0025, 1.0005, 1.0015,
            -2.0005, -0.0015, 1234.5675, 1234.5685, 0.1, 0.3,
            5.9995, 99.9995, 0.0004999999, 3.00049999]
    df = spark.createDataFrame([(v,) for v in vals], "value double")
    from pyspark.sql import functions as F
    spark_millis = [
        int(r["m"]) for r in df.select(
            (F.col("value").cast("decimal(18,3)") * 1000)
            .cast("long").alias("m")).collect()]
    assert value_millis(vals) == spark_millis
    # and np.rint genuinely disagrees somewhere in this set (the test
    # would be vacuous otherwise)
    rint = [int(x) for x in np.rint(np.array(vals) * 1000)]
    assert rint != spark_millis


def test_stream_scores_against_trained_kmeans_centroids(spark, tmp_path):
    """Model-on-stream: centroids trained in batch (kmeans_fit_predict)
    score a vector STREAM via the same literal-centroid argmin
    expression — pure column arithmetic, so it rides any streaming plan
    with no state and batch/stream assignments agree exactly."""
    import random

    from moonshot_spark.datapipe.clustering import (
        _assign_expr, kmeans_fit_predict, quantize_micro)

    rng = random.Random(3)
    rows = [(i, [rng.uniform(-0.4, 0.4) for _ in range(8)])
            for i in range(40)]
    batch = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    assigned, cents = kmeans_fit_predict(batch, k=3, n_iter=2,
                                         return_centroids=True)
    expect = {r["vec_id"]: r["cluster"] for r in assigned.collect()}

    src = str(tmp_path / "vecstream")
    os.makedirs(src)
    batch.coalesce(1).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(batch.schema).parquet(src)
    scored = stream.select(
        "vec_id",
        _assign_expr(quantize_micro("embedding"), cents).alias("cluster"))
    out = str(tmp_path / "scored")
    q = (scored.writeStream.format("parquet")
         .option("path", out)
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    got = {r["vec_id"]: r["cluster"]
           for r in spark.read.parquet(out).collect()}
    assert got == expect


def test_stream_incremental_exact_dedup(spark, tmp_path):
    """Micro-batched corpus ingestion deduped against the versioned
    fingerprint index: (keep, dup) pairs over the run equal the batch
    full-recompute mapping, and the final index equals a from-scratch
    rebuild."""
    from pyspark.sql.types import (LongType, StringType, StructField,
                                   StructType)

    from moonshot_spark.datapipe.dedup import exact_duplicate_mapping
    from moonshot_spark.datapipe.incremental_dedup import (
        exact_fingerprint_index)
    from moonshot_spark.streaming.pipeline import (
        stream_incremental_exact_dedup)

    schema = StructType([StructField("doc_id", LongType()),
                         StructField("text", StringType())])
    src = str(tmp_path / "docs")
    os.makedirs(src)
    b1 = [(i, f"text {i % 4}") for i in range(10)]
    b2 = [(i, f"text {i % 4}") for i in range(10, 18)]
    spark.createDataFrame(b1, schema).coalesce(1).write.mode(
        "append").parquet(src)
    spark.createDataFrame(b2, schema).coalesce(1).write.mode(
        "append").parquet(src)

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    index_root = str(tmp_path / "index")
    dups_path = str(tmp_path / "dups")
    q = stream_incremental_exact_dedup(
        stream, index_root, dups_path,
        str(tmp_path / "ckpt")).trigger(availableNow=True).start()
    q.awaitTermination()

    full = spark.createDataFrame(b1 + b2, schema)
    want_pairs = sorted((r["keep_id"], r["dup_id"]) for r in
                        exact_duplicate_mapping(full).collect())
    got_pairs = sorted((r["keep_id"], r["dup_id"]) for r in
                       spark.read.parquet(dups_path).collect())
    assert got_pairs == want_pairs and len(got_pairs) == 14

    import re
    versions = sorted(int(re.fullmatch(r"v=(\d+)", n).group(1))
                      for n in os.listdir(index_root)
                      if re.fullmatch(r"v=(\d+)", n))
    final_idx = sorted(map(tuple, spark.read.parquet(
        f"{index_root}/v={versions[-1]}").collect()))
    rebuilt = sorted(map(tuple, exact_fingerprint_index(full).collect()))
    assert final_idx == rebuilt


def test_versioned_index_stream_replays_a_batch_idempotently(
        spark, tmp_path, monkeypatch):
    """Crash replay: a batch that wrote its rows and its index version
    but crashed before the checkpoint commit runs again with the same
    batch id.  The rerun reads the same pre-batch index version (not
    its own half-committed ``v=N``) and rewrites the same rows and
    index."""
    from pyspark.sql.streaming.readwriter import DataStreamWriter
    from pyspark.sql.types import (LongType, StringType, StructField,
                                   StructType)

    from moonshot_spark.streaming import pipeline

    batch_fns = []
    monkeypatch.setattr(DataStreamWriter, "foreachBatch",
                        lambda self, fn: batch_fns.append(fn) or self)
    versions_read = []
    latest = pipeline._latest_index_version

    def recording_latest(spark_, root, below):
        versions_read.append(latest(spark_, root, below))
        return versions_read[-1]

    monkeypatch.setattr(pipeline, "_latest_index_version", recording_latest)

    schema = StructType([StructField("doc_id", LongType()),
                         StructField("text", StringType())])
    src = str(tmp_path / "docs")
    os.makedirs(src)
    index_root = str(tmp_path / "index")
    dups_path = str(tmp_path / "dups")
    pipeline.stream_incremental_exact_dedup(
        spark.readStream.schema(schema).parquet(src), index_root,
        dups_path, str(tmp_path / "ckpt"))
    (process_batch,) = batch_fns

    b0 = spark.createDataFrame([(i, f"text {i % 4}") for i in range(10)],
                               schema)
    b1 = spark.createDataFrame(
        [(i, f"text {i % 4}") for i in range(10, 18)], schema)

    def written():
        return (sorted(map(tuple, spark.read.parquet(
                    f"{dups_path}/batch_id=1").collect())),
                sorted(map(tuple, spark.read.parquet(
                    f"{index_root}/v=1").collect())))

    process_batch(b0, 0)
    process_batch(b1, 1)
    first = written()
    process_batch(b1, 1)
    assert versions_read == [None, 0, 0]
    assert written() == first
    assert len(first[0]) == 8


def test_stream_incremental_minhash_pairs(spark, tmp_path):
    """Union of per-batch LSH pair outputs equals the batch
    full-recompute lsh_candidate_pairs over everything ingested."""
    from pyspark.sql.types import (LongType, StringType, StructField,
                                   StructType)

    from moonshot_spark.datapipe.dedup import lsh_candidate_pairs
    from moonshot_spark.streaming.pipeline import (
        stream_incremental_minhash_pairs)

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, base + (" extra" if i % 4 == 0 else "")
             + (f" tail{i % 3}" if i % 2 else "")) for i in range(12)]
    schema = StructType([StructField("doc_id", LongType()),
                         StructField("text", StringType())])
    src = str(tmp_path / "docs")
    os.makedirs(src)
    spark.createDataFrame(rows[:7], schema).coalesce(1).write.mode(
        "append").parquet(src)
    spark.createDataFrame(rows[7:], schema).coalesce(1).write.mode(
        "append").parquet(src)

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    pairs_path = str(tmp_path / "pairs")
    q = stream_incremental_minhash_pairs(
        stream, str(tmp_path / "sigs"), pairs_path,
        str(tmp_path / "ckpt")).trigger(availableNow=True).start()
    q.awaitTermination()

    got = sorted(map(tuple, spark.read.parquet(pairs_path)
                     .select("doc_a", "doc_b", "est_jaccard").collect()))
    want = sorted(map(tuple, lsh_candidate_pairs(
        spark.createDataFrame(rows, schema),
        num_hashes=16, bands=4, shingle_n=3).collect()))
    assert got == want and len(got) > 0


def test_stream_incremental_exactsubstr(spark, tmp_path):
    """Micro-batched ExactSubstr scrub planning against the versioned
    window-hash index: each batch's emitted spans equal the
    full-recompute duplicate_spans over everything ingested so far,
    restricted to that batch; the final index equals a from-scratch
    rebuild."""
    from pyspark.sql.types import (LongType, StringType, StructField,
                                   StructType)

    from moonshot_spark.datapipe.spans import (duplicate_spans,
                                               window_hash_index)
    from moonshot_spark.streaming.pipeline import (
        stream_incremental_exactsubstr)

    shared = ("alpha bravo charlie delta echo foxtrot golf hotel india "
              "juliet")
    b1 = [(1, f"{shared} one extra tail with unique words here now"),
          (2, "completely unrelated content with no overlap at all in "
              "any eight token window of this document text")]
    b2 = [(10, f"{shared} reprise plus some closing words of its own"),
          (11, "novel second batch document with fresh vocabulary only "
               "occurring once across the whole tiny corpus")]
    schema = StructType([StructField("doc_id", LongType()),
                         StructField("text", StringType())])
    src = str(tmp_path / "docs")
    os.makedirs(src)
    spark.createDataFrame(b1, schema).coalesce(1).write.mode(
        "append").parquet(src)
    spark.createDataFrame(b2, schema).coalesce(1).write.mode(
        "append").parquet(src)

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    index_root = str(tmp_path / "widx")
    spans_path = str(tmp_path / "spans")
    q = stream_incremental_exactsubstr(
        stream, index_root, spans_path,
        str(tmp_path / "ckpt")).trigger(availableNow=True).start()
    q.awaitTermination()

    full = spark.createDataFrame(b1 + b2, schema)
    # batch-2 docs' spans vs the full corpus; batch-1 docs had no dups
    # at their own ingest time (the shared phrase was unique then)
    want = sorted(map(tuple, duplicate_spans(full, k=8)
                      .where(F.col("doc_id") >= 10).collect()))
    got = sorted(map(tuple, spark.read.parquet(spans_path)
                     .drop("batch_id").collect()))
    assert got == want and len(got) > 0

    import re
    versions = sorted(int(re.fullmatch(r"v=(\d+)", n).group(1))
                      for n in os.listdir(index_root)
                      if re.fullmatch(r"v=(\d+)", n))
    final_idx = sorted(map(tuple, spark.read.parquet(
        f"{index_root}/v={versions[-1]}").collect()))
    rebuilt = sorted(map(tuple, window_hash_index(full, k=8).collect()))
    assert final_idx == rebuilt


def test_stream_trade_orders_matches_batch_at_each_cutoff(spark, tmp_path):
    """E2E stream-vs-batch trading contract (VERDICT r8 #7): a replayed
    tick stream, micro-batched one file per trigger, must emit at every
    cutoff EXACTLY the orders the batch ``trade()`` produces over the
    panel of all ticks ingested up to that cutoff.  complete-mode
    aggregation hands each foreachBatch the full cumulative panel, so
    batch N's orders == trade(panel(events[:cutoff_N])) row for row."""
    import time as _time

    from moonshot_spark.strategies.base import Moonshot

    class BuyBelowRollingMean(Moonshot):
        CODE = "stream-cutoff"

        def prices_to_signals(self, prices):
            from pyspark.sql import Window as W

            from moonshot_spark.functions.window import rolling_mean
            w = W.partitionBy("sid").orderBy("date")
            mavg = rolling_mean("close", 3, w, min_periods=1)
            return prices.withColumn(
                "signal", (F.col("close") < mavg).cast("int"))

    def balances_fn(spark_):
        return spark_.createDataFrame(
            [("U1", "USD", 250000.0)],
            "account string, currency string, net_liquidation double")

    ev = load_table(spark, SF_DIR, "events")
    cutoffs = [F.dayofmonth("ts") <= 15, F.lit(True)]
    src = str(tmp_path / "ticks")
    ev.where(cutoffs[0]).coalesce(1).write.mode("append").parquet(src)
    _time.sleep(1.2)   # distinct mtimes: deterministic batch order
    ev.where(~cutoffs[0]).coalesce(1).write.mode("append").parquet(src)

    out = str(tmp_path / "orders")
    panel = stream_events_to_panel(
        read_event_stream(spark, src, max_files_per_trigger=1))
    q = stream_trade_orders(panel, BuyBelowRollingMean, {"U1": 1.0},
                            balances_fn, str(tmp_path / "ckpt"),
                            out).trigger(availableNow=True).start()
    q.awaitTermination()

    def batch_panel(cond):
        return (ev.where(cond)
                .groupBy(F.col("user_id").cast("string").alias("sid"),
                         F.to_date("ts").alias("date"))
                .agg(F.min_by("value", "ts").alias("open"),
                     F.max_by("value", "ts").alias("close"),
                     F.max("value").alias("high"),
                     F.min("value").alias("low"),
                     F.count("*").cast("double").alias("volume")))

    def order_set(df):
        cols = sorted(df.columns)
        return sorted(tuple(r[c] for c in cols) for r in df.collect())

    for batch_id, cond in enumerate(cutoffs):
        want = BuyBelowRollingMean().trade(
            batch_panel(cond), {"U1": 1.0}, balances_fn(spark))
        got = spark.read.parquet(f"{out}/batch_id={batch_id}")
        assert order_set(got) == order_set(want), f"batch {batch_id}"
        assert len(order_set(got)) > 0, f"batch {batch_id} emitted nothing"


def test_stream_ivf_ingest_probe_equals_batch(spark, tmp_path):
    """Streaming IVF ingest (stream_ivf_ingest): after two micro-batches
    land, probing the stream-built root is bit-identical to probing a
    batch write_ivf_index over the same vectors — assignment is a pure
    function of (vector, centroids) — and the probe still prunes on the
    __cell partition column across the ingest generations."""
    from pyspark.sql.types import (ArrayType, FloatType, LongType,
                                   StructField, StructType)

    from moonshot_spark.datapipe.ann_index import (probe_ivf_index,
                                                   write_ivf_index)
    from moonshot_spark.datapipe.similarity import train_ivf_centroids
    from moonshot_spark.sources.parquet import load_table
    from moonshot_spark.streaming.pipeline import stream_ivf_ingest

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    cents = train_ivf_centroids(emb, n_cells=8)
    b1 = emb.where(F.col("vec_id") % 2 == 0).select("vec_id", "embedding")
    b2 = emb.where(F.col("vec_id") % 2 == 1).select("vec_id", "embedding")

    src = str(tmp_path / "vecs")
    os.makedirs(src)
    b1.coalesce(1).write.mode("append").parquet(src)
    b2.coalesce(1).write.mode("append").parquet(src)

    schema = StructType([StructField("vec_id", LongType()),
                         StructField("embedding", ArrayType(FloatType()))])
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    stream_root = str(tmp_path / "ivf_stream")
    q = stream_ivf_ingest(stream, stream_root, str(tmp_path / "ckpt"),
                          cents).trigger(availableNow=True).start()
    q.awaitTermination()

    batch_root = str(tmp_path / "ivf_batch")
    write_ivf_index(b1.unionByName(b2), cents, batch_root)

    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding")
    got = probe_ivf_index(spark, stream_root, queries, cents, nprobe=3, k=4)
    want = probe_ivf_index(spark, batch_root, queries, cents, nprobe=3, k=4)
    got_rows = sorted(map(tuple, got.collect()))
    assert got_rows == sorted(map(tuple, want.collect()))
    assert got_rows
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert any("PartitionFilters" in line and "__cell" in line
               for line in plan.split("\n")), plan[:3000]


def test_streaming_dollar_bars_leaves_no_temp_dir(spark, tmp_path,
                                                  monkeypatch):
    """The query removes every temp dir it makes (staged source,
    checkpoint, emitted updates), so repeated runs leave nothing in the
    temp root."""
    import tempfile

    from moonshot_spark import materialize
    from moonshot_spark.queries import QUERIES

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    with materialize.scope():
        assert QUERIES["streaming_dollar_bars"](spark, SF_DIR).count() > 0
    assert os.listdir(tmp_path) == []
