"""Structured Streaming extension (SURVEY.md §7.1 step 10).

The reference has no streaming surface — live trading is batch-recompute +
diff (reference base.py:1760-1772, README.md:17).  This module re-expresses
that loop on Structured Streaming:

- ``stream_events_to_panel``: tick stream → watermarked tumbling-window
  OHLCV rollup (late ticks within the watermark still update their day).
- ``stream_sessionize``: native ``session_window`` gap sessionization —
  the stateful-operator analog of the batch ``sessionize_events`` query.
- ``stream_trade_orders``: micro-batch trading via ``foreachBatch``: each
  batch re-runs the batch trade pipeline on the accumulated panel and
  emits order diffs — the streaming version of the reference's
  recompute-and-diff loop, with exactly-once sink semantics from the
  streaming checkpoint.

All aggregations here are incremental (partial aggregation state in the
state store): at production scale the rollup state is (sid × open windows),
not the raw tick history.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType, LongType, StringType, StructField, StructType, TimestampType,
)

from moonshot_spark.sources.local import local_df
from moonshot_spark.sources.parquet import ohlcv_aggs

EVENT_SCHEMA = StructType([
    StructField("event_id", LongType()),
    StructField("ts", TimestampType()),
    StructField("user_id", LongType()),
    StructField("event_type", StringType()),
    StructField("value", DoubleType()),
    StructField("props", StringType()),
])


def _latest_index_version(spark: SparkSession, root: str,
                          below: int) -> int | None:
    """Newest version directory ``root/v=N`` with N < ``below``, or None.

    Listing goes through the Hadoop FileSystem API (resolved from the
    root URI itself), so versioned indexes work on ANY Hadoop-supported
    store — hdfs://, s3a://, file:/, plain local paths.  A driver-side
    ``os.listdir`` here would silently see nothing on a remote URI and
    every batch would dedup against an EMPTY index, dropping all
    cross-batch duplicate pairs without an error (ADVICE r8)."""
    import re

    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(root)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(path):
        return None
    versions = [
        int(m.group(1)) for status in fs.listStatus(path)
        if (m := re.fullmatch(r"v=(\d+)", status.getPath().getName()))
        and int(m.group(1)) < below
    ]
    return max(versions) if versions else None


def parse_event_payload(raw: DataFrame, value_col: str = "value") -> DataFrame:
    """Decode a Kafka-style binary JSON payload column into EVENT_SCHEMA
    rows.

    Shared by ``read_kafka_stream`` and batch backfills of the same topic
    dump — which is also what makes the parse logic testable without a
    broker (feed it a batch DataFrame of (key, value) pairs).  Malformed
    payloads yield NULL fields rather than failing the stream
    (from_json's PERMISSIVE default) — dead-letter them downstream with
    ``where(col("event_id").isNull())``.
    """
    parsed = F.from_json(F.col(value_col).cast("string"), EVENT_SCHEMA)
    return raw.select(parsed.alias("__e")).select("__e.*")


def read_kafka_stream(spark: SparkSession, brokers: str, topic: str,
                      starting_offsets: str = "latest") -> DataFrame:
    """Kafka event source: same downstream plan as ``read_event_stream``.

    Requires the spark-sql-kafka connector on the classpath (not bundled
    with pyspark; ship it via ``spark.jars.packages`` on a real cluster).
    The parse stage is ``parse_event_payload`` — identical for streaming
    and batch, so correctness is pinned by the batch tests.
    """
    raw = (spark.readStream.format("kafka")
           .option("kafka.bootstrap.servers", brokers)
           .option("subscribe", topic)
           .option("startingOffsets", starting_offsets)
           .load())
    return parse_event_payload(raw)


def read_event_stream(spark: SparkSession, path: str,
                      max_files_per_trigger: int | None = None) -> DataFrame:
    """File-based event stream (each new parquet file in ``path`` is a
    micro-batch).  In production this is a Kafka source with the same
    downstream plan."""
    reader = spark.readStream.schema(EVENT_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def stream_events_to_panel(events: DataFrame, watermark: str = "1 hour",
                           bar: str = "1 day") -> DataFrame:
    """Tick stream → per-(sid, bar) OHLCV with late-data handling.

    min_by/max_by give exact open/close (first/last tick by event time) —
    the same A2 semantics as the batch ``events_to_panel`` — and aggregate
    incrementally in the state store.
    """
    return (events
            .withWatermark("ts", watermark)
            .groupBy(F.col("user_id").cast("string").alias("sid"),
                     F.window("ts", bar).alias("bar"))
            .agg(*ohlcv_aggs("ts"))
            .select("sid", F.to_date(F.col("bar.start")).alias("date"),
                    "open", "close", "high", "low", "volume"))


def stream_sessionize(events: DataFrame, gap: str = "30 minutes",
                      watermark: str = "1 hour") -> DataFrame:
    """Session windows per user with inactivity gap — the streaming-native
    form of the batch lag+cumsum sessionization (queries.sessionize_events)."""
    return (events
            .withWatermark("ts", watermark)
            .groupBy("user_id", F.session_window("ts", gap).alias("session"))
            .agg(F.count("*").alias("n_events"),
                 F.min("ts").alias("session_start"),
                 F.max("ts").alias("session_end")))


def stream_dedup_events(events: DataFrame, keys: list[str] | None = None,
                        watermark: str = "1 hour") -> DataFrame:
    """Streaming exact deduplication: drop repeated events by key within
    the watermark horizon (state-store-backed ``dropDuplicates`` — the
    streaming counterpart of datapipe's batch exact dedup)."""
    keys = keys or ["event_id"]
    return events.withWatermark("ts", watermark).dropDuplicates(keys)


def stream_sliding_counts(events: DataFrame, window: str = "1 hour",
                          slide: str = "15 minutes",
                          watermark: str = "1 hour") -> DataFrame:
    """Sliding-window event counts per type — the always-on dashboard
    aggregation.  Each event lands in window/slide overlapping windows;
    the state store holds only windows newer than the watermark, so state
    is bounded by (horizon / slide) x |event types| regardless of stream
    volume."""
    return (events
            .withWatermark("ts", watermark)
            .groupBy(F.window("ts", window, slide).alias("w"), "event_type")
            .agg(F.count("*").alias("n_events"),
                 F.sum("value").alias("sum_value"))
            .select(F.col("w.start").alias("window_start"),
                    F.col("w.end").alias("window_end"),
                    "event_type", "n_events", "sum_value"))


def stream_click_purchase_join(clicks: DataFrame, purchases: DataFrame,
                               horizon_seconds: int = 3600,
                               watermark: str = "1 hour") -> DataFrame:
    """Stream-stream interval join: every (click, purchase) pair of the
    same user with the purchase inside [click.ts, click.ts + horizon] —
    streaming attribution.  Both sides carry watermarks and the join
    condition bounds event-time distance, so Spark can expire join state
    (an unbounded stream-stream join would buffer forever)."""
    c = (clicks.withWatermark("ts", watermark)
         .select(F.col("user_id").alias("c_user"),
                 F.col("ts").alias("click_ts"),
                 F.col("event_id").alias("click_id")))
    p = (purchases.withWatermark("ts", watermark)
         .select(F.col("user_id").alias("p_user"),
                 F.col("ts").alias("purchase_ts"),
                 F.col("event_id").alias("purchase_id"),
                 F.col("value").alias("purchase_value")))
    cond = ((F.col("c_user") == F.col("p_user"))
            & (F.col("purchase_ts") >= F.col("click_ts"))
            & (F.col("purchase_ts")
               <= F.col("click_ts")
               + F.expr(f"INTERVAL {horizon_seconds} SECONDS")))
    return (c.join(p, cond)
            .select(F.col("c_user").alias("user_id"), "click_id",
                    "purchase_id", "click_ts", "purchase_ts",
                    "purchase_value"))


def stream_trade_orders(panel_stream: DataFrame, strategy_factory,
                        allocations: dict[str, float], balances_fn,
                        checkpoint_dir: str, output_path: str):
    """Micro-batch trading loop: on each trigger, run the batch trade
    pipeline over the FULL current panel and write that trigger's orders.

    ``outputMode("complete")`` delivers the entire aggregated panel to each
    foreachBatch call — required because trade() computes history windows
    and cross-sectional weights, which would be wrong on an update-mode
    changed-rows slice.  Each batch writes to its own subdirectory with
    overwrite, so a crash between sink write and checkpoint commit replays
    the batch idempotently (same batch_id → same path → overwritten), which
    is what makes the loop effectively exactly-once.

    ``strategy_factory()`` → a Moonshot instance; ``balances_fn(spark)`` →
    the current balances DataFrame (re-read per batch so balance moves are
    respected).
    """
    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        strategy = strategy_factory()
        orders = strategy.trade(batch_df, allocations, balances_fn(spark))
        if orders is not None:
            # hive-style subdir: the partition path carries batch_id, and
            # overwrite makes a replayed batch idempotent
            orders.write.mode("overwrite").parquet(
                f"{output_path}/batch_id={batch_id}")

    return (panel_stream.writeStream
            .foreachBatch(process_batch)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("complete"))


def stream_enrich(events: DataFrame, dim: DataFrame,
                  on: str = "user_id") -> DataFrame:
    """Stream-static enrichment: join a streaming fact to a batch
    dimension.  Spark plans the static side as a broadcast rebuilt per
    micro-batch, so dim updates between batches are picked up without
    restarting the query — the standard pattern for joining a stream to
    a slowly-changing reference table (securities master, user attrs).
    No watermark needed: stream-static inner/left joins are stateless."""
    return events.join(F.broadcast(dim), on, "left")


def _versioned_index_stream(doc_stream: DataFrame, index_root: str,
                            out_path: str, checkpoint_dir: str,
                            index_ddl: str, step, text_col: str,
                            id_col: str):
    """foreachBatch writer of the versioned-index streams below.

    Each micro-batch of NEW documents (``id_col``, ``text_col``) meets
    the persisted index through ``step(docs, index) -> (rows,
    new_index)``.  The batch's ``rows`` land in ``out_path/batch_id=N``
    and ``new_index`` in ``index_root/v=N``, both with overwrite; the
    index a batch reads is the newest ``v=M`` with M STRICTLY BELOW its
    own batch id (an empty ``index_ddl`` frame before the first).  So a
    crash between the index write and the checkpoint commit replays the
    batch against the same pre-batch index it saw the first time, never
    against its own half-committed update, and rewrites the same two
    directories: exactly-once output, the same recipe as
    ``stream_trade_orders``.  Old versions can be vacuumed by retention;
    at production scale the index would live in a transactional table
    format, but the read-below-own-version protocol is the same."""
    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        docs = batch_df.select(F.col(id_col), F.col(text_col))
        version = _latest_index_version(spark, index_root, batch_id)
        index = (spark.read.parquet(f"{index_root}/v={version}")
                 if version is not None
                 else local_df(spark, [], index_ddl))
        rows, new_index = step(docs, index)
        rows.write.mode("overwrite").parquet(f"{out_path}/batch_id={batch_id}")
        new_index.write.mode("overwrite").parquet(
            f"{index_root}/v={batch_id}")

    return (doc_stream.writeStream
            .foreachBatch(process_batch)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("append"))


def stream_incremental_exact_dedup(doc_stream: DataFrame, index_root: str,
                                   dups_path: str, checkpoint_dir: str,
                                   text_col: str = "text",
                                   id_col: str = "doc_id"):
    """Streaming corpus-index dedup: each micro-batch of NEW documents is
    deduped against the persisted fingerprint index
    (datapipe/incremental_dedup.py), its duplicate rows land in
    ``dups_path/batch_id=N`` and the index advances to ``index_root/v=N``
    under the versioned-index protocol of ``_versioned_index_stream`` —
    the streaming face of the batch-incremental operators.  The index is
    tiny (one row per distinct fingerprint).

    Emitted rows carry the duplicate stats AS OF the batch (n_docs =
    union count at arrival time); (keep_id, dup_id) pairs over the whole
    run equal the full-recompute mapping when ids arrive in increasing
    order, and the FINAL index always equals a from-scratch rebuild
    (the merge is the partial-aggregate algebra, order-free)."""
    from moonshot_spark.datapipe.incremental_dedup import (
        incremental_exact_dups, merge_exact_index)

    def step(docs: DataFrame, index: DataFrame):
        return (incremental_exact_dups(docs, index, text_col, id_col),
                merge_exact_index(index, docs, text_col, id_col))

    return _versioned_index_stream(
        doc_stream, index_root, dups_path, checkpoint_dir,
        "fingerprint string, n_docs bigint, keep_id bigint", step,
        text_col, id_col)


def stream_incremental_minhash_pairs(doc_stream: DataFrame,
                                     sig_index_root: str, pairs_path: str,
                                     checkpoint_dir: str,
                                     text_col: str = "text",
                                     id_col: str = "doc_id",
                                     num_hashes: int = 16, bands: int = 4,
                                     shingle_n: int = 3):
    """Streaming near-dup detection: each micro-batch's MinHash
    signatures probe the persisted signature index, candidate pairs
    involving the batch land in ``pairs_path/batch_id=N``, and the index
    gains the batch's signatures — the MinHash sibling of
    ``stream_incremental_exact_dedup`` under the same
    ``_versioned_index_stream`` protocol.  Signatures are pure md5
    functions of the text, so the union of all emitted batches equals
    the full-recompute ``lsh_candidate_pairs`` over everything ingested
    (each pair surfaces exactly once, in the batch its LATER member
    arrives — ids assumed unique across batches, so earlier batches'
    pairs never involve this batch's ids)."""
    from moonshot_spark.datapipe.dedup import minhash_signatures
    from moonshot_spark.datapipe.incremental_dedup import (
        incremental_minhash_pairs)

    def step(docs: DataFrame, index_sigs: DataFrame):
        pairs = incremental_minhash_pairs(
            docs, index_sigs, text_col, id_col,
            num_hashes=num_hashes, bands=bands, shingle_n=shingle_n)
        new_sigs = minhash_signatures(docs, text_col, id_col,
                                      num_hashes, shingle_n)
        return pairs, index_sigs.unionByName(new_sigs)

    return _versioned_index_stream(
        doc_stream, sig_index_root, pairs_path, checkpoint_dir,
        f"{id_col} bigint, minhash_sig array<string>", step,
        text_col, id_col)


def stream_incremental_exactsubstr(doc_stream: DataFrame, index_root: str,
                                   spans_path: str, checkpoint_dir: str,
                                   k: int = 8, text_col: str = "text",
                                   id_col: str = "doc_id"):
    """Streaming ExactSubstr scrub planning: each micro-batch's k-token
    windows probe the persisted window-hash index
    (``datapipe/spans.py::window_hash_index``), the batch's duplicated
    spans land in ``spans_path/batch_id=N``, and the index absorbs the
    batch's window counts — the span-grain sibling of
    ``stream_incremental_exact_dedup`` under the same
    ``_versioned_index_stream`` protocol.

    Window hashes are pure md5 functions of the text, so each emitted
    batch equals ``duplicate_spans(everything ingested so far)``
    restricted to that batch's doc ids (docs assumed unique across
    batches; a doc is scrubbed once, at its own ingest time)."""
    from moonshot_spark.datapipe.spans import (
        incremental_duplicate_spans, merge_window_index)

    def step(docs: DataFrame, index: DataFrame):
        return (incremental_duplicate_spans(docs, index, k=k,
                                            text_col=text_col,
                                            id_col=id_col),
                merge_window_index(index, docs, k=k, text_col=text_col,
                                   id_col=id_col))

    return _versioned_index_stream(
        doc_stream, index_root, spans_path, checkpoint_dir,
        "window_md5 string, n_occ bigint", step, text_col, id_col)


def stream_ivf_ingest(vec_stream: DataFrame, index_root: str,
                      checkpoint_dir: str, centroids: list[list[float]],
                      vec_col: str = "embedding"):
    """Streaming vector ingest into a persisted IVF layout: each
    micro-batch is assigned against the FIXED centroids (and any
    persisted sub-codebooks) and lands cell-partitioned — the streaming
    face of ``datapipe/ann_index.py::append_to_ivf_index`` (completes
    the batch/incremental/streaming matrix for the ANN store).

    Exactly-once discipline: each batch writes
    ``index_root/ingest=<batch_id>/__cell=<c>/__subcell=<s>`` with
    OVERWRITE, so a replayed batch rewrites its own directory
    idempotently instead of double-appending (same recipe as the dedup
    streams above; a bare ``mode("append")`` would duplicate vectors on
    replay).  ``ingest`` is just another partition column: probes
    filter on ``__cell``/``__subcell``, which Catalyst prunes across
    every ingest directory, so probe cost is unchanged.  Because cell
    assignment is a pure function of (vector, codebooks), probing the
    stream-built root is bit-identical to probing a batch
    ``write_ivf_index`` over the same vectors (pinned by test).
    Cell maintenance (``split_hot_cells``) applies to batch-built
    roots; for a streaming root, compact ingest generations into a
    batch root first (the stats/split listing keys on top-level cell
    directories)."""
    from moonshot_spark.datapipe.ann_index import (_CELL, _SUBCELL, _assign,
                                                   _read_meta)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        subs = _read_meta(spark, index_root)
        (_assign(batch_df, centroids, vec_col, subs or None)
         .write.mode("overwrite").partitionBy(_CELL, _SUBCELL)
         .parquet(f"{index_root}/ingest={batch_id}"))

    return (vec_stream.writeStream
            .foreachBatch(process_batch)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("append"))
