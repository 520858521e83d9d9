"""Incremental panel maintenance: split the tick stream arbitrarily, merge
the partial rollups, and the result must equal the full recomputation."""

import pytest
from pyspark.sql import functions as F

from moonshot_spark.sources.incremental import aggregate_ticks, merge_panels
from moonshot_spark.sources.parquet import events_to_panel, load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events(spark):
    return load_table(spark, SF, "events").cache()


def panel_dict(df):
    return {(r["sid"], r["date"]):
            (r["open"], r["close"], r["high"], r["low"], r["volume"])
            for r in df.collect()}


def test_partial_rollup_equals_the_batch_panel(spark, events):
    """The mergeable partial and the batch panel share one rollup: their
    sid, date and OHLCV columns agree row for row."""
    assert panel_dict(aggregate_ticks(events)) == \
        panel_dict(events_to_panel(spark, SF))


def test_merge_equals_full_recompute(events):
    full = panel_dict(aggregate_ticks(events))
    # arbitrary split: interleaved event ids (worst case — every day's data
    # straddles both batches)
    part1 = aggregate_ticks(events.where(F.col("event_id") % 2 == 0))
    part2 = aggregate_ticks(events.where(F.col("event_id") % 2 == 1))
    merged = panel_dict(merge_panels(part1, part2))
    assert merged == full


def test_merge_disjoint_dates_passthrough(events):
    """Keys touched by only one side pass through unchanged."""
    early = aggregate_ticks(events.where(F.dayofmonth("ts") <= 10))
    late = aggregate_ticks(events.where(F.dayofmonth("ts") > 10))
    merged = panel_dict(merge_panels(early, late))
    full = panel_dict(aggregate_ticks(events))
    assert merged == full


def test_merge_is_associative(events):
    a = aggregate_ticks(events.where(F.col("event_id") % 3 == 0))
    b = aggregate_ticks(events.where(F.col("event_id") % 3 == 1))
    c = aggregate_ticks(events.where(F.col("event_id") % 3 == 2))
    left = panel_dict(merge_panels(merge_panels(a, b), c))
    right = panel_dict(merge_panels(a, merge_panels(b, c)))
    assert left == right


def test_upsert_rewrites_only_touched_partitions(spark, tmp_path):
    """Dynamic-partition upsert: late ticks for day 1 and a new day 3
    rewrite those two partitions; day 2's files are untouched on disk."""
    import datetime
    import glob
    import os

    from moonshot_spark.sources.incremental import (
        aggregate_ticks, upsert_panel_partitions, write_panel)

    def ev(rows):
        return spark.createDataFrame(
            rows, "user_id long, ts_ns long, value double") \
            .withColumn("ts", F.timestamp_micros(F.expr("ts_ns div 1000")))

    day = 86_400_000_000_000
    base = ev([(1, 1 * day + 1000, 10.0), (1, 1 * day + 2000, 11.0),
               (1, 2 * day + 1000, 20.0)])
    path = str(tmp_path / "panel")
    write_panel(aggregate_ticks(base), path)

    day2_files = {f: os.path.getmtime(f) for f in
                  glob.glob(f"{path}/date=1970-01-03/*.parquet")}
    assert day2_files

    # late tick for day 1 (earlier than the stored open) + a new day 3
    touched = upsert_panel_partitions(spark, path, ev(
        [(1, 1 * day + 500, 9.0), (1, 3 * day + 1000, 30.0)]))
    assert sorted(str(d) for d in touched) == ["1970-01-02", "1970-01-04"]

    panel = {str(r["date"]): r for r in spark.read.parquet(path).collect()}
    assert panel["1970-01-02"]["open"] == 9.0       # late tick won the open
    assert panel["1970-01-02"]["close"] == 11.0
    assert panel["1970-01-02"]["volume"] == 3.0
    assert panel["1970-01-04"]["close"] == 30.0
    assert panel["1970-01-03"]["open"] == 20.0      # untouched day intact
    # day 2's partition files were not rewritten
    assert {f: os.path.getmtime(f) for f in
            glob.glob(f"{path}/date=1970-01-03/*.parquet")} == day2_files


# --------------------------------------------------------------------- #
# incremental dedup (datapipe/incremental_dedup.py)                      #
# --------------------------------------------------------------------- #

def test_merge_exact_index_equals_full_rebuild(spark):
    """Index merge algebra: merge(index(existing), batch) must equal
    index(existing ∪ batch) exactly — including a new doc DETHRONING an
    old survivor (smaller id arrives late)."""
    from moonshot_spark.datapipe.incremental_dedup import (
        exact_fingerprint_index, merge_exact_index)

    existing = spark.createDataFrame(
        [(10, "same text"), (11, "same text"), (12, "other")],
        "doc_id long, text string")
    batch = spark.createDataFrame(
        [(5, "same text"),          # dethrones keep_id 10 -> 5
         (13, "other"), (14, "brand new")],
        "doc_id long, text string")
    merged = sorted(map(tuple, merge_exact_index(
        exact_fingerprint_index(existing), batch).collect()))
    full = sorted(map(tuple, exact_fingerprint_index(
        existing.unionByName(batch)).collect()))
    assert merged == full
    by_n = {r[1] for r in merged}
    assert by_n == {1, 2, 3}


def test_incremental_exact_dups_equals_full_recompute(spark):
    """Emitted rows = full-recompute mapping restricted to batch ids,
    with POST-merge (union) stats."""
    from moonshot_spark.datapipe.dedup import exact_duplicate_mapping
    from moonshot_spark.datapipe.incremental_dedup import (
        exact_fingerprint_index, incremental_exact_dups)

    rows = [(i, f"text {i % 7}") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    new = df.where(F.col("doc_id") % 3 == 0)
    existing = df.where(F.col("doc_id") % 3 != 0)
    inc = sorted(map(tuple, incremental_exact_dups(
        new, exact_fingerprint_index(existing)).collect()))
    full = sorted(map(tuple, exact_duplicate_mapping(df)
                      .where(F.col("dup_id") % 3 == 0).collect()))
    assert inc == full and len(inc) > 0


def test_incremental_minhash_equals_full_recompute(spark):
    """Incremental LSH pairs = full-recompute pairs touching the batch
    (md5 determinism makes this exact, est_jaccard included)."""
    from moonshot_spark.datapipe.dedup import (lsh_candidate_pairs,
                                               minhash_signatures)
    from moonshot_spark.datapipe.incremental_dedup import (
        incremental_minhash_pairs)

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, base + (" extra" if i % 4 == 0 else "")
             + (f" tail{i % 3}" if i % 2 else "")) for i in range(12)] \
        + [(100, "completely different content about spark joins here")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    new = df.where(F.col("doc_id") % 3 == 0)
    existing = df.where(F.col("doc_id") % 3 != 0)
    idx = minhash_signatures(existing, num_hashes=16, shingle_n=3)
    inc = sorted(map(tuple, incremental_minhash_pairs(
        new, idx, num_hashes=16, bands=4, shingle_n=3).collect()))
    full = sorted(map(tuple, lsh_candidate_pairs(
        df, num_hashes=16, bands=4, shingle_n=3)
        .where((F.col("doc_a") % 3 == 0) | (F.col("doc_b") % 3 == 0))
        .collect()))
    assert inc == full and len(inc) > 0


def test_incremental_components_equals_full_cc(spark):
    """Contraction algebra: CC(prior stars ∪ new edges) == CC(all edges),
    including min-id cluster ids, chain merges across the split, and
    untouched prior singleton clusters."""
    import random

    from moonshot_spark.datapipe.graph import (
        connected_components_adaptive, incremental_components)

    rng = random.Random(23)
    edges = [(i, i + 1) for i in range(0, 30, 3)]            # 3-chains
    edges += [(a, a + 40) for a in range(0, 20, 2)]          # pairs
    edges += [(rng.randrange(60), rng.randrange(60)) for _ in range(25)]
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "src long, dst long")
    # arbitrary split: "old" = both endpoints even, "new" = the rest
    old = df.where((F.col("src") % 2 == 0) & (F.col("dst") % 2 == 0))
    new = df.where((F.col("src") % 2 != 0) | (F.col("dst") % 2 != 0))
    prior = connected_components_adaptive(old)
    # add an untouched singleton cluster to the prior map
    prior = prior.unionByName(
        spark.createDataFrame([(999, 999)], "node long, comp long"))
    inc = sorted(map(tuple, incremental_components(prior, new).collect()))
    full = sorted(map(tuple, connected_components_adaptive(df).collect()))
    assert (999, 999) in inc
    assert [r for r in inc if r[0] != 999] == full


# --------------------------------------------------------------------- #
# incremental ExactSubstr spans (datapipe/spans.py)                      #
# --------------------------------------------------------------------- #

def _span_corpus(spark):
    shared = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    rows = [
        (1, f"{shared} one extra tail with unique words here now"),
        (2, f"prefix words differ then {shared} and a different ending"),
        (3, "completely unrelated content with no overlap at all in "
            "any eight token window of this document text"),
        # new batch: doc 10 repeats the shared phrase (dup vs index),
        # doc 11 repeats doc 10's OWN tail inside the same batch,
        # doc 12 is clean
        (10, f"{shared} and some closing words repeated tail segment "
             "zero one two three four five six seven eight nine"),
        (11, "other lead-in text then repeated tail segment "
             "zero one two three four five six seven eight nine"),
        (12, "twelve has nothing in common with any other document "
             "in this corpus whatsoever truly nothing shared here"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_merge_window_index_equals_full_rebuild(spark):
    from moonshot_spark.datapipe.spans import (
        merge_window_index, window_hash_index)

    df = _span_corpus(spark)
    existing = df.where(F.col("doc_id") < 10)
    batch = df.where(F.col("doc_id") >= 10)
    merged = sorted(map(tuple, merge_window_index(
        window_hash_index(existing, k=8), batch, k=8).collect()))
    full = sorted(map(tuple, window_hash_index(df, k=8).collect()))
    assert merged == full and len(full) > 0


def test_incremental_duplicate_spans_equals_full_recompute(spark):
    """Batch spans = duplicate_spans(existing ∪ batch) restricted to the
    batch ids — covering batch-vs-index dups (doc 10 vs 1/2),
    batch-internal dups (10 vs 11), and a clean doc (12, no rows)."""
    from moonshot_spark.datapipe.spans import (
        duplicate_spans, incremental_duplicate_spans, window_hash_index)

    df = _span_corpus(spark)
    existing = df.where(F.col("doc_id") < 10)
    batch = df.where(F.col("doc_id") >= 10)
    inc = sorted(map(tuple, incremental_duplicate_spans(
        batch, window_hash_index(existing, k=8), k=8).collect()))
    full = sorted(map(tuple, duplicate_spans(df, k=8)
                      .where(F.col("doc_id") >= 10).collect()))
    assert inc == full and len(inc) > 0
    ids = {r[0] for r in inc}
    assert 10 in ids and 11 in ids and 12 not in ids


def test_incremental_spans_empty_index_equals_batch_recompute(spark):
    """Bootstrap case: an empty index reduces to plain duplicate_spans
    over the batch alone."""
    from moonshot_spark.datapipe.spans import (
        duplicate_spans, incremental_duplicate_spans)

    batch = _span_corpus(spark).where(F.col("doc_id") >= 10)
    empty = spark.createDataFrame([], "window_md5 string, n_occ bigint")
    inc = sorted(map(tuple, incremental_duplicate_spans(
        batch, empty, k=8).collect()))
    full = sorted(map(tuple, duplicate_spans(batch, k=8).collect()))
    assert inc == full and len(inc) > 0


def test_incremental_spans_scrub_composition(spark):
    """End-to-end ingest shape: scrub the batch with its incremental
    spans — the scrubbed text equals scrubbing with the full-recompute
    spans of the union corpus."""
    from moonshot_spark.datapipe.spans import (
        duplicate_spans, incremental_duplicate_spans, scrub_spans,
        window_hash_index)

    df = _span_corpus(spark)
    existing = df.where(F.col("doc_id") < 10)
    batch = df.where(F.col("doc_id") >= 10)
    inc_spans = incremental_duplicate_spans(
        batch, window_hash_index(existing, k=8), k=8)
    full_spans = duplicate_spans(df, k=8).where(F.col("doc_id") >= 10)
    got = {r["doc_id"]: r["scrubbed_text"]
           for r in scrub_spans(batch, inc_spans).collect()}
    want = {r["doc_id"]: r["scrubbed_text"]
            for r in scrub_spans(batch, full_spans).collect()}
    assert got == want
    assert got[12] == [r["text"] for r in
                       batch.where("doc_id = 12").collect()][0]


# --------------------------------------------------------------------- #
# incremental PPJoin (frozen-token-order exact Jaccard)                  #
# --------------------------------------------------------------------- #

def _jacc_corpus(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, base + (" extra" if i % 4 == 0 else "")
             + (f" tail{i % 3}" if i % 2 else "")) for i in range(12)]
    rows += [(100, "completely different content about spark joins here "
                   "with nothing shared at all"),
             # batch doc with BRAND-NEW vocabulary near-dup of 101
             (101, "novel words zeta eta theta iota kappa lambda mu nu "
                   "xi omicron pi rho"),
             (102, "novel words zeta eta theta iota kappa lambda mu nu "
                   "xi omicron pi rho sigma")]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_incremental_ppjoin_equals_full_recompute(spark):
    """Emitted pairs = exact full-recompute PPJoin over the union,
    restricted to pairs touching the batch — covering batch-vs-index,
    batch-vs-batch, and unseen-token (frozen order rank 0) cases."""
    from moonshot_spark.datapipe.dedup import prefix_filter_jaccard_pairs
    from moonshot_spark.datapipe.incremental_dedup import (
        incremental_ppjoin_pairs, ppjoin_index)

    df = _jacc_corpus(spark)
    new = df.where((F.col("doc_id") % 3 == 0) | (F.col("doc_id") > 100))
    existing = df.subtract(new)
    freq, sets = ppjoin_index(existing)
    inc = sorted(map(tuple, incremental_ppjoin_pairs(
        new, sets, freq, threshold=0.6).collect()))
    full = sorted(map(tuple, prefix_filter_jaccard_pairs(
        df, threshold=0.6)
        .where((F.col("doc_a") % 3 == 0) | (F.col("doc_a") > 100)
               | (F.col("doc_b") % 3 == 0) | (F.col("doc_b") > 100))
        .collect()))
    assert inc == full and len(inc) > 0
    ids = {r[0] for r in inc} | {r[1] for r in inc}
    assert 101 in ids and 102 in ids     # unseen-vocab pair surfaced


def test_incremental_ppjoin_empty_index_bootstrap(spark):
    from moonshot_spark.datapipe.dedup import prefix_filter_jaccard_pairs
    from moonshot_spark.datapipe.incremental_dedup import (
        incremental_ppjoin_pairs)

    batch = _jacc_corpus(spark)
    freq = spark.createDataFrame([], "token string, __f bigint")
    sets = spark.createDataFrame([], "doc_id long, __ts array<string>")
    inc = sorted(map(tuple, incremental_ppjoin_pairs(
        batch, sets, freq, threshold=0.8).collect()))
    full = sorted(map(tuple, prefix_filter_jaccard_pairs(
        batch, threshold=0.8).collect()))
    assert inc == full and len(inc) > 0


def test_merge_ppjoin_index_then_next_batch_still_exact(spark):
    """Two-batch ingest: merge batch 1 into the index (frozen order kept),
    then batch 2's pairs still equal the full recompute restricted to
    batch 2 — order staleness affects selectivity, never output."""
    from moonshot_spark.datapipe.dedup import prefix_filter_jaccard_pairs
    from moonshot_spark.datapipe.incremental_dedup import (
        incremental_ppjoin_pairs, merge_ppjoin_index, ppjoin_index)

    df = _jacc_corpus(spark)
    b0 = df.where(F.col("doc_id") < 6)
    b1 = df.where((F.col("doc_id") >= 6) & (F.col("doc_id") < 100))
    b2 = df.where(F.col("doc_id") >= 100)
    freq, sets = ppjoin_index(b0)
    sets = merge_ppjoin_index(sets, freq, b1)
    inc = sorted(map(tuple, incremental_ppjoin_pairs(
        b2, sets, freq, threshold=0.6).collect()))
    full = sorted(map(tuple, prefix_filter_jaccard_pairs(
        df, threshold=0.6)
        .where((F.col("doc_a") >= 100) | (F.col("doc_b") >= 100))
        .collect()))
    assert inc == full and len(inc) > 0
