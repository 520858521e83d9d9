"""Persisted IVF index (datapipe/ann_index.py): partition-pruned probing
must equal the in-memory ivf_topk bit for bit, appends must equal
rebuilds, and the pruning must be REAL (fewer files scanned, partition
filter in the plan)."""

import pytest
from pyspark.sql import functions as F

from moonshot_spark.datapipe.ann_index import (
    ivf_cell_stats, split_hot_cells,
    append_to_ivf_index, probe_ivf_index, write_ivf_index,
)
from moonshot_spark.datapipe.similarity import (
    ivf_topk, train_ivf_centroids,
)
from moonshot_spark.sources.parquet import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF, "embeddings").cache()


@pytest.fixture(scope="module")
def cents(emb):
    return train_ivf_centroids(emb, n_cells=8)


def rows(df):
    return sorted(map(tuple, df.collect()))


def test_probe_matches_in_memory_ivf_topk(spark, emb, cents, tmp_path):
    path = str(tmp_path / "ivf")
    write_ivf_index(emb, cents, path)
    q = emb.where(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("query_id"), "embedding")
    got = probe_ivf_index(spark, path, q, cents, nprobe=3, k=5)
    want = ivf_topk(emb, q, cents, nprobe=3, k=5)
    assert rows(got) == rows(want) and got.count() > 0


def test_append_equals_rebuild(spark, emb, cents, tmp_path):
    inc = str(tmp_path / "inc")
    full = str(tmp_path / "full")
    a = emb.where(F.col("vec_id") % 2 == 0)
    b = emb.where(F.col("vec_id") % 2 == 1)
    write_ivf_index(a, cents, inc)
    append_to_ivf_index(b, cents, inc)
    write_ivf_index(emb, cents, full)
    assert rows(spark.read.parquet(inc)) == rows(spark.read.parquet(full))
    # and probing the incrementally-built index equals the in-memory path
    q = emb.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding")
    got = probe_ivf_index(spark, inc, q, cents, nprobe=2, k=3)
    want = ivf_topk(emb, q, cents, nprobe=2, k=3)
    assert rows(got) == rows(want)


def test_probe_prunes_partitions_on_disk(spark, emb, cents, tmp_path):
    """The scale contract: a probe must NOT read the whole index.  One
    query with nprobe=2 may touch at most 2 of the 8 cell directories,
    and the executed plan must carry the __cell partition filter."""
    path = str(tmp_path / "ivf")
    write_ivf_index(emb, cents, path)
    all_files = set(spark.read.parquet(path).inputFiles())
    n_cells_on_disk = len({f.split("__cell=")[1].split("/")[0]
                           for f in all_files})
    assert n_cells_on_disk >= 3   # fixture sanity: pruning is observable

    q = emb.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding")
    probed = probe_ivf_index(spark, path, q, cents, nprobe=2, k=5)
    probed.count()
    # the index FileScan must carry "__cell IN (<=nprobe values)" as a
    # PARTITION filter (directory-level pruning, not a row filter):
    # inputFiles() reports the unpruned listing, so the plan is the truth
    plan = probed._jdf.queryExecution().executedPlan().toString()
    scan_filters = [line.split("PartitionFilters:")[1]
                    for line in plan.split("\n")
                    if "FileScan" in line and "__cell" in line
                    and "PartitionFilters:" in line]
    assert scan_filters, plan[:2000]
    import re
    m = re.search(r"__cell#\d+ IN \(([^)]*)\)", scan_filters[0])
    assert m, scan_filters[0][:300]
    assert len(m.group(1).split(",")) <= 2, m.group(0)


# --------------------------------------------------------------------- #
# cell-skew maintenance (VERDICT r9 item 4)                             #
# --------------------------------------------------------------------- #

def skewed(emb):
    """~40% of vectors forced into one cell: every vec_id % 5 in {0,1}
    gets (nearly) the same embedding — one hot cell plus micro-jitter
    so cosine ties don't degenerate."""
    hot = F.transform(
        "embedding",
        lambda x, j: F.when(F.col("vec_id") % 5 < 2,
                            (F.sin(j.cast("double")) +
                             F.col("vec_id").cast("double") * 1e-6)
                            .cast("float")).otherwise(x))
    return emb.withColumn("embedding", hot)


def test_cell_stats_report(spark, emb, cents, tmp_path):
    path = str(tmp_path / "ivf")
    corpus = skewed(emb)
    write_ivf_index(corpus, cents, path)
    stats = {r["cell"]: r for r in ivf_cell_stats(spark, path).collect()}
    want = {r["__cell"]: r["count"] for r in
            corpus.withColumn(
                "__cell",
                __import__("moonshot_spark.datapipe.similarity",
                           fromlist=["ivf_assign_col"])
                .ivf_assign_col("embedding", cents))
            .groupBy("__cell").count().collect()}
    assert {c: r["n_rows"] for c, r in stats.items()} == want
    assert all(r["n_bytes"] > 0 for r in stats.values())
    total = sum(want.values())
    assert all(abs(r["row_share"] - want[c] / total) < 1e-12
               for c, r in stats.items())
    assert max(r["row_share"] for r in stats.values()) > 0.2  # skew visible
    assert all(r["n_subcells"] == 1 and r["max_subcell"] == 0
               for r in stats.values())


def test_split_hot_cells_equals_fresh_two_level_write(spark, emb, cents,
                                                      tmp_path):
    """The rebuild-equivalence contract: re-splitting the hot cells of a
    built index must produce the SAME rows (including subcell
    assignment) as writing a fresh index with the returned
    sub-codebooks — assignment is a pure function of (vector,
    codebooks)."""
    corpus = skewed(emb)
    inc = str(tmp_path / "inc")
    fresh = str(tmp_path / "fresh")
    write_ivf_index(corpus, cents, inc)
    subs = split_hot_cells(spark, inc, cents, max_share=0.2, n_sub=3)
    assert subs, "fixture must produce at least one hot cell"
    write_ivf_index(corpus, cents, fresh, sub_codebooks=subs)
    assert rows(spark.read.parquet(inc)) == rows(spark.read.parquet(fresh))
    # appends keep honoring the persisted sub-codebooks
    extra = corpus.withColumn("vec_id", F.col("vec_id") + 100000)
    append_to_ivf_index(extra, cents, inc)
    write_ivf_index(corpus.unionByName(extra), cents, fresh,
                    sub_codebooks=subs)
    assert rows(spark.read.parquet(inc)) == rows(spark.read.parquet(fresh))


def test_probe_after_split_unchanged_and_subprobe_prunes(spark, emb, cents,
                                                         tmp_path):
    corpus = skewed(emb)
    path = str(tmp_path / "ivf")
    write_ivf_index(corpus, cents, path)
    q = corpus.where(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("query_id"), "embedding")
    before = probe_ivf_index(spark, path, q, cents, nprobe=3, k=5)
    before_rows = rows(before)
    subs = split_hot_cells(spark, path, cents, max_share=0.2, n_sub=3)
    assert subs
    # nprobe_sub=None probes every sub-cell: bit-identical results
    after = probe_ivf_index(spark, path, q, cents, nprobe=3, k=5)
    assert rows(after) == before_rows
    # sub-probing returns a valid top-k over a candidate SUBSET: per
    # query, every returned cosine is <= the full probe's same-rank one
    sub = probe_ivf_index(spark, path, q, cents, nprobe=3, k=5,
                          nprobe_sub=1)
    # use the PRE-split collected rows: re-executing `before` here would
    # re-list files split_hot_cells has since deleted (ADVICE r10)
    full = {(r[0], r[3]): r[2] for r in before_rows}
    for r in sub.collect():
        assert r["cosine"] <= full[(r["query_id"], r["rank"])] + 1e-9
    # and the plan prunes on BOTH partition levels
    plan = sub._jdf.queryExecution().executedPlan().toString()
    scans = [line for line in plan.split("\n")
             if "FileScan" in line and "PartitionFilters:" in line]
    assert any("__subcell" in s for s in scans), plan[:3000]


def test_compact_streaming_root_probe_and_maintenance(spark, emb, cents,
                                                      tmp_path):
    """compact_ivf_ingest: a streaming root's ingest generations merge
    into a batch root with identical probe results, and the compacted
    root accepts cell maintenance (stats + split)."""
    import os

    from moonshot_spark.datapipe.ann_index import compact_ivf_ingest
    from moonshot_spark.streaming.pipeline import stream_ivf_ingest

    corpus = skewed(emb)
    b1 = corpus.where(F.col("vec_id") % 2 == 0)
    b2 = corpus.where(F.col("vec_id") % 2 == 1)
    src = str(tmp_path / "vecs")
    os.makedirs(src)
    b1.coalesce(1).write.mode("append").parquet(src)
    b2.coalesce(1).write.mode("append").parquet(src)
    from pyspark.sql.types import (ArrayType, FloatType, IntegerType,
                                   LongType, StructField, StructType)
    schema = StructType([StructField("vec_id", LongType()),
                         StructField("embedding", ArrayType(FloatType())),
                         StructField("label", IntegerType())])
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    stream_root = str(tmp_path / "sroot")
    q = stream_ivf_ingest(stream, stream_root, str(tmp_path / "ck"),
                          cents).trigger(availableNow=True).start()
    q.awaitTermination()

    batch_root = str(tmp_path / "broot")
    compact_ivf_ingest(spark, stream_root, batch_root)
    queries = corpus.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding")
    got = probe_ivf_index(spark, batch_root, queries, cents, nprobe=3, k=4)
    want = probe_ivf_index(spark, stream_root, queries, cents,
                           nprobe=3, k=4)
    assert rows(got) == rows(want) and got.count() > 0
    # maintenance applies to the compacted root
    stats = ivf_cell_stats(spark, batch_root)
    assert stats.count() > 0
    subs = split_hot_cells(spark, batch_root, cents, max_share=0.2,
                           n_sub=3)
    assert subs   # the skewed fixture has a hot cell
    after = probe_ivf_index(spark, batch_root, queries, cents,
                            nprobe=3, k=4)
    assert rows(after) == rows(want)


def test_split_hot_cells_max_rows_threshold_and_split_skip(spark, emb,
                                                           cents, tmp_path):
    """max_rows thresholding splits exactly the over-threshold cells,
    and a second maintenance pass leaves already-split cells alone
    (the documented no-resplit scope)."""
    corpus = skewed(emb)
    path = str(tmp_path / "ivf")
    write_ivf_index(corpus, cents, path)
    stats = {r["cell"]: r["n_rows"] for r in
             ivf_cell_stats(spark, path).collect()}
    cut = sorted(stats.values())[-1] - 1          # only the biggest cell
    subs = split_hot_cells(spark, path, cents, max_share=1.1,
                           max_rows=cut, n_sub=3)
    assert set(subs) == {c for c, n in stats.items() if n > cut}
    again = split_hot_cells(spark, path, cents, max_share=1.1,
                            max_rows=cut, n_sub=3)
    assert again == {}                             # no re-split
    after = {r["cell"]: r for r in ivf_cell_stats(spark, path).collect()}
    for c in subs:
        assert after[c]["max_subcell"] >= 1 and after[c]["n_rows"] == stats[c]


def test_rebalance_split_cells_retrains_drifted_subcodebook(spark, tmp_path):
    """rebalance_split_cells: a split cell whose seeds were all in one
    clump (degenerate sub-codebook → one dominant sub-cell) gets
    retrained from md5-spread seeds; only that cell is rewritten, the
    nprobe_sub=None probe results are unchanged (same rows, same cell),
    the sub-cell skew strictly improves, and appends honor the new
    codebook."""
    import hashlib

    from moonshot_spark.datapipe.ann_index import rebalance_split_cells

    dim = 8
    ids = list(range(100, 140))
    # clump split by id: A = 100-119, B = 120-139.  The initial split
    # seeds (ids 100, 101) are both in A — degenerate; the
    # rebalance's md5-spread seeds span BOTH clumps (verified below),
    # which is the property the md5 ordering exists to provide.
    b_ids = set(ids[20:])
    by_md5 = sorted(ids, key=lambda i: hashlib.md5(str(i).encode())
                    .hexdigest())
    seed4 = set(by_md5[:4])
    assert seed4 & b_ids and seed4 - b_ids, \
        "fixture: md5 seeds must span both clumps"

    def vec(i):
        base = ([0.0] * dim)
        if i in b_ids:
            base[1] = 10.0               # clump B
        else:
            base[0] = 10.0               # clump A
        base[2] = (i % 7) * 1e-3         # micro-jitter, no exact ties
        return [float(x) for x in base]

    corpus = spark.createDataFrame([(i, vec(i)) for i in ids],
                                   "vec_id long, embedding array<float>")
    far = [[0.0] * (dim - 1) + [100.0]]
    cents = [[1.0, 1.0] + [0.0] * (dim - 2)] + far   # all rows in cell 0
    path = str(tmp_path / "ivf")
    write_ivf_index(corpus, cents, path,
                    sub_codebooks={0: [vec(100), vec(101)]})
    stats0 = ivf_cell_stats(spark, path).where(F.col("cell") == 0).first()
    assert stats0["max_subcell_rows"] / stats0["n_rows"] > 0.5  # degenerate

    q = corpus.where(F.col("vec_id") < 104).select(
        F.col("vec_id").alias("query_id"), "embedding")
    before = rows(probe_ivf_index(spark, path, q, cents, nprobe=1, k=5))

    new = rebalance_split_cells(spark, path, cents,
                                max_subcell_share=0.5, n_sub=4)
    assert set(new) == {0}
    stats1 = ivf_cell_stats(spark, path).where(F.col("cell") == 0).first()
    assert stats1["n_rows"] == stats0["n_rows"]
    assert stats1["max_subcell_rows"] < stats0["max_subcell_rows"]
    # full-subcell probing is unchanged: same rows, same cell membership
    assert rows(probe_ivf_index(spark, path, q, cents, nprobe=1, k=5)) \
        == before
    # appends honor the retrained codebook (meta persisted)
    extra = spark.createDataFrame([(900, vec(139))],
                                  "vec_id long, embedding array<float>")
    append_to_ivf_index(extra, cents, path)
    got = rows(probe_ivf_index(spark, path, q, cents, nprobe=1, k=5,
                               nprobe_sub=4))
    assert got                            # probe across retrained subcells


# --------------------------------------------------------------------- #
# retrain_cell deepening + crash repair (VERDICT r10 missing #1,        #
# ADVICE r10 medium)                                                    #
# --------------------------------------------------------------------- #

def clumped_corpus(spark, dim=8, n=40):
    """4 orthogonal clumps interleaved by id (i % 4), all landing in ONE
    IVF cell: the initial lowest-id split seeds (100, 101) see only
    clumps 0 and 1 (300 % 4 = 0, 301 % 4 = 1), so a 2-ary sub-codebook
    is structurally too shallow — the deepening fixture."""
    ids = list(range(300, 300 + n))

    def vec(i):
        base = [0.0] * dim
        base[i % 4] = 10.0
        base[5] = (i % 7) * 1e-3        # jitter: no exact cosine ties
        return [float(x) for x in base]

    corpus = spark.createDataFrame([(i, vec(i)) for i in ids],
                                   "vec_id long, embedding array<float>")
    far = [[0.0] * (dim - 1) + [100.0]]
    cents = [[1.0, 1.0, 1.0, 1.0] + [0.0] * (dim - 4)] + far
    return corpus, cents, ids


def test_retrain_cell_deepens_and_equals_fresh_write(spark, tmp_path):
    """Deepening contract: retraining a split cell at HIGHER arity
    strictly reduces max_subcell_rows, row-equals a fresh write with
    the returned {codebook, base} entry, keeps nprobe_sub=None probe
    results bit-identical, and still prunes on __subcell."""
    import hashlib

    from moonshot_spark.datapipe.ann_index import retrain_cell

    corpus, cents, ids = clumped_corpus(spark)
    by_md5 = sorted(ids, key=lambda i: hashlib.md5(str(i).encode())
                    .hexdigest())
    assert len({i % 4 for i in by_md5[:4]}) >= 3, \
        "fixture: md5 seeds must span >=3 clumps"

    path = str(tmp_path / "ivf")
    write_ivf_index(corpus, cents, path)
    subs = split_hot_cells(spark, path, cents, max_share=0.5, n_sub=2)
    assert 0 in subs
    stats0 = ivf_cell_stats(spark, path).where(F.col("cell") == 0).first()
    assert stats0["max_subcell_rows"] >= 20     # 2-ary can't separate 4 clumps

    q = corpus.where(F.col("vec_id") < 306).select(
        F.col("vec_id").alias("query_id"), "embedding")
    before = rows(probe_ivf_index(spark, path, q, cents, nprobe=1, k=5))

    entry = retrain_cell(spark, path, 0, n_sub=4)
    assert entry is not None and entry["base"] == 3   # old base 1 + arity 2
    stats1 = ivf_cell_stats(spark, path).where(F.col("cell") == 0).first()
    assert stats1["n_rows"] == stats0["n_rows"]
    assert stats1["max_subcell_rows"] < stats0["max_subcell_rows"]
    assert stats1["n_subcells"] >= 3

    # row-equals a fresh two-level write with the returned entry
    fresh = str(tmp_path / "fresh")
    write_ivf_index(corpus, cents, fresh, sub_codebooks={0: entry})
    assert rows(spark.read.parquet(path)) == rows(spark.read.parquet(fresh))

    # nprobe_sub=None probing unchanged; sub-probe prunes on __subcell
    assert rows(probe_ivf_index(spark, path, q, cents, nprobe=1, k=5)) \
        == before
    sub = probe_ivf_index(spark, path, q, cents, nprobe=1, k=5,
                          nprobe_sub=2)
    sub.count()
    plan = sub._jdf.queryExecution().executedPlan().toString()
    scans = [line for line in plan.split("\n")
             if "FileScan" in line and "PartitionFilters:" in line]
    assert any("__subcell" in s for s in scans), plan[:3000]
    # appends honor the deepened codebook
    extra = corpus.withColumn("vec_id", F.col("vec_id") + 1000)
    append_to_ivf_index(extra, cents, path)
    write_ivf_index(corpus.unionByName(extra), cents, fresh,
                    sub_codebooks={0: entry})
    assert rows(spark.read.parquet(path)) == rows(spark.read.parquet(fresh))


def test_retrain_crash_repair_finish_and_rollback(spark, tmp_path,
                                                  monkeypatch):
    """Crash-safety contract (ADVICE r10): a retrain interrupted AFTER
    its per-cell meta flip is FINISHED by repair_retrains (old range
    dropped); one interrupted BEFORE the flip is ROLLED BACK (new range
    dropped) — either way meta and directories agree, no rows are lost,
    and the retrain can re-run."""
    import moonshot_spark.datapipe.ann_index as ai

    corpus, cents, ids = clumped_corpus(spark)
    path = str(tmp_path / "ivf")
    write_ivf_index(corpus, cents, path)
    split_hot_cells(spark, path, cents, max_share=0.5, n_sub=2)
    baseline = rows(spark.read.parquet(path)
                    .drop("__cell", "__subcell"))

    # ---- crash AFTER the meta flip (before old-range delete) ----
    real_delete = ai._delete_subcell_range
    monkeypatch.setattr(ai, "_delete_subcell_range",
                        lambda *a, **k: (_ for _ in ()).throw(
                            RuntimeError("crash")))
    with pytest.raises(RuntimeError):
        ai.retrain_cell(spark, path, 0, n_sub=4)
    monkeypatch.setattr(ai, "_delete_subcell_range", real_delete)
    # sub-probes stay CORRECT in the crashed state: meta points at the
    # complete new generation (the ADVICE scenario this fix removes)
    meta = ai._read_meta(spark, path)
    assert meta[0]["base"] == 3
    assert ai.repair_retrains(spark, path) == {0: "finished"}
    stats = ivf_cell_stats(spark, path).where(F.col("cell") == 0).first()
    assert stats["n_rows"] == 40                 # no rows lost/duplicated
    assert rows(spark.read.parquet(path).drop("__cell", "__subcell")) \
        == baseline
    assert ai.repair_retrains(spark, path) == {}  # idempotent

    # ---- crash BEFORE the meta flip ----
    real_write = ai._write_meta
    monkeypatch.setattr(ai, "_write_meta",
                        lambda *a, **k: (_ for _ in ()).throw(
                            RuntimeError("crash")))
    with pytest.raises(RuntimeError):
        ai.retrain_cell(spark, path, 0, n_sub=3)
    monkeypatch.setattr(ai, "_write_meta", real_write)
    meta_before = ai._read_meta(spark, path)
    assert meta_before[0]["base"] == 3           # flip never landed
    assert ai.repair_retrains(spark, path) == {0: "rolled_back"}
    stats = ivf_cell_stats(spark, path).where(F.col("cell") == 0).first()
    assert stats["n_rows"] == 40
    assert rows(spark.read.parquet(path).drop("__cell", "__subcell")) \
        == baseline
    # the rolled-back retrain re-runs cleanly
    entry = ai.retrain_cell(spark, path, 0, n_sub=3)
    assert entry is not None and entry["base"] == 7  # base 3 + arity 4
    assert ai._read_meta(spark, path)[0] == entry


def test_split_crash_repair_leaves_each_vector_once(spark, tmp_path,
                                                     monkeypatch):
    """A split_hot_cells crash after the new sub-cells land (here the
    meta write fails) leaves a marker that repair_retrains replays: every
    vector is then on disk exactly once, and the cell's __subcell
    directories are exactly the ones its meta names."""
    import os

    import moonshot_spark.datapipe.ann_index as ai

    corpus, cents, ids = clumped_corpus(spark)
    path = str(tmp_path / "ivf")
    write_ivf_index(corpus, cents, path)
    monkeypatch.setattr(ai, "_write_meta",
                        lambda *a, **k: (_ for _ in ()).throw(
                            RuntimeError("crash")))
    with pytest.raises(RuntimeError):
        split_hot_cells(spark, path, cents, max_share=0.5, n_sub=2)
    monkeypatch.undo()
    ai.repair_retrains(spark, path)

    got = [r["vec_id"] for r in spark.read.parquet(path)
           .select("vec_id").collect()]
    assert sorted(got) == ids
    entry = ai._read_meta(spark, path).get(0)
    named = ({f"__subcell={s}" for s in range(
        entry["base"], entry["base"] + len(entry["codebook"]))}
        if entry else {"__subcell=0"})
    on_disk = {d for d in os.listdir(os.path.join(path, "__cell=0"))
               if d.startswith("__subcell=")}
    assert on_disk == named


def test_ivf_maintenance_lifecycle(spark, emb, cents, tmp_path):
    """E2E vector-store maintenance (VERDICT r10 item 5): stream ingest
    -> compact -> split hot cells -> drifted append -> retrain, with
    probe recall vs brute force and partition-pruning plan pins asserted
    at EVERY stage.  The nprobe_sub=None invariant — maintenance never
    changes probe results over the same corpus — anchors each step."""
    import os

    from moonshot_spark.datapipe.ann_index import (compact_ivf_ingest,
                                                   retrain_cell)
    from moonshot_spark.datapipe.similarity import brute_force_topk
    from moonshot_spark.streaming.pipeline import stream_ivf_ingest

    corpus = skewed(emb).cache()
    qdf = corpus.where(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("query_id"), "embedding").cache()

    def recall_and_plan(root, truth_corpus, nprobe=3):
        got = probe_ivf_index(spark, root, qdf, cents, nprobe=nprobe, k=5)
        got_rows = rows(got)
        truth = {(r["query_id"], r["vec_id"])
                 for r in brute_force_topk(truth_corpus, qdf, k=5).collect()}
        hits = {(r[0], r[1]) for r in got_rows}
        plan = got._jdf.queryExecution().executedPlan().toString()
        pruned = any("FileScan" in line and "PartitionFilters:" in line
                     and "__cell" in line for line in plan.split("\n"))
        return len(hits & truth) / len(truth), got_rows, pruned

    # stage 1: streaming ingest in two drifting batches
    b1 = corpus.where(F.col("vec_id") % 2 == 0)
    b2 = corpus.where(F.col("vec_id") % 2 == 1)
    src = str(tmp_path / "vecs")
    os.makedirs(src)
    b1.coalesce(1).write.mode("append").parquet(src)
    b2.coalesce(1).write.mode("append").parquet(src)
    from pyspark.sql.types import (ArrayType, FloatType, IntegerType,
                                   LongType, StructField, StructType)
    schema = StructType([StructField("vec_id", LongType()),
                         StructField("embedding", ArrayType(FloatType())),
                         StructField("label", IntegerType())])
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    stream_root = str(tmp_path / "sroot")
    q = stream_ivf_ingest(stream, stream_root, str(tmp_path / "ck"),
                          cents).trigger(availableNow=True).start()
    q.awaitTermination()
    r1, rows1, pruned1 = recall_and_plan(stream_root, corpus)
    assert pruned1 and r1 > 0

    # stage 2: compact — identical probe, still pruned
    batch_root = str(tmp_path / "broot")
    compact_ivf_ingest(spark, stream_root, batch_root)
    r2, rows2, pruned2 = recall_and_plan(batch_root, corpus)
    assert pruned2 and rows2 == rows1

    # stage 3: split the hot cell — identical probe, still pruned
    subs = split_hot_cells(spark, batch_root, cents, max_share=0.2, n_sub=3)
    assert subs
    r3, rows3, pruned3 = recall_and_plan(batch_root, corpus)
    assert pruned3 and rows3 == rows1

    # stage 4: drifted append into the hot cell, then deepen it
    extra = (corpus.where(F.col("vec_id") % 5 < 2)
             .withColumn("vec_id", F.col("vec_id") + 100000))
    append_to_ivf_index(extra, cents, batch_root)
    corpus2 = corpus.unionByName(extra).cache()
    hot = max(ivf_cell_stats(spark, batch_root).collect(),
              key=lambda r: r["max_subcell_rows"])
    pre = probe_ivf_index(spark, batch_root, qdf, cents, nprobe=3, k=5)
    pre_rows = rows(pre)
    entry = retrain_cell(spark, batch_root, hot["cell"], n_sub=4)
    r4, rows4, pruned4 = recall_and_plan(batch_root, corpus2)
    assert pruned4 and rows4 == pre_rows       # retrain: probe-invariant
    n_after = (spark.read.parquet(batch_root)
               .groupBy().count().first()[0])
    assert n_after == corpus2.count()          # no rows lost/duplicated

    # stage 5: exactness anchor — probing ALL cells is bit-identical to
    # the in-memory ivf_topk (same scoring path), and matches brute
    # force per-rank within float tolerance (the skewed fixture's
    # near-duplicate vectors sit ULPs apart between the Arrow-UDF and
    # codegen'd-fold cosine paths)
    full = probe_ivf_index(spark, batch_root, qdf, cents,
                           nprobe=len(cents), k=5)
    full_rows = rows(full)
    assert full_rows == rows(ivf_topk(corpus2, qdf, cents,
                                      nprobe=len(cents), k=5))
    bf = {(r[0], r[3]): r[2]
          for r in rows(brute_force_topk(corpus2, qdf, k=5))}
    assert all(abs(r[2] - bf[(r[0], r[3])]) < 1e-9 for r in full_rows)
    # and the sub-probe prunes on BOTH levels after the whole lifecycle
    sub = probe_ivf_index(spark, batch_root, qdf, cents, nprobe=3, k=5,
                          nprobe_sub=1)
    sub.count()
    plan = sub._jdf.queryExecution().executedPlan().toString()
    assert any("FileScan" in line and "__subcell" in line
               for line in plan.split("\n")
               if "PartitionFilters:" in line), plan[:3000]


def test_writer_lease_serializes_concurrent_writers(spark, emb, cents,
                                                    tmp_path, monkeypatch):
    """The single-writer requirement is ENFORCED (VERDICT r12 item 4):
    while one writer holds the per-index lease, a concurrent
    append/retrain blocks and times out cleanly instead of interleaving
    with a retrain's append-then-delete window (the stale-meta append
    that strands rows in a deleted __subcell range)."""
    import fcntl
    import os

    import moonshot_spark.datapipe.ann_index as ann
    from moonshot_spark.datapipe.ann_index import retrain_cell

    path = str(tmp_path / "locked")
    write_ivf_index(emb, cents, path)
    batch = emb.where(F.col("vec_id") < 4)

    # hold the lease out-of-band (flock conflicts across fds even within
    # one process, so this models a second driver process exactly)
    fd = os.open(path + ".__ivf_writer.lock", os.O_CREAT | os.O_WRONLY)
    fcntl.flock(fd, fcntl.LOCK_EX)
    monkeypatch.setattr(ann, "WRITER_LEASE_TIMEOUT", 0.3)
    try:
        with pytest.raises(TimeoutError):
            append_to_ivf_index(batch, cents, path)
        with pytest.raises(TimeoutError):
            retrain_cell(spark, path, cell=0, n_sub=2)
    finally:
        os.close(fd)                      # kernel releases the flock

    # released: the same append now proceeds and equals a rebuild
    append_to_ivf_index(batch, cents, path)
    full = str(tmp_path / "full")
    write_ivf_index(emb.unionByName(batch), cents, full)
    assert rows(spark.read.parquet(path)) == rows(spark.read.parquet(full))
    # the lease is a sibling of the root: overwrite cannot unlink it
    assert os.path.exists(path + ".__ivf_writer.lock")


def test_writer_lease_remote_noop_warns_without_session(monkeypatch):
    """Remote roots with NO active SparkSession (no Hadoop FS reachable)
    take no lock, WARN that it is unenforced, and never error."""
    from pyspark.sql import SparkSession

    from moonshot_spark.datapipe.ann_index import WRITER_LEASE_TIMEOUT
    from moonshot_spark.datapipe.ann_index import _lock_path
    from moonshot_spark.locks import writer_lock

    monkeypatch.setattr(SparkSession, "getActiveSession",
                        classmethod(lambda cls: None))
    for root in ("s3a://bucket/ivf", "hdfs://nn/ivf"):
        with pytest.warns(RuntimeWarning, match="UNENFORCED"):
            with writer_lock(_lock_path(root),
                             WRITER_LEASE_TIMEOUT) as lease:
                assert lease is None


def test_writer_lease_remote_scheme_warns_best_effort(spark, monkeypatch):
    """A remote-scheme root with an active session WARNS (best-effort on
    stores without atomic create) and holds a marker lease through the
    Hadoop store, here replaced by an in-memory one so no object-store
    connector is needed."""
    import time

    import moonshot_spark.locks as locks
    from moonshot_spark.datapipe.ann_index import _lock_path

    files = {}

    class MemoryStore:
        def __init__(self, spark, root):
            pass

        def create(self, path, text):
            if path in files:
                return False
            files[path] = text
            return True

        def read(self, path):
            return files.get(path)

        def mtime(self, path):
            return time.time() if path in files else None

        def rename(self, src, dst):
            return False

        def delete(self, path):
            files.pop(path, None)

        def touch(self, path):
            pass

    monkeypatch.setattr(locks, "_HadoopStore", MemoryStore)
    marker = "s3a://bucket/ivf.__ivf_writer.lock"
    with pytest.warns(RuntimeWarning, match="BEST-EFFORT"):
        with locks.writer_lock(_lock_path("s3a://bucket/ivf"), 0.5) as lease:
            assert lease == marker and marker in files
    assert files == {}


def test_marker_lease_stale_takeover(spark, emb, cents, tmp_path,
                                     monkeypatch):
    """Where the index's writer lock is a marker lease (no fcntl here;
    remote roots likewise), a marker left by a crashed writer is taken
    over once older than STALE_FACTOR x WRITER_LEASE_TIMEOUT and the
    append proceeds; a FRESH marker is not taken over."""
    import os
    import threading
    import time

    import moonshot_spark.datapipe.ann_index as ann
    from moonshot_spark import locks

    monkeypatch.setattr(locks, "fcntl", None)
    path = str(tmp_path / "stale")
    write_ivf_index(emb, cents, path)
    batch = emb.where(F.col("vec_id") < 4)
    marker = ann._lock_path(path)

    # a live holder heartbeats its marker: never taken over
    with open(marker, "w") as f:
        f.write("live:cafebabe")
    monkeypatch.setattr(ann, "WRITER_LEASE_TIMEOUT", 0.3)
    stop = threading.Event()

    def beat():
        while not stop.wait(0.05):
            os.utime(marker)

    beater = threading.Thread(target=beat, daemon=True)
    beater.start()
    try:
        with pytest.raises(TimeoutError):
            append_to_ivf_index(batch, cents, path)
    finally:
        stop.set()
        beater.join()
    with open(marker) as f:
        assert f.read() == "live:cafebabe"

    # backdate past the stale horizon: the next writer takes over
    old = (time.time() - locks.MARKER_LEASE_STALE_FACTOR
           * ann.WRITER_LEASE_TIMEOUT - 1.0)
    os.utime(marker, (old, old))
    append_to_ivf_index(batch, cents, path)
    assert not os.path.exists(marker)
    full = str(tmp_path / "full")
    write_ivf_index(emb.unionByName(batch), cents, full)
    assert rows(spark.read.parquet(path)) == rows(spark.read.parquet(full))


def test_marker_lease_release_respects_takeover(tmp_path, monkeypatch):
    """After a stale takeover of the index's marker lease, the original
    (slow but alive) writer's release must NOT delete the new holder's
    marker: an unconditional delete would admit a third writer."""
    import os

    import moonshot_spark.datapipe.ann_index as ann
    from moonshot_spark import locks
    from moonshot_spark.locks import writer_lock

    monkeypatch.setattr(locks, "fcntl", None)
    marker = ann._lock_path(str(tmp_path / "ivf"))
    with pytest.warns(RuntimeWarning, match="stale takeover"):
        with writer_lock(marker, ann.WRITER_LEASE_TIMEOUT):
            # a rival's takeover replaces the marker with its own token
            os.remove(marker)
            with open(marker, "w") as f:
                f.write("usurper:deadbeef")
    with open(marker) as f:
        assert f.read() == "usurper:deadbeef"
