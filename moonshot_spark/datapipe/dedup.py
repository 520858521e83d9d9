"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design (the point of these at 100 TB):

- **Exact**: hash-groupBy on a fingerprint — one shuffle on the md5 key,
  perfectly balanced unless a single text dominates (then AQE skew-split).
- **MinHash+LSH**: shingle → k minhashes → b bands; candidate pairs only
  within identical band buckets, so the quadratic pair join becomes a
  per-bucket self-join.  All hashing is md5-based and engine-portable.
- **SimHash**: 64-bit signature via per-token hash bit-voting; near-dups =
  signatures within small Hamming distance, found via band-exact match.

Everything below is built from array higher-order functions (transform/
filter/aggregate) — zero Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from moonshot_spark import materialize
from moonshot_spark.functions.folds import ordered_values
from moonshot_spark.sources.parquet import scan_partition_estimate


def widen_underparallel(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Widen an under-parallel FILE source before CPU-heavy per-row work.

    Uses the shared ``sources.parquet.scan_partition_estimate`` file-
    listing heuristic (max(n_files, bytes/maxPartitionBytes)) — only when
    even that estimate is below the cluster's default parallelism is the
    source genuinely under-parallel (a single small file serialising the
    map stage onto one core) and worth ONE widening shuffle of the raw
    rows, hash-keyed on ``id_col`` so downstream per-doc joins stay
    co-partitioned.  A well-partitioned 100 TB scan is returned
    untouched — shuffling a full corpus ahead of a map-side projection
    is pure overhead — and so are non-file sources (in-memory test
    frames, upstream shuffles), which already run at
    spark.sql.shuffle.partitions.
    """
    spark = docs.sparkSession
    target = spark.sparkContext.defaultParallelism
    est = scan_partition_estimate(docs)
    if est is not None and est < target:
        return docs.repartition(target, F.col(id_col))
    return docs


def shingles_expr(col, n: int = 3):
    """Word n-gram shingles as an array<string> (distinct, order-free set).

    Documents with fewer than n tokens yield an empty array — without the
    guard, ``F.sequence(0, size-n)`` with a negative stop produces a
    DESCENDING sequence and the slice errors out (and DuckDB's ``range``
    would yield empty, diverging).
    """
    c = F.col(col) if isinstance(col, str) else col
    toks = F.split(c, " ")
    idx = F.sequence(F.lit(0), F.size(toks) - n)
    return F.when(
        F.size(toks) >= n,
        F.array_distinct(
            F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n))))
    ).otherwise(F.array().cast("array<string>"))


def exact_duplicates(docs: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Exact-duplicate groups: fingerprint → groupBy → keep groups >1.

    Returns (fingerprint, n_docs, keep_id): the canonical survivor (min id)
    per duplicated fingerprint.  Deliberately NO per-group id array — a
    boilerplate fingerprint owning 10M docs would materialize a 10M-element
    array in a single task; the removable ids come from
    ``exact_duplicate_mapping`` (a join, streaming per row) instead.  The
    count/min aggregate itself is skew-proof: map-side partial aggregation
    reduces each hot fingerprint to one row per map task before the shuffle.
    """
    from moonshot_spark.datapipe.text import fingerprint_expr

    fp = docs.select(F.col(id_col), fingerprint_expr(text_col).alias("fingerprint"))
    return (fp.groupBy("fingerprint")
            .agg(F.count("*").alias("n_docs"),
                 F.min(id_col).alias("keep_id"))
            .where(F.col("n_docs") > 1))


def exact_duplicate_mapping(docs: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id") -> DataFrame:
    """Survivor mapping: one row per REMOVABLE doc —
    (fingerprint, n_docs, keep_id, dup_id with dup_id != keep_id).

    Scale design: group stats join back to the per-doc fingerprints on the
    fingerprint key.  Each doc row matches exactly one group row, so a hot
    fingerprint streams through its task without any array or blowup
    (unlike collect_list, which is unbounded per group).
    """
    from moonshot_spark.datapipe.text import fingerprint_expr

    fp = docs.select(F.col(id_col), fingerprint_expr(text_col).alias("fingerprint"))
    groups = (fp.groupBy("fingerprint")
              .agg(F.count("*").alias("n_docs"), F.min(id_col).alias("keep_id"))
              .where(F.col("n_docs") > 1))
    return (fp.join(groups, "fingerprint")
            .where(F.col(id_col) != F.col("keep_id"))
            .select("fingerprint", "n_docs", "keep_id",
                    F.col(id_col).alias("dup_id")))


def shingle_frame(docs: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", shingle_n: int = 3,
                  repartition: bool = True) -> DataFrame:
    """(id, __shingles) — the shared input of the MinHash/LSH/verify
    stages.  Computing this ONCE and passing it to each stage (see
    ``verified_pairs``) halves the dominant cost of the near-dup pipeline:
    without sharing, signature building and Jaccard verification each
    re-shingle the full corpus.

    Persisting the returned frame is the caller's call
    (``verified_pairs`` does): at bench scale that wins outright; at
    100 TB the materialized shingle set is ~10x the corpus, so prefer a
    disk-only level or accept the recompute — the lineage stays a
    map-only projection either way.

    ``repartition``: widen under-parallel sources (single file / few
    row-groups) before the CPU-heavy hashing; skipped when the source is
    already well-partitioned, because shuffling a 100 TB corpus ahead of a
    map-side projection is pure overhead.
    """
    if repartition:
        docs = widen_underparallel(docs, id_col)
    return docs.select(F.col(id_col),
                       shingles_expr(text_col, shingle_n).alias("__shingles"))


def minhash_signatures(docs: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", num_hashes: int = 16,
                       shingle_n: int = 3) -> DataFrame:
    """Per-doc MinHash signature of ``num_hashes`` 8-hex-char hashes.

    Hash family: each shingle gets ceil(k/4) md5 digests (salted variants),
    each split into four 32-bit hex slices → k independent hashes from k/4
    md5 calls.  minhash_i = lexicographic min of slice i over the shingle
    set.  md5-based → deterministic across engines and runs (no seed state).

    Scale notes: the input is repartitioned before the (CPU-heavy) hashing
    projection so signature computation parallelizes even when the source
    is a single file/row-group; the slices array is materialized as a
    column so the per-shingle md5 work runs once, not once per hash
    function.  Output: (id, minhash_sig array<string> length k).
    """
    # explode shingles to rows: each shingle's md5s are computed exactly once
    # in a flat whole-stage-codegen projection (array-lambda nesting would be
    # interpreted AND CollapseProject would duplicate the md5 per hash), and
    # the k mins aggregate with map-side partial aggregation — the shuffle
    # carries one k-slice row per doc, not the shingle set.
    sh = shingle_frame(docs, text_col, id_col, shingle_n)
    return minhash_signatures_from_shingles(sh, id_col, num_hashes)


def minhash_signatures_from_shingles(shingles: DataFrame,
                                     id_col: str = "doc_id",
                                     num_hashes: int = 16) -> DataFrame:
    """MinHash signatures from a precomputed ``shingle_frame`` — lets the
    dedup pipeline share one shingle pass across signature building and
    Jaccard verification."""
    assert num_hashes % 4 == 0, "num_hashes must be a multiple of 4"
    n_md5 = num_hashes // 4
    exploded = shingles.select(
        F.col(id_col), F.explode("__shingles").alias("__s"))
    digests = [F.md5(F.encode(F.col("__s"), "UTF-8"))] + [
        F.md5(F.encode(F.concat(F.lit(f"{chr(96 + j)}|"), F.col("__s")),
                       "UTF-8"))
        for j in range(1, n_md5)]
    slice_cols = [d.substr(1 + 8 * k, 8).alias(f"__h{j * 4 + k}")
                  for j, d in enumerate(digests) for k in range(4)]
    sliced = exploded.select(F.col(id_col), *slice_cols)
    agg = sliced.groupBy(id_col).agg(
        *[F.min(f"__h{i}").alias(f"__m{i}") for i in range(num_hashes)])
    return agg.select(
        F.col(id_col),
        F.array(*[F.col(f"__m{i}") for i in range(num_hashes)])
        .alias("minhash_sig"))


def lsh_candidate_pairs(docs: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", num_hashes: int = 16,
                        bands: int = 4, shingle_n: int = 3,
                        max_bucket_size: int | None = None,
                        on_oversized: str = "warn",
                        shingles: DataFrame | None = None,
                        include_est_jaccard: bool = True) -> DataFrame:
    """MinHash-LSH near-duplicate candidate pairs with estimated Jaccard.

    banding: signature split into ``bands`` bands of k/bands rows; docs
    sharing any identical band land in the same bucket.  The pair join is
    per-bucket (equi-join on band hash), so cost is Σ bucket² not n² —
    the standard LSH scale path.

    ``max_bucket_size`` is the hot-bucket guard: a degenerate bucket (every
    empty/boilerplate doc shares one band hash) turns the per-bucket join
    quadratic — 1M docs in one bucket is 10¹² pairs.  Buckets over the cap
    are excluded from the pair join (their members are near-always exact
    duplicates of a template; run exact dedup first to absorb them).  Never
    silent: ``on_oversized='warn'`` counts the dropped buckets (one small
    aggregate job) and emits a warning; ``'error'`` raises; ``'ignore'``
    skips the extra job.  The bucket count uses a window partitioned by the
    join key, so its shuffle is the same exchange the self-join needs — the
    guard adds no extra shuffle to the pair path.

    Returns (doc_a, doc_b, est_jaccard) with doc_a < doc_b, distinct;
    with ``include_est_jaccard=False`` just (doc_a, doc_b) — the pair
    distinct then shuffles ids only, not signatures.
    """
    rows_per_band = num_hashes // bands
    if shingles is None:
        shingles = shingle_frame(docs, text_col, id_col, shingle_n)
    sigs = minhash_signatures_from_shingles(shingles, id_col, num_hashes)

    band_arr = F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.md5(F.encode(F.concat_ws(
            "|", F.slice(F.col("minhash_sig"), b * rows_per_band + 1,
                         rows_per_band)), "UTF-8")))
    sig_cols = ["minhash_sig"] if include_est_jaccard else []
    banded = (sigs.select(id_col, *sig_cols,
                          F.posexplode(band_arr).alias("band_id", "band_hash")))

    if max_bucket_size is not None:
        if on_oversized not in ("warn", "error", "ignore"):
            raise ValueError(
                f"on_oversized must be 'warn', 'error', or 'ignore', "
                f"got {on_oversized!r}")
        from pyspark.sql import Window
        bucket_n = F.count("*").over(
            Window.partitionBy("band_id", "band_hash"))
        banded = banded.withColumn("__bucket_n", bucket_n)

    # both legs of the self-join (and the pair distinct) would otherwise
    # recompute the whole shingle→md5 pipeline; the banded signatures are
    # tiny (k hashes/doc) so cache them for the join.  Persist AFTER the
    # bucket-count window so the guard's diagnostic job and the pair join
    # share one materialization of the window shuffle, not two.
    banded = materialize.persist(banded)

    if max_bucket_size is not None:
        if on_oversized in ("warn", "error"):
            over = (banded.where(F.col("__bucket_n") > max_bucket_size)
                    .agg(F.countDistinct("band_id", "band_hash").alias("b"),
                         F.count("*").alias("m")).collect()[0])
            if over["b"]:
                msg = (f"lsh_candidate_pairs: dropped {over['b']} bucket(s) "
                       f"({over['m']} doc-band rows) over max_bucket_size="
                       f"{max_bucket_size}; run exact dedup first to absorb "
                       f"template duplicates")
                if on_oversized == "error":
                    raise ValueError(msg)
                import warnings
                warnings.warn(msg)
        banded = (banded.where(F.col("__bucket_n") <= max_bucket_size)
                  .drop("__bucket_n"))

    if not include_est_jaccard:
        # candidate ids only: the pair distinct shuffles two longs per
        # row instead of two longs + two k-string signatures — the right
        # shape when a downstream exact-verify stage recomputes the real
        # similarity anyway (dedup_corpus, LSH→Jaccard pipelines)
        left = banded.select(F.col(id_col).alias("doc_a"),
                             "band_id", "band_hash")
        right = banded.select(F.col(id_col).alias("doc_b"),
                              "band_id", "band_hash")
        return (left.join(right, ["band_id", "band_hash"])
                .where(F.col("doc_a") < F.col("doc_b"))
                .select("doc_a", "doc_b")
                .distinct())

    left = banded.select(F.col(id_col).alias("id_a"),
                         F.col("minhash_sig").alias("sig_a"),
                         "band_id", "band_hash")
    right = banded.select(F.col(id_col).alias("id_b"),
                          F.col("minhash_sig").alias("sig_b"),
                          "band_id", "band_hash")
    pairs = (left.join(right, ["band_id", "band_hash"])
             .where(F.col("id_a") < F.col("id_b"))
             .select("id_a", "id_b", "sig_a", "sig_b")
             .distinct())
    matches = F.size(F.filter(
        F.zip_with("sig_a", "sig_b", lambda a, b: a == b), lambda x: x))
    return (pairs.select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"),
        (matches.cast("double") / F.size("sig_a")).alias("est_jaccard")))


def ngram_jaccard_pairs(docs: DataFrame, candidate_pairs: DataFrame,
                        text_col: str = "text", id_col: str = "doc_id",
                        shingle_n: int = 3,
                        shingles: DataFrame | None = None) -> DataFrame:
    """Exact n-gram Jaccard for given candidate pairs (verification stage
    after LSH): |A∩B| / |A∪B| over shingle sets.  Pass the pipeline's
    shared ``shingle_frame`` via ``shingles`` to avoid re-shingling the
    corpus (repartitioning is pointless here — the candidate join
    reshuffles on the pair keys anyway)."""
    if shingles is None:
        shingles = shingle_frame(docs, text_col, id_col, shingle_n,
                                 repartition=False)
    a = shingles.select(F.col(id_col).alias("doc_a"),
                        F.col("__shingles").alias("sh_a"))
    b = shingles.select(F.col(id_col).alias("doc_b"),
                        F.col("__shingles").alias("sh_b"))
    joined = candidate_pairs.join(a, "doc_a").join(b, "doc_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return joined.select("doc_a", "doc_b",
                         (inter.cast("double") / union).alias("jaccard"))


def verified_pairs(docs: DataFrame, threshold: float,
                   text_col: str = "text", id_col: str = "doc_id",
                   max_bucket_size: int | None = None) -> DataFrame:
    """(doc_a, doc_b, jaccard): LSH candidate pairs whose EXACT n-gram
    Jaccard is >= ``threshold``.  ONE persisted shingle pass feeds both
    the signatures and the verification (see ``shingle_frame``);
    ``max_bucket_size`` is ``lsh_candidate_pairs``' hot-bucket guard."""
    sh = materialize.persist(shingle_frame(docs, text_col, id_col))
    candidates = lsh_candidate_pairs(docs, text_col, id_col,
                                     max_bucket_size=max_bucket_size,
                                     shingles=sh,
                                     include_est_jaccard=False)
    return (ngram_jaccard_pairs(docs, candidates, text_col, id_col,
                                shingles=sh)
            .where(F.col("jaccard") >= threshold))


def dedup_corpus(docs: DataFrame, method: str = "exact",
                 text_col: str = "text", id_col: str = "doc_id",
                 threshold: float = 0.8,
                 max_bucket_size: int | None = 100_000) -> DataFrame:
    """End-to-end corpus deduplication: return ``docs`` minus duplicates.

    - ``exact``: drop all but the min-id doc of each identical-text group.
    - ``minhash``: LSH candidates → exact n-gram Jaccard ≥ ``threshold`` →
      connected into groups via min-id propagation → keep group minimum.
      (One iteration of min-propagation: each doc removed if it has a
      higher id than any ≥-threshold partner — the standard keep-first
      near-dup policy.)
    """
    if method == "exact":
        removable = (exact_duplicate_mapping(docs, text_col, id_col)
                     .select(F.col("dup_id").alias(id_col)))
        return docs.join(removable, id_col, "left_anti")
    if method == "minhash":
        # Exact-collapse pre-pass (r10): RAW-identical texts have
        # identical shingle sets, so every non-min member of a
        # raw-identical group is removable unconditionally (Jaccard 1 >=
        # any threshold <= 1) and only the min-id representative needs
        # to enter the LSH stage.  Provably output-identical to running
        # LSH over the full corpus: a doc survives iff no lower-id doc
        # has Jaccard >= threshold with it, and raw-identical members
        # share every Jaccard value with their representative.  The
        # point is SKEW: a mega-duplicate cluster (boilerplate, mirrored
        # pages — the hot-fingerprint case) collapses to ONE row via a
        # map-side-combinable groupBy instead of a |cluster|^2 in-bucket
        # pair join; where the hot-bucket guard previously had to DROP
        # an oversized bucket (recall loss), the collapse removes the
        # duplicates exactly.  Raw md5, NOT fingerprint_expr: the
        # normalized fingerprint equates case/whitespace variants whose
        # raw shingle sets differ — those must face the real Jaccard
        # test.  Docs with < 3 tokens yield no shingles, join no pairs,
        # and must survive exactly as before — they are excluded from
        # the collapse.
        exact_removable = None
        reps = docs
        if threshold <= 1.0:
            raw_fp = F.md5(F.encode(F.col(text_col), "UTF-8"))
            shingleable = F.size(F.split(F.col(text_col), " ")) >= 3
            keyed = docs.where(shingleable).select(
                F.col(id_col), raw_fp.alias("__raw_fp"))
            grp = (keyed.groupBy("__raw_fp")
                   .agg(F.min(id_col).alias("__keep"),
                        F.count("*").alias("__n"))
                   .where(F.col("__n") > 1))
            # persisted (r15): referenced by the reps anti-join AND the
            # final removable union — two separate md5-groupBy subtree
            # executions otherwise (don't recompute shared subtrees);
            # id-list-sized frame
            exact_removable = materialize.persist(
                keyed.join(grp, "__raw_fp")
                .where(F.col(id_col) != F.col("__keep"))
                .select(F.col(id_col)))
            reps = docs.join(exact_removable, id_col, "left_anti")
        # Hot-bucket guard stays ON for the E2E path: after the collapse
        # it guards NEAR-duplicate boilerplate buckets (distinct texts,
        # shared bands), which the collapse can't touch.
        verified = verified_pairs(reps, threshold, text_col, id_col,
                                  max_bucket_size)
        removable = verified.select(F.col("doc_b").alias(id_col)).distinct()
        if exact_removable is not None:
            removable = removable.unionByName(exact_removable).distinct()
        return docs.join(removable, id_col, "left_anti")
    raise ValueError(f"unknown dedup method: {method!r}")


def near_dup_clusters(docs: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", threshold: float = 0.5,
                      max_bucket_size: int | None = 100_000) -> DataFrame:
    """Near-duplicate CLUSTERS — (doc_id, cluster_id, cluster_size),
    cluster_id = min member id — with the exact-collapse pre-pass.

    The r10 collapse argument (``dedup_corpus``) extended from survivor
    selection to clustering: raw-identical texts share every Jaccard
    value, so only the min-id representative of each raw-identical group
    enters the LSH → verify → connected-components stage, and members
    are re-attached afterwards:

    - a member joins its representative's component (identical text ⇒
      Jaccard 1 ≥ threshold edge to the rep, and the same edges to
      everything else the rep touches);
    - a raw-identical group whose rep lands in NO component is its own
      clique-cluster (its internal pairs are all true duplicates) with
      cluster_id = rep = the group's min id;
    - cluster_id is preserved exactly: the rep is its group's min, so
      the component min over reps equals the min over all members;
    - cluster_size is recomputed over the EXPANDED membership.

    Only shingleable docs (≥ 3 tokens) are collapsed — shingle-less docs
    produce no candidate pairs and never cluster, exactly as in the
    uncollapsed form.

    Why it exists: found by the r11 skew-mode paired compare — on a 10×
    replica with 20% identical text the uncollapsed form grinds through
    a quadratic verified-pair intermediate (~(0.2N)²/2 true duplicate
    pairs) before CC even starts, while the collapse makes the hot
    cluster cost ONE map-side-combinable groupBy.  Same failure mode
    DuckDB's oracle hits at 44.7 GiB OOM on identical data."""
    from pyspark.sql import Window

    from moonshot_spark.datapipe.graph import duplicate_clusters

    raw_fp = F.md5(F.encode(F.col(text_col), "UTF-8"))
    shingleable = F.size(F.split(F.col(text_col), " ")) >= 3
    keyed = docs.where(shingleable).select(
        F.col(id_col), raw_fp.alias("__raw_fp"))
    grp = (keyed.groupBy("__raw_fp")
           .agg(F.min(id_col).alias("__rep"), F.count("*").alias("__n")))
    mapping = keyed.join(grp, "__raw_fp").select(id_col, "__rep", "__n")
    reps = docs.join(
        mapping.where(F.col(id_col) != F.col("__rep")).select(id_col),
        id_col, "left_anti")

    verified = (verified_pairs(reps, threshold, text_col, id_col,
                               max_bucket_size)
                .select("doc_a", "doc_b"))
    comp = (duplicate_clusters(verified, id_out=id_col)
            .select(F.col(id_col).alias("__rep"), "cluster_id"))
    expanded = (mapping.join(comp, "__rep", "left")
                .withColumn("cluster_id",
                            F.coalesce(F.col("cluster_id"),
                                       F.when(F.col("__n") > 1,
                                              F.col("__rep"))))
                .where(F.col("cluster_id").isNotNull())
                .select(id_col, "cluster_id"))
    return expanded.withColumn(
        "cluster_size", F.count("*").over(Window.partitionBy("cluster_id")))


def simhash_expr(col, bits: int = 32):
    """SimHash signature as a ``bits``-char '0'/'1' string.

    Per-token hash bits come from the md5 hex digest: bit j of a token =
    high bit of hex nibble j (nibble >= '8' lexicographically ⇔ value ≥ 8).
    Bit j of the signature is set when the token vote is positive.  md5 +
    string comparisons keep the signature identical in every engine; near-
    duplicate candidates are signatures within small Hamming distance
    (``hamming_expr``).
    """
    c = F.col(col) if isinstance(col, str) else col
    toks = F.split(c, " ")
    tok_md5 = F.transform(toks, lambda t: F.md5(F.encode(t, "UTF-8")))
    bit_chars = F.transform(
        F.sequence(F.lit(1), F.lit(bits)),
        lambda j: F.when(
            F.aggregate(
                tok_md5, F.lit(0).cast("bigint"),
                lambda acc, h: acc + F.when(
                    h.substr(j, F.lit(1)) >= "8", F.lit(1)).otherwise(F.lit(-1))
            ) > 0,
            F.lit("1")).otherwise(F.lit("0")))
    return F.array_join(bit_chars, "")


def hamming_expr(sig_a, sig_b, bits: int = 32):
    """Hamming distance between two equal-length bitstring signatures."""
    a = F.col(sig_a) if isinstance(sig_a, str) else sig_a
    b = F.col(sig_b) if isinstance(sig_b, str) else sig_b
    return F.aggregate(
        F.sequence(F.lit(1), F.lit(bits)), F.lit(0),
        lambda acc, j: acc + F.when(
            a.substr(j, F.lit(1)) == b.substr(j, F.lit(1)), F.lit(0)
        ).otherwise(F.lit(1)))


def prefix_filter_jaccard_pairs(docs: DataFrame, threshold: float = 0.6,
                                text_col: str = "text",
                                id_col: str = "doc_id",
                                shingle_n: int = 3,
                                shingles: DataFrame | None = None) -> DataFrame:
    """EXACT all-pairs Jaccard similarity join via prefix filtering
    (PPJoin-style; Xiao et al., WWW'08) — the deterministic alternative
    to MinHash/LSH: no false negatives, no signatures.

    Principle: order every document's distinct tokens by GLOBAL rarity
    (corpus frequency asc, token asc).  Two token sets with Jaccard >=
    theta must share at least one token within each other's first
    ``|T| - ceil(theta*|T|) + 1`` tokens of that order, so the candidate
    join only keys on those prefix tokens.

    Scale design: the prefix tokens are by construction the RAREST in the
    corpus — the frequency ordering is itself the skew guard (a stop-word
    can never become a join key; compare LSH's mega-bucket problem, which
    needs an explicit cap).  Shuffles: one on token (frequency build +
    rank join), one on id for the per-doc rank window, one for the
    candidate equi-join, then verification joins on bounded candidate
    pairs with ``array_intersect`` on the two full token sets.

    The similarity set is the word ``shingle_n``-gram shingle set (same
    as the MinHash path), not raw word tokens: unigram Jaccard saturates
    on templated corpora (most pairs ≥ any threshold → quadratic OUTPUT,
    which no algorithm can make sub-quadratic), while shingles keep true
    near-dups sharp.
    """
    # shingle_frame widens under-parallel sources before the CPU-heavy
    # shingling — the explode is the hot projection of this operator.
    # ``shingles``: callers running BOTH this and the MinHash path over
    # one corpus (lsh_recall_report) pass the shared persisted frame so
    # the corpus is shingled once, not twice.
    if shingles is None:
        shingles = shingle_frame(docs, text_col, id_col, shingle_n)
    # Explicit id-not-null on the SHARED token frame (r14): the final
    # pair joins already push IsNotNull(id) into the sorted-sets branch
    # of the scan, but not into the frequency branch — the two widened
    # source exchanges then canonicalize differently and AQE ran the
    # single-task source scan TWICE per execution (2 x ~1.5 s of
    # serial critical-path time at sf0.1; commit f02fa9c).  Output is
    # provably unchanged: emitted pairs carry non-null ids by
    # construction (inner equi-joins + id < id), and frequencies only
    # steer CANDIDATE selection — the prefix-filter guarantee holds for
    # any fixed total order, so the exact-verified pair set is
    # order-independent.  count(id_col) keeps the same column set alive
    # in both branches.
    tok = (shingles.where(F.col(id_col).isNotNull())
           .select(id_col, F.explode("__shingles").alias("token")))
    freq = tok.groupBy("token").agg(F.count(id_col).alias("__f"))
    # ONE groupBy(doc) builds the rarity-sorted shingle array; prefixes
    # are then a map-side slice — no per-doc rank window, and the same
    # array serves verification (no third shingle pass).  The per-doc
    # collect is bounded by document length, never corpus size.
    # The sorted-set frame feeds FOUR consumers (two candidate-join
    # sides + two verification sides).  Because the input is already
    # hash-partitioned by id (the widen repartition), the groupBy needs
    # NO exchange, so the whole shingle+freq-join+collect+sort stage
    # re-executed once PER CONSUMER (r14 stage profile: 4 identical
    # 32-task stages, ~42 s of executor time for ~12 s of unique work).
    # A trailing repartition(id) as an AQE-reusable shuffle boundary does
    # not help: EnsureRequirements ELIDES a user repartition under the
    # broadcast joins these consumers plan into at sf0.1 AND x10 (in
    # the executed AQE-final plans partial_collect_list appears once per
    # branch; no ReusedExchange over the aggregate) — only the widened
    # source exchange is reused, 3x.  A within-plan persist computes the
    # aggregate ONCE and serves every consumer (incl. broadcast builds)
    # from cached blocks; x10 A/B: 12.05 -> 8.92 s min-of-3, sf0.1
    # flat-to-equal, outputs identical.  (The r9 alternative, an eager
    # localCheckpoint, measured slower: serialize-to-blocks + severed
    # lineage; persist stays lazy and columnar.)
    sorted_sets = materialize.persist(
        tok.join(freq, "token")
        .groupBy(id_col)
        .agg(ordered_values("__f", "token").alias("__ts")))
    prefix = _ppjoin_prefixes(sorted_sets, threshold, id_col)
    cands = (prefix.alias("a")
             .join(prefix.alias("b"), "token")
             .where((F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
                    & _ppjoin_length_ok(threshold))
             .select(F.col(f"a.{id_col}").alias("doc_a"),
                     F.col(f"b.{id_col}").alias("doc_b"))
             .distinct())
    return _ppjoin_verify(cands, sorted_sets, threshold, id_col)


def _ppjoin_prefixes(sets: DataFrame, threshold: float,
                     id_col: str) -> DataFrame:
    """(id, __sz, token): the first ``|T| - ceil(theta*|T|) + 1``
    tokens of each (id, __ts) set, the only ones a candidate join needs
    to key on (see prefix_filter_jaccard_pairs)."""
    sz = F.size("__ts")
    prefix_len = sz - F.ceil(sz * F.lit(threshold)) + 1
    return sets.select(F.col(id_col), sz.alias("__sz"),
                       F.explode(F.slice("__ts", 1, prefix_len))
                       .alias("token"))


def _ppjoin_length_ok(threshold: float):
    """Length filter on a join of prefix frames ``a``/``b``: Jaccard >=
    theta forces min(|A|,|B|) >= theta * max(|A|,|B|)."""
    return (F.least(F.col("a.__sz"), F.col("b.__sz"))
            >= F.lit(threshold)
            * F.greatest(F.col("a.__sz"), F.col("b.__sz")))


def _ppjoin_verify(cands: DataFrame, sets: DataFrame, threshold: float,
                   id_col: str) -> DataFrame:
    """(doc_a, doc_b, n_shared, jaccard) of the candidate pairs whose
    full sets in ``sets`` have Jaccard >= threshold."""
    a_sets = sets.select(F.col(id_col).alias("doc_a"),
                         F.col("__ts").alias("__ta"))
    b_sets = sets.select(F.col(id_col).alias("doc_b"),
                         F.col("__ts").alias("__tb"))
    inter = F.size(F.array_intersect("__ta", "__tb"))
    union = F.size("__ta") + F.size("__tb") - inter
    return (cands.join(a_sets, "doc_a").join(b_sets, "doc_b")
            .select("doc_a", "doc_b",
                    inter.cast("bigint").alias("n_shared"),
                    (inter.cast("double") / union.cast("double"))
                    .alias("jaccard"))
            .where(F.col("jaccard") >= threshold))
