"""LLM training-data pipeline queries: text quality, dedup, similarity, corpus mixing, embeddings.

The deduplication section writes the near-dup oracle chain once: shingles,
MinHash signatures, LSH bands, candidate pairs and connected components.
Each piece is spliced into every oracle that runs it unchanged, as are the
similarity section's exact-cosine CTEs.  The MinHash-LSH and PPJoin pair
oracles are also reused whole by their incremental twins, which add a
batch filter.  The iterative trainers' oracles are unrolled by generators
(``_logreg_cte_chain``, ``_bpe_cte_chain``, ``_pca_cte_chain``, ...)."""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from moonshot_spark import materialize
from moonshot_spark.functions.folds import (
    fold_sum, fold_sum_exact, ordered_values,
)
from moonshot_spark.queries._base import (
    COPURCHASE_GRAPH_SQL, ORACLES, chi_square, chi_square_sql, register,
)
from moonshot_spark.sources.local import local_df
from moonshot_spark.sources.parquet import load_table
from moonshot_spark.queries.warehouse import _copurchase_edges


# --------------------------------------------------------------------- #
# datapipe: text analysis                                               #
# --------------------------------------------------------------------- #

@register("text_stats", """
WITH toks AS (
    SELECT doc_id, text, string_split(text, ' ') AS t FROM documents
)
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars,
       CAST(len(t) AS BIGINT) AS n_tokens,
       CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE)
           / len(t) AS mean_token_len,
       CAST(len(list_filter(t, x -> x IN
           ('the','and','of','to','a','in','is','it'))) AS DOUBLE)
           / len(t) AS stopword_ratio,
       CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))
           AS DOUBLE) / length(text) AS punct_ratio,
       CAST(length(text) - length(regexp_replace(text, '[A-Z]', '', 'g'))
           AS DOUBLE) / length(text) AS upper_ratio
FROM toks
""")
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from moonshot_spark.datapipe.text import quality_exprs

    docs = load_table(spark, sf_dir, "documents")
    q = quality_exprs("text")
    return docs.select("doc_id", *[q[k].alias(k) for k in
                                   ("n_chars", "n_tokens", "mean_token_len",
                                    "stopword_ratio", "punct_ratio", "upper_ratio")])


@register("pii_scrub", """
WITH pii AS (
    SELECT doc_id,
           text || ' contact user' || CAST(doc_id AS VARCHAR)
                || '@example.com or 555-'
                || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                || ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                || '.' || CAST(doc_id % 100 AS VARCHAR) AS text
    FROM documents
), redacted AS (
    SELECT doc_id, text,
           regexp_replace(regexp_replace(regexp_replace(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IPV4>', 'g'),
               '\\b\\d{3}-\\d{4}\\b', '<PHONE>', 'g') AS clean
    FROM pii
)
SELECT doc_id,
       CAST(len(regexp_extract_all(text,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
       CAST(len(regexp_extract_all(text,
           '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) AS BIGINT) AS n_ipv4,
       CAST(len(regexp_extract_all(text,
           '\\b\\d{3}-\\d{4}\\b')) AS BIGINT) AS n_phone,
       md5(clean) AS clean_md5
FROM redacted
""")
def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub (beyond-reference LLM datapipe op).  The synthetic corpus
    carries no PII, so deterministic synthetic email/IP/phone strings are
    appended per doc before scrubbing; the oracle checks both the counts
    and the md5 of the redacted text."""
    from moonshot_spark.datapipe.pii import pii_count_exprs, pii_redact_expr

    docs = load_table(spark, sf_dir, "documents")
    pii = docs.select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit(" contact user"),
            F.col("doc_id").cast("string"), F.lit("@example.com or 555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit(" from 10.0."), (F.col("doc_id") % 256).cast("string"),
            F.lit("."), (F.col("doc_id") % 100).cast("string"),
        ).alias("text"))
    counts = pii_count_exprs("text")
    return pii.select(
        "doc_id",
        counts["email"].alias("n_email"),
        counts["ipv4"].alias("n_ipv4"),
        counts["phone"].alias("n_phone"),
        F.md5(F.encode(pii_redact_expr("text"), "UTF-8")).alias("clean_md5"))


@register("train_test_split_hash", """
WITH b AS (
    SELECT lang, n_chars,
           CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
               % 100 AS bucket
    FROM documents
), s AS (
    SELECT lang, n_chars,
           CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
    FROM b
)
SELECT lang, split, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS DOUBLE) / count(*) AS avg_chars
FROM s GROUP BY lang, split
""")
def train_test_split_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic md5-bucket train/val/test split (beyond-reference LLM
    datapipe op): reproducible across runs, engines, and partitionings —
    unlike df.sample(), whose output depends on partition layout."""
    from moonshot_spark.datapipe.sampling import train_test_split

    docs = load_table(spark, sf_dir, "documents")
    split = train_test_split(docs, "doc_id")
    return (split.groupBy("lang", "split")
            .agg(F.count("*").alias("n_docs"),
                 (F.sum("n_chars").cast("double") / F.count("*"))
                 .alias("avg_chars")))


@register("cap_per_lang", """
WITH ranked AS (
    SELECT doc_id, lang,
           row_number() OVER (PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
    FROM documents
)
SELECT doc_id, lang, CAST(rn AS INT) AS rn
FROM ranked WHERE rn <= 50
""")
def cap_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group cap sampling: keep at most 50 docs per language, selected
    by deterministic md5-of-id order so the kept subset is stable across
    runs and partitionings — the anti-domination cap of a training mix.
    See ``datapipe.sampling.cap_per_group``."""
    from moonshot_spark.operators.ranking import grouped_topk

    docs = load_table(spark, sf_dir, "documents")
    order = F.md5(F.col("doc_id").cast("string"))
    # two-phase grouped top-k: same rows/ranks as the plain window the
    # oracle replays, but no per-lang single-task funnel (r8)
    return (grouped_topk(docs.select("doc_id", "lang"), ["lang"],
                         [order.asc(), F.col("doc_id").asc()], 50,
                         rank_col="rn")
            .select("doc_id", "lang", F.col("rn").cast("int").alias("rn")))


@register("table_column_stats", """
SELECT 'l_quantity' AS column_name,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(l_quantity) AS BIGINT) AS n_nonnull,
       CAST(count(DISTINCT l_quantity) AS BIGINT) AS n_distinct,
       CAST(min(l_quantity) AS DOUBLE) AS min_value,
       CAST(max(l_quantity) AS DOUBLE) AS max_value
FROM lineitem
UNION ALL
SELECT 'l_extendedprice',
       CAST(count(*) AS BIGINT),
       CAST(count(l_extendedprice) AS BIGINT),
       CAST(count(DISTINCT l_extendedprice) AS BIGINT),
       CAST(min(l_extendedprice) AS DOUBLE),
       CAST(max(l_extendedprice) AS DOUBLE)
FROM lineitem
UNION ALL
SELECT 'l_partkey',
       CAST(count(*) AS BIGINT),
       CAST(count(l_partkey) AS BIGINT),
       CAST(count(DISTINCT l_partkey) AS BIGINT),
       CAST(min(l_partkey) AS DOUBLE),
       CAST(max(l_partkey) AS DOUBLE)
FROM lineitem
""")
def table_column_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style exact column statistics (rows, non-null, NDV,
    min/max) for three lineitem columns in ONE scan — the stats a cost-
    based optimizer or layout audit feeds on.  Spark computes all three
    exact count-distincts in a single Aggregate via expand (one pass;
    at 100 TB swap ``countDistinct`` for ``approx_count_distinct`` and
    the plan loses the expand entirely)."""
    li = load_table(spark, sf_dir, "lineitem")
    cols = ["l_quantity", "l_extendedprice", "l_partkey"]
    agg = li.select([F.count("*").alias("n_rows")]
                    + [x for c in cols for x in
                       (F.count(c).alias(f"nn_{c}"),
                        F.countDistinct(c).alias(f"nd_{c}"),
                        F.min(c).cast("double").alias(f"mn_{c}"),
                        F.max(c).cast("double").alias(f"mx_{c}"))])
    rows = [F.struct(F.lit(c).alias("column_name"),
                     F.col("n_rows").alias("n_rows"),
                     F.col(f"nn_{c}").alias("n_nonnull"),
                     F.col(f"nd_{c}").alias("n_distinct"),
                     F.col(f"mn_{c}").alias("min_value"),
                     F.col(f"mx_{c}").alias("max_value"))
            for c in cols]
    return agg.select(F.explode(F.array(*rows)).alias("s")).select("s.*")


@register("stratified_sample_hash", """
WITH b AS (
    SELECT lang,
           CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
               % 100 AS bucket
    FROM documents
), kept AS (
    SELECT lang FROM b
    WHERE bucket < 100 * (CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 1.0
                                    WHEN 'es' THEN 0.25 ELSE 0.0 END)
)
SELECT lang, CAST(count(*) AS BIGINT) AS n_kept
FROM kept GROUP BY lang
""")
def stratified_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum deterministic sampling (corpus mixing: keep 100% of de,
    50% of en, 25% of es, drop the rest), value-checked by per-language
    kept counts."""
    from moonshot_spark.datapipe.sampling import stratified_sample

    docs = load_table(spark, sf_dir, "documents")
    kept = stratified_sample(docs, {"en": 0.5, "de": 1.0, "es": 0.25},
                             strata_col="lang")
    return kept.groupBy("lang").agg(F.count("*").alias("n_kept"))


@register("corpus_mix_parity", """
WITH counts AS (
    SELECT lang, count(*) AS n FROM documents GROUP BY lang
), mx AS (
    SELECT max(n) AS mxn FROM counts
), rates AS (
    SELECT lang, sqrt(CAST(mxn AS DOUBLE) / n) AS r FROM counts, mx
), wc AS (
    SELECT d.doc_id, d.lang,
           CAST(floor(r) AS BIGINT) +
           CASE WHEN CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))
                          AS BIGINT) % 1000
                     < CAST(floor((r - floor(r)) * 1000) AS BIGINT)
                THEN 1 ELSE 0 END AS copies
    FROM documents d JOIN rates USING (lang)
)
SELECT doc_id, lang, CAST(unnest(range(1, copies + 1)) AS BIGINT) AS copy_id
FROM wc
""")
def corpus_mix_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature (alpha=0.5) corpus rebalancing: each language is
    upsampled toward the largest one with repetition factor
    sqrt(max_n / n_lang), fractional copies resolved by deterministic doc
    hash.  Value-checked per emitted copy — the oracle reproduces the
    exact copy multiset, pinning engine-independent repetition."""
    from moonshot_spark.datapipe.sampling import parity_upsample

    docs = load_table(spark, sf_dir, "documents")
    return parity_upsample(docs, "lang").select("doc_id", "lang", "copy_id")


@register("context_chunks", """
WITH t AS (
    SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), s AS (
    SELECT doc_id, toks, unnest(range(0, len(toks), 32)) AS start FROM t
)
SELECT doc_id,
       start // 32 AS chunk_id,
       CAST(len(list_slice(toks, start + 1, start + 64)) AS BIGINT)
           AS n_tokens,
       md5(array_to_string(list_slice(toks, start + 1, start + 64), ' '))
           AS chunk_md5
FROM s
""")
def context_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size token windows (size 64, stride 32) per document — the
    map-side explode that lays long documents out as overlapping model
    contexts.  Chunk text crosses the plan as an md5, never as bytes."""
    from moonshot_spark.datapipe.packing import chunk_tokens

    docs = load_table(spark, sf_dir, "documents")
    return chunk_tokens(docs, size=64, stride=32)


@register("pack_bins_report", """
WITH n AS (
    SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tok
    FROM documents
), c AS (
    SELECT doc_id, lang, n_tok,
           COALESCE(SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_before
    FROM n
)
SELECT lang, CAST(cum_before // 256 AS BIGINT) AS bin_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN (cum_before % 256) + n_tok > 256 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_straddle
FROM c GROUP BY lang, CAST(cum_before // 256 AS BIGINT)
""")
def pack_bins_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-style sequence packing into 256-token bins per language
    shard (window cumsum → floor-div bin id) with per-bin fill and
    boundary-straddle counts.  Integer arithmetic end to end, so the
    report hash-matches the SQL oracle exactly."""
    from moonshot_spark.datapipe.packing import pack_stats

    docs = load_table(spark, sf_dir, "documents")
    return pack_stats(docs, budget=256)


@register("shared_chunks", """
WITH all_docs AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id < 25
), t AS (
    SELECT doc_id, string_split(text, ' ') AS toks FROM all_docs
), s AS (
    SELECT doc_id, toks, unnest(range(0, len(toks), 32)) AS start FROM t
), chunks AS (
    SELECT doc_id,
           md5(array_to_string(list_slice(toks, start + 1, start + 32), ' '))
               AS chunk_md5
    FROM s
), freq AS (
    SELECT chunk_md5 FROM chunks GROUP BY chunk_md5
    HAVING count(DISTINCT doc_id) BETWEEN 2 AND 50
), hits AS (
    SELECT c.doc_id, c.chunk_md5 FROM chunks c JOIN freq USING (chunk_md5)
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(count(*) AS BIGINT) AS n_shared_chunks
FROM hits a JOIN hits b
  ON a.chunk_md5 = b.chunk_md5 AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
""")
def shared_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document verbatim overlap via shared 32-token chunks —
    the chunk-level contamination/plagiarism detector.  Chunks travel as
    md5 (32 bytes, never text); chunk hashes seen in more than 50
    documents are dropped BEFORE the self-join (boilerplate chunks are
    uninformative, and one 10M-doc boilerplate chunk would otherwise be a
    10^14-pair blowup — the same hot-key guard as the LSH bucket cap).
    Clone-seeded so genuine shared chunks exist at small SFs."""
    from moonshot_spark.datapipe.packing import chunk_tokens

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    clones = (docs.where(F.col("doc_id") < 25)
              .withColumn("doc_id", F.col("doc_id") + F.lit(1_000_000)))
    chunks = (chunk_tokens(docs.unionByName(clones), size=32, stride=32)
              .select("doc_id", "chunk_md5"))
    freq = (chunks.groupBy("chunk_md5")
            .agg(F.countDistinct("doc_id").alias("__nd"))
            .where(F.col("__nd").between(2, 50))
            .select("chunk_md5"))
    hits = chunks.join(freq, "chunk_md5")
    a = hits.select(F.col("doc_id").alias("doc_a"), "chunk_md5")
    b = hits.select(F.col("doc_id").alias("doc_b"), "chunk_md5")
    return (a.join(b, "chunk_md5")
            .where(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F.count("*").alias("n_shared_chunks")))


@register("decontaminate_overlap", """
WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
), sh AS (
    SELECT doc_id, list_distinct(list_transform(range(0, len(t) - 2),
        i -> array_to_string(list_slice(t, i + 1, i + 3), ' '))) AS shingles
    FROM toks
), ev AS (
    SELECT DISTINCT unnest(shingles) AS ngram FROM sh WHERE doc_id % 50 = 0
), tr AS (
    SELECT doc_id, unnest(shingles) AS ngram FROM sh WHERE doc_id % 50 <> 0
)
SELECT tr.doc_id, CAST(count(*) AS BIGINT) AS n_shared_ngrams
FROM tr JOIN ev ON tr.ngram = ev.ngram
GROUP BY tr.doc_id
HAVING count(*) >= 1
""")
def decontaminate_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (beyond-reference LLM datapipe op): eval
    set = every 50th doc; count shared 3-grams per training doc via a
    broadcast probe of the eval n-gram set."""
    from moonshot_spark.datapipe.decontam import ngram_overlap
    from moonshot_spark.sources.parquet import ensure_scan_parallelism

    # the 3-gram explode is pre-shuffle per-row work: parallelize the
    # single-row-group scan (no-op on real layouts)
    docs = ensure_scan_parallelism(load_table(spark, sf_dir, "documents"))
    ev = docs.where(F.col("doc_id") % 50 == 0)
    train = docs.where(F.col("doc_id") % 50 != 0)
    return ngram_overlap(train, ev)


@register("repetition_signals", """
WITH t AS (
    SELECT doc_id, list_slice(string_split(text, ' '), 1, 10000) AS toks
    FROM documents
), s AS (
    SELECT doc_id, toks, len(toks) AS n,
           list_distinct(toks) AS dis,
           CASE WHEN len(toks) >= 2 THEN
               list_transform(range(1, len(toks)),
                              i -> toks[i] || ' ' || toks[i + 1])
           ELSE [] END AS bg
    FROM t
), s2 AS (
    SELECT doc_id, toks, n, dis, bg, len(bg) AS nb,
           len(dis) AS nd, len(list_distinct(bg)) AS nbd,
           list_max(list_transform(dis,
               d -> len(list_filter(toks, x -> x = d)))) AS topc,
           CASE WHEN len(bg) > 0 THEN
               list_max(list_transform(list_distinct(bg),
                   d -> len(list_filter(bg, x -> x = d))))
           END AS topb
    FROM s
)
SELECT doc_id,
       CAST(n AS BIGINT) AS n_tokens,
       CAST(n - nd AS DOUBLE) / n AS dup_token_frac,
       CAST(topc AS DOUBLE) / n AS top_token_frac,
       CASE WHEN nb > 0 THEN CAST(nb - nbd AS DOUBLE) / nb END AS dup_bigram_frac,
       CASE WHEN nb > 0 THEN CAST(topb AS DOUBLE) / nb END AS top_bigram_frac
FROM s2
""")
def repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters (beyond-reference LLM datapipe op):
    duplicate-token / top-token / bigram repetition fractions per doc."""
    from moonshot_spark.datapipe.text import repetition_struct_expr

    docs = load_table(spark, sf_dir, "documents")
    return (docs.select("doc_id",
                        repetition_struct_expr("text").alias("rep"))
            .select("doc_id", "rep.*"))


@register("lang_id", """
WITH toks AS (
    SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents
), scores AS (
    SELECT doc_id, lang,
           len(list_filter(t, x -> x IN ('der','die','das','und','ist','ein','nicht','mit'))) AS s_de,
           len(list_filter(t, x -> x IN ('the','and','of','to','a','in','is','it'))) AS s_en,
           len(list_filter(t, x -> x IN ('el','la','de','que','y','en','un','es'))) AS s_es,
           len(list_filter(t, x -> x IN ('le','la','et','les','des','un','une','est'))) AS s_fr
    FROM toks
)
SELECT doc_id, lang AS lang_label,
       CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
            WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
            WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
            WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
            ELSE 'fr' END AS lang_pred,
       CAST(s_en AS INT) AS s_en, CAST(s_de AS INT) AS s_de,
       CAST(s_es AS INT) AS s_es, CAST(s_fr AS INT) AS s_fr
FROM scores
""")
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from moonshot_spark.datapipe.text import lang_id_expr, lang_scores_expr

    docs = load_table(spark, sf_dir, "documents")
    scores = lang_scores_expr("text")
    return docs.select(
        "doc_id", F.col("lang").alias("lang_label"),
        lang_id_expr("text").alias("lang_pred"),
        *[scores[lang].cast("int").alias(f"s_{lang}")
          for lang in ("en", "de", "es", "fr")])


# --------------------------------------------------------------------- #
# datapipe: deduplication                                               #
# --------------------------------------------------------------------- #

# oracle CTEs of the near-dup chain (dedup.verified_pairs and
# near_dup_clusters), each spliced into every oracle that runs that step
# unchanged.  MinHash signatures (dedup.minhash_signatures): 16 hashes,
# each the min over a doc's shingles of one 8-hex-digit slice of md5(s)
# or of md5 with an 'a|', 'b|' or 'c|' salt; the shingles ride along
# for exact Jaccard.
_SHINGLE_SIGS_SQL = """sl AS (
    SELECT doc_id, shingles, list_transform(shingles,
        s -> flatten(list_transform(
        [md5(s), md5('a|' || s), md5('b|' || s), md5('c|' || s)],
        h -> [substr(h, 1, 8), substr(h, 9, 8), substr(h, 17, 8),
              substr(h, 25, 8)]))) AS slices
    FROM sh
), sigs AS (
    SELECT doc_id, shingles, list_transform(range(1, 17),
        i -> list_min(list_transform(slices, a -> a[i]))) AS sig
    FROM sl
)"""

# verified_pairs' LSH side: 3-gram shingles of ``toks`` (none under 3
# tokens), their signatures, and 4 bands of 4 hashes
_VERIFIED_BANDS_SQL = f"""sh AS (
    SELECT doc_id, CASE WHEN len(t) >= 3 THEN
        list_distinct(list_transform(range(0, len(t) - 2),
            i -> array_to_string(list_slice(t, i + 1, i + 3), ' ')))
        ELSE [] END AS shingles
    FROM toks
), {_SHINGLE_SIGS_SQL}, bands AS (
    SELECT doc_id, shingles, b.band_id,
           md5(array_to_string(list_slice(sig, b.band_id * 4 + 1,
                                          b.band_id * 4 + 4), '|')) AS band_hash
    FROM sigs, (SELECT unnest(range(0, 4)) AS band_id) b
)"""

# candidate pairs: two docs that share a band, with both shingle sets
_CANDIDATE_PAIRS_SQL = """pairs AS (
    SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b,
           l.shingles AS sh_a, r.shingles AS sh_b
    FROM bands l JOIN bands r
      ON l.band_id = r.band_id AND l.band_hash = r.band_hash
     AND l.doc_id < r.doc_id
)"""

# near_dup_clusters at 0.5: candidates verified by exact Jaccard, then
# connected components, cluster_id = the smallest reachable doc_id
_COMPONENTS_SQL = """vpairs AS (
    SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
    FROM bands l JOIN bands r
      ON l.band_id = r.band_id AND l.band_hash = r.band_hash
     AND l.doc_id < r.doc_id
    WHERE CAST(len(list_intersect(l.shingles, r.shingles)) AS DOUBLE)
              / len(list_distinct(l.shingles || r.shingles)) >= 0.5
), edges AS (
    SELECT doc_a AS s, doc_b AS d FROM vpairs
    UNION
    SELECT doc_b, doc_a FROM vpairs
), walk(node, comp) AS (
    SELECT s, s FROM edges
    UNION
    SELECT e.d, w.comp FROM walk w JOIN edges e ON e.s = w.node
), cc AS (
    SELECT node AS doc_id, min(comp) AS cluster_id FROM walk GROUP BY node
)"""


@register("dedup_exact", """
WITH all_docs AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id < 25
), fp AS (
    SELECT doc_id,
           md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fingerprint
    FROM all_docs
)
SELECT fingerprint, CAST(count(*) AS BIGINT) AS n_docs,
       min(doc_id) AS keep_id
FROM fp GROUP BY fingerprint HAVING count(*) > 1
""")
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The synthetic corpus has no exact duplicates at small SFs, which
    # would make this query 0-row (vacuously green).  Union an id-shifted
    # clone of the first 25 docs so the fingerprint→groupBy→survivor path
    # is exercised on real duplicate groups and value-checked.
    from moonshot_spark.datapipe.dedup import exact_duplicates

    docs = load_table(spark, sf_dir, "documents")
    clones = (docs.where(F.col("doc_id") < 25)
              .withColumn("doc_id", F.col("doc_id") + F.lit(1_000_000)))
    return exact_duplicates(docs.select("doc_id", "text")
                            .unionByName(clones.select("doc_id", "text")))


_MINHASH_LSH_PAIRS_SQL = """
WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
), sh AS (
    SELECT doc_id, list_distinct(list_transform(range(0, len(t) - 2),
        i -> array_to_string(list_slice(t, i + 1, i + 3), ' '))) AS shingles
    FROM toks
), sl AS (
    SELECT doc_id, list_transform(shingles, s -> flatten(list_transform(
        [md5(s), md5('a|' || s), md5('b|' || s), md5('c|' || s)],
        h -> [substr(h, 1, 8), substr(h, 9, 8), substr(h, 17, 8),
              substr(h, 25, 8)]))) AS slices
    FROM sh
), sigs AS (
    SELECT doc_id, list_transform(range(1, 17),
        i -> list_min(list_transform(slices, a -> a[i]))) AS sig
    FROM sl
), bands AS (
    SELECT doc_id, sig, b.band_id,
           md5(array_to_string(list_slice(sig, b.band_id * 4 + 1,
                                          b.band_id * 4 + 4), '|')) AS band_hash
    FROM sigs, (SELECT unnest(range(0, 4)) AS band_id) b
), pairs AS (
    SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b,
           l.sig AS sig_a, r.sig AS sig_b
    FROM bands l JOIN bands r
      ON l.band_id = r.band_id AND l.band_hash = r.band_hash
     AND l.doc_id < r.doc_id
)
SELECT doc_a, doc_b,
       CAST(len(list_filter(range(1, 17), i -> sig_a[i] = sig_b[i])) AS DOUBLE)
           / 16 AS est_jaccard
FROM pairs
"""


@register("minhash_lsh_pairs", _MINHASH_LSH_PAIRS_SQL)
def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from moonshot_spark.datapipe.dedup import lsh_candidate_pairs

    docs = load_table(spark, sf_dir, "documents")
    return lsh_candidate_pairs(docs, num_hashes=16, bands=4, shingle_n=3)


_PPJOIN_PAIRS_SQL = """
WITH t0 AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
), toks AS (
    SELECT doc_id, CASE WHEN len(t) >= 3 THEN
        list_distinct(list_transform(range(0, len(t) - 2),
            i -> array_to_string(list_slice(t, i + 1, i + 3), ' ')))
        ELSE [] END AS ts
    FROM t0
), tok AS (
    SELECT doc_id, unnest(ts) AS token FROM toks
), freq AS (
    SELECT token, count(*) AS f FROM tok GROUP BY token
), ranked AS (
    SELECT t.doc_id, t.token,
           row_number() OVER (PARTITION BY t.doc_id
                              ORDER BY f.f, t.token) AS rn,
           count(*) OVER (PARTITION BY t.doc_id) AS sz
    FROM tok t JOIN freq f USING (token)
), prefix AS (
    SELECT doc_id, token FROM ranked
    WHERE rn <= sz - ceil(0.8 * sz) + 1
), cands AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM prefix a JOIN prefix b
      ON a.token = b.token AND a.doc_id < b.doc_id
), pairs AS (
    SELECT doc_a, doc_b,
           len(list_intersect(x.ts, y.ts)) AS inter,
           len(x.ts) AS sa, len(y.ts) AS sb
    FROM cands
    JOIN toks x ON x.doc_id = doc_a
    JOIN toks y ON y.doc_id = doc_b
)
SELECT doc_a, doc_b, CAST(inter AS BIGINT) AS n_shared,
       CAST(inter AS DOUBLE) / CAST(sa + sb - inter AS DOUBLE) AS jaccard
FROM pairs
WHERE CAST(inter AS DOUBLE) / CAST(sa + sb - inter AS DOUBLE) >= 0.8
  AND least(sa, sb) >= 0.8 * greatest(sa, sb)
"""


@register("ppjoin_incremental_pairs", _PPJOIN_PAIRS_SQL
          + "  AND (doc_a % 5 = 0 OR doc_b % 5 = 0)\n")
def ppjoin_incremental_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental EXACT-Jaccard dedup gate (datapipe/incremental_dedup
    .py::incremental_ppjoin_pairs): every fifth doc arrives as a NEW
    batch and is verified against the persisted frozen-token-order
    PPJoin index of the rest — the exact-similarity ingest check, no
    LSH probabilities, no full-corpus recompute.  The prefix filter's
    frozen order only selects candidates; verification is the exact set
    intersection, so the output is bit-equal to the full-recompute
    PPJoin over the union restricted to batch-touching pairs — which is
    what the oracle states (the ppjoin_jaccard_pairs CTE chain + the
    batch filter).  Shape per batch: batch shingle sort (one batch-keyed
    aggregate) + prefix equi-join on token against the stored prefix
    table + bounded-candidate verification."""
    from moonshot_spark.datapipe.incremental_dedup import (
        incremental_ppjoin_pairs, ppjoin_index)

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    new = docs.where(F.col("doc_id") % 5 == 0)
    existing = docs.where(F.col("doc_id") % 5 != 0)
    freq, sets = ppjoin_index(existing)
    return incremental_ppjoin_pairs(new, sets, freq, threshold=0.8)


@register("ppjoin_jaccard_pairs", _PPJOIN_PAIRS_SQL)
def ppjoin_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT all-pairs Jaccard >= 0.8 via PPJoin-style prefix filtering
    (Xiao et al., WWW'08) — the zero-false-negative dedup path.  The
    candidate join keys only on each doc's globally-RAREST tokens (the
    frequency order is itself the skew guard: a stop word can never
    become a join key), so no LSH bands, no bucket caps, no probabilistic
    recall.  See ``datapipe.dedup.prefix_filter_jaccard_pairs``."""
    from moonshot_spark.datapipe.dedup import prefix_filter_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    return prefix_filter_jaccard_pairs(docs, threshold=0.8)


@register("jaccard_verified_pairs", f"""
WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
), {_VERIFIED_BANDS_SQL}, {_CANDIDATE_PAIRS_SQL}
SELECT doc_a, doc_b,
       CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE)
           / len(list_distinct(sh_a || sh_b)) AS jaccard
FROM pairs
WHERE CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE)
          / len(list_distinct(sh_a || sh_b)) >= 0.5
""")
def jaccard_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH→exact-verify pipeline end to end (dedup's verification
    stage): candidate pairs from MinHash banding, then EXACT n-gram
    Jaccard on just those candidates, kept at >= 0.5.  The expensive exact
    set intersection runs only on the LSH-bounded candidate set — the
    scale shape of every production near-dup pipeline."""
    from moonshot_spark.datapipe.dedup import verified_pairs

    return verified_pairs(load_table(spark, sf_dir, "documents"), 0.5)


@register("dedup_corpus_minhash", f"""
WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
), {_VERIFIED_BANDS_SQL}, {_CANDIDATE_PAIRS_SQL}, removable AS (
    SELECT DISTINCT doc_b AS doc_id FROM pairs
    WHERE CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE)
              / len(list_distinct(sh_a || sh_b)) >= 0.8
)
SELECT d.doc_id, d.lang, CAST(d.n_chars AS BIGINT) AS n_chars
FROM documents d ANTI JOIN removable r ON d.doc_id = r.doc_id
""")
def dedup_corpus_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus near-deduplication (the flagship LLM-datapipe
    pipeline): MinHash-LSH candidates → exact Jaccard >= 0.8 → drop the
    higher-id member of each verified pair → surviving corpus.  Every
    stage is bounded: candidates by bucket, verification by candidates,
    removal by anti-join."""
    from moonshot_spark.datapipe.dedup import dedup_corpus

    docs = load_table(spark, sf_dir, "documents")
    survivors = dedup_corpus(docs, method="minhash", threshold=0.8)
    return survivors.select("doc_id", "lang",
                            F.col("n_chars").cast("bigint"))


@register("dedup_clusters", f"""
WITH RECURSIVE all_docs AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id < 25
), toks AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM all_docs
), {_VERIFIED_BANDS_SQL}, {_COMPONENTS_SQL}
SELECT cc.doc_id, cc.cluster_id,
       CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
FROM cc
""")
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs resolved into duplicate CLUSTERS via distributed
    connected components (iterative hash-min label propagation,
    datapipe/graph.py) — the step that turns pairwise A~B, B~C evidence
    into one A,B,C group.  The DuckDB oracle computes the same components
    with a recursive CTE (min reachable id), pinning the fixpoint of the
    iterative Spark algorithm, not just its row count.  Clone-seeded like
    dedup_exact so clusters of size 3 (requiring actual multi-hop
    propagation) exist at small SFs.  Routed through
    ``near_dup_clusters`` (r11): raw-identical texts enter LSH as ONE
    representative and re-attach to their rep's component afterwards —
    output-equal, but a mega-duplicate cluster (the 20%-hot-text skew
    replica) costs a groupBy instead of a quadratic verified-pair
    intermediate."""
    from moonshot_spark.datapipe.dedup import near_dup_clusters

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    clones = (docs.where(F.col("doc_id") < 25)
              .withColumn("doc_id", F.col("doc_id") + F.lit(1_000_000)))
    corpus = docs.unionByName(clones)
    return near_dup_clusters(corpus, threshold=0.5)


@register("simhash_signatures", """
WITH toks AS (
    SELECT doc_id, list_transform(string_split(text, ' '), x -> md5(x)) AS hs
    FROM documents
)
SELECT doc_id,
       array_to_string(list_transform(range(1, 33),
           j -> CASE WHEN list_sum(list_transform(hs,
                    h -> CASE WHEN substr(h, j, 1) >= '8' THEN 1 ELSE -1 END)) > 0
                THEN '1' ELSE '0' END), '') AS simhash
FROM toks
""")
def simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    from moonshot_spark.datapipe.dedup import simhash_expr

    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", simhash_expr("text").alias("simhash"))


# --------------------------------------------------------------------- #
# datapipe: similarity search                                           #
# --------------------------------------------------------------------- #

# exact cosine of every embedding against the queries vec_id < 8, as
# left-to-right folds (datapipe/similarity.py::cosine_expr)
_EXACT_COSINE_SQL = """corpus AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings
), queries AS (
    SELECT vec_id AS query_id, v AS q FROM corpus WHERE vec_id < 8
), sims AS (
    SELECT q.query_id, c.vec_id,
           list_reduce(list_transform(range(1, len(c.v) + 1),
               i -> c.v[i] * q.q[i]), (x, y) -> x + y)
           / (sqrt(list_reduce(list_transform(range(1, len(c.v) + 1),
                  i -> c.v[i] * c.v[i]), (x, y) -> x + y))
              * sqrt(list_reduce(list_transform(range(1, len(q.q) + 1),
                  i -> q.q[i] * q.q[i]), (x, y) -> x + y))) AS cosine
    FROM corpus c CROSS JOIN queries q
)"""


@register("ann_cosine_topk", f"""
WITH {_EXACT_COSINE_SQL}
SELECT query_id, vec_id, cosine, CAST(rank AS INT) AS rank FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, vec_id) AS rank
    FROM sims
) WHERE rank <= 5
""")
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from moonshot_spark.datapipe.similarity import brute_force_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = (emb.where(F.col("vec_id") < 8)
                  .select(F.col("vec_id").alias("query_id"), "embedding"))
    return brute_force_topk(emb, queries_df, k=5)


# --------------------------------------------------------------------- #
# datapipe: multimodal binary columns                                   #
# --------------------------------------------------------------------- #

@register("multimodal_meta", """
SELECT doc_id AS media_id,
       ['image', 'audio', 'video'][(doc_id % 3 + 1)] AS media_type,
       CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
       md5(text) AS content_md5
FROM documents
""")
def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from moonshot_spark.datapipe.multimodal import docs_to_media

    docs = load_table(spark, sf_dir, "documents")
    return docs_to_media(docs).select("media_id", "media_type", "byte_len",
                                      "content_md5")


@register("multimodal_features", """
SELECT doc_id AS media_id,
       CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
            WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
       CAST(length(text) AS BIGINT) AS byte_len,
       coalesce(list_avg(list_transform(range(1, length(text) + 1, 8),
           p -> ord(substr(text, p, 1)))), 0.0) AS f0,
       coalesce(list_avg(list_transform(range(2, length(text) + 1, 8),
           p -> ord(substr(text, p, 1)))), 0.0) AS f1,
       coalesce(list_avg(list_transform(range(3, length(text) + 1, 8),
           p -> ord(substr(text, p, 1)))), 0.0) AS f2,
       coalesce(list_avg(list_transform(range(4, length(text) + 1, 8),
           p -> ord(substr(text, p, 1)))), 0.0) AS f3,
       coalesce(list_avg(list_transform(range(5, length(text) + 1, 8),
           p -> ord(substr(text, p, 1)))), 0.0) AS f4,
       coalesce(list_avg(list_transform(range(6, length(text) + 1, 8),
           p -> ord(substr(text, p, 1)))), 0.0) AS f5,
       coalesce(list_avg(list_transform(range(7, length(text) + 1, 8),
           p -> ord(substr(text, p, 1)))), 0.0) AS f6,
       coalesce(list_avg(list_transform(range(8, length(text) + 1, 8),
           p -> ord(substr(text, p, 1)))), 0.0) AS f7
FROM documents
""")
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode→featurize pipeline over binary media payloads (stubbed codec).

    Now FULLY oracle-checked (was rows-only): the stub feature is a
    per-bucket byte-value mean, and byte values are integers, so the
    float64 sums are EXACT under any association order — numpy's pairwise
    mean and DuckDB's list_avg produce bit-identical doubles (the corpus
    is ASCII, so DuckDB's codepoints are the payload bytes).  Each bucket
    mean is emitted as a scalar double column; the mapInPandas Arrow
    plumbing being verified is unchanged.
    """
    from moonshot_spark.datapipe.multimodal import docs_to_media, extract_features

    docs = load_table(spark, sf_dir, "documents")
    feats = extract_features(docs_to_media(docs))
    return feats.select("media_id", "media_type", "byte_len",
                        *[F.col("feature").getItem(i).alias(f"f{i}")
                          for i in range(8)])


# --------------------------------------------------------------------- #
# IVF centroids — the ANN scale path's training step                    #
# --------------------------------------------------------------------- #

@register("ivf_label_centroids", """
WITH dims AS (
    SELECT label, i.i AS dim, CAST(embedding[i.i + 1] AS DOUBLE) AS v
    FROM embeddings, (SELECT unnest(range(0, 64)) AS i) i
)
SELECT label, CAST(dim AS INT) AS dim,
       list_reduce(list_sort(list(v)), (a, b) -> a + b) / count(v) AS centroid,
       CAST(count(v) AS BIGINT) AS n
FROM dims GROUP BY label, dim
""")
def ivf_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid of the embedding column — the coarse-quantizer
    training step of an IVF index (posexplode + mean per (label, dim)).

    The oracle-exact sum is a sorted left-to-right fold (arbitrary floats
    can't go through DECIMAL: the double→decimal cast itself differs
    between engines).  At 100 TB you'd use a plain F.avg — the fold is the
    determinism device for the correctness gate, same shuffle shape.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    exploded = emb.select(
        "label", F.posexplode("embedding").alias("dim", "v"))
    sorted_sum = fold_sum(
        F.array_sort(F.collect_list(F.col("v").cast("double"))))
    return (exploded.groupBy("label", F.col("dim").cast("int").alias("dim"))
            .agg((sorted_sum / F.count("v")).alias("centroid"),
                 F.count("v").alias("n"))
            .select("label", "dim", "centroid", "n"))


# --------------------------------------------------------------------- #
# embedding-cosine near-duplicates                                      #
# --------------------------------------------------------------------- #

@register("embedding_near_dups", """
WITH corpus AS (
    SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings
), normed AS (
    SELECT vec_id, label, v,
           sqrt(list_reduce(list_transform(range(1, len(v) + 1),
               i -> v[i] * v[i]), (x, y) -> x + y)) AS norm
    FROM corpus
    QUALIFY count(*) OVER (PARTITION BY label) <= 100000
), pairs AS (
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label,
           list_reduce(list_transform(range(1, len(a.v) + 1),
               i -> a.v[i] * b.v[i]), (x, y) -> x + y)
           / (a.norm * b.norm) AS cosine
    FROM normed a JOIN normed b
      ON a.label = b.label AND a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, label, cosine
FROM pairs WHERE cosine > 0.35
""")
def embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate detection: candidate pairs within the
    same label bucket (the IVF-cell restriction), kept above a cosine
    threshold.  Norms are computed once per vector BEFORE the pair join —
    only the dot product runs per pair.  At 100 TB the label/IVF-cell
    equi-join bounds the pair blowup to Σ cell², and the hot-cell guard
    (cells over 100k vectors are excluded, mirrored in the oracle's QUALIFY)
    bounds the worst cell — a degenerate cell holding most of the corpus
    would otherwise make one join task quadratic.  Cell cardinality is
    bounded (it's the IVF codebook), so the guard is a map-side-combined
    groupBy count broadcast back as a semi-filter — unlike a window, it
    never shuffles the fact table."""
    from moonshot_spark.datapipe.similarity import pairwise_cosine_in_cells

    emb = load_table(spark, sf_dir, "embeddings")
    small_cells = (emb.groupBy("label").agg(F.count("*").alias("__cell_n"))
                   .where(F.col("__cell_n") <= 100000).select("label"))
    guarded = emb.join(F.broadcast(small_cells), "label")
    # per-cell all-pairs kernel: each vector crosses Arrow once per cell
    # (n rows), never once per pair (n² rows); exact-fold accumulation
    # keeps cosines bit-identical to the oracle's list_reduce
    return (pairwise_cosine_in_cells(guarded, threshold=0.35)
            .select("vec_a", "vec_b", "label", "cosine"))


@register("embedding_centroid_outliers", """
WITH q AS (
    SELECT vec_id, label,
           list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS q
    FROM embeddings
), d AS (
    SELECT label, unnest(q) AS val, generate_subscripts(q, 1) AS dim FROM q
), s AS (
    SELECT label, dim, CAST(sum(val) AS BIGINT) AS s, count(*) AS n
    FROM d GROUP BY label, dim
), c AS (
    SELECT label,
           list(CAST(floor(CAST(s AS DOUBLE) / n) AS BIGINT) ORDER BY dim)
               AS c
    FROM s GROUP BY label
), scored AS (
    SELECT vec_id, q.label,
           CAST(list_reduce(list_transform(range(1, len(q.q) + 1),
               i -> q.q[i] * c.c[i]), (x, y) -> x + y) AS DOUBLE)
           / (sqrt(CAST(list_reduce(list_transform(range(1, len(q.q) + 1),
                  i -> q.q[i] * q.q[i]), (x, y) -> x + y) AS DOUBLE))
              * sqrt(CAST(list_reduce(list_transform(range(1, len(c.c) + 1),
                  i -> c.c[i] * c.c[i]), (x, y) -> x + y) AS DOUBLE)))
           AS cosine_to_centroid
    FROM q JOIN c USING (label)
), ranked AS (
    SELECT *, CAST(row_number() OVER (PARTITION BY label
               ORDER BY cosine_to_centroid, vec_id) AS INT) AS rank,
           count(*) OVER (PARTITION BY label) AS n
    FROM scored
)
SELECT vec_id, label, cosine_to_centroid, rank,
       CAST(CASE WHEN rank <= greatest(1, CAST(floor(n * 0.1) AS BIGINT))
            THEN 1 ELSE 0 END AS INT) AS is_outlier
FROM ranked
""")
def embedding_centroid_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic pruning: every vector's cosine to its
    label-group centroid, ranked per group, bottom decile flagged.
    Integer-exact via floor-quantized vectors and a floored-mean centroid
    (see ``datapipe.similarity.centroid_outliers`` for the overflow-safe
    design); one (group, dim) shuffle + a broadcast centroid join."""
    from moonshot_spark.datapipe.similarity import centroid_outliers

    emb = load_table(spark, sf_dir, "embeddings")
    return centroid_outliers(emb)


@register("embedding_quantize_sq8", """
WITH v AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
    FROM embeddings
), st AS (
    SELECT vec_id, e, list_min(e) AS mn,
           (list_max(e) - list_min(e)) / 255 AS scale
    FROM v
), q AS (
    SELECT vec_id, e, mn, scale,
           list_transform(e, x -> CASE WHEN scale = 0 THEN 0
               ELSE least(CAST(floor((x - mn) / scale) AS INT), 255)
               END) AS codes
    FROM st
)
SELECT vec_id, mn, scale,
       md5(array_to_string(list_transform(codes,
           c -> CAST(c AS VARCHAR)), ',')) AS codes_md5,
       list_max(list_transform(range(1, len(e) + 1),
           i -> abs(e[i] - (mn + codes[i] * scale)))) AS max_abs_err,
       list_max(list_transform(range(1, len(e) + 1),
           i -> abs(e[i] - (mn + codes[i] * scale)))) <= scale
           AS within_bound
FROM q
""")
def embedding_quantize_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector int8 scalar quantization (the storage format for
    billion-vector ANN corpora: 4x smaller than float32, decode = one
    fused multiply-add).  Emits the code stream (as md5 — 32 bytes per
    vector through the shuffle, codes never leave the stage), the exact
    reconstruction max-error, and the analytic bound check
    (err <= scale).  Pure array expressions — zero shuffle, zero UDF;
    every arithmetic step is a single IEEE op in the same order as the
    oracle, so even the doubles hash-match bit-for-bit."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    df = emb.select("vec_id", e.alias("e"))
    df = df.select(
        "vec_id", "e", F.array_min("e").alias("mn"),
        ((F.array_max("e") - F.array_min("e")) / 255).alias("scale"))
    codes = F.transform(
        F.col("e"),
        lambda x: F.when(F.col("scale") == 0, F.lit(0)).otherwise(
            F.least(F.floor((x - F.col("mn")) / F.col("scale"))
                    .cast("int"), F.lit(255))))
    df = df.withColumn("codes", codes)
    idx = F.sequence(F.lit(1), F.size("e"))
    err = F.array_max(F.transform(
        idx, lambda i: F.abs(F.element_at("e", i)
                             - (F.col("mn")
                                + F.element_at("codes", i)
                                * F.col("scale")))))
    return df.select(
        "vec_id", "mn", "scale",
        F.md5(F.encode(F.concat_ws(",", F.transform(
            F.col("codes"), lambda c: c.cast("string"))), "UTF-8"))
        .alias("codes_md5"),
        err.alias("max_abs_err"),
        (err <= F.col("scale")).alias("within_bound"))


# --------------------------------------------------------------------- #
# IVF approximate nearest neighbors (KMeans codebook + cell probing)    #
# --------------------------------------------------------------------- #

@register("ivf_topk_contract", f"""
WITH {_EXACT_COSINE_SQL}, topk AS (
    SELECT query_id, vec_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, vec_id) AS rank
        FROM sims
    ) WHERE rank <= 5
)
SELECT CAST(query_id AS BIGINT) AS query_id,
       array_to_string(list_sort(list(vec_id)), ',')
           AS full_probe_neighbors,
       TRUE AS partial_not_better
FROM topk GROUP BY query_id
""")
def ivf_topk_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN contract, oracle-checked for real: the query emits the
    nprobe=ALL top-k neighbor SET per query, and the DuckDB oracle
    recomputes exact brute-force cosine top-k in SQL — so a wrong
    full-probe neighbor is a red driver row, not a self-certified TRUE.
    The set (not rank-by-rank) comparison is deliberate: IVF scores
    pairs with the numpy fast path while the oracle keeps the SQL fold —
    last-ulp differences may swap adjacent ranks but never change the
    top-k SET (cosine gaps in the data are orders of magnitude above
    ulp).  ``partial_not_better`` remains a Spark-side invariant (a
    partial probe's best cosine cannot beat the exact best, since its
    candidates are a subset) — cell membership is KMeans-seeded and not
    SQL-expressible, so the oracle pins only its shape.  Codebook =
    MLlib KMeans (seeded); cell assignment is a literal-codebook
    projection with no shuffle."""
    from moonshot_spark.datapipe.similarity import (
        brute_force_topk, ivf_assign_col, ivf_topk, train_ivf_centroids)

    emb = load_table(spark, sf_dir, "embeddings")
    cents = train_ivf_centroids(emb, n_cells=16)
    q = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding")
    brute = brute_force_topk(emb, q, k=5)
    # cell assignment depends only on (corpus, centroids), not nprobe —
    # compute the Arrow-batched coarse quantizer ONCE and share it
    # between the full and partial probes (within-plan persist)
    assigned = materialize.persist(emb.withColumn(
        "__cell", ivf_assign_col("embedding", cents)))
    full = ivf_topk(emb, q, cents, nprobe=16, k=5, assigned_corpus=assigned)
    part = ivf_topk(emb, q, cents, nprobe=2, k=5, assigned_corpus=assigned)

    neighbors = (full.groupBy("query_id")
                 .agg(F.array_join(
                     F.transform(F.array_sort(F.collect_list("vec_id")),
                                 lambda x: x.cast("string")), ",")
                     .alias("full_probe_neighbors")))

    def top1(df, name):
        return df.where(F.col("rank") == 1).select(
            "query_id", F.col("cosine").alias(name))

    not_better = (top1(part, "p1").join(top1(brute, "b1"), "query_id")
                  .select("query_id",
                          (F.col("p1") <= F.col("b1") + F.lit(1e-9))
                          .alias("partial_not_better")))
    return (neighbors.join(not_better, "query_id")
            .select(F.col("query_id").cast("bigint").alias("query_id"),
                    "full_probe_neighbors", "partial_not_better"))


_IVF_COS = """list_reduce(list_transform(range(1, len({a}) + 1),
               i -> {a}[i] * {b}[i]), (x, y) -> x + y)
           / (sqrt(list_reduce(list_transform(range(1, len({a}) + 1),
                  i -> {a}[i] * {a}[i]), (x, y) -> x + y))
              * sqrt(list_reduce(list_transform(range(1, len({b}) + 1),
                  i -> {b}[i] * {b}[i]), (x, y) -> x + y)))"""


@register("ivf_recall_report", f"""
WITH corpus AS (
    SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE))
               AS v
    FROM embeddings
), dims AS (
    SELECT label, i.i AS dim, v[i.i + 1] AS x
    FROM corpus, (SELECT unnest(range(0, 64)) AS i) i
), cd AS (
    SELECT label, dim,
           list_reduce(list_sort(list(x)), (a, b) -> a + b) / count(x) AS m
    FROM dims GROUP BY label, dim
), cents AS (
    SELECT label AS cell, list(m ORDER BY dim) AS c FROM cd GROUP BY label
), corpus_cells AS (
    SELECT vec_id, cell, {_IVF_COS.format(a='v', b='c')} AS s
    FROM corpus, cents
), assign AS (
    SELECT vec_id, cell FROM (
        SELECT vec_id, cell, row_number() OVER (
            PARTITION BY vec_id ORDER BY s DESC, cell) AS r
        FROM corpus_cells) WHERE r = 1
), qs AS (
    SELECT vec_id AS query_id, v AS q FROM corpus WHERE vec_id < 8
), query_cells AS (
    SELECT query_id, cell, {_IVF_COS.format(a='q', b='c')} AS s
    FROM qs, cents
), cell_rank AS (
    SELECT query_id, cell, row_number() OVER (
        PARTITION BY query_id ORDER BY s DESC, cell) AS cell_rank
    FROM query_cells
), sims AS (
    SELECT query_id, c.vec_id, {_IVF_COS.format(a='v', b='q')} AS s
    FROM corpus c, qs
), truth AS (
    SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id, row_number() OVER (
            PARTITION BY query_id ORDER BY s DESC, vec_id) AS rank
        FROM sims) WHERE rank <= 5
), hits AS (
    SELECT cr.cell_rank
    FROM truth t JOIN assign a USING (vec_id)
    JOIN cell_rank cr ON cr.query_id = t.query_id AND cr.cell = a.cell
), spine AS (
    SELECT row_number() OVER (ORDER BY cell) AS nprobe FROM cents
), hist AS (
    SELECT cell_rank, count(*) AS h FROM hits GROUP BY cell_rank
)
SELECT CAST(nprobe AS INT) AS nprobe,
       (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_truth,
       CAST(sum(coalesce(h, 0)) OVER (ORDER BY nprobe
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS n_recalled,
       CAST(sum(coalesce(h, 0)) OVER (ORDER BY nprobe
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
           / (SELECT count(*) FROM truth) AS recall
FROM spine LEFT JOIN hist ON spine.nprobe = hist.cell_rank
""")
def ivf_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF tuning report (VERDICT r8 #3 — the LSH `lsh_recall_report`
    discipline applied to the IVF path): measured recall@5 for EVERY
    nprobe = 1..n_cells against exact brute-force cosine truth — the
    curve an operator reads to pick nprobe.

    The cells are the per-label centroids (the `ivf_label_centroids`
    coarse quantizer) so the WHOLE report is SQL-expressible: centroid
    means are sorted left-to-right folds, every cosine is the same
    left-to-right fold on both engines, counts are exact integers and
    recall is one division — full hash-match, unlike the KMeans-seeded
    `ivf_topk_contract` which can pin only the full-probe set.

    The per-truth-hit cell rank collapses the n_cells query reruns into
    ONE pass: a truth neighbor is recalled at nprobe iff the rank of its
    cell in the query's probe order is <= nprobe, so the whole curve is
    a histogram of cell ranks + a running sum over the n_cells spine.
    Scale shape: centroid build is one (label, dim) aggregate; the
    centroid table is cells-cardinality and broadcast; assignment and
    truth ranking are the ann two-phase reducers' shapes (per-vec
    groups are n_cells-bounded; truth uses grouped_topk); the only
    unpartitioned windows run on the n_cells spine (bounded)."""
    from moonshot_spark.operators.ranking import grouped_topk

    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.select("vec_id", "label",
                   F.transform("embedding",
                               lambda x: x.cast("double")).alias("v"))
    dims = v.select("label", F.posexplode("v").alias("dim", "x"))
    cd = dims.groupBy("label", "dim").agg(
        (fold_sum(F.array_sort(F.collect_list("x")))
         / F.count("x")).alias("m"))
    cents = (cd.groupBy("label")
             .agg(ordered_values("dim", "m").alias("c"))
             .withColumnRenamed("label", "cell"))

    def dot(a, b):
        return fold_sum(F.zip_with(a, b, lambda x, y: x * y))

    def cos(a, b):
        return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))

    corpus_cells = v.crossJoin(F.broadcast(cents)).select(
        "vec_id", "cell", cos(F.col("v"), F.col("c")).alias("s"))
    w_assign = Window.partitionBy("vec_id").orderBy(F.desc("s"),
                                                    F.asc("cell"))
    assign = (corpus_cells.withColumn("r", F.row_number().over(w_assign))
              .where(F.col("r") == 1).select("vec_id", "cell"))

    qs = v.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("q"))
    query_cells = qs.crossJoin(F.broadcast(cents)).select(
        "query_id", "cell", cos(F.col("q"), F.col("c")).alias("s"))
    w_q = Window.partitionBy("query_id").orderBy(F.desc("s"),
                                                 F.asc("cell"))
    cell_rank = (query_cells
                 .withColumn("cell_rank", F.row_number().over(w_q))
                 .select("query_id", "cell", "cell_rank"))

    sims = v.crossJoin(F.broadcast(qs)).select(
        "query_id", "vec_id", cos(F.col("v"), F.col("q")).alias("s"))
    truth = grouped_topk(sims, ["query_id"],
                         [F.desc("s"), F.asc("vec_id")], 5) \
        .select("query_id", "vec_id")

    hits = (truth.join(assign, "vec_id")
            .join(cell_rank, ["query_id", "cell"]))
    hist = hits.groupBy("cell_rank").agg(F.count("*").alias("h"))
    spine = cents.select(
        F.row_number().over(Window.orderBy("cell")).alias("nprobe"))
    n_truth = truth.agg(F.count("*").cast("bigint").alias("n_truth"))
    cum = Window.orderBy("nprobe").rowsBetween(Window.unboundedPreceding, 0)
    return (spine.join(hist, spine["nprobe"] == hist["cell_rank"], "left")
            .select("nprobe", F.coalesce("h", F.lit(0)).alias("h"))
            .withColumn("n_recalled", F.sum("h").over(cum))
            .crossJoin(F.broadcast(n_truth))
            .select(F.col("nprobe").cast("int").alias("nprobe"),
                    "n_truth",
                    F.col("n_recalled").cast("bigint").alias("n_recalled"),
                    (F.col("n_recalled").cast("double")
                     / F.col("n_truth").cast("double")).alias("recall")))


# --------------------------------------------------------------------- #
# document fingerprinting: winnowing (rolling k-gram hash windows)      #
# --------------------------------------------------------------------- #

@register("winnowing_fingerprints", """
WITH norm AS (
    SELECT doc_id,
           substr(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')),
                  1, 100000) AS s
    FROM documents
), h AS (
    SELECT doc_id, length(s) AS n,
           list_transform(range(1, greatest(length(s) - 8 + 2, 1)),
                          i -> md5(substr(s, i, 8))) AS hashes
    FROM norm
), m AS (
    SELECT doc_id, n, len(hashes) AS n_kgrams,
           CASE WHEN n >= 11 THEN
               list_distinct(list_transform(range(1, len(hashes) - 4 + 2),
                   j -> list_min(hashes[j:j+3])))
           ELSE [] END AS fp
    FROM h
)
SELECT doc_id, CAST(n_kgrams AS BIGINT) AS n_kgrams,
       CAST(len(fp) AS BIGINT) AS n_selected,
       md5(array_to_string(list_sort(fp), ',')) AS fp_digest
FROM m
""")
def winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing local fingerprints (Schleimer et al., SIGMOD 2003) over
    the corpus: per-doc count of k-gram hashes, count of selected window
    minima, and a digest of the sorted fingerprint set.  All md5/string
    primitives — bit-identical across engines, no UDF, no shuffle (pure
    per-row projection, embarrassingly parallel at any scale)."""
    from moonshot_spark.datapipe.text import winnowing_fingerprint_expr

    docs = load_table(spark, sf_dir, "documents")
    s = F.substring(F.lower(F.regexp_replace(F.trim("text"), r"\s+", " ")),
                    1, 100_000)
    fp = winnowing_fingerprint_expr("text", 8, 4)
    # two-step select: __fp is referenced twice below, and CollapseProject
    # keeps the boundary rather than duplicate a non-cheap expression
    base = docs.select(
        "doc_id",
        F.greatest(F.length(s) - 7, F.lit(0)).cast("bigint")
        .alias("n_kgrams"),
        fp.alias("__fp"))
    return base.select(
        "doc_id", "n_kgrams",
        F.size("__fp").cast("bigint").alias("n_selected"),
        F.md5(F.encode(F.concat_ws(",", F.array_sort("__fp")), "UTF-8"))
        .alias("fp_digest"))


# --------------------------------------------------------------------- #
# BPE-ish subword token counting                                        #
# --------------------------------------------------------------------- #

@register("token_surprisal_stats", """
WITH tok AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
), tc AS (
    SELECT doc_id, token, count(*) AS n_occ FROM tok GROUP BY doc_id, token
), freq AS (
    SELECT token, CAST(sum(n_occ) AS BIGINT) AS freq FROM tc GROUP BY token
)
SELECT doc_id,
       CAST(sum(n_occ) AS BIGINT) AS n_tokens,
       CAST(sum(n_occ * freq) AS BIGINT) AS sum_freq,
       CAST(sum(n_occ * freq) AS DOUBLE) / CAST(sum(n_occ) AS DOUBLE)
           AS mean_token_freq,
       CAST(sum(CASE WHEN freq <= 2 THEN n_occ ELSE 0 END) AS BIGINT)
           AS rare_tokens,
       CAST(sum(CASE WHEN freq <= 2 THEN n_occ ELSE 0 END) AS DOUBLE)
           / CAST(sum(n_occ) AS DOUBLE) AS rare_ratio
FROM tc JOIN freq USING (token)
GROUP BY doc_id
""")
def token_surprisal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact perplexity proxy for quality filtering: per-doc corpus
    -frequency stats (mean token frequency, rare-token ratio) from a self-
    built unigram table.  The token join is Zipf-skewed by construction —
    the scale path is AQE skew-join on the equi-key, never a broadcast
    (the corpus vocabulary is unbounded).  See
    ``datapipe.text.token_surprisal_stats``."""
    from moonshot_spark.datapipe.text import token_surprisal_stats as tss

    docs = load_table(spark, sf_dir, "documents")
    return tss(docs)


@register("token_counts", """
WITH toks AS (
    SELECT doc_id, n_chars, string_split(text, ' ') AS words FROM documents
)
SELECT doc_id,
       CAST(len(words) AS BIGINT) AS n_words,
       CAST(list_sum(list_transform(words,
           w -> CAST(ceil(length(w) / 4.0) AS BIGINT))) AS BIGINT) AS n_subword_tokens,
       CAST(ceil(n_chars / 4.0) AS BIGINT) AS n_char_tokens
FROM toks
""")
def token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace words + BPE-ish subword estimate (≈4 chars
    per subword token, per word — the standard LLM budget heuristic)."""
    docs = load_table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    subword = F.aggregate(
        words, F.lit(0).cast("bigint"),
        lambda acc, w: acc + F.ceil(F.length(w) / 4.0))
    return docs.select(
        "doc_id",
        F.size(words).cast("bigint").alias("n_words"),
        subword.alias("n_subword_tokens"),
        F.ceil(F.col("n_chars") / 4.0).cast("bigint").alias("n_char_tokens"))


# --------------------------------------------------------------------- #
# corpus analysis: top terms per language                               #
# --------------------------------------------------------------------- #

@register("top_terms_per_lang", """
WITH words AS (
    SELECT lang, unnest(string_split(text, ' ')) AS word FROM documents
), counts AS (
    SELECT lang, word, count(*) AS n FROM words GROUP BY lang, word
)
SELECT lang, word, CAST(n AS BIGINT) AS n, CAST(rn AS INT) AS rn FROM (
    SELECT *, row_number() OVER (PARTITION BY lang ORDER BY n DESC, word) AS rn
    FROM counts
) WHERE rn <= 5
""")
def top_terms_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term-frequency top-k per language: explode → count → windowed top-k
    (the corpus-vocabulary building block; one shuffle on (lang, word) with
    map-side combine, one on lang for the top-k)."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select("lang", F.explode(F.split("text", " ")).alias("word"))
    counts = words.groupBy("lang", "word").agg(F.count("*").alias("n"))
    w = Window.partitionBy("lang").orderBy(F.desc("n"), F.asc("word"))
    return (counts.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= 5)
            .select("lang", "word", "n", F.col("rn").cast("int")))


@register("bigram_next_token", """
WITH t AS (
    SELECT string_split(text, ' ') AS toks FROM documents
), b AS (
    SELECT unnest(list_slice(toks, 1, len(toks) - 1)) AS head,
           unnest(list_slice(toks, 2, len(toks))) AS next
    FROM t WHERE len(toks) >= 2
), c AS (
    SELECT head, next, count(*) AS n FROM b GROUP BY head, next
), r AS (
    SELECT head, next, n,
           sum(n) OVER (PARTITION BY head) AS tot,
           row_number() OVER (PARTITION BY head
                              ORDER BY n DESC, next) AS rn
    FROM c
)
SELECT head, next, CAST(n AS BIGINT) AS n_pairs,
       CAST(tot AS BIGINT) AS head_total,
       CAST(n AS DOUBLE) / CAST(tot AS DOUBLE) AS p_next,
       CAST(rn AS INT) AS rn
FROM r WHERE rn <= 3 AND tot >= 10
""")
def bigram_next_token(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram LM table: for every head token seen ≥10 times, its
    top-3 continuations with exact conditional probability — the n-gram
    statistic behind repetition detection and cheap perplexity scoring.
    Map-side zip of the token array with its own shift (no self-join),
    one (head, next) groupBy with partial aggregation, then a per-head
    window for the top-k.  Integer counts end to end; p_next is one
    final division."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    pairs = (docs.select(toks.alias("toks"))
             .where(F.size("toks") >= 2)
             .select(F.explode(F.arrays_zip(
                 F.slice("toks", 1, F.size("toks") - 1).alias("head"),
                 F.slice(F.col("toks"), 2, F.size("toks") - 1)
                 .alias("next"))).alias("p"))
             .select(F.col("p.head").alias("head"),
                     F.col("p.next").alias("next")))
    c = pairs.groupBy("head", "next").agg(F.count("*").alias("n"))
    tot = F.sum("n").over(Window.partitionBy("head"))
    rn = F.row_number().over(
        Window.partitionBy("head").orderBy(F.desc("n"), F.asc("next")))
    return (c.withColumn("head_total", tot)
            .withColumn("rn", rn.cast("int"))
            .where((F.col("rn") <= 3) & (F.col("head_total") >= 10))
            .select("head", "next", F.col("n").alias("n_pairs"),
                    "head_total",
                    (F.col("n").cast("double")
                     / F.col("head_total").cast("double")).alias("p_next"),
                    "rn"))


@register("scd2_event_type_intervals", """
WITH e AS (
    SELECT user_id, ts, event_id, event_type,
           lag(event_type) OVER w AS prev
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), marks AS (
    SELECT *, CASE WHEN prev IS NULL OR prev <> event_type
                   THEN 1 ELSE 0 END AS is_start
    FROM e
), runs AS (
    SELECT *, sum(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
    FROM marks
)
SELECT user_id, CAST(run_id AS INT) AS run_id,
       min(event_type) AS event_type,
       min(ts) AS valid_from, max(ts) AS valid_to,
       CAST(count(*) AS BIGINT) AS n_events
FROM runs GROUP BY user_id, run_id
""")
def scd2_event_type_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 dimension build: collapse each user's event stream into
    consecutive same-state runs with [valid_from, valid_to] — the
    change-capture interval table a warehouse keeps for slowly changing
    attributes.  lag + cumulative-sum run ids (one shuffle on user_id),
    the same window algebra as sessionization with a state-change
    predicate instead of a time gap."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("event_type").over(w)
    is_start = F.when(prev.isNull()
                      | (prev != F.col("event_type")), 1).otherwise(0)
    runs = ev.withColumn(
        "run_id",
        F.sum(is_start).over(
            w.rowsBetween(Window.unboundedPreceding, 0)).cast("int"))
    return (runs.groupBy("user_id", "run_id")
            .agg(F.min("event_type").alias("event_type"),
                 F.min("ts").alias("valid_from"),
                 F.max("ts").alias("valid_to"),
                 F.count("*").alias("n_events")))


@register("inverted_index_postings", """
WITH tok AS (
    SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
    FROM documents
), agg AS (
    SELECT token, count(*) AS df,
           list(doc_id ORDER BY doc_id) AS all_docs
    FROM tok GROUP BY token
)
SELECT token, CAST(df AS BIGINT) AS df,
       array_to_string(list_slice(all_docs, 1, 8), ',') AS first_postings
FROM agg WHERE df >= 20
""")
def inverted_index_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build: per token, document frequency and the first 8
    postings (sorted doc ids, serialized) for tokens appearing in >= 20
    docs.  The full posting list of a stop-word is corpus-sized, so the
    bounded projection (count + capped slice) is what crosses the plan —
    ``array_sort(collect_list)`` per token is bounded by df, and the
    shuffle carries distinct (doc, token) pairs after map-side dedup."""
    docs = load_table(spark, sf_dir, "documents")
    tok = (docs.select("doc_id", F.explode(F.split("text", " "))
                       .alias("token"))
           .distinct())
    return (tok.groupBy("token")
            .agg(F.count("*").alias("df"),
                 F.array_sort(F.collect_list("doc_id")).alias("all_docs"))
            .where(F.col("df") >= 20)
            .select("token", "df",
                    F.array_join(F.slice("all_docs", 1, 8), ",")
                    .alias("first_postings")))


@register("feature_hashing_16", """
WITH tok AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
), bucketed AS (
    SELECT doc_id,
           CAST(('0x' || substr(md5(token), 1, 8)) AS BIGINT) % 16 AS b
    FROM tok
)
SELECT doc_id,
       CAST(sum(CASE WHEN b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS f0,
       CAST(sum(CASE WHEN b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
       CAST(sum(CASE WHEN b = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2,
       CAST(sum(CASE WHEN b = 3 THEN 1 ELSE 0 END) AS BIGINT) AS f3,
       CAST(sum(CASE WHEN b = 12 THEN 1 ELSE 0 END) AS BIGINT) AS f12,
       CAST(sum(CASE WHEN b = 15 THEN 1 ELSE 0 END) AS BIGINT) AS f15,
       CAST(count(*) AS BIGINT) AS n_tokens
FROM bucketed GROUP BY doc_id
""")
def feature_hashing_16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick featurization (Weinberger et al., ICML'09): 16-bucket
    token-count vector per document via md5 bucketing — the vocabulary-
    free featurizer for streaming/sharded training where a fitted
    vocabulary cannot exist.  Map-side explode + one groupBy; md5 keeps
    the bucketing engine-portable and seedless (6 of 16 buckets
    projected for the oracle)."""
    from moonshot_spark.datapipe.sampling import hash_bucket_expr

    docs = load_table(spark, sf_dir, "documents")
    b = hash_bucket_expr("token", num_buckets=16)
    tok = docs.select("doc_id", F.explode(F.split("text", " "))
                      .alias("token"))
    flags = [F.sum(F.when(b == i, 1).otherwise(0)).alias(f"f{i}")
             for i in (0, 1, 2, 3, 12, 15)]
    return (tok.groupBy("doc_id")
            .agg(*flags, F.count("*").alias("n_tokens")))


@register("tfidf_top_terms", """
WITH words AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
), tf AS (
    SELECT doc_id, word, count(*) AS tf FROM words GROUP BY doc_id, word
), df AS (
    SELECT word, count(*) AS df FROM tf GROUP BY word
), n AS (
    SELECT count(*) AS n_docs FROM documents
), scored AS (
    SELECT tf.doc_id, tf.word, tf.tf, df.df,
           tf.tf * ((n.n_docs * 1000) // df.df) AS w
    FROM tf JOIN df USING (word), n
)
SELECT doc_id, word, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
       CAST(w AS BIGINT) AS w, CAST(rn AS INT) AS rn
FROM (
    SELECT *, row_number() OVER (PARTITION BY doc_id
                                 ORDER BY w DESC, word) AS rn
    FROM scored
) WHERE rn <= 3
""")
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document TF-IDF-weighted top terms: term frequency × an
    integer-scaled inverse document frequency (tf * (N*1000 div df)).
    The weight is a monotone transform of tf/df — identical ranking to
    float ln-IDF — kept in exact integer arithmetic because ln() is not
    guaranteed bit-identical across engines (the module's cross-engine
    float discipline, see header).  Two shuffles with map-side combine
    (doc,word then word); the document-count N is a broadcast scalar."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
    tf = words.groupBy("doc_id", "word").agg(F.count("*").alias("tf"))
    df_counts = tf.groupBy("word").agg(F.count("*").alias("df"))
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    scored = (tf.join(df_counts, "word")
              .crossJoin(F.broadcast(n_docs))
              .withColumn("w", F.col("tf")
                          * F.floor((F.col("n_docs") * 1000) / F.col("df"))))
    w = Window.partitionBy("doc_id").orderBy(F.desc("w"), F.asc("word"))
    return (scored.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= 3)
            .select("doc_id", "word", "tf", "df",
                    F.col("w").cast("bigint"), F.col("rn").cast("int")))


@register("retention_cohorts", """
WITH weeks AS (
    SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS week FROM events
), cohorts AS (
    SELECT user_id, min(week) AS cohort_week FROM weeks GROUP BY user_id
), active AS (
    SELECT DISTINCT user_id, week FROM weeks
)
SELECT c.cohort_week,
       date_diff('day', c.cohort_week, a.week) // 7 AS week_offset,
       CAST(count(*) AS BIGINT) AS n_active
FROM cohorts c JOIN active a USING (user_id)
GROUP BY c.cohort_week, date_diff('day', c.cohort_week, a.week) // 7
""")
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix: users bucketed by first-active
    week, counted in each subsequent week they appear.  Date/integer
    arithmetic only (exact cross-engine); the (user, week) distinct and
    the cohort min are the only two shuffles, both with map-side
    combine, and the cohort table joins back on the already-shuffled
    user_id key."""
    ev = load_table(spark, sf_dir, "events")
    weeks = ev.select("user_id",
                      F.date_trunc("week", F.col("ts")).cast("date")
                      .alias("week"))
    cohorts = weeks.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    active = weeks.distinct()
    return (active.join(cohorts, "user_id")
            .groupBy("cohort_week",
                     F.floor(F.datediff(F.col("week"), F.col("cohort_week"))
                             / 7).alias("week_offset"))
            .agg(F.count("*").alias("n_active")))


# --------------------------------------------------------------------- #
# quality filtering — C4/Gopher-style corpus rules                      #
# --------------------------------------------------------------------- #

@register("quality_filter", """
WITH toks AS (
    SELECT doc_id, lang, source, n_chars, text,
           string_split(text, ' ') AS t FROM documents
), scored AS (
    SELECT doc_id, lang, source, n_chars,
           len(t) AS n_tokens,
           CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE)
               / len(t) AS mean_token_len,
           CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))
               AS DOUBLE) / length(text) AS punct_ratio
    FROM toks
)
SELECT doc_id, lang, source, CAST(n_tokens AS BIGINT) AS n_tokens,
       mean_token_len, punct_ratio
FROM scored
WHERE n_tokens >= 20 AND mean_token_len BETWEEN 2.0 AND 12.0
  AND punct_ratio < 0.1
""")
def quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-training quality gate: keep documents passing length / token-
    shape / punctuation rules (C4/Gopher-style) — pure column predicates,
    fully pushed into the scan stage."""
    from moonshot_spark.datapipe.text import quality_exprs

    docs = load_table(spark, sf_dir, "documents")
    q = quality_exprs("text")
    scored = docs.select(
        "doc_id", "lang", "source",
        q["n_tokens"].alias("n_tokens"),
        q["mean_token_len"].alias("mean_token_len"),
        q["punct_ratio"].alias("punct_ratio"))
    return scored.where(
        (F.col("n_tokens") >= 20)
        & F.col("mean_token_len").between(2.0, 12.0)
        & (F.col("punct_ratio") < 0.1))


@register("prepare_corpus", """
WITH toks0 AS (
    SELECT doc_id, lang, text, string_split(text, ' ') AS t FROM documents
), q AS (
    SELECT doc_id, lang, text, t FROM toks0
    WHERE len(t) >= 20
      AND CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE)
          / len(t) BETWEEN 2.0 AND 12.0
      AND CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))
          AS DOUBLE) / length(text) < 0.1
), fp AS (
    SELECT doc_id, lang, text, t,
           md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS f
    FROM q
), keep AS (
    SELECT min(doc_id) AS doc_id FROM fp GROUP BY f
), surv AS (
    SELECT fp.* FROM fp JOIN keep USING (doc_id)
), sh AS (
    SELECT doc_id, lang, t, CASE WHEN len(t) >= 3 THEN
        list_distinct(list_transform(range(0, len(t) - 2),
            i -> array_to_string(list_slice(t, i + 1, i + 3), ' ')))
        ELSE [] END AS shingles
    FROM surv
), ev AS (
    SELECT DISTINCT unnest(s2.shingles) AS ngram FROM (
        SELECT CASE WHEN len(t) >= 3 THEN
            list_distinct(list_transform(range(0, len(t) - 2),
                i -> array_to_string(list_slice(t, i + 1, i + 3), ' ')))
            ELSE [] END AS shingles
        FROM toks0 WHERE doc_id % 50 = 0
    ) s2
), contaminated AS (
    SELECT DISTINCT s.doc_id FROM (
        SELECT doc_id, unnest(shingles) AS ngram FROM sh
        WHERE doc_id % 50 <> 0
    ) s JOIN ev USING (ngram)
), clean AS (
    SELECT doc_id, lang, len(t) AS n_tok FROM sh
    WHERE doc_id % 50 <> 0
      AND doc_id NOT IN (SELECT doc_id FROM contaminated)
), binned AS (
    SELECT lang, n_tok,
           COALESCE(SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               // 256 AS bin_id
    FROM clean
)
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       CAST(max(bin_id) + 1 AS BIGINT) AS n_bins
FROM binned GROUP BY lang
""")
def prepare_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END training-corpus preparation pipeline in one DAG:
    quality gate → exact dedup (min-id survivor per fingerprint) →
    benchmark decontamination (3-gram overlap vs the eval slice,
    broadcast probe) → per-language sequence packing, reported as
    per-language (docs, tokens, bins).  Every stage is the already
    oracle-checked operator, composed: the value of a declarative
    engine is that this composition is ONE Catalyst plan — filters
    reach the scan, the dedup min-id survivor map and the eval n-gram
    set broadcast, and nothing materializes between stages."""
    from moonshot_spark.datapipe.decontam import decontaminate
    from moonshot_spark.datapipe.packing import pack_bins
    from moonshot_spark.datapipe.text import (fingerprint_expr, quality_exprs,
                                              token_count_expr)
    from moonshot_spark.sources.parquet import ensure_scan_parallelism

    # row-level parallelism for the pre-shuffle tokenize/fingerprint
    # work: a single-row-group file scans as ONE task (r10 exec-band
    # profile: 1.5 s of 1.9 s in that task); no-op on real multi-file
    # layouts
    docs = ensure_scan_parallelism(load_table(spark, sf_dir, "documents"))
    q = quality_exprs("text")
    passed = docs.where(
        (q["n_tokens"] >= 20)
        & q["mean_token_len"].between(2.0, 12.0)
        & (q["punct_ratio"] < 0.1))
    fp = passed.withColumn("__f", fingerprint_expr("text"))
    keep = fp.groupBy("__f").agg(F.min("doc_id").alias("doc_id"))
    # Survivor selection deliberately stays groupBy + left-semi (two
    # corpus scans) rather than a window over the fingerprint partition
    # (one scan): the groupBy's MAP-SIDE COMBINE reduces a mega-duplicate
    # boilerplate fingerprint to one row per task before the exchange,
    # while the window form would ship every duplicate row — full text
    # payload included — to a single straggling task (r6 review; the
    # window variant measured -0.25 s at sf0.1 but is skew-fatal at
    # 100 TB).  The survivor id set is corpus-cardinality: never
    # force-broadcast it — left_semi lets AQE pick the strategy.
    # Probe side joins from `passed`, NOT `fp`: __f is unused past the
    # survivor selection, and the fp lineage would re-run the md5+
    # normalize fingerprint on the whole probe branch for nothing.
    surv = passed.join(keep.select("doc_id"), "doc_id", "left_semi")
    ev_docs = docs.where(F.col("doc_id") % 50 == 0)
    train = surv.where(F.col("doc_id") % 50 != 0)
    clean = decontaminate(train, ev_docs)
    packed = pack_bins(clean, budget=256)
    return (packed.groupBy("lang")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_tokens").alias("n_tokens"),
                 (F.max("bin_id") + 1).alias("n_bins")))


# --------------------------------------------------------------------- #
# per-language length terciles (CCNet-style head/middle/tail bucketing) #
# --------------------------------------------------------------------- #

@register("ccnet_length_buckets", """
WITH toks AS (
    SELECT doc_id, lang,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
    FROM documents
),
b AS (
    SELECT doc_id, lang, n_tokens,
           CAST(ntile(3) OVER (PARTITION BY lang
                               ORDER BY n_tokens, doc_id) AS INT) AS bucket
    FROM toks
)
SELECT lang, bucket, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       min(n_tokens) AS min_tokens,
       max(n_tokens) AS max_tokens
FROM b GROUP BY lang, bucket
""")
def ccnet_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style corpus bucketing: within each language, documents are
    split into head/middle/tail terciles (ntile over a deterministic
    (n_tokens, doc_id) order — CCNet buckets by LM perplexity; token
    count is the model-free analog) and each bucket is summarized.  The
    ntile window shuffles once by lang; ties are broken by doc_id so the
    bucket assignment — and therefore every output row — is exactly
    reproducible across engines.  All outputs are integers: no float
    association-order risk."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "lang",
        F.size(F.split(F.col("text"), " ")).cast("bigint")
         .alias("n_tokens"))
    w = Window.partitionBy("lang").orderBy("n_tokens", "doc_id")
    b = toks.withColumn("bucket", F.ntile(3).over(w))
    return (b.groupBy("lang", "bucket")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_tokens").alias("total_tokens"),
                 F.min("n_tokens").alias("min_tokens"),
                 F.max("n_tokens").alias("max_tokens")))


# --------------------------------------------------------------------- #
# integer-exact lexical diversity (log-free entropy analog)             #
# --------------------------------------------------------------------- #

@register("token_diversity", """
WITH tok AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
), tc AS (
    SELECT doc_id, token, CAST(count(*) AS BIGINT) AS c
    FROM tok GROUP BY doc_id, token
)
SELECT doc_id,
       CAST(sum(c) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS n_distinct,
       CAST(count(*) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS ttr,
       CAST(sum(c * c) AS DOUBLE)
           / (CAST(sum(c) AS DOUBLE) * CAST(sum(c) AS DOUBLE)) AS simpson,
       CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS top_token_ratio
FROM tc GROUP BY doc_id
""")
def token_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical-diversity quality signals, deliberately log-free so every
    output double is one exact integer division (Shannon entropy needs
    log2, whose last-ulp behavior differs across math libraries — the
    Simpson concentration index sum(c²)/n² ranks repetitive documents
    identically and stays bit-deterministic): type-token ratio, Simpson
    index, top-token share.  Two chained aggregations on narrowing keys
    (doc, token) → (doc); the explode is map-side."""
    docs = load_table(spark, sf_dir, "documents")
    tc = (docs.select("doc_id",
                      F.explode(F.split(F.col("text"), " ")).alias("token"))
          .groupBy("doc_id", "token")
          .agg(F.count("*").alias("c")))
    n = F.sum("c").cast("double")
    return (tc.groupBy("doc_id")
            .agg(F.sum("c").alias("n_tokens"),
                 F.count("*").alias("n_distinct"),
                 (F.count("*").cast("double") / n).alias("ttr"),
                 (F.sum(F.col("c") * F.col("c")).cast("double")
                  / (n * n)).alias("simpson"),
                 (F.max("c").cast("double") / n).alias("top_token_ratio")))


# --------------------------------------------------------------------- #
# temperature-scaled corpus mixing weights (sqrt temperature, log-free) #
# --------------------------------------------------------------------- #

@register("temperature_mix_weights", """
WITH toks AS (
    SELECT source,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
    FROM documents GROUP BY source
),
scaled AS (
    SELECT source, n_tokens, sqrt(CAST(n_tokens AS DOUBLE)) AS s
    FROM toks
),
norm AS (
    SELECT CAST(list_reduce(list(s ORDER BY source), (a, b) -> a + b)
                AS DOUBLE) AS z
    FROM scaled
)
SELECT sc.source, sc.n_tokens, sc.s / n.z AS mix_weight,
       1000000.0 * (sc.s / n.z) AS target_tokens
FROM scaled sc CROSS JOIN norm n
""")
def temperature_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source mixing (the multilingual-sampling rule
    p_i ∝ n_i^α; α = 0.5 is written as sqrt so the scaling stays
    bit-deterministic — general pow() differs in last-ulp across libm
    implementations): per-source token mass, α-scaled share, and the
    token budget each source gets out of a 1M-token mix.  Token counting
    is one map-side-combined aggregate over the corpus scan; the
    normalizer folds 20 values in source order and broadcasts back."""
    docs = load_table(spark, sf_dir, "documents")
    toks = (docs.groupBy("source")
            .agg(F.sum(F.size(F.split(F.col("text"), " ")))
                 .cast("bigint").alias("n_tokens")))
    scaled = toks.withColumn("s", F.sqrt(F.col("n_tokens").cast("double")))
    norm = scaled.agg(fold_sum_exact("source", "s").alias("z"))
    return (scaled.crossJoin(F.broadcast(norm))
            .select("source", "n_tokens",
                    (F.col("s") / F.col("z")).alias("mix_weight"),
                    (F.lit(1000000.0) * (F.col("s") / F.col("z")))
                    .alias("target_tokens")))


# --------------------------------------------------------------------- #
# raw-SQL interface demo: language-ID confusion matrix via spark.sql    #
# --------------------------------------------------------------------- #

@register("lang_confusion_matrix", """
WITH toks AS (
    SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents
), scores AS (
    SELECT doc_id, lang,
           len(list_filter(t, x -> x IN ('der','die','das','und','ist','ein','nicht','mit'))) AS s_de,
           len(list_filter(t, x -> x IN ('the','and','of','to','a','in','is','it'))) AS s_en,
           len(list_filter(t, x -> x IN ('el','la','de','que','y','en','un','es'))) AS s_es,
           len(list_filter(t, x -> x IN ('le','la','et','les','des','un','une','est'))) AS s_fr
    FROM toks
), pred AS (
    SELECT lang AS lang_label,
           CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
                WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
                WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
                WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
                ELSE 'fr' END AS lang_pred
    FROM scores
)
SELECT lang_label, lang_pred, CAST(count(*) AS BIGINT) AS n_docs
FROM pred GROUP BY lang_label, lang_pred
""")
def lang_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix — and the catalog's raw-SQL surface
    demo: the whole query is ONE ``spark.sql`` string over the views
    registered by ``moonshot_spark.sql.register_views``, proving a user
    can drive the engine with ANSI SQL instead of the DataFrame API and
    get the identical Catalyst plan (same pushdown, same shuffles; the
    tie-break precedence de>en>es>fr matches datapipe.text.lang_id_expr).
    """
    from moonshot_spark.sql import register_views

    register_views(spark, sf_dir)
    return spark.sql("""
        WITH toks AS (
            SELECT doc_id, lang, split(text, ' ') AS t FROM documents
        ), scores AS (
            SELECT doc_id, lang,
                   size(filter(t, x -> x IN ('der','die','das','und','ist','ein','nicht','mit'))) AS s_de,
                   size(filter(t, x -> x IN ('the','and','of','to','a','in','is','it'))) AS s_en,
                   size(filter(t, x -> x IN ('el','la','de','que','y','en','un','es'))) AS s_es,
                   size(filter(t, x -> x IN ('le','la','et','les','des','un','une','est'))) AS s_fr
            FROM toks
        ), pred AS (
            SELECT lang AS lang_label,
                   CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
                        WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
                        WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
                        WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
                        ELSE 'fr' END AS lang_pred
            FROM scores
        )
        SELECT lang_label, lang_pred, count(*) AS n_docs
        FROM pred GROUP BY lang_label, lang_pred
    """)


# --------------------------------------------------------------------- #
# cross-source duplication matrix (who copies whom)                     #
# --------------------------------------------------------------------- #

@register("cross_source_duplication", """
WITH fp AS (
    SELECT DISTINCT source,
           md5(array_to_string(
               list_slice(string_split(lower(text), ' '), 1, 8), ' ')) AS f
    FROM documents
),
pairs AS (
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(count(*) AS BIGINT) AS n_shared
    FROM fp a JOIN fp b ON a.f = b.f AND a.source < b.source
    GROUP BY 1, 2
)
SELECT source_a, source_b, n_shared FROM pairs
""")
def cross_source_duplication(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix: for every source pair, how many
    8-token prefix fingerprints both carry — the provenance report that
    tells a corpus curator which feeds share boilerplate or mirror each
    other (prefix fingerprints catch shared headers where full-text
    hashes, which this corpus never collides on, would stay empty).  The
    per-(source, fingerprint) dedup happens BEFORE the self-join, so a
    fingerprint seen k times within one source contributes once; after
    that dedup a fingerprint appears at most once per source (≤20 rows
    per join key), so the self-join cannot go quadratic in the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.md5(F.array_join(
        F.slice(F.split(F.lower(F.col("text")), " "), 1, 8), " "))
    fp = docs.select("source", norm.alias("f")).distinct()
    a = fp.select(F.col("source").alias("source_a"), "f")
    b = fp.select(F.col("source").alias("source_b"), "f")
    return (a.join(b, "f")
            .where(F.col("source_a") < F.col("source_b"))
            .groupBy("source_a", "source_b")
            .agg(F.count("*").alias("n_shared")))


# --------------------------------------------------------------------- #
# sparse-vector cosine similarity join over an inverted index           #
# --------------------------------------------------------------------- #

@register("tfidf_cosine_pairs", """
WITH tok AS (
    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
    FROM documents
),
tf AS (
    SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
    FROM tok GROUP BY doc_id, term
),
df AS (
    SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
),
wts AS (
    -- rational weight tf/df (log-free idf analog); stopword-like terms
    -- with df > 50 are pruned BEFORE the posting join
    SELECT t.doc_id, t.term,
           CAST(t.tf AS DOUBLE) / CAST(d.df AS DOUBLE) AS w
    FROM tf t JOIN df d USING (term) WHERE d.df <= 50
),
norms AS (
    SELECT doc_id,
           sqrt(list_reduce(list(w * w ORDER BY term), (a, b) -> a + b))
               AS nrm
    FROM wts GROUP BY doc_id
),
dots AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           list_reduce(list(a.w * b.w ORDER BY a.term), (x, y) -> x + y)
               AS dot,
           CAST(count(*) AS BIGINT) AS n_shared_terms
    FROM wts a JOIN wts b ON a.term = b.term AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT d.doc_a, d.doc_b, d.n_shared_terms,
       d.dot / (na.nrm * nb.nrm) AS cosine
FROM dots d
JOIN norms na ON d.doc_a = na.doc_id
JOIN norms nb ON d.doc_b = nb.doc_id
WHERE d.dot / (na.nrm * nb.nrm) >= 0.35
""")
def tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse-vector cosine similarity join: documents as tf/df-weighted
    term vectors (the rational idf analog — log-idf would rank the same
    pairs but cost cross-engine determinism), joined through the
    inverted index with a df ≤ 50 prune that drops stopword-like terms
    BEFORE the posting self-join — the fanout of a term is then bounded
    by its document frequency, which is what keeps the pair space near-
    linear (the same prefix-pruning economics as PPJoin, applied to
    cosine).  Dot products and norms fold in term order; pairs below
    cosine 0.35 are filtered after two broadcast-friendly norm joins."""
    docs = load_table(spark, sf_dir, "documents")
    tf = (docs.select("doc_id",
                      F.explode(F.split(F.lower(F.col("text")), " "))
                      .alias("term"))
          .groupBy("doc_id", "term").agg(F.count("*").alias("tf")))
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    wts = (tf.join(df.where(F.col("df") <= 50), "term")
           .select("doc_id", "term",
                   (F.col("tf").cast("double")
                    / F.col("df").cast("double")).alias("w")))

    norms = wts.groupBy("doc_id").agg(
        F.sqrt(fold_sum_exact("term", F.col("w") * F.col("w")))
        .alias("nrm"))
    a = wts.select(F.col("doc_id").alias("doc_a"), "term",
                   F.col("w").alias("wa"))
    b = wts.select(F.col("doc_id").alias("doc_b"), "term",
                   F.col("w").alias("wb"))
    dots = (a.join(b, "term")
            .where(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(fold_sum_exact("term", F.col("wa") * F.col("wb"))
                 .alias("dot"),
                 F.count("*").alias("n_shared_terms")))
    cos = (F.col("dot") / (F.col("nrm_a") * F.col("nrm_b")))
    return (dots
            .join(norms.select(F.col("doc_id").alias("doc_a"),
                               F.col("nrm").alias("nrm_a")), "doc_a")
            .join(norms.select(F.col("doc_id").alias("doc_b"),
                               F.col("nrm").alias("nrm_b")), "doc_b")
            .where(cos >= 0.35)
            .select("doc_a", "doc_b", "n_shared_terms",
                    cos.alias("cosine")))


# --------------------------------------------------------------------- #
# T5-style span corruption planning (deterministic hash-seeded spans)   #
# --------------------------------------------------------------------- #

@register("span_corruption_plan", """
WITH toks AS (
    SELECT doc_id, len(string_split(text, ' ')) AS n FROM documents
),
spans AS (
    SELECT doc_id, n,
           list_filter(range(0, n), p ->
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':'
                                        || CAST(p AS VARCHAR)), 1, 8))
                    AS BIGINT) % 7 = 0) AS starts
    FROM toks
),
masked AS (
    SELECT doc_id, n, starts,
           list_distinct(list_filter(
               flatten(list_transform(starts, s -> [s, s + 1, s + 2])),
               x -> x < n)) AS mask_set
    FROM spans
)
SELECT doc_id,
       CAST(n AS BIGINT) AS n_tokens,
       CAST(len(starts) AS BIGINT) AS n_spans,
       CAST(len(mask_set) AS BIGINT) AS n_masked,
       CAST(len(mask_set) AS DOUBLE) / CAST(n AS DOUBLE) AS mask_ratio
FROM masked
""")
def span_corruption_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5/UL2-style span-corruption planning: for each document, the
    token positions opening a 3-token mask span are chosen by a SEEDLESS
    position hash (md5(doc_id:pos) % 7 — an expected ~15%/~35% start/
    coverage rate), so the corruption plan is reproducible across runs,
    engines, and partition layouts — df.sample() or any RNG would be
    none of those.  Entirely map-side: per-row array construction,
    filter, flatten, distinct — zero shuffles before the final
    projection, which is the shape that lets the masking stage ride the
    tokenizer scan at 100 TB."""
    docs = load_table(spark, sf_dir, "documents")
    n = F.size(F.split(F.col("text"), " "))
    toks = docs.select("doc_id", n.alias("n"))
    start_pred = lambda p: (
        F.conv(F.substring(
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":"),
                           p.cast("string"))), 1, 8), 16, 10)
        .cast("bigint") % 7 == 0)
    spans = toks.select(
        "doc_id", "n",
        F.filter(F.sequence(F.lit(0), F.col("n") - 1), start_pred)
        .alias("starts"))
    mask_set = F.array_distinct(F.filter(
        F.flatten(F.transform(
            F.col("starts"),
            lambda s: F.array(s, s + 1, s + 2))),
        lambda x: x < F.col("n")))
    masked = spans.select("doc_id", "n", "starts",
                          mask_set.alias("mask_set"))
    return masked.select(
        "doc_id",
        F.col("n").cast("bigint").alias("n_tokens"),
        F.size("starts").cast("bigint").alias("n_spans"),
        F.size("mask_set").cast("bigint").alias("n_masked"),
        (F.size("mask_set").cast("double")
         / F.col("n").cast("double")).alias("mask_ratio"))


# --------------------------------------------------------------------- #
# embedding drift monitoring: per-dimension distribution stats          #
# --------------------------------------------------------------------- #

@register("embedding_dimension_stats", """
WITH ex AS (
    SELECT vec_id,
           unnest(list_transform(embedding,
                                 (x, i) -> {'dim': i - 1, 'val': x})) AS s
    FROM embeddings
),
flat AS (
    SELECT vec_id, CAST(s.dim AS INT) AS dim,
           CAST(s.val AS DOUBLE) AS val
    FROM ex
)
SELECT dim,
       CAST(count(*) AS BIGINT) AS n,
       list_reduce(list(val ORDER BY vec_id), (a, b) -> a + b)
           / CAST(count(*) AS DOUBLE) AS mean_val,
       min(val) AS min_val, max(val) AS max_val
FROM flat GROUP BY dim
""")
def embedding_dimension_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding distribution report — the drift monitor an
    embedding pipeline runs when a new encoder version lands (a shifted
    dimension mean flags a silent model change before any downstream
    metric moves).  posexplode keeps the dimension index (normalized to
    0-based on both engines); float32 values widen to double exactly, so
    the vec_id-ordered mean folds are bit-deterministic; min/max are
    order statistics.  One map-side explode + one 64-group aggregate."""
    emb = load_table(spark, sf_dir, "embeddings")
    flat = emb.select(
        "vec_id",
        F.posexplode("embedding").alias("dim", "val0")) \
        .select("vec_id", F.col("dim").cast("int").alias("dim"),
                F.col("val0").cast("double").alias("val"))
    return (flat.groupBy("dim")
            .agg(F.count("*").alias("n"),
                 (fold_sum_exact("vec_id", "val")
                  / F.count("*").cast("double")).alias("mean_val"),
                 F.min("val").alias("min_val"),
                 F.max("val").alias("max_val")))


# --------------------------------------------------------------------- #
# record linkage with blocking: edit-distance near-dup part names       #
# --------------------------------------------------------------------- #

@register("part_name_linkage", """
WITH p AS (
    SELECT p_partkey, p_brand, p_name,
           string_split(p_name, ' ')[2] AS blk
    FROM part
)
SELECT a.p_brand,
       a.p_partkey AS key_a, b.p_partkey AS key_b,
       a.p_name AS name_a, b.p_name AS name_b,
       CAST(levenshtein(a.p_name, b.p_name) AS INT) AS edit_dist
FROM p a JOIN p b
  ON a.p_brand = b.p_brand AND a.blk = b.blk
 AND a.p_partkey < b.p_partkey
WHERE levenshtein(a.p_name, b.p_name) <= 3
""")
def part_name_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record linkage with blocking — the entity-resolution pattern: an
    edit-distance (Levenshtein ≤ 3) self-match over part names, but ONLY
    within (brand, head-noun) blocks, so the quadratic comparison runs
    per block instead of across the whole catalog (the blocking-key
    discipline of Fellegi-Sunter pipelines; at 100 TB the block key IS
    the shuffle key and no executor ever sees a cross-block pair).
    Levenshtein is integer-valued — no float drift.

    The distance runs THRESHOLDED (r15: cheaper per-row work):
    ``levenshtein(a, b, 3)`` computes the banded O(len*k) DP
    with early exit and returns -1 past the threshold, vs the full
    O(len^2) matrix per pair — same exact distance for every emitted
    row (``>= 0`` ≡ ``<= 3``; the DuckDB oracle keeps the plain
    two-arg form, results bit-identical).

    The frame is hash-repartitioned BY THE BLOCK KEY before the
    self-join (r15: spread CPU-bound work by its cost, not its bytes):
    the pair comparison's CPU cost scales with Σ block², not input
    bytes, so byte-based adaptivity under-parallelizes it — at bench SF
    the one-file scan + broadcast join ran the whole comparison in ONE
    task (the r14 8c/32c scaling ratio of 0.33 was real serialism, not
    box noise).  defaultParallelism spreads blocks across every core;
    block sizes bound the per-task work (no block straddles tasks, no
    cross-block pairs)."""
    part = load_table(spark, sf_dir, "part")
    p = part.select(
        "p_partkey", "p_brand", "p_name",
        F.split(F.col("p_name"), " ")[1].alias("blk"))
    p = p.repartition(spark.sparkContext.defaultParallelism,
                      "p_brand", "blk")
    a = p.select(F.col("p_brand"), F.col("blk"),
                 F.col("p_partkey").alias("key_a"),
                 F.col("p_name").alias("name_a"))
    b = p.select(F.col("p_brand"), F.col("blk"),
                 F.col("p_partkey").alias("key_b"),
                 F.col("p_name").alias("name_b"))
    dist = F.levenshtein(F.col("name_a"), F.col("name_b"), 3)
    return (a.join(b, ["p_brand", "blk"])
            .where(F.col("key_a") < F.col("key_b"))
            .where(dist >= 0)
            .select("p_brand", "key_a", "key_b", "name_a", "name_b",
                    dist.cast("int").alias("edit_dist")))


# --------------------------------------------------------------------- #
# corpus pipeline observability: stage-by-stage retention funnel        #
# --------------------------------------------------------------------- #

@register("corpus_funnel_report", """
WITH toks0 AS (
    SELECT doc_id, text, string_split(text, ' ') AS t FROM documents
),
q AS (
    SELECT doc_id, text FROM toks0
    WHERE len(t) >= 20
      AND CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE)
          / len(t) BETWEEN 2.0 AND 12.0
      AND CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))
          AS DOUBLE) / length(text) < 0.1
),
fp AS (
    SELECT doc_id,
           md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS f
    FROM q
),
keep AS (SELECT min(doc_id) AS doc_id FROM fp GROUP BY f),
stages AS (
    SELECT 1 AS stage_no, 'input' AS stage,
           CAST((SELECT count(*) FROM documents) AS BIGINT) AS n_docs
    UNION ALL
    SELECT 2, 'quality_pass', CAST((SELECT count(*) FROM q) AS BIGINT)
    UNION ALL
    SELECT 3, 'exact_dedup', CAST((SELECT count(*) FROM keep) AS BIGINT)
)
SELECT stage_no, stage, n_docs,
       CAST(n_docs AS DOUBLE)
           / CAST((SELECT count(*) FROM documents) AS DOUBLE) AS retention
FROM stages
""")
def corpus_funnel_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline observability: document retention after each corpus
    stage (input → quality gate → exact dedup) with the fraction of the
    input surviving — the run report a data-curation job publishes so a
    sudden retention cliff pages someone before a model trains on the
    wrong corpus.  Each stage count is a 1-row aggregate over the shared
    lineage; the stages union into one plan, so the report costs one
    pass over the corpus plus the dedup shuffle it already measures."""
    from moonshot_spark.datapipe.text import quality_exprs

    docs = load_table(spark, sf_dir, "documents")
    q_ex = quality_exprs("text")
    q = docs.where((q_ex["n_tokens"] >= 20)
                   & q_ex["mean_token_len"].between(2.0, 12.0)
                   & (q_ex["punct_ratio"] < 0.1))
    norm = F.md5(F.lower(F.regexp_replace(F.trim(F.col("text")),
                                          r"\s+", " ")))
    keep = (q.select("doc_id", norm.alias("f"))
            .groupBy("f").agg(F.min("doc_id").alias("doc_id")))
    n_input = docs.agg(F.count("*").cast("double").alias("n_input"))

    def stage(no, name, frame):
        return (frame.agg(F.count("*").alias("n_docs"))
                .crossJoin(F.broadcast(n_input))
                .select(F.lit(no).alias("stage_no"),
                        F.lit(name).alias("stage"),
                        F.col("n_docs"),
                        (F.col("n_docs").cast("double") / F.col("n_input"))
                        .alias("retention")))

    return (stage(1, "input", docs)
            .unionByName(stage(2, "quality_pass", q))
            .unionByName(stage(3, "exact_dedup", keep)))


# --------------------------------------------------------------------- #
# packing-size sweep: context-length tradeoff in ONE shared-scan plan   #
# --------------------------------------------------------------------- #

@register("packing_size_sweep", """
WITH toks AS (
    SELECT doc_id, lang,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n
    FROM documents
),
cum AS (
    SELECT doc_id, lang, n,
           coalesce(sum(n) OVER (PARTITION BY lang ORDER BY doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING), 0) AS cum_before
    FROM toks
),
sizes AS (SELECT unnest([128, 256, 512, 1024]) AS ctx),
binned AS (
    SELECT s.ctx, c.lang,
           CAST(floor(c.cum_before / s.ctx) AS BIGINT) AS bin_id,
           c.n
    FROM cum c CROSS JOIN sizes s
)
SELECT CAST(ctx AS INT) AS ctx,
       CAST(count(DISTINCT lang || '|' || CAST(bin_id AS VARCHAR))
            AS BIGINT) AS n_bins,
       CAST(sum(n) AS BIGINT) AS total_tokens,
       CAST(sum(n) AS DOUBLE)
           / (CAST(count(DISTINCT lang || '|' || CAST(bin_id AS VARCHAR))
                   AS DOUBLE) * CAST(ctx AS DOUBLE))
           AS utilization
FROM binned GROUP BY ctx
""")
def packing_size_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-length tradeoff study in ONE plan: the greedy next-fit
    packing (datapipe/packing.py bin math) evaluated at four candidate
    context sizes simultaneously — the token-count scan and cumulative
    pass run once, a 4-row size dim cross-joins in (broadcast), and each
    size's bin count and utilization aggregate in the same job.  This is
    the packing analog of backtest_param_sweep: the pandas way re-packs
    per size; the shared-scan way costs one pass plus K projections.

    Scale: the cumulative window is partitioned by ``lang`` — the same
    shard key ``datapipe/packing.py:pack_bins`` uses — so no row-level
    frame ever funnels through a single task.  Bins are per-(lang, ctx),
    exactly how a sharded packing job would run at 100 TB."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "lang",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n"))
    w = (Window.partitionBy("lang").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    cum = toks.withColumn("cum_before",
                          F.coalesce(F.sum("n").over(w), F.lit(0)))
    sizes = local_df(spark, [(128,), (256,), (512,), (1024,)], "ctx int")
    binned = (cum.crossJoin(F.broadcast(sizes))
              .withColumn("bin_id",
                          F.floor(F.col("cum_before") / F.col("ctx"))
                          .cast("bigint")))
    return (binned.groupBy("ctx")
            .agg(F.countDistinct("lang", "bin_id").alias("n_bins"),
                 F.sum("n").alias("total_tokens"),
                 (F.sum("n").cast("double")
                  / (F.countDistinct("lang", "bin_id").cast("double")
                     * F.col("ctx").cast("double"))).alias("utilization"))
            .select(F.col("ctx").cast("int").alias("ctx"), "n_bins",
                    "total_tokens", "utilization"))


# --------------------------------------------------------------------- #
# split-balance audit: is the hash split independent of language?       #
# --------------------------------------------------------------------- #

@register("split_balance_audit", """
WITH s AS (
    SELECT lang,
           CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                          AS BIGINT) % 100 < 80
                THEN 'train' ELSE 'heldout' END AS split
    FROM documents
),
""" + chi_square_sql(
    "s", "lang", "split",
    "CAST((SELECT count(DISTINCT lang) - 1 FROM documents) AS BIGINT)"))
def split_balance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-quality audit: chi-square independence between the md5
    train/heldout assignment and language — the check that certifies the
    hash split did not systematically starve a language (a biased split
    silently skews eval).  Composes the deterministic hash split with
    the log-free chi-square test (``_base.chi_square``, as
    source_lang_chisq); a chi2 far above dof pages the pipeline owner.
    All counts map-side; the cell fold is pinned (lang, split) order."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = (F.conv(F.substring(F.md5(F.col("doc_id").cast("string")),
                                 1, 8), 16, 10).cast("bigint") % 100)
    s = docs.select(
        "lang", F.when(bucket < 80, "train").otherwise("heldout")
        .alias("split"))
    dof = docs.agg((F.countDistinct("lang") - F.lit(1)).cast("bigint")
                   .alias("dof"))
    return (chi_square(s, "lang", "split")
            .crossJoin(F.broadcast(dof))
            .select("chi2", "dof", "n_cells"))


# --------------------------------------------------------------------- #
# BM25 top terms (rational-idf bm25_lite; datapipe/text.py)             #
# --------------------------------------------------------------------- #

@register("bm25_top_terms", """
WITH tc AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
), tf AS (
    SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
    FROM tc GROUP BY doc_id, token
), dfq AS (
    SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY token
), dl AS (
    SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id
), sc AS (
    SELECT CAST(count(*) AS DOUBLE) AS n_docs,
           CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
    FROM dl
), scored AS (
    SELECT t.doc_id, t.token,
           ((sc.n_docs - CAST(d.df AS DOUBLE) + 0.5)
            / (CAST(d.df AS DOUBLE) + 0.5))
           * (CAST(t.tf AS DOUBLE) * 2.2
              / (CAST(t.tf AS DOUBLE)
                 + 1.2 * (0.25 + 0.75 * CAST(l.dl AS DOUBLE) / sc.avgdl)))
               AS bm25
    FROM tf t
    JOIN dfq d USING (token)
    JOIN dl l USING (doc_id)
    CROSS JOIN sc
)
SELECT doc_id, token, bm25, CAST(rank AS INT) AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY bm25 DESC, token) AS rank
      FROM scored)
WHERE rank <= 3
""")
def bm25_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document BM25 top-3 terms (``datapipe.text.bm25_top_terms``):
    saturated-tf, doc-length-normalized term salience with the RATIONAL
    Robertson idf — the ln() wrap is dropped so the score is a pinned
    tree of IEEE-exact divisions and the oracle matches bit-for-bit
    (documented bm25_lite variant).  k1=1.2, b=0.75.  Plan: map-side
    tf explode+combine, vocabulary-join on token (Zipf → AQE skew-join,
    never broadcast), 1-row scalar (N, avgdl) broadcast, bounded top-3
    row_number per doc with (score DESC, term) tie-determinism."""
    from moonshot_spark.datapipe.text import bm25_top_terms as bm25

    docs = load_table(spark, sf_dir, "documents")
    return bm25(docs)


# --------------------------------------------------------------------- #
# DSIR importance-resampling sufficient statistics (datapipe/text.py)   #
# --------------------------------------------------------------------- #

@register("dsir_bucket_weights", """
WITH tok AS (
    SELECT doc_id, lang = 'en' AS is_target,
           unnest(string_split(text, ' ')) AS token
    FROM documents
), tb AS (
    SELECT doc_id, is_target,
           CAST(('0x' || substr(md5(token), 1, 8)) AS BIGINT) % 1024
               AS bucket
    FROM tok
), buckets AS (
    SELECT bucket, CAST(count(*) AS BIGINT) AS raw_cnt,
           CAST(sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS BIGINT)
               AS target_cnt
    FROM tb GROUP BY bucket
)
SELECT tb.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(b.target_cnt) AS BIGINT) AS sum_target,
       CAST(sum(b.raw_cnt) AS BIGINT) AS sum_raw,
       CAST(sum(b.target_cnt) AS DOUBLE) / CAST(sum(b.raw_cnt) AS DOUBLE)
           AS weight_ratio
FROM tb JOIN buckets b USING (bucket)
GROUP BY tb.doc_id
""")
def dsir_bucket_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance-resampling sufficient statistics
    (``datapipe.text.dsir_bucket_stats``; Xie et al. 2023): tokens hash
    into 1024 md5 buckets, per-bucket occurrence counts are tallied for
    the target subset (here lang='en') and the raw corpus, and each doc
    aggregates integer Σtarget_cnt / Σraw_cnt over its occurrences plus
    the single-division ratio.  The bucket table is FIXED-SIZE (1024
    rows) so its join broadcasts safely at any corpus scale — the
    whole op is two map-side explodes + one groupBy(doc)."""
    from moonshot_spark.datapipe.text import dsir_bucket_stats
    from moonshot_spark.sources.parquet import ensure_scan_parallelism

    # both explode passes are pre-shuffle per-row work: parallelize the
    # single-row-group scan (no-op on real layouts)
    docs = ensure_scan_parallelism(load_table(spark, sf_dir, "documents"))
    return dsir_bucket_stats(docs, F.col("lang") == "en")


# --------------------------------------------------------------------- #
# Matryoshka truncation quality (MRL; per-k corpus report)              #
# --------------------------------------------------------------------- #

@register("matryoshka_truncation_quality", """
WITH v AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
    FROM embeddings
), ks AS (SELECT unnest([8, 16, 32]) AS k),
per AS (
    SELECT v.vec_id, ks.k,
           sqrt(list_reduce(list_transform(e[1:ks.k], x -> x * x),
                            (a, b) -> a + b)
                / list_reduce(list_transform(e, x -> x * x),
                              (a, b) -> a + b)) AS cos_trunc
    FROM v CROSS JOIN ks
)
SELECT CAST(k AS INT) AS k, CAST(count(*) AS BIGINT) AS n_vecs,
       min(cos_trunc) AS min_cos, max(cos_trunc) AS max_cos,
       CAST(sum(CASE WHEN cos_trunc >= 0.95 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_above_95
FROM per GROUP BY k
""")
def matryoshka_truncation_quality(spark: SparkSession, sf_dir: str) \
        -> DataFrame:
    """Matryoshka-representation truncation quality (Kusupati et al.
    2022, public paper): for each prefix length k, the cosine between a
    vector and its k-dim truncation has the closed form
    √(Σ_{i≤k} e_i² / Σ e_i²) — retained energy — so the whole report is
    a zero-shuffle map over vectors followed by one tiny groupBy(k).
    Per-vector sums are pinned left folds; the corpus rollup uses ONLY
    order-insensitive aggregates (count, min, max, integer threshold
    count), so no cross-row float summation can drift.  This is the
    storage-sizing report for MRL-style embedding stores: pick the
    smallest k whose min/threshold cosine clears the recall target."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"))
    per = (v.select("vec_id", "e",
                    F.explode(F.array(F.lit(8), F.lit(16), F.lit(32)))
                    .alias("k"))
           .select("vec_id", "k",
                   F.sqrt(
                       fold_sum(F.transform(F.expr("slice(e, 1, k)"),
                                            lambda x: x * x))
                       / fold_sum(F.transform("e", lambda x: x * x)))
                   .alias("cos_trunc")))
    return (per.groupBy(F.col("k").cast("int").alias("k"))
            .agg(F.count("*").alias("n_vecs"),
                 F.min("cos_trunc").alias("min_cos"),
                 F.max("cos_trunc").alias("max_cos"),
                 F.sum(F.when(F.col("cos_trunc") >= 0.95, 1).otherwise(0))
                 .cast("bigint").alias("n_above_95")))


# --------------------------------------------------------------------- #
# MinHash estimate vs exact Jaccard — sketch-accuracy report            #
# --------------------------------------------------------------------- #

@register("minhash_estimate_accuracy", f"""
WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
), sh AS (
    SELECT doc_id, list_distinct(list_transform(range(0, len(t) - 2),
        i -> array_to_string(list_slice(t, i + 1, i + 3), ' '))) AS shingles
    FROM toks
), {_SHINGLE_SIGS_SQL}, bands AS (
    SELECT doc_id, sig, shingles, b.band_id,
           md5(array_to_string(list_slice(sig, b.band_id * 4 + 1,
                                          b.band_id * 4 + 4), '|')) AS band_hash
    FROM sigs, (SELECT unnest(range(0, 4)) AS band_id) b
), pairs AS (
    SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b,
           l.sig AS sig_a, r.sig AS sig_b,
           l.shingles AS sh_a, r.shingles AS sh_b
    FROM bands l JOIN bands r
      ON l.band_id = r.band_id AND l.band_hash = r.band_hash
     AND l.doc_id < r.doc_id
), scored AS (
    SELECT doc_a, doc_b,
           CAST(len(list_filter(range(1, 17),
                i -> sig_a[i] = sig_b[i])) AS DOUBLE) / 16 AS est_jaccard,
           CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE)
               / len(list_distinct(sh_a || sh_b)) AS exact_jaccard
    FROM pairs
)
SELECT doc_a, doc_b, est_jaccard, exact_jaccard,
       abs(est_jaccard - exact_jaccard) AS abs_err
FROM scored
""")
def minhash_estimate_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy report for the MinHash family (the
    approx_percentile_contract pattern applied to dedup): every LSH
    candidate pair carries BOTH its 16-hash signature estimate
    (matching-slot fraction) and the exact shingle Jaccard, plus the
    absolute error — the operational dial for choosing num_hashes
    (E|err| ~ sqrt(J(1-J)/k)).  Both ratios are single exact divisions
    and the error is one subtraction, so the report is bit-portable.
    One shared shingle pass feeds signatures AND verification (the
    dedup_corpus_minhash discipline); the pair join stays per-bucket."""
    from moonshot_spark.datapipe.dedup import (
        lsh_candidate_pairs, ngram_jaccard_pairs, shingle_frame,
    )

    docs = load_table(spark, sf_dir, "documents")
    sh = shingle_frame(docs, repartition=False)
    cand = lsh_candidate_pairs(docs, num_hashes=16, bands=4, shingle_n=3,
                               shingles=sh)
    exact = (ngram_jaccard_pairs(docs, cand.select("doc_a", "doc_b"),
                                 shingles=sh)
             .withColumnRenamed("jaccard", "exact_jaccard"))
    return (cand.join(exact, ["doc_a", "doc_b"])
            .select("doc_a", "doc_b", "est_jaccard", "exact_jaccard",
                    F.abs(F.col("est_jaccard") - F.col("exact_jaccard"))
                    .alias("abs_err")))


# --------------------------------------------------------------------- #
# dedup canonical selection: keep-longest survivor per dup cluster      #
# --------------------------------------------------------------------- #

@register("dedup_canonical_selection", f"""
WITH RECURSIVE all_docs AS (
    SELECT doc_id, text, n_chars FROM documents
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id, text, n_chars
    FROM documents WHERE doc_id < 25
), toks AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM all_docs
), {_VERIFIED_BANDS_SQL}, {_COMPONENTS_SQL}, labeled AS (
    SELECT ad.doc_id, coalesce(cc.cluster_id, ad.doc_id) AS cluster_id,
           ad.n_chars
    FROM all_docs ad LEFT JOIN cc USING (doc_id)
)
SELECT doc_id, cluster_id,
       first_value(doc_id) OVER (PARTITION BY cluster_id
           ORDER BY n_chars DESC, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
           AS canonical_id,
       doc_id = first_value(doc_id) OVER (PARTITION BY cluster_id
           ORDER BY n_chars DESC, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
           AS is_canonical,
       CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT)
           AS cluster_size
FROM labeled
""")
def dedup_canonical_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The survivor-selection stage that completes near-dedup: every doc
    gets its duplicate cluster (LSH → exact-verify → connected
    components, the dedup_clusters pipeline), singletons label
    themselves, and each cluster elects ONE canonical survivor by the
    keep-longest heuristic (max n_chars, doc_id tie-break — RefinedWeb/
    CCNet keep one representative per dup group).  Deterministic: the
    election is an integer sort, no scores.  Scale: the canonical
    election reuses the cluster partitioning (one window over
    cluster_id); the corpus-wide left join is an equi-join on doc_id.
    Downstream `WHERE is_canonical` is the dedup filter."""
    from moonshot_spark.datapipe.dedup import verified_pairs
    from moonshot_spark.datapipe.graph import duplicate_clusters

    docs = (load_table(spark, sf_dir, "documents")
            .select("doc_id", "text", "n_chars"))
    clones = (docs.where(F.col("doc_id") < 25)
              .withColumn("doc_id", F.col("doc_id") + F.lit(1_000_000)))
    corpus = docs.unionByName(clones)
    verified = verified_pairs(corpus, 0.5).select("doc_a", "doc_b")
    cc = duplicate_clusters(verified).select("doc_id", "cluster_id")
    labeled = (corpus.select("doc_id", "n_chars")
               .join(cc, "doc_id", "left")
               .select("doc_id",
                       F.coalesce("cluster_id", "doc_id")
                       .alias("cluster_id"), "n_chars"))
    # ONE window spec for the election and the size (r15): count(*)
    # over the full ordered frame equals the partition count, so the
    # unordered second WindowExec pass is gone — one exchange, one
    # sort, one window pass (one window spec per partitioning).
    wo = (Window.partitionBy("cluster_id")
          .orderBy(F.col("n_chars").desc(), "doc_id")
          .rowsBetween(Window.unboundedPreceding,
                       Window.unboundedFollowing))
    canonical = F.first("doc_id").over(wo)
    return labeled.select(
        "doc_id", "cluster_id", canonical.alias("canonical_id"),
        (F.col("doc_id") == canonical).alias("is_canonical"),
        F.count("*").over(wo).cast("bigint").alias("cluster_size"))


# --------------------------------------------------------------------- #
# SemDeDup: semantic near-duplicate pruning within embedding cells      #
# --------------------------------------------------------------------- #

@register("semdedup_prune", """
WITH v AS (
    SELECT vec_id, label,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
    FROM embeddings
), n AS (
    SELECT vec_id, label,
           list_transform(e, x -> x / sqrt(list_reduce(
               list_transform(e, y -> y * y), (a, b) -> a + b))) AS u
    FROM v
), p AS (
    SELECT b.vec_id, max(list_reduce(
               list_transform(range(1, len(a.u) + 1),
                              i -> a.u[i] * b.u[i]),
               (x, y) -> x + y)) AS max_cos_to_smaller
    FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
    GROUP BY b.vec_id
)
SELECT n.vec_id, CAST(n.label AS INT) AS label, p.max_cos_to_smaller,
       coalesce(p.max_cos_to_smaller, -2.0) <= 0.3 AS is_kept
FROM n LEFT JOIN p ON n.vec_id = p.vec_id
""")
def semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, public paper): drop items that are
    semantic near-duplicates of an earlier item in the SAME cluster
    cell — the embedding-space analog of MinHash dedup, used to prune
    pretraining corpora ~4x with no quality loss.  The ``label`` column
    stands in for the k-means cell assignment (ivf_label_centroids owns
    real assignment); within a cell, a vector is pruned when any
    SMALLER-id vector sits above cosine τ=0.3 (single-pass keep-first
    variant; τ tuned to this synthetic corpus, whose random-ish vectors
    top out near cos 0.47).  Exactness: unit-normalization and the pair
    dot products are pinned folds; the keep decision is one comparison
    of identically-computed doubles.  Scale: the self-join is PER-CELL
    (Σ cell² not n²) — exactly the SemDeDup paper's cost model; oversize
    cells would be re-split by the IVF path before this stage."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = F.transform("embedding", lambda x: x.cast("double"))
    v = emb.select("vec_id", "label", e.alias("e"))
    norm = F.sqrt(fold_sum(F.transform("e", lambda y: y * y)))
    n = v.select("vec_id", "label",
                 F.transform("e", lambda x: x / norm).alias("u"))
    a = n.select(F.col("vec_id").alias("id_a"),
                 F.col("label").alias("lbl"), F.col("u").alias("u_a"))
    b = n.select(F.col("vec_id").alias("id_b"),
                 F.col("label").alias("lbl"), F.col("u").alias("u_b"))
    cos = fold_sum(F.zip_with("u_a", "u_b", lambda x, y: x * y))
    p = (a.join(b, "lbl")
         .where(F.col("id_a") < F.col("id_b"))
         .select("id_b", cos.alias("cos"))
         .groupBy("id_b")
         .agg(F.max("cos").alias("max_cos_to_smaller")))
    return (n.join(p, n.vec_id == p.id_b, "left")
            .select("vec_id", F.col("label").cast("int").alias("label"),
                    "max_cos_to_smaller",
                    (F.coalesce("max_cos_to_smaller", F.lit(-2.0))
                     <= 0.3).alias("is_kept")))


# --------------------------------------------------------------------- #
# prefix-cache economics: shared first-k-token mass across the corpus   #
# --------------------------------------------------------------------- #

@register("prefix_cache_report", """
WITH ks AS (SELECT unnest([1, 2, 4, 8]) AS k),
tok AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
), pref AS (
    SELECT ks.k, tok.doc_id,
           md5(array_to_string(list_slice(tok.t, 1, ks.k), ' ')) AS p,
           least(ks.k, len(tok.t)) AS p_len
    FROM tok CROSS JOIN ks
    WHERE len(tok.t) >= 1
), groups AS (
    SELECT k, p, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(max(p_len) AS BIGINT) AS p_len
    FROM pref GROUP BY k, p
)
SELECT CAST(k AS INT) AS k,
       CAST(count(*) AS BIGINT) AS n_prefixes,
       CAST(sum(CASE WHEN n_docs > 1 THEN n_docs ELSE 0 END) AS BIGINT)
           AS docs_in_shared,
       CAST(sum(CASE WHEN n_docs > 1 THEN (n_docs - 1) * p_len
                     ELSE 0 END) AS BIGINT) AS tokens_saved
FROM groups GROUP BY k
""")
def prefix_cache_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-cache economics for LLM inference: for each prefix length
    k, how many documents share their first k tokens and how many
    prompt tokens a prefix cache (vLLM-style automatic prefix caching,
    public design) would save — (group_size − 1)·k per shared-prefix
    group.  The serving-side sibling of context_chunks: the same corpus
    statistics that decide whether radix-tree prefix reuse pays for its
    memory.  Prefixes compare by md5 (32 bytes through the shuffle, not
    the token text); every measure is an integer, the whole report is
    two map-side-combined groupBys."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.split("text", " ").alias("t"))
    ks = F.explode(F.array(*[F.lit(k) for k in (1, 2, 4, 8)])).alias("k")
    pref = (tok.where(F.size("t") >= 1)
            .select("doc_id", "t", ks)
            .select("k", "doc_id",
                    F.md5(F.encode(
                        F.array_join(F.slice("t", 1, F.col("k")), " "),
                        "UTF-8")).alias("p"),
                    F.least(F.col("k"), F.size("t")).alias("p_len")))
    groups = (pref.groupBy("k", "p")
              .agg(F.count("*").alias("n_docs"),
                   F.max("p_len").cast("bigint").alias("p_len")))
    shared = F.col("n_docs") > 1
    return (groups.groupBy(F.col("k").cast("int").alias("k"))
            .agg(F.count("*").alias("n_prefixes"),
                 F.sum(F.when(shared, F.col("n_docs")).otherwise(0))
                 .cast("bigint").alias("docs_in_shared"),
                 F.sum(F.when(shared,
                              (F.col("n_docs") - 1) * F.col("p_len"))
                       .otherwise(0))
                 .cast("bigint").alias("tokens_saved")))


# --------------------------------------------------------------------- #
# n-gram speculative-decoding acceptance simulation                     #
# --------------------------------------------------------------------- #

@register("speculative_ngram_acceptance", """
WITH tok AS (
    SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents
), pairs AS (
    SELECT lang, pr.w AS w, pr.nxt AS nxt
    FROM (SELECT lang, unnest(list_transform(range(1, len(t)),
              i -> {'w': t[i], 'nxt': t[i + 1]})) AS pr
          FROM tok WHERE len(t) >= 2)
), bigram AS (
    SELECT w, nxt, CAST(count(*) AS BIGINT) AS cnt
    FROM pairs GROUP BY w, nxt
), best AS (
    SELECT w, nxt AS best_nxt FROM (
        SELECT w, nxt, row_number() OVER (PARTITION BY w
                   ORDER BY cnt DESC, nxt) AS rn
        FROM bigram) WHERE rn = 1
)
SELECT p.lang, CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(CASE WHEN p.nxt = b.best_nxt THEN 1 ELSE 0 END)
            AS BIGINT) AS n_accepted,
       CAST(sum(CASE WHEN p.nxt = b.best_nxt THEN 1 ELSE 0 END)
            AS DOUBLE) / CAST(count(*) AS DOUBLE) AS acceptance_rate
FROM pairs p JOIN best b ON p.w = b.w
GROUP BY p.lang
""")
def speculative_ngram_acceptance(spark: SparkSession, sf_dir: str) \
        -> DataFrame:
    """Acceptance-rate simulation for n-gram speculative decoding
    (prompt-lookup / n-gram draft models, public technique): a bigram
    draft proposes the corpus-argmax next token and the query measures
    how often the corpus itself \"accepts\" it — the upper bound on
    draft hit rate per language, which decides whether the free n-gram
    drafter is worth wiring in.  Builds on bigram_next_token's table:
    the argmax is pinned by (count DESC, token) row_number (integer
    tie-break, no float scores), acceptance is an integer tally per
    lang, and the rate is one division.  The draft join keys on the
    current token (Zipf-skewed — AQE skew-join, never broadcast)."""
    from moonshot_spark.sources.parquet import ensure_scan_parallelism

    # the bigram explode is pre-shuffle per-row work: parallelize the
    # single-row-group scan (no-op on real layouts; PERF.md
    # "Single-row-group scans")
    docs = ensure_scan_parallelism(load_table(spark, sf_dir, "documents"))
    tok = docs.select("lang", F.split("text", " ").alias("t"))
    prs = F.transform(
        F.sequence(F.lit(1), F.size("t") - 1),
        lambda i: F.struct(F.element_at("t", i).alias("w"),
                           F.element_at("t", i + 1).alias("nxt")))
    pairs = (tok.where(F.size("t") >= 2)
             .select("lang", F.explode(prs).alias("pr"))
             .select("lang", F.col("pr.w").alias("w"),
                     F.col("pr.nxt").alias("nxt")))
    bigram = pairs.groupBy("w", "nxt").agg(F.count("*").alias("cnt"))
    wr = Window.partitionBy("w").orderBy(F.col("cnt").desc(), "nxt")
    best = (bigram.withColumn("rn", F.row_number().over(wr))
            .where(F.col("rn") == 1)
            .select("w", F.col("nxt").alias("best_nxt")))
    acc = F.when(F.col("nxt") == F.col("best_nxt"), 1).otherwise(0)
    return (pairs.join(best, "w")
            .groupBy("lang")
            .agg(F.count("*").alias("n_pairs"),
                 F.sum(acc).cast("bigint").alias("n_accepted"),
                 (F.sum(acc).cast("double")
                  / F.count("*").cast("double"))
                 .alias("acceptance_rate")))


# --------------------------------------------------------------------- #
# Zipf slope: corpus-health statistic over the token frequency curve    #
# --------------------------------------------------------------------- #

@register("zipf_slope", """
WITH toks AS (
    SELECT unnest(string_split(text, ' ')) AS tok FROM documents
),
freq AS (
    SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM toks
    WHERE tok <> '' GROUP BY tok
),
ranked AS (
    SELECT tok, cnt,
           row_number() OVER (ORDER BY cnt DESC, tok) AS rnk
    FROM freq ORDER BY cnt DESC, tok LIMIT 500
),
logs AS (
    -- ln() is not cross-engine bit-stable (Math.log vs libm differ by
    -- 1 ulp on some inputs): round to 9dp on BOTH sides before summing
    SELECT rnk, round(ln(CAST(rnk AS DOUBLE)), 9) AS lx,
           round(ln(CAST(cnt AS DOUBLE)), 9) AS ly
    FROM ranked
),
sums AS (
    SELECT CAST(count(*) AS BIGINT) AS n,
           list_reduce(list(lx ORDER BY rnk), (a, b) -> a + b) AS sx,
           list_reduce(list(ly ORDER BY rnk), (a, b) -> a + b) AS sy,
           list_reduce(list(lx * lx ORDER BY rnk), (a, b) -> a + b) AS sxx,
           list_reduce(list(lx * ly ORDER BY rnk), (a, b) -> a + b) AS sxy
    FROM logs
)
SELECT n AS n_ranks,
       (sxy - sx * sy / n) / (sxx - sx * sx / n) AS zipf_slope,
       (sy - (sxy - sx * sy / n) / (sxx - sx * sx / n) * sx) / n
           AS zipf_intercept
FROM sums
""")
def zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the corpus token-frequency curve: OLS slope of
    ln(freq) on ln(rank) across the top-500 ranks (a healthy natural-
    language corpus sits near -1; machine-generated or template-heavy
    corpora flatten or steepen — a standard pretraining-corpus health
    check).  Scale shape: one tokenize-explode + groupBy (map-side
    combinable counts), then a TopK (orderBy+limit reduces per-partition
    tops, never a global sort of the vocabulary), then the closed-form
    slope from rank-pinned exact folds over 500 rows.  The regression
    sums use fold_sum_exact so Spark and DuckDB produce bit-identical
    doubles."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(F.split("text", " ")).alias("tok")) \
        .where(F.col("tok") != "")
    freq = toks.groupBy("tok").agg(F.count("*").cast("bigint").alias("cnt"))
    top = freq.orderBy(F.desc("cnt"), F.asc("tok")).limit(500)
    ranked = top.withColumn(
        "rnk", F.row_number().over(
            Window.partitionBy(F.lit(1)).orderBy(F.desc("cnt"), F.asc("tok"))))
    # ln() differs from DuckDB's libm by 1 ulp on some inputs; 9dp
    # rounding (positive values: HALF_UP == half-away on both engines)
    # pins the regression inputs bit-identically
    logs = ranked.select(
        "rnk", F.round(F.log(F.col("rnk").cast("double")), 9).alias("lx"),
        F.round(F.log(F.col("cnt").cast("double")), 9).alias("ly"))
    sums = logs.agg(
        F.count("*").cast("bigint").alias("n"),
        fold_sum_exact("rnk", "lx").alias("sx"),
        fold_sum_exact("rnk", "ly").alias("sy"),
        fold_sum_exact("rnk", F.col("lx") * F.col("lx")).alias("sxx"),
        fold_sum_exact("rnk", F.col("lx") * F.col("ly")).alias("sxy"))
    n = F.col("n")
    slope = ((F.col("sxy") - F.col("sx") * F.col("sy") / n)
             / (F.col("sxx") - F.col("sx") * F.col("sx") / n))
    intercept = (F.col("sy") - slope * F.col("sx")) / n
    return sums.select(n.alias("n_ranks"), slope.alias("zipf_slope"),
                       intercept.alias("zipf_intercept"))


# --------------------------------------------------------------------- #
# Seeded deterministic corpus shuffle (training-order permutation)      #
# --------------------------------------------------------------------- #

@register("corpus_shuffle_epoch", """
SELECT doc_id,
       CAST(row_number() OVER (
           ORDER BY md5('7:1:' || CAST(doc_id AS VARCHAR)), doc_id)
           AS BIGINT) AS position,
       CAST((row_number() OVER (
           ORDER BY md5('7:1:' || CAST(doc_id AS VARCHAR)), doc_id) - 1)
           % 8 AS INT) AS shard
FROM documents
""")
def corpus_shuffle_epoch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible training-order shuffle (seed 7, epoch 1, 8 shards):
    position = exact global rank by md5(seed:epoch:doc_id) via the
    two-phase TeraSort rank — no unpartitioned window — and round-robin
    shard assignment.  The oracle's single-task row_number() is the
    semantics; the engine's plan is the scale-safe implementation of it."""
    from moonshot_spark.datapipe.sampling import corpus_shuffle

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return corpus_shuffle(docs, seed=7, epoch=1, num_shards=8) \
        .select("doc_id", "position", "shard")


# --------------------------------------------------------------------- #
# Distributed Lloyd's k-means over embeddings (iterative algorithm)     #
# --------------------------------------------------------------------- #

@register("kmeans_embedding_clusters", """
WITH q AS (
    SELECT vec_id,
           list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
    FROM embeddings
),
dims AS (SELECT unnest(range(1, 65)) AS pos),
c0 AS (
    SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS j, qv AS c
    FROM (SELECT vec_id, qv FROM q ORDER BY vec_id LIMIT 8)
),
a1 AS (
    SELECT vec_id, qv, j, d2 FROM (
        SELECT v.vec_id, v.qv, c.j,
               list_reduce(list_transform(v.qv,
                   (x, i) -> (x - c.c[i]) * (x - c.c[i])),
                   (a, b) -> a + b) AS d2,
               row_number() OVER (PARTITION BY v.vec_id ORDER BY
                   list_reduce(list_transform(v.qv,
                       (x, i) -> (x - c.c[i]) * (x - c.c[i])),
                       (a, b) -> a + b), c.j) AS rn
        FROM q v CROSS JOIN c0 c) WHERE rn = 1
),
s1 AS (
    SELECT a.j, p.pos, CAST(sum(a.qv[p.pos]) AS BIGINT) AS s,
           CAST(count(*) AS BIGINT) AS n
    FROM a1 a CROSS JOIN dims p GROUP BY a.j, p.pos
),
c1 AS (
    SELECT c0.j,
           list(COALESCE((s1.s - ((s1.s % s1.n + s1.n) % s1.n)) // s1.n,
                         c0.c[p.pos]) ORDER BY p.pos) AS c
    FROM c0 CROSS JOIN dims p
    LEFT JOIN s1 ON s1.j = c0.j AND s1.pos = p.pos
    GROUP BY c0.j
),
a2 AS (
    SELECT vec_id, qv, j, d2 FROM (
        SELECT v.vec_id, v.qv, c.j,
               list_reduce(list_transform(v.qv,
                   (x, i) -> (x - c.c[i]) * (x - c.c[i])),
                   (a, b) -> a + b) AS d2,
               row_number() OVER (PARTITION BY v.vec_id ORDER BY
                   list_reduce(list_transform(v.qv,
                       (x, i) -> (x - c.c[i]) * (x - c.c[i])),
                       (a, b) -> a + b), c.j) AS rn
        FROM q v CROSS JOIN c1 c) WHERE rn = 1
),
s2 AS (
    SELECT a.j, p.pos, CAST(sum(a.qv[p.pos]) AS BIGINT) AS s,
           CAST(count(*) AS BIGINT) AS n
    FROM a2 a CROSS JOIN dims p GROUP BY a.j, p.pos
),
c2 AS (
    SELECT c1.j,
           list(COALESCE((s2.s - ((s2.s % s2.n + s2.n) % s2.n)) // s2.n,
                         c1.c[p.pos]) ORDER BY p.pos) AS c
    FROM c1 CROSS JOIN dims p
    LEFT JOIN s2 ON s2.j = c1.j AND s2.pos = p.pos
    GROUP BY c1.j
),
a3 AS (
    SELECT vec_id, j, d2 FROM (
        SELECT v.vec_id, c.j,
               list_reduce(list_transform(v.qv,
                   (x, i) -> (x - c.c[i]) * (x - c.c[i])),
                   (a, b) -> a + b) AS d2,
               row_number() OVER (PARTITION BY v.vec_id ORDER BY
                   list_reduce(list_transform(v.qv,
                       (x, i) -> (x - c.c[i]) * (x - c.c[i])),
                       (a, b) -> a + b), c.j) AS rn
        FROM q v CROSS JOIN c2 c) WHERE rn = 1
),
l1 AS (
    SELECT j, list_reduce(list_transform(c, x -> abs(x)),
                          (a, b) -> a + b) AS centroid_l1
    FROM c2
)
SELECT a.j AS cluster, CAST(count(*) AS BIGINT) AS n_members,
       CAST(sum(a.d2) AS BIGINT) AS inertia,
       max(l1.centroid_l1) AS centroid_l1
FROM a3 a JOIN l1 ON l1.j = a.j
GROUP BY a.j ORDER BY cluster
""")
def kmeans_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd's k-means (k=8, 2 iterations) over the embeddings
    table — the iterative-algorithm pattern: per iteration ONE scan +
    one (cluster, dim) partial-agg shuffle, centroids broadcast as plan
    literals (datapipe/clustering.py).  Exact integer micro-unit
    arithmetic end to end (quantize -> BIGINT distances -> floor-div
    centroid update), so the unrolled SQL oracle matches bit-for-bit —
    including assignment ties and empty-cluster fallbacks.  Reports
    per-cluster size, exact inertia, and the centroid L1 norm."""
    from moonshot_spark.datapipe.clustering import kmeans_fit_predict

    emb = load_table(spark, sf_dir, "embeddings")
    assigned, cents = kmeans_fit_predict(
        emb, k=8, n_iter=2, return_centroids=True)
    l1 = [sum(abs(int(v)) for v in c) for c in cents]
    l1_expr = F.element_at(
        F.array(*[F.lit(int(v)).cast("bigint") for v in l1]),
        F.col("cluster") + 1)
    return (assigned.groupBy("cluster")
            .agg(F.count("*").cast("bigint").alias("n_members"),
                 F.sum("dist2").cast("bigint").alias("inertia"))
            .withColumn("centroid_l1", l1_expr)
            .orderBy("cluster"))


# --------------------------------------------------------------------- #
# LLM datapipe wave 7: exact-substring spans, contrastive mining, PQ,   #
# duplication-aware loss weighting, model-based filtering               #
# --------------------------------------------------------------------- #

def _span_oracle_prefix(k: int = 8, carry_lang: bool = False) -> str:
    """Shared DuckDB CTE chain for the ExactSubstr span oracles
    (duplicate_text_spans + exact_substr_scrub): clone-seeded corpus →
    tokenize → k-token windows → window hash → duplicated-hash semi-join
    → island segmentation.  One definition so the two oracles (which
    must replay the identical datapipe/spans.py machinery) can't drift.
    Returns the ``WITH all_docs ... g`` prefix; callers append their own
    reporting CTEs / final SELECT."""
    lang_sel = ", lang" if carry_lang else ""
    return f"""WITH all_docs AS (
    SELECT doc_id, text{lang_sel} FROM documents
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id,
           array_to_string(list_slice(string_split(text, ' '), 1,
               len(string_split(text, ' ')) // 2), ' ') AS text{lang_sel}
    FROM documents WHERE doc_id < 25
), t AS (
    SELECT doc_id, string_split(text, ' ') AS toks FROM all_docs
), w AS (
    SELECT doc_id, unnest(range(0, len(toks) - {k} + 1)) AS pos, toks
    FROM t WHERE len(toks) >= {k}
), h AS (
    SELECT doc_id, pos,
           md5(array_to_string(list_slice(toks, pos + 1, pos + {k}), ' '))
               AS wh
    FROM w
), dup AS (
    SELECT wh FROM h GROUP BY wh HAVING count(*) >= 2
), d AS (
    SELECT doc_id, pos FROM h SEMI JOIN dup USING (wh)
), isl AS (
    SELECT doc_id, pos,
           CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                     > {k} THEN 1 ELSE 0 END AS brk
    FROM d
), g AS (
    SELECT doc_id, pos,
           sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS island
    FROM isl
)"""


def _half_clones(docs: DataFrame, *carry: str) -> DataFrame:
    """The span queries' clone seed (``all_docs`` in
    ``_span_oracle_prefix``): the first half of each of the first 25
    docs' tokens as doc ``doc_id + 1000000``, with the ``carry``
    columns."""
    toks = F.split(F.col("text"), " ")
    half = F.slice(toks, 1, F.floor(F.size(toks) / 2).cast("int"))
    return docs.where(F.col("doc_id") < 25).select(
        (F.col("doc_id") + F.lit(1_000_000)).alias("doc_id"),
        F.array_join(half, " ").alias("text"), *carry)


@register("duplicate_text_spans", _span_oracle_prefix(k=8) + """
SELECT doc_id,
       CAST(min(pos) AS BIGINT) AS span_start,
       CAST(max(pos) + 7 AS BIGINT) AS span_end,
       CAST(max(pos) + 8 - min(pos) AS BIGINT) AS span_len,
       CAST(count(*) AS BIGINT) AS n_windows
FROM g GROUP BY doc_id, island
""")
def duplicate_text_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr dedup spans (Lee et al., ACL 2022): the maximal token
    spans whose every 8-token window occurs >= 2 times in the corpus —
    the exact intervals an exact-substring dedup pass removes.  Clone-
    seeded with the FIRST HALF of each of the first 25 docs so the span
    machinery produces partial-doc spans (original docs show a first-half
    span; the natural corpus alone has none at small SF).  Scale shape in
    datapipe/spans.py: window hashing is a map, duplicate detection one
    uniform-key hash aggregate + left-semi, island merge a per-doc window.
    """
    from moonshot_spark.datapipe.spans import duplicate_spans

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return duplicate_spans(docs.unionByName(_half_clones(docs)), k=8)


@register("exact_substr_incremental", _span_oracle_prefix(k=8) + """
SELECT doc_id,
       CAST(min(pos) AS BIGINT) AS span_start,
       CAST(max(pos) + 7 AS BIGINT) AS span_end,
       CAST(max(pos) + 8 - min(pos) AS BIGINT) AS span_len,
       CAST(count(*) AS BIGINT) AS n_windows
FROM g WHERE doc_id >= 1000000
GROUP BY doc_id, island
""")
def exact_substr_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ExactSubstr scrub planning (datapipe/spans.py::
    incremental_duplicate_spans, VERDICT r8 #2): the cloned first-half
    docs arrive as a NEW ingest batch and are scrubbed against the
    PERSISTED window-hash index of the original corpus — no full-corpus
    recompute.  Window hashes are pure md5 functions of the text, so the
    batch's spans are bit-equal to the full-recompute
    ``duplicate_text_spans`` restricted to the batch ids — which is
    exactly what the oracle states (the same union-corpus CTE chain,
    filtered to the cloned ids).  Shape per batch: batch window hashing
    (map) + one equi-join against the index on window_md5 + a batch-doc
    island merge; the historical corpus is touched only through the
    index."""
    from moonshot_spark.datapipe.spans import (
        incremental_duplicate_spans, window_hash_index)

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    index = window_hash_index(docs, k=8)
    return incremental_duplicate_spans(_half_clones(docs), index, k=8)


@register("hard_negative_mining", """
WITH corpus AS (
    SELECT vec_id, label,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings
), anch AS (
    SELECT vec_id AS anchor_id, label AS albl, v AS a
    FROM corpus WHERE vec_id % 100 = 0 AND vec_id < 100000
), sims AS (
    SELECT anchor_id,
           CASE WHEN c.label = albl THEN 'positive' ELSE 'negative' END
               AS role,
           c.vec_id,
           list_reduce(list_transform(range(1, len(c.v) + 1),
               i -> c.v[i] * a[i]), (x, y) -> x + y)
           / (sqrt(list_reduce(list_transform(range(1, len(c.v) + 1),
                  i -> c.v[i] * c.v[i]), (x, y) -> x + y))
              * sqrt(list_reduce(list_transform(range(1, len(a) + 1),
                  i -> a[i] * a[i]), (x, y) -> x + y))) AS cosine
    FROM corpus c CROSS JOIN anch
    WHERE c.vec_id <> anchor_id
), r AS (
    SELECT *, row_number() OVER (PARTITION BY anchor_id, role
                                 ORDER BY cosine DESC, vec_id) AS rank
    FROM sims
)
SELECT anchor_id, role, CAST(rank AS INT) AS rank, vec_id, cosine
FROM r
WHERE rank <= CASE WHEN role = 'positive' THEN 1 ELSE 3 END
""")
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-pair mining over the embedding corpus: per anchor
    (every 100th vector, HARD-CAPPED at id < 100k so the anchor set
    stays broadcastable no matter the corpus size — in production the
    anchors are a fixed curated set, not a corpus percentage), the
    nearest same-label vector (positive) and the 3 nearest
    different-label vectors (hard negatives) by cosine.
    Broadcast anchor set -> one linear corpus scan (see
    datapipe/similarity.py::mine_hard_negatives for the scale shape and
    the IVF escape hatch for large anchor sets)."""
    from moonshot_spark.datapipe.similarity import mine_hard_negatives

    emb = load_table(spark, sf_dir, "embeddings")
    anchors = (emb.where((F.col("vec_id") % 100 == 0)
                     & (F.col("vec_id") < 100_000))
               .select(F.col("vec_id").alias("anchor_id"),
                       "embedding", "label"))
    return mine_hard_negatives(emb, anchors, n_neg=3)


@register("pq_encode_report", """
WITH corpus AS (
    SELECT vec_id, label,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings
), cents AS (
    SELECT vec_id AS cid, v AS c FROM corpus WHERE vec_id < 4
), sub AS (
    SELECT vec_id, label, cid, s.s AS subspace,
           list_reduce(list_transform(range(1, 9),
               i -> (v[s.s * 8 + i] - c[s.s * 8 + i])
                    * (v[s.s * 8 + i] - c[s.s * 8 + i])),
               (x, y) -> x + y) AS ssd
    FROM corpus CROSS JOIN cents
    CROSS JOIN (SELECT unnest(range(0, 8)) AS s) s
), best AS (
    SELECT vec_id, label, subspace,
           min([ssd, CAST(cid AS DOUBLE)]) AS m
    FROM sub GROUP BY vec_id, label, subspace
)
SELECT label, CAST(subspace AS INT) AS subspace, CAST(m[2] AS INT) AS code,
       CAST(count(*) AS BIGINT) AS n_vecs,
       min(m[1]) AS min_ssd, max(m[1]) AS max_ssd
FROM best GROUP BY label, subspace, code
""")
def pq_encode_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encode pass (Jegou et al., TPAMI 2011): 8
    subspaces x 8 dims, 4 codewords per subspace (deterministically the
    subvectors of vec_id 0-3 so the oracle can rebuild the codebooks in
    SQL; production swaps in k-means-trained books — same encode plan).
    Per (label, subspace, codeword): assignment count and the min/max
    squared reconstruction error (min/max are association-order-free, so
    the doubles compare bit-exactly; the per-pair SSD is a fixed
    left-to-right 8-term fold on both engines)."""
    from moonshot_spark.datapipe.similarity import pq_encode

    emb = load_table(spark, sf_dir, "embeddings")
    cb_rows = (emb.where(F.col("vec_id") < 4)
               .select("vec_id", "embedding").orderBy("vec_id").collect())
    codebooks = [[[float(x) for x in r["embedding"][s * 8:(s + 1) * 8]]
                  for r in cb_rows] for s in range(8)]
    # label rides through the encode map (carry_cols) — no corpus-scale
    # join back to the source table for the report's grouping key
    enc = pq_encode(emb, codebooks, n_sub=8, sub_dim=8,
                    carry_cols=["label"])
    return (enc
            .groupBy("label", "subspace", "code")
            .agg(F.count("*").cast("bigint").alias("n_vecs"),
                 F.min("ssd").alias("min_ssd"),
                 F.max("ssd").alias("max_ssd")))


@register("dup_aware_loss_weights", """
WITH all_docs AS (
    SELECT doc_id, text, lang FROM documents
    UNION ALL
    SELECT doc_id + 1000000, text, lang FROM documents WHERE doc_id < 25
    UNION ALL
    SELECT doc_id + 2000000, text, lang FROM documents WHERE doc_id < 10
), fp AS (
    SELECT doc_id, lang,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
           md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS f
    FROM all_docs
), sizes AS (
    SELECT f, CAST(count(*) AS BIGINT) AS cluster_size FROM fp GROUP BY f
)
SELECT lang, cluster_size,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS total_tokens,
       CAST(sum(n_tok) AS DOUBLE) / CAST(cluster_size AS DOUBLE)
           AS eff_tokens
FROM fp JOIN sizes USING (f)
GROUP BY lang, cluster_size
""")
def dup_aware_loss_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplication-aware loss weighting: instead of dropping duplicates,
    weight each doc 1/cluster_size so a cluster contributes one doc's
    worth of gradient (the soft-dedup alternative used when exact dedup
    is too destructive).  Clone-seeded at two depths so sizes 1, 2 and 3
    all appear.  Report grain is (lang, cluster_size): the effective
    token count is total_tokens/cluster_size — a SINGLE division of two
    integer-exact aggregates, so the double is bit-identical across
    engines (no order-dependent float summation anywhere)."""
    from moonshot_spark.datapipe.text import fingerprint_expr, token_count_expr

    docs = load_table(spark, sf_dir, "documents") \
        .select("doc_id", "text", "lang")
    c1 = docs.where(F.col("doc_id") < 25) \
        .withColumn("doc_id", F.col("doc_id") + F.lit(1_000_000))
    c2 = docs.where(F.col("doc_id") < 10) \
        .withColumn("doc_id", F.col("doc_id") + F.lit(2_000_000))
    fp = (docs.unionByName(c1).unionByName(c2)
          .select("lang",
                  token_count_expr("text").cast("bigint").alias("n_tok"),
                  fingerprint_expr("text").alias("f")))
    # cluster size as a windowed count over the fingerprint partition
    # (same one-shuffle pattern as datapipe/spans.py duplicate
    # detection): groupBy+join-back would shuffle the same narrow rows
    # AND compute the corpus-wide fingerprint md5 twice
    cluster_size = (F.count("*")
                    .over(Window.partitionBy("f")).cast("bigint"))
    return (fp.withColumn("cluster_size", cluster_size)
            .groupBy("lang", "cluster_size")
            .agg(F.count("*").cast("bigint").alias("n_docs"),
                 F.sum("n_tok").cast("bigint").alias("total_tokens"))
            .withColumn("eff_tokens",
                        F.col("total_tokens").cast("double")
                        / F.col("cluster_size").cast("double")))


@register("model_filter_report", """
WITH feats AS (
    SELECT doc_id, lang,
           CAST(len(list_filter(string_split(text, ' '),
               t -> t IN ('the', 'of', 'and', 'to', 'a', 'in', 'is', 'it')))
               AS DOUBLE)
           / CAST(len(string_split(text, ' ')) AS DOUBLE) AS stop_ratio,
           CAST(length(text) AS DOUBLE)
           / CAST(len(string_split(text, ' ')) AS DOUBLE) AS mean_tok_len,
           CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
               AS DOUBLE)
           / CAST(length(text) AS DOUBLE) AS digit_ratio
    FROM documents
), scored AS (
    SELECT doc_id, lang,
           3.0 * stop_ratio + -0.2 * mean_tok_len + -5.0 * digit_ratio + 1.0
               AS score
    FROM feats
), bucketed AS (
    SELECT CAST(floor(score * 20) AS BIGINT) AS bucket, doc_id, lang
    FROM scored
), agg AS (
    SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
    FROM bucketed GROUP BY bucket
)
SELECT bucket, n_docs, n_langs,
       CAST(sum(n_docs) OVER (ORDER BY bucket DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_docs,
       CAST(sum(n_docs) OVER (ORDER BY bucket DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
       / CAST(sum(n_docs) OVER () AS DOUBLE) AS retention
FROM agg
""")
def model_filter_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering sweep: score every doc with a fixed
    linear quality model over rational text features (stopword ratio,
    mean token length, digit ratio — all single divisions of integer
    aggregates, and the score a fixed left-to-right weighted sum, so the
    doubles are bit-exact with no transcendentals), bucket scores, and
    report the retention curve per threshold.  The cumulative window runs
    over the POST-AGG bucket grid (bounded by the score range, ~tens of
    rows at any corpus size) — the corpus-scale work is the one map +
    one groupBy."""
    docs = load_table(spark, sf_dir, "documents")
    fx = _quality_feature_exprs()
    score = (F.lit(3.0) * fx["stop_ratio"] + F.lit(-0.2) * fx["mean_tok_len"]
             + F.lit(-5.0) * fx["digit_ratio"] + F.lit(1.0))
    agg = (docs.select("lang",
                       F.floor(score * 20).cast("bigint").alias("bucket"))
           .groupBy("bucket")
           .agg(F.count("*").cast("bigint").alias("n_docs"),
                F.countDistinct("lang").cast("bigint").alias("n_langs")))
    cum_w = Window.orderBy(F.desc("bucket")) \
        .rowsBetween(Window.unboundedPreceding, 0)
    tot_w = Window.partitionBy()
    return (agg
            .withColumn("cum_docs",
                        F.sum("n_docs").over(cum_w).cast("bigint"))
            .withColumn("retention",
                        F.sum("n_docs").over(cum_w).cast("double")
                        / F.sum("n_docs").over(tot_w).cast("double")))


def _quality_feature_exprs() -> dict:
    """The rational text-quality feature expressions shared by
    model_filter_report, _doc_quality_feats and grouped_ols_sources —
    one definition so the three queries (and their oracle SQL, which
    must stay bit-identical) can never drift apart: English-stopword
    ratio, mean token length, digit ratio, type-token ratio — all
    single divisions of integer counts, bit-exact across engines."""
    toks = F.split(F.col("text"), " ")
    n_tok = F.size(toks).cast("double")
    stops = ("the", "of", "and", "to", "a", "in", "is", "it")
    return {
        "toks": toks,
        "n_tok": n_tok,
        "stop_ratio": (F.size(F.filter(
            toks, lambda t: t.isin(*stops))).cast("double") / n_tok),
        "mean_tok_len": F.length("text").cast("double") / n_tok,
        "digit_ratio": ((F.length("text")
                         - F.length(F.regexp_replace("text", "[0-9]", "")))
                        .cast("double") / F.length("text").cast("double")),
        "ttr": F.size(F.array_distinct(toks)).cast("double") / n_tok,
    }


def _doc_quality_feats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared feature frame for the quality-classifier queries: label
    y = (lang = 'en') plus three rational text features (see
    _quality_feature_exprs)."""
    docs = load_table(spark, sf_dir, "documents")
    fx = _quality_feature_exprs()
    return (docs
            .where((F.length("text") > 0) & (F.size(fx["toks"]) > 0))
            .select(F.when(F.col("lang") == "en", 1.0).otherwise(0.0)
                    .alias("y"),
                    fx["stop_ratio"].alias("f1"),
                    fx["mean_tok_len"].alias("f2"),
                    fx["digit_ratio"].alias("f3")))


def _logreg_cte_chain(iters: int = 3, lr: float = 0.5) -> str:
    """The shared chained-CTE DuckDB replay of train_gd_classifier:
    iteration k's gradient CTE reads the betas CTE of iteration k-1,
    with every float operation in the IDENTICAL order as the Spark
    trainer (see datapipe/classifier.py docstring for why the match is
    bit-exact: rational link + integer-quantized gradient sums).
    Returns the WITH-chain up to the final betas CTE ``i{iters}``;
    callers append their own reporting CTEs (training trajectory for
    logreg_quality_train, scoring + reliability buckets for
    classifier_calibration)."""
    resid = "((0.5 + z / (2.0 * (1.0 + abs(z)))) - y)"
    parts = ["""
WITH feats AS (
    SELECT CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
           CAST(len(list_filter(string_split(text, ' '),
               t -> t IN ('the', 'of', 'and', 'to', 'a', 'in', 'is', 'it')))
               AS DOUBLE)
           / CAST(len(string_split(text, ' ')) AS DOUBLE) AS f1,
           CAST(length(text) AS DOUBLE)
           / CAST(len(string_split(text, ' ')) AS DOUBLE) AS f2,
           CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
               AS DOUBLE)
           / CAST(length(text) AS DOUBLE) AS f3
    FROM documents
    WHERE length(text) > 0 AND len(string_split(text, ' ')) > 0
), i0 AS (SELECT 0.0 AS b0, 0.0 AS b1, 0.0 AS b2, 0.0 AS b3)"""]
    for k in range(1, iters + 1):
        parts.append(f""", s{k} AS (
    SELECT y, f1, f2, f3, b0 + b1 * f1 + b2 * f2 + b3 * f3 AS z
    FROM feats CROSS JOIN i{k - 1}
), g{k} AS (
    SELECT count(*) AS n,
           sum(CAST(floor({resid} * 1000000000.0) AS BIGINT)) AS g0,
           sum(CAST(floor({resid} * f1 * 1000000000.0) AS BIGINT)) AS g1,
           sum(CAST(floor({resid} * f2 * 1000000000.0) AS BIGINT)) AS g2,
           sum(CAST(floor({resid} * f3 * 1000000000.0) AS BIGINT)) AS g3
    FROM s{k}
), i{k} AS (
    SELECT b0 - {lr} * ((g0 / 1000000000.0) / n) AS b0,
           b1 - {lr} * ((g1 / 1000000000.0) / n) AS b1,
           b2 - {lr} * ((g2 / 1000000000.0) / n) AS b2,
           b3 - {lr} * ((g3 / 1000000000.0) / n) AS b3
    FROM g{k} CROSS JOIN i{k - 1})""")
    return "".join(parts)


def _logreg_oracle_sql(iters: int = 3, lr: float = 0.5) -> str:
    """Training-trajectory report on top of the shared CTE chain."""
    parts = [_logreg_cte_chain(iters, lr)]
    parts.append(f""", acc AS (
    SELECT sum(CASE WHEN (z > 0.0) = (y = 1.0) THEN 1 ELSE 0 END) AS correct,
           count(*) AS n
    FROM (SELECT y, b0 + b1 * f1 + b2 * f2 + b3 * f3 AS z
          FROM feats CROSS JOIN i{iters})
)""")
    rows = []
    for k in range(1, iters + 1):
        for j in range(4):
            rows.append(f"SELECT CAST({k} AS INT) AS iter, 'b{j}' AS coef, "
                        f"b{j} AS beta FROM i{k}")
    rows.append(f"SELECT CAST({iters} AS INT) AS iter, 'accuracy' AS coef, "
                "CAST(correct AS DOUBLE) / n AS beta FROM acc")
    return "".join(parts) + "\n" + "\nUNION ALL\n".join(rows)


@register("logreg_quality_train", _logreg_oracle_sql(iters=3, lr=0.5))
def logreg_quality_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed TRAINING of a model-based language/quality filter
    (GPT-3 Appendix A pattern): full-batch gradient descent, 3
    iterations at lr=0.5, on label y = (lang = 'en') over three rational
    text features (English-stopword ratio, mean token length, digit
    ratio).  Each iteration is one map-side-combinable aggregate over
    the persisted feature frame; the rational fast-sigmoid link and
    integer-quantized gradient sums make the whole trajectory bit-exact
    against the oracle's chained-CTE replay (datapipe/classifier.py).
    Output: (iter, coef, beta) per update plus the final model's exact
    training accuracy — 13 rows.
    Beyond-reference: the reference's ML surface is inference-only
    (reference moonshot/strategies/ml.py:37-99 loads pre-trained
    models); this adds the distributed training half."""
    from moonshot_spark.datapipe.classifier import train_gd_classifier

    feats = _doc_quality_feats(spark, sf_dir)
    fit = train_gd_classifier(feats, ["f1", "f2", "f3"], "y",
                              lr=0.5, iters=3)
    rows = [(it, f"b{j}", b)
            for it, betas in fit.history for j, b in enumerate(betas)]
    rows.append((3, "accuracy", fit.accuracy))
    return local_df(spark, rows, "iter int, coef string, beta double")


@register("exact_substr_scrub", _span_oracle_prefix(k=8, carry_lang=True)
          + """, spans AS (
    SELECT doc_id, max(pos) + 8 - min(pos) AS span_len
    FROM g GROUP BY doc_id, island
), per_doc AS (
    SELECT doc_id, sum(span_len) AS removed FROM spans GROUP BY doc_id
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN removed IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS docs_with_spans,
       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tok,
       CAST(sum(len(string_split(text, ' ')) - COALESCE(removed, 0))
           AS BIGINT) AS kept_tok
FROM all_docs LEFT JOIN per_doc USING (doc_id)
GROUP BY lang
""")
def exact_substr_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REMOVAL half of ExactSubstr dedup (Lee et al., ACL 2022):
    detect maximal duplicated spans (duplicate_text_spans' machinery),
    then actually cut the spanned tokens out of each document with a
    nested higher-order filter (datapipe/spans.py::scrub_spans — pure
    codegen, one doc-keyed join, no extra shuffle) and report per-lang
    token accounting.  The oracle recomputes the span intervals in SQL
    and checks kept = total - sum(span_len) — so a filtering bug on the
    Spark side (off-by-one span boundary, double-cut overlap) breaks the
    kept_tok column.  Clone-seeded like duplicate_text_spans so spans
    exist at small SF."""
    from moonshot_spark.datapipe.spans import duplicate_spans, scrub_spans

    docs = load_table(spark, sf_dir, "documents") \
        .select("doc_id", "text", "lang")
    corpus = docs.unionByName(_half_clones(docs, "lang"))
    spans = duplicate_spans(corpus, k=8)
    scrubbed = scrub_spans(corpus, spans)
    return (scrubbed.groupBy("lang")
            .agg(F.count("*").cast("bigint").alias("n_docs"),
                 F.sum((F.col("kept_tok") < F.col("n_tok")).cast("int"))
                 .cast("bigint").alias("docs_with_spans"),
                 F.sum("n_tok").cast("bigint").alias("total_tok"),
                 F.sum("kept_tok").cast("bigint").alias("kept_tok")))


def _bpe_cte_chain(n_merges: int = 4,
                   carry: tuple = ()) -> str:
    """Chained-CTE DuckDB replay of bpe_train (datapipe/bpe.py): round
    k's pair counts read the merged state of round k-1; the argmax tie
    break (cnt DESC, l, r — binary collation) and the double-spaced
    literal replace match the Spark trainer exactly.  One definition
    shared by bpe_phrase_merges and bpe_encode_report (callers append
    their own final SELECT).  ``carry``: (name, s0_expr) pairs carried
    through every state CTE (e.g. lang, the original token count)."""
    s0_cols = "".join(f"{expr} AS {name}, " for name, expr in carry)
    sk_cols = "".join(f"{name}, " for name, _ in carry)
    parts = [f"""
WITH s0 AS (
    SELECT {s0_cols}'  ' || replace(text, ' ', '  ') || '  ' AS s
    FROM documents
)"""]
    for k in range(1, n_merges + 1):
        parts.append(f""", t{k} AS (
    SELECT string_split(trim(s), '  ') AS toks FROM s{k - 1}
), w{k} AS (
    SELECT unnest(range(1, len(toks))) AS i, toks
    FROM t{k} WHERE len(toks) >= 2
), c{k} AS (
    SELECT toks[i] AS l, toks[i + 1] AS r, count(*) AS cnt
    FROM w{k} GROUP BY 1, 2
), m{k} AS (
    SELECT l, r, cnt FROM c{k} ORDER BY cnt DESC, l ASC, r ASC LIMIT 1
), s{k} AS (
    -- LEFT JOIN, not CROSS JOIN: an exhausted round (empty m{{k}})
    -- must pass the state through unchanged, exactly as the Spark
    -- trainer's early-stop does — a CROSS JOIN with an empty rule
    -- table would wipe the corpus CTE and every downstream consumer
    SELECT {sk_cols}CASE WHEN m.l IS NULL THEN s
           ELSE replace(s, ' ' || m.l || '  ' || m.r || ' ',
                        ' ' || m.l || chr(1) || m.r || ' ') END AS s
    FROM s{k - 1} LEFT JOIN m{k} m ON TRUE
)""")
    return "".join(parts)


def _bpe_oracle_sql(n_merges: int = 4) -> str:
    rows = [f"SELECT CAST({k} AS INT) AS rnd, l AS merge_left, "
            f"r AS merge_right, CAST(cnt AS BIGINT) AS pair_count FROM m{k}"
            for k in range(1, n_merges + 1)]
    return _bpe_cte_chain(n_merges) + "\n" + "\nUNION ALL\n".join(rows)


@register("bpe_phrase_merges", _bpe_oracle_sql(n_merges=4))
def bpe_phrase_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE merge-rule training (Sennrich et al., ACL 2016)
    over the documents corpus at whitespace-symbol grain: 4 merge
    rounds, each ONE pair-explode + hash-groupBy (driver receives only
    the argmax pair) and ONE literal-replace map (datapipe/bpe.py —
    the double-spaced string form makes the greedy merge
    order-independent and engine-exact).  Output: the learned merge
    table (rnd, merge_left, merge_right, pair_count)."""
    from moonshot_spark.datapipe.bpe import bpe_train

    docs = load_table(spark, sf_dir, "documents").select("text")
    rules = bpe_train(docs, n_merges=4)
    return local_df(
        spark, [(rnd, l, r, cnt) for rnd, l, r, cnt in rules],
        "rnd int, merge_left string, merge_right string, pair_count bigint")


def _calibration_oracle_sql(iters: int = 3, lr: float = 0.5) -> str:
    """Reliability-diagram report on top of the shared logreg chain:
    score every doc with the final betas and bucket predicted
    probabilities; mean_p uses the same integer-quantized exact sum as
    training so the double is order-free."""
    return _logreg_cte_chain(iters, lr) + f""", sc AS (
    SELECT y, 0.5 + z / (2.0 * (1.0 + abs(z))) AS p
    FROM (SELECT y, b0 + b1 * f1 + b2 * f2 + b3 * f3 AS z
          FROM feats CROSS JOIN i{iters})
)
SELECT CAST(floor(p * 20) AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(y) AS BIGINT) AS n_pos,
       (sum(CAST(floor(p * 1000000000.0) AS BIGINT)) / 1000000000.0)
           / count(*) AS mean_p,
       sum(y) / count(*) AS obs_rate
FROM sc GROUP BY 1"""


@register("classifier_calibration", _calibration_oracle_sql(iters=3, lr=0.5))
def classifier_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram of the trained quality/lang classifier
    (train -> score -> calibrate, the full model-based-filter loop):
    train 3 GD iterations (same bit-exact trajectory as
    logreg_quality_train), score the corpus with the final betas, and
    per predicted-probability bucket report doc count, positive count,
    mean predicted probability (integer-quantized exact sum) and the
    observed positive rate.  The scoring pass is one map + one
    groupBy over the feature frame — the production shape for applying
    a quality filter at 100 TB."""
    from moonshot_spark.datapipe.classifier import (
        fast_sigmoid, train_gd_classifier)

    feats = _doc_quality_feats(spark, sf_dir)
    fit = train_gd_classifier(feats, ["f1", "f2", "f3"], "y",
                              lr=0.5, iters=3)
    b = fit.betas
    z = (F.lit(b[0]) + F.lit(b[1]) * F.col("f1")
         + F.lit(b[2]) * F.col("f2") + F.lit(b[3]) * F.col("f3"))
    p = fast_sigmoid(z)
    return (feats
            .select("y", p.alias("p"))
            .groupBy(F.floor(F.col("p") * 20).cast("bigint").alias("bucket"))
            .agg(F.count("*").cast("bigint").alias("n_docs"),
                 F.sum("y").cast("bigint").alias("n_pos"),
                 ((F.sum(F.floor(F.col("p") * F.lit(1_000_000_000.0))
                         .cast("bigint")) / F.lit(1_000_000_000.0))
                  / F.count("*")).alias("mean_p"),
                 (F.sum("y") / F.count("*")).alias("obs_rate")))


@register("grouped_ols_sources", """
WITH feats AS (
    SELECT source,
           CAST(len(list_filter(string_split(text, ' '),
               t -> t IN ('the', 'of', 'and', 'to', 'a', 'in', 'is', 'it')))
               AS DOUBLE)
           / CAST(len(string_split(text, ' ')) AS DOUBLE) AS f1,
           CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
           / CAST(len(string_split(text, ' ')) AS DOUBLE) AS f2,
           CAST(length(text) AS DOUBLE)
           / CAST(len(string_split(text, ' ')) AS DOUBLE) AS y
    FROM documents
    WHERE length(text) > 0 AND len(string_split(text, ' ')) > 0
), q AS (
    SELECT source, count(*) AS n,
           sum(CAST(floor(f1 * 1000000000.0) AS BIGINT)) AS q01,
           sum(CAST(floor(f2 * 1000000000.0) AS BIGINT)) AS q02,
           sum(CAST(floor(f1 * f1 * 1000000000.0) AS BIGINT)) AS q11,
           sum(CAST(floor(f1 * f2 * 1000000000.0) AS BIGINT)) AS q12,
           sum(CAST(floor(f2 * f2 * 1000000000.0) AS BIGINT)) AS q22,
           sum(CAST(floor(y * 1000000000.0) AS BIGINT)) AS qy0,
           sum(CAST(floor(f1 * y * 1000000000.0) AS BIGINT)) AS qy1,
           sum(CAST(floor(f2 * y * 1000000000.0) AS BIGINT)) AS qy2
    FROM feats GROUP BY source
), s AS (
    SELECT source, n, CAST(n AS DOUBLE) AS s00,
           q01 / 1000000000.0 AS s01, q02 / 1000000000.0 AS s02,
           q11 / 1000000000.0 AS s11, q12 / 1000000000.0 AS s12,
           q22 / 1000000000.0 AS s22,
           qy0 / 1000000000.0 AS sy0, qy1 / 1000000000.0 AS sy1,
           qy2 / 1000000000.0 AS sy2
    FROM q
), d AS (
    SELECT *,
           (s00 * (s11 * s22 - s12 * s12)
            - s01 * (s01 * s22 - s12 * s02)
            + s02 * (s01 * s12 - s11 * s02)) AS det
    FROM s
)
SELECT source, CAST(n AS BIGINT) AS n,
       ((sy0 * (s11 * s22 - s12 * s12)
         - s01 * (sy1 * s22 - s12 * sy2)
         + s02 * (sy1 * s12 - s11 * sy2)) / det) AS b0,
       ((s00 * (sy1 * s22 - s12 * sy2)
         - sy0 * (s01 * s22 - s12 * s02)
         + s02 * (s01 * sy2 - sy1 * s02)) / det) AS b1,
       ((s00 * (s11 * sy2 - sy1 * s12)
         - s01 * (s01 * sy2 - sy1 * s02)
         + sy0 * (s01 * s12 - s11 * s02)) / det) AS b2
FROM d WHERE n >= 8 AND abs(det) > 1e-12
""")
def grouped_ols_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One OLS regression PER SOURCE, fully distributed (operators/
    ols.py::fit_ols_grouped): mean token length regressed on stopword
    ratio + type-token ratio within each source.  Per-group sufficient
    statistics from ONE map-side-combinable groupBy (integer-quantized
    exact sums), then a closed-form 3x3 Cramer solve as pure column
    arithmetic — no driver loop over groups, no UDF; with millions of
    groups this is still a single shuffle keyed on the group column.
    The oracle replays the identical quantized sums and pinned Cramer
    parenthesization -> bit-identical coefficients."""
    from moonshot_spark.operators.ols import fit_ols_grouped

    docs = load_table(spark, sf_dir, "documents")
    fx = _quality_feature_exprs()
    feats = (docs
             .where((F.length("text") > 0) & (F.size(fx["toks"]) > 0))
             .select("source", fx["stop_ratio"].alias("f1"),
                     fx["ttr"].alias("f2"), fx["mean_tok_len"].alias("y")))
    return fit_ols_grouped(feats, ["source"], ["f1", "f2"], "y",
                           min_rows=8)


@register("weighted_sample_es", """
WITH keyed AS (
    SELECT lang, doc_id, n_chars,
           ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))
                    AS BIGINT) + 1.0) / 4503599627370498.0)
           / CAST(n_chars AS DOUBLE) AS es_key
    FROM documents WHERE CAST(n_chars AS DOUBLE) > 0
), ranked AS (
    SELECT lang, doc_id, n_chars, es_key,
           CAST(row_number() OVER (PARTITION BY lang
                                   ORDER BY es_key DESC, doc_id) AS INT)
               AS rank
    FROM keyed
)
SELECT lang, rank, doc_id, CAST(n_chars AS BIGINT) AS n_chars
FROM ranked WHERE rank <= 10
""")
def weighted_sample_es(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Efraimidis-Spirakis weighted sampling without replacement, 10
    docs per language weighted by document length (the corpus-mixing
    primitive for 'sample long docs proportionally more, never twice'):
    deterministic md5-uniforms, key ln(u)/w, per-group top-k window —
    one map + one shuffle at any scale
    (datapipe/sampling.py::weighted_sample_without_replacement)."""
    from moonshot_spark.datapipe.sampling import (
        weighted_sample_without_replacement)

    docs = load_table(spark, sf_dir, "documents") \
        .select("lang", "doc_id", "n_chars")
    out = weighted_sample_without_replacement(
        docs, "lang", "n_chars", k=10)
    # es_key itself is excluded from the compared output: Spark's
    # Math.log and DuckDB's std::log disagree in the LAST ULP
    # (~1e-18), which cannot flip a rank (md5-uniform keys are never
    # that close) but fails a bit-exact value compare
    return out.select("lang", "rank", "doc_id",
                      F.col("n_chars").cast("bigint").alias("n_chars"))


# --------------------------------------------------------------------- #
# distributed PCA: top principal component by power iteration           #
# --------------------------------------------------------------------- #

def _pca_cte_chain(dim: int = 64, iters: int = 3) -> str:
    """Chained-CTE DuckDB replay of datapipe/pca.py's power iteration:
    iteration k's projection CTE reads the v CTE of iteration k-1, with
    every float operation in the IDENTICAL order as the Spark trainer
    (integer nano-unit quantization makes all corpus-scale sums
    order-free; driver-side update arithmetic is mirrored verbatim —
    see datapipe/pca.py docstring).  Shared by embedding_pca_power and
    embedding_pc1_outliers; callers append their own final SELECT after
    the ``flat/mu/trace/v{{iters}}/lam`` CTEs."""
    q = "1000000000.0"
    parts = [f"""WITH flat AS (
    SELECT vec_id, CAST(s.dim AS INT) AS dim, CAST(s.val AS DOUBLE) AS val
    FROM (SELECT vec_id,
                 unnest(list_transform(embedding,
                        (x, i) -> {{'dim': i - 1, 'val': x}})) AS s
          FROM embeddings)
), nrows AS (
    SELECT CAST(count(*) AS DOUBLE) AS n FROM embeddings
), mu AS (
    SELECT dim,
           (CAST(sum(CAST(floor(val * {q}) AS BIGINT)) AS DOUBLE) / {q})
               / (SELECT n FROM nrows) AS mu
    FROM flat GROUP BY dim
), trq AS (
    SELECT f.dim,
           sum(CAST(floor((f.val - m.mu) * (f.val - m.mu) * {q})
                    AS BIGINT)) AS sq
    FROM flat f JOIN mu m USING (dim) GROUP BY f.dim
), trace AS (
    SELECT (CAST(sum(sq) AS DOUBLE) / {q}) / (SELECT n FROM nrows) AS tr
    FROM trq
), v0 AS (
    SELECT unnest(range(0, {dim})) AS dim,
           1.0 / sqrt(CAST({dim} AS DOUBLE)) AS v
)"""]
    for k in range(1, iters + 1):
        parts.append(f""", d{k} AS (
    SELECT f.vec_id,
           CAST(sum(CAST(floor((f.val - m.mu) * v.v * {q}) AS BIGINT))
                AS DOUBLE) / {q} AS d
    FROM flat f JOIN mu m USING (dim) JOIN v{k - 1} v USING (dim)
    GROUP BY f.vec_id
), w{k} AS (
    SELECT f.dim,
           ((CAST(sum(CAST(floor((f.val - m.mu) * d.d * {q}) AS BIGINT))
                  AS DOUBLE) / {q}) / (SELECT n FROM nrows)) AS w
    FROM flat f JOIN mu m USING (dim) JOIN d{k} d USING (vec_id)
    GROUP BY f.dim
), norm{k} AS (
    SELECT sqrt(CAST(sum(CAST(floor(w * w * {q}) AS BIGINT)) AS DOUBLE)
                / {q}) AS nrm
    FROM w{k}
), v{k} AS (
    SELECT dim, w / (SELECT nrm FROM norm{k}) AS v FROM w{k}
)""")
    parts.append(f""", lam AS (
    SELECT CAST(sum(CAST(floor(v.v * w.w * {q}) AS BIGINT)) AS DOUBLE)
           / {q} AS lam
    FROM v{iters - 1} v JOIN w{iters} w USING (dim)
)""")
    return "".join(parts)


def _pca_oracle_sql(dim: int = 64, iters: int = 3) -> str:
    return _pca_cte_chain(dim, iters) + f"""
SELECT CAST(v.dim AS INT) AS dim,
       m.mu AS mean_val,
       v.v AS loading,
       (SELECT lam FROM lam) AS eigval,
       (SELECT lam FROM lam) / (SELECT tr FROM trace) AS evr
FROM v{iters} v JOIN mu m USING (dim)"""


@register("embedding_pca_power", _pca_oracle_sql(dim=64, iters=3))
def embedding_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding corpus by DISTRIBUTED
    power iteration (datapipe/pca.py): the covariance matrix is never
    built — each of the 3 iterations computes C*v as one map + one
    map-side-combinable aggregate (O(n*d) work, d sums on the wire),
    the canonical covariance-free multiply that scales to corpus-size n
    with the driver holding only 64 doubles between rounds.  Integer
    nano-unit quantization of every corpus-scale sum makes the whole
    trajectory bit-exact against the oracle's chained-CTE replay.
    Output: one row per dimension — mean, final unit loading, and the
    (repeated) Rayleigh eigenvalue + explained-variance ratio.
    Beyond-reference: PCA whitening is the front half of embedding
    compression/dedup pipelines; the reference has no embedding
    surface."""
    from moonshot_spark.datapipe.pca import power_iteration_top_component

    emb = load_table(spark, sf_dir, "embeddings")
    fit = power_iteration_top_component(emb, dim=64, iters=3)
    rows = [(j, fit.mean[j], fit.component[j]) for j in range(64)]
    return (local_df(spark, rows,
                     "dim int, mean_val double, loading double")
            .select("dim", "mean_val", "loading",
                    F.lit(fit.eigval).alias("eigval"),
                    F.lit(fit.explained_variance_ratio).alias("evr")))


# --------------------------------------------------------------------- #
# label propagation: community detection on the co-purchase graph       #
# --------------------------------------------------------------------- #

def _lpa_oracle_sql(rounds: int = 3) -> str:
    """Unrolled-CTE DuckDB replay of datapipe/graph.py::
    label_propagation over the shared co-purchase graph: round k's
    top-label CTE reads round k-1's labels, with the identical
    deterministic tie-break (count DESC, label ASC).  Pure integer
    logic — no float-parity plumbing needed."""
    parts = [f"""WITH {COPURCHASE_GRAPH_SQL},
l0 AS (
    SELECT node, node AS label FROM deg
)"""]
    for k in range(1, rounds + 1):
        parts.append(f""", c{k} AS (
    SELECT e.src AS node, l.label, count(*) AS c
    FROM edges e JOIN l{k - 1} l ON e.dst = l.node
    GROUP BY e.src, l.label
), l{k} AS (
    SELECT node, label FROM (
        SELECT node, label,
               row_number() OVER (PARTITION BY node
                                  ORDER BY c DESC, label) AS rn
        FROM c{k})
    WHERE rn = 1
)""")
    parts.append(f"""
SELECT CAST(node AS BIGINT) AS node,
       CAST(label AS BIGINT) AS community,
       CAST(count(*) OVER (PARTITION BY label) AS BIGINT)
           AS community_size
FROM l{rounds}""")
    return "".join(parts)


@register("label_propagation_communities", _lpa_oracle_sql(rounds=3))
def label_propagation_communities(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Community detection on the co-purchase graph by 3 rounds of
    synchronous label propagation (Raghavan et al. 2007) with a pinned
    smallest-label tie-break (datapipe/graph.py::label_propagation) —
    the clustering complement to dedup_clusters' connected components:
    CC merges anything touching, LPA splits a connected graph into
    densely-linked segments.  Each round is one |E|-linear shuffle
    join + count + per-node top-1 window, all integers, no driver
    state; the oracle replays the identical rounds as unrolled CTEs."""
    from moonshot_spark.datapipe.graph import label_propagation

    edges, _ = _copurchase_edges(spark, sf_dir)
    # _copurchase_edges emits pairs UNION reversed pairs — already
    # symmetric, so LPA need not re-symmetrize (halves the checkpointed
    # edge list and every round's join volume; output provably
    # identical, r14)
    out = label_propagation(edges, rounds=3, symmetric=True)
    return out.select(F.col("node").cast("bigint").alias("node"),
                      F.col("community").cast("bigint").alias("community"),
                      F.col("community_size").cast("bigint")
                      .alias("community_size"))


@register("bpe_encode_report", _bpe_cte_chain(
    n_merges=4, carry=(
        ("lang", "lang"),
        ("n0", "len(string_split(trim('  ' || replace(text, ' ', '  ')"
               " || '  '), '  '))"))) + """
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n0) AS BIGINT) AS total_symbols,
       CAST(sum(len(string_split(trim(s), '  '))) AS BIGINT)
           AS total_encoded,
       CAST(sum(len(string_split(trim(s), '  '))) AS DOUBLE)
           / CAST(sum(n0) AS DOUBLE) AS compression
FROM s4 GROUP BY lang
""")
def bpe_encode_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The INFERENCE half of BPE (datapipe/bpe.py::bpe_apply): learn 4
    merge rules on the corpus, then ENCODE the corpus with them — the
    rules are driver-held literals baked into one narrow map (chained
    literal replaces inside whole-stage codegen: no join, no shuffle,
    no UDF), so encoding scales embarrassingly at any corpus size.
    Reports per-language token accounting: symbols before/after and
    the compression ratio a tokenizer-budget planner needs.  The
    oracle re-trains the identical rules in the shared chained-CTE
    replay and re-applies them in SQL."""
    from moonshot_spark.datapipe.bpe import bpe_apply, bpe_train

    docs = load_table(spark, sf_dir, "documents").select("lang", "text")
    rules = bpe_train(docs.select("text"), n_merges=4)
    enc = bpe_apply(docs, rules, carry_cols=("lang",))
    return (enc.groupBy("lang")
            .agg(F.count("*").cast("bigint").alias("n_docs"),
                 F.sum("n_symbols").cast("bigint").alias("total_symbols"),
                 F.sum("n_encoded").cast("bigint").alias("total_encoded"),
                 (F.sum("n_encoded").cast("double")
                  / F.sum("n_symbols").cast("double")).alias("compression")))


@register("dedup_exact_incremental", """
WITH all_docs AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id < 25
), fp AS (
    SELECT doc_id,
           md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fingerprint
    FROM all_docs
), g AS (
    SELECT fingerprint, CAST(count(*) AS BIGINT) AS n_docs,
           min(doc_id) AS keep_id
    FROM fp GROUP BY fingerprint HAVING count(*) > 1
)
SELECT g.fingerprint, g.n_docs, g.keep_id, f.doc_id AS dup_id
FROM fp f JOIN g USING (fingerprint)
WHERE f.doc_id != g.keep_id AND f.doc_id % 5 = 0
""")
def dedup_exact_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL exact dedup (datapipe/incremental_dedup.py): docs with
    doc_id % 5 == 0 arrive as the new batch; the rest are the already-
    indexed corpus (fingerprint index = the mergeable (n, min) aggregate).
    The emitted duplicate rows carry POST-merge union stats, so the
    oracle is simply the FULL-recompute mapping restricted to new doc
    ids — the incremental-equals-batch contract, value-checked.  The
    id-shifted clone union (as in dedup_exact) guarantees real duplicate
    groups at every SF, including cross-batch ones."""
    from moonshot_spark.datapipe.incremental_dedup import (
        exact_fingerprint_index, incremental_exact_dups)

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    clones = (docs.where(F.col("doc_id") < 25)
              .withColumn("doc_id", F.col("doc_id") + F.lit(1_000_000)))
    full = docs.unionByName(clones)
    new = full.where(F.col("doc_id") % 5 == 0)
    existing = full.where(F.col("doc_id") % 5 != 0)
    return incremental_exact_dups(new, exact_fingerprint_index(existing))


@register("minhash_incremental_pairs", _MINHASH_LSH_PAIRS_SQL
          + "WHERE doc_a % 5 = 0 OR doc_b % 5 = 0\n")
def minhash_incremental_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL MinHash-LSH: the doc_id % 5 == 0 batch probes a
    persisted signature index of the rest of the corpus
    (datapipe/incremental_dedup.py).  md5-deterministic signatures make
    the incremental pair set EXACTLY the full-recompute LSH pairs that
    involve >=1 new doc — which is what the oracle computes (the
    minhash_lsh_pairs replay, filtered to pairs touching the batch)."""
    from moonshot_spark.datapipe.dedup import minhash_signatures
    from moonshot_spark.datapipe.incremental_dedup import (
        incremental_minhash_pairs)

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    new = docs.where(F.col("doc_id") % 5 == 0)
    existing = docs.where(F.col("doc_id") % 5 != 0)
    index_sigs = minhash_signatures(existing, num_hashes=16, shingle_n=3)
    return incremental_minhash_pairs(new, index_sigs,
                                     num_hashes=16, bands=4, shingle_n=3)


@register("rrf_hybrid_topk", """
WITH corpus AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings
), queries AS (
    SELECT vec_id AS query_id, v AS q FROM corpus WHERE vec_id < 8
), cos AS (
    SELECT q.query_id, c.vec_id,
           list_reduce(list_transform(range(1, len(c.v) + 1),
               i -> c.v[i] * q.q[i]), (x, y) -> x + y)
           / (sqrt(list_reduce(list_transform(range(1, len(c.v) + 1),
                  i -> c.v[i] * c.v[i]), (x, y) -> x + y))
              * sqrt(list_reduce(list_transform(range(1, len(q.q) + 1),
                  i -> q.q[i] * q.q[i]), (x, y) -> x + y))) AS s
    FROM corpus c CROSS JOIN queries q
), l2 AS (
    SELECT q.query_id, c.vec_id,
           list_reduce(list_transform(range(1, len(c.v) + 1),
               i -> (c.v[i] - q.q[i]) * (c.v[i] - q.q[i])),
               (x, y) -> x + y) AS s
    FROM corpus c CROSS JOIN queries q
), r1 AS (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY s DESC, vec_id) AS rank
    FROM cos
), r2 AS (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY s ASC, vec_id) AS rank
    FROM l2
), contrib AS (
    SELECT query_id, vec_id,
           CAST(floor(1000000000000000.0 / (60.0 + rank)) AS BIGINT) AS c
    FROM r1 WHERE rank <= 20
    UNION ALL
    SELECT query_id, vec_id,
           CAST(floor(1000000000000000.0 / (60.0 + rank)) AS BIGINT) AS c
    FROM r2 WHERE rank <= 20
), fused AS (
    SELECT query_id, vec_id, sum(c) AS rrf_score,
           CAST(count(*) AS BIGINT) AS n_lists
    FROM contrib GROUP BY query_id, vec_id
)
SELECT query_id, vec_id, CAST(rrf_score AS BIGINT) AS rrf_score,
       n_lists, CAST(rank AS INT) AS rank FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY rrf_score DESC, vec_id) AS rank
    FROM fused
) WHERE rank <= 5
""")
def rrf_hybrid_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYBRID retrieval via reciprocal-rank fusion (Cormack et al.
    SIGIR'09; datapipe/fusion.py): a dense cosine retriever and a
    Euclidean retriever each produce exact top-20 lists per query,
    fused by integer-quantized RRF and re-ranked to a final top-5.
    Order-free exact integer score sum -> bit-identical oracle replay;
    every reduction two-phase (no per-query funnel anywhere in the
    retrievers or the fusion)."""
    from moonshot_spark.datapipe.fusion import reciprocal_rank_fusion
    from moonshot_spark.datapipe.similarity import (brute_force_l2_topk,
                                                    brute_force_topk)

    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = (emb.where(F.col("vec_id") < 8)
                  .select(F.col("vec_id").alias("query_id"), "embedding"))
    dense = brute_force_topk(emb, queries_df, k=20)
    lexical_stand_in = brute_force_l2_topk(emb, queries_df, k=20)
    return reciprocal_rank_fusion([dense, lexical_stand_in], top_k=5)


@register("dedup_clusters_incremental", None)
def dedup_clusters_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL cluster maintenance (datapipe/graph.py::
    incremental_components): prior clusters (from pairs among the
    already-ingested corpus, doc_id % 5 != 0) are contracted to star
    edges and merged with the batch-touching pairs — no historical edge
    is re-read.  The oracle is dedup_clusters' FULL-recompute recursive
    CTE verbatim: the incremental map must equal the from-scratch result
    exactly (same min-id cluster ids, same sizes), which is the
    contraction-algebra contract, value-checked."""
    from moonshot_spark.datapipe.dedup import verified_pairs
    from moonshot_spark.datapipe.graph import (
        connected_components_adaptive, incremental_components)

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    clones = (docs.where(F.col("doc_id") < 25)
              .withColumn("doc_id", F.col("doc_id") + F.lit(1_000_000)))
    corpus = docs.unionByName(clones)
    verified = materialize.persist(
        verified_pairs(corpus, 0.5).select("doc_a", "doc_b"))
    is_new_a = F.col("doc_a") % 5 == 0
    is_new_b = F.col("doc_b") % 5 == 0
    old_pairs = verified.where(~is_new_a & ~is_new_b)
    new_pairs = verified.where(is_new_a | is_new_b)
    prior = connected_components_adaptive(old_pairs,
                                          src="doc_a", dst="doc_b")
    labels = incremental_components(prior, new_pairs,
                                    src="doc_a", dst="doc_b")
    return (labels.select(F.col("node").alias("doc_id"),
                          F.col("comp").alias("cluster_id"))
            .withColumn("cluster_size",
                        F.count("*").over(
                            Window.partitionBy("cluster_id"))
                        .cast("bigint")))


ORACLES["dedup_clusters_incremental"] = ORACLES["dedup_clusters"]


_LSH_RECALL_SQL = """
WITH toks0 AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents{sample_where}
), sh AS (
    SELECT doc_id, CASE WHEN len(t) >= 3 THEN
        list_distinct(list_transform(range(0, len(t) - 2),
            i -> array_to_string(list_slice(t, i + 1, i + 3), ' ')))
        ELSE [] END AS shingles
    FROM toks0
), sl AS (
    SELECT doc_id, list_transform(shingles, s -> flatten(list_transform(
        [md5(s), md5('a|' || s), md5('b|' || s), md5('c|' || s)],
        h -> [substr(h, 1, 8), substr(h, 9, 8), substr(h, 17, 8),
              substr(h, 25, 8)]))) AS slices
    FROM sh WHERE len(shingles) > 0
), sigs AS (
    SELECT doc_id, list_transform(range(1, 17),
        i -> list_min(list_transform(slices, a -> a[i]))) AS sig
    FROM sl
), bands AS (
    SELECT doc_id, b.band_id,
           md5(array_to_string(list_slice(sig, b.band_id * 4 + 1,
                                          b.band_id * 4 + 4), '|')) AS band_hash
    FROM sigs, (SELECT unnest(range(0, 4)) AS band_id) b
), cand AS (
    SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
    FROM bands l JOIN bands r
      ON l.band_id = r.band_id AND l.band_hash = r.band_hash
     AND l.doc_id < r.doc_id
), pairs AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           len(list_intersect(a.shingles, b.shingles)) AS inter,
           len(a.shingles) AS sa, len(b.shingles) AS sb
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE len(a.shingles) > 0 AND len(b.shingles) > 0
), truth AS (
    SELECT doc_a, doc_b FROM pairs
    WHERE CAST(inter AS DOUBLE) / CAST(sa + sb - inter AS DOUBLE) >= 0.8
), joined AS (
    SELECT coalesce(c.doc_a, t.doc_a) AS doc_a,
           CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END AS in_cand,
           CASE WHEN t.doc_a IS NOT NULL THEN 1 ELSE 0 END AS in_truth
    FROM cand c FULL OUTER JOIN truth t
      ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b
)
SELECT CAST(sum(in_cand) AS BIGINT) AS n_candidates,
       CAST(sum(in_truth) AS BIGINT) AS n_truth,
       CAST(sum(in_cand * in_truth) AS BIGINT) AS tp,
       CAST(sum(in_truth * (1 - in_cand)) AS BIGINT) AS fn,
       CAST(sum(in_cand * in_truth) AS DOUBLE)
           / CAST(sum(in_truth) AS DOUBLE) AS recall,
       CAST(sum(in_cand * in_truth) AS DOUBLE)
           / CAST(sum(in_cand) AS DOUBLE) AS candidate_precision
FROM joined
"""

# deterministic hash-sample predicate, identical in both engines
# (sampling.py::hash_bucket_expr replayed in DuckDB syntax)
_LSH_SAMPLE_WHERE = ("\n    WHERE CAST(('0x' || substr(md5(CAST(doc_id AS "
                     "VARCHAR)), 1, 8)) AS BIGINT) % 100 < {pct}")


def _lsh_recall_frame(spark: SparkSession, sf_dir: str,
                      sample_frac: float = 1.0) -> DataFrame:
    """LSH tuning report: candidate pairs from the 16-hash/4-band MinHash
    index scored against the EXACT Jaccard >= 0.8 pair set (brute-force
    ground truth, the quality the PPJoin path guarantees) — the
    recall/precision measurement that picks (num_hashes, bands) for a
    corpus.  Counts are exact integers; the two ratios are single
    divisions of those integers, so the report hash-matches the oracle.
    Scale: the candidate side is the banded equi-join; the truth side is
    the exact all-pairs — at 100 TB you run this on a deterministic
    hash-sample of the corpus (stratified_sample), which changes no
    plumbing."""
    from moonshot_spark.datapipe.dedup import (
        lsh_candidate_pairs, prefix_filter_jaccard_pairs, shingle_frame)

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    if sample_frac < 1.0:
        # the 100-TB mode (VERDICT r9 item 5): the exact-truth side is
        # all-pairs by spec, so the report runs on a deterministic
        # md5-bucket sample — BOTH sides see the identical subset, and
        # the oracle replays the identical predicate
        from moonshot_spark.datapipe.sampling import hash_bucket_expr
        docs = docs.where(
            hash_bucket_expr("doc_id", 100) < int(sample_frac * 100))
    # shingle the corpus ONCE for both sides (candidate index + exact
    # truth): both consumers hang off this ONE DataFrame, so the DAG
    # scheduler computes its stages once per job — no persist() needed
    # (an explicit persist here leaked cached copies across repeated
    # constructions and OOMed the 50x scale bench; same lesson as the
    # PPJoin checkpoint removal, PERF.md "Persisting what recompute
    # serves cheaper")
    sh = shingle_frame(docs)
    cand = (lsh_candidate_pairs(docs, include_est_jaccard=False,
                                shingles=sh)
            .withColumn("in_cand", F.lit(1)))
    # ground truth via the PPJoin prefix filter: the exact Jaccard>=0.8
    # pair set with ZERO false negatives and no cartesian product — the
    # oracle states the same set as brute-force all-pairs SQL
    truth = (prefix_filter_jaccard_pairs(docs, threshold=0.8, shingles=sh)
             .select("doc_a", "doc_b")
             .withColumn("in_truth", F.lit(1)))
    joined = cand.select("doc_a", "doc_b", "in_cand").join(
        truth, ["doc_a", "doc_b"], "full_outer").select(
        F.coalesce("in_cand", F.lit(0)).alias("in_cand"),
        F.coalesce("in_truth", F.lit(0)).alias("in_truth"))
    return joined.agg(
        F.sum("in_cand").cast("bigint").alias("n_candidates"),
        F.sum("in_truth").cast("bigint").alias("n_truth"),
        F.sum(F.col("in_cand") * F.col("in_truth")).cast("bigint")
        .alias("tp"),
        F.sum(F.col("in_truth") * (F.lit(1) - F.col("in_cand")))
        .cast("bigint").alias("fn"),
        (F.sum(F.col("in_cand") * F.col("in_truth")).cast("double")
         / F.sum("in_truth").cast("double")).alias("recall"),
        (F.sum(F.col("in_cand") * F.col("in_truth")).cast("double")
         / F.sum("in_cand").cast("double")).alias("candidate_precision"))


@register("lsh_recall_report",
          _LSH_RECALL_SQL.format(sample_where=""))
def lsh_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-corpus LSH recall/precision report (see _lsh_recall_frame)."""
    return _lsh_recall_frame(spark, sf_dir, 1.0)


@register("lsh_recall_report_sampled",
          _LSH_RECALL_SQL.format(
              sample_where=_LSH_SAMPLE_WHERE.format(pct=20)))
def lsh_recall_report_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The operator a user actually runs at 100 TB: the LSH tuning
    report over a 20% deterministic md5-bucket sample of the corpus —
    the truth side is exact all-pairs BY SPEC, so corpus-scale runs
    sample first; the identical predicate gates both the candidate and
    truth sides here AND in the oracle, and sample_frac=1.0 equals the
    full report bit-for-bit (pinned by test)."""
    return _lsh_recall_frame(spark, sf_dir, 0.2)


@register("token_budget_waterfill", """
WITH avail AS (
    SELECT lang,
           sum(CAST(floor(CAST(n_chars AS DOUBLE) / 4.0) AS BIGINT))
               AS avail
    FROM documents GROUP BY lang
), weighted AS (
    SELECT lang, avail,
           CASE lang WHEN 'en' THEN 5 WHEN 'de' THEN 2
                     WHEN 'es' THEN 2 ELSE 1 END AS weight
    FROM avail
), budgeted AS (
    SELECT *, (SELECT CAST(floor(CAST(sum(avail) AS DOUBLE) * 0.6)
                           AS BIGINT) FROM weighted) AS budget
    FROM weighted
), ordered AS (
    SELECT *,
           coalesce(sum(weight) OVER (ORDER BY
               CAST(avail AS DOUBLE) / CAST(weight AS DOUBLE), lang
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_w_prev,
           coalesce(sum(avail) OVER (ORDER BY
               CAST(avail AS DOUBLE) / CAST(weight AS DOUBLE), lang
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_a_prev,
           sum(weight) OVER () AS w_total
    FROM budgeted
), cond AS (
    SELECT *, CASE WHEN avail * (w_total - cum_w_prev)
                        <= weight * (budget - cum_a_prev)
                   THEN 1 ELSE 0 END AS c
    FROM ordered
), satd AS (
    SELECT *, min(c) OVER (ORDER BY
        CAST(avail AS DOUBLE) / CAST(weight AS DOUBLE), lang
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sat
    FROM cond
), finals AS (
    SELECT *,
           coalesce(sum(CASE WHEN sat = 1 THEN avail END) OVER (), 0)
               AS sat_a,
           coalesce(sum(CASE WHEN sat = 1 THEN weight END) OVER (), 0)
               AS sat_w
    FROM satd
)
SELECT lang, CAST(avail AS BIGINT) AS avail,
       CAST(weight AS BIGINT) AS weight,
       CAST(sat AS INT) AS saturated,
       CAST(CASE WHEN sat = 1 THEN avail
            ELSE (weight * (budget - sat_a)) // (w_total - sat_w) END
            AS BIGINT) AS allocated
FROM finals
""")
def token_budget_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-mixing budget solve (datapipe/sampling.py::
    waterfill_allocation): allocate a 60%-of-corpus token budget across
    languages 5:2:2:1 (en:de:es:others), capped by each language's
    availability, shortfall redistributed proportionally — the
    closed-form waterfilling every mixing recipe needs.  Availability is
    the integer token estimate sum(floor(n_chars/4)) per lang (one
    map-side-combinable aggregate over the corpus — the only data-sized
    stage); the solve runs on the language dim.  Exact BIGINT
    cross-multiplications -> bit-identical oracle replay."""
    from moonshot_spark.datapipe.sampling import waterfill_allocation

    docs = load_table(spark, sf_dir, "documents")
    avail = (docs.groupBy("lang")
             .agg(F.sum(F.floor(F.col("n_chars").cast("double") / 4.0)
                        .cast("bigint")).alias("avail")))
    weight = (F.when(F.col("lang") == "en", 5)
              .when(F.col("lang") == "de", 2)
              .when(F.col("lang") == "es", 2)
              .otherwise(1)).cast("bigint")
    dom = avail.withColumn("weight", weight)
    budget = dom.agg(F.floor(F.sum("avail").cast("double") * 0.6)
                     .cast("bigint").alias("budget"))
    dom = dom.crossJoin(F.broadcast(budget))
    out = waterfill_allocation(dom, key_cols=("lang",))
    return out.select("lang", F.col("avail").cast("bigint"),
                      F.col("weight").cast("bigint"),
                      "saturated", "allocated")


@register("corpus_datasheet", """
WITH fp AS (
    SELECT doc_id, lang, n_chars,
           md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS f
    FROM documents
), cnt AS (
    SELECT *, count(*) OVER (PARTITION BY f) AS n_same
    FROM fp
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CAST(floor(CAST(n_chars AS DOUBLE) / 4.0) AS BIGINT))
            AS BIGINT) AS token_est,
       CAST(floor(CAST(sum(CAST(floor(CAST(n_chars AS DOUBLE) / 4.0)
                                AS BIGINT)) AS DOUBLE) / count(*))
            AS BIGINT) AS avg_doc_tokens,
       CAST(sum(CASE WHEN n_same > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dup_docs,
       CAST(floor(1000.0 * sum(CASE WHEN n_same > 1 THEN 1 ELSE 0 END)
                  / count(*)) AS BIGINT) AS dup_permille
FROM cnt GROUP BY lang
""")
def corpus_datasheet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-card summary per language: doc counts, integer token
    estimates, and exact-duplicate exposure (docs whose normalized
    fingerprint occurs more than once ANYWHERE in the corpus — the
    cross-language window count, one shuffle) — the per-release
    datasheet table a corpus ships with.  All integers; the two derived
    ratios are floored single divisions, so the report hash-matches."""
    docs = load_table(spark, sf_dir, "documents")
    from moonshot_spark.datapipe.text import fingerprint_expr

    fp = docs.select("doc_id", "lang", "n_chars",
                     fingerprint_expr("text").alias("f"))
    n_same = F.count("*").over(Window.partitionBy("f"))
    cnt = fp.withColumn("__n_same", n_same)
    tok = F.floor(F.col("n_chars").cast("double") / 4.0).cast("bigint")
    is_dup = F.when(F.col("__n_same") > 1, 1).otherwise(0)
    return (cnt.groupBy("lang")
            .agg(F.count("*").cast("bigint").alias("n_docs"),
                 F.sum(tok).alias("token_est"),
                 F.floor(F.sum(tok).cast("double") / F.count("*"))
                 .cast("bigint").alias("avg_doc_tokens"),
                 F.sum(is_dup).cast("bigint").alias("n_dup_docs"),
                 F.floor(F.lit(1000.0) * F.sum(is_dup) / F.count("*"))
                 .cast("bigint").alias("dup_permille")))


# --------------------------------------------------------------------- #
# IVF cell-size statistics (the skew report behind                      #
# datapipe/ann_index.py::ivf_cell_stats / split_hot_cells)              #
# --------------------------------------------------------------------- #

@register("ivf_cell_stats", """
WITH corpus AS (
    SELECT vec_id,
           list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))
               AS q
    FROM embeddings
), cents AS (
    SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell, q
    FROM corpus ORDER BY vec_id LIMIT 8
), d AS (
    SELECT c.vec_id, ct.cell,
           list_reduce(list_transform(range(1, len(c.q) + 1),
               i -> (c.q[i] - ct.q[i]) * (c.q[i] - ct.q[i])),
               (x, y) -> x + y) AS dist2
    FROM corpus c CROSS JOIN cents ct
), assigned AS (
    SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY dist2, cell) AS rn
        FROM d
    ) WHERE rn = 1
), sized AS (
    SELECT cell, CAST(count(*) AS BIGINT) AS n_vecs FROM assigned
    GROUP BY cell
)
SELECT cell, n_vecs,
       CAST(n_vecs AS DOUBLE)
           / CAST(sum(n_vecs) OVER () AS DOUBLE) AS row_share,
       CAST(n_vecs AS DOUBLE)
           / CAST(sum(n_vecs) OVER () AS DOUBLE) > 0.2 AS hot
FROM sized
""")
def ivf_cell_stats_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell size/share report of an IVF assignment — the skew
    diagnostic behind ``datapipe/ann_index.py::ivf_cell_stats`` (there
    computed from the persisted partitioned layout + FS bytes; here,
    oracle-checkable, from a deterministic literal codebook so DuckDB
    can replay the assignment).  Codebook = the 8 lowest-vec_id
    vectors; distances are EXACT int64 micro-unit squared-L2 (the
    clustering.py Arrow kernel — integer sums are association-free, so
    Spark's pairwise numpy reduction and DuckDB's sequential
    list_reduce agree bit-for-bit), argmin ties to the lowest cell.
    ``hot`` is the flag ``split_hot_cells`` thresholds on (share >
    0.2).  One narrow shuffle (the 8-row codebook rides the UDF
    closure); the unpartitioned share window runs over ONE ROW PER
    CELL, bounded by the codebook."""
    from moonshot_spark.datapipe.clustering import _assign_expr

    emb = load_table(spark, sf_dir, "embeddings")
    q = F.transform(
        "embedding",
        lambda x: F.floor(x.cast("double") * F.lit(1000000.0))
        .cast("bigint"))
    quantized = emb.select("vec_id", q.alias("__q"))
    cents = [[int(v) for v in r["__q"]] for r in
             quantized.orderBy("vec_id").limit(8).collect()]
    sized = (quantized
             .select(_assign_expr(F.col("__q"), cents).alias("cell"))
             .groupBy("cell")
             .agg(F.count("*").alias("n_vecs")))
    share = (F.col("n_vecs").cast("double")
             / F.sum("n_vecs").over(Window.partitionBy()).cast("double"))
    return (sized.select("cell", "n_vecs", share.alias("row_share"),
                         (share > F.lit(0.2)).alias("hot")))
