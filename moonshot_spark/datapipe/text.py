"""Text analysis operators: tokenization, quality scoring, language ID,
fingerprinting.

All pure Column expressions (split/filter/aggregate higher-order functions)
— no UDFs, so a 100 TB documents scan stays entirely in codegen with the
parquet reader feeding string batches.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# tiny per-language stopword lists for the n-gram/stopword language-ID
# heuristic; deterministic and SQL-expressible for the oracle
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it"],
    "de": ["der", "die", "das", "und", "ist", "ein", "nicht", "mit"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es"],
    "fr": ["le", "la", "et", "les", "des", "un", "une", "est"],
}


def tokens_expr(col: Column | str, sep: str = " ") -> Column:
    """Whitespace tokenization as an array column."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(c, sep)


def token_count_expr(col: Column | str) -> Column:
    """Whitespace token count (the engine's token-budget currency)."""
    return F.size(tokens_expr(col))


def quality_exprs(col: Column | str) -> dict[str, Column]:
    """Quality-scoring signals: length, token stats, stopword ratio,
    punctuation ratio, uppercase ratio.  The classic pre-training quality
    filters (C4/Gopher-style rules) as cheap column math."""
    c = F.col(col) if isinstance(col, str) else col
    toks = tokens_expr(c)
    n_chars = F.length(c)
    n_tokens = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda t: t.isin(LANG_STOPWORDS["en"])))
    n_punct = n_chars - F.length(F.regexp_replace(c, r"[.,!?;:]", ""))
    n_upper = n_chars - F.length(F.regexp_replace(c, r"[A-Z]", ""))
    return {
        "n_chars": n_chars.cast("bigint"),
        "n_tokens": n_tokens.cast("bigint"),
        # identity for a single-char separator: sum(len(token)) ==
        # n_chars - (n_tokens - 1) for EVERY input (empty tokens from
        # doubled/leading separators contribute 0 to both sides), so the
        # interpreted per-element aggregate HOF is replaced by codegen'd
        # integer arithmetic — bit-identical, measured ~25% cheaper per
        # corpus pass (PERF.md "Single-row-group scans")
        "mean_token_len": ((n_chars - n_tokens + F.lit(1)).cast("double")
                           / n_tokens),
        "stopword_ratio": n_stop.cast("double") / n_tokens,
        "punct_ratio": n_punct.cast("double") / n_chars,
        "upper_ratio": n_upper.cast("double") / n_chars,
    }


def lang_scores_expr(col: Column | str) -> dict[str, Column]:
    """Per-language stopword-hit counts (the language-ID heuristic's
    evidence).  ``lang_id`` = argmax over these scores."""
    c = F.col(col) if isinstance(col, str) else col
    toks = tokens_expr(c)

    def _member_of(sw):
        # NB: the lambda must be single-arg — a second parameter would be
        # interpreted by F.filter as the element *index*
        return lambda t: t.isin(sw)

    return {lang: F.size(F.filter(toks, _member_of(sw)))
            for lang, sw in LANG_STOPWORDS.items()}


def lang_id_expr(col: Column | str) -> Column:
    """Predicted language = argmax of stopword scores, ties broken by
    language-code order; 'und' (undetermined) when all scores are 0."""
    scores = lang_scores_expr(col)
    langs = sorted(scores)
    best_score = F.greatest(*[scores[lang] for lang in langs])
    pred = F.lit("und")
    for lang in reversed(langs):     # earlier langs win ties → apply last
        pred = F.when(scores[lang] == best_score, F.lit(lang)).otherwise(pred)
    return F.when(best_score > 0, pred).otherwise(F.lit("und"))


def fingerprint_expr(col: Column | str) -> Column:
    """Document fingerprint: md5 of the normalized text (lowercased,
    whitespace-collapsed).  md5 is available and bit-identical in every
    engine, making fingerprints portable across systems."""
    c = F.col(col) if isinstance(col, str) else col
    normalized = F.lower(F.regexp_replace(F.trim(c), r"\s+", " "))
    return F.md5(F.encode(normalized, "UTF-8"))


def repetition_struct_expr(col: Column | str,
                           max_tokens: int = 10_000) -> Column:
    """Gopher-style repetition signals (Rae et al. 2021, appendix A1.1) at
    token granularity — the standard "too repetitive to train on" filters:

    - ``n_tokens``: token count (after the ``max_tokens`` cap).
    - ``dup_token_frac``: fraction of token occurrences that repeat an
      earlier token (1 - distinct/total).
    - ``top_token_frac``: occurrences of the single most frequent token
      over total tokens.
    - ``dup_bigram_frac`` / ``top_bigram_frac``: same two signals over
      word bigrams (NULL for sub-2-token docs).

    Pure array higher-order functions — no UDF, no shuffle; a corpus scan
    computes these inside whole-stage codegen.  Per-row cost is
    O(tokens x distinct) bounded by ``max_tokens`` (same per-row guard
    discipline as ``winnowing_fingerprint_expr``), which keeps a
    pathological 1 GB single document from owning a task at 100 TB.

    The token and bigram arrays are bound once as single-element array
    lambda variables ("let" bindings) so CollapseProject can't inline the
    split/slice into every counting lambda.
    """
    c = F.col(col) if isinstance(col, str) else col
    toks0 = F.slice(F.split(c, " "), 1, max_tokens)

    def with_toks(t):
        n = F.size(t)
        bg0 = F.when(
            n >= 2,
            F.transform(F.sequence(F.lit(1), n - 1),
                        lambda i: F.concat_ws(" ", F.slice(t, i, 2)))
        ).otherwise(F.array().cast("array<string>"))

        def with_bg(bg):
            nb = F.size(bg)
            dis = F.array_distinct(t)
            disb = F.array_distinct(bg)
            topc = F.array_max(
                F.transform(dis, lambda d: F.size(F.filter(t, lambda x: x == d))))
            topb = F.array_max(
                F.transform(disb, lambda d: F.size(F.filter(bg, lambda x: x == d))))
            return F.struct(
                n.cast("bigint").alias("n_tokens"),
                ((n - F.size(dis)).cast("double") / n).alias("dup_token_frac"),
                (topc.cast("double") / n).alias("top_token_frac"),
                F.when(nb > 0, (nb - F.size(disb)).cast("double") / nb)
                 .alias("dup_bigram_frac"),
                F.when(nb > 0, topb.cast("double") / nb)
                 .alias("top_bigram_frac"),
            )

        return F.transform(F.array(bg0), with_bg)[0]

    return F.transform(F.array(toks0), with_toks)[0]


def winnowing_fingerprint_expr(col: Column | str, k: int = 8,
                               w: int = 4,
                               max_chars: int = 100_000) -> Column:
    """Winnowing document fingerprint (Schleimer/Wilkerson/Aiken, SIGMOD
    2003): hash every character ``k``-gram of the normalized text, then
    keep the minimum hash of each window of ``w`` consecutive k-gram
    hashes.  The selected set is position-insensitive enough to survive
    local edits yet guarantees any shared substring of length ``k+w-1``
    contributes at least one common fingerprint — the standard
    plagiarism/near-dup local fingerprinting scheme.

    Engine-portable: hashes are md5-hex prefixes and the window minimum is
    a lexicographic string min, bit-identical across Spark and DuckDB
    (same discipline as the MinHash family in datapipe/dedup.py).  Pure
    array higher-order functions — O(n·w) comparisons per doc, no UDF.
    Documents shorter than ``k + w - 1`` chars yield an empty array.

    The normalized string and the hash array are bound as single-element
    array lambda variables ("let" bindings): without them CollapseProject
    inlines the normalization into every k-gram lambda and the regex runs
    once per k-gram instead of once per document (the same duplication
    trap minhash_signatures avoids by exploding).

    ``max_chars`` bounds the per-ROW hash array: a pathological 1 GB
    document would otherwise materialize a 1-billion-element array in one
    task.  Fingerprinting the first ``max_chars`` chars is the standard
    practice (near-dup detection doesn't need the tail; chunk upstream if
    full-document coverage matters).
    """
    c = F.col(col) if isinstance(col, str) else col
    s_expr = F.substring(
        F.lower(F.regexp_replace(F.trim(c), r"\s+", " ")), 1, max_chars)

    def with_s(s):
        n = F.length(s)
        hashes = F.transform(
            F.sequence(F.lit(1), n - (k - 1)),
            lambda i: F.md5(F.encode(F.substr(s, i, F.lit(k)), "UTF-8")))

        def with_h(hs):
            return F.array_distinct(F.transform(
                F.sequence(F.lit(1), F.size(hs) - (w - 1)),
                lambda j: F.array_min(F.slice(hs, j, w))))

        return F.when(n >= k + w - 1,
                      F.transform(F.array(hashes), with_h)[0]) \
            .otherwise(F.array().cast("array<string>"))

    return F.transform(F.array(s_expr), with_s)[0]


def token_surprisal_stats(docs: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id",
                          rare_threshold: int = 2) -> DataFrame:
    """Per-document corpus-frequency statistics — the integer-exact
    perplexity proxy used for pretraining quality filtering: documents
    whose tokens are mostly corpus-rare (typos, boilerplate IDs, OCR
    noise) score a high ``rare_ratio`` / low ``mean_token_freq`` and get
    gated, without training an LM.

    Output per doc: ``n_tokens``, ``sum_freq`` (Σ freq(token) over
    occurrences), ``mean_token_freq``, ``rare_tokens`` (occurrences of
    tokens appearing ≤ ``rare_threshold`` times corpus-wide) and
    ``rare_ratio``.  All sums are integers; the two ratios are single
    divisions at the end — bit-exact against any SQL engine.

    Scale design: explode → groupBy(doc, token) count (map-side combine
    shrinks the fact stream to distinct-per-doc tokens) → self-aggregated
    frequency table → equi-join on ``token`` (Zipf-skewed: the stop-word
    keys are exactly what AQE skew-join splits; never broadcast — the
    vocabulary of a 100 TB corpus is billions of rows) → one final
    groupBy(doc).  The per-(doc, token) frame is used twice (facts +
    frequency build); cache it when the corpus scan dominates.
    """
    tc = (docs.select(F.col(id_col),
                      F.explode(tokens_expr(text_col)).alias("token"))
          .groupBy(id_col, "token")
          .agg(F.count("*").alias("n_occ")))
    freq = tc.groupBy("token").agg(F.sum("n_occ").alias("freq"))
    joined = tc.join(freq, "token")
    rare_occ = F.sum(F.when(F.col("freq") <= rare_threshold,
                            F.col("n_occ")).otherwise(F.lit(0)))
    return (joined.groupBy(id_col)
            .agg(F.sum("n_occ").alias("n_tokens"),
                 F.sum(F.col("n_occ") * F.col("freq")).alias("sum_freq"),
                 rare_occ.alias("rare_tokens"))
            .select(F.col(id_col),
                    "n_tokens", "sum_freq",
                    (F.col("sum_freq").cast("double")
                     / F.col("n_tokens").cast("double"))
                    .alias("mean_token_freq"),
                    "rare_tokens",
                    (F.col("rare_tokens").cast("double")
                     / F.col("n_tokens").cast("double"))
                    .alias("rare_ratio")))


def bm25_top_terms(docs: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id", k1: float = 1.2,
                   b: float = 0.75, top_n: int = 3) -> DataFrame:
    """Per-document BM25 top terms — the retrieval-grade upgrade of
    ``tfidf``'s top-term ranking: BM25 saturates term frequency
    (``tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl))``) so a term repeated 100×
    doesn't dominate, and normalizes by document length against the
    corpus mean.

    The idf factor here is the RATIONAL Robertson idf
    ``(N − df + 0.5)/(df + 0.5)`` without the usual ``ln(1 + ·)`` wrap:
    the catalog's oracle comparison is bit-exact, and ln() is the one op
    whose last ulp differs between libm builds (PERF.md "Cross-engine
    float rules", rule 5).
    The log is monotone in the rational idf, so for a FIXED term the
    saturation ranking is unchanged; across terms the variant is the
    documented ``bm25_lite`` score, not drop-in Okapi.  All remaining
    ops are IEEE-exact divisions/multiplications evaluated in one pinned
    expression tree.

    Scale: explode → groupBy(doc, token) with map-side combine, df/dl
    by re-aggregation, N and avgdl as broadcast 1-row scalars, and the
    tf⋈df equi-join on ``token`` (Zipf-skewed — AQE skew-join territory,
    never a broadcast).  Top-n per doc is a bounded
    ``row_number ≤ n`` over the doc partition with (score DESC, term)
    determinism.
    """
    from pyspark.sql import Window

    tc = (docs.select(F.col(id_col),
                      F.explode(tokens_expr(text_col)).alias("token"))
          .groupBy(id_col, "token")
          .agg(F.count("*").alias("tf")))
    df_t = tc.groupBy("token").agg(F.count("*").alias("df"))
    dl = tc.groupBy(id_col).agg(F.sum("tf").alias("dl"))
    scalars = dl.agg(
        F.count("*").cast("double").alias("n_docs"),
        (F.sum("dl").cast("double")
         / F.count("*").cast("double")).alias("avgdl"))
    scored = (tc.join(df_t, "token")
              .join(dl, id_col)
              .crossJoin(F.broadcast(scalars)))
    tf = F.col("tf").cast("double")
    idf_r = (F.col("n_docs") - F.col("df").cast("double") + F.lit(0.5)) \
        / (F.col("df").cast("double") + F.lit(0.5))
    sat = tf * F.lit(k1 + 1.0) \
        / (tf + F.lit(k1) * (F.lit(1.0 - b)
                             + F.lit(b) * F.col("dl").cast("double")
                             / F.col("avgdl")))
    scored = scored.select(F.col(id_col), "token",
                           (idf_r * sat).alias("bm25"))
    w = Window.partitionBy(id_col).orderBy(F.col("bm25").desc(), "token")
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= top_n))


def dsir_bucket_stats(docs: DataFrame, target_filter: Column,
                      text_col: str = "text", id_col: str = "doc_id",
                      num_buckets: int = 1024) -> DataFrame:
    """DSIR-style importance-sampling sufficient statistics per document.

    Data Selection with Importance Resampling (Xie et al., NeurIPS 2023,
    public paper) weights raw-corpus documents by
    ``log p_target(d) − log p_raw(d)`` under hashed n-gram bag models.
    This operator computes the integer-exact sufficient statistics of
    that weight: tokens hash into ``num_buckets`` md5 buckets
    (cross-engine deterministic, same recipe as ``datapipe.sampling``),
    bucket counts are tallied over the target subset (``target_filter``)
    and the whole raw corpus, and each document gets

    - ``n_tokens`` — its token count (integer),
    - ``sum_target`` / ``sum_raw`` — Σ over its token occurrences of the
      corpus-wide bucket counts (integers: a doc whose mass sits in
      target-heavy buckets scores high),
    - ``weight_ratio`` — ``(sum_target/n_tokens) / (sum_raw/n_tokens)``
      collapsed to a single exact division ``sum_target/sum_raw``.

    The true log-ratio weight is a monotone post-process of these sums
    under the bag model (``log`` applied at selection time, off the
    exactness-gated path).  Scale: the bucket table is FIXED SIZE
    (``num_buckets`` rows) — unlike a vocabulary join it broadcasts
    safely at any corpus size; everything else is map-side explode +
    one groupBy(doc).
    """
    from moonshot_spark.datapipe.sampling import hash_bucket_expr

    tok = docs.select(F.col(id_col), target_filter.alias("is_target"),
                      F.explode(tokens_expr(text_col)).alias("token"))
    tok = tok.select(id_col, "is_target",
                     hash_bucket_expr("token", num_buckets).alias("bucket"))
    buckets = (tok.groupBy("bucket")
               .agg(F.count("*").alias("raw_cnt"),
                    F.sum(F.when(F.col("is_target"), 1).otherwise(0))
                    .alias("target_cnt")))
    joined = tok.join(F.broadcast(buckets), "bucket")
    return (joined.groupBy(id_col)
            .agg(F.count("*").alias("n_tokens"),
                 F.sum("target_cnt").alias("sum_target"),
                 F.sum("raw_cnt").alias("sum_raw"))
            .select(F.col(id_col), "n_tokens", "sum_target", "sum_raw",
                    (F.col("sum_target").cast("double")
                     / F.col("sum_raw").cast("double"))
                    .alias("weight_ratio")))
