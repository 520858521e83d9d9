"""Distributed BPE merge training (Sennrich et al., "Neural Machine
Translation of Rare Words with Subword Units", ACL 2016 — the merge-rule
learning loop, re-expressed for Spark at corpus scale over whitespace
symbols).

Each merge round is the canonical two-step:

1. **count**: one explode of adjacent symbol pairs + one hash groupBy
   (map-side combinable; the driver receives a single argmax row, not
   the count table),
2. **merge**: one pure-map `replace` over the corpus applying the won
   pair everywhere.

So ``n_merges`` rounds cost n_merges corpus scans + n_merges tiny
shuffles — the exact shape production distributed tokenizer trainers
use; driver state is one (left, right) pair per round.

Determinism / cross-engine exactness (what makes a DuckDB oracle replay
possible):

- ties in the pair-count argmax break on (count DESC, left ASC, right
  ASC) under binary string comparison — identical in Spark and DuckDB.
- the merge is applied on a DOUBLE-SPACED string form: symbols joined
  by two spaces with two-space ends, pattern ``" L  R "`` replaced by
  ``" L\\x01R "``.  Every occurrence keeps one boundary space on each
  side, so all matches are character-disjoint and the replacement is
  order-independent — leftmost-non-overlapping (both engines' replace)
  equals simultaneous replacement equals classic BPE's greedy
  left-to-right merge (verified on the "A A A" overlap case: only the
  first pair merges).  No regex anywhere — literal replace only.

Beyond-reference operator (the quantrocket reference has no corpus /
tokenizer surface)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from moonshot_spark import materialize
from moonshot_spark.sources.local import local_df

__all__ = ["bpe_state", "bpe_train", "bpe_apply",
           "bpe_save_rules", "bpe_load_rules"]

MERGE_MARK = "\x01"


def bpe_state(docs: DataFrame, text_col: str = "text",
              grain: str = "word") -> DataFrame:
    """Initial double-spaced symbol string per training row.

    ``grain='word'``: whitespace tokens are the starting symbols
    (phrase-BPE — merges learn multi-word units).  ``grain='char'``:
    classic subword BPE (Sennrich ACL'16): each WORD becomes one
    training row whose symbols are its characters, so merges never
    cross word boundaries — exactly the paper's word-frequency-dict
    formulation, with the explode standing in for the dict (same
    counts, since the dict is weighted by frequency).  The merge loop
    is identical for both grains."""
    if grain == "char":
        word = F.explode(F.filter(F.split(F.col(text_col), " "),
                                  lambda w: F.length(w) > 0))
        chars = F.split(F.col("__w"), "")
        s = F.concat(F.lit("  "), F.array_join(chars, "  "), F.lit("  "))
        return docs.select(word.alias("__w")).select(s.alias("__s"))
    if grain != "word":
        raise ValueError(f"grain must be 'word' or 'char', got {grain!r}")
    s = F.concat(F.lit("  "),
                 F.replace(F.col(text_col), F.lit(" "), F.lit("  ")),
                 F.lit("  "))
    return docs.select(s.alias("__s"))


def _pairs(state: DataFrame) -> DataFrame:
    toks = F.split(F.trim(F.col("__s")), "  ")
    base = state.select(toks.alias("__toks")).where(F.size("__toks") >= 2)
    pairs = F.transform(
        F.sequence(F.lit(0), F.size("__toks") - 2),
        lambda i: F.struct(F.col("__toks")[i].alias("l"),
                           F.col("__toks")[i + 1].alias("r")))
    return (base.select(F.explode(pairs).alias("__p"))
            .select(F.col("__p.l").alias("l"), F.col("__p.r").alias("r")))


def bpe_train(docs: DataFrame, n_merges: int,
              text_col: str = "text",
              grain: str = "word") -> list[tuple[int, str, str, int]]:
    """Learn ``n_merges`` merge rules; returns
    ``[(round, left, right, pair_count), ...]`` in round order.  Stops
    early if no pair occurs (corpus exhausted).  Symbols produced by
    earlier merges carry the \\x01 mark and participate in later rounds
    like any other symbol (hierarchical merges, per the paper).
    ``grain='char'`` trains classic subword BPE (see bpe_state)."""
    state = bpe_state(docs, text_col, grain)
    rules: list[tuple[int, str, str, int]] = []
    prev = None
    with materialize.scope():
        for rnd in range(1, n_merges + 1):
            # persist each round's state: round k's count otherwise
            # re-executes ALL k-1 prior replaces from the raw scan
            # (O(n_merges^2) corpus passes over a long training run).
            # The cached state is one string column — comparable to the
            # input corpus size, spilled to disk if needed; the previous
            # round's cache is dropped as soon as the new one is
            # materialized by this round's aggregate, the last one (also
            # after a failed round) when the scope exits.
            state = materialize.persist(state)
            top = (_pairs(state)
                   .groupBy("l", "r").agg(F.count("*").alias("cnt"))
                   .orderBy(F.desc("cnt"), F.asc("l"), F.asc("r"))
                   .limit(1).collect())
            if prev is not None:   # new round materialized → drop older
                materialize.drop(prev)
            prev = state
            if not top:
                break
            l, r, cnt = top[0]["l"], top[0]["r"], int(top[0]["cnt"])
            rules.append((rnd, l, r, cnt))
            state = state.select(F.replace(
                F.col("__s"),
                F.lit(f" {l}  {r} "),
                F.lit(f" {l}{MERGE_MARK}{r} ")).alias("__s"))
    return rules


def bpe_apply(docs: DataFrame, rules: list, text_col: str = "text",
              carry_cols: tuple = (), grain: str = "word") -> DataFrame:
    """Encode documents with an already-learned merge table: apply the
    rules' literal replaces in round order and return ``carry_cols``
    plus ``n_symbols`` (symbol count before any merge) and
    ``n_encoded`` (after all merges).

    One narrow map over the corpus — the rules are driver-held literals
    baked into the plan (a few dozen replaces chained inside
    whole-stage codegen), so encoding scales embarrassingly: no join,
    no shuffle, no UDF.  This is the inference half of bpe_train, the
    same split as classifier.py's train/score.

    ``grain='char'`` mirrors the char-grain trainer: the replace chain
    runs on each word's character string inside a ``transform`` lambda,
    so merges stay within word boundaries and the row stays per-DOC
    (still no explode/shuffle — word handling is array-local)."""
    if grain == "char":
        words = F.filter(F.split(F.col(text_col), " "),
                         lambda w: F.length(w) > 0)

        def encode_word(w):
            s = F.concat(F.lit("  "), F.array_join(F.split(w, ""), "  "),
                         F.lit("  "))
            for _rnd, l, r, _cnt in rules:
                s = F.replace(s, F.lit(f" {l}  {r} "),
                              F.lit(f" {l}{MERGE_MARK}{r} "))
            return F.size(F.split(F.trim(s), "  "))

        zero = F.lit(0)
        n0 = F.aggregate(words, zero, lambda acc, w: acc + F.length(w))
        n1 = F.aggregate(F.transform(words, encode_word), zero,
                         lambda acc, n: acc + n)
        return docs.select(*carry_cols, n0.alias("n_symbols"),
                           n1.alias("n_encoded"))

    s = F.concat(F.lit("  "),
                 F.replace(F.col(text_col), F.lit(" "), F.lit("  ")),
                 F.lit("  "))
    # count BOTH sides on the trimmed double-spaced form: a naive
    # split(text, ' ') keeps boundary empty tokens that trim() later
    # eats, so zero rules would report phantom compression on text
    # with leading/trailing spaces
    n0 = F.size(F.split(F.trim(s), "  "))
    for _rnd, l, r, _cnt in rules:
        s = F.replace(s, F.lit(f" {l}  {r} "),
                      F.lit(f" {l}{MERGE_MARK}{r} "))
    n1 = F.size(F.split(F.trim(s), "  "))
    return docs.select(*carry_cols,
                       n0.alias("n_symbols"),
                       n1.alias("n_encoded"))


def bpe_save_rules(spark, rules: list, path: str) -> None:
    """Persist a learned merge table as parquet (round, left, right,
    cnt) so the encode half can run in a different session/cluster —
    the tokenizer-artifact round-trip every production pipeline needs.
    Tiny (one row per merge), written as a single file."""
    df = local_df(
        spark, [(int(rnd), l, r, int(cnt)) for rnd, l, r, cnt in rules],
        "round int, left string, right string, cnt bigint")
    df.coalesce(1).write.mode("overwrite").parquet(path)


def bpe_load_rules(spark, path: str) -> list[tuple[int, str, str, int]]:
    """Load a merge table saved by ``bpe_save_rules``, in round order —
    returns the exact ``bpe_train`` output shape, directly feedable to
    ``bpe_apply``."""
    rows = spark.read.parquet(path).orderBy("round").collect()
    return [(r["round"], r["left"], r["right"], int(r["cnt"]))
            for r in rows]
