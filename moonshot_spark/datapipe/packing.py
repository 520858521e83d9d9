"""Context-window chunking and sequence packing for training-data prep.

Two shapes of the "fit documents into fixed-length model contexts"
problem (beyond-reference LLM-datapipe operators per the project mandate;
the reference engine has no text surface at all):

- ``chunk_tokens``: one document → overlapping token windows of a fixed
  size and stride (the retrieval / long-doc-training layout).  A pure
  map-side explode: tokenize, enumerate window starts, slice — no
  shuffle, whole-stage-codegen'd array expressions next to the scan, so
  chunking 100 TB is a single pass.

- ``pack_bins``: many documents → contiguous fixed-budget bins (the
  concat-then-split pretraining layout).  Documents are laid end-to-end
  in deterministic (partition, id) order and a document's bin is
  floor(cumulative_tokens_before / budget).  One shuffle: the window
  cumsum partitioned by the shard column.  At 100 TB the shard column
  (language, source, date bucket, ...) bounds every partition's sort;
  packing is embarrassingly parallel across shards, and the straddle
  count reports how many docs cross a bin boundary (the fraction the
  concat layout truncates or splits at training time).

All arithmetic is integer (token counts, cumulative sums, floor-div) —
bit-identical across engines, so both operators hash-match SQL oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from moonshot_spark.datapipe.text import token_count_expr


def chunk_tokens(docs: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id", size: int = 64,
                 stride: int = 32) -> DataFrame:
    """Explode each doc into token windows: (id, chunk_id, n_tokens,
    chunk_md5).  Window k covers tokens [k*stride, k*stride + size); the
    final windows may be shorter (standard long-doc layout, no padding).
    The chunk text itself is emitted as an md5 so downstream equality /
    dedup over chunks never carries the corpus bytes through a shuffle.
    """
    toks = F.split(F.col(text_col), " ")
    n = F.size(toks)
    starts = F.sequence(F.lit(0), n - 1, F.lit(stride))
    return (docs
            .select(F.col(id_col), toks.alias("__toks"), n.alias("__n"),
                    F.explode(starts).alias("__start"))
            .select(
                F.col(id_col),
                (F.col("__start") / stride).cast("bigint").alias("chunk_id"),
                F.size(F.slice(F.col("__toks"), F.col("__start") + 1, size)
                       ).cast("bigint").alias("n_tokens"),
                F.md5(F.encode(F.concat_ws(
                    " ", F.slice(F.col("__toks"), F.col("__start") + 1, size)),
                    "UTF-8")).alias("chunk_md5"))
            .drop("__toks", "__n", "__start"))


def pack_bins(docs: DataFrame, budget: int = 256, text_col: str = "text",
              id_col: str = "doc_id",
              shard_col: str = "lang") -> DataFrame:
    """Assign each doc to a fixed-token-budget bin by cumulative token
    position within its shard: (id, shard, bin_id, n_tokens, straddles).

    ``straddles`` flags docs whose token span crosses a bin boundary —
    the ones a concat-and-split training layout would cut.
    """
    n_tok = token_count_expr(text_col)
    w = (Window.partitionBy(shard_col).orderBy(id_col)
         .rowsBetween(Window.unboundedPreceding, -1))
    cum_before = F.coalesce(F.sum(n_tok).over(w), F.lit(0))
    return docs.select(
        F.col(id_col), F.col(shard_col),
        F.floor(cum_before / budget).alias("bin_id"),
        n_tok.cast("bigint").alias("n_tokens"),
        ((cum_before % budget) + n_tok > budget).alias("straddles"))


def pack_stats(docs: DataFrame, budget: int = 256, text_col: str = "text",
               id_col: str = "doc_id",
               shard_col: str = "lang") -> DataFrame:
    """Per-bin packing report: (shard, bin_id, n_docs, n_tokens,
    n_straddle) — the fill/waste profile of the packed layout."""
    packed = pack_bins(docs, budget, text_col, id_col, shard_col)
    return (packed.groupBy(shard_col, "bin_id")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_tokens").alias("n_tokens"),
                 F.sum(F.col("straddles").cast("bigint")).alias("n_straddle")))
