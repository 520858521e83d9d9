"""Scale-safe global ranking: exact ntile over a total order WITHOUT an
unpartitioned window.

``Window.orderBy(...)`` (no partitionBy) funnels every row through one
task — fine on a dim table at small SF, fatal at 100 TB.  The two-phase
TeraSort rank (same design as plans/zorder.py's bucket layout, factored
here for reuse):

1. ``repartitionByRange(k, *order_cols)`` — the only total-order shuffle,
   sample-based range cuts, fully parallel.
2. ``localCheckpoint`` pins the partitioning (the range partitioner's
   reservoir sample is per-instance; the offsets job and the ranking job
   must see identical partitions).
3. A per-partition count job returns k rows to the driver → cumulative
   offsets; global rank = offset[pid] + per-partition ``row_number`` (a
   PARTITIONED window — each task ranks only its own sorted range).
4. ntile arithmetic on the exact rank reproduces SQL ``ntile(n) OVER
   (ORDER BY ...)`` bit-for-bit: first ``N % n`` tiles get
   ``ceil(N/n)`` rows, the rest ``floor(N/n)``.

The (order_cols) tuple must be a total order (add a unique tiebreak
column); otherwise ranks — and therefore tile assignment — would be
partition-dependent."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from moonshot_spark import materialize

__all__ = ["exact_ntile", "exact_rank", "grouped_topk",
           "grouped_exact_rank"]


def grouped_topk(df: DataFrame, group_cols: list[str | Column],
                 order_cols: list[str | Column], k: int,
                 rank_col: str = "rank",
                 keep: Column | int | None = None) -> DataFrame:
    """Exact per-group top-k WITHOUT the per-group single-task funnel.

    ``Window.partitionBy(group).orderBy(...)`` ships every scored row of a
    group into ONE task before keeping k — invisible at small SF, a
    guaranteed straggler when a group is corpus-sized (brute-force ANN
    scores |corpus| rows per query).  Two phases, bit-identical result:

    1. per-partition prune: rank within (spark_partition_id, group) and
       keep k.  Any row in a group's GLOBAL top-k ranks <= k within every
       subset it belongs to, so it always survives; at most
       n_partitions * k rows per group continue.
    2. exact window over the survivors — the same (order_cols) total
       order, now over a bounded partition.

    ``order_cols`` must be a total order within each group (include a
    unique tiebreak) or phase-1 pruning would be partition-dependent.
    ``keep`` optionally narrows the FINAL filter per row (e.g. a
    role-dependent k); it must be <= k everywhere or phase 1 would have
    pruned rows the final filter wants.
    """
    gcols = [F.col(c) if isinstance(c, str) else c for c in group_cols]
    ocols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    pruned = (df.withColumn("__tp_pid", F.spark_partition_id())
              .withColumn("__tp_r", F.row_number().over(
                  Window.partitionBy(F.col("__tp_pid"), *gcols)
                  .orderBy(*ocols)))
              .where(F.col("__tp_r") <= k)
              .drop("__tp_pid", "__tp_r"))
    w = Window.partitionBy(*gcols).orderBy(*ocols)
    out = pruned.withColumn(rank_col, F.row_number().over(w))
    keep_expr = F.lit(k) if keep is None else \
        (F.lit(keep) if isinstance(keep, int) else keep)
    return out.where(F.col(rank_col) <= keep_expr)


def grouped_exact_rank(df: DataFrame, group_cols: list[str],
                       order_cols: list[str | Column],
                       out_col: str = "rank",
                       size_col: str | None = None) -> DataFrame:
    """Exact per-group 1-based rank over a total order WITHOUT the
    per-group single-task window — the grouped sibling of
    ``exact_rank`` for when every row needs a rank (top-k pruning via
    ``grouped_topk`` doesn't apply).

    Phase 1 ranks within (scan partition, group) — a partitioned
    window whose tasks are bounded by partition size, not group size.
    Phase 2 adds each (partition, group) cell's offset: the number of
    same-group rows ordering entirely before the cell.  Offsets come
    from a per-cell (min, max, count) aggregate joined back on the same
    (partition, group) key (Catalyst reuses the phase-1 exchange); the
    running sum runs on the CELL table (n_partitions rows per group),
    never on row-level data.

    Correctness requires cells to be ORDER-DISJOINT per group, so
    phase 0 range-partitions by (group, order) — same-group rows land
    in order-contiguous partitions (the TeraSort discipline of
    ``exact_rank``, keyed by group first so a group's range is split
    only by order position).  ``order_cols`` must be a total order
    within each group; ``group_cols`` are column NAMES (they key the
    offset join).  ``size_col`` optionally adds the exact group size
    (free from the cell table — no second window).
    """
    gcols = [F.col(c) for c in group_cols]
    ocols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    n_part = df.sparkSession.sparkContext.defaultParallelism
    part = (materialize.checkpoint(
                df.repartitionByRange(n_part, *gcols, *ocols))
            .withColumn("__gr_pid", F.spark_partition_id()))
    local = F.row_number().over(
        Window.partitionBy(F.col("__gr_pid"), *gcols).orderBy(*ocols))
    ranked = part.withColumn("__gr_local", local)
    cells = (ranked.groupBy(F.col("__gr_pid"), *gcols)
             .agg(F.count("*").alias("__gr_n")))
    # running offset over the tiny cell table: n_partitions rows/group
    off = (F.sum("__gr_n").over(
        Window.partitionBy(*gcols).orderBy("__gr_pid")
        .rowsBetween(Window.unboundedPreceding, -1)))
    tot = F.sum("__gr_n").over(Window.partitionBy(*gcols))
    cells = cells.select(
        "__gr_pid", *gcols,
        F.coalesce(off, F.lit(0)).alias("__gr_off"),
        tot.alias("__gr_tot"))
    joined = ranked.join(cells, ["__gr_pid"] + list(group_cols))
    out = joined.withColumn(
        out_col, (F.col("__gr_off") + F.col("__gr_local")).cast("bigint"))
    if size_col is not None:
        out = out.withColumn(size_col, F.col("__gr_tot"))
    return out.drop("__gr_pid", "__gr_local", "__gr_off", "__gr_tot")


def _two_phase_rank(df: DataFrame, order_cols: list[str | Column],
                    n_partitions: int):
    """Shared kernel: returns (range-partitioned df with ``__pid``,
    exact-global-rank Column, total row count).  One range shuffle, one
    bounded per-partition-count job, partitioned windows only."""
    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    part = (materialize.checkpoint(
                df.repartitionByRange(n_partitions, *cols))
            .withColumn("__pid", F.spark_partition_id()))
    counts = sorted((r["__pid"], r["cnt"]) for r in
                    part.groupBy("__pid").agg(F.count("*").alias("cnt"))
                    .collect())
    total = sum(c for _, c in counts)
    offsets, acc = {}, 0
    for pid, c in counts:
        offsets[pid] = acc
        acc += c
    off_col = F.coalesce(
        *[F.when(F.col("__pid") == pid, F.lit(off))
          for pid, off in offsets.items()], F.lit(0)) \
        if offsets else F.lit(0)
    rank = off_col + F.row_number().over(
        Window.partitionBy("__pid").orderBy(*cols))
    return part, rank, total


def exact_rank(df: DataFrame, order_cols: list[str | Column],
               out_col: str = "rank",
               n_partitions: int = 8) -> DataFrame:
    """Append ``out_col`` = exact 1-based global position over the total
    order given by ``order_cols`` (must include a unique tiebreak) —
    ``row_number() OVER (ORDER BY ...)`` semantics with no
    unpartitioned window anywhere in the plan."""
    part, rank, _ = _two_phase_rank(df, order_cols, n_partitions)
    return part.withColumn(out_col, rank.cast("bigint")).drop("__pid")


def exact_ntile(df: DataFrame, n: int, order_cols: list[str | Column],
                out_col: str = "ntile",
                n_partitions: int | None = None) -> DataFrame:
    """Append ``out_col`` = exact ntile(n) over the global order given by
    ``order_cols`` (must include a unique tiebreak).  Two-phase rank —
    no unpartitioned window anywhere in the plan."""
    n_partitions = n_partitions or max(n, 8)
    part, rank, total = _two_phase_rank(df, order_cols, n_partitions)
    q, rem = divmod(total, n)
    cut = rem * (q + 1)
    tile = F.when(rank <= F.lit(cut),
                  (rank - 1) / F.lit(max(q + 1, 1)) + 1) \
        .otherwise(F.lit(rem) + (rank - 1 - F.lit(cut))
                   / F.lit(max(q, 1)) + 1)
    return (part.withColumn(out_col, F.floor(tile).cast("int"))
            .drop("__pid"))
