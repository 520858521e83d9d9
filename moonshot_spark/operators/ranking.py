"""Scale-safe global ranking: exact rank and ntile over a total order
WITHOUT an unpartitioned window.

``Window.orderBy(...)`` (no partitionBy) funnels every row through one
task — fine on a dim table at small SF, fatal at 100 TB.  Every global
rank in the library is one two-phase TeraSort rank, ``_cell_rank``,
called by ``exact_rank``, ``exact_ntile`` and plans/zorder.py:

1. The caller cuts rows into ORDER-DISJOINT cells.  ``exact_rank`` and
   ``exact_ntile`` range-partition (sampled cuts, the only total-order
   shuffle) and ``localCheckpoint``: the partitioner's sample is
   per-instance, and the count and rank jobs must see the same cells.
   Z-order's fixed z bins are a pure function of the row instead.
2. One per-cell count job (a row per cell to the driver) gives
   cumulative offsets, shipped as one ``element_at(map(...))`` literal;
   rank = offset[cell] + per-cell ``row_number`` (a PARTITIONED window).
   A global offset cannot stay in the plan: a window over the whole
   cell table plans as ``Exchange SinglePartition``.  Per-group offsets
   can, which is why ``grouped_exact_rank`` joins its cell table.
3. ``_ntile`` on the exact rank reproduces SQL ``ntile(n) OVER (ORDER
   BY ...)`` bit-for-bit: the first ``N % n`` tiles get ``ceil(N/n)``
   rows, the rest ``floor(N/n)``.

The (order_cols) tuple must be a total order (add a unique tiebreak
column); otherwise ranks — and therefore tile assignment — would be
cell-dependent."""

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
    part = _range_cells(df, [*gcols, *ocols], None, "__gr_pid")
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


def _range_cells(df: DataFrame, cols: list[str | Column],
                 n_partitions: int | None, cell_col: str) -> DataFrame:
    """``df`` range-partitioned on ``cols`` into ``n_partitions`` cells
    (None: ``defaultParallelism``), checkpointed, cell id in ``cell_col``."""
    n_part = n_partitions or df.sparkSession.sparkContext.defaultParallelism
    return (materialize.checkpoint(df.repartitionByRange(n_part, *cols))
            .withColumn(cell_col, F.spark_partition_id()))


def _cell_rank(cells: DataFrame, cell_col: str,
               order_cols: list[str | Column],
               rank_col: str) -> tuple[DataFrame, int]:
    """The one global-rank kernel: append ``rank_col`` = exact 1-based
    bigint rank over ``order_cols`` to ``cells``, whose ``cell_col``
    cuts it into order-disjoint cells; return (ranked frame, row total)."""
    counts = sorted((r[cell_col], r["cnt"]) for r in
                    cells.groupBy(cell_col).agg(F.count("*").alias("cnt"))
                    .collect())
    entries, total = [], 0
    for cell, n in counts:
        entries.append(f"{cell}L, {total}L")
        total += n
    # literal cell->offset map, parsed once in the JVM: a WHEN branch per
    # cell through the Column API costs Py4J round trips per cell
    off = (F.expr(f"element_at(map({', '.join(entries)}), {cell_col})")
           if entries else F.lit(0))
    rank = off + F.row_number().over(
        Window.partitionBy(cell_col).orderBy(*order_cols))
    return cells.withColumn(rank_col, rank.cast("bigint")), total


def _ntile(rank: Column, total: int, n: int) -> Column:
    """SQL ``ntile(n)`` of a 1-based ``rank`` among ``total`` rows."""
    q, rem = divmod(total, n)
    cut = rem * (q + 1)
    tile = F.when(rank <= F.lit(cut), (rank - 1) / F.lit(q + 1) + 1) \
        .otherwise(F.lit(rem) + (rank - 1 - F.lit(cut))
                   / F.lit(max(q, 1)) + 1)
    return F.floor(tile).cast("int")


def exact_rank(df: DataFrame, order_cols: list[str | Column],
               out_col: str = "rank",
               n_partitions: int | None = None) -> DataFrame:
    """Append ``out_col`` = exact 1-based global position over the total
    order given by ``order_cols`` (must include a unique tiebreak) —
    ``row_number() OVER (ORDER BY ...)`` semantics with no
    unpartitioned window anywhere in the plan, over ``n_partitions``
    range cells (None: ``defaultParallelism``)."""
    cells = _range_cells(df, order_cols, n_partitions, "__pid")
    return _cell_rank(cells, "__pid", order_cols, out_col)[0].drop("__pid")


def exact_ntile(df: DataFrame, n: int, order_cols: list[str | Column],
                out_col: str = "ntile",
                n_partitions: int | None = None) -> DataFrame:
    """Append ``out_col`` = exact ntile(n) over the global order given by
    ``order_cols`` (must include a unique tiebreak).  Two-phase rank —
    no unpartitioned window anywhere in the plan; ``n_partitions`` as in
    ``exact_rank``."""
    cells = _range_cells(df, order_cols, n_partitions, "__pid")
    ranked, total = _cell_rank(cells, "__pid", order_cols, "__rank")
    return (ranked.withColumn(out_col, _ntile(F.col("__rank"), total, n))
            .drop("__pid", "__rank"))
