"""Z-order (Morton) layout clustering for multi-column data skipping.

At 100 TB, which rows share a file decides how much a selective query
scans: parquet row-group min/max pruning only helps if the layout keeps
each file's value ranges narrow.  Sorting by one column gives perfect
pruning on that column and none on any other; interleaving the key bits
(z-ordering) before the sort gives good pruning on BOTH keys — the
standard lakehouse layout trick (Delta/Iceberg `OPTIMIZE ZORDER BY`),
implemented here engine-natively.

The z-value is a pure integer expression (unrolled shift/mask/or — no
UDF, whole-stage-codegen'd), so computing it over 100 TB is free
relative to the one total-order shuffle of the layout write (Spark's
range-partitioned sort).  ``z_value_sql`` emits the bit-identical SQL
form so layouts are verifiable against any SQL engine.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from moonshot_spark.operators.ranking import _cell_rank, _ntile


def z_value_expr(col_a: Column | str, col_b: Column | str,
                 bits: int = 16) -> Column:
    """Interleave the low ``bits`` bits of two non-negative integer
    columns: a's bit i lands at position 2i+1, b's at 2i.  32 bits of z
    for the default 16 — fits a BIGINT with room to extend to 3 keys."""
    a = (F.col(col_a) if isinstance(col_a, str) else col_a).cast("bigint")
    b = (F.col(col_b) if isinstance(col_b, str) else col_b).cast("bigint")
    z = F.lit(0).cast("bigint")
    for i in range(bits):
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(a, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)), 2 * i))
    return z


def z_value_sql(col_a: str, col_b: str, bits: int = 16) -> str:
    """The identical computation as ANSI-ish SQL (DuckDB-compatible
    bitwise operators) — generated from the same unrolled loop so the
    two forms cannot drift."""
    parts = []
    for i in range(bits):
        parts.append(f"((({col_a} >> {i}) & 1) << {2 * i + 1})")
        parts.append(f"((({col_b} >> {i}) & 1) << {2 * i})")
    return " | ".join(parts)


def _check_bits_guard(col: Column, bits: int, name: str) -> Column:
    """Per-row overflow guard: keys with bits above ``bits`` would silently
    collide in z-space (the interleave masks them off), degrading layout
    quality with no signal.  A codegen'd conditional ``raise_error`` turns
    that silent degradation into a loud failure at execution time — no
    extra pass over the data."""
    return F.when(
        col >= F.lit(1 << bits),
        F.raise_error(F.lit(
            f"z-order key '{name}' has values >= 2^{bits}; widen bits= or "
            "pre-scale the key (values above the bit budget collide in "
            "z-space and destroy pruning)"))
    ).otherwise(col)


def zorder_bucket_stats(df: DataFrame, col_a: str, col_b: str,
                        n_buckets: int = 16, bits: int = 16,
                        tiebreak: list[str] | None = None,
                        check_bits: bool = True) -> DataFrame:
    """Lay rows out in z-order, cut into ``n_buckets`` equal files with
    EXACT ``ntile`` semantics, and report each file's (min, max) range of
    both keys — the exact metadata a scan would prune on.  Narrow ranges
    on both columns = both predicates skip files.

    Scale design — this is the TeraSort two-phase rank, NOT a global
    window (an un-partitioned ``Window.orderBy`` funnels the whole table
    through one task and dies at 100 TB):

    1. Rows are binned by FIXED z-value ranges (``__z >> shift``, 64
       bins over the 2^(2*bits) z-space) — a deterministic, monotone
       function of the row, so the count job and the stats job agree on
       bin membership BY CONSTRUCTION.  (r15: this replaces
       ``repartitionByRange + localCheckpoint`` — the checkpoint existed
       only to pin the range partitioner's per-RDD-instance sample, and
       its materialization plus the hidden sampling pass were ~60% of
       the operator's cost: a pure function of the row needs no
       materialized copy to agree with itself.  The bin count exceeds the
       bucket count so moderate z-skew still spreads; a pathological
       single-z-value distribution degrades parallelism, not
       correctness — the same row mass would land in one ntile sort
       task under any exact-rank scheme.)
    2. ``operators/ranking.py::_cell_rank``, the library's one global
       rank, collects a tiny per-bin count (<= 64 rows to the driver,
       map-side partial aggregation, no wide shuffle) into cumulative
       offsets; global rank = offset[bin] + local row_number (a
       PARTITIONED window — each task ranks its own bin).  The
       (z, tiebreak) tuple is unique and binning is monotone in z, so
       ranks are exact.
    3. ``ranking._ntile`` turns the global rank into the bucket: the
       first ``N % k`` buckets get ``ceil(N/k)`` rows, the rest
       ``floor(N/k)`` — bit-identical to the SQL ``ntile(k) OVER
       (ORDER BY ...)`` oracle.

    For a layout *write* (no exact-equal-files contract) use
    ``zorder_write`` / ``zorder_partition_stats`` — pure streaming,
    sampled cuts are fine for file sizing.
    """
    keys = ["__z"] + list(tiebreak or [])
    a_in = _check_bits_guard(F.col(col_a).cast("bigint"), bits, col_a) \
        if check_bits else F.col(col_a)
    b_in = _check_bits_guard(F.col(col_b).cast("bigint"), bits, col_b) \
        if check_bits else F.col(col_b)
    # 64 fixed bins over the z-space; shift so bin = high-order z bits
    shift = max(2 * bits - 6, 0)
    zdf = (df
           .withColumn("__z", z_value_expr(a_in, b_in, bits))
           .select("__z", col_a, col_b, *(tiebreak or []))
           .withColumn("__bin", F.shiftright(F.col("__z"), shift)))
    ranked, total = _cell_rank(zdf, "__bin", keys, "__r")
    return (ranked
            .withColumn("__bucket", _ntile(F.col("__r"), total, n_buckets))
            .groupBy(F.col("__bucket").alias("bucket"))
            .agg(F.min(col_a).alias(f"min_{col_a}"),
                 F.max(col_a).alias(f"max_{col_a}"),
                 F.min(col_b).alias(f"min_{col_b}"),
                 F.max(col_b).alias(f"max_{col_b}"),
                 F.count("*").alias("n_rows")))


def zorder_write(df: DataFrame, col_a: str, col_b: str, path: str,
                 n_files: int = 16, bits: int = 16,
                 tiebreak: list[str] | None = None,
                 check_bits: bool = True, format: str = "parquet") -> None:
    """The production layout write: one range-partitioned total-order
    shuffle on the z-value, an in-partition sort (so row groups inside a
    file are also z-clustered), and a file-per-partition write.  No
    window, no checkpoint, no driver materialization — pure streaming at
    any scale.  File sizes are approximately equal (sampled range cuts),
    which is what a layout write wants; the exact-ntile contract is only
    for the verifiable ``zorder_bucket_stats`` report."""
    a_in = _check_bits_guard(F.col(col_a).cast("bigint"), bits, col_a) \
        if check_bits else F.col(col_a)
    b_in = _check_bits_guard(F.col(col_b).cast("bigint"), bits, col_b) \
        if check_bits else F.col(col_b)
    keys = ["__z"] + list(tiebreak or [])
    (df.withColumn("__z", z_value_expr(a_in, b_in, bits))
       .repartitionByRange(n_files, *[F.col(k) for k in keys])
       .sortWithinPartitions(*keys)
       .drop("__z")
       .write.format(format).mode("overwrite").save(path))


def zorder_partition_stats(df: DataFrame, col_a: str, col_b: str,
                           n_files: int = 16, bits: int = 16,
                           tiebreak: list[str] | None = None) -> DataFrame:
    """Per-file (min, max, rows) for the layout ``zorder_write`` would
    produce — grouped on ``spark_partition_id()`` after the same range
    shuffle, so it is a single streaming job: no window, no checkpoint,
    no second pass.  Files are approximately (not exactly) equal-sized;
    use this to audit pruning quality on real layouts."""
    keys = ["__z"] + list(tiebreak or [])
    return (df
            .withColumn("__z", z_value_expr(col_a, col_b, bits))
            .select("__z", col_a, col_b, *(tiebreak or []))
            .repartitionByRange(n_files, *[F.col(k) for k in keys])
            .groupBy(F.spark_partition_id().alias("file_id"))
            .agg(F.min(col_a).alias(f"min_{col_a}"),
                 F.max(col_a).alias(f"max_{col_a}"),
                 F.min(col_b).alias(f"min_{col_b}"),
                 F.max(col_b).alias(f"max_{col_b}"),
                 F.count("*").alias("n_rows")))
