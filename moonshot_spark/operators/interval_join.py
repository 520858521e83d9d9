"""Bucketized interval (range-containment) join.

Spark has no native interval join: ``points JOIN intervals ON ts BETWEEN
start AND end`` plans as a broadcast-nested-loop or a sort-merge with a
residual range predicate — both degrade to per-key cross products at
scale.  The standard fix (used by every time-series/geo engine) is to
discretize time into fixed-width buckets: an interval is replicated to
each bucket it spans, a point belongs to exactly ONE bucket, and the
join becomes an equi-join on (keys..., bucket) with a cheap residual
``BETWEEN`` filter.  Equi-joins hash-partition, broadcast, and AQE-skew
-split like any other join — the quadratic blowup is gone.

Correctness: since a point lives in exactly one bucket and an interval
appears at most once per bucket, each (point, interval) match is emitted
exactly once — no post-join dedup needed.

Scale guard: an interval spanning the whole timeline would replicate
into every bucket (the same unbounded-edge failure mode as an LSH mega
-bucket).  ``max_buckets_per_interval`` caps the replication.  The guard
is LAZY — it never runs a separate eager job over the interval lineage
at plan-construction time (which would recompute the whole upstream DAG
even when nothing is oversized):

- ``on_oversized="error"`` (default): an inline per-row ``raise_error``
  fires inside the main job the moment an oversized interval is seen —
  zero extra cost on the clean path, loud failure on the dirty one.
- ``on_oversized="truncate"``: matches beyond the cap are dropped, by
  construction, without any signal — for callers that have already
  bounded their intervals (e.g. sessionization with an inactivity
  timeout) and want the cap purely as an abundance-of-caution ceiling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

HOUR_NS = 3_600 * 1_000_000_000


def interval_join(points: DataFrame, intervals: DataFrame,
                  on: list[str], point_ts: str = "ts_ns",
                  start_col: str = "start_ns", end_col: str = "end_ns",
                  bucket_width: int = HOUR_NS,
                  max_buckets_per_interval: int = 10_000,
                  on_oversized: str = "error") -> DataFrame:
    """Rows of ``points`` matched to every interval (same ``on`` keys)
    with ``start_col <= point_ts <= end_col``.  All three time columns
    are integer epochs in the same unit (exact arithmetic)."""
    b_start = F.floor(F.col(start_col) / bucket_width).cast("bigint")
    b_end = F.floor(F.col(end_col) / bucket_width).cast("bigint")
    capped_end = F.least(b_end, b_start + (max_buckets_per_interval - 1))

    if on_oversized == "error":
        # lazy inline guard: evaluated per interval row inside the main
        # job — no separate action, no lineage recompute
        capped_end = F.when(
            b_end - b_start + 1 > max_buckets_per_interval,
            F.raise_error(F.lit(
                f"interval_join: interval(s) span more than "
                f"{max_buckets_per_interval} buckets of {bucket_width}; "
                f"widen bucket_width, raise max_buckets_per_interval, or "
                f"pass on_oversized='truncate'"))
        ).otherwise(capped_end)
    elif on_oversized != "truncate":
        raise ValueError(
            f"on_oversized must be 'error' or 'truncate', "
            f"got {on_oversized!r}")

    iv = intervals.withColumn(
        "__bucket", F.explode(F.sequence(b_start, capped_end)))
    pts = points.withColumn(
        "__bucket", F.floor(F.col(point_ts) / bucket_width).cast("bigint"))
    return (pts.join(iv, on + ["__bucket"])
            .where(F.col(point_ts).between(F.col(start_col),
                                           F.col(end_col)))
            .drop("__bucket"))
