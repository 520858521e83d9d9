"""The one timing loop: every harness in this repo times a query here.

- ``measure(build)``: one untimed warm-up, then the min of ``runs``
  timed runs, each on a FRESHLY built frame, split into build and exec,
  with the codegen compilations of the fastest run.
- ``session(app)``: the measurement SparkSession (heap pre-touched).
"""

from __future__ import annotations

import os
import time
from typing import Any, Callable, NamedTuple


class Measurement(NamedTuple):
    total: float   # fastest timed run, build + exec
    build: float   # that same run's build seconds
    exec: float    # that same run's exec seconds
    compiles: int | None  # that run's codegen compilations (Spark only)
    rows: Any      # what forcing the warm-up returned (count() -> rows)
    frame: Any     # the warm-up frame (for plan shape; already forced)


def _count(df) -> int:
    return df.count()


def codegen_compiles(spark) -> int:
    """Spark's JVM-wide count of generated-class compilations, i.e. of
    misses of its codegen cache (no UI needed)."""
    metrics = spark._jvm.org.apache.spark.metrics.source
    return metrics.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()


def measure(build: Callable[[], Any], runs: int = 2,
            force: Callable[[Any], Any] = _count) -> Measurement:
    """Warm up once, untimed (JIT, parquet footers, broadcasts), then
    time ``runs`` runs of ``force(build())`` and keep the fastest.

    Every timed run calls ``build()`` again: forcing the same DataFrame
    twice reuses its shuffle map outputs (MapOutputTracker) and
    under-measures shuffle-heavy queries by ~2x (PERF.md r9).  build =
    frame construction (driver Py4J/analysis plus any bounded eager
    action a builder runs); exec = ``force`` on that fresh frame.  Both
    come from the same (fastest) run, so they add up to ``total``;
    ``compiles`` is that run's too, read outside the timed window.
    """
    from pyspark.sql import DataFrame

    frame = build()
    rows = force(frame)
    # None on a non-Spark frame (the DuckDB side of bench_compare.py)
    spark = frame.sparkSession if isinstance(frame, DataFrame) else None
    best = (float("inf"), float("inf"), float("inf"), None)
    for _ in range(runs):
        c0 = codegen_compiles(spark) if spark else None
        t0 = time.perf_counter()
        df = build()
        t1 = time.perf_counter()
        force(df)
        t2 = time.perf_counter()
        if t2 - t0 < best[0]:
            best = (t2 - t0, t1 - t0, t2 - t1,
                    codegen_compiles(spark) - c0 if spark else None)
    return Measurement(*best, rows, frame)


def session(app: str):
    """``get_spark(app)`` with ``SPARK_GRAFT_PRETOUCH=1`` unless set: the
    JVM zeroes its pinned heap at start (session.py ``-Xms`` note), so G1
    commit/uncommit churn never lands kernel-time stalls inside a timed
    window (r12 in-run drift; r13 100x "cliff")."""
    os.environ.setdefault("SPARK_GRAFT_PRETOUCH", "1")
    from moonshot_spark.session import get_spark
    return get_spark(app)
