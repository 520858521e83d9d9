"""The one timing loop: every harness in this repo times a query here.

- ``measure(build)``: one untimed warm-up, then the min of ``runs``
  timed runs, each on a FRESHLY built frame, split into build and exec,
  with the codegen compilations and the jobs, stages and tasks of the
  fastest run.
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
    jobs: int | None    # that run's Spark jobs in the caller's job group
    stages: int | None  # ...the stages of those jobs that ran tasks
    tasks: int | None   # ...and the tasks those stages ran
    rows: Any      # what forcing the warm-up returned (count() -> rows)
    frame: Any     # the warm-up frame (for plan shape; already forced)


def _count(df) -> int:
    return df.count()


def codegen_compiles(spark) -> int:
    """Spark's JVM-wide count of generated-class compilations, i.e. of
    misses of its codegen cache (no UI needed)."""
    metrics = spark._jvm.org.apache.spark.metrics.source
    return metrics.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()


def _job_ids(sc) -> set[int]:
    """Ids of the jobs in the caller's current job group (or in none),
    once the listener bus has delivered every event posted so far."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    group = sc.getLocalProperty("spark.jobGroup.id")
    return set(sc.statusTracker().getJobIdsForGroup(group))


def _stage_width(sc, job_ids) -> tuple[int, int, int]:
    """(jobs, stages, tasks) of ``job_ids``: stages skipped because an
    earlier job already wrote their shuffle run no tasks and are not
    counted.  Read from ``statusTracker()`` (no UI needed) right after
    ``_job_ids`` drained the listener bus."""
    tracker = sc.statusTracker()
    stage_ids = set()
    for job in job_ids:
        info = tracker.getJobInfo(job)
        if info is not None:
            stage_ids.update(info.stageIds)
    stages = tasks = 0
    for sid in stage_ids:
        info = tracker.getStageInfo(sid)
        ran = info.numCompletedTasks + info.numFailedTasks if info else 0
        stages += ran > 0
        tasks += ran
    return len(job_ids), stages, tasks


def measure(build: Callable[[], Any], runs: int = 2,
            force: Callable[[Any], Any] = _count) -> Measurement:
    """Warm up once, untimed (JIT, parquet footers, broadcasts), then
    time ``runs`` runs of ``force(build())`` and keep the fastest.

    Every timed run calls ``build()`` again: forcing the same DataFrame
    twice reuses its shuffle map outputs (MapOutputTracker) and
    under-measures shuffle-heavy queries by ~2x (PERF.md "Re-forcing one
    DataFrame").  build = frame construction (driver Py4J/analysis plus
    any bounded eager action a builder runs); exec = ``force`` on that
    fresh frame.  Both come from the same (fastest) run, so they add up
    to ``total``; ``compiles`` and the job/stage/task counts are that
    run's too, read outside the timed window.  The jobs are those of the caller's
    job group, which ``measure`` leaves as it is (a stream's
    micro-batches run in their own group and are not counted).
    """
    from pyspark.sql import DataFrame

    frame = build()
    rows = force(frame)
    # None on a non-Spark frame (the DuckDB side of bench_compare.py)
    spark = frame.sparkSession if isinstance(frame, DataFrame) else None
    sc = spark.sparkContext if spark else None
    best = (float("inf"),) * 3 + (None,) * 4
    for _ in range(runs):
        if sc:
            c0, jobs0 = codegen_compiles(spark), _job_ids(sc)
        t0 = time.perf_counter()
        df = build()
        t1 = time.perf_counter()
        force(df)
        t2 = time.perf_counter()
        if t2 - t0 < best[0]:
            layers = ((codegen_compiles(spark) - c0,
                       *_stage_width(sc, _job_ids(sc) - jobs0))
                      if sc else (None,) * 4)
            best = (t2 - t0, t1 - t0, t2 - t1, *layers)
    return Measurement(*best, rows, frame)


def session(app: str):
    """``get_spark(app)`` with ``SPARK_GRAFT_PRETOUCH=1`` unless set: the
    JVM zeroes its pinned heap at start (session.py ``-Xms`` note), so G1
    commit/uncommit churn never lands kernel-time stalls inside a timed
    window (r12 in-run drift; r13 100x "cliff")."""
    os.environ.setdefault("SPARK_GRAFT_PRETOUCH", "1")
    from moonshot_spark.session import get_spark
    return get_spark(app)
