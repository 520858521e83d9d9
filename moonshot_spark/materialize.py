"""The one place this library persists or checkpoints a DataFrame.

- ``persist(df)``: Spark's DataFrame default level (MEMORY_AND_DISK_DESER).
- ``checkpoint(df)``: an eager ``localCheckpoint``, lineage cut.
- ``drop(df)``: release a persisted frame before its scope exits.
- ``scope()``: frames materialized inside the ``with`` block are released
  when it exits; a nested scope releases only its own.

Outside any scope each call is the bare Spark call: blocks live until the
frame is unpersisted or the ContextCleaner collects it.  Harnesses run
each query in a scope, so no query's blocks outlive it and frames the
caller cached itself are left alone.  ``unpersist()`` does not free a
local checkpoint, so a scope releases it by the checkpointed RDD's id;
holding ids, not frames, keeps no superseded loop state alive.
"""

from __future__ import annotations

from contextlib import contextmanager
from contextvars import ContextVar

from pyspark.sql import DataFrame

# the innermost open scope: persisted frames, (JavaSparkContext, rdd id)
_SCOPE: ContextVar[list | None] = ContextVar("materialize_scope",
                                             default=None)


def persist(df: DataFrame) -> DataFrame:
    df = df.persist()
    held = _SCOPE.get()
    if held is not None:
        held.append(df)
    return df


def checkpoint(df: DataFrame) -> DataFrame:
    df = df.localCheckpoint(eager=True)
    held = _SCOPE.get()
    if held is not None:
        held.append((df.sparkSession.sparkContext._jsc,
                     df._jdf.logicalPlan().rdd().id()))
    return df


def drop(df: DataFrame) -> None:
    df.unpersist()
    held = _SCOPE.get()
    if held is not None:
        held[:] = [h for h in held if h is not df]


@contextmanager
def scope():
    held: list = []
    token = _SCOPE.set(held)
    try:
        yield
    finally:
        _SCOPE.reset(token)
        for h in held:
            if isinstance(h, DataFrame):
                h.unpersist()
            else:
                # RDD.unpersist's release without its "locally
                # checkpointed ... cannot be recomputed" WARN
                h[0].sc().unpersistRDD(h[1], False)
