"""Distributed Lloyd's k-means over embedding columns.

The iterative-algorithm pattern on Spark: each Lloyd iteration is ONE
aggregate over the data — centroids ride into the plan as broadcast
literals (k x dim numbers, driver-bounded), the assignment is a
JVM-side argmin over k exact integer distances, and the update is a
map-side-combinable (cluster, dim) sum.  No per-row Python, no
cached RDD lineage growth: at 100 TB each iteration costs one scan +
one small shuffle, the same shape as fit_ols's normal equations
(operators/ols.py).

Exactness discipline (what makes a DuckDB SQL oracle possible): vectors
are quantized to integer micro-units (round(x * 1e6), away-from-zero in
both engines), so distances and centroid sums are exact BIGINTs with no
float accumulation anywhere; the centroid update is an exact
floor-division (a - pmod(a, b)) / b, identical in both engines even for
negative sums.  Assignment ties break to the lowest centroid index.
Empty clusters keep their previous centroid (standard Lloyd behavior).

Reference parity note: the reference delegates clustering-ish work to
scikit-learn on driver-sized frames (moonshot/strategies/ml.py:227-330
trains models in-process); this is the engine-side equivalent for data
that fits nowhere.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf resolves stringified hints
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from moonshot_spark import materialize

__all__ = ["quantize_micro", "kmeans_fit_predict"]

MICRO = 1_000_000


def quantize_micro(vec_col: Column | str) -> Column:
    """array<float/double> -> array<bigint> of micro-units.  round() is
    half-away-from-zero on the same double product in both Spark and
    DuckDB, so the quantization is engine-stable bit-for-bit."""
    c = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    return F.transform(
        c, lambda x: F.round(x.cast("double") * MICRO).cast("bigint"))


def _assign_struct(qcol: Column, centroids: list[list[int]]) -> Column:
    """(cluster, dist2) against the literal codebook as ONE Arrow-batched
    int64 numpy kernel — the "numpy-heavy similarity" exception
    (similarity.py::ivf_probe_col): the higher-order-function fold
    evaluates interpreted at ~1 µs per lambda step, which is 1.4 s per
    Lloyd's pass on a mere 2k x 64 x 8 problem; the matrix form is
    milliseconds.  Distances stay EXACT (int64 products of micro-unit
    ints — the same integers the fold produces; |x-c| <= ~2^22, so the
    64-term sum is < 2^52, far inside int64), and ``argmin`` takes the
    first minimum — the same lowest-index tie-break as
    ``array_position(arr, array_min(arr))``."""
    import numpy as np

    C = np.asarray(centroids, dtype=np.int64)

    # (cluster, dist2) ride ONE array<bigint> cell: the Series->DataFrame
    # struct signature isn't accepted by this pandas_udf hint parser
    @F.pandas_udf("array<bigint>")
    def assign(q: pd.Series) -> pd.Series:
        if len(q) == 0:
            return pd.Series([], dtype=object)
        X = np.stack(q.to_numpy()).astype(np.int64)
        diff = X[:, None, :] - C[None, :, :]
        d = (diff * diff).sum(axis=2)
        cl = d.argmin(axis=1)
        best = d[np.arange(len(cl)), cl]
        return pd.Series([[int(c), int(b)] for c, b in zip(cl, best)])

    a = assign(qcol)
    return F.struct(a[0].cast("int").alias("cluster"),
                    a[1].alias("dist2"))


def _assign_expr(qcol: Column, centroids: list[list[int]]) -> Column:
    """argmin over k exact distances, ties to the lowest index."""
    return _assign_struct(qcol, centroids)["cluster"]


def _update_centroids(assigned: DataFrame, centroids: list[list[int]]
                      ) -> list[list[int]]:
    """One exact centroid update: per-(cluster, dim) BIGINT sums, then
    floor-division.  The posexplode shuffles (k x dim) partial sums —
    map-side combine reduces each task's contribution to at most
    k x dim rows before the exchange."""
    dim = len(centroids[0])
    sums = (assigned
            .select("__cluster", F.posexplode("__q").alias("__d", "__v"))
            .groupBy("__cluster", "__d")
            .agg(F.sum("__v").alias("s"), F.count("*").alias("n"))
            .collect())
    new = [list(c) for c in centroids]   # empty clusters keep previous
    by_cluster: dict[int, list[tuple[int, int, int]]] = {}
    for r in sums:
        by_cluster.setdefault(r["__cluster"], []).append(
            (r["__d"], r["s"], r["n"]))
    for j, entries in by_cluster.items():
        for d, s, n in entries:
            # exact floor division toward -inf (matches the oracle's
            # (a - ((a % b + b) % b)) / b for negative sums too)
            new[j][d] = (s - (s % n + n) % n) // n
        assert len(entries) == dim
    return new


def kmeans_fit_predict(df: DataFrame, k: int = 8, n_iter: int = 2,
                       id_col: str = "vec_id",
                       vec_col: str = "embedding",
                       return_centroids: bool = False):
    """Lloyd's k-means: deterministic init (the vectors of the k
    smallest ids), ``n_iter`` assign+update cycles, then a final
    assignment.  Returns one row per input row:
    (id_col, cluster int, dist2 bigint) against the FINAL centroids —
    or ``(assignments, centroids)`` when ``return_centroids`` (the
    centroids are k lists of micro-unit ints).

    Driver state is k x dim integers per iteration (the collected
    centroid sums) — independent of data size.  NOTE: the iteration
    jobs run EAGERLY at call time (each update is a collect of k x dim
    sums); the returned DataFrame is only the final-assignment plan
    with the converged centroids baked in as literals."""
    dim_probe = (df.where(F.col(vec_col).isNotNull())
                 .select(F.max(F.size(vec_col)).alias("d")).collect())
    if not dim_probe or dim_probe[0]["d"] is None:
        raise ValueError("kmeans_fit_predict: empty input (or all-NULL "
                         f"{vec_col})")
    dim = int(dim_probe[0]["d"])
    # input contract enforced INSIDE the job (no extra validation scan):
    # a NULL or ragged vector would otherwise crash the init collect with
    # an opaque TypeError or silently emit cluster=NULL rows
    guard = F.when(
        F.col(vec_col).isNull() | (F.size(vec_col) != dim),
        F.raise_error(F.concat(
            F.lit("kmeans_fit_predict: NULL or ragged embedding for "
                  f"{id_col}="), F.col(id_col).cast("string"),
            F.lit(f" (expected dim {dim})")))
    ).otherwise(quantize_micro(vec_col))
    q = df.select(F.col(id_col), guard.alias("__q"))
    # local checkpoint (eager): every iteration AND the returned final-
    # assignment plan re-read this frame; checkpointed blocks serve all
    # of them until the caller's scope exits (or GC, outside a scope) —
    # a persist dropped here would leave the RETURNED plan recomputing
    # the quantization from source on every action.
    q = materialize.checkpoint(q)
    init_rows = q.orderBy(id_col).limit(k).collect()
    if len(init_rows) < k:
        raise ValueError(f"k={k} exceeds input rows ({len(init_rows)})")
    cents = [list(r["__q"]) for r in init_rows]
    for _ in range(n_iter):
        assigned = q.withColumn("__cluster", _assign_expr(F.col("__q"),
                                                          cents))
        cents = _update_centroids(assigned, cents)
    out = (q.withColumn("__a", _assign_struct(F.col("__q"), cents))
           .select(F.col(id_col),
                   F.col("__a.cluster").alias("cluster"),
                   F.col("__a.dist2").alias("dist2")))
    return (out, cents) if return_centroids else out
