"""Distributed PCA top principal component by power iteration, built
for bit-reproducibility across engines (the DuckDB oracle replays the
identical iterations in SQL and lands on identical doubles) — the same
determinism plumbing as datapipe/classifier.py's GD trainer.

Why this shape at 100 TB:

- The covariance matrix is NEVER materialized.  Each power-iteration
  step computes C·v directly as one map + one map-side-combinable
  aggregate over the corpus: per row, the scalar projection
  d_i = (x_i - mu)·v (a 64-term integer sum, codegen'd), then d
  per-component contributions (x_ij - mu_j)·d_i summed per dimension.
  That is O(n·d) per iteration with d sums on the wire — the textbook
  distributed power-iteration shape (same data movement as MLlib's
  RowMatrix covariance-free multiplication), vs O(n·d^2) to build C.
- The driver holds only the d-vector between iterations (here d = 64
  doubles); the embedding frame is persisted once so iterations
  re-scan the narrow projected columns, not the source table.
- No Python UDFs anywhere: the projection, quantization and update are
  Catalyst column expressions inside whole-stage codegen.

Determinism plumbing (what makes the oracle possible):

- every corpus-scale float sum is quantized to integer nano-units
  (floor(x * 1e9) as BIGINT) and summed as EXACT integers, so
  summation order — partial aggregation, AQE, partitioning — cannot
  perturb the result.  Per-ROW reductions over the d dimensions use
  the same trick (an integer sum of 64 floor'd terms), making the
  projection d_i order-free too.
- the driver-side update (w_j = (S_j/1e9)/n, norm^2 = (sum_j
  floor(w_j^2 * 1e9))/1e9, v'_j = w_j/sqrt(norm^2)) uses only IEEE
  ops that Python and DuckDB evaluate identically; the oracle mirrors
  the parenthesization verbatim.
- quantized sums stay exact in an int64 while n·|x|·1e9 < 2^63 and
  convert exactly to double while < 2^53; for corpora beyond ~10^12
  rows, raise the sums to DECIMAL(38,0) on both engines (the pattern
  stays identical).

Beyond-reference operator (the quantrocket reference has no embedding
surface; moonshot/strategies/ml.py is inference-only): this is the
whitening/compression front half of an embedding-dedup or
matryoshka-truncation pipeline.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from moonshot_spark import materialize


def sql_double(x: float) -> str:
    """A double literal for SQL-string expression assembly.  ``repr``
    round-trips every FINITE double exactly; non-finite values would
    emit unparseable tokens ('nanD'/'infD' — ADVICE r14), so they take
    the CAST-from-string spelling Spark and DuckDB both parse."""
    x = float(x)
    if math.isnan(x):
        return "CAST('NaN' AS DOUBLE)"
    if math.isinf(x):
        return f"CAST('{'-' if x < 0 else ''}Infinity' AS DOUBLE)"
    return repr(x) + "D"


def sql_ident(name: str) -> str:
    """Backtick-quote an identifier interpolated into an SQL string so
    names with dots/spaces/keywords keep working exactly as the Column
    API they replaced did (ADVICE r14)."""
    return "`" + name.replace("`", "``") + "`"

__all__ = ["power_iteration_top_component", "project_component", "PCAFit"]

QUANT = 1_000_000_000.0  # nano-unit quantization, as datapipe/classifier.py


class PCAFit:
    """Result of power_iteration_top_component: the unit top component
    (list of d floats), the mean vector from pass 0, the Rayleigh-
    quotient eigenvalue estimate, the total variance (trace of C), and
    the row count."""

    def __init__(self, component, mean, eigval, trace, n_rows, history):
        self.component = component
        self.mean = mean
        self.eigval = eigval
        self.trace = trace
        self.n_rows = n_rows
        self.history = history          # [(iter, component_after), ...]

    @property
    def explained_variance_ratio(self) -> float:
        return self.eigval / self.trace if self.trace else float("nan")


def power_iteration_top_component(emb: DataFrame, dim: int,
                                  vec_col: str = "embedding",
                                  iters: int = 3) -> PCAFit:
    """Top principal component of the ``vec_col`` array column
    (length ``dim``) by ``iters`` rounds of power iteration from the
    deterministic start v0 = (1/sqrt(dim), ...).

    One Spark job for the mean pass, then one job per iteration (the
    first iteration's aggregate also carries the per-dimension centered
    sum of squares for the trace).  All corpus-scale sums are exact
    integers — see module docstring.
    """
    # Iteration expressions are assembled as SQL strings and parsed in
    # the JVM (r14): building them through the Python Column API — two
    # 64-literal arrays plus nested transform/zip_with lambdas per
    # iteration, each node a Py4J round trip — cost ~0.4 s of driver
    # chatter per iteration per construction (building a plan is driver
    # time too: one parse beats hundreds of round trips).  The parsed
    # trees are the identical Catalyst expressions (same element_at /
    # floor / CAST structure, double literals via exact repr
    # round-trip), so every quantized term — and therefore mu, w,
    # trace, eigval, v — is bit-identical.
    def _arr(vals):
        return "array(" + ", ".join(sql_double(x) for x in vals) + ")"

    QD = sql_double(QUANT)

    # NARROW shape (r9 rework): the original fit laid the vector out as
    # 64 x{j} columns and aggregated 64-192 wide floor-sum expressions —
    # past the codegen width limit, so every iteration's plan fell back
    # to interpreted mode and paid ~2 s of janino recompilation PER
    # AGGREGATE (the markowitz.py pathology; PERF.md "Deep scalar
    # chains").  The array formulation below keeps each per-row
    # reduction ONE higher-order-function expression and turns the
    # per-dimension sums into a posexplode + groupBy(dim) (64 bounded
    # groups, map-side combined).
    # Every floor'd integer TERM is unchanged and integer sums are
    # order-free, so mu/w/trace/eigval/v stay bit-identical — the DuckDB
    # oracle replay is untouched.
    with materialize.scope():
        feats = materialize.persist(
            emb.select(F.transform(F.col(vec_col), lambda x: x.cast("double"))
                       .alias("__xs")))
        # pass 0: n + quantized per-dimension sums -> mean vector
        q0 = F.expr(f"transform(__xs, x -> CAST(floor(x * {QD}) "
                    "AS BIGINT))")
        p0 = (feats.select(F.posexplode(q0).alias("__j", "__t"))
              .groupBy("__j")
              .agg(F.sum("__t").alias("__s"), F.count("*").alias("__n"))
              .collect())
        if not p0:
            raise ValueError("power_iteration_top_component: empty input")
        # fixed-width contract: every vector must carry all `dim`
        # positions.  Ragged input would silently skew the mean (a short
        # vector contributes to some dimensions only), so validate that
        # each dimension saw every row instead of indexing blind
        # (collect order after groupBy is unspecified — don't take n
        # from an arbitrary group; ADVICE r9).
        counts = {r["__j"]: r["__n"] for r in p0}
        n = max(counts.values())
        missing = [j for j in range(dim)
                   if counts.get(j, 0) != n]
        if missing or len(counts) != dim:
            raise ValueError(
                "power_iteration_top_component: ragged input — expected "
                f"all {dim} positions in every vector; dimensions with "
                f"missing entries: {missing[:10]}")
        s = {r["__j"]: r["__s"] for r in p0}
        mu = [(s[j] / QUANT) / n for j in range(dim)]

        v = [1.0 / math.sqrt(float(dim))] * dim
        history = []
        trace = None
        eigval = None
        for it in range(1, iters + 1):
            mu_a = _arr(mu)
            v_a = _arr(v)
            # per-row projection d = (x - mu)·v as an exact integer sum
            d_q = F.expr(
                f"aggregate(transform(__xs, (x, j) -> CAST(floor("
                f"(x - element_at({mu_a}, j + 1))"
                f" * element_at({v_a}, j + 1) * {QD}) AS BIGINT)), "
                "CAST(0 AS BIGINT), (acc, t) -> acc + t)")
            d = (d_q.cast("double") / F.lit(QUANT)).alias("__d")
            proj = feats.select("__xs", d)
            w_t = F.expr(
                f"transform(__xs, (x, j) -> CAST(floor("
                f"(x - element_at({mu_a}, j + 1)) * __d * {QD}) "
                "AS BIGINT))")
            if it == 1:   # trace rides the first iteration's aggregate
                terms = F.expr(
                    f"zip_with("
                    f"transform(__xs, (x, j) -> CAST(floor("
                    f"(x - element_at({mu_a}, j + 1)) * __d * {QD}) "
                    "AS BIGINT)), "
                    f"transform(__xs, (x, j) -> CAST(floor("
                    f"(x - element_at({mu_a}, j + 1))"
                    f" * (x - element_at({mu_a}, j + 1)) * {QD}) "
                    "AS BIGINT)), "
                    "(a, b) -> named_struct('w', a, 'q', b))")
                rows = (proj.select(F.posexplode(terms).alias("__j", "__t"))
                        .groupBy("__j")
                        .agg(F.sum("__t.w").alias("__w"),
                             F.sum("__t.q").alias("__q"))
                        .collect())
                trace_q = sum(r["__q"] for r in rows)
                trace = (trace_q / QUANT) / n
            else:
                rows = (proj.select(F.posexplode(w_t).alias("__j", "__w0"))
                        .groupBy("__j")
                        .agg(F.sum("__w0").alias("__w"))
                        .collect())
            wq = {r["__j"]: r["__w"] for r in rows}
            w = [(wq[j] / QUANT) / n for j in range(dim)]
            # Rayleigh estimate BEFORE normalization: lambda = v·w,
            # pinned via the same integer quantization
            lam_q = 0
            for j in range(dim):
                lam_q += math.floor(v[j] * w[j] * QUANT)
            eigval = lam_q / QUANT
            norm_q = 0
            for j in range(dim):
                norm_q += math.floor(w[j] * w[j] * QUANT)
            norm = math.sqrt(norm_q / QUANT)
            if norm == 0.0:
                raise ValueError(
                    "power_iteration_top_component: zero C*v — degenerate "
                    "input or v orthogonal to the top component")
            v = [wj / norm for wj in w]
            history.append((it, list(v)))
        return PCAFit(v, mu, eigval, trace, n, history)


def project_component(emb: DataFrame, fit: PCAFit,
                      vec_col: str = "embedding",
                      id_col: str = "vec_id") -> DataFrame:
    """Project every vector onto the fitted component: pc1 = (x - mu)·v
    as the same exact integer-quantized 64-term sum the trainer's
    per-row projection uses, so scores are bit-identical across engines
    and across partitionings.  One narrow map (fit's mean/component are
    driver-held literals baked into the plan) — no join, no shuffle;
    the inference half of the PCA train/score split."""
    # SQL-string assembly for the same Py4J-chatter reason as the
    # trainer (r14): 64 chained floor terms built through the Column API
    # cost ~0.4 s of driver time per construction; the parsed expression
    # is identical (0-based [] indexing == Column.getItem, left-assoc +
    # chain, exact-repr double literals) so pc1 is bit-unchanged.
    QD = sql_double(QUANT)
    vc = sql_ident(vec_col)
    terms = [
        f"CAST(floor((CAST({vc}[{j}] AS DOUBLE) - "
        f"{sql_double(mj)}) * {sql_double(vj)} * {QD}) AS BIGINT)"
        for j, (mj, vj) in enumerate(zip(fit.mean, fit.component))]
    d_q = "(" + " + ".join(terms) + ")"
    return emb.select(F.col(id_col),
                      F.expr(f"CAST({d_q} AS DOUBLE) / {QD}").alias("pc1"))
