"""Distributed training of a model-based quality/language filter:
logistic-style regression by full-batch gradient descent, built so the
whole run is BIT-REPRODUCIBLE across engines (the DuckDB oracle replays
the identical iterations in SQL and lands on identical doubles).

Why this shape at 100 TB:

- each GD iteration is ONE map + ONE map-side-combinable aggregate over
  the corpus (4 integer sums + a count) — the canonical "ML training on
  Spark" pattern (same data movement as MLlib's gradient aggregation:
  per-partition partial gradients, tree-reduced to the driver).  The
  driver holds only the k+1 coefficients between iterations.
- the feature frame is persisted across iterations so the corpus is
  scanned once, not once per iteration (spilled to disk if needed: at
  100 TB the projected feature frame is ~3 doubles/row — orders of
  magnitude smaller than the text it came from).
- no Python UDFs: features, the link function, and the gradient are all
  Catalyst column expressions inside whole-stage codegen.

Determinism plumbing (what makes the oracle possible):

- the link is a RATIONAL "fast sigmoid" sigma(z) = 0.5 + z/(2*(1+|z|))
  (Elliott 1993's tanh-family approximation) — add/mul/div/abs only, so
  Spark and DuckDB produce the identical IEEE double per row; a real
  exp() link would hostage bit-parity to two engines' libm.
- per-row gradient contributions are quantized to integer nano-units
  (floor(x * 1e9) as BIGINT) and summed as EXACT integers — summation
  order stops mattering, so partial aggregation and AQE cannot perturb
  the result.  The 1e-9 quantization error is absorbed into the
  (arbitrary anyway) learning dynamics: both engines train the exact
  same model.
- coefficient updates use a pinned operation order
  (b - lr * ((g / 1e9) / n)) mirrored verbatim in the oracle SQL.

Beyond-reference operator (the quantrocket reference's ML surface is
inference-only: moonshot/strategies/ml.py loads pre-trained sklearn
models); this adds the distributed TRAINING half of a model-based data
filter (Brown et al., GPT-3 Appendix A quality classifier pattern).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from moonshot_spark import materialize

__all__ = ["fast_sigmoid", "train_gd_classifier", "GDFit"]

QUANT = 1_000_000_000.0  # nano-unit gradient quantization


def fast_sigmoid(z: Column) -> Column:
    """Rational sigmoid 0.5 + z / (2 * (1 + |z|)): monotone, maps R ->
    (0, 1), crosses 0.5 at z = 0 like the logistic link, and is exactly
    reproducible on any IEEE engine (no exp)."""
    return F.lit(0.5) + z / (F.lit(2.0) * (F.lit(1.0) + F.abs(z)))


class GDFit:
    """Result of train_gd_classifier: per-iteration coefficient history
    (list of (iteration, [b0, b1, ...]) AFTER each update), the training
    row count, and the final-model exact training accuracy."""

    def __init__(self, history, n_rows, correct):
        self.history = history
        self.n_rows = n_rows
        self.correct = correct

    @property
    def betas(self):
        return self.history[-1][1]

    @property
    def accuracy(self) -> float:
        return float(self.correct) / self.n_rows


def _linear(betas, feature_cols) -> Column:
    z = F.lit(float(betas[0]))
    for b, c in zip(betas[1:], feature_cols):
        z = z + F.lit(float(b)) * F.col(c)
    return z


def train_gd_classifier(feats: DataFrame, feature_cols: list[str],
                        label_col: str = "y", lr: float = 0.5,
                        iters: int = 3) -> GDFit:
    """Full-batch gradient descent on squared-error-free logistic-style
    loss: gradient per row is (sigma(z) - y) * x (the logistic-loss
    gradient with the fast-sigmoid link substituted).  ``feats`` must
    already be the projected feature frame: a double label column (0/1)
    plus double feature columns, no NULLs.

    One Spark job per iteration plus one for the final accuracy; the
    frame is persisted so iterations re-scan the (narrow) feature
    projection, not the raw corpus.
    """
    with materialize.scope():
        feats = materialize.persist(feats)
        betas = [0.0] * (len(feature_cols) + 1)
        history = []
        n = None
        for it in range(1, iters + 1):
            resid = fast_sigmoid(_linear(betas, feature_cols)) \
                - F.col(label_col)
            aggs = [F.count("*").alias("__n"),
                    F.sum(F.floor(resid * F.lit(QUANT))
                          .cast("bigint")).alias("g0")]
            for j, c in enumerate(feature_cols, start=1):
                aggs.append(F.sum(F.floor(resid * F.col(c) * F.lit(QUANT))
                                  .cast("bigint")).alias(f"g{j}"))
            row = feats.agg(*aggs).collect()[0]
            n = row["__n"]
            if not n:
                raise ValueError("train_gd_classifier: empty feature frame")
            # pinned update order, mirrored in the SQL oracle:
            # b - lr * ((g / 1e9) / n)
            betas = [b - lr * ((row[f"g{j}"] / QUANT) / n)
                     for j, b in enumerate(betas)]
            history.append((it, list(betas)))
        # exact training accuracy of the final model: sigma(z) > 0.5
        # iff z > 0 (monotone link), so compare z to 0 — no float
        # threshold ambiguity
        z = _linear(betas, feature_cols)
        pred_ok = (z > F.lit(0.0)) == (F.col(label_col) == F.lit(1.0))
        correct = feats.agg(
            F.sum(pred_ok.cast("int")).alias("c")).collect()[0]["c"]
        return GDFit(history, n, int(correct))
