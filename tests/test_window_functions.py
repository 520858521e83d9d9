"""Property tests: window primitives vs pandas reference semantics.

The reference's operators ARE pandas ops (shift/pct_change/diff/rolling/
ffill — SURVEY.md §2.5); correctness is defined as bit-level agreement with
pandas on the same series, including NaN placement.
"""

import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from moonshot_spark.functions import (
    cum_sum, diff, ffill, pct_change, rolling_mean, rolling_std, shift,
    sid_window, xs_count_nonzero, xs_rank, xs_sum, xs_zscore,
)


@pytest.fixture(scope="module")
def series_df(spark):
    rng = np.random.default_rng(7)
    rows = []
    for sid in ["A", "B", "C"]:
        vals = rng.normal(100, 10, 40)
        # inject nulls to test NaN propagation
        for i, d in enumerate(pd.date_range("2024-01-01", periods=40)):
            v = None if (i % 11 == 3) else float(vals[i])
            rows.append((sid, d.date(), v))
    return spark.createDataFrame(rows, "sid string, date date, value double").cache()


def to_pandas_panel(sdf_rows):
    df = pd.DataFrame(sdf_rows, columns=["sid", "date", "value", "out"])
    return df.sort_values(["sid", "date"]).reset_index(drop=True)


def check_against_pandas(series_df, spark_col, pandas_fn):
    out = series_df.withColumn("out", spark_col).orderBy("sid", "date")
    got = to_pandas_panel([(r["sid"], r["date"], r["value"], r["out"])
                           for r in out.collect()])
    expected = (got.groupby("sid")["value"].apply(pandas_fn)
                .reset_index(drop=True))
    for g, e in zip(got["out"], expected, strict=True):
        if e is None or (isinstance(e, float) and math.isnan(e)):
            assert g is None or math.isnan(g)
        else:
            assert g == pytest.approx(e, rel=1e-12)


def test_shift(series_df):
    check_against_pandas(series_df, shift("value", 2), lambda s: s.shift(2))


def test_lead(series_df):
    check_against_pandas(series_df, shift("value", -1), lambda s: s.shift(-1))


def test_pct_change(series_df):
    # pandas>=2 pct_change ffills by default unless fill_method=None;
    # the engine matches fill_method=None (NaN stays NaN)
    check_against_pandas(series_df, pct_change("value"),
                         lambda s: s.pct_change(fill_method=None))


def test_diff(series_df):
    check_against_pandas(series_df, diff("value"), lambda s: s.diff())


def test_ffill(series_df):
    check_against_pandas(series_df, ffill("value"), lambda s: s.ffill())


def test_rolling_mean_min_periods(series_df):
    check_against_pandas(series_df, rolling_mean("value", 5),
                         lambda s: s.rolling(5).mean())


def test_rolling_mean_min_periods_1(series_df):
    check_against_pandas(series_df, rolling_mean("value", 5, min_periods=1),
                         lambda s: s.rolling(5, min_periods=1).mean())


def test_rolling_std(series_df):
    check_against_pandas(series_df, rolling_std("value", 7),
                         lambda s: s.rolling(7).std())


def test_cum_sum(series_df):
    check_against_pandas(series_df, cum_sum("value"), lambda s: s.cumsum())


def test_xs_sum(series_df):
    out = series_df.withColumn("out", xs_sum("value")).orderBy("sid", "date")
    rows = out.collect()
    pdf = pd.DataFrame([(r["sid"], r["date"], r["value"], r["out"]) for r in rows],
                       columns=["sid", "date", "value", "out"])
    expected = pdf.groupby("date")["value"].transform("sum")
    for g, e in zip(pdf["out"], expected, strict=True):
        assert g == pytest.approx(e, rel=1e-12)


def test_xs_zscore(series_df):
    out = series_df.withColumn("out", xs_zscore("value")).orderBy("sid", "date")
    rows = out.collect()
    pdf = pd.DataFrame([(r["sid"], r["date"], r["value"], r["out"]) for r in rows],
                       columns=["sid", "date", "value", "out"])
    grp = pdf.groupby("date")["value"]
    expected = (pdf["value"] - grp.transform("mean")) / grp.transform("std")
    for g, e in zip(pdf["out"], expected, strict=True):
        if pd.isna(e):
            assert g is None or math.isnan(g)
        else:
            assert g == pytest.approx(e, rel=1e-12)


def test_xs_rank(series_df):
    out = (series_df.dropna()
           .withColumn("out", xs_rank("value", ascending=False).cast("double"))
           .orderBy("sid", "date"))
    rows = out.collect()
    pdf = pd.DataFrame([(r["sid"], r["date"], r["value"], r["out"]) for r in rows],
                       columns=["sid", "date", "value", "out"])
    expected = pdf.groupby("date")["value"].rank(ascending=False, method="min")
    for g, e in zip(pdf["out"], expected, strict=True):
        assert g == e


def test_same_key_windows_collapse_to_one_exchange(series_df):
    """Plan check: chained same-key window calls must produce ONE shuffle."""
    w = sid_window()
    df = (series_df
          .withColumn("a", shift("value", 1, w))
          .withColumn("b", diff("value", 1, w))
          .withColumn("c", pct_change("value", 1, w)))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") <= 1, plan


def test_asof_join_matches_pandas_merge_asof(spark):
    """asof_join (union+ffill) vs pandas merge_asof on random data,
    including exact-timestamp matches and keys with no right rows."""
    import numpy as np
    import pandas as pd

    from moonshot_spark.operators.asof import asof_join

    rng = np.random.default_rng(23)
    left_rows, right_rows = [], []
    for key in ["a", "b", "c"]:
        for t in sorted(rng.choice(np.arange(0, 1000), 25, replace=False)):
            left_rows.append((key, int(t), float(rng.normal())))
        if key != "c":   # key 'c' has no right side → all nulls
            for t in sorted(rng.choice(np.arange(0, 1000), 15, replace=False)):
                right_rows.append((key, int(t), float(rng.normal())))
    # force exact-match collisions
    right_rows.append(("a", left_rows[0][1], 99.0))

    left = spark.createDataFrame(left_rows, "k string, t long, lv double")
    right = spark.createDataFrame(right_rows, "k string, t long, rv double")
    got = {(r["k"], r["t"]): r["rv"]
           for r in asof_join(left, right, on="t", by="k",
                              value_cols=["rv"]).collect()}

    lpdf = pd.DataFrame(left_rows, columns=["k", "t", "lv"]).sort_values("t")
    rpdf = pd.DataFrame(right_rows, columns=["k", "t", "rv"]).sort_values(
        ["t", "rv"])  # ties: merge_asof takes the LAST right row at equal t
    expected = pd.merge_asof(lpdf, rpdf, on="t", by="k")
    for _, row in expected.iterrows():
        g = got[(row["k"], row["t"])]
        if pd.isna(row["rv"]):
            assert g is None
        else:
            assert g == row["rv"]


def test_asof_join_forward_and_tolerance_match_pandas(spark):
    """direction='forward' and tolerance vs pandas merge_asof on random
    data — both directions stay one union+fill pass."""
    import numpy as np
    import pandas as pd

    from moonshot_spark.operators.asof import asof_join

    rng = np.random.default_rng(41)
    left_rows, right_rows = [], []
    for key in ["a", "b"]:
        for t in sorted(rng.choice(np.arange(0, 500), 20, replace=False)):
            left_rows.append((key, int(t), float(rng.normal())))
        for t in sorted(rng.choice(np.arange(0, 500), 12, replace=False)):
            right_rows.append((key, int(t), float(rng.normal())))
    left = spark.createDataFrame(left_rows, "k string, t long, lv double")
    right = spark.createDataFrame(right_rows, "k string, t long, rv double")
    lpdf = pd.DataFrame(left_rows, columns=["k", "t", "lv"]).sort_values("t")
    rpdf = pd.DataFrame(right_rows, columns=["k", "t", "rv"]).sort_values("t")

    for direction, tol in [("forward", None), ("forward", 40),
                           ("backward", 40)]:
        got = {(r["k"], r["t"]): r["rv"]
               for r in asof_join(left, right, on="t", by="k",
                                  value_cols=["rv"], direction=direction,
                                  tolerance=tol).collect()}
        expected = pd.merge_asof(lpdf, rpdf, on="t", by="k",
                                 direction=direction, tolerance=tol)
        for _, row in expected.iterrows():
            g = got[(row["k"], row["t"])]
            if pd.isna(row["rv"]):
                assert g is None, (direction, tol, row["t"])
            else:
                assert g == row["rv"], (direction, tol, row["t"])


def test_asof_join_strict_inequality(spark):
    from moonshot_spark.operators.asof import asof_join

    left = spark.createDataFrame([("a", 10, 1.0)], "k string, t long, lv double")
    right = spark.createDataFrame([("a", 10, 5.0), ("a", 9, 4.0)],
                                  "k string, t long, rv double")
    exact = asof_join(left, right, on="t", by="k",
                      value_cols=["rv"]).collect()[0]["rv"]
    strict = asof_join(left, right, on="t", by="k", value_cols=["rv"],
                       allow_exact_matches=False).collect()[0]["rv"]
    assert exact == 5.0 and strict == 4.0


def test_fold_sum_exact_matches_python_fold(spark):
    """fold_sum_exact = left-to-right IEEE fold in key order."""
    from moonshot_spark.functions.folds import fold_sum_exact

    rows = [(i, [0.1, 1e-17, -0.1, 0.3][i % 4] * (i + 1)) for i in range(40)]
    df = spark.createDataFrame(rows, "k int, v double")
    got = df.agg(fold_sum_exact("k", F.col("v")).alias("s")).first()["s"]
    expect = 0.0
    for _, v in sorted(rows):
        expect = expect + v
    assert got == expect   # bit-equal, not approx


def test_fold_sum_exact_width_guard(spark):
    """A group wider than max_width fails fast inside the job with the
    guidance message, instead of materializing an unbounded array
    (VERDICT r5 item 7)."""
    import pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from moonshot_spark.functions.folds import fold_sum_exact

    df = spark.range(0, 100).select(
        F.col("id").cast("int").alias("k"),
        (F.col("id") * 0.5).alias("v"))
    # bound below the group size -> error with guidance
    with pytest.raises((SparkRuntimeException, Py4JJavaError),
                       match="max_width"):
        df.agg(fold_sum_exact("k", F.col("v"), max_width=10).alias("s")) \
          .collect()
    # at the bound -> fine
    out = df.agg(
        fold_sum_exact("k", F.col("v"), max_width=100).alias("s")).first()
    assert out["s"] == sum(i * 0.5 for i in range(100))


def _left_fold(values):
    """Python's left-to-right double sum from 0.0 (NULL in -> NULL out)."""
    acc = 0.0
    for v in values:
        if v is None:
            return None
        acc = acc + v
    return acc


def test_ordered_values_over_bounded_frame_matches_python_fold(spark):
    """The ``over=`` form folds each row's bounded frame in key order."""
    from pyspark.sql import Window

    from moonshot_spark.functions.folds import fold_sum, ordered_values

    rows = [(g, k, [0.1, 1e-17, -0.1, 0.3, 7e15][(k * 7 + g) % 5] / (k + 1))
            for g in range(3) for k in range(25)]
    df = spark.createDataFrame(rows, "g int, k int, v double")
    w = Window.partitionBy("g").orderBy("k").rowsBetween(-3, 0)
    got = {(r["g"], r["k"]): r["s"] for r in df.select(
        "g", "k", fold_sum(ordered_values("k", "v", over=w)).alias("s"))
        .collect()}
    for g, k, _ in rows:
        frame = [v for g2, k2, v in sorted(rows)
                 if g2 == g and k - 3 <= k2 <= k]
        assert got[(g, k)] == _left_fold(frame)   # bit-equal


def test_fold_sum_exact_multi_key_order(spark):
    """A list of keys orders the fold by the first key, then the next
    (as source_lang_chisq's (source, lang) cell sum does)."""
    from moonshot_spark.functions.folds import fold_sum_exact

    rows = [(a, b, [1e16, 1.0, -1e16, 0.1, 3.3][(a * 3 + b) % 5] * (b + 1))
            for a in (2, 0, 1) for b in (3, 1, 0, 2)]
    df = spark.createDataFrame(rows, "a int, b int, v double")
    got = df.agg(fold_sum_exact(["a", "b"], "v").alias("s")).first()["s"]
    assert got == _left_fold(v for _, _, v in sorted(rows))


def test_ordered_values_keeps_null_values(spark):
    """A NULL value keeps its place in the list (the struct form; a bare
    collect_list would drop it), so the fold over it is NULL, as
    DuckDB's list()/list_reduce give."""
    from moonshot_spark.functions.folds import fold_sum, ordered_values

    rows = [(3, 0.25), (1, None), (2, 1.5), (0, 0.1)]
    df = spark.createDataFrame(rows, "k int, v double")
    out = df.agg(ordered_values("k", "v").alias("l")).first()["l"]
    assert out == [v for _, v in sorted(rows)]
    s = df.agg(fold_sum(ordered_values("k", "v")).alias("s")).first()["s"]
    assert s is None and _left_fold(out) is None
    kept = df.where(F.col("v").isNotNull()).agg(
        fold_sum(ordered_values("k", "v")).alias("s")).first()["s"]
    assert kept == _left_fold([0.1, 1.5, 0.25])


@pytest.mark.parametrize("form", ["grouped", "windowed"])
def test_ordered_values_width_guard(spark, form):
    """The guard fires wherever the ordered list is built — as a group
    aggregate and over a window — and the windowed form still plans a
    single collect_list window function."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import SparkRuntimeException
    from pyspark.sql import Window

    from moonshot_spark.functions.folds import fold_sum, ordered_values

    df = spark.range(0, 100).select(
        F.col("id").cast("int").alias("k"),
        (F.col("id") * 0.5).alias("v"))
    over = (Window.partitionBy(F.lit(1)).orderBy("k").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
        if form == "windowed" else None)

    def run(max_width):
        s = fold_sum(ordered_values("k", "v", over=over,
                                    max_width=max_width)).alias("s")
        return df.select(s) if over is not None else df.agg(s)

    with pytest.raises((SparkRuntimeException, Py4JJavaError),
                       match="max_width"):
        run(10).collect()
    ok = run(100)
    assert {r["s"] for r in ok.collect()} == {sum(i * 0.5 for i in range(100))}
    plan = ok._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("collect_list(") == 1
