"""Golden tests for the round-5 analytics additions: EWMA vs pandas,
interpolation edge behavior, holding-period invariants, PageRank mass
conservation, MAD outlier semantics."""

import math

import pandas as pd
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from moonshot_spark.queries import QUERIES


def test_ewma_matches_pandas_for_short_series(spark):
    """For series of length <= the 10-row frame, the windowed EWMA equals
    pandas ewm(alpha=0.5, adjust=True).mean() exactly (same power-of-two
    weights, same fold order)."""
    df = QUERIES["window_ewma"](spark, SF_DIR).toPandas()
    # pick one sid, first 10 observations
    one = (df[df.sid == df.sid.iloc[0]]
           .sort_values("date").head(10).reset_index(drop=True))
    expected = pd.Series(one.close).ewm(alpha=0.5, adjust=True).mean()
    for got, exp in zip(one.ewma, expected):
        assert got == pytest.approx(exp, rel=0, abs=0), (got, exp)


def test_interpolate_linear_edges(spark):
    """Leading gaps take the next observation (backfill), trailing gaps
    the previous (ffill), interior gaps the exact linear blend; observed
    rows pass through unchanged."""
    pdf = QUERIES["interpolate_linear"](spark, SF_DIR).toPandas()
    for sid, g in pdf.groupby("sid"):
        g = g.sort_values("date").reset_index(drop=True)
        interp = pd.Series(g.close).interpolate(
            method="linear", limit_direction="both")
        for got, exp in zip(g.close_interp, interp):
            assert got == pytest.approx(exp, rel=1e-12), sid


def test_interpolate_preserves_observed_values(spark):
    pdf = QUERIES["interpolate_linear"](spark, SF_DIR).toPandas()
    obs = pdf[pdf.close.notna()]
    assert (obs.close == obs.close_interp).all()


def test_holding_periods_cover_all_nonzero_days(spark):
    """Sum of per-trip day counts equals the number of nonzero-position
    panel rows; trips never overlap within a sid."""
    trips = QUERIES["holding_period_returns"](spark, SF_DIR).toPandas()
    from moonshot_spark.sources.parquet import events_to_panel
    from moonshot_spark.strategies.demo import DualMovingAverage

    panel = events_to_panel(spark, SF_DIR)
    results = DualMovingAverage().backtest(panel)
    nz = (results.where((F.col("field") == "NetExposure")
                        & (F.col("value") != 0)).count())
    assert trips.n_days.sum() == nz
    for sid, g in trips.groupby("sid"):
        g = g.sort_values("entry_date")
        prev_exit = None
        for _, row in g.iterrows():
            assert row.entry_date <= row.exit_date
            if prev_exit is not None:
                assert row.entry_date > prev_exit
            prev_exit = row.exit_date


def test_pagerank_conserves_mass(spark):
    """Ranks stay positive and sum to ~1 (symmetric graph: no dangling
    mass); 3 iterations from uniform must keep total mass conserved."""
    pr = QUERIES["pagerank_copurchase"](spark, SF_DIR).toPandas()
    assert (pr.pagerank > 0).all()
    assert pr.pagerank.sum() == pytest.approx(1.0, abs=1e-9)


def test_mad_outlier_counts_bounded(spark):
    """MAD flags are a subset of events; a constant-valued user (MAD 0)
    flags nothing unless a value differs from the median."""
    out = QUERIES["anomaly_mad_outliers"](spark, SF_DIR).toPandas()
    assert (out.n_outliers <= out.n_events).all()
    assert (out.mad >= 0).all()


def test_markov_rows_are_distributions(spark):
    """Per from-state probabilities sum to 1 exactly in rational terms
    (n_i / N folds): allow only float-division rounding."""
    tm = QUERIES["event_markov_transitions"](spark, SF_DIR).toPandas()
    for _, g in tm.groupby("from_type"):
        assert g.p.sum() == pytest.approx(1.0, abs=1e-12)
        assert g.n.sum() == g.n.sum()  # counts well-defined


def test_purged_kfold_partitions_dates(spark):
    """Every date lands in exactly one of test/train/purge/embargo for
    each fold: the four counts plus n_test must equal the spine size."""
    folds = QUERIES["purged_kfold_splits"](spark, SF_DIR).toPandas()
    total = folds.n_test.sum()  # all dates across folds
    for _, row in folds.iterrows():
        assert row.n_test + row.n_train + row.n_purged + row.n_embargoed \
            == total


def test_register_views_sql_surface(spark):
    """register_views exposes every table + the derived panel; a raw
    spark.sql join over them runs and agrees with the DataFrame path."""
    from moonshot_spark.sql import register_views

    names = register_views(spark, SF_DIR)
    assert "prices_panel" in names and "lineitem" in names
    n_sql = spark.sql(
        "SELECT count(*) AS n FROM prices_panel").collect()[0].n
    from moonshot_spark.sources.parquet import events_to_panel
    assert n_sql == events_to_panel(spark, SF_DIR).count()


def test_universe_churn_is_consistent(spark):
    """added/dropped are bounded by the membership sizes and the first
    week has no churn baseline."""
    churn = QUERIES["universe_churn_weekly"](spark, SF_DIR).toPandas()
    churn = churn.sort_values("week").reset_index(drop=True)
    assert pd.isna(churn.n_added.iloc[0]) and pd.isna(churn.n_dropped.iloc[0])
    rest = churn.iloc[1:]
    assert (rest.n_added <= rest.n_members).all()
    assert (rest.n_added >= 0).all() and (rest.n_dropped >= 0).all()


def test_exact_ntile_matches_window_ntile(spark):
    """The two-phase exact rank must reproduce SQL ntile bit-for-bit on
    an arbitrary frame, including the N % k remainder distribution."""
    from moonshot_spark.operators.ranking import exact_ntile
    from pyspark.sql import Window

    df = spark.range(103).select(
        (F.col("id") * 37 % 103).alias("k"), "id")
    got = {r["id"]: r["t"] for r in
           exact_ntile(df, 7, ["k", "id"], "t").collect()}
    want = {r["id"]: r["t"] for r in
            df.select("id", F.ntile(7).over(
                Window.orderBy("k", "id")).alias("t")).collect()}
    assert got == want


def test_dollar_bars_tile_ticks(spark):
    """Bars partition each sid's tick stream contiguously in time: bar
    time ranges never overlap within a sid, bar ids are monotone in
    time, and tick counts reconcile with the raw stream."""
    bars = QUERIES["dollar_bars"](spark, SF_DIR).toPandas()
    from moonshot_spark.sources.parquet import load_table
    n_ticks = load_table(spark, SF_DIR, "events").count()
    assert bars.n_ticks.sum() == n_ticks
    for sid, g in bars.groupby("sid"):
        g = g.sort_values("bar_id")
        prev_end = None
        for _, row in g.iterrows():
            assert row.bar_start <= row.bar_end
            if prev_end is not None:
                assert row.bar_start > prev_end
            prev_end = row.bar_end


@pytest.mark.parametrize("n,k,n_partitions", [
    pytest.param(n, k, p, id=f"{n}-{k}" if p is None else f"{n}-{k}-p{p}")
    for n, k in [(1, 3), (7, 7), (64, 10), (200, 3)]
    for p in (None, 1, 6)])
def test_exact_ntile_parametrized(spark, n, k, n_partitions):
    """Two-phase rank equals window ntile across remainder shapes,
    including n < k (empty tiles) and n == k, over one range cell, six,
    and the host's default count."""
    from pyspark.sql import Window
    from moonshot_spark.operators.ranking import exact_ntile

    df = spark.range(n).select((F.col("id") * 17 % 101).alias("key"), "id")
    got = {r["id"]: r["t"] for r in
           exact_ntile(df, k, ["key", "id"], "t",
                       n_partitions=n_partitions).collect()}
    want = {r["id"]: r["t"] for r in
            df.select("id", F.ntile(k).over(
                Window.orderBy("key", "id")).alias("t")).collect()}
    assert got == want


def test_fifo_lot_matching_equals_sequential_reference(spark):
    """The cum-range overlap join must reproduce a literal sequential
    FIFO matcher (queue of buy lots consumed in order by each sell)."""
    from moonshot_spark.queries import QUERIES
    from tests.conftest import SF_DIR
    import duckdb

    got = {(r["user_id"], r["buy_seq"], r["sell_seq"]): r["matched_qty"]
           for r in QUERIES["fifo_lot_matching"](spark, SF_DIR).collect()}

    flows = duckdb.sql(f"""
        SELECT user_id, event_id, epoch_ns(ts) AS tns, event_type,
               CAST(ceil(value) AS BIGINT) AS qty
        FROM read_parquet('{SF_DIR}/events.parquet')
        WHERE value > 0 AND event_type IN ('click', 'purchase')
        ORDER BY user_id, tns, event_id
    """).fetchall()
    # two-pointer unit alignment: the k-th unit sold matches the k-th
    # unit bought (symmetric FIFO — sells arriving before any buy are
    # shorts covered by the first subsequent buys, negative hold days)
    from collections import defaultdict
    buys = defaultdict(list)
    sells = defaultdict(list)
    for user, _eid, _tns, etype, qty in flows:
        (buys if etype == "click" else sells)[user].append(qty)
    expect = {}
    for user in set(buys) | set(sells):
        bi = si = 0
        b_rem = buys[user][0] if buys[user] else 0
        s_rem = sells[user][0] if sells[user] else 0
        while bi < len(buys[user]) and si < len(sells[user]):
            take = min(b_rem, s_rem)
            if take > 0:
                expect[(user, bi + 1, si + 1)] = take
            b_rem -= take
            s_rem -= take
            if b_rem == 0:
                bi += 1
                b_rem = buys[user][bi] if bi < len(buys[user]) else 0
            if s_rem == 0:
                si += 1
                s_rem = sells[user][si] if si < len(sells[user]) else 0
    assert got == expect


def test_snapshot_diff_classes_and_schema_guard(spark):
    """snapshot_diff: all four change classes from a constructed pair of
    snapshots; NULL vs 'null'-string values hash differently; mismatched
    non-key schemas are rejected."""
    import pytest

    from moonshot_spark.operators.diff import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, None, 30.0), (4, "null", 4.0)],
        "k long, s string, v double")
    new = spark.createDataFrame(
        [(1, "a", 10.0),        # unchanged
         (2, "B", 20.0),        # changed
         (3, "null", 30.0),     # changed: NULL -> the literal string "null"
         (5, "e", 50.0)],       # added (4 removed)
        "k long, s string, v double")
    got = {r["k"]: r["change"]
           for r in snapshot_diff(old, new, ["k"]).collect()}
    assert got == {1: "unchanged", 2: "changed", 3: "changed",
                   4: "removed", 5: "added"}

    drifted = new.withColumnRenamed("v", "value")
    with pytest.raises(ValueError, match="non-key columns differ"):
        snapshot_diff(old, drifted, ["k"])


def test_snapshot_diff_hash_is_injective_across_columns(spark):
    """Values containing a would-be separator must not collide across
    column boundaries: ('x\\x1fy','z') vs ('x','y\\x1fz') concatenate to
    the same bytes under a naive separator-join but are different rows —
    the per-column-md5 scheme must report them 'changed'."""
    from moonshot_spark.operators.diff import snapshot_diff

    old = spark.createDataFrame([(1, "x\x1fy", "z")],
                                "k long, a string, b string")
    new = spark.createDataFrame([(1, "x", "y\x1fz")],
                                "k long, a string, b string")
    [row] = snapshot_diff(old, new, ["k"]).collect()
    assert row["change"] == "changed"


def test_cointegration_screen_flags_cointegrated_pair(spark, tmp_path):
    """Engle-Granger screen on a synthetic panel: sid 'a' tracks sid
    'b' (same random walk + small stationary noise -> cointegrated),
    sid 'c' is an independent walk (spread with b is itself a walk ->
    not cointegrated).  All three share one price-level bucket so the
    blocked self-join pairs them."""
    import numpy as np
    from datetime import datetime, timedelta

    from moonshot_spark.queries import QUERIES

    rng = np.random.default_rng(11)
    T = 150
    walk_b = 50.0 + np.cumsum(rng.normal(0, 0.5, T))
    walk_c = 50.0 + np.cumsum(rng.normal(0, 0.5, T))
    a = walk_b + rng.normal(0, 0.3, T)          # cointegrated with b
    rows = []
    t0 = datetime(2024, 1, 1, 12, 0, 0)
    for t in range(T):
        ts = t0 + timedelta(days=t)
        for sid, series in (("a", a), ("b", walk_b), ("c", walk_c)):
            rows.append((sid, ts, round(float(series[t]), 2)))
    df = spark.createDataFrame(rows, "user_id string, ts timestamp, "
                                     "value double")
    sf_dir = str(tmp_path / "sf")
    import os
    os.makedirs(sf_dir)
    df.write.parquet(os.path.join(sf_dir, "events.parquet"))

    out = {(r["sid_a"], r["sid_b"]): r
           for r in QUERIES["cointegration_screen"](spark, sf_dir).collect()}
    ab = out[("a", "b")]
    assert ab["cointegrated"] is True and ab["adf_t"] < -3.37
    assert ab["beta"] == pytest.approx(1.0, abs=0.15)
    # the independent pair must NOT look cointegrated
    bc = out.get(("b", "c"))
    if bc is not None:
        assert not bc["cointegrated"]


def test_mean_variance_weights_matches_numpy(spark):
    """The in-plan Cramer solve equals numpy's linalg.solve(C, mu) on
    the driver testdata (up to quantization of the moment sums)."""
    import numpy as np

    from moonshot_spark.queries import QUERIES
    from moonshot_spark.sources.parquet import events_to_panel

    sf = "/root/testdata/sf0.001"
    out = {r["sid"]: r for r in
           QUERIES["mean_variance_weights"](spark, sf).collect()}
    assert set(out) == {"1", "2", "3"}

    pdf = (events_to_panel(spark, sf)
           .where(F.col("sid").isin("1", "2", "3"))
           .select("sid", "date", "close").toPandas()
           .sort_values(["sid", "date"]))
    # per-sid pct_change over each sid's OWN observed dates (the
    # operator's lag-per-sid definition), then align on shared dates
    pdf["r"] = pdf.groupby("sid")["close"].pct_change()
    rets = (pdf.pivot(index="date", columns="sid", values="r")
            .sort_index().dropna())
    mu = rets.mean().values
    C = np.cov(rets.values.T, ddof=1)
    w = np.linalg.solve(C, mu)
    w = w / w.sum()
    got = np.array([out[s]["weight"] for s in ("1", "2", "3")])
    assert np.allclose(got, w, rtol=1e-4, atol=1e-6)
    assert sum(out[s]["weight"] for s in ("1", "2", "3")) == \
        pytest.approx(1.0, abs=1e-12)
