"""Panel derivation, per-sid window primitives, spines, resampling, intraday/microstructure bars.

Oracles build on PANEL_SQL.  ``rebalance_weekly_weights`` shares the
buy-below-100 signal and equal-weights CTEs of ``_base`` with the
backtest module."""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from moonshot_spark import materialize
from moonshot_spark.functions.crosssec import xs_rank
from moonshot_spark.functions.window import (
    days_since_prev, diff, ffill, pct_change, shift,
)
from moonshot_spark.queries._base import (
    BUY_BELOW_100_SQL, EQUAL_WEIGHTS_SQL, PANEL_SQL, register, six_hour_bar,
)
from moonshot_spark.sources.local import local_df
from moonshot_spark.sources.parquet import events_to_panel, load_table


# --------------------------------------------------------------------- #
# S1/A2 — panel derivation (scan + first/last-of-day rollup)            #
# --------------------------------------------------------------------- #

@register("panel_ohlcv", f"""
WITH panel AS ({PANEL_SQL})
SELECT sid, date, open, close, high, low, volume FROM panel
""")
def panel_ohlcv(spark: SparkSession, sf_dir: str) -> DataFrame:
    return events_to_panel(spark, sf_dir).select(
        "sid", "date", "open", "close", "high", "low", "volume")


# --------------------------------------------------------------------- #
# W2/W3/W4/W7 — per-sid window primitives (exact two-operand float ops) #
# --------------------------------------------------------------------- #

@register("window_shift_diff_pct", f"""
WITH panel AS ({PANEL_SQL})
SELECT sid, date, close,
       lag(close, 1) OVER w AS close_lag1,
       lag(close, 2) OVER w AS close_lag2,
       lead(close, 1) OVER w AS close_lead1,
       close - lag(close, 1) OVER w AS close_diff,
       (close / lag(close, 1) OVER w - 1) AS close_pct_change,
       CAST(date_diff('day', lag(date, 1) OVER w, date) AS INT) AS days_since_prev
FROM panel
WINDOW w AS (PARTITION BY sid ORDER BY date)
""")
def window_shift_diff_pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    panel = events_to_panel(spark, sf_dir)
    w = Window.partitionBy("sid").orderBy("date")
    return panel.select(
        "sid", "date", "close",
        shift("close", 1, w).alias("close_lag1"),
        shift("close", 2, w).alias("close_lag2"),
        shift("close", -1, w).alias("close_lead1"),
        diff("close", 1, w).alias("close_diff"),
        pct_change("close", 1, w).alias("close_pct_change"),
        days_since_prev("date", w).cast("int").alias("days_since_prev"),
    )


# --------------------------------------------------------------------- #
# W1 — rolling mean with pandas min_periods semantics                   #
# --------------------------------------------------------------------- #

@register("window_rolling_mean", f"""
WITH panel AS ({PANEL_SQL})
SELECT sid, date,
       CASE WHEN count(close) OVER w5 >= 5
            THEN CAST(sum(CAST(close AS DECIMAL(18,2))) OVER w5 AS DOUBLE)
                 / count(close) OVER w5 END AS mavg5,
       CASE WHEN count(close) OVER w10 >= 10
            THEN CAST(sum(CAST(close AS DECIMAL(18,2))) OVER w10 AS DOUBLE)
                 / count(close) OVER w10 END AS mavg10
FROM panel
WINDOW w5 AS (PARTITION BY sid ORDER BY date ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
       w10 AS (PARTITION BY sid ORDER BY date ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
""")
def window_rolling_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    # decimal-summed rolling mean: the source values are 2-decimal doubles,
    # so DECIMAL(18,2) accumulation is exact and cross-engine deterministic
    panel = events_to_panel(spark, sf_dir)
    w = Window.partitionBy("sid").orderBy("date")

    def mavg(n):
        frame = w.rowsBetween(-(n - 1), 0)
        s = F.sum(F.col("close").cast("decimal(18,2)")).over(frame).cast("double")
        cnt = F.count("close").over(frame)
        return F.when(cnt >= n, s / cnt)

    return panel.select("sid", "date",
                        mavg(5).alias("mavg5"), mavg(10).alias("mavg10"))


# --------------------------------------------------------------------- #
# J5/R4 + W5 — calendar-spine reindex + forward fill                    #
# --------------------------------------------------------------------- #

@register("spine_reindex_ffill", f"""
WITH panel AS ({PANEL_SQL}),
dates AS (SELECT DISTINCT date FROM panel),
sids AS (SELECT DISTINCT sid FROM panel),
spine AS (SELECT sid, date FROM sids CROSS JOIN dates)
SELECT s.sid, s.date, p.close,
       last_value(p.close IGNORE NULLS) OVER (
           PARTITION BY s.sid ORDER BY s.date
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS close_ffilled
FROM spine s LEFT JOIN panel p ON s.sid = p.sid AND s.date = p.date
""")
def spine_reindex_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reindex the panel onto the full sid×date spine (pandas reindex,
    reference base.py:1450-1453) then ffill (base.py:935)."""
    panel = events_to_panel(spark, sf_dir)
    dates = panel.select("date").distinct()
    sids = panel.select("sid").distinct()
    spine = sids.crossJoin(dates)
    joined = spine.join(panel.select("sid", "date", "close"),
                        ["sid", "date"], "left")
    w = Window.partitionBy("sid").orderBy("date")
    return joined.select(
        "sid", "date", "close", ffill("close", w).alias("close_ffilled"))


# --------------------------------------------------------------------- #
# A1/W8/W9 — cross-sectional stats                                      #
# --------------------------------------------------------------------- #

@register("crosssec_stats", f"""
WITH panel AS ({PANEL_SQL}),
stats AS (
    SELECT sid, date, close,
           CAST(sum(CAST(close AS DECIMAL(18,2))) OVER wd AS DOUBLE) AS s1,
           CAST(sum(CAST(close AS DECIMAL(18,2)) * CAST(close AS DECIMAL(18,2)))
                OVER wd AS DOUBLE) AS s2,
           CAST(count(close) OVER wd AS DOUBLE) AS n,
           CAST(rank() OVER (PARTITION BY date ORDER BY close DESC) AS INT) AS xs_rank
    FROM panel WINDOW wd AS (PARTITION BY date)
)
SELECT sid, date, close,
       s1 AS xs_sum,
       close - s1 / n AS xs_demean,
       (close - s1 / n) / sqrt((s2 - s1 * s1 / n) / (n - 1)) AS xs_zscore,
       xs_rank
FROM stats
""")
def crosssec_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # mean/std from exact decimal sums (sum-of-squares formula) so every
    # output double is a deterministic function of the inputs in both engines
    panel = events_to_panel(spark, sf_dir)
    wd = Window.partitionBy("date")
    c_dec = F.col("close").cast("decimal(18,2)")
    s1 = F.sum(c_dec).over(wd).cast("double")
    s2 = F.sum(c_dec * c_dec).over(wd).cast("double")
    n = F.count("close").over(wd).cast("double")
    mean = s1 / n
    std = F.sqrt((s2 - s1 * s1 / n) / (n - 1))
    return panel.select(
        "sid", "date", "close",
        s1.alias("xs_sum"),
        (F.col("close") - mean).alias("xs_demean"),
        ((F.col("close") - mean) / std).alias("xs_zscore"),
        xs_rank("close", ("date",), ascending=False).cast("int").alias("xs_rank"),
    )


# --------------------------------------------------------------------- #
# W10 — resample / rebalance interval                                   #
# --------------------------------------------------------------------- #

@register("resample_weekly", f"""
WITH panel AS ({PANEL_SQL})
SELECT sid, CAST(date_trunc('week', date) AS DATE) AS week,
       arg_max(close, date) AS close_last,
       arg_min(open, date) AS open_first,
       max(high) AS high, min(low) AS low,
       CAST(sum(CAST(volume AS DECIMAL(18,2))) AS DOUBLE) AS volume
FROM panel GROUP BY 1, 2
""")
def resample_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W10: periodic resampling (REBALANCE_INTERVAL convention, reference
    base.py:95-97,1068-1084) — daily panel → weekly OHLCV bars."""
    panel = events_to_panel(spark, sf_dir)
    return (panel.groupBy(
        "sid", F.trunc("date", "week").alias("week"))
        .agg(F.max_by("close", "date").alias("close_last"),
             F.min_by("open", "date").alias("open_first"),
             F.max("high").alias("high"), F.min("low").alias("low"),
             F.sum(F.col("volume").cast("decimal(18,2)")).cast("double")
             .alias("volume")))


# --------------------------------------------------------------------- #
# range frames — calendar-gap-aware rolling window                      #
# --------------------------------------------------------------------- #

@register("range_frame_weekly_sum", f"""
WITH panel AS ({PANEL_SQL})
SELECT sid, date,
       CAST(sum(CAST(volume AS DECIMAL(18,2))) OVER (
           PARTITION BY sid ORDER BY date
           RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW)
           AS DOUBLE) AS volume_7d,
       CAST(count(*) OVER (
           PARTITION BY sid ORDER BY date
           RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW)
           AS BIGINT) AS days_in_window
FROM panel
""")
def range_frame_weekly_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-gap-aware trailing 7-day sum via a RANGE frame (SURVEY §2.5
    note: range frames for calendar-aware extensions).  Unlike rowsBetween,
    missing days shrink the window instead of reaching further back."""
    panel = events_to_panel(spark, sf_dir)
    w = (Window.partitionBy("sid")
         .orderBy(F.col("date").cast("timestamp").cast("long"))
         .rangeBetween(-6 * 86400, 0))
    return panel.select(
        "sid", "date",
        F.sum(F.col("volume").cast("decimal(18,2)")).over(w)
        .cast("double").alias("volume_7d"),
        F.count("*").over(w).alias("days_in_window"))


# --------------------------------------------------------------------- #
# W10 full semantics — periodic rebalancing with hold-between            #
# --------------------------------------------------------------------- #

@register("rebalance_weekly_weights", f"""
WITH panel AS ({PANEL_SQL}),
{BUY_BELOW_100_SQL},
{EQUAL_WEIGHTS_SQL},
flagged AS (
    SELECT *, row_number() OVER (
        PARTITION BY sid, date_trunc('week', date) ORDER BY date) AS rn
    FROM wts
)
SELECT sid, date, weight,
       last_value(CASE WHEN rn = 1 THEN weight END IGNORE NULLS) OVER (
           PARTITION BY sid ORDER BY date
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS held_weight
FROM flagged
""")
def rebalance_weekly_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W10: weekly rebalancing — weights picked at each week's first
    observation and held constant until the next rebalance."""
    from moonshot_spark.operators.rebalance import rebalance_weights
    from moonshot_spark.operators.weights import allocate_equal_weights

    panel = events_to_panel(spark, sf_dir)
    sig = panel.withColumn(
        "signal", F.when(F.col("close") < 100, 1.0).otherwise(0.0))
    wts = allocate_equal_weights(sig)
    held = rebalance_weights(wts, "W", weight_col="weight",
                             out_col="held_weight")
    return held.select("sid", "date", "weight", "held_weight")


# --------------------------------------------------------------------- #
# F3 — business-day calendar arithmetic                                 #
# --------------------------------------------------------------------- #

@register("business_day_shift", """
SELECT o_orderkey, CAST(o_orderdate AS DATE) AS order_date,
       CAST(CASE CAST(date_part('dow', o_orderdate) AS INT)
            WHEN 5 THEN o_orderdate + INTERVAL 3 DAY
            WHEN 6 THEN o_orderdate + INTERVAL 2 DAY
            ELSE o_orderdate + INTERVAL 1 DAY END AS DATE) AS next_bday,
       CAST(date_part('dow', o_orderdate) AS INT) AS dow
FROM orders
""")
def business_day_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Next-business-day arithmetic (F3 — the reference's bdate_range
    conventions, base.py:1074-1080): Fri→Mon, Sat→Mon, else +1 day."""
    orders = load_table(spark, sf_dir, "orders")
    dow = (F.dayofweek("o_orderdate") - 1).cast("int")  # 0=Sunday like DuckDB
    next_bday = (F.when(dow == 5, F.date_add(F.to_date("o_orderdate"), 3))
                 .when(dow == 6, F.date_add(F.to_date("o_orderdate"), 2))
                 .otherwise(F.date_add(F.to_date("o_orderdate"), 1)))
    return orders.select(
        "o_orderkey", F.to_date("o_orderdate").alias("order_date"),
        next_bday.alias("next_bday"), dow.alias("dow"))


# --------------------------------------------------------------------- #
# R2 — wide→long unpivot (stack) of the panel field dimension           #
# --------------------------------------------------------------------- #

@register("unpivot_panel", f"""
WITH panel AS ({PANEL_SQL})
SELECT sid, date, field, value FROM (
    SELECT sid, date, 'open' AS field, open AS value FROM panel
    UNION ALL SELECT sid, date, 'close', close FROM panel
    UNION ALL SELECT sid, date, 'high', high FROM panel
    UNION ALL SELECT sid, date, 'low', low FROM panel
    UNION ALL SELECT sid, date, 'volume', volume FROM panel
)
""")
def unpivot_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R2 stack: the wide-by-field panel melted to long (field, value) —
    the reference's results-concat shape (base.py:1382-1388) as a
    standalone op via F.stack."""
    panel = events_to_panel(spark, sf_dir)
    stack_args = []
    for f_name in ("open", "close", "high", "low", "volume"):
        stack_args += [F.lit(f_name), F.col(f_name)]
    return panel.select(
        "sid", "date",
        F.stack(F.lit(5), *stack_args).alias("field", "value"))


# --------------------------------------------------------------------- #
# P7-adjacent — linear interpolation gap-fill on the reindexed spine    #
# --------------------------------------------------------------------- #

@register("interpolate_linear", f"""
WITH panel AS ({PANEL_SQL}),
dates AS (SELECT DISTINCT date FROM panel),
sids AS (SELECT DISTINCT sid FROM panel),
spine AS (SELECT sid, date FROM sids CROSS JOIN dates),
j AS (
    SELECT s.sid, s.date, p.close,
           row_number() OVER (PARTITION BY s.sid ORDER BY s.date) AS rn
    FROM spine s LEFT JOIN panel p ON s.sid = p.sid AND s.date = p.date
),
anch AS (
    SELECT sid, date, close, rn,
           last_value(close IGNORE NULLS) OVER wb AS prev_val,
           first_value(close IGNORE NULLS) OVER wf AS next_val,
           last_value(CASE WHEN close IS NOT NULL THEN rn END IGNORE NULLS)
               OVER wb AS prev_rn,
           first_value(CASE WHEN close IS NOT NULL THEN rn END IGNORE NULLS)
               OVER wf AS next_rn
    FROM j
    WINDOW wb AS (PARTITION BY sid ORDER BY date
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
           wf AS (PARTITION BY sid ORDER BY date
                  ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT sid, date, close,
       CASE WHEN prev_rn IS NOT NULL AND next_rn IS NOT NULL
                 AND next_rn > prev_rn
            THEN prev_val + (next_val - prev_val)
                 * (CAST(rn - prev_rn AS DOUBLE)
                    / CAST(next_rn - prev_rn AS DOUBLE))
            ELSE coalesce(prev_val, next_val) END AS close_interp
FROM anch
""")
def interpolate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear gap-fill between surviving observations on the full sid×date
    spine (pandas ``DataFrame.interpolate(method='linear')``; the reference
    only ships ffill, base.py:935 — interpolation is the natural extension
    a research pipeline reaches for next).  Anchors are found with
    IGNORE-NULLS last/first over per-sid ordered frames — two window passes
    over one shuffle by (sid), no self-join, no Python.  The interpolation
    arithmetic (``prev + (next-prev) * frac``) is written identically in
    both engines so every output double is bit-deterministic."""
    panel = events_to_panel(spark, sf_dir)
    dates = panel.select("date").distinct()
    sids = panel.select("sid").distinct()
    spine = sids.crossJoin(dates)
    joined = spine.join(panel.select("sid", "date", "close"),
                        ["sid", "date"], "left")
    w = Window.partitionBy("sid").orderBy("date")
    wb = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wf = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    rn = F.row_number().over(w)
    df = joined.withColumn("rn", rn)
    prev_val = F.last("close", ignorenulls=True).over(wb)
    next_val = F.first("close", ignorenulls=True).over(wf)
    obs_rn = F.when(F.col("close").isNotNull(), F.col("rn"))
    prev_rn = F.last(obs_rn, ignorenulls=True).over(wb)
    next_rn = F.first(obs_rn, ignorenulls=True).over(wf)
    frac = ((F.col("rn") - prev_rn).cast("double")
            / (next_rn - prev_rn).cast("double"))
    interp = F.when(
        prev_rn.isNotNull() & next_rn.isNotNull() & (next_rn > prev_rn),
        prev_val + (next_val - prev_val) * frac
    ).otherwise(F.coalesce(prev_val, next_val))
    return df.select("sid", "date", "close", interp.alias("close_interp"))


# --------------------------------------------------------------------- #
# data-completeness audit: per-sid missing-date report with run lengths #
# --------------------------------------------------------------------- #

@register("missing_dates_report", f"""
WITH panel AS ({PANEL_SQL}),
dates AS (SELECT DISTINCT date FROM panel),
sids AS (SELECT DISTINCT sid FROM panel),
spine AS (SELECT sid, date FROM sids CROSS JOIN dates),
j AS (
    SELECT s.sid, s.date, p.close,
           row_number() OVER (PARTITION BY s.sid ORDER BY s.date) AS rn
    FROM spine s LEFT JOIN panel p ON s.sid = p.sid AND s.date = p.date
),
miss AS (
    SELECT sid, date, rn,
           rn - row_number() OVER (PARTITION BY sid ORDER BY date) AS grp
    FROM j WHERE close IS NULL
),
runs AS (
    SELECT sid, grp, CAST(count(*) AS BIGINT) AS run_len,
           min(date) AS run_start, max(date) AS run_end
    FROM miss GROUP BY sid, grp
)
SELECT sid,
       CAST(sum(run_len) AS BIGINT) AS n_missing,
       min(run_start) AS first_missing,
       max(run_end) AS last_missing,
       max(run_len) AS max_run
FROM runs GROUP BY sid
""")
def missing_dates_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-completeness audit: per sid, how many spine dates have no
    observation, the first/last missing date, and the longest consecutive
    missing run (gaps-and-islands via the rn - row_number() group key).
    One shuffle by (sid); the island grouping is a second window over the
    same partitioning, and the report is two chained aggregations over
    narrowing keys (sid, grp) → (sid) on ONE lineage — no self-join, so
    the spine build is never recomputed.  This is the QA report a
    pipeline runs before trusting ffill/interpolation output."""
    panel = events_to_panel(spark, sf_dir)
    dates = panel.select("date").distinct()
    sids = panel.select("sid").distinct()
    spine = sids.crossJoin(dates)
    joined = spine.join(panel.select("sid", "date", "close"),
                        ["sid", "date"], "left")
    w = Window.partitionBy("sid").orderBy("date")
    df = joined.withColumn("rn", F.row_number().over(w))
    miss = (df.where(F.col("close").isNull())
            .withColumn("grp", F.col("rn") - F.row_number().over(w)))
    runs = miss.groupBy("sid", "grp").agg(
        F.count("*").alias("run_len"),
        F.min("date").alias("run_start"),
        F.max("date").alias("run_end"))
    return runs.groupBy("sid").agg(
        F.sum("run_len").alias("n_missing"),
        F.min("run_start").alias("first_missing"),
        F.max("run_end").alias("last_missing"),
        F.max("run_len").alias("max_run"))


# --------------------------------------------------------------------- #
# EWMA (pandas ewm parity) with power-of-two weights — bit-exact        #
# --------------------------------------------------------------------- #

@register("window_ewma", f"""
WITH panel AS ({PANEL_SQL}),
framed AS (
    SELECT sid, date, close,
           list(close) OVER (PARTITION BY sid ORDER BY date
                             ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS l
    FROM panel
)
SELECT sid, date, close,
       list_reduce(list_transform(l, (x, i) ->
           x / CAST(1 << (len(l) - i) AS DOUBLE)), (a, b) -> a + b)
       / list_reduce(list_transform(l, (x, i) ->
           1.0 / CAST(1 << (len(l) - i) AS DOUBLE)), (a, b) -> a + b)
           AS ewma
FROM framed
""")
def window_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average, pandas
    ``ewm(alpha=0.5, adjust=True)`` semantics over a 10-row trailing
    frame (min_periods=1).  α = 0.5 is chosen deliberately: every weight
    is a power of two built by integer shift + one exact division, so —
    with numerator and denominator folded in frame order — the output is
    bit-identical across engines, something a libm pow() cannot promise.
    One shuffle by sid; the frame list is materialized per row (bounded
    at 10 elements) and reduced JVM-side, no Python."""
    panel = events_to_panel(spark, sf_dir)
    # r15 (cheaper per-row work): the frame element at distance d
    # from the current row always carries weight 2^-d (the old form's
    # m-1-i IS that distance), so the collect_list(struct)/array_sort/
    # transform x2/aggregate x2 per-row array machinery — all
    # interpreted higher-order functions, a fresh 10-struct array per
    # row — collapses to 10 lag() terms on ONE shared window spec (one
    # WindowExec, one sort, identical single exchange on sid) plus
    # codegen'd arithmetic.  Bit-identity: the old fold added terms
    # oldest-first starting from 0.0; this chain adds d=9..0 in that
    # same order, and a frame shorter than 10 contributes literal 0.0
    # terms, which IEEE addition leaves exact (x + 0.0 == x; the
    # accumulator starts at +0.0 so no -0.0 case arises).  A null close
    # inside the frame nulls num exactly as a null array element nulled
    # the old aggregate; den counts every EXISTING row (rn > d)
    # regardless of null close, as size(arr) did.  Weights 2^-d and
    # 1.0/2^d are exact powers of two in either engine.
    w = Window.partitionBy("sid").orderBy("date")
    rn = F.row_number().over(w)
    num = F.lit(0.0)
    den = F.lit(0.0)
    for dist in range(9, -1, -1):
        scale = float(1 << dist)
        exists = rn > F.lit(dist)
        num = num + F.when(
            exists, F.lag("close", dist).over(w) / F.lit(scale)
        ).otherwise(F.lit(0.0))
        den = den + F.when(exists, F.lit(1.0 / scale)) \
            .otherwise(F.lit(0.0))
    return panel.select("sid", "date", "close",
                        (num / den).alias("ewma"))


# --------------------------------------------------------------------- #
# intraday volume curve: time-of-day share of daily volume              #
# --------------------------------------------------------------------- #

@register("intraday_volume_curve", """
WITH buckets AS (
    SELECT CAST(user_id AS VARCHAR) AS sid, CAST(ts AS DATE) AS date,
           lpad(CAST(CAST(date_part('hour', ts) AS INT)
                     - CAST(date_part('hour', ts) AS INT) % 6 AS VARCHAR),
                2, '0') || ':00:00' AS time,
           CAST(count(*) AS BIGINT) AS n_ticks
    FROM events GROUP BY 1, 2, 3
),
tot AS (
    SELECT time, CAST(sum(n_ticks) AS BIGINT) AS bucket_ticks
    FROM buckets GROUP BY time
),
grand AS (SELECT CAST(sum(n_ticks) AS BIGINT) AS all_ticks FROM buckets)
SELECT t.time, t.bucket_ticks,
       CAST(t.bucket_ticks AS DOUBLE) / CAST(g.all_ticks AS DOUBLE)
           AS volume_share
FROM tot t CROSS JOIN grand g
""")
def intraday_volume_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The intraday volume curve a VWAP execution scheduler slices orders
    against: share of total tick volume falling in each time-of-day
    bucket (the reference's intraday Time level, moonshot.py
    once-a-day/continuous modes).  Two chained integer aggregates and one
    exact BIGINT/BIGINT division — the curve is a 4-row broadcastable
    profile whatever the input size."""
    ev = load_table(spark, sf_dir, "events")
    buckets = (ev.groupBy(
        F.col("user_id").cast("string").alias("sid"),
        F.col("ts").cast("date").alias("date"),
        six_hour_bar().alias("time"))
        .agg(F.count("*").alias("n_ticks")))
    tot = buckets.groupBy("time").agg(
        F.sum("n_ticks").alias("bucket_ticks"))
    grand = buckets.agg(F.sum("n_ticks").alias("all_ticks"))
    return (tot.crossJoin(F.broadcast(grand))
            .select("time", "bucket_ticks",
                    (F.col("bucket_ticks").cast("double")
                     / F.col("all_ticks").cast("double"))
                    .alias("volume_share")))


# --------------------------------------------------------------------- #
# dollar bars: resample ticks by traded value instead of time           #
# --------------------------------------------------------------------- #

@register("dollar_bars", """
WITH ticks AS (
    SELECT CAST(user_id AS VARCHAR) AS sid, ts, event_id, value,
           CAST(value AS DECIMAL(18,3)) AS dv
    FROM events
),
cum AS (
    SELECT sid, ts, event_id, value,
           coalesce(sum(dv) OVER (PARTITION BY sid ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING),
                    CAST(0 AS DECIMAL(38,3))) AS cum_before
    FROM ticks
),
barred AS (
    SELECT sid, ts, event_id, value,
           CAST(floor(cum_before / 5000) AS BIGINT) AS bar_id
    FROM cum
)
SELECT sid, bar_id,
       CAST(count(*) AS BIGINT) AS n_ticks,
       min(ts) AS bar_start, max(ts) AS bar_end,
       arg_min(value, ts) AS open,
       arg_max(value, ts) AS close,
       max(value) AS high, min(value) AS low
FROM barred GROUP BY sid, bar_id
""")
def dollar_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dollar bars (López de Prado's information-driven sampling): ticks
    roll into a new bar every 5000 units of traded value, so bars carry
    roughly equal information instead of equal wall-clock — the
    resampling an ML-on-microstructure pipeline uses before labeling.
    The cumulative traded value runs in DECIMAL (exact, association-
    free) over the per-sid tick order, the bar id is integer floor
    division of the PRE-tick cumulative (a tick that crosses the
    threshold belongs to the bar it closes), and bar OHLC are
    (ts, event_id)-keyed order statistics.  One shuffle by sid; the bar
    rollup rides the same partitioning."""
    ev = load_table(spark, sf_dir, "events")
    ticks = ev.select(
        F.col("user_id").cast("string").alias("sid"), "ts", "event_id",
        "value", F.col("value").cast("decimal(18,3)").alias("dv"))
    w = (Window.partitionBy("sid").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    cum_before = F.coalesce(
        F.sum("dv").over(w), F.lit(0).cast("decimal(38,3)"))
    barred = ticks.withColumn(
        "bar_id", F.floor(cum_before / 5000).cast("bigint"))
    # (sid, ts) is unique in the tick stream, so ts alone keys the
    # open/close order statistics (DuckDB arg_min takes a single key)
    return (barred.groupBy("sid", "bar_id")
            .agg(F.count("*").alias("n_ticks"),
                 F.min("ts").alias("bar_start"),
                 F.max("ts").alias("bar_end"),
                 F.min_by("value", "ts").alias("open"),
                 F.max_by("value", "ts").alias("close"),
                 F.max("value").alias("high"),
                 F.min("value").alias("low")))


# --------------------------------------------------------------------- #
# continuous-contract stitching with ratio back-adjustment              #
# --------------------------------------------------------------------- #

@register("continuous_contract_stitch", f"""
WITH panel AS ({PANEL_SQL}),
a AS (SELECT date, close FROM panel WHERE sid = '3'),
b AS (SELECT date, close FROM panel WHERE sid = '7'),
roll AS (
    -- roll on the first date where both legs trade at/after the median
    -- date of the overlap
    SELECT min(a.date) AS roll_date FROM a JOIN b ON a.date = b.date
    WHERE a.date >= (SELECT quantile_disc(a2.date, 0.5)
                     FROM a a2 JOIN b b2 ON a2.date = b2.date)
),
factor AS (
    SELECT r.roll_date, a.close / b.close AS adj
    FROM roll r
    JOIN a ON a.date = r.roll_date
    JOIN b ON b.date = r.roll_date
)
SELECT d.date,
       d.raw_close,
       d.segment,
       CASE WHEN d.segment = 'front' THEN d.raw_close
            ELSE d.raw_close * f.adj END AS adjusted_close
FROM (
    SELECT a.date, a.close AS raw_close, 'front' AS segment
    FROM a CROSS JOIN factor f0 WHERE a.date < f0.roll_date
    UNION ALL
    SELECT b.date, b.close, 'back'
    FROM b CROSS JOIN factor f0 WHERE b.date >= f0.roll_date
) d CROSS JOIN factor f
""")
def continuous_contract_stitch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-contract construction (the futures-domain operator
    behind every long-history futures backtest; the reference trades
    futures via its master but leaves stitching to the data layer):
    front leg until the roll date, back leg after, with the back leg
    ratio-adjusted by the legs' price ratio AT the roll so the stitched
    series has no artificial jump.  The roll date and adjustment factor
    are 1-row frames broadcast over the legs; the stitch is a union of
    two date-range scans of the same panel lineage — no window over the
    combined series, so the operator is one shuffle regardless of how
    many rolls a real chain has."""
    # The leg frames feed overlap/median/roll/factor/front/back as
    # separate subtree references, which without a persist compound to
    # 28 parquet scans + 60 Exchanges of the same tick rollup per
    # execution.  Persisting the panel and the 1-row factor collapses
    # that to one panel computation; values unchanged.
    panel = materialize.persist(events_to_panel(spark, sf_dir))
    a = panel.where(F.col("sid") == "3").select(
        "date", F.col("close").alias("ca"))
    b = panel.where(F.col("sid") == "7").select(
        "date", F.col("close").alias("cb"))
    overlap = a.join(b, "date")
    med = overlap.agg(
        F.expr("percentile_approx(date, 0.5, 2147483647)").alias("m"))
    roll = (overlap.crossJoin(F.broadcast(med))
            .where(F.col("date") >= F.col("m"))
            .agg(F.min("date").alias("roll_date")))
    factor = materialize.persist(
        roll.join(a, roll.roll_date == a.date)
        .join(b, roll.roll_date == b.date)
        .select("roll_date", (F.col("ca") / F.col("cb")).alias("adj")))
    front = (a.crossJoin(F.broadcast(factor))
             .where(F.col("date") < F.col("roll_date"))
             .select("date", F.col("ca").alias("raw_close"),
                     F.lit("front").alias("segment"),
                     F.col("ca").alias("adjusted_close")))
    back = (b.crossJoin(F.broadcast(factor))
            .where(F.col("date") >= F.col("roll_date"))
            .select("date", F.col("cb").alias("raw_close"),
                    F.lit("back").alias("segment"),
                    (F.col("cb") * F.col("adj")).alias("adjusted_close")))
    return front.unionByName(back)


# --------------------------------------------------------------------- #
# market-session tagging across exchange time zones                     #
# --------------------------------------------------------------------- #

@register("market_session_tagging", """
WITH tagged AS (
    SELECT e.event_id, x.exchange, x.tz,
           timezone(x.tz, e.ts::TIMESTAMPTZ) AS local_ts
    FROM events e
    CROSS JOIN (VALUES ('NYSE', 'America/New_York'),
                       ('LSE', 'Europe/London'),
                       ('TSE', 'Asia/Tokyo')) AS x(exchange, tz)
),
sess AS (
    SELECT exchange,
           CASE WHEN (date_part('hour', local_ts) * 60
                      + date_part('minute', local_ts))
                     BETWEEN 570 AND 959 THEN 'regular'
                WHEN date_part('hour', local_ts) < 9
                     OR (date_part('hour', local_ts) = 9
                         AND date_part('minute', local_ts) < 30)
                     THEN 'pre'
                ELSE 'after' END AS session
    FROM tagged
)
SELECT exchange, session, CAST(count(*) AS BIGINT) AS n_events
FROM sess GROUP BY exchange, session
""")
def market_session_tagging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-session classification across exchange time zones — the
    step the reference performs when it infers each security's timezone
    from the master (base.py timezone inference) and the driver of every
    'was this fill in RTH?' audit: UTC ticks are rendered in each
    exchange's local wall clock (from_utc_timestamp ≡ DuckDB
    timezone(tz, TIMESTAMPTZ) under a UTC session) and bucketed into
    pre / regular (09:30–15:59) / after sessions.  The exchange dim is a
    3-row broadcast; minute-of-day arithmetic is integer; January 2024
    avoids no DST transition in any of the three zones (tzdb-version
    drift is the only cross-engine risk in calendar code — pin dates
    away from transitions in oracles)."""
    events = load_table(spark, sf_dir, "events")
    exchanges = local_df(
        spark, [("NYSE", "America/New_York"), ("LSE", "Europe/London"),
                ("TSE", "Asia/Tokyo")], "exchange string, tz string")
    tagged = (events.crossJoin(F.broadcast(exchanges))
              .withColumn("local_ts",
                          F.from_utc_timestamp(F.col("ts"), F.col("tz"))))
    mod = (F.hour("local_ts") * 60 + F.minute("local_ts"))
    session = (F.when(mod.between(570, 959), "regular")
               .when((F.hour("local_ts") < 9)
                     | ((F.hour("local_ts") == 9)
                        & (F.minute("local_ts") < 30)), "pre")
               .otherwise("after"))
    return (tagged.withColumn("session", session)
            .groupBy("exchange", "session")
            .agg(F.count("*").alias("n_events")))
