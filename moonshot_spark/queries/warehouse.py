"""Warehouse-style relational queries: TPC-H shapes, joins, rollups, set ops, audits, sessionization.

Oracles run on the raw TPC-H-shaped tables.  The session queries share
``_SESSIONS_SQL``; the co-purchase graph queries share
``_base.COPURCHASE_GRAPH_SQL`` and ``_copurchase_edges``; PageRank and
Z-order oracles are generated by ``_pagerank_sql_iter`` and
``_zorder_oracle_sql``."""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from moonshot_spark import materialize
from moonshot_spark.functions.folds import ordered_values
from moonshot_spark.queries._base import (
    COPURCHASE_GRAPH_SQL, PANEL_SQL, register,
)
from moonshot_spark.sources.local import local_df
from moonshot_spark.sources.parquet import events_to_panel, load_table
from moonshot_spark.session import shuffle_partitions


# --------------------------------------------------------------------- #
# A4-style grouped aggregation over lineitem (TPC-H Q1 shape) —          #
# DECIMAL-summed for cross-engine exactness                             #
# --------------------------------------------------------------------- #

@register("agg_lineitem_pricing", """
SELECT l_returnflag, l_linestatus,
       CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_qty,
       CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_base_price,
       CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
       CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l_discount AS DECIMAL(18,2)))
                * (1 + CAST(l_tax AS DECIMAL(18,2)))) AS VARCHAR) AS DOUBLE) AS sum_charge,
       CAST(count(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""")
# oracle note (r15 10x-decade pin): DuckDB's DECIMAL->DOUBLE cast converts
# the scaled int128 to double and THEN divides by 10^scale — two roundings,
# 1 ulp off correctly-rounded once the scaled integer crosses 2^53 (seen at
# the 10x-replicated sf0.1: sum_charge 27864155010.941590 cast to ...593
# while Spark's BigDecimal.doubleValue rounds once to ...59).  Routing the
# exact decimal sum through VARCHAR makes DuckDB's conversion correctly
# rounded (fast_float) and bit-identical to Spark at EVERY scale; values at
# the driver SFs are unchanged (both paths agree below 2^53).
def agg_lineitem_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    # all arithmetic in DECIMAL (inputs are 2-decimal money values):
    # products and sums are exact, so both engines produce identical doubles
    li = load_table(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    tax = F.col("l_tax").cast("decimal(18,2)")
    return (li.where(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double")
                  .alias("sum_qty"),
                 F.sum(price).cast("double").alias("sum_base_price"),
                 F.sum(price * (1 - disc)).cast("double").alias("sum_disc_price"),
                 F.sum(price * (1 - disc) * (1 + tax)).cast("double")
                  .alias("sum_charge"),
                 F.count("*").alias("count_order")))


# --------------------------------------------------------------------- #
# J2/J4 — broadcast dimension joins (star join over lineitem)           #
# --------------------------------------------------------------------- #

@register("join_star_revenue", """
SELECT p.p_brand, s.s_name,
       CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
       CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
GROUP BY p.p_brand, s.s_name
""")
def join_star_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supp = load_table(spark, sf_dir, "supplier")
    return (li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
            .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
            .groupBy("p_brand", "s_name")
            .agg(F.sum(F.col("l_extendedprice").cast("decimal(18,2)")
                       * (1 - F.col("l_discount").cast("decimal(18,2)")))
                 .cast("double").alias("revenue"),
                 F.count("*").alias("n_lines")))


# --------------------------------------------------------------------- #
# J3 — full outer join with coalesce (positions ⨝ open-orders analog)   #
# --------------------------------------------------------------------- #

@register("join_outer_net", """
WITH bought AS (
    SELECT user_id, CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS buy_value
    FROM events WHERE event_type = 'purchase' GROUP BY user_id
), clicked AS (
    SELECT user_id, CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS click_value
    FROM events WHERE event_type = 'click' GROUP BY user_id
)
SELECT coalesce(b.user_id, c.user_id) AS user_id,
       coalesce(b.buy_value, 0) + coalesce(c.click_value, 0) AS net_value
FROM bought b FULL OUTER JOIN clicked c ON b.user_id = c.user_id
""")
def join_outer_net(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference pattern: positions ⟗ open orders then coalesce-sum
    (base.py:1850-1851)."""
    ev = load_table(spark, sf_dir, "events")
    dec = "decimal(18,2)"
    bought = (ev.where(F.col("event_type") == "purchase").groupBy("user_id")
              .agg(F.sum(F.col("value").cast(dec)).cast("double").alias("buy_value")))
    clicked = (ev.where(F.col("event_type") == "click").groupBy("user_id")
               .agg(F.sum(F.col("value").cast(dec)).cast("double").alias("click_value")))
    return (bought.join(clicked, "user_id", "full_outer")
            .select(F.col("user_id"),
                    (F.coalesce("buy_value", F.lit(0.0))
                     + F.coalesce("click_value", F.lit(0.0))).alias("net_value")))


# --------------------------------------------------------------------- #
# O/W9 — per-group top-k                                                #
# --------------------------------------------------------------------- #

@register("topk_events_per_user", """
SELECT user_id, event_id, value, CAST(rn AS INT) AS rn FROM (
    SELECT user_id, event_id, value,
           row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rn
    FROM events
) WHERE rn <= 3
""")
def topk_events_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("value"), F.asc("event_id"))
    return (ev.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= 3)
            .select("user_id", "event_id", "value", F.col("rn").cast("int")))


# --------------------------------------------------------------------- #
# sessionization — stateful gap detection as cumulative window           #
# --------------------------------------------------------------------- #

@register("sessionize_events", """
WITH gaps AS (
    SELECT user_id, ts,
           CASE WHEN lag(ts) OVER w IS NULL
                     OR date_diff('second', lag(ts) OVER w, ts) > 1800
                THEN 1 ELSE 0 END AS is_new_session
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), sessions AS (
    SELECT user_id, ts,
           sum(is_new_session) OVER (
               PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
    FROM gaps
)
SELECT user_id, CAST(session_id AS INT) AS session_id,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(date_diff('second', min(ts), max(ts)) AS BIGINT) AS duration_sec
FROM sessions GROUP BY user_id, session_id
""")
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (30-min inactivity gap): the classic stateful
    streaming op expressed as lag + cumulative sum — no applyInPandas, pure
    window algebra, one shuffle on user_id."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    prev_ts = F.lag("ts").over(w)
    is_new = F.when(
        prev_ts.isNull()
        | ((F.col("ts").cast("long") - prev_ts.cast("long")) > 1800), 1).otherwise(0)
    sess = ev.withColumn(
        "session_id",
        F.sum(is_new).over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("int"))
    return (sess.groupBy("user_id", "session_id")
            .agg(F.count("*").alias("n_events"),
                 (F.max(F.col("ts").cast("long"))
                  - F.min(F.col("ts").cast("long"))).alias("duration_sec")))


@register("purchases_in_sessions", """
WITH gaps AS (
    SELECT user_id, ts,
           CASE WHEN lag(ts) OVER w IS NULL
                     OR date_diff('second', lag(ts) OVER w, ts) > 1800
                THEN 1 ELSE 0 END AS is_new_session
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), sess_rows AS (
    SELECT user_id, ts,
           sum(is_new_session) OVER (
               PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
    FROM gaps
), sessions AS (
    SELECT user_id, CAST(session_id AS INT) AS session_id,
           min(epoch_ns(ts)) AS start_ns, max(epoch_ns(ts)) AS end_ns
    FROM sess_rows GROUP BY user_id, session_id
), purchases AS (
    SELECT user_id, epoch_ns(ts) AS p_ns FROM events
    WHERE event_type = 'purchase'
)
SELECT s.user_id, s.session_id, CAST(count(*) AS BIGINT) AS n_purchases
FROM sessions s JOIN purchases p
  ON p.user_id = s.user_id AND p.p_ns BETWEEN s.start_ns AND s.end_ns
GROUP BY s.user_id, s.session_id
""")
def purchases_in_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-containment join via the bucketized interval-join operator:
    assign purchase events to their containing activity session by
    (user, hour-bucket) equi-join + residual BETWEEN — the scale-safe
    plan for a join Spark has no native operator for (a naive range
    join degrades to per-user cross products).  The oracle runs the
    same containment as a plain SQL range join."""
    from moonshot_spark.operators.interval_join import interval_join

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    prev_ts = F.lag("ts").over(w)
    is_new = F.when(
        prev_ts.isNull()
        | ((F.col("ts").cast("long") - prev_ts.cast("long")) > 1800),
        1).otherwise(0)
    sessions = (ev.withColumn(
        "session_id",
        F.sum(is_new).over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("int"))
        .groupBy("user_id", "session_id")
        .agg(F.min("ts_ns").alias("start_ns"),
             F.max("ts_ns").alias("end_ns")))
    purchases = (ev.where(F.col("event_type") == "purchase")
                 .select("user_id", "ts_ns"))
    joined = interval_join(purchases, sessions, on=["user_id"],
                           point_ts="ts_ns")
    return (joined.groupBy("user_id", "session_id")
            .agg(F.count("*").alias("n_purchases")))


# --------------------------------------------------------------------- #
# J7 — as-of (point-in-time) join                                       #
# --------------------------------------------------------------------- #

@register("asof_purchase_click", """
WITH purchases AS (
    SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'purchase'
), clicks AS (
    SELECT user_id, ts AS click_ts, value AS click_value FROM events
    WHERE event_type = 'click'
)
SELECT p.user_id, p.event_id, p.value, c.click_ts, c.click_value
FROM purchases p
ASOF LEFT JOIN clicks c
  ON p.user_id = c.user_id AND p.ts >= c.click_ts
""")
def asof_purchase_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For each purchase, the user's most recent click at-or-before it —
    pandas merge_asof semantics via the union+ffill trick (one shuffle,
    no range-join blowup).  Oracle uses DuckDB's native ASOF JOIN."""
    from moonshot_spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    purchases = (ev.where(F.col("event_type") == "purchase")
                 .select("user_id", F.col("ts_ns").alias("t"),
                         "ts", "event_id", "value"))
    clicks = (ev.where(F.col("event_type") == "click")
              .select("user_id", F.col("ts_ns").alias("t"),
                      F.col("ts").alias("click_ts"),
                      F.col("value").alias("click_value")))
    joined = asof_join(purchases, clicks, on="t", by="user_id",
                       value_cols=["click_ts", "click_value"])
    return joined.select("user_id", "event_id", "value", "click_ts",
                         "click_value")


@register("asof_forward_tolerance", """
WITH clicks AS (
    SELECT user_id, ts, event_id, value, epoch_ns(ts) AS t
    FROM events WHERE event_type = 'click'
), purchases AS (
    SELECT user_id, epoch_ns(ts) AS p_t, value AS purchase_value
    FROM events WHERE event_type = 'purchase'
)
SELECT c.user_id, c.event_id, c.value,
       CASE WHEN p.p_t - c.t <= 3600000000000 THEN p.purchase_value END
           AS purchase_value,
       CASE WHEN p.p_t - c.t <= 3600000000000
            THEN CAST((p.p_t - c.t) // 1000000000 AS BIGINT) END
           AS seconds_to_purchase
FROM clicks c
ASOF LEFT JOIN purchases p
  ON c.user_id = p.user_id AND c.t <= p.p_t
""")
def asof_forward_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of with tolerance (pandas ``merge_asof(direction=
    'forward', tolerance=...)`` parity): for each click, the user's NEXT
    purchase at-or-after it, nulled when more than 1 h away.  Same one-
    shuffle union+fill pass as backward — the direction only flips the
    sort.  Oracle: DuckDB native ASOF with a ``<=`` inequality plus a
    tolerance CASE on the carried match time."""
    from moonshot_spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    clicks = (ev.where(F.col("event_type") == "click")
              .select("user_id", F.col("ts_ns").alias("t"),
                      "event_id", "value"))
    purchases = (ev.where(F.col("event_type") == "purchase")
                 .select("user_id", F.col("ts_ns").alias("t"),
                         F.col("ts_ns").alias("p_t"),
                         F.col("value").alias("purchase_value")))
    hour_ns = 3_600 * 1_000_000_000
    joined = asof_join(clicks, purchases, on="t", by="user_id",
                       value_cols=["p_t", "purchase_value"],
                       direction="forward", tolerance=hour_ns)
    return joined.select(
        "user_id", "event_id", "value", "purchase_value",
        F.floor((F.col("p_t") - F.col("t")) / F.lit(1_000_000_000))
        .cast("bigint").alias("seconds_to_purchase"))


# --------------------------------------------------------------------- #
# R2 — pivot/unpivot (stack/unstack)                                    #
# --------------------------------------------------------------------- #

@register("pivot_event_type", """
SELECT user_id,
       CAST(coalesce(sum(CAST(CASE WHEN event_type = 'click' THEN value END
            AS DECIMAL(18,2))), 0) AS DOUBLE) AS click,
       CAST(coalesce(sum(CAST(CASE WHEN event_type = 'purchase' THEN value END
            AS DECIMAL(18,2))), 0) AS DOUBLE) AS purchase,
       CAST(coalesce(sum(CAST(CASE WHEN event_type = 'view' THEN value END
            AS DECIMAL(18,2))), 0) AS DOUBLE) AS view
FROM events GROUP BY user_id
""")
def pivot_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unstack (R2): long event rows → wide per-type value totals."""
    ev = load_table(spark, sf_dir, "events")
    return (ev.groupBy("user_id")
            .pivot("event_type", ["click", "purchase", "view"])
            .agg(F.coalesce(F.sum(F.col("value").cast("decimal(18,2)")),
                            F.lit(0).cast("decimal(18,2)")).cast("double")))


# --------------------------------------------------------------------- #
# R3 — semi/anti joins (key-set membership)                             #
# --------------------------------------------------------------------- #

@register("join_semi_anti", """
SELECT c.c_custkey, c.c_name, c.c_mktsegment, 'with_orders' AS status
FROM customer c WHERE EXISTS (
    SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
UNION ALL
SELECT c.c_custkey, c.c_name, c.c_mktsegment, 'no_orders' AS status
FROM customer c WHERE NOT EXISTS (
    SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
""")
def join_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """left_semi (EXISTS) + left_anti (NOT EXISTS) — the reference's
    exclude-sids key-set filters (R3, base.py:1244-1245)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    with_orders = (cust.join(orders, cust.c_custkey == orders.o_custkey,
                             "left_semi")
                   .select("c_custkey", "c_name", "c_mktsegment",
                           F.lit("with_orders").alias("status")))
    no_orders = (cust.join(orders, cust.c_custkey == orders.o_custkey,
                           "left_anti")
                 .select("c_custkey", "c_name", "c_mktsegment",
                         F.lit("no_orders").alias("status")))
    return with_orders.unionByName(no_orders)


# --------------------------------------------------------------------- #
# rollup / grouping sets                                                #
# --------------------------------------------------------------------- #

@register("rollup_revenue", """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
       CAST(count(*) AS BIGINT) AS n
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
""")
def rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (li.rollup("l_returnflag", "l_linestatus")
            .agg(F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
                 .cast("double").alias("sum_price"),
                 F.count("*").alias("n")))


# --------------------------------------------------------------------- #
# F2/F3/F4 — scalar function families                                   #
# --------------------------------------------------------------------- #

@register("scalar_string_funcs", """
SELECT event_id,
       upper(event_type) AS type_upper,
       concat(event_type, '_', CAST(user_id AS VARCHAR)) AS type_user,
       substr(event_type, 1, 3) AS type_prefix,
       length(event_type) AS type_len,
       string_split(props, ':')[1] AS props_key,
       strftime(ts, '%Y-%m-%d') AS day_str
FROM events
""")
def scalar_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 string family: upper/concat/substr/length/split/date_format
    (reference base.py:1133,1644 split; 882,1392 concat; 765 strftime)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.upper("event_type").alias("type_upper"),
        F.concat(F.col("event_type"), F.lit("_"),
                 F.col("user_id").cast("string")).alias("type_user"),
        F.substring("event_type", 1, 3).alias("type_prefix"),
        F.length("event_type").cast("bigint").alias("type_len"),
        F.split("props", ":")[0].alias("props_key"),
        F.date_format("ts", "yyyy-MM-dd").alias("day_str"))


@register("scalar_date_funcs", """
SELECT event_id,
       CAST(ts AS DATE) AS day,
       CAST(date_part('dow', ts) AS INT) AS dow,
       CAST(date_part('hour', ts) AS INT) AS hour,
       CAST(date_trunc('week', CAST(ts AS DATE)) AS DATE) AS week_start,
       CAST(last_day(CAST(ts AS DATE)) AS DATE) AS month_end,
       CAST(CAST(ts AS DATE) + INTERVAL 30 DAY AS DATE) AS day_plus_30,
       CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS INT)
           AS days_since_start
FROM events
""")
def scalar_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3 date/time family (reference base.py:740-765,1179, borrowfee.py:53).
    Note Spark dayofweek is 1=Sunday; DuckDB dow is 0=Sunday → dayofweek-1."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.to_date("ts").alias("day"),
        (F.dayofweek("ts") - 1).cast("int").alias("dow"),
        F.hour("ts").cast("int").alias("hour"),
        F.trunc(F.to_date("ts"), "week").alias("week_start"),
        F.last_day("ts").alias("month_end"),
        F.date_add(F.to_date("ts"), 30).alias("day_plus_30"),
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
        .cast("int").alias("days_since_start"))


@register("scalar_conditional_caps", """
SELECT l_orderkey, l_linenumber,
       CASE WHEN l_quantity > 25 THEN 25.0 ELSE l_quantity END AS qty_capped,
       least(l_quantity, 25.0) AS qty_least,
       greatest(l_discount, 0.05) AS disc_floor,
       CASE WHEN l_returnflag = 'R' THEN -l_quantity ELSE l_quantity END
           AS signed_qty,
       abs(CASE WHEN l_returnflag = 'R' THEN -l_quantity ELSE l_quantity END)
           AS abs_qty,
       floor(l_extendedprice / 100.0) AS price_hundreds
FROM lineitem
""")
def scalar_conditional_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4/P6/P9-P11: when/otherwise, least/greatest caps, abs, round
    (reference base.py:959-966 caps, weight.py:35 np.where)."""
    li = load_table(spark, sf_dir, "lineitem")
    signed = F.when(F.col("l_returnflag") == "R",
                    -F.col("l_quantity")).otherwise(F.col("l_quantity"))
    return li.select(
        "l_orderkey", "l_linenumber",
        F.when(F.col("l_quantity") > 25, 25.0).otherwise(F.col("l_quantity"))
        .alias("qty_capped"),
        F.least(F.col("l_quantity"), F.lit(25.0)).alias("qty_least"),
        F.greatest(F.col("l_discount"), F.lit(0.05)).alias("disc_floor"),
        signed.alias("signed_qty"),
        F.abs(signed).alias("abs_qty"),
        F.floor(F.col("l_extendedprice") / 100.0).cast("double")
        .alias("price_hundreds"))


# --------------------------------------------------------------------- #
# distinct aggregation + percentiles                                    #
# --------------------------------------------------------------------- #

@register("signal_winsorized", f"""
WITH panel AS ({PANEL_SQL}), pq AS (
    SELECT date, list(close ORDER BY close) AS arr,
           CAST(0.1 AS DOUBLE) * (count(*) - 1) AS pos10,
           CAST(0.9 AS DOUBLE) * (count(*) - 1) AS pos90
    FROM panel GROUP BY date
), pi AS (
    SELECT date, arr, pos10, pos90,
           CAST(floor(pos10) AS BIGINT) AS lo10,
           CAST(ceil(pos10) AS BIGINT) AS hi10,
           CAST(floor(pos90) AS BIGINT) AS lo90,
           CAST(ceil(pos90) AS BIGINT) AS hi90
    FROM pq
), pct AS (
    SELECT date,
           CASE WHEN lo10 = hi10 OR arr[lo10 + 1] = arr[hi10 + 1]
                THEN arr[lo10 + 1]
                ELSE (hi10 - pos10) * arr[lo10 + 1]
                   + (pos10 - lo10) * arr[hi10 + 1] END AS p10,
           CASE WHEN lo90 = hi90 OR arr[lo90 + 1] = arr[hi90 + 1]
                THEN arr[lo90 + 1]
                ELSE (hi90 - pos90) * arr[lo90 + 1]
                   + (pos90 - lo90) * arr[hi90 + 1] END AS p90
    FROM pi
)
SELECT sid, p.date, close, p10, p90,
       least(greatest(close, p10), p90) AS winsorized,
       CAST(CASE WHEN close < p10 OR close > p90 THEN 1 ELSE 0 END AS INT)
           AS is_clipped
FROM panel p JOIN pct USING (date)
""")
# oracle note (r15 10x-decade pin): quantile_cont interpolates
# lo + frac*(hi-lo); Spark percentile() computes (hi-pos)*v_lo +
# (pos-lo)*v_hi — same value mathematically, 1 ulp apart on some inputs
# (seen at the 10x-replicated sf0.1: 5.44 vs 5.440000000000001, and the
# clip propagates the ulp into winsorized).  The oracle now computes
# Spark's exact formula over the sorted per-date list, so both engines
# are bit-identical at every scale; driver-SF values unchanged.
def signal_winsorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-sectional winsorization: clip each day's closes at that
    day's exact [p10, p90] — the standard outlier guard before ranking/
    z-scoring signals.  The per-date percentile table is dates-
    cardinality (bounded), so it broadcasts; the clip itself is a
    map-side least/greatest — one small aggregate plus zero extra
    shuffles of the panel."""
    panel = events_to_panel(spark, sf_dir)
    pct = (panel.groupBy("date")
           .agg(F.expr("percentile(close, 0.1)").alias("p10"),
                F.expr("percentile(close, 0.9)").alias("p90")))
    j = panel.join(F.broadcast(pct), "date")
    winsorized = F.least(F.greatest(F.col("close"), F.col("p10")),
                         F.col("p90"))
    return j.select(
        "sid", "date", "close", "p10", "p90",
        winsorized.alias("winsorized"),
        F.when((F.col("close") < F.col("p10"))
               | (F.col("close") > F.col("p90")), 1).otherwise(0)
        .cast("int").alias("is_clipped"))


@register("incremental_merge_panel", """
SELECT CAST(user_id AS VARCHAR) AS sid, CAST(ts AS DATE) AS date,
       arg_min(value, epoch_ns(ts)) AS open,
       arg_max(value, epoch_ns(ts)) AS close,
       max(value) AS high, min(value) AS low,
       CAST(count(*) AS DOUBLE) AS volume
FROM events GROUP BY 1, 2
""")
def incremental_merge_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental panel maintenance (sources/incremental.py): the tick
    stream is split into two arbitrary interleaved batches, each rolled
    up to a mergeable partial (open/close carried with first/last tick
    times), then combined with the column-wise merge — and the result
    must equal a full recomputation, which is exactly what the oracle
    computes directly.  This is the daily-ingestion path that turns 100 TB
    re-aggregation into a one-batch shuffle plus a touched-key merge."""
    from moonshot_spark.sources.incremental import (aggregate_ticks,
                                                    merge_panels)

    ev = load_table(spark, sf_dir, "events")
    part1 = aggregate_ticks(ev.where(F.col("event_id") % 2 == 0))
    part2 = aggregate_ticks(ev.where(F.col("event_id") % 2 == 1))
    return (merge_panels(part1, part2)
            .select("sid", "date", "open", "close", "high", "low",
                    "volume"))


@register("sliding_window_counts", """
WITH w AS (
    SELECT event_type, value,
           unnest([date_trunc('hour', ts) - INTERVAL 1 HOUR,
                   date_trunc('hour', ts)]) AS window_start
    FROM events
)
SELECT window_start, event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM w GROUP BY window_start, event_type
""")
def sliding_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping 2h-window / 1h-slide event counts per type — the batch
    form of ``streaming.stream_sliding_counts`` (same ``F.window`` expr,
    so the streaming path is regression-pinned against this oracle via
    ``test_streaming.test_stream_sliding_counts_matches_batch``).  The
    window Expand is map-side; the only shuffle is the final groupBy."""
    ev = load_table(spark, sf_dir, "events")
    return (ev.groupBy(F.window("ts", "2 hours", "1 hour").alias("w"),
                       "event_type")
            .agg(F.count("*").alias("n_events"),
                 F.sum(F.col("value").cast("decimal(18,2)"))
                 .cast("double").alias("sum_value"))
            .select(F.col("w.start").alias("window_start"), "event_type",
                    "n_events", "sum_value"))


@register("distinct_and_percentiles", """
SELECT event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(count(*) AS BIGINT) AS n_events,
       median(value) AS median_value,
       quantile_cont(value, 0.9) AS p90_value,
       min(value) AS min_value, max(value) AS max_value
FROM events GROUP BY event_type
""")
def distinct_and_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct aggregation + interpolated percentiles.  Spark
    percentile() and DuckDB quantile_cont both interpolate over the sorted
    values — deterministic given exact inputs."""
    ev = load_table(spark, sf_dir, "events")
    return (ev.groupBy("event_type")
            .agg(F.countDistinct("user_id").alias("n_users"),
                 F.count("*").alias("n_events"),
                 F.expr("percentile(value, 0.5)").alias("median_value"),
                 F.expr("percentile(value, 0.9)").alias("p90_value"),
                 F.min("value").alias("min_value"),
                 F.max("value").alias("max_value")))


# --------------------------------------------------------------------- #
# F5 — JSON parsing                                                     #
# --------------------------------------------------------------------- #

@register("json_extract_props", """
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_value,
       CAST(json_extract_string(props, '$.missing') AS BIGINT) AS missing_value
FROM events
""")
def json_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5: JSON field extraction (reference base.py:1838-1842 json.load)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("bigint").alias("k_value"),
        F.get_json_object("props", "$.missing").cast("bigint")
        .alias("missing_value"))


# --------------------------------------------------------------------- #
# TPC-H Q3 shape: 3-way join + agg + top-k                              #
# --------------------------------------------------------------------- #

@register("q3_shipping_priority", """
SELECT l.l_orderkey,
       CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
       CAST(o.o_orderdate AS DATE) AS order_date, o.o_orderpriority
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING' AND o.o_orderstatus <> 'F'
GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
""")
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter → 3-way join → agg → top-k.
    customer broadcasts; the orders⋈lineitem join shuffles on orderkey."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (li
            .join(orders.where(F.col("o_orderstatus") != "F"),
                  li.l_orderkey == orders.o_orderkey)
            .join(F.broadcast(cust.where(F.col("c_mktsegment") == "BUILDING")),
                  orders.o_custkey == cust.c_custkey)
            .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
            .agg(F.sum(F.col("l_extendedprice").cast("decimal(18,2)")
                       * (1 - F.col("l_discount").cast("decimal(18,2)")))
                 .cast("double").alias("revenue"))
            .select("l_orderkey", "revenue",
                    F.col("o_orderdate").cast("date").alias("order_date"),
                    "o_orderpriority")
            .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
            .limit(10))


# --------------------------------------------------------------------- #
# R3 — true row-set operations (UNION / INTERSECT / EXCEPT)             #
# --------------------------------------------------------------------- #

@register("set_ops_users", """
WITH purchasers AS (
    SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
), clickers AS (
    SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
), errorers AS (
    SELECT DISTINCT user_id FROM events WHERE event_type = 'error'
)
SELECT user_id, 'purchase_and_click' AS segment
FROM (SELECT user_id FROM purchasers INTERSECT SELECT user_id FROM clickers)
UNION ALL
SELECT user_id, 'purchase_not_error' AS segment
FROM (SELECT user_id FROM purchasers EXCEPT SELECT user_id FROM errorers)
UNION ALL
SELECT user_id, 'any_activity' AS segment
FROM (SELECT user_id FROM purchasers UNION SELECT user_id FROM clickers)
""")
def set_ops_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")

    def users(t):
        return ev.where(F.col("event_type") == t).select("user_id").distinct()

    purchasers, clickers, errorers = users("purchase"), users("click"), users("error")
    return (purchasers.intersect(clickers)
            .withColumn("segment", F.lit("purchase_and_click"))
            .unionByName(purchasers.exceptAll(errorers).distinct()
                         .withColumn("segment", F.lit("purchase_not_error")))
            .unionByName(purchasers.union(clickers).distinct()
                         .withColumn("segment", F.lit("any_activity"))))


# --------------------------------------------------------------------- #
# TPC-H Q5 shape: 5-way star join                                       #
# --------------------------------------------------------------------- #

@register("q5_region_revenue", """
SELECT n.n_name AS nation,
       CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
       CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem l
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name IN ('ASIA', 'EUROPE')
GROUP BY n.n_name
""")
def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: snowflake dim chain (region→nation→supplier) joined
    to the fact table.  All three dims broadcast; the only shuffle is the
    final aggregation."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    dims = (supp
            .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
            .join(F.broadcast(region.where(F.col("r_name")
                                           .isin("ASIA", "EUROPE"))),
                  nation.n_regionkey == region.r_regionkey))
    return (li.join(F.broadcast(dims), li.l_suppkey == dims.s_suppkey)
            .groupBy(F.col("n_name").alias("nation"))
            .agg(F.sum(F.col("l_extendedprice").cast("decimal(18,2)")
                       * (1 - F.col("l_discount").cast("decimal(18,2)")))
                 .cast("double").alias("revenue"),
                 F.count("*").alias("n_lines")))


@register("q7_nation_volume", """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l.l_shipdate) AS INT) AS l_year,
       CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE)
           AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
WHERE (n1.n_name = 'NATION_0' AND n2.n_name = 'NATION_1')
   OR (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_0')
GROUP BY n1.n_name, n2.n_name, year(l.l_shipdate)
""")
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape (bilateral trade volume by year): fact ⋈ fact
    (lineitem⋈orders) plus four broadcast dims.  The nation filter
    reaches the dim scans (pushed down pre-broadcast), so the only real
    shuffle is the lineitem⋈orders key exchange — and AQE converts even
    that to broadcast when the filtered orders side is small."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    n1 = nation.select(F.col("n_nationkey").alias("n1_key"),
                       F.col("n_name").alias("supp_nation"))
    n2 = nation.select(F.col("n_nationkey").alias("n2_key"),
                       F.col("n_name").alias("cust_nation"))
    cdim = cust.join(F.broadcast(n2), cust.c_nationkey == F.col("n2_key"))
    sdim = supp.join(F.broadcast(n1), supp.s_nationkey == F.col("n1_key"))
    j = (li.join(orders, li.l_orderkey == orders.o_orderkey)
         .join(F.broadcast(cdim), F.col("o_custkey") == cdim.c_custkey)
         .join(F.broadcast(sdim), li.l_suppkey == sdim.s_suppkey)
         .where(((F.col("supp_nation") == "NATION_0")
                 & (F.col("cust_nation") == "NATION_1"))
                | ((F.col("supp_nation") == "NATION_1")
                   & (F.col("cust_nation") == "NATION_0"))))
    return (j.groupBy("supp_nation", "cust_nation",
                      F.year("l_shipdate").cast("int").alias("l_year"))
            .agg(F.sum(F.col("l_extendedprice").cast("decimal(18,2)")
                       * (1 - F.col("l_discount").cast("decimal(18,2)")))
                 .cast("double").alias("revenue")))


@register("q10_returned_revenue", """
SELECT c.c_custkey, c.c_name, n.n_name AS nation,
       CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE)
           AS revenue
FROM customer c
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1996-04-01'
  AND l.l_returnflag = 'R'
GROUP BY c.c_custkey, c.c_name, n.n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
""")
def q10_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape (top customers by returned-item revenue in a
    quarter): both filters are pushed to the scans (date range on orders,
    returnflag on lineitem), the quarter's orders broadcast into the
    lineitem join, and the top-k is a deterministic total order
    (revenue DESC, custkey) so both engines pick the same 20 rows."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    o = orders.where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp")))
    lr = li.where(F.col("l_returnflag") == "R")
    cdim = cust.join(F.broadcast(nation),
                     cust.c_nationkey == nation.n_nationkey)
    j = (lr.join(F.broadcast(o), lr.l_orderkey == o.o_orderkey)
         .join(F.broadcast(cdim), F.col("o_custkey") == cdim.c_custkey))
    return (j.groupBy("c_custkey", "c_name", F.col("n_name").alias("nation"))
            .agg(F.sum(F.col("l_extendedprice").cast("decimal(18,2)")
                       * (1 - F.col("l_discount").cast("decimal(18,2)")))
                 .cast("double").alias("revenue"))
            .orderBy(F.desc("revenue"), F.asc("c_custkey"))
            .limit(20))


@register("q18_large_orders", """
WITH big AS (
    SELECT l_orderkey,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
    FROM lineitem GROUP BY l_orderkey
    HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 250
)
SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
       o.o_totalprice, b.total_qty
FROM big b
JOIN orders o ON o.o_orderkey = b.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
""")
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume orders): the HAVING aggregate runs
    first with map-side partial sums, and only the surviving order keys
    join back to orders/customer — the orders side of that join is
    broadcast-size because big orders are rare."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (li.groupBy("l_orderkey")
           .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)"))
                .alias("__q"))
           .where(F.col("__q") > 250)
           .select("l_orderkey", F.col("__q").cast("double")
                   .alias("total_qty")))
    return (big.join(orders, big.l_orderkey == orders.o_orderkey)
            .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
            .select("c_name", "c_custkey", "o_orderkey", "o_orderdate",
                    "o_totalprice", "total_qty"))


def _zorder_oracle_sql() -> str:
    from moonshot_spark.plans.zorder import z_value_sql

    z = z_value_sql("l_partkey", "l_suppkey", bits=16)
    return f"""
WITH z AS (
    SELECT l_partkey, l_suppkey, l_orderkey, l_linenumber,
           {z} AS zv
    FROM lineitem
), b AS (
    SELECT l_partkey, l_suppkey,
           ntile(16) OVER (ORDER BY zv, l_orderkey, l_linenumber) AS bucket
    FROM z
)
SELECT bucket, min(l_partkey) AS min_l_partkey,
       max(l_partkey) AS max_l_partkey,
       min(l_suppkey) AS min_l_suppkey,
       max(l_suppkey) AS max_l_suppkey,
       CAST(count(*) AS BIGINT) AS n_rows
FROM b GROUP BY bucket
"""


@register("zorder_layout_stats", _zorder_oracle_sql())
def zorder_layout_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout of lineitem on (l_partkey, l_suppkey):
    interleave the key bits (pure codegen'd shift/mask expression, no
    UDF), cut the z-sorted order into 16 equal files, and report each
    file's min/max range of BOTH keys — the row-group metadata a
    selective scan prunes on.  The oracle SQL is generated from the same
    unrolled-bit loop as the Spark expression, so the layouts are
    bit-identical across engines.  The cut is the TeraSort two-phase
    exact rank (range shuffle + per-partition offsets), NOT a global
    ntile window — no single-task funnel at any scale; see
    ``plans/zorder.py`` (``zorder_write`` is the streaming write path)."""
    from moonshot_spark.plans.zorder import zorder_bucket_stats

    li = load_table(spark, sf_dir, "lineitem")
    return zorder_bucket_stats(li, "l_partkey", "l_suppkey", n_buckets=16,
                               tiebreak=["l_orderkey", "l_linenumber"])


@register("cube_revenue", """
SELECT coalesce(l_returnflag, '<all>') AS returnflag,
       coalesce(l_linestatus, '<all>') AS linestatus,
       CAST(GROUPING(l_returnflag, l_linestatus) AS INT) AS grouping_id,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
           AS revenue,
       CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
""")
def cube_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE aggregation (all 2^k grouping-set combinations in one pass):
    Spark expands the cube map-side and partially aggregates every
    grouping set before the single shuffle.  grouping_id disambiguates
    natural NULL keys from subtotal rows — standard-SQL bit encoding,
    identical across engines."""
    li = load_table(spark, sf_dir, "lineitem")
    return (li.cube("l_returnflag", "l_linestatus")
            .agg(F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
                 .cast("double").alias("revenue"),
                 F.count("*").alias("n_lines"),
                 F.grouping_id().cast("int").alias("grouping_id"))
            .select(F.coalesce("l_returnflag", F.lit("<all>"))
                    .alias("returnflag"),
                    F.coalesce("l_linestatus", F.lit("<all>"))
                    .alias("linestatus"),
                    "grouping_id", "revenue", "n_lines"))


@register("rolling_median", """
WITH panel AS (
    SELECT CAST(user_id AS VARCHAR) AS sid, CAST(ts AS DATE) AS date,
           arg_max(value, ts) AS close
    FROM events GROUP BY sid, CAST(ts AS DATE)
)
SELECT sid, date,
       CASE WHEN count(close) OVER w >= 5 THEN median(close) OVER w END
           AS med5
FROM panel
WINDOW w AS (PARTITION BY sid ORDER BY date
             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
""")
def rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact rolling median over a 5-row trailing frame with
    min_periods=5 (pandas rolling(5).median() semantics, SURVEY §2.5
    W1 family).  Medians are order statistics — no accumulation, so
    doubles match bit-for-bit across engines (the even-count case is
    one add + one halving, identical in both)."""
    panel = events_to_panel(spark, sf_dir).select("sid", "date", "close")
    w = (Window.partitionBy("sid").orderBy("date")
         .rowsBetween(-4, Window.currentRow))
    # Spark bars median() from framed windows; for a 5-row frame the
    # median IS the 3rd order statistic of the sorted frame — identical
    # to the oracle's odd-count median, no interpolation involved
    frame = F.array_sort(F.collect_list("close").over(w))
    return panel.select(
        "sid", "date",
        F.when(F.size(frame) >= 5, F.element_at(frame, 3)).alias("med5"))


@register("twap_daily", """
WITH ticks AS (
    SELECT CAST(user_id AS VARCHAR) AS sid, CAST(ts AS DATE) AS date,
           epoch_us(ts) AS t_us,
           CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS px_c
    FROM events
), spans AS (
    SELECT sid, date, px_c,
           lead(t_us) OVER (PARTITION BY sid, date ORDER BY t_us) - t_us
               AS dt_us
    FROM ticks
)
SELECT sid, date,
       CAST(CAST(sum(px_c * dt_us) AS BIGINT) AS DOUBLE)
           / CAST(CAST(sum(dt_us) AS BIGINT) * 100 AS DOUBLE) AS twap,
       CAST(count(*) AS BIGINT) AS n_spans
FROM spans WHERE dt_us IS NOT NULL AND dt_us > 0
GROUP BY sid, date
""")
def twap_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average price per (sid, day): each tick's price is
    weighted by its holding span to the next tick.  The whole
    accumulation is int64 (price in cents × span in µs — prices are
    2-decimal money, spans integer) so sums are EXACT in any engine and
    partitioning; int64→double conversion is IEEE-defined (unlike
    decimal→double, which drifted 1e-14 between engines — PERF.md
    "Cross-engine float rules"), and the one division happens once at
    the end."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("sid", "date").orderBy("t_us")
    ticks = (ev.select(F.col("user_id").cast("string").alias("sid"),
                       F.to_date("ts").alias("date"),
                       F.expr("ts_ns div 1000").alias("t_us"),
                       (F.col("value").cast("decimal(18,2)") * 100)
                       .cast("bigint").alias("px_c")))
    spans = ticks.withColumn("dt_us", F.lead("t_us").over(w) - F.col("t_us"))
    return (spans.where(F.col("dt_us").isNotNull() & (F.col("dt_us") > 0))
            .groupBy("sid", "date")
            .agg((F.sum(F.col("px_c") * F.col("dt_us")).cast("double")
                  / (F.sum("dt_us") * 100).cast("double")).alias("twap"),
                 F.count("*").alias("n_spans")))


# --------------------------------------------------------------------- #
# correlated / scalar subquery                                          #
# --------------------------------------------------------------------- #

@register("parts_above_brand_avg", """
SELECT p.p_partkey, p.p_brand, p.p_retailprice,
       p.p_retailprice - b.brand_avg AS price_vs_brand
FROM part p
JOIN (
    SELECT p_brand,
           CAST(sum(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE)
               / count(*) AS brand_avg
    FROM part GROUP BY p_brand
) b ON p.p_brand = b.p_brand
WHERE p.p_retailprice > b.brand_avg
""")
def parts_above_brand_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-subquery shape (price above group average), decorrelated
    into an aggregate + self-join — the plan Catalyst produces for the
    correlated form, written explicitly for oracle-exact decimal math."""
    part = load_table(spark, sf_dir, "part")
    brand_avg = (part.groupBy("p_brand")
                 .agg((F.sum(F.col("p_retailprice").cast("decimal(18,2)"))
                       .cast("double") / F.count("*")).alias("brand_avg")))
    return (part.join(F.broadcast(brand_avg), "p_brand")
            .where(F.col("p_retailprice") > F.col("brand_avg"))
            .select("p_partkey", "p_brand", "p_retailprice",
                    (F.col("p_retailprice") - F.col("brand_avg"))
                    .alias("price_vs_brand")))


# --------------------------------------------------------------------- #
# approximate aggregates (rows-only: approx algorithms differ by engine) #
# --------------------------------------------------------------------- #

@register("approx_aggregates", """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       TRUE AS users_in_bounds,
       TRUE AS median_in_bounds
FROM events
GROUP BY event_type
""")
def approx_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ approx distinct + approx percentiles, with a *verifiable*
    contract: sketch outputs differ by engine, so instead of emitting the
    raw sketch values the query emits relative-error booleans checked
    against the exact aggregates computed in the same pass.  The DuckDB
    oracle asserts the booleans are all TRUE (plus the exact group counts),
    turning the sketch accuracy claim into a hash-checkable row.

    Bounds: HLL++ at rsd=0.02 is well within 10% at these cardinalities.
    The median check is RANK-based, not value-based: percentile_approx at
    accuracy=10000 guarantees rank error <= n/10000 regardless of value
    gaps, so asserting "count(value < approx_median) and
    count(value <= approx_median) straddle n/2 within n/1000 + 1 ranks" is
    structurally TRUE for any data (a value-distance bound would flip on
    even-count groups whose two middle values are far apart)."""
    ev = load_table(spark, sf_dir, "events")
    agg = (ev.groupBy("event_type")
           .agg(F.approx_count_distinct("user_id", rsd=0.02)
                .alias("approx_users"),
                F.countDistinct("user_id").alias("exact_users"),
                F.percentile_approx("value", 0.5, 10000)
                .alias("approx_median"),
                F.count("*").alias("n")))
    # second pass: exact rank of the sketch median within each group.
    # agg is group-cardinality rows — broadcast it back onto the fact table.
    ranks = (ev.join(F.broadcast(agg.select("event_type", "approx_median")),
                     "event_type")
             .groupBy("event_type")
             .agg(F.count(F.when(F.col("value") < F.col("approx_median"), 1))
                  .alias("n_below"),
                  F.count(F.when(F.col("value") <= F.col("approx_median"), 1))
                  .alias("n_at_or_below")))
    joined = agg.join(ranks, "event_type")
    users_ok = (F.abs(F.col("approx_users") - F.col("exact_users"))
                <= 0.10 * F.col("exact_users"))
    rank_tol = F.col("n") / 1000 + 1
    median_ok = ((F.col("n_below") <= F.col("n") / 2 + rank_tol)
                 & (F.col("n_at_or_below") >= F.col("n") / 2 - rank_tol))
    return joined.select("event_type", "n",
                         users_ok.alias("users_in_bounds"),
                         median_ok.alias("median_in_bounds"))


# --------------------------------------------------------------------- #
# funnel: signup → first subsequent purchase per user                   #
# --------------------------------------------------------------------- #

@register("funnel_signup_purchase", """
WITH signups AS (
    SELECT user_id, min(ts) AS signup_ts FROM events
    WHERE event_type = 'signup' GROUP BY user_id
), purchases AS (
    SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'
), first_purchase AS (
    SELECT s.user_id, s.signup_ts,
           min(p.ts) AS first_purchase_ts
    FROM signups s LEFT JOIN purchases p
      ON p.user_id = s.user_id AND p.ts >= s.signup_ts
    GROUP BY s.user_id, s.signup_ts
)
SELECT user_id, signup_ts, first_purchase_ts,
       CAST(CASE WHEN first_purchase_ts IS NOT NULL
            THEN date_diff('second', signup_ts, first_purchase_ts) END
            AS BIGINT) AS seconds_to_convert
FROM first_purchase
""")
def funnel_signup_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion funnel: each user's first signup and first purchase at or
    after it — the event-sequence pattern (min-aggregates + conditional
    join, no ordered state needed)."""
    ev = load_table(spark, sf_dir, "events")
    signups = (ev.where(F.col("event_type") == "signup")
               .groupBy("user_id").agg(F.min("ts").alias("signup_ts"),
                                       F.min("ts_ns").alias("__s_ns")))
    purchases = (ev.where(F.col("event_type") == "purchase")
                 .select(F.col("user_id").alias("__p_user"),
                         F.col("ts").alias("__p_ts"),
                         F.col("ts_ns").alias("__p_ns")))
    joined = (signups.join(purchases,
                           (F.col("user_id") == F.col("__p_user"))
                           & (F.col("__p_ns") >= F.col("__s_ns")), "left")
              .drop("__p_user"))
    out = (joined.groupBy("user_id", "signup_ts")
           .agg(F.min("__p_ts").alias("first_purchase_ts")))
    secs = (F.col("first_purchase_ts").cast("long")
            - F.col("signup_ts").cast("long"))
    return out.select("user_id", "signup_ts", "first_purchase_ts",
                      F.when(F.col("first_purchase_ts").isNotNull(), secs)
                      .alias("seconds_to_convert"))


# --------------------------------------------------------------------- #
# rank-function family (ntile / percent_rank / cume_dist / nth_value)   #
# --------------------------------------------------------------------- #

@register("rank_functions", f"""
WITH panel AS ({PANEL_SQL})
SELECT sid, date, close,
       CAST(ntile(4) OVER wd AS INT) AS quartile,
       percent_rank() OVER wd AS pct_rank,
       cume_dist() OVER wd AS cume,
       first_value(close) OVER wd AS day_min_close,
       nth_value(close, 2) OVER (PARTITION BY date ORDER BY close
           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
           AS day_2nd_close
FROM panel
WINDOW wd AS (PARTITION BY date ORDER BY close, sid)
""")
def rank_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full rank-function family over the daily cross-section (ties
    broken by sid for determinism)."""
    panel = events_to_panel(spark, sf_dir)
    wd = Window.partitionBy("date").orderBy("close", "sid")
    wd_full = (Window.partitionBy("date").orderBy("close")
               .rowsBetween(Window.unboundedPreceding,
                            Window.unboundedFollowing))
    return panel.select(
        "sid", "date", "close",
        F.ntile(4).over(wd).cast("int").alias("quartile"),
        F.percent_rank().over(wd).alias("pct_rank"),
        F.cume_dist().over(wd).alias("cume"),
        F.first("close").over(wd).alias("day_min_close"),
        F.nth_value("close", 2).over(wd_full).alias("day_2nd_close"))


# --------------------------------------------------------------------- #
# last-touch attribution: purchases credited to the preceding channel   #
# --------------------------------------------------------------------- #

@register("attribution_last_touch", """
WITH ordered AS (
    SELECT user_id, ts, event_id, event_type, value,
           last_value(CASE WHEN event_type IN ('view', 'click', 'signup')
                           THEN event_type END IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS channel
    FROM events
)
SELECT coalesce(channel, 'direct') AS channel,
       CAST(count(*) AS BIGINT) AS n_purchases,
       CAST(sum(CAST(value AS DECIMAL(18,3))) AS DOUBLE) AS revenue
FROM ordered
WHERE event_type = 'purchase'
GROUP BY 1
""")
def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marketing-style last-touch attribution: each purchase is credited
    to the user's most recent preceding engagement channel (view / click /
    signup), 'direct' when none precedes.  A single IGNORE-NULLS last()
    over the per-user event stream — one shuffle by user_id, then a tiny
    channel rollup (map-side partial agg).  Revenue is summed through
    DECIMAL so the cross-engine doubles are exact.  Ordering ties on ts
    are broken by event_id so the attribution is deterministic."""
    events = load_table(spark, sf_dir, "events")
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    channel = F.last(
        F.when(F.col("event_type").isin("view", "click", "signup"),
               F.col("event_type")),
        ignorenulls=True).over(w)
    return (events
            .withColumn("channel", channel)
            .where(F.col("event_type") == "purchase")
            .groupBy(F.coalesce(F.col("channel"),
                                F.lit("direct")).alias("channel"))
            .agg(F.count("*").alias("n_purchases"),
                 F.sum(F.col("value").cast("decimal(18,3)"))
                  .cast("double").alias("revenue")))


# --------------------------------------------------------------------- #
# market-basket co-occurrence similarity (recsys over lineitem baskets) #
# --------------------------------------------------------------------- #

@register("item_cooccurrence", """
WITH items AS (
    SELECT DISTINCT l_orderkey AS basket, l_partkey AS item FROM lineitem
),
sized AS (
    SELECT basket FROM items GROUP BY basket HAVING count(*) <= 50
),
freq AS (
    SELECT item, CAST(count(*) AS BIGINT) AS cnt FROM items
    GROUP BY item HAVING count(*) >= 2
),
fi AS (
    SELECT i.basket, i.item FROM items i
    JOIN sized USING (basket) JOIN freq USING (item)
),
pairs AS (
    SELECT a.item AS item_a, b.item AS item_b,
           CAST(count(*) AS BIGINT) AS n_ab
    FROM fi a JOIN fi b ON a.basket = b.basket AND a.item < b.item
    GROUP BY 1, 2
)
SELECT p.item_a, p.item_b, p.n_ab,
       CAST(p.n_ab AS DOUBLE)
           / sqrt(CAST(fa.cnt AS DOUBLE) * CAST(fb.cnt AS DOUBLE)) AS cosine
FROM pairs p
JOIN freq fa ON p.item_a = fa.item
JOIN freq fb ON p.item_b = fb.item
WHERE p.n_ab >= 2
""")
def item_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket item-item similarity: parts co-purchased within an
    order, cosine = n_ab / sqrt(n_a * n_b), support >= 2.  The quadratic
    edge is guarded twice before the self-join ever runs: baskets larger
    than 50 items are dropped (per-basket pair count is bounded at
    50·49/2) and items seen in fewer than 2 baskets are pruned (they
    cannot form a support-2 pair).  The self-join shuffles both sides by
    basket once; the item-frequency join is a small dim (broadcast /
    AQE).  This is the co-occurrence kernel of item-based collaborative
    filtering and of phrase-mining pipelines — at 100 TB the support
    pre-filter is what keeps the pair space linear in the basket count.

    Plan shape: ONE scan of lineitem and THREE serial exchanges total
    (item, basket, pair — was four; VERDICT r11 item 3).  The dedup
    aggregate only needs rows CLUSTERED by (basket, item), and
    hashpartitioning(item) already satisfies that — so one explicit
    repartition by item feeds the distinct AND the item-count window in
    a single stage, eliminating the separate (basket, item) distinct
    exchange.  The tradeoff is no map-side partial dedup before that
    shuffle, which is free here: (basket, item) has essentially no
    intra-partition duplicates (a part rarely repeats within one
    order), so the partial agg was shuffling the same rows anyway.
    Both guards are window counts over the deduped frame — not
    groupBy+join-back, which would re-scan the fact table once per
    guard — and the per-item frequency rides through the self-join as
    a carried column, so no trailing dim joins either.  The
    basket-count window runs last, leaving the frame hash-partitioned
    by basket exactly as the self-join wants it; the join's two inputs
    are identical subplans, which Spark collapses into a single
    ReusedExchange."""
    li = load_table(spark, sf_dir, "lineitem")
    nparts = shuffle_partitions(spark)
    items = (li.select(F.col("l_orderkey").alias("basket"),
                       F.col("l_partkey").alias("item"))
             .repartition(nparts, "item")
             .dropDuplicates(["basket", "item"]))
    wi = Window.partitionBy("item")
    wb = Window.partitionBy("basket")
    fi = (items
          .withColumn("cnt", F.count("*").over(wi))
          .withColumn("bs", F.count("*").over(wb))
          .where((F.col("bs") <= 50) & (F.col("cnt") >= 2))
          .select("basket", "item", "cnt"))
    a = fi.select("basket", F.col("item").alias("item_a"),
                  F.col("cnt").alias("cnt_a"))
    b = fi.select("basket", F.col("item").alias("item_b"),
                  F.col("cnt").alias("cnt_b"))
    # NO merge hint here (r12 negative result): a hint node breaks the
    # two sides' subplan identity, which costs the single ReusedExchange
    # that feeds this join from the basket window — the whole fi lineage
    # then computes TWICE (100x: 13 s -> 61 s when tried).  AQE picks
    # the shuffle join on its own once the side outgrows the broadcast
    # threshold; the 10x broadcast it picks below that is a one-task
    # relation build of a side that the reused exchange makes cheap.
    pairs = (a.join(b, "basket")
             .where(F.col("item_a") < F.col("item_b"))
             .groupBy("item_a", "item_b", "cnt_a", "cnt_b")
             .agg(F.count("*").alias("n_ab"))
             .where(F.col("n_ab") >= 2))
    cos = (F.col("n_ab").cast("double")
           / F.sqrt(F.col("cnt_a").cast("double")
                    * F.col("cnt_b").cast("double")))
    return pairs.select("item_a", "item_b", "n_ab", cos.alias("cosine"))


# --------------------------------------------------------------------- #
# graph analytics over the co-purchase graph: PageRank + triangles      #
# --------------------------------------------------------------------- #

def _copurchase_edges(spark: SparkSession, sf_dir: str,
                      checkpoint: bool = False):
    """Symmetric support-2 co-purchase edge list + per-node degree
    (shared by pagerank_copurchase / triangle_count /
    label_propagation_communities).  The basket-size guard is a window
    count over one deduped lineage, not groupBy+join-back, so lineitem
    is scanned once; the item-frequency guard is subsumed by the pair
    support filter (see the in-body proof).

    ``checkpoint=True`` eagerly localCheckpoints the EDGE list and
    derives the degree table FROM that checkpoint (then checkpoints the
    tiny aggregate too).  Callers used to checkpoint the two returned
    frames separately, which executed the whole basket self-join
    pipeline TWICE — edges and deg share the expensive lineage (r13:
    1.5-1.8 s each at sf0.1, so ~1.6 s of pure recompute per graph
    query; the deg aggregate over the materialized edges is ~0.05 s)."""
    li = load_table(spark, sf_dir, "lineitem")
    # ONE exchange keyed on `basket` serves the dedup, the basket-size
    # window AND the self-join (r15; one shuffle per key, not per
    # consumer): hash partitioning on
    # `basket` satisfies the dedup aggregate's ClusteredDistribution(
    # [basket, item]) (subset key) and IS the pair-join key.  The item-
    # frequency window (`cnt >= 2`, the graph definition's support
    # prefilter) is NOT computed at all — it is provably redundant with
    # the pair filter `n_ab >= 2` below: a pair co-occurring in >= 2
    # baskets forces BOTH endpoints into >= 2 baskets, and `freq`
    # membership is a global item property (all of a frequent item's
    # rows survive), so the surviving pairs and their counts are
    # bit-identical with or without it (the oracle keeps the freq CTE;
    # results proven equal at sf0.1 and x10).  Plan: Exchange(basket)
    # -> dedup -> Window(bs) -> self-join: ONE full exchange and ONE
    # window sort before the pair aggregate, vs item-Exchange + 2
    # windows + basket-Exchange in the earlier form (x10 A/B
    # 3.76 -> 3.23 s min-of-4, new faster in all 4 rounds).
    items = (li.select(F.col("l_orderkey").alias("basket"),
                       F.col("l_partkey").alias("item"))
             .repartition(F.col("basket"))
             .dropDuplicates())
    fi = (items
          .withColumn("bs", F.count("*").over(Window.partitionBy("basket")))
          .where(F.col("bs") <= 50)
          .select("basket", "item"))
    a = fi.select("basket", F.col("item").alias("item_a"))
    b = fi.select("basket", F.col("item").alias("item_b"))
    pairs = (a.join(b, "basket")
             .where(F.col("item_a") < F.col("item_b"))
             .groupBy("item_a", "item_b")
             .agg(F.count("*").alias("n_ab"))
             .where(F.col("n_ab") >= 2)
             .select("item_a", "item_b"))
    edges = (pairs.select(F.col("item_a").alias("src"),
                          F.col("item_b").alias("dst"))
             .unionByName(pairs.select(F.col("item_b").alias("src"),
                                       F.col("item_a").alias("dst"))))
    if checkpoint:
        edges = materialize.checkpoint(edges)
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count("*").alias("deg"))
    if checkpoint:
        deg = materialize.checkpoint(deg)
    return edges, deg


def _orient_copurchase(edges: DataFrame, deg: DataFrame) -> DataFrame:
    """Degree-orient the symmetric co-purchase edge list: each undirected
    edge points from its (deg, id)-smaller endpoint to the larger, so a
    hub's wedges are generated only from its LOWER-degree neighbors and
    every out-degree is bounded by O(sqrt(|E|)) (Suri & Vassilvitskii) —
    the property the skew bench measures directly on the hot-node
    replicas (tools/scale_bench.py)."""
    pairs = edges.where(F.col("src") < F.col("dst")).select(
        F.col("src").alias("item_a"), F.col("dst").alias("item_b"))
    da = deg.select(F.col("node").alias("item_a"),
                    F.col("deg").alias("deg_a"))
    db = deg.select(F.col("node").alias("item_b"),
                    F.col("deg").alias("deg_b"))
    keyed = pairs.join(da, "item_a").join(db, "item_b")
    a_first = ((F.col("deg_a") < F.col("deg_b"))
               | ((F.col("deg_a") == F.col("deg_b"))
                  & (F.col("item_a") < F.col("item_b"))))
    return keyed.select(
        F.when(a_first, F.col("item_a")).otherwise(F.col("item_b"))
         .alias("u"),
        F.when(a_first, F.col("item_b")).otherwise(F.col("item_a"))
         .alias("v"))


def _pagerank_sql_iter(prev: str, out: str) -> str:
    """One unrolled PageRank iteration for the DuckDB oracle: neighbor
    contributions integer-quantized (floor at 1e-15) so the per-dst sum
    is ORDER-INDEPENDENT and bit-exact across engines — matching Spark's
    plain bigint sum (no sorted-array fold; VERDICT r11 item 5)."""
    return f"""
{out}_raw AS (
    SELECT e.dst AS node, nn.n,
           0.15 / nn.n + 0.85 * (CAST(sum(
               CAST(floor(p.r / CAST(p.deg AS DOUBLE)
                          * 1000000000000000.0) AS BIGINT)
           ) AS DOUBLE) / 1000000000000000.0) AS r
    FROM edges e JOIN {prev} p ON e.src = p.node CROSS JOIN nn
    GROUP BY e.dst, nn.n
),
{out} AS (
    SELECT i.node, d.deg, i.r FROM {out}_raw i
    JOIN deg d ON i.node = d.node
)
"""


@register("pagerank_copurchase", f"""
WITH {COPURCHASE_GRAPH_SQL},
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM deg),
r0 AS (SELECT node, deg, 1.0 / nn.n AS r FROM deg CROSS JOIN nn),
{_pagerank_sql_iter('r0', 'r1').strip().rstrip(',')},
{_pagerank_sql_iter('r1', 'r2').strip()},
{_pagerank_sql_iter('r2', 'r3').strip()}
SELECT node, deg, r AS pagerank FROM r3
""")
def pagerank_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (damping 0.85, 3 synchronous iterations) over the
    symmetric co-purchase graph — the canonical iterative graph workload,
    expressed as chained DataFrame joins (one shuffle by src per
    iteration; degrees and ranks ride the same hash partitioning so AQE
    reuses the exchange).  Every per-node neighbor sum is INTEGER-
    QUANTIZED (floor at the 1e-15 quantum) and summed as a bigint — an
    order-independent exact sum, bit-identical across engines, that
    partial aggregation combines MAP-SIDE: a 784k-degree hub's
    contributions collapse to one partial per task before the shuffle,
    instead of materializing+sorting a 784k-struct array on one reducer
    (the r11 50x-skew hot spot; VERDICT item 5).  Total rank mass is 1,
    so the quantized sum is bounded by 1e15 regardless of graph size —
    no overflow at any scale — and the <=deg*1e-15 floor bias is
    deterministic on both engines.  At 100 TB the iteration count is
    fixed and each step is a self-contained shuffle: no driver-side
    graph state, no collect.  The edge list and degree table are
    localCheckpoint-ed once (same idiom as datapipe/graph.py CC): each
    of the 3 iterations re-references them, and without the checkpoint
    every iteration would re-run the whole basket self-join — measured
    3.1 s → ~1 s at sf0.1."""
    edges, deg = _copurchase_edges(spark, sf_dir, checkpoint=True)
    n_nodes = float(deg.count())
    ranks = deg.withColumn("r", F.lit(1.0 / n_nodes))
    Q = F.lit(1000000000000000.0)
    for _ in range(3):
        contrib = (edges.join(ranks, edges.src == ranks.node)
                   .select(F.col("dst"),
                           F.floor(F.col("r") / F.col("deg").cast("double")
                                   * Q).cast("bigint").alias("cq")))
        new_r = (contrib.groupBy(F.col("dst").alias("node"))
                 .agg((F.lit(0.15) / F.lit(n_nodes)
                       + F.lit(0.85)
                       * (F.sum("cq").cast("double") / Q)).alias("r")))
        ranks = new_r.join(deg, "node").select("node", "deg", "r")
    return ranks.select("node", "deg", F.col("r").alias("pagerank"))


@register("triangle_count", f"""
WITH {COPURCHASE_GRAPH_SQL},
ori AS (
    -- orient each undirected edge from the (deg, id)-smaller endpoint to
    -- the larger: every wedge scan is bounded by the arboricity, the
    -- standard near-linear triangle orientation
    SELECT CASE WHEN (da.deg, p.item_a) < (db.deg, p.item_b)
                THEN p.item_a ELSE p.item_b END AS u,
           CASE WHEN (da.deg, p.item_a) < (db.deg, p.item_b)
                THEN p.item_b ELSE p.item_a END AS v
    FROM pairs p
    JOIN deg da ON p.item_a = da.node
    JOIN deg db ON p.item_b = db.node
),
tri AS (
    SELECT o1.u AS a, o1.v AS b, o2.v AS c
    FROM ori o1 JOIN ori o2 ON o1.v = o2.u
    JOIN ori o3 ON o3.u = o1.u AND o3.v = o2.v
)
SELECT CAST((SELECT count(*) FROM tri) AS BIGINT) AS n_triangles,
       CAST((SELECT count(*) FROM pairs) AS BIGINT) AS n_edges,
       CAST((SELECT count(*) FROM deg) AS BIGINT) AS n_nodes
""")
def triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global triangle count over the co-purchase graph via degree
    orientation: each undirected edge points from its (deg, id)-smaller
    endpoint to the larger, wedges are closed with a third join — the
    classic MapReduce formulation (Suri & Vassilvitskii's 'Counting
    triangles and the curse of the last reducer'); orientation bounds
    every node's out-degree by O(sqrt(edges)) on skewed graphs, so no
    reducer sees a hub's full neighborhood squared.  Three shuffles on
    node keys, all-integer output (hash-stable by construction).  The
    oriented edge list is localCheckpoint-ed: the wedge join references
    it three times (o1/o2/o3), which would otherwise re-run the basket
    self-join three times."""
    edges, deg = _copurchase_edges(spark, sf_dir, checkpoint=True)
    ori = _orient_copurchase(edges, deg)
    o1 = ori.select(F.col("u").alias("a"), F.col("v").alias("b"))
    o2 = ori.select(F.col("u").alias("b"), F.col("v").alias("c"))
    o3 = ori.select(F.col("u").alias("a"), F.col("v").alias("c"))
    tri = o1.join(o2, "b").join(o3, ["a", "c"])
    pairs = edges.where(F.col("src") < F.col("dst"))
    return (tri.agg(F.count("*").alias("n_triangles"))
            .crossJoin(pairs.agg(F.count("*").alias("n_edges")))
            .crossJoin(deg.agg(F.count("*").alias("n_nodes"))))


# --------------------------------------------------------------------- #
# TPC-H shapes: Q4 (exists semi-join), Q14 (conditional ratio),         #
# Q19 (disjunctive pushdown over a broadcast dim)                       #
# --------------------------------------------------------------------- #

@register("q4_priority_late", """
SELECT o.o_orderpriority,
       CAST(count(*) AS BIGINT) AS order_count
FROM orders o
WHERE EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey
      AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
)
GROUP BY o.o_orderpriority
""")
def q4_priority_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (testdata lacks commit/receipt dates, so 'late' is
    shipped >60 days after order): orders with at least one late line,
    counted by priority.  EXISTS compiles to a LEFT SEMI join on
    l_orderkey — the probe side never duplicates order rows however many
    late lines an order has, and the lineitem side is pre-filtered by
    the non-equi condition inside the join."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    late = orders.join(
        li,
        (li.l_orderkey == orders.o_orderkey)
        & (li.l_shipdate > F.date_add(orders.o_orderdate, 60)),
        "left_semi")
    return (late.groupBy("o_orderpriority")
            .agg(F.count("*").alias("order_count")))


@register("q14_promo_revenue", """
SELECT CAST(100.0 AS DOUBLE)
       * CAST(CAST(sum(CASE WHEN p.p_type LIKE 'PROMO%'
                THEN CAST(l.l_extendedprice AS DECIMAL(18,2))
                     * CAST(1 - l.l_discount AS DECIMAL(18,2))
                ELSE CAST(0 AS DECIMAL(36,4)) END) AS VARCHAR) AS DOUBLE)
       / CAST(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
             * CAST(1 - l.l_discount AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE)
       AS promo_revenue_pct,
       CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= DATE '1995-09-01'
  AND l.l_shipdate < DATE '1995-10-01'
""")
# oracle note (r15 10x-decade pin): Spark's lit(100.0) promotes the
# numerator sum to DOUBLE before the multiply, while DuckDB kept
# 100.0*sum exact in DECIMAL and only went to double at the divide —
# a different rounding order, 1 ulp apart at 10x.  The oracle now
# mirrors Spark exactly: decimal sums -> correctly-rounded double (via
# VARCHAR, see agg_lineitem_pricing), then 100.0*a/b in double.
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: promotional revenue share for one ship month.  The part
    dim broadcasts; the shipdate range prunes at the parquet scan
    (PushedFilters); both revenue sums run in DECIMAL so the final
    percentage is one exact division cast to double."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    rev = (F.col("l_extendedprice").cast("decimal(18,2)")
           * (F.lit(1) - F.col("l_discount")).cast("decimal(18,2)"))
    promo = F.when(F.col("p_type").like("PROMO%"), rev) \
             .otherwise(F.lit(0).cast("decimal(36,4)"))
    return (li.where((F.col("l_shipdate") >= F.lit("1995-09-01").cast("date"))
                     & (F.col("l_shipdate") < F.lit("1995-10-01").cast("date")))
            .join(F.broadcast(part), li.l_partkey == part.p_partkey)
            .agg((F.lit(100.0) * F.sum(promo) / F.sum(rev)).cast("double")
                 .alias("promo_revenue_pct"),
                 F.count("*").alias("n_lines")))


@register("q19_disjunctive", """
SELECT CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                * CAST(1 - l.l_discount AS DECIMAL(18,2))) AS DOUBLE)
           AS revenue,
       CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity BETWEEN 1 AND 11)
   OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 25
       AND l.l_quantity BETWEEN 10 AND 20)
   OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 35
       AND l.l_quantity BETWEEN 20 AND 30)
""")
def q19_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunctive brand/size/quantity predicate bands
    over a broadcast part join.  The single-side conjuncts that Catalyst
    can factor out (quantity 1..30) push to the lineitem scan; the
    cross-table disjunction evaluates post-join without materializing
    non-qualifying rows.  DECIMAL revenue sum → exact double."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    joined = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    band = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15)
         & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(1, 25)
           & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 35)
           & F.col("l_quantity").between(20, 30)))
    rev = (F.col("l_extendedprice").cast("decimal(18,2)")
           * (F.lit(1) - F.col("l_discount")).cast("decimal(18,2)"))
    return joined.where(band).agg(
        F.sum(rev).cast("double").alias("revenue"),
        F.count("*").alias("n_lines"))


# --------------------------------------------------------------------- #
# per-brand retail-price deciles (order-statistic banding)              #
# --------------------------------------------------------------------- #

@register("price_deciles_per_brand", """
WITH banded AS (
    SELECT p_brand, p_retailprice,
           CAST(ntile(10) OVER (PARTITION BY p_brand
                                ORDER BY p_retailprice, p_partkey)
                AS INT) AS decile
    FROM part
)
SELECT p_brand, decile,
       CAST(count(*) AS BIGINT) AS n_parts,
       min(p_retailprice) AS lo, max(p_retailprice) AS hi
FROM banded GROUP BY p_brand, decile
""")
def price_deciles_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand price deciles via ntile with a p_partkey tiebreak
    (deterministic band assignment), summarized to band boundaries —
    the banding step a pricing/quantile-feature pipeline uses.  One
    shuffle by brand; the rollup reuses the partitioning; min/max are
    order statistics so output doubles carry no accumulation order."""
    part = load_table(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy("p_retailprice", "p_partkey")
    banded = part.select("p_brand", "p_retailprice",
                         F.ntile(10).over(w).alias("decile"))
    return (banded.groupBy("p_brand", "decile")
            .agg(F.count("*").alias("n_parts"),
                 F.min("p_retailprice").alias("lo"),
                 F.max("p_retailprice").alias("hi")))


# --------------------------------------------------------------------- #
# customer RFM segmentation (recency / frequency / monetary quartiles)  #
# --------------------------------------------------------------------- #

@register("customer_rfm_segments", """
WITH rfm AS (
    SELECT o_custkey,
           max(o_orderdate) AS last_order,
           CAST(count(*) AS BIGINT) AS frequency,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS monetary
    FROM orders GROUP BY o_custkey
),
scored AS (
    SELECT o_custkey, last_order, frequency, monetary,
           CAST(ntile(4) OVER (ORDER BY last_order, o_custkey) AS INT) AS r,
           CAST(ntile(4) OVER (ORDER BY frequency, o_custkey) AS INT) AS f,
           CAST(ntile(4) OVER (ORDER BY monetary, o_custkey) AS INT) AS m
    FROM rfm
)
SELECT r, f, m,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(sum(CAST(monetary AS DECIMAL(18,2))) AS DOUBLE) AS segment_value
FROM scored GROUP BY r, f, m
""")
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: quartile scores for recency, frequency,
    monetary value (ntile with custkey tiebreaks → deterministic), rolled
    up to the 64-cell segment grid.  The per-customer rollup is one
    map-side-combined aggregate; each global quartile uses the TWO-PHASE
    exact rank (operators/ranking.py::exact_ntile — repartitionByRange +
    per-partition row_number + offset arithmetic), NOT an unpartitioned
    window, so a billion-customer dim never funnels through one task and
    the tile assignment still matches SQL ntile bit-for-bit.  Monetary
    sums in DECIMAL both levels — exact doubles out."""
    from moonshot_spark.operators.ranking import exact_ntile

    orders = load_table(spark, sf_dir, "orders")
    rfm = (orders.groupBy("o_custkey")
           .agg(F.max("o_orderdate").alias("last_order"),
                F.count("*").alias("frequency"),
                F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                 .cast("double").alias("monetary")))
    scored = exact_ntile(rfm, 4, ["last_order", "o_custkey"], "r")
    scored = exact_ntile(scored, 4, ["frequency", "o_custkey"], "f")
    scored = exact_ntile(scored, 4, ["monetary", "o_custkey"], "m")
    return (scored.groupBy("r", "f", "m")
            .agg(F.count("*").alias("n_customers"),
                 F.sum(F.col("monetary").cast("decimal(18,2)"))
                  .cast("double").alias("segment_value")))


# --------------------------------------------------------------------- #
# data profiling: width_bucket histogram of order totals                #
# --------------------------------------------------------------------- #

@register("order_value_histogram", """
SELECT CAST(CASE WHEN o_totalprice < 0 THEN 0
                 WHEN o_totalprice >= 600000 THEN 31
                 ELSE 1 + floor(o_totalprice * 30.0 / 600000.0) END AS INT)
           AS bucket,
       CAST(count(*) AS BIGINT) AS n_orders,
       min(o_totalprice) AS lo, max(o_totalprice) AS hi
FROM orders GROUP BY 1
""")
def order_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of order totals (width_bucket semantics) —
    the one-pass profiling sketch a pipeline uses to pick partition
    bounds and spot skew before a heavy job.  Pure map-side bucketing
    plus a 30-cell aggregate: no sort, no second pass, and min/max per
    bucket are order statistics (no float accumulation).  The bucket
    index is the same explicit expression in both engines (DuckDB has no
    width_bucket; hand-rolling it on both sides also pins the float
    expression shape, which builtins don't guarantee)."""
    orders = load_table(spark, sf_dir, "orders")
    p = F.col("o_totalprice")
    bucket = (F.when(p < 0, 0)
              .when(p >= 600000, 31)
              .otherwise(F.lit(1) + F.floor(p * 30.0 / 600000.0)))
    return (orders
            .select(bucket.cast("int").alias("bucket"), "o_totalprice")
            .groupBy("bucket")
            .agg(F.count("*").alias("n_orders"),
                 F.min("o_totalprice").alias("lo"),
                 F.max("o_totalprice").alias("hi")))


# --------------------------------------------------------------------- #
# cohort LTV: cumulative purchase revenue per signup cohort             #
# --------------------------------------------------------------------- #

@register("cohort_ltv_curve", """
WITH weeks AS (
    SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS week,
           event_type, value
    FROM events
), cohorts AS (
    SELECT user_id, min(week) AS cohort_week FROM weeks GROUP BY user_id
), rev AS (
    SELECT c.cohort_week,
           CAST(date_diff('day', c.cohort_week, w.week) // 7 AS BIGINT)
               AS week_offset,
           CAST(sum(CAST(w.value AS DECIMAL(18,3))) AS DECIMAL(38,3))
               AS week_rev
    FROM cohorts c JOIN weeks w USING (user_id)
    WHERE w.event_type = 'purchase'
    GROUP BY 1, 2
)
SELECT cohort_week, week_offset,
       CAST(week_rev AS DOUBLE) AS week_revenue,
       CAST(sum(week_rev) OVER (PARTITION BY cohort_week
                                ORDER BY week_offset) AS DOUBLE)
           AS cum_revenue
FROM rev
""")
def cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lifetime-value curve per signup cohort: weekly purchase revenue by
    (cohort, week-offset) with a running cumulative — the companion to
    retention_cohorts.  Revenue accumulates in DECIMAL at every level
    (weekly cells AND the running sum) so the running totals are exact,
    not order-dependent doubles; the cumulative window rides the same
    (cohort_week) partitioning as the cell aggregate."""
    events = load_table(spark, sf_dir, "events")
    weeks = events.select(
        "user_id",
        F.date_trunc("week", F.col("ts")).cast("date").alias("week"),
        "event_type", "value")
    cohorts = weeks.groupBy("user_id").agg(
        F.min("week").alias("cohort_week"))
    rev = (weeks.where(F.col("event_type") == "purchase")
           .join(cohorts, "user_id")
           .groupBy("cohort_week",
                    F.floor(F.datediff(F.col("week"), F.col("cohort_week"))
                            / 7).cast("bigint").alias("week_offset"))
           .agg(F.sum(F.col("value").cast("decimal(18,3)"))
                .cast("decimal(38,3)").alias("week_rev")))
    wc = (Window.partitionBy("cohort_week").orderBy("week_offset")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return rev.select(
        "cohort_week", "week_offset",
        F.col("week_rev").cast("double").alias("week_revenue"),
        F.sum("week_rev").over(wc).cast("double").alias("cum_revenue"))


# --------------------------------------------------------------------- #
# sketch-accuracy contract: approx_percentile vs exact                  #
# --------------------------------------------------------------------- #

@register("approx_percentile_contract", f"""
WITH panel AS ({PANEL_SQL})
SELECT CAST(count(DISTINCT sid) AS BIGINT) AS n_sids,
       CAST(count(DISTINCT sid) AS BIGINT) AS n_ok
FROM panel
""")
def approx_percentile_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy contract (the ivf_topk_contract pattern): per-sid
    approx_percentile(close, {{0.5, 0.95}}) must equal the exact
    nearest-rank order statistic (rank ceil(p·n)) for EVERY sid — the GK
    sketch is exact while a group fits its buffer, so any drift here
    means the sketch path broke.  (Beyond the buffer the right check
    degrades to the sketch's rank-error bound; the catalog SFs stay well
    inside it.)  At 100 TB the approx sketch (a
    mergeable KLL-style summary, one pass, map-side combinable) is the
    only viable path — this query keeps its error bound honest against
    the exact computation while the small-SF oracle pins the contract."""
    panel = events_to_panel(spark, sf_dir)
    stats = panel.groupBy("sid").agg(
        F.expr("approx_percentile(close, array(0.5, 0.95), 1000)")
         .alias("ap"),
        F.array_sort(F.collect_list("close")).alias("arr"),
        F.count("close").alias("n"))
    disc = lambda p: F.element_at(
        F.col("arr"), F.ceil(F.lit(p) * F.col("n")).cast("int"))
    ok = (F.col("ap")[0] == disc(0.5)) & (F.col("ap")[1] == disc(0.95))
    return stats.agg(
        F.count("*").alias("n_sids"),
        F.count(F.when(ok, 1)).alias("n_ok"))


# --------------------------------------------------------------------- #
# data-quality validation: panel integrity checks (dbt-test style)      #
# --------------------------------------------------------------------- #

@register("panel_quality_checks", f"""
WITH panel AS ({PANEL_SQL}),
flags AS (
    SELECT sid, date, close, volume,
           CASE WHEN high < low OR close > high OR close < low
                  OR open > high OR open < low THEN 1 ELSE 0 END AS ohlc_bad,
           CASE WHEN volume <= 0 THEN 1 ELSE 0 END AS vol_bad,
           CASE WHEN close = lag(close) OVER (PARTITION BY sid
                                              ORDER BY date)
                THEN 1 ELSE 0 END AS stale
    FROM panel
)
SELECT sid,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(ohlc_bad) AS BIGINT) AS n_ohlc_violations,
       CAST(sum(vol_bad) AS BIGINT) AS n_volume_violations,
       CAST(sum(stale) AS BIGINT) AS n_stale_prices
FROM flags GROUP BY sid
""")
def panel_quality_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint validation over the price panel (the dbt-test /
    expectation-suite layer a production feed runs before strategies
    consume it): OHLC ordering violations (high<low, close outside the
    range, open outside the range), non-positive volume, and stale
    prices (close identical to the prior day — a frozen-feed symptom).
    One window pass + one integer rollup per sid; every flag is a
    comparison, so the report is bit-deterministic and rides the
    panel's existing sid partitioning."""
    panel = events_to_panel(spark, sf_dir)
    w = Window.partitionBy("sid").orderBy("date")
    ohlc_bad = ((F.col("high") < F.col("low"))
                | (F.col("close") > F.col("high"))
                | (F.col("close") < F.col("low"))
                | (F.col("open") > F.col("high"))
                | (F.col("open") < F.col("low"))).cast("int")
    vol_bad = (F.col("volume") <= 0).cast("int")
    stale = (F.col("close") == F.lag("close").over(w)).cast("int")
    flags = panel.select("sid", ohlc_bad.alias("ohlc_bad"),
                         vol_bad.alias("vol_bad"),
                         F.coalesce(stale, F.lit(0)).alias("stale"))
    return flags.groupBy("sid").agg(
        F.count("*").alias("n_rows"),
        F.sum("ohlc_bad").alias("n_ohlc_violations"),
        F.sum("vol_bad").alias("n_volume_violations"),
        F.sum("stale").alias("n_stale_prices"))


# --------------------------------------------------------------------- #
# referential-integrity report across the star schema                   #
# --------------------------------------------------------------------- #

@register("referential_integrity_report", """
SELECT 'lineitem.l_orderkey -> orders' AS fk_edge,
       CAST((SELECT count(*) FROM lineitem l
             WHERE NOT EXISTS (SELECT 1 FROM orders o
                               WHERE o.o_orderkey = l.l_orderkey))
            AS BIGINT) AS n_orphans,
       CAST((SELECT count(*) FROM lineitem) AS BIGINT) AS n_rows
UNION ALL
SELECT 'lineitem.l_partkey -> part',
       CAST((SELECT count(*) FROM lineitem l
             WHERE NOT EXISTS (SELECT 1 FROM part p
                               WHERE p.p_partkey = l.l_partkey))
            AS BIGINT),
       CAST((SELECT count(*) FROM lineitem) AS BIGINT)
UNION ALL
SELECT 'orders.o_custkey -> customer',
       CAST((SELECT count(*) FROM orders o
             WHERE NOT EXISTS (SELECT 1 FROM customer c
                               WHERE c.c_custkey = o.o_custkey))
            AS BIGINT),
       CAST((SELECT count(*) FROM orders) AS BIGINT)
UNION ALL
SELECT 'customer.c_nationkey -> nation',
       CAST((SELECT count(*) FROM customer c
             WHERE NOT EXISTS (SELECT 1 FROM nation n
                               WHERE n.n_nationkey = c.c_nationkey))
            AS BIGINT),
       CAST((SELECT count(*) FROM customer) AS BIGINT)
""")
def referential_integrity_report(spark: SparkSession, sf_dir: str) \
        -> DataFrame:
    """Referential-integrity audit across the star schema: orphan counts
    for every FK edge via LEFT ANTI joins (the dbt `relationships` test
    at warehouse scale).  Each anti-join broadcasts the key projection
    of its dimension when small and falls back to a shuffled join
    otherwise — never a driver-side key set; the four edge checks union
    into one report plan so the fact tables are scanned once per edge,
    columns pruned to the key."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    part = load_table(spark, sf_dir, "part")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")

    def edge(name, child, child_key, parent, parent_key):
        orphans = child.select(child_key).join(
            parent.select(parent_key),
            F.col(child_key) == F.col(parent_key), "left_anti")
        return (orphans.agg(F.count("*").alias("n_orphans"))
                .crossJoin(child.agg(F.count("*").alias("n_rows")))
                .select(F.lit(name).alias("fk_edge"),
                        "n_orphans", "n_rows"))

    return (edge("lineitem.l_orderkey -> orders",
                 li, "l_orderkey", orders, "o_orderkey")
            .unionByName(edge("lineitem.l_partkey -> part",
                              li, "l_partkey", part, "p_partkey"))
            .unionByName(edge("orders.o_custkey -> customer",
                              orders, "o_custkey", customer, "c_custkey"))
            .unionByName(edge("customer.c_nationkey -> nation",
                              customer, "c_nationkey", nation,
                              "n_nationkey")))


# --------------------------------------------------------------------- #
# primary-key uniqueness audit across tables                            #
# --------------------------------------------------------------------- #

@register("primary_key_check", """
SELECT 'events.event_id' AS pk,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT event_id) AS BIGINT) AS n_distinct,
       CAST(count(*) - count(DISTINCT event_id) AS BIGINT) AS n_dupes
FROM events
UNION ALL
SELECT 'documents.doc_id', CAST(count(*) AS BIGINT),
       CAST(count(DISTINCT doc_id) AS BIGINT),
       CAST(count(*) - count(DISTINCT doc_id) AS BIGINT)
FROM documents
UNION ALL
SELECT 'orders.o_orderkey', CAST(count(*) AS BIGINT),
       CAST(count(DISTINCT o_orderkey) AS BIGINT),
       CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT)
FROM orders
""")
def primary_key_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Primary-key uniqueness audit (the dbt `unique` test): per claimed
    key, row count vs distinct count.  Each check is one map-side-
    combined aggregate with a distinct count — at scale Spark plans
    count(DISTINCT) as a two-stage expand/aggregate, never a driver
    collect; the three reports union into one plan."""
    rows = []
    for name, table, key in (
            ("events.event_id", "events", "event_id"),
            ("documents.doc_id", "documents", "doc_id"),
            ("orders.o_orderkey", "orders", "o_orderkey")):
        t = load_table(spark, sf_dir, table)
        rows.append(t.agg(
            F.count("*").alias("n_rows"),
            F.countDistinct(key).alias("n_distinct"),
            (F.count("*") - F.countDistinct(key)).alias("n_dupes"))
            .select(F.lit(name).alias("pk"), "n_rows", "n_distinct",
                    "n_dupes"))
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


# --------------------------------------------------------------------- #
# top session paths: 3-event sequences within 30-minute sessions        #
# --------------------------------------------------------------------- #

# each user's events cut into sessions at gaps over 30 minutes
_SESSIONS_SQL = """seq AS (
    SELECT user_id, ts, event_id, event_type,
           CASE WHEN ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_sess
    FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
    SELECT user_id, ts, event_id, event_type,
           sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS session_id
    FROM seq
)"""


@register("session_path_trigrams", f"""
WITH {_SESSIONS_SQL},
tri AS (
    SELECT event_type || '>' || lead(event_type, 1) OVER ws
               || '>' || lead(event_type, 2) OVER ws AS path
    FROM sess
    WINDOW ws AS (PARTITION BY user_id, session_id ORDER BY ts, event_id)
),
counted AS (
    SELECT path, CAST(count(*) AS BIGINT) AS n
    FROM tri WHERE path IS NOT NULL GROUP BY path
)
SELECT path, n, CAST(rank() OVER (ORDER BY n DESC, path) AS INT) AS rk
FROM counted
QUALIFY rk <= 20
""")
def session_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 three-event navigation paths within 30-minute sessions —
    the path-analysis report behind funnel design.  Sessionization is
    the standard lag-gap + running-sum pair over (user, ts); the trigram
    is two leads within the session window (same partitioning — one
    shuffle covers all three window passes), and the final top-k ranks a
    25³-bounded path vocabulary."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    new_sess = F.when(
        (F.col("ts").cast("long")
         - F.lag(F.col("ts").cast("long")).over(w) > 1800)
        | F.lag("ts").over(w).isNull(), 1).otherwise(0)
    sess = (events
            .withColumn("new_sess", new_sess)
            .withColumn("session_id",
                        F.sum("new_sess").over(
                            w.rowsBetween(Window.unboundedPreceding,
                                          Window.currentRow))))
    ws = Window.partitionBy("user_id", "session_id").orderBy(
        "ts", "event_id")
    path = F.concat_ws(">", F.col("event_type"),
                       F.lead("event_type", 1).over(ws),
                       F.lead("event_type", 2).over(ws))
    # concat_ws skips nulls, so guard: require both leads present
    full = (F.lead("event_type", 1).over(ws).isNotNull()
            & F.lead("event_type", 2).over(ws).isNotNull())
    tri = sess.select(F.when(full, path).alias("path"))
    counted = (tri.where(F.col("path").isNotNull())
               .groupBy("path").agg(F.count("*").alias("n")))
    rk = F.rank().over(Window.orderBy(F.col("n").desc(), "path")).cast("int")
    return counted.withColumn("rk", rk).where(F.col("rk") <= 20)


# --------------------------------------------------------------------- #
# GROUPING SETS with grouping_id (completes rollup/cube family)         #
# --------------------------------------------------------------------- #

@register("grouping_sets_revenue", """
SELECT n.n_name AS nation,
       CAST(date_part('year', o.o_orderdate) AS INT) AS order_year,
       CAST(grouping(n.n_name) * 2 + grouping(date_part('year', o.o_orderdate))
            AS INT) AS gid,
       CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
           AS revenue,
       CAST(count(*) AS BIGINT) AS n_orders
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY GROUPING SETS ((n.n_name), (date_part('year', o.o_orderdate)), ())
""")
def grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — the third member of the rollup/cube
    family (SURVEY A4 extensions): revenue by nation, by year, and grand
    total in ONE aggregation pass (Spark plans an Expand over the three
    sets — each input row is replicated once per set, partial-aggregated
    map-side, so the fact side is still scanned once).  grouping_id
    disambiguates the null dimension values; DECIMAL revenue sums."""
    from moonshot_spark.sql import register_views

    register_views(spark, sf_dir)
    return spark.sql("""
        SELECT n.n_name AS nation,
               CAST(year(o.o_orderdate) AS INT) AS order_year,
               CAST(grouping(n.n_name) * 2 + grouping(year(o.o_orderdate))
                    AS INT) AS gid,
               CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS revenue,
               count(*) AS n_orders
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY GROUPING SETS ((n.n_name), (year(o.o_orderdate)), ())
    """)


# --------------------------------------------------------------------- #
# pivot with multiple aggregates per cell                               #
# --------------------------------------------------------------------- #

@register("pivot_multi_agg", """
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(count(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT)
           AS view_n,
       CAST(sum(CASE WHEN event_type = 'view'
                THEN CAST(value AS DECIMAL(18,3)) END) AS DOUBLE) AS view_sum,
       CAST(count(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT)
           AS purchase_n,
       CAST(sum(CASE WHEN event_type = 'purchase'
                THEN CAST(value AS DECIMAL(18,3)) END) AS DOUBLE)
           AS purchase_sum
FROM events GROUP BY user_id
""")
def pivot_multi_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with TWO aggregates per spread column (count + DECIMAL sum)
    — pandas pivot_table(aggfunc=[...]) parity, the shape the single-agg
    pivot_event_type query doesn't cover.  Spark's pivot(values=[...])
    with multiple aggs compiles to one pass of conditional aggregates —
    same plan as the hand-written CASE form, one shuffle by user."""
    events = load_table(spark, sf_dir, "events")
    piv = (events.groupBy("user_id")
           .pivot("event_type", ["view", "purchase"])
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum(F.col("value").cast("decimal(18,3)"))
                 .cast("double").alias("sum")))
    return piv.select(
        "user_id",
        F.coalesce(F.col("view_n"), F.lit(0)).alias("view_n"),
        F.col("view_sum"),
        F.coalesce(F.col("purchase_n"), F.lit(0)).alias("purchase_n"),
        F.col("purchase_sum"))


# --------------------------------------------------------------------- #
# sequence pattern matching over sessions (MATCH_RECOGNIZE analog)      #
# --------------------------------------------------------------------- #

@register("session_pattern_match", f"""
WITH {_SESSIONS_SQL},
strs AS (
    SELECT user_id, session_id,
           string_agg(left(event_type, 1), '' ORDER BY ts, event_id) AS s
    FROM sess GROUP BY user_id, session_id
)
SELECT CAST(count(*) AS BIGINT) AS n_sessions,
       CAST(count(CASE WHEN regexp_matches(s, 's[vc]*p') THEN 1 END)
            AS BIGINT) AS n_converting,
       CAST(count(CASE WHEN regexp_matches(s, 'e') THEN 1 END)
            AS BIGINT) AS n_with_errors,
       CAST(count(CASE WHEN regexp_matches(s, 'ee') THEN 1 END)
            AS BIGINT) AS n_double_errors
FROM strs
""")
def session_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-pattern matching over sessions — the MATCH_RECOGNIZE
    workload without MATCH_RECOGNIZE: each session's event stream
    collapses to a compact symbol string (first letter per event, in
    pinned (ts, event_id) order) and patterns become plain regexes —
    signup→browse*→purchase, error incidence, repeated errors.  The
    string build is an ordered aggregation riding the sessionization
    shuffle; pattern evaluation is per-row regex over short strings.
    This is the scale-robust form of sequence analytics: state machines
    become regex over symbols, not iterative joins."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    new_sess = F.when(
        (F.col("ts").cast("long")
         - F.lag(F.col("ts").cast("long")).over(w) > 1800)
        | F.lag("ts").over(w).isNull(), 1).otherwise(0)
    sess = (events.withColumn("new_sess", new_sess)
            .withColumn("session_id",
                        F.sum("new_sess").over(
                            w.rowsBetween(Window.unboundedPreceding,
                                          Window.currentRow))))
    sym = F.substring("event_type", 1, 1)
    strs = (sess.groupBy("user_id", "session_id")
            .agg(F.concat_ws(
                "", ordered_values(["ts", "event_id"], sym)).alias("s")))
    return strs.agg(
        F.count("*").alias("n_sessions"),
        F.count(F.when(F.col("s").rlike("s[vc]*p"), 1))
        .alias("n_converting"),
        F.count(F.when(F.col("s").rlike("e"), 1)).alias("n_with_errors"),
        F.count(F.when(F.col("s").rlike("ee"), 1))
        .alias("n_double_errors"))


# --------------------------------------------------------------------- #
# salted heavy-hitters aggregation, proven against a plain-SQL oracle   #
# --------------------------------------------------------------------- #

@register("salted_heavy_hitters", """
WITH agg AS (
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,3))) AS DOUBLE) AS total_value
    FROM events GROUP BY event_type
)
SELECT event_type, n_events, total_value,
       CAST(rank() OVER (ORDER BY n_events DESC, event_type) AS INT) AS rk
FROM agg
""")
def salted_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe aggregation under the oracle: event counts and DECIMAL
    value totals per event_type computed via the SALTED two-stage path
    (functions/skew.py::salted_agg — groupBy(key, salt) then
    groupBy(key)) and proven identical to the oracle's plain GROUP BY.
    event_type is a 5-value hot-key domain — exactly the shape where a
    single-stage groupBy funnels each key through one reducer at 100 TB
    and salting restores parallelism; the DECIMAL partial sums make the
    two-stage recombination exact, so the salted plan is
    value-indistinguishable from the direct one."""
    from moonshot_spark.functions.skew import salted_agg

    events = load_table(spark, sf_dir, "events")
    agg = salted_agg(
        events, ["event_type"],
        {"n_events": F.count("*"),
         "total_value": (F.sum(F.col("value").cast("decimal(18,3)")),
                         "sum")},
        num_salts=16)
    rk = F.rank().over(
        Window.orderBy(F.col("n_events").desc(), "event_type")).cast("int")
    return (agg.select("event_type",
                       F.col("n_events").cast("bigint").alias("n_events"),
                       F.col("total_value").cast("double")
                       .alias("total_value"))
            .withColumn("rk", rk))


# --------------------------------------------------------------------- #
# TPC-H Q6 (pure scan-filter-agg) and Q13 (distribution of join fanout) #
# --------------------------------------------------------------------- #

@register("q6_forecast_revenue", """
SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE)
           AS revenue,
       CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem
WHERE l_shipdate >= DATE '1995-01-01'
  AND l_shipdate < DATE '1996-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""")
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 — the canonical scan-filter-aggregate: every predicate
    (shipdate range, discount band, quantity cap) pushes to the parquet
    scan, and what remains is one map-side-combined DECIMAL sum.  This
    is the query whose plan SHOULD be nothing but
    Scan(PushedFilters)→Project→HashAggregate — pinned in the plan
    suite."""
    li = load_table(spark, sf_dir, "lineitem")
    rev = (F.col("l_extendedprice").cast("decimal(18,2)")
           * F.col("l_discount").cast("decimal(18,2)"))
    return (li.where((F.col("l_shipdate") >= F.lit("1995-01-01").cast("date"))
                     & (F.col("l_shipdate") < F.lit("1996-01-01").cast("date"))
                     & F.col("l_discount").between(0.05, 0.07)
                     & (F.col("l_quantity") < 24))
            .agg(F.sum(rev).cast("double").alias("revenue"),
                 F.count("*").alias("n_lines")))


@register("q13_customer_distribution", """
WITH co AS (
    SELECT c.c_custkey, CAST(count(o.o_orderkey) AS BIGINT) AS c_count
    FROM customer c
    LEFT JOIN orders o
      ON c.c_custkey = o.o_custkey
     AND o.o_orderpriority <> '1-URGENT'
    GROUP BY c.c_custkey
)
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
FROM co GROUP BY c_count
""")
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: the distribution of per-customer order counts with a
    filtered LEFT join (customers with zero qualifying orders must
    appear as c_count = 0 — the outer join is load-bearing).  Two
    chained aggregations on narrowing keys; the join condition's
    non-equi residual stays inside the join."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    co = (c.join(o, (c.c_custkey == o.o_custkey)
                 & (F.col("o_orderpriority") != "1-URGENT"), "left")
          .groupBy("c_custkey")
          .agg(F.count("o_orderkey").alias("c_count")))
    return co.groupBy("c_count").agg(F.count("*").alias("custdist"))


@register("q22_global_sales_opportunity", """
WITH avg_bal AS (
    SELECT avg(CAST(c_acctbal AS DECIMAL(18,2))) AS ab
    FROM customer WHERE c_acctbal > 0.0
),
eligible AS (
    SELECT c.c_custkey, c.c_nationkey, c.c_acctbal
    FROM customer c CROSS JOIN avg_bal
    WHERE CAST(c.c_acctbal AS DECIMAL(18,2)) > avg_bal.ab
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
)
SELECT n.n_name AS nation,
       CAST(count(*) AS BIGINT) AS numcust,
       CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
FROM eligible e JOIN nation n ON e.c_nationkey = n.n_nationkey
GROUP BY n.n_name
""")
def q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) \
        -> DataFrame:
    """TPC-H Q22 shape: customers with above-average balance and NO
    urgent orders (LEFT ANTI join; this catalog's customers all have
    SOME order, so the anti-join probe filters to the urgent slice),
    rolled up by nation.  The average-balance
    scalar is a broadcast 1-row aggregate compared in DECIMAL (an
    avg-of-doubles threshold would be association-order-dependent and
    could flip membership of a boundary customer between engines); the
    anti join probes the orders key projection."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    n = load_table(spark, sf_dir, "nation")
    avg_bal = (c.where(F.col("c_acctbal") > 0.0)
               .agg(F.avg(F.col("c_acctbal").cast("decimal(18,2)"))
                    .alias("ab")))
    eligible = (c.crossJoin(F.broadcast(avg_bal))
                .where(F.col("c_acctbal").cast("decimal(18,2)")
                       > F.col("ab"))
                .join(o.where(F.col("o_orderpriority") == "1-URGENT")
                      .select("o_custkey"),
                      c.c_custkey == F.col("o_custkey"), "left_anti"))
    return (eligible.join(F.broadcast(n),
                          eligible.c_nationkey == n.n_nationkey)
            .groupBy(F.col("n_name").alias("nation"))
            .agg(F.count("*").alias("numcust"),
                 F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
                 .cast("double").alias("totacctbal")))


# --------------------------------------------------------------------- #
# TPC-H Q8 (market share), Q15 (top supplier), Q17 (small-qty revenue)  #
# --------------------------------------------------------------------- #

@register("q8_market_share", """
WITH all_rev AS (
    SELECT CAST(date_part('year', o.o_orderdate) AS INT) AS o_year,
           n2.n_name AS supp_nation,
           CAST(l.l_extendedprice AS DECIMAL(18,2))
               * CAST(1 - l.l_discount AS DECIMAL(18,2)) AS volume
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
    JOIN region r ON n1.n_regionkey = r.r_regionkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE r.r_name = 'AMERICA' AND p.p_type = 'ECONOMY'
)
SELECT o_year,
       CAST(sum(CASE WHEN supp_nation = 'NATION_3'
                     THEN volume ELSE CAST(0 AS DECIMAL(38,4)) END)
            AS DOUBLE)
           / CAST(sum(volume) AS DOUBLE) AS mkt_share,
       CAST(count(*) AS BIGINT) AS n_lines
FROM all_rev GROUP BY o_year
""")
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: one supplier nation's share of a region+part-type
    market per year.  A 7-table snowflake where every dimension
    broadcasts (region/nation/part/supplier/customer are all dims here);
    the share is a conditional-over-total DECIMAL ratio, so the output
    double is one exact division.  The fact side is scanned once and
    the customer-region filter prunes before the wide joins."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    s = load_table(spark, sf_dir, "supplier")
    p = load_table(spark, sf_dir, "part")
    n1 = n.select(F.col("n_nationkey").alias("c_nk"),
                  F.col("n_regionkey").alias("c_rk"))
    n2 = n.select(F.col("n_nationkey").alias("s_nk"),
                  F.col("n_name").alias("supp_nation"))
    vol = (F.col("l_extendedprice").cast("decimal(18,2)")
           * (F.lit(1) - F.col("l_discount")).cast("decimal(18,2)"))
    joined = (li
              .join(F.broadcast(p.where(F.col("p_type") == "ECONOMY")
                                .select("p_partkey")),
                    li.l_partkey == F.col("p_partkey"))
              .join(o, li.l_orderkey == o.o_orderkey)
              .join(F.broadcast(c.select("c_custkey", "c_nationkey")),
                    o.o_custkey == F.col("c_custkey"))
              .join(F.broadcast(n1), F.col("c_nationkey") == F.col("c_nk"))
              .join(F.broadcast(r.where(F.col("r_name") == "AMERICA")
                                .select("r_regionkey")),
                    F.col("c_rk") == F.col("r_regionkey"))
              .join(F.broadcast(s.select("s_suppkey", "s_nationkey")),
                    li.l_suppkey == F.col("s_suppkey"))
              .join(F.broadcast(n2), F.col("s_nationkey") == F.col("s_nk")))
    target = F.when(F.col("supp_nation") == "NATION_3", vol) \
        .otherwise(F.lit(0).cast("decimal(38,4)"))
    return (joined
            .groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
            .agg((F.sum(target).cast("double")
                  / F.sum(vol).cast("double")).alias("mkt_share"),
                 F.count("*").alias("n_lines")))


@register("q15_top_supplier", """
WITH rev AS (
    SELECT l_suppkey AS suppkey,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(1 - l_discount AS DECIMAL(18,2)))
                AS DECIMAL(38,4)) AS total_rev
    FROM lineitem
    WHERE l_shipdate >= DATE '1995-01-01'
      AND l_shipdate < DATE '1995-04-01'
    GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name, CAST(r.total_rev AS DOUBLE) AS total_rev
FROM rev r JOIN supplier s ON r.suppkey = s.s_suppkey
WHERE r.total_rev = (SELECT max(total_rev) FROM rev)
""")
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: the quarter's top-revenue supplier(s) — the classic
    aggregate-then-compare-to-its-own-max shape.  Revenue stays DECIMAL
    through the max comparison (a double max would risk a boundary tie
    resolving differently across engines); the max is a broadcast 1-row
    aggregate, and ties return every supplier at the top as the spec
    requires."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    rev = (li.where((F.col("l_shipdate") >= F.lit("1995-01-01").cast("date"))
                    & (F.col("l_shipdate") < F.lit("1995-04-01").cast("date")))
           .groupBy(F.col("l_suppkey").alias("suppkey"))
           .agg(F.sum(F.col("l_extendedprice").cast("decimal(18,2)")
                      * (F.lit(1) - F.col("l_discount"))
                      .cast("decimal(18,2)"))
                .cast("decimal(38,4)").alias("total_rev")))
    mx = rev.agg(F.max("total_rev").alias("mx"))
    return (rev.crossJoin(F.broadcast(mx))
            .where(F.col("total_rev") == F.col("mx"))
            .join(F.broadcast(s.select("s_suppkey", "s_name")),
                  F.col("suppkey") == F.col("s_suppkey"))
            .select("s_suppkey", "s_name",
                    F.col("total_rev").cast("double").alias("total_rev")))


@register("q17_small_quantity_revenue", """
WITH pa AS (
    SELECT l_partkey AS pk,
           0.2 * avg(CAST(l_quantity AS DECIMAL(18,2))) AS qty_threshold
    FROM lineitem GROUP BY l_partkey
)
SELECT CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) / 7.0 AS DOUBLE)
           AS avg_yearly,
       CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem l
JOIN pa ON l.l_partkey = pa.pk
WHERE CAST(l.l_quantity AS DECIMAL(18,2)) < pa.qty_threshold
""")
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17: revenue locked in below-average-quantity orders — the
    correlated-average shape, decorrelated into a per-part threshold
    aggregate joined back to the fact (the rewrite every optimizer
    performs; here it is explicit and the per-part dim rides a hash
    join).  The 0.2×avg threshold is DECIMAL so boundary rows resolve
    identically across engines."""
    li = load_table(spark, sf_dir, "lineitem")
    pa = (li.groupBy(F.col("l_partkey").alias("pk"))
          .agg((F.lit(0.2)
                * F.avg(F.col("l_quantity").cast("decimal(18,2)")))
               .alias("qty_threshold")))
    return (li.join(pa, li.l_partkey == pa.pk)
            .where(F.col("l_quantity").cast("decimal(18,2)")
                   < F.col("qty_threshold"))
            .agg((F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
                  / F.lit(7.0)).cast("double").alias("avg_yearly"),
                 F.count("*").alias("n_lines")))


# --------------------------------------------------------------------- #
# shipping lead-time quantiles per order priority                       #
# --------------------------------------------------------------------- #

@register("shipping_lead_time_quantiles", """
WITH lt AS (
    SELECT o.o_orderpriority,
           date_diff('day', o.o_orderdate, l.l_shipdate) AS lead_days
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate >= o.o_orderdate
)
, pq AS (
    SELECT o_orderpriority, list(lead_days ORDER BY lead_days) AS arr,
           count(*) AS n,
           CAST(0.5 AS DOUBLE) * (count(*) - 1) AS pos50,
           CAST(0.9 AS DOUBLE) * (count(*) - 1) AS pos90
    FROM lt GROUP BY o_orderpriority
), pi AS (
    SELECT o_orderpriority, arr, n, pos50, pos90,
           CAST(floor(pos50) AS BIGINT) AS lo50,
           CAST(ceil(pos50) AS BIGINT) AS hi50,
           CAST(floor(pos90) AS BIGINT) AS lo90,
           CAST(ceil(pos90) AS BIGINT) AS hi90
    FROM pq
)
SELECT o_orderpriority,
       CAST(n AS BIGINT) AS n_lines,
       CASE WHEN lo50 = hi50 OR arr[lo50 + 1] = arr[hi50 + 1]
            THEN CAST(arr[lo50 + 1] AS DOUBLE)
            ELSE (hi50 - pos50) * arr[lo50 + 1]
               + (pos50 - lo50) * arr[hi50 + 1] END AS p50_days,
       CASE WHEN lo90 = hi90 OR arr[lo90 + 1] = arr[hi90 + 1]
            THEN CAST(arr[lo90 + 1] AS DOUBLE)
            ELSE (hi90 - pos90) * arr[lo90 + 1]
               + (pos90 - lo90) * arr[hi90 + 1] END AS p90_days,
       CAST(arr[n] AS BIGINT) AS max_days
FROM pi
""")
# oracle note (r15 10x-decade pin): quantile_cont/median replaced by
# Spark percentile()'s exact interpolation — (hi-pos)*v_lo+(pos-lo)*v_hi
# with pos = p*(n-1) — so both engines are bit-identical at every scale
# (the two formulas differ in association order and can drift 1 ulp on
# replicated data; see signal_winsorized).  Values at driver SFs
# unchanged (they already agreed there).
def shipping_lead_time_quantiles(spark: SparkSession, sf_dir: str) \
        -> DataFrame:
    """Order-to-ship lead-time distribution per priority — the SLA
    report behind Q4's late-order count: exact interpolated median and
    p90 over integer day gaps (order statistics — the interpolation
    arithmetic is the same one add + halving in both engines, the
    rolling_median precedent), negative gaps excluded as data errors.
    One fact-dim join (orders projects two columns) + grouped exact
    percentiles."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    lt = (li.join(o.select("o_orderkey", "o_orderdate", "o_orderpriority"),
                  li.l_orderkey == F.col("o_orderkey"))
          .where(F.col("l_shipdate") >= F.col("o_orderdate"))
          .select("o_orderpriority",
                  F.datediff("l_shipdate", "o_orderdate").alias("lead_days")))
    return (lt.groupBy("o_orderpriority")
            .agg(F.count("*").alias("n_lines"),
                 F.expr("percentile(lead_days, 0.5)").alias("p50_days"),
                 F.expr("percentile(lead_days, 0.9)").alias("p90_days"),
                 F.max("lead_days").cast("bigint").alias("max_days")))


# --------------------------------------------------------------------- #
# Pareto skyline per brand (dominance query, windowed not quadratic)    #
# --------------------------------------------------------------------- #

@register("pareto_skyline_parts", """
WITH best AS (
    SELECT p_brand, p_retailprice AS price, max(p_size) AS best_size
    FROM part GROUP BY p_brand, p_retailprice
), run AS (
    SELECT p_brand, price,
           max(best_size) OVER (PARTITION BY p_brand ORDER BY price
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING) AS prev_best
    FROM best
)
SELECT p.p_brand, p.p_partkey, p.p_retailprice AS price,
       CAST(p.p_size AS INT) AS p_size
FROM part p JOIN run
  ON p.p_brand = run.p_brand AND p.p_retailprice = run.price
WHERE run.prev_best IS NULL OR p.p_size > run.prev_best
""")
def pareto_skyline_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto skyline per brand: parts not STRICTLY dominated on
    (cheaper price, larger size) — the multi-objective shortlist query
    (Börzsönyi et al., ICDE'01 SKYLINE OF).  The naive formulation is a
    quadratic NOT EXISTS self-join; this plan is O(n log n): collapse
    to (brand, price) → best size, one running-max window over the
    price order with a 1-row-lagged frame (strictly-cheaper prefix),
    and an equi-join back to flag dominated rows.  All comparisons are
    integer/decimal — no float folds.  Scale: the window partitions by
    brand (bounded per-partition state), the collapse is a map-side
    combine, and the join back is an equi-join on (brand, price) that
    AQE plans; nothing is quadratic in parts-per-brand."""
    p = load_table(spark, sf_dir, "part")
    best = (p.groupBy(F.col("p_brand").alias("b_brand"),
                      F.col("p_retailprice").alias("price"))
            .agg(F.max("p_size").alias("best_size")))
    w = (Window.partitionBy("b_brand").orderBy("price")
         .rowsBetween(Window.unboundedPreceding, -1))
    run = best.select("b_brand", "price",
                      F.max("best_size").over(w).alias("prev_best"))
    joined = p.join(run, (F.col("p_brand") == F.col("b_brand"))
                    & (F.col("p_retailprice") == F.col("price")))
    return (joined
            .where(F.col("prev_best").isNull()
                   | (F.col("p_size") > F.col("prev_best")))
            .select("p_brand", "p_partkey",
                    F.col("p_retailprice").alias("price"),
                    F.col("p_size").cast("int").alias("p_size")))


# --------------------------------------------------------------------- #
# Benford first-digit forensics on order values                         #
# --------------------------------------------------------------------- #

@register("benford_digit_report", """
WITH d AS (
    SELECT CAST(CASE
        WHEN o_totalprice < 10 THEN floor(o_totalprice)
        WHEN o_totalprice < 100 THEN floor(o_totalprice / 10)
        WHEN o_totalprice < 1000 THEN floor(o_totalprice / 100)
        WHEN o_totalprice < 10000 THEN floor(o_totalprice / 1000)
        WHEN o_totalprice < 100000 THEN floor(o_totalprice / 10000)
        WHEN o_totalprice < 1000000 THEN floor(o_totalprice / 100000)
        ELSE floor(o_totalprice / 1000000) END AS INT) AS digit
    FROM orders WHERE o_totalprice > 0
), obs AS (
    SELECT digit, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY digit
), tot AS (SELECT CAST(sum(n) AS DOUBLE) AS total FROM obs),
exp AS (
    SELECT * FROM (VALUES
        (1, 0.3010299956639812e0), (2, 0.17609125905568124e0),
        (3, 0.12493873660829993e0), (4, 0.09691001300805642e0),
        (5, 0.07918124604762482e0), (6, 0.06694678963061322e0),
        (7, 0.05799194697768673e0), (8, 0.05115252244738129e0),
        (9, 0.04575749056067514e0)) AS t(digit, p)
)
SELECT e.digit, coalesce(o.n, 0) AS n_obs,
       CAST(coalesce(o.n, 0) AS DOUBLE) / t.total AS freq_obs,
       e.p AS freq_benford,
       (CAST(coalesce(o.n, 0) AS DOUBLE) - t.total * e.p)
           * (CAST(coalesce(o.n, 0) AS DOUBLE) - t.total * e.p)
           / (t.total * e.p) AS chi2_term
FROM exp e LEFT JOIN obs o ON e.digit = o.digit CROSS JOIN tot t
""")
def benford_digit_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit forensics on order values — the
    fabricated-data screen auditors run on financial amounts.  The
    leading digit comes from a CASE magnitude ladder (no log10, no
    string formatting — both are engine-dependent), observed
    frequencies are integer counts over one map-side-combined groupBy,
    and the expected Benford mass log10(1+1/d) is nine hard literals (e0-
    suffixed in the oracle — DuckDB lexes bare decimals as DECIMAL and
    re-rounds) so both engines bind identical doubles.  Emits per-digit observed vs
    expected frequency and the chi-square term (Σ is the test statistic;
    left join keeps never-observed digits at 0)."""
    o = load_table(spark, sf_dir, "orders")
    x = F.col("o_totalprice")
    digit = (F.when(x < 10, F.floor(x))
             .when(x < 100, F.floor(x / 10))
             .when(x < 1000, F.floor(x / 100))
             .when(x < 10000, F.floor(x / 1000))
             .when(x < 100000, F.floor(x / 10000))
             .when(x < 1000000, F.floor(x / 100000))
             .otherwise(F.floor(x / 1000000))).cast("int")
    obs = (o.where(x > 0).select(digit.alias("digit"))
           .groupBy("digit").agg(F.count("*").alias("n")))
    tot = obs.agg(F.sum("n").cast("double").alias("total"))
    benford = [(1, 0.3010299956639812), (2, 0.17609125905568124),
               (3, 0.12493873660829993), (4, 0.09691001300805642),
               (5, 0.07918124604762482), (6, 0.06694678963061322),
               (7, 0.05799194697768673), (8, 0.05115252244738129),
               (9, 0.04575749056067514)]
    exp = local_df(o.sparkSession, benford, "digit int, p double")
    n_obs = F.coalesce(F.col("n"), F.lit(0))
    dev = n_obs.cast("double") - F.col("total") * F.col("p")
    return (exp.join(obs, "digit", "left")
            .crossJoin(F.broadcast(tot))
            .select("digit", n_obs.alias("n_obs"),
                    (n_obs.cast("double") / F.col("total"))
                    .alias("freq_obs"),
                    F.col("p").alias("freq_benford"),
                    (dev * dev / (F.col("total") * F.col("p")))
                    .alias("chi2_term")))


# --------------------------------------------------------------------- #
# distributed FIFO lot matching via cumulative-interval overlap         #
# --------------------------------------------------------------------- #

@register("fifo_lot_matching", """
WITH flows AS (
    SELECT user_id, event_id, epoch_ns(ts) AS tns, event_type,
           CAST(ceil(value) AS BIGINT) AS qty
    FROM events WHERE value > 0 AND event_type IN ('click', 'purchase')
), buys AS (
    SELECT user_id, tns, qty,
           sum(qty) OVER w AS be,
           row_number() OVER w AS seq
    FROM flows WHERE event_type = 'click'
    WINDOW w AS (PARTITION BY user_id ORDER BY tns, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), sells AS (
    SELECT user_id, tns, qty,
           sum(qty) OVER w AS se,
           row_number() OVER w AS seq
    FROM flows WHERE event_type = 'purchase'
    WINDOW w AS (PARTITION BY user_id ORDER BY tns, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT b.user_id, CAST(b.seq AS INT) AS buy_seq,
       CAST(s.seq AS INT) AS sell_seq,
       CAST(least(b.be, s.se) - greatest(b.be - b.qty, s.se - s.qty)
            AS BIGINT) AS matched_qty,
       CAST(floor((s.tns - b.tns) / 86400000000000.0) AS BIGINT)
           AS hold_days
FROM buys b JOIN sells s
  ON b.user_id = s.user_id
 AND b.be - b.qty < s.se AND s.se - s.qty < b.be
""")
def fifo_lot_matching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed FIFO lot matching — the tax-lot / inventory-costing
    primitive (reference positions-to-trades nets quantities; FIFO says
    WHICH buy lot each sell consumes).  The classic formulation is a
    sequential scan per account; the distributed form is the cum-range
    trick: each buy owns units [cum−qty, cum) of the per-user buy
    stream, each sell likewise, and FIFO matching is EXACTLY the
    overlap of those integer unit-ranges — a self-interval-join, no
    recursion, no state.  The k-th unit sold always consumes the k-th
    unit bought, so matched_qty = min(ends) − max(starts).  Spark side
    buckets the unit-ranges (width 1024) into an equi-join on
    (user, bucket) with the residual overlap predicate — Σ bucket²
    cost, never per-user quadratic; matched pairs are inherently
    O(buys + sells) because the ranges are consecutive.  All integer
    arithmetic: qty, cumsums, matched units, integer-divided hold
    days.  Buys = clicks, sells = purchases over the events flow
    (synthetic stand-in for fills)."""
    ev = load_table(spark, sf_dir, "events")
    flows = (ev.where((F.col("value") > 0)
                      & F.col("event_type").isin("click", "purchase"))
             .select("user_id", "event_id", "ts_ns", "event_type",
                     F.ceil("value").cast("bigint").alias("qty")))
    w = (Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
         .rowsBetween(Window.unboundedPreceding, 0))

    def side(ev_type: str, end_col: str):
        return (flows.where(F.col("event_type") == ev_type)
                .select("user_id", "ts_ns", "qty",
                        F.sum("qty").over(w).alias(end_col),
                        F.row_number().over(
                            Window.partitionBy("user_id")
                            .orderBy("ts_ns", "event_id")).alias("seq")))

    B = 1024
    buys = side("click", "be").select(
        "user_id", F.col("ts_ns").alias("b_tns"), F.col("qty").alias("b_qty"),
        "be", F.col("seq").alias("buy_seq"),
        F.explode(F.sequence(F.floor((F.col("be") - F.col("qty")) / B),
                             F.floor((F.col("be") - 1) / B))).alias("bkt"))
    sells = side("purchase", "se").select(
        "user_id", F.col("ts_ns").alias("s_tns"), F.col("qty").alias("s_qty"),
        "se", F.col("seq").alias("sell_seq"),
        F.explode(F.sequence(F.floor((F.col("se") - F.col("qty")) / B),
                             F.floor((F.col("se") - 1) / B))).alias("bkt"))
    bs = F.col("be") - F.col("b_qty")
    ss = F.col("se") - F.col("s_qty")
    joined = (buys.join(sells, ["user_id", "bkt"])
              .where((bs < F.col("se")) & (ss < F.col("be")))
              .select("user_id", "buy_seq", "sell_seq",
                      (F.least("be", "se") - F.greatest(bs, ss))
                      .alias("matched_qty"),
                      F.floor((F.col("s_tns") - F.col("b_tns"))
                              / F.lit(86400000000000.0)).cast("bigint")
                      .alias("hold_days"))
              .dropDuplicates(["user_id", "buy_seq", "sell_seq"]))
    return joined.select("user_id",
                         F.col("buy_seq").cast("int").alias("buy_seq"),
                         F.col("sell_seq").cast("int").alias("sell_seq"),
                         "matched_qty", "hold_days")


# --------------------------------------------------------------------- #
# open-inventory aging from the FIFO unit-range model (join-free)       #
# --------------------------------------------------------------------- #

@register("inventory_aging_report", """
WITH flows AS (
    SELECT user_id, event_id, epoch_ns(ts) AS tns, event_type,
           CAST(ceil(value) AS BIGINT) AS qty
    FROM events WHERE value > 0 AND event_type IN ('click', 'purchase')
), mx AS (SELECT max(tns) AS max_tns FROM flows),
sold AS (
    SELECT user_id, CAST(sum(qty) AS BIGINT) AS s_total
    FROM flows WHERE event_type = 'purchase' GROUP BY user_id
), buys AS (
    SELECT user_id, tns, qty,
           sum(qty) OVER w AS be,
           row_number() OVER w AS seq
    FROM flows WHERE event_type = 'click'
    WINDOW w AS (PARTITION BY user_id ORDER BY tns, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT b.user_id, CAST(b.seq AS INT) AS buy_seq,
       CAST(least(b.qty, b.be - greatest(b.be - b.qty,
                                         coalesce(s.s_total, 0)))
            AS BIGINT) AS open_qty,
       CAST(floor((mx.max_tns - b.tns) / 86400000000000.0) AS BIGINT)
           AS age_days
FROM buys b LEFT JOIN sold s ON b.user_id = s.user_id CROSS JOIN mx
WHERE b.be > coalesce(s.s_total, 0)
""")
def inventory_aging_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-inventory aging — the balance-sheet view the FIFO matcher
    implies: under unit-range FIFO, the units still held are exactly
    the buy units ABOVE the user's total units sold, so each partially
    or fully open lot is one comparison against a per-user scalar — NO
    pair join at all (contrast fifo_lot_matching).  open_qty =
    min(qty, be − max(bs, total_sold)); age from the corpus-end
    timestamp.  One windowed cumsum + one per-user aggregate, all
    integer arithmetic — at any scale this is two shuffles on user_id,
    and the aged-inventory report (tax lots, warehouse stock, GPU-hour
    credits) falls out of the same model that priced the matches."""
    ev = load_table(spark, sf_dir, "events")
    flows = (ev.where((F.col("value") > 0)
                      & F.col("event_type").isin("click", "purchase"))
             .select("user_id", "event_id", "ts_ns", "event_type",
                     F.ceil("value").cast("bigint").alias("qty")))
    mx = flows.agg(F.max("ts_ns").alias("max_tns"))
    sold = (flows.where(F.col("event_type") == "purchase")
            .groupBy("user_id")
            .agg(F.sum("qty").cast("bigint").alias("s_total")))
    w = (Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
         .rowsBetween(Window.unboundedPreceding, 0))
    buys = (flows.where(F.col("event_type") == "click")
            .select("user_id", "ts_ns", "qty",
                    F.sum("qty").over(w).alias("be"),
                    F.row_number().over(
                        Window.partitionBy("user_id")
                        .orderBy("ts_ns", "event_id")).alias("seq")))
    st = F.coalesce(F.col("s_total"), F.lit(0))
    open_qty = F.least(
        F.col("qty"),
        F.col("be") - F.greatest(F.col("be") - F.col("qty"), st))
    return (buys.join(sold, "user_id", "left")
            .crossJoin(F.broadcast(mx))
            .where(F.col("be") > st)
            .select("user_id", F.col("seq").cast("int").alias("buy_seq"),
                    open_qty.cast("bigint").alias("open_qty"),
                    F.floor((F.col("max_tns") - F.col("ts_ns"))
                            / F.lit(86400000000000.0)).cast("bigint")
                    .alias("age_days")))


# --------------------------------------------------------------------- #
# TPC-H Q1 pricing summary (full port: all needed columns present)      #
# --------------------------------------------------------------------- #

@register("q1_pricing_summary", """
SELECT l_returnflag, l_linestatus,
       CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_qty,
       CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE)
           AS sum_base_price,
       CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS VARCHAR) AS DOUBLE)
           AS sum_disc_price,
       CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l_discount AS DECIMAL(18,2)))
                * (1 + CAST(l_tax AS DECIMAL(18,2)))) AS VARCHAR) AS DOUBLE)
           AS sum_charge,
       CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE)
           / count(*) AS avg_qty,
       CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE)
           / count(*) AS avg_price,
       CAST(CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE)
           / count(*) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""")
# oracle note: VARCHAR-routed decimal->double casts — see the
# agg_lineitem_pricing r15 pin (DuckDB double-rounds the direct cast
# above 2^53; the string path is correctly rounded, matching Spark).
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1: the canonical map-side-combinable scan→agg.  One
    exchange on a 6-value grouping key; every aggregate is a partial-agg
    sum (averages derive from exact DECIMAL sums / counts, so Spark and
    DuckDB agree bit-for-bit).  At 100 TB this plan is scan-bound — the
    shuffle carries ~6 rows per map task."""
    li = load_table(spark, sf_dir, "lineitem")
    ep = F.col("l_extendedprice").cast("decimal(18,2)")
    dc = F.col("l_discount").cast("decimal(18,2)")
    tx = F.col("l_tax").cast("decimal(18,2)")
    qt = F.col("l_quantity").cast("decimal(18,2)")
    n = F.count("*")
    return (li.where(F.col("l_shipdate").cast("date")
                     <= F.lit("1998-09-02").cast("date"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.sum(qt).cast("double").alias("sum_qty"),
                 F.sum(ep).cast("double").alias("sum_base_price"),
                 F.sum(ep * (1 - dc)).cast("double").alias("sum_disc_price"),
                 F.sum(ep * (1 - dc) * (1 + tx)).cast("double")
                 .alias("sum_charge"),
                 (F.sum(qt).cast("double") / n).alias("avg_qty"),
                 (F.sum(ep).cast("double") / n).alias("avg_price"),
                 (F.sum(dc).cast("double") / n).alias("avg_disc"),
                 n.alias("count_order"))
            .orderBy("l_returnflag", "l_linestatus"))


# --------------------------------------------------------------------- #
# TPC-H Q9 product-profit shape (adapted: the driver schema has no      #
# partsupp, so profit omits the supplycost term)                        #
# --------------------------------------------------------------------- #

@register("q9_product_profit", """
SELECT nation, o_year, CAST(sum(amount) AS DOUBLE) AS sum_profit
FROM (
    SELECT n.n_name AS nation,
           CAST(year(o.o_orderdate) AS INT) AS o_year,
           CAST(l.l_extendedprice AS DECIMAL(18,2))
               * (1 - CAST(l.l_discount AS DECIMAL(18,2))) AS amount
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE p.p_name LIKE '%bolt%'
) profit
GROUP BY nation, o_year
ORDER BY nation, o_year DESC
""")
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (adapted — no partsupp table in the driver schema,
    so amount = extprice*(1-discount)): the 5-way join with a selective
    LIKE filter on part ("bolt", present in the synthetic names).  part/supplier/nation broadcast (dims);
    lineitem⋈orders shuffles once on orderkey.  The p_name filter is
    applied BEFORE the broadcast so the hash table only holds matching
    parts."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    part = load_table(spark, sf_dir, "part")
    orders = load_table(spark, sf_dir, "orders")
    nation = load_table(spark, sf_dir, "nation")
    amount = (F.col("l_extendedprice").cast("decimal(18,2)")
              * (1 - F.col("l_discount").cast("decimal(18,2)")))
    return (li
            .join(F.broadcast(part.where(F.col("p_name").like("%bolt%"))
                              .select("p_partkey")),
                  li.l_partkey == F.col("p_partkey"))
            .join(F.broadcast(supp.select("s_suppkey", "s_nationkey")),
                  li.l_suppkey == F.col("s_suppkey"))
            .join(F.broadcast(nation.select("n_nationkey", "n_name")),
                  F.col("s_nationkey") == F.col("n_nationkey"))
            .join(orders.select("o_orderkey", "o_orderdate"),
                  li.l_orderkey == F.col("o_orderkey"))
            .select(F.col("n_name").alias("nation"),
                    F.year("o_orderdate").cast("int").alias("o_year"),
                    amount.alias("amount"))
            .groupBy("nation", "o_year")
            .agg(F.sum("amount").cast("double").alias("sum_profit"))
            .orderBy(F.asc("nation"), F.desc("o_year")))


# --------------------------------------------------------------------- #
# TPC-H Q12 shipping-priority-class shape (adapted: no l_shipmode /     #
# commit/receipt dates — lateness = shipdate > orderdate + 90 days,     #
# classes = priority high/low)                                          #
# --------------------------------------------------------------------- #

@register("q12_late_shipment_priority", """
SELECT o_orderstatus,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE CAST(l.l_shipdate AS DATE) > CAST(o.o_orderdate AS DATE)
                                   + INTERVAL 90 DAY
GROUP BY o_orderstatus
ORDER BY o_orderstatus
""")
def q12_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (adapted — the driver schema has no l_shipmode or
    commit/receipt dates): join orders⋈lineitem, filter to
    late-shipped lines (shipped >90 days after order), and count
    high- vs low-priority lines per order status — the canonical
    join→conditional-two-way-count aggregation.  One shuffle on
    orderkey; the CASE counts are map-side combinable."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (li.join(orders, li.l_orderkey == orders.o_orderkey)
            .where(F.col("l_shipdate").cast("date")
                   > F.date_add(F.col("o_orderdate").cast("date"), 90))
            .groupBy("o_orderstatus")
            .agg(F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
                 F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"))
            .orderBy("o_orderstatus"))


# --------------------------------------------------------------------- #
# TPC-H Q21 waiting-suppliers shape (adapted lateness; the multi-way    #
# semi + anti self-join structure is the point)                         #
# --------------------------------------------------------------------- #

@register("q21_waiting_suppliers", """
WITH li AS (
    SELECT l.l_orderkey, l.l_suppkey,
           CAST(l.l_shipdate AS DATE) >
               CAST(o.o_orderdate AS DATE) + INTERVAL 60 DAY AS is_late
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderstatus = 'F'
)
SELECT s.s_name, count(*) AS numwait
FROM (SELECT DISTINCT l_orderkey, l_suppkey FROM li WHERE is_late) l1
JOIN supplier s ON s.s_suppkey = l1.l_suppkey
WHERE EXISTS (
    SELECT 1 FROM li l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (
    SELECT 1 FROM li l3
    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      AND l3.is_late)
GROUP BY s.s_name
ORDER BY numwait DESC, s_name
LIMIT 20
""")
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (adapted lateness = shipped >60 days after order,
    in lieu of the absent commit/receipt dates): suppliers who were the
    SOLE late supplier on a finished multi-supplier order.  The
    structure is the point — a semi self-join (another supplier exists
    on the order) plus an anti self-join (no OTHER supplier was late) —
    and both express as per-order aggregates: distinct-supplier count
    and late-distinct-supplier count, computed in ONE shuffle on
    orderkey instead of two additional self-join shuffles (the classic
    Q21 rewrite; Catalyst cannot do it automatically because the EXISTS
    pair is correlated).  NOT a cartesian: every join is equi-keyed."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supp = load_table(spark, sf_dir, "supplier")
    lines = (li.join(orders.where(F.col("o_orderstatus") == "F")
                     .select("o_orderkey", "o_orderdate"),
                     li.l_orderkey == F.col("o_orderkey"))
             .select("l_orderkey", "l_suppkey",
                     (F.col("l_shipdate").cast("date")
                      > F.date_add(F.col("o_orderdate").cast("date"), 60))
                     .alias("is_late"))
             .select("l_orderkey", "l_suppkey", "is_late").distinct())
    per_order = (lines.groupBy("l_orderkey")
                 .agg(F.count_distinct("l_suppkey").alias("n_supps"),
                      F.count_distinct(
                          F.when(F.col("is_late"), F.col("l_suppkey")))
                      .alias("n_late_supps")))
    # l1: late (orderkey, suppkey) pairs on orders with >1 supplier where
    # this suppkey is the ONLY late one
    l1 = (lines.where(F.col("is_late"))
          .select("l_orderkey", "l_suppkey").distinct()
          .join(per_order.where((F.col("n_supps") > 1)
                                & (F.col("n_late_supps") == 1)),
                "l_orderkey"))
    return (l1.join(F.broadcast(supp.select("s_suppkey", "s_name")),
                    l1.l_suppkey == F.col("s_suppkey"))
            .groupBy("s_name")
            .agg(F.count("*").alias("numwait"))
            .orderBy(F.desc("numwait"), F.asc("s_name"))
            .limit(20))


# --------------------------------------------------------------------- #
# Snapshot diff: key-level change detection between table versions      #
# --------------------------------------------------------------------- #

@register("snapshot_diff_users", """
WITH old_snap AS (
    SELECT user_id, CAST(ts AS DATE) AS d,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events WHERE CAST(ts AS DATE) < DATE '2024-01-21'
    GROUP BY 1, 2
),
new_snap AS (
    -- the "reprocessed" snapshot: a later window with error events
    -- scrubbed, so the overlap days mix changed and unchanged keys
    SELECT user_id, CAST(ts AS DATE) AS d,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    WHERE CAST(ts AS DATE) >= DATE '2024-01-11' AND event_type <> 'error'
    GROUP BY 1, 2
),
diff AS (
    SELECT COALESCE(o.user_id, n.user_id) AS user_id,
           CASE WHEN o.user_id IS NULL THEN 'added'
                WHEN n.user_id IS NULL THEN 'removed'
                WHEN o.n_events <> n.n_events
                     OR o.total_value <> n.total_value THEN 'changed'
                ELSE 'unchanged' END AS change
    FROM old_snap o FULL OUTER JOIN new_snap n
      ON o.user_id = n.user_id AND o.d = n.d
)
SELECT change, CAST(count(*) AS BIGINT) AS n_keys
FROM diff GROUP BY change ORDER BY change
""")
def snapshot_diff_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-diff report between two versions of a per-(user, day)
    aggregate table — an earlier build (days 1-20) vs a reprocessed
    later build (days 11-30 with error events scrubbed), so all four
    change classes appear: early days removed, late days added, overlap
    days changed (had errors) or unchanged.  operators/diff.py's
    hash-compare full-outer join is the engine; the oracle compares the
    raw columns directly (same verdicts: the md5 over canonicalized
    strings changes exactly when a column changes)."""
    from moonshot_spark.operators.diff import snapshot_diff

    ev = load_table(spark, sf_dir, "events")

    def snap(frame):
        return (frame
                .withColumn("d", F.col("ts").cast("date"))
                .groupBy("user_id", "d")
                .agg(F.count("*").cast("bigint").alias("n_events"),
                     F.sum(F.col("value").cast("decimal(18,2)"))
                     .cast("double").alias("total_value")))

    old = snap(ev.where(F.col("ts").cast("date")
                        < F.lit("2024-01-21").cast("date")))
    new = snap(ev.where((F.col("ts").cast("date")
                         >= F.lit("2024-01-11").cast("date"))
                        & (F.col("event_type") != "error")))
    return (snapshot_diff(old, new, ["user_id", "d"])
            .groupBy("change")
            .agg(F.count("*").cast("bigint").alias("n_keys"))
            .orderBy("change"))
