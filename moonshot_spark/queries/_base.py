"""Query catalog: every operator claimed in SURVEY.md §2 as a named query.

Each entry maps a name to (spark_fn, oracle_sql):

- ``spark_fn(spark, sf_dir) -> DataFrame`` — the Spark-native plan.
- ``oracle_sql`` — equivalent ANSI SQL for DuckDB over the same parquet
  tables (driver pre-registers views ``region nation customer supplier part
  orders lineitem events documents embeddings``), or None for ops that
  aren't SQL-expressible (driver then records a rows-only check).

This module holds the registry and the oracle fragments that more than
one catalog module splices in: ``PANEL_SQL`` (the daily OHLCV panel),
``BUY_BELOW_100_SQL`` (the ``sig`` CTE of the BuyBelow100 demo),
``EQUAL_WEIGHTS_SQL`` (the ``wts`` CTE of equal weights),
``CLOSE_RETURNS_SQL`` (close-to-close returns) and
``COPURCHASE_GRAPH_SQL`` (the co-purchase graph CTEs).  A fragment one
module uses stays in that module.  Fragments are constants cut at CTE
boundaries, so an oracle sends DuckDB the same text as if it spelled
them out.  The Spark-side helpers shared by modules live here too:
``six_hour_bar``, ``intraday_panel`` and the chi-square test
``chi_square`` with its oracle builder ``chi_square_sql``.

Cross-engine float discipline: two-operand double arithmetic (+,-,*,/) and
min/max/lag/count are bit-deterministic across engines, so most queries
hash-match exactly.  Multi-row accumulations (sum/avg over many rows) are
association-order-dependent, so aggregates sum via DECIMAL(18,2) (inputs
are 2-decimal money; decimal sums are exact in both engines, cast back to
double).  Arbitrary doubles (returns, moments) cannot go through DECIMAL,
so they sum as a left-to-right fold from 0.0 over a key-ordered list:
DuckDB's ``list_reduce(list(v ORDER BY key), (a, b) -> a + b)``, whose one
Spark home is ``functions/folds.py`` (``ordered_values``, ``fold_sum``,
``fold_sum_exact``).  Avoid ``round()`` on doubles in query outputs: Spark rounds the
shortest decimal repr (HALF_UP) while DuckDB rounds the binary value, so
even bit-identical inputs can round differently at .xx5 boundaries —
``floor``/``round_even`` (= Spark ``bround`` on halves away from repr
boundaries) or no rounding at all are the portable choices.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from moonshot_spark.functions.folds import fold_sum_exact
from moonshot_spark.session import ensure_session_confs
from moonshot_spark.sources.parquet import load_table

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            ensure_session_confs(spark)
            return fn(spark, sf_dir)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        QUERIES[name] = wrapped
        if oracle is not None:
            ORACLES[name] = oracle
        return wrapped
    return deco


# --------------------------------------------------------------------- #
# shared SQL fragments                                                  #
# --------------------------------------------------------------------- #

# daily OHLCV panel from events: sid = user_id, date = day (SURVEY §2.1 S1,
# §2.4 A2 first/last-of-day semantics)
PANEL_SQL = """
    SELECT CAST(user_id AS VARCHAR) AS sid, CAST(ts AS DATE) AS date,
           arg_min(value, ts) AS open, arg_max(value, ts) AS close,
           max(value) AS high, min(value) AS low,
           CAST(count(*) AS DOUBLE) AS volume
    FROM events GROUP BY 1, 2
"""

# signals: the BuyBelow100 demo (strategies/demo.py), long every sid whose
# close is under 100
BUY_BELOW_100_SQL = """sig AS (
    SELECT sid, date, close,
           CASE WHEN close < 100 THEN 1.0 ELSE 0.0 END AS signal
    FROM panel
)"""

# target weights: allocate_equal_weights (operators/weights.py), each
# signal over its date's gross signal (over 1 on a date with none)
EQUAL_WEIGHTS_SQL = """wts AS (
    SELECT *, signal / (CASE WHEN coalesce(sum(abs(signal)) OVER (PARTITION BY date), 0) <> 0
                             THEN sum(abs(signal)) OVER (PARTITION BY date)
                             ELSE 1 END) AS weight
    FROM sig
)"""

# per-sid close-to-close returns of ``panel``, and the non-NULL ones
CLOSE_RETURNS_SQL = """rets AS (
    SELECT sid, date,
           (close / lag(close) OVER w - 1) AS r
    FROM panel WINDOW w AS (PARTITION BY sid ORDER BY date)
), rr AS (
    SELECT sid, date, r FROM rets WHERE r IS NOT NULL
)"""

# the co-purchase graph (warehouse.py::_copurchase_edges): the support-2
# co-purchase pair list (same guards as item_cooccurrence) symmetrized
# into an edge list with per-node degree
COPURCHASE_GRAPH_SQL = """
items AS (
    SELECT DISTINCT l_orderkey AS basket, l_partkey AS item FROM lineitem
),
sized AS (
    SELECT basket FROM items GROUP BY basket HAVING count(*) <= 50
),
freq AS (
    SELECT item FROM items GROUP BY item HAVING count(*) >= 2
),
fi AS (
    SELECT i.basket, i.item FROM items i
    JOIN sized USING (basket) JOIN freq USING (item)
),
pairs AS (
    SELECT a.item AS item_a, b.item AS item_b
    FROM fi a JOIN fi b ON a.basket = b.basket AND a.item < b.item
    GROUP BY 1, 2 HAVING count(*) >= 2
),
edges AS (
    SELECT item_a AS src, item_b AS dst FROM pairs
    UNION ALL
    SELECT item_b AS src, item_a AS dst FROM pairs
),
deg AS (
    SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
    FROM edges GROUP BY src
)
"""


def chi_square_sql(source: str, row: str, col: str, dof: str) -> str:
    """Oracle twin of ``chi_square``: the ``obs``, ``tot`` and ``cells``
    CTEs over ``source`` and the one-row (chi2, dof, n_cells) select,
    ``dof`` being the caller's SQL expression."""
    return f"""obs AS (
    SELECT {row}, {col}, CAST(count(*) AS BIGINT) AS o
    FROM {source} GROUP BY {row}, {col}
),
tot AS (
    SELECT {row}, {col}, o,
           CAST(sum(o) OVER (PARTITION BY {row}) AS DOUBLE) AS row_tot,
           CAST(sum(o) OVER (PARTITION BY {col}) AS DOUBLE) AS col_tot,
           CAST(sum(o) OVER () AS DOUBLE) AS n
    FROM obs
),
cells AS (
    SELECT {row}, {col},
           (CAST(o AS DOUBLE) - row_tot * col_tot / n)
           * (CAST(o AS DOUBLE) - row_tot * col_tot / n)
           / (row_tot * col_tot / n) AS cell
    FROM tot
)
SELECT CAST(list_reduce(list(cell ORDER BY {row}, {col}),
            (a, b) -> a + b) AS DOUBLE) AS chi2,
       {dof} AS dof,
       CAST(count(*) AS BIGINT) AS n_cells
FROM cells
"""


def chi_square(frame: DataFrame, row: str, col: str) -> DataFrame:
    """One-row (chi2, n_cells): the Pearson chi-square independence
    statistic of the ``row`` × ``col`` contingency table of ``frame``.
    The table is one map-side-combined count; the marginals are windows
    over that tiny table and the grand total a broadcast 1-row aggregate
    (an unpartitioned window would warn and run one task).  The cells
    fold in (row, col) order, so the statistic is bit-exact against
    ``chi_square_sql``."""
    obs = frame.groupBy(row, col).agg(F.count("*").alias("o"))
    row_tot = F.sum("o").over(Window.partitionBy(row)).cast("double")
    col_tot = F.sum("o").over(Window.partitionBy(col)).cast("double")
    grand = obs.agg(F.sum("o").cast("double").alias("n"))
    e = row_tot * col_tot / F.col("n")
    cells = (obs.crossJoin(F.broadcast(grand))
             .select(row, col,
                     ((F.col("o").cast("double") - e)
                      * (F.col("o").cast("double") - e) / e).alias("cell")))
    return cells.agg(fold_sum_exact([row, col], "cell").alias("chi2"),
                     F.count("*").alias("n_cells"))


def six_hour_bar() -> Column:
    """The intraday fixtures' bar label: the tick's hour floored to 6
    hours, as "HH:00:00" (00, 06, 12 or 18)."""
    hour = F.hour("ts")
    return F.concat(F.lpad((hour - hour % 6).cast("string"), 2, "0"),
                    F.lit(":00:00"))


def intraday_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(sid, date, time, close) on 6-hour bars, close = the bar's last
    tick: the catalog's intraday panel (INTRADAY_PANEL_SQL in
    queries/backtest.py is its oracle)."""
    return (load_table(spark, sf_dir, "events")
            .withColumn("sid", F.col("user_id").cast("string"))
            .withColumn("date", F.to_date("ts"))
            .withColumn("time", six_hour_bar())
            .groupBy("sid", "date", "time")
            .agg(F.max_by("value", "ts_ns").alias("close")))
