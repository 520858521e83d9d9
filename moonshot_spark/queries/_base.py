"""Query catalog: every operator claimed in SURVEY.md §2 as a named query.

Each entry maps a name to (spark_fn, oracle_sql):

- ``spark_fn(spark, sf_dir) -> DataFrame`` — the Spark-native plan.
- ``oracle_sql`` — equivalent ANSI SQL for DuckDB over the same parquet
  tables (driver pre-registers views ``region nation customer supplier part
  orders lineitem events documents embeddings``), or None for ops that
  aren't SQL-expressible (driver then records a rows-only check).

Cross-engine float discipline: two-operand double arithmetic (+,-,*,/) and
min/max/lag/count are bit-deterministic across engines, so most queries
hash-match exactly.  Multi-row accumulations (sum/avg over many rows) are
association-order-dependent, so aggregates sum via DECIMAL(18,2) (inputs
are 2-decimal money; decimal sums are exact in both engines, cast back to
double).  Avoid ``round()`` on doubles in query outputs: Spark rounds the
shortest decimal repr (HALF_UP) while DuckDB rounds the binary value, so
even bit-identical inputs can round differently at .xx5 boundaries —
``floor``/``round_even`` (= Spark ``bround`` on halves away from repr
boundaries) or no rounding at all are the portable choices.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from moonshot_spark.functions.window import (
    days_since_prev, diff, ffill, pct_change, shift,
)
from moonshot_spark.functions.crosssec import xs_rank, xs_sum, xs_zscore
from moonshot_spark.session import ensure_session_confs
from moonshot_spark.sources.parquet import events_to_panel, load_table

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
