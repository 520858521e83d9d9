"""Technical-analysis indicator columns over a (sid, date) OHLCV panel.

Moonshot strategies compute signals with pandas rolling/ewm expressions
inside ``prices_to_signals`` (reference ``moonshot/strategies/base.py``
DataFrame-of-prices idiom; e.g. the DMA example in the reference README
uses ``prices.rolling()``).  This module provides the standard indicator
vocabulary those strategies draw on, as pure Spark ``Column``
constructors over a sid-partitioned, date-ordered window — no Python
UDFs, every indicator stays inside whole-stage codegen.

Scale notes
-----------
Every helper takes (or builds) ``Window.partitionBy("sid").orderBy
("date")`` with a BOUNDED trailing rows frame: one shuffle by sid for the
whole indicator stack, constant per-row state, no unbounded-preceding
frames except where the semantics are genuinely cumulative (OBV), which
Spark evaluates with a running accumulator — still one pass.  Stacking
any number of indicators over the same window adds zero extra shuffles:
Catalyst collapses them into a single WindowExec.

Cross-engine exactness: indicators use only +, -, *, /, min/max,
greatest/least and integer counts — IEEE-exact-rounded ops that match
DuckDB bit-for-bit.  The EWMA-family smoothers (Wilder RSI, standard
MACD) are offered in their SMA variants (Cutler's RSI, SMA-MACD) so the
oracle comparison has no libm pow()/exp() in it; the recursive forms are
available through ``functions.window`` EWMA if bit-parity is not needed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.window import WindowSpec

from moonshot_spark.functions.window import sid_window


def trailing(n: int) -> WindowSpec:
    """Bounded trailing frame of n rows (current inclusive)."""
    return sid_window().rowsBetween(-(n - 1), 0)


def sma(col: Column | str, n: int) -> Column:
    return F.avg(col).over(trailing(n))


def rolling_std(col: Column | str, n: int) -> Column:
    return F.stddev_samp(col).over(trailing(n))


def bollinger(close: Column | str = "close", n: int = 20,
              k: float = 2.0) -> dict[str, Column]:
    """Bollinger bands: n-row SMA ± k·sample-std, plus %B position.

    %B = (close − lower) / (upper − lower); NULL while the band is
    degenerate (std undefined at the first row of each sid).
    """
    mid = sma(close, n)
    sd = rolling_std(close, n)
    upper = mid + F.lit(k) * sd
    lower = mid - F.lit(k) * sd
    c = F.col(close) if isinstance(close, str) else close
    pct_b = (c - lower) / (upper - lower)
    return {"bb_mid": mid, "bb_upper": upper, "bb_lower": lower,
            "bb_pct_b": pct_b}


def rsi_cutler(close: Column | str = "close", n: int = 14) -> Column:
    """Cutler's RSI: 100·avgGain/(avgGain+avgLoss) over an n-row SMA.

    The SMA variant of Wilder's RSI (Cutler 1980s): same bounded
    oscillator, but linear — so it is frame-exact, engine-portable, and
    needs no recursive state.  Gains/losses come from the 1-row diff;
    the first row of each sid contributes NULL and is excluded by avg's
    null-skipping, matching pandas ``rolling(min_periods=1)`` on a
    diffed series.
    """
    c = F.col(close) if isinstance(close, str) else close
    chg = c - F.lag(c, 1).over(sid_window())
    gain = F.when(chg > 0, chg).otherwise(
        F.when(chg.isNotNull(), F.lit(0.0)))
    loss = F.when(chg < 0, -chg).otherwise(
        F.when(chg.isNotNull(), F.lit(0.0)))
    avg_gain = F.avg(gain).over(trailing(n))
    avg_loss = F.avg(loss).over(trailing(n))
    return F.lit(100.0) * avg_gain / (avg_gain + avg_loss)


def macd_sma_line(close: Column | str = "close", fast: int = 12,
                  slow: int = 26) -> Column:
    """SMA-MACD line: fast-SMA − slow-SMA.

    The standard MACD uses ewm(12/26/9); the SMA variant keeps the same
    crossover structure while staying transcendental-free (see module
    docstring).  The signal line is an SMA **of the MACD line** — apply
    ``F.avg(...).over(trailing(9))`` to the materialized line column;
    still the same sid partition, so Catalyst keeps it in one shuffle.
    """
    return sma(close, fast) - sma(close, slow)


def true_range(high: str = "high", low: str = "low",
               close: str = "close") -> Column:
    """True range: greatest of (H−L, |H−prevC|, |L−prevC|).

    First row per sid falls back to H−L (prev close undefined), the
    standard convention.
    """
    prev_c = F.lag(close, 1).over(sid_window())
    hl = F.col(high) - F.col(low)
    return F.when(prev_c.isNull(), hl).otherwise(
        F.greatest(hl, F.abs(F.col(high) - prev_c),
                   F.abs(F.col(low) - prev_c)))


def stochastic_k(close: str = "close", high: str = "high",
                 low: str = "low", n: int = 14) -> Column:
    """Stochastic %K: position of close within the n-row high/low range."""
    hh = F.max(high).over(trailing(n))
    ll = F.min(low).over(trailing(n))
    return F.lit(100.0) * (F.col(close) - ll) / (hh - ll)


def obv(close: str = "close", volume: str = "volume") -> Column:
    """On-balance volume: running sum of sign(Δclose)·volume.

    DECIMAL accumulation (volume is an integer count in the panel) so the
    cumulative sum is exact at any depth; the frame is genuinely
    unbounded-preceding — Spark evaluates it as a running accumulator in
    one pass over the sid partition, not by re-summing per row.
    """
    chg = F.col(close) - F.lag(close, 1).over(sid_window())
    signed = (F.when(chg > 0, F.col(volume))
              .when(chg < 0, -F.col(volume))
              .otherwise(F.lit(0.0))).cast("decimal(18,1)")
    return (F.sum(signed)
            .over(sid_window().rowsBetween(Window.unboundedPreceding, 0))
            .cast("decimal(38,1)"))


def with_indicators(panel: DataFrame) -> DataFrame:
    """Attach the full indicator stack to an OHLCV panel in one plan.

    All indicators share the sid partition — `.explain()` shows a single
    Exchange followed by WindowExec nodes, no extra shuffles as the stack
    grows.
    """
    bb = bollinger()
    out = panel.select(
        "*",
        bb["bb_mid"].alias("bb_mid"),
        bb["bb_upper"].alias("bb_upper"),
        bb["bb_lower"].alias("bb_lower"),
        bb["bb_pct_b"].alias("bb_pct_b"),
        rsi_cutler().alias("rsi"),
        macd_sma_line().alias("macd_line"),
        true_range().alias("true_range"),
        stochastic_k().alias("stoch_k"),
        obv().alias("obv"),
    )
    out = out.withColumn(
        "macd_signal", F.avg("macd_line").over(trailing(9))).withColumn(
        "atr", F.avg("true_range").over(trailing(14))).withColumn(
        "stoch_d", F.avg("stoch_k").over(trailing(3)))
    return out
