"""The benchmark workloads.

Each is a closed loop with one client: the next operation starts when the
previous one has finished.  An operation is

- ``backtest_wide``: one research backtest, ``events_to_panel`` then
  ``DualMovingAverageWithCosts().backtest`` forced through a ``noop``
  sink.  Executor work (rollup, windows, cost models, melt) in a few jobs.
- ``catalog_mix``: one pass over a fixed list of catalog queries, each
  forced through ``noop``.  Driver work: plan building, eager jobs
  (``Moonshot.trade``'s collects, iterative loops with checkpoints),
  the per-job floor, an Arrow UDF and a Structured Streaming run.

``op(spark, tr)`` runs one operation under the tracer ``tr`` (a
``NullTracer`` when untraced) and returns ``(seconds, attempted,
failed)``; ``check`` compares one run's outputs with the DuckDB oracles
in ``moonshot_spark.queries.ORACLES``, outside any timed region.
"""

from __future__ import annotations

import os
import statistics
import time
import traceback

from perfbench import inputs
from perfbench.tracing import force_plan, noop


def _log(msg: str) -> None:
    print(msg, flush=True)


def _duck(views: dict[str, list[str]]):
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for name, files in views.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                    f"read_parquet({files!r})")
    return con


def _compare(name: str, spark_df, oracle_sql: str, con) -> bool:
    from tools.check_correctness import compare

    return compare(name, spark_df.toPandas(), con.execute(oracle_sql).df())


class BacktestWide:
    name = "backtest_wide"
    SIZES = {"sids": 300, "days": 500, "ticks_per_day": 4}
    TINY_SIZES = {"sids": 40, "days": 60, "ticks_per_day": 4}
    # the oracle check compares every CHECK_EVERY-th sid's rows
    CHECK_EVERY = 8

    def prepare(self, seed: int, tiny: bool) -> None:
        self.sizes = s = self.TINY_SIZES if tiny else self.SIZES
        self.dir = inputs.wide_events(seed, s["sids"], s["days"],
                                      s["ticks_per_day"])

    def op(self, spark, tr):
        from moonshot_spark.sources.parquet import events_to_panel
        from moonshot_spark.strategies.demo import DualMovingAverageWithCosts

        t0 = time.perf_counter()
        with tr.span("op"):
            with tr.span("sources.panel_build"):
                panel = events_to_panel(spark, self.dir)
            with tr.span("strategies.backtest_build"):
                results = DualMovingAverageWithCosts().backtest(panel)
            if tr.active:
                with tr.span("driver.plan"):
                    force_plan(results)
            with tr.span("exec"):
                noop(results)
        return time.perf_counter() - t0, 1, 0

    def layers(self, spark, tr) -> dict[str, float]:
        """Per-stage exec times: each public hook's prefix forced through
        ``noop``, the panel alone, and the backtest without costs."""
        from moonshot_spark.sources.parquet import events_to_panel
        from moonshot_spark.strategies.demo import (
            DualMovingAverage, DualMovingAverageWithCosts)

        def timed(df) -> float:
            a = time.perf_counter()
            noop(df)
            return time.perf_counter() - a

        rounds = []
        for _ in range(2):
            with tr.span("layers.backtest"):
                panel = events_to_panel(spark, self.dir)
                strat = DualMovingAverageWithCosts()
                strat.is_backtest = True
                sig = strat.prices_to_signals(panel)
                wts = strat.signals_to_target_weights(sig)
                pos = strat.target_weights_to_positions(wts)
                ret = strat.positions_to_gross_returns(pos)
                t = {"panel": timed(panel), "sig": timed(sig),
                     "wts": timed(wts), "pos": timed(pos),
                     "ret": timed(ret),
                     "full": timed(DualMovingAverageWithCosts()
                                   .backtest(panel)),
                     "nocost": timed(DualMovingAverage().backtest(panel))}
            rounds.append(t)
        m = {k: statistics.median(r[k] for r in rounds) for k in rounds[0]}
        return {
            "sources.panel_exec_s": m["panel"],
            "strategies.signals_s": m["sig"] - m["panel"],
            "strategies.weights_s": m["wts"] - m["sig"],
            "strategies.positions_s": m["pos"] - m["wts"],
            "strategies.returns_s": m["ret"] - m["pos"],
            "strategies.results_s": m["full"] - m["ret"],
            "costs.commission_slippage_s": m["full"] - m["nocost"],
        }

    def check(self, spark) -> list[tuple[str, bool]]:
        from pyspark.sql import functions as F

        from moonshot_spark.queries import ORACLES, QUERIES

        sids = [str(i) for i in range(0, self.sizes["sids"],
                                      self.CHECK_EVERY)]
        in_list = ", ".join(f"'{s}'" for s in sids)
        con = _duck({"events": [os.path.join(self.dir, "events.parquet")]})
        got = (QUERIES["backtest_dma_costs"](spark, self.dir)
               .where(F.col("sid").isin(sids)))
        want = (f"SELECT * FROM ({ORACLES['backtest_dma_costs']}) "
                f"WHERE sid IN ({in_list})")
        return [("backtest_dma_costs", _compare("backtest_dma_costs", got,
                                                want, con))]


class CatalogMix:
    name = "catalog_mix"
    # one query for each kind of driver-side work: a TPC-H scan
    # (warehouse), an iterative loop with a checkpoint per round
    # (datapipe), an Arrow UDF and the live trade() path with its eager
    # collects (backtest), and a Structured Streaming availableNow run
    QUERY_LIST = [
        "q1_pricing_summary",
        "label_propagation_communities",
        "ml_score_linear",
        "trade_orders",
        "streaming_ohlcv_panel",
    ]
    # the query whose build and exec give the strategies.trade_* layer
    TRADE_QUERY = "trade_orders"
    # already small: the tiny run uses the same size
    sizes = {"scale": 0.001, "queries": len(QUERY_LIST)}

    def prepare(self, seed: int, tiny: bool) -> None:
        self.dir = inputs.catalog_dir(seed, self.sizes["scale"])

    @staticmethod
    def family(name: str) -> str:
        """The catalog module that registers ``name``."""
        from moonshot_spark.queries import QUERIES

        fn = QUERIES[name]
        inner = [c.cell_contents for c in fn.__closure__
                 if callable(c.cell_contents)]
        return inner[0].__module__.rsplit(".", 1)[-1]

    def op(self, spark, tr):
        from moonshot_spark.queries import QUERIES

        t0 = time.perf_counter()
        failed = 0
        with tr.span("op"):
            for q in self.QUERY_LIST:
                fam = self.family(q)
                try:
                    with tr.span(f"queries.{fam}.build", query=q):
                        df = QUERIES[q](spark, self.dir)
                    if tr.active:
                        with tr.span("driver.plan", query=q):
                            force_plan(df)
                    with tr.span(f"queries.{fam}.exec", query=q):
                        noop(df)
                except Exception:
                    failed += 1
                    _log(f"{q} failed:\n{traceback.format_exc()}")
        return time.perf_counter() - t0, len(self.QUERY_LIST), failed

    def layers(self, spark, tr) -> dict[str, float]:
        return {}

    def check(self, spark) -> list[tuple[str, bool]]:
        from moonshot_spark.queries import ORACLES, QUERIES

        con = _duck({f[:-len(".parquet")]: [os.path.join(self.dir, f)]
                     for f in os.listdir(self.dir) if f.endswith(".parquet")})
        return [(q, _compare(q, QUERIES[q](spark, self.dir), ORACLES[q], con))
                for q in self.QUERY_LIST]


WORKLOADS = {w.name: w for w in (BacktestWide, CatalogMix)}
