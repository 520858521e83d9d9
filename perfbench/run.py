#!/usr/bin/env python3
"""moonshot_spark benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload backtest_wide --seed 1 \\
        --seconds 12 --trace 0

Run from the root of a checkout.  The run generates (or reuses) its
seeded inputs, starts Spark through ``moonshot_spark.session.get_spark``
with host-fitted settings, sets up ``SETUP_SAMPLES`` times (session start
plus one warm-up operation), runs operations in a closed loop for
``--seconds``, then checks one operation's outputs against the DuckDB
oracles.  The last line of standard output is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` they are its per-layer metrics,
from a run that times untraced operations, then traced ones (spans plus
Spark counters), then the workload's layer breakdown.  Spans are written
to ``perfbench/.out/``.  See ``perfbench/README.md`` for what each
workload and metric is for.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_SAMPLES = 3
# the catalog modules whose queries catalog_mix runs
FAMILIES = ("warehouse", "datapipe", "backtest", "streaming")


def _log(msg: str) -> None:
    print(msg, flush=True)


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _stop_spark(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for both."""
    from pyspark import SparkContext

    from perfbench.host import wait_children_exit

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    wait_children_exit()


class Run:
    def __init__(self, args):
        from perfbench.workloads import WORKLOADS

        self.args = args
        self.run_id = uuid.uuid4().hex[:12]
        self.work = os.path.join(HERE, ".work", self.run_id)
        self.workload = WORKLOADS[args.workload]()
        self.attempted = 0
        self.failed = 0
        self.spark = None

    def attempt(self, tr) -> float | None:
        """One operation; its seconds, or None when it raised."""
        try:
            seconds, attempted, failed = self.workload.op(self.spark, tr)
        except Exception:
            self.attempted += 1
            self.failed += 1
            if self.failed <= 3:
                _log(f"operation failed:\n{traceback.format_exc()}")
            return None
        self.attempted += attempted
        self.failed += failed
        return seconds

    def loop(self, seconds: float, tr) -> list[float]:
        """Closed loop, one client: operations back to back until
        ``seconds`` have passed (at least one)."""
        out = []
        end = time.perf_counter() + seconds
        while True:
            s = self.attempt(tr)
            if s is not None:
                out.append(s)
            if time.perf_counter() >= end:
                return out

    def setup(self) -> tuple[list[float], list[float]]:
        """``SETUP_SAMPLES`` times: start a session and run one warm-up
        operation.  The first start launches the JVM; later ones stop
        the session and start a new one in the same JVM."""
        from moonshot_spark.session import get_spark
        from perfbench.tracing import NullTracer

        setup_s, start_s = [], []
        for _ in range(SETUP_SAMPLES):
            if self.spark is not None:
                self.spark.stop()
            t0 = time.perf_counter()
            self.spark = get_spark("perfbench")
            t1 = time.perf_counter()
            self.attempt(NullTracer())
            setup_s.append(time.perf_counter() - t0)
            start_s.append(t1 - t0)
        return setup_s, start_s

    def check(self) -> bool:
        try:
            results = self.workload.check(self.spark)
        except Exception:
            _log(f"check failed:\n{traceback.format_exc()}")
            results = [("check", False)]
        self.attempted += len(results)
        bad = [name for name, ok in results if not ok]
        self.failed += len(bad)
        _log(json.dumps({"checked": [n for n, _ in results],
                         "mismatched": bad}))
        return not bad

    def execute(self) -> dict:
        from perfbench import host
        from perfbench.tracing import NullTracer, Tracer

        args = self.args
        os.makedirs(os.path.join(self.work, "tmp"), exist_ok=True)
        env = host.session_env(ROOT, self.work, ui=bool(args.trace))
        os.environ.update(env)
        import tempfile
        tempfile.tempdir = env["TMPDIR"]
        self.workload.prepare(args.seed, args.tiny)
        _log(json.dumps({"workload": args.workload, "seed": args.seed,
                         "trace": args.trace, "run_id": self.run_id,
                         "sizes": self.workload.sizes, "settings": env,
                         "setup_samples": SETUP_SAMPLES}))
        with host.PeakRss() as rss:
            setup_s, start_s = self.setup()
            if not args.trace:
                steal0, total0 = host.cpu_ticks()
                ops = self.loop(args.seconds, NullTracer())
                steal1, total1 = host.cpu_ticks()
        if args.trace:
            plain = self.loop(args.seconds, NullTracer())
            tr = Tracer(self.run_id, self.spark)
            traced = self.loop(args.seconds, tr)
            metrics = self.layer_metrics(tr, plain, traced, start_s)
            os.makedirs(os.path.join(HERE, ".out"), exist_ok=True)
            path = os.path.join(
                HERE, ".out",
                f"trace-{args.workload}-s{args.seed}-{self.run_id}.json")
            tr.write(path)
            _log(json.dumps({"spans": path, "untraced_ops": len(plain),
                             "traced_ops": len(traced)}))
        else:
            _log(json.dumps({
                "ops": len(ops), "op_s": ops, "setup_s": setup_s,
                "host_steal_share":
                    (steal1 - steal0) / max(total1 - total0, 1)}))
            metrics = {
                "op_s_p50": (_median(ops), "s"),
                "setup_s": (_median(setup_s), "s"),
                "peak_rss_mb": (rss.peak / (1 << 20), "MB"),
            }
        t0 = time.perf_counter()
        correct = self.check()
        _log(json.dumps({"check_s": time.perf_counter() - t0}))
        return {"correct": correct and self.failed == 0,
                "attempted": self.attempted, "failed": self.failed,
                "metrics": {k: {"value": v, "unit": u}
                            for k, (v, u) in metrics.items()}}

    def layer_metrics(self, tr, plain, traced, start_s) -> dict:
        """Per-layer metrics of the traced operations, each a per-operation
        median unless named otherwise; 0 where the workload does not
        exercise the layer."""
        from perfbench.tracing import SparkRest

        sc = self.spark.sparkContext
        by_parent: dict = {}
        for s in tr.spans:
            by_parent.setdefault(s["parent"], []).append(s)

        def below(span):
            out, todo = [], list(by_parent.get(span["id"], []))
            while todo:
                s = todo.pop()
                out.append(s)
                todo.extend(by_parent.get(s["id"], []))
            return out

        ops = [s for s in tr.spans if s["name"] == "op"]
        trade_query = getattr(self.workload, "TRADE_QUERY", None)
        per_op = []
        for op in ops:
            d: dict[str, float] = {}
            for s in below(op):
                keys = [s["name"]]
                if trade_query and s.get("query") == trade_query:
                    keys.append("strategies.trade_"
                                + s["name"].rsplit(".", 1)[-1])
                for key in keys:
                    d[key + "_s"] = d.get(key + "_s", 0.0) + (s["end"]
                                                               - s["start"])
                    d[key + "_jobs"] = (d.get(key + "_jobs", 0)
                                        + s["job1"] - s["job0"])
            per_op.append(d)

        def med(key):
            return _median(d.get(key, 0.0) for d in per_op)

        layers = self.workload.layers(self.spark, tr)
        m = {
            # the cold start: JVM launch plus session
            "session.start_s": (start_s[0], "s"),
            "sources.panel_build_s": (med("sources.panel_build_s"), "s"),
            "sources.panel_exec_s":
                (layers.get("sources.panel_exec_s", 0.0), "s"),
        }
        for stage in ("signals", "weights", "positions", "returns",
                      "results"):
            key = f"strategies.{stage}_s"
            m[key] = (layers.get(key, 0.0), "s")
        m["strategies.backtest_build_s"] = (
            med("strategies.backtest_build_s"), "s")
        m["strategies.trade_build_s"] = (med("strategies.trade_build_s"), "s")
        m["strategies.trade_exec_s"] = (med("strategies.trade_exec_s"), "s")
        m["strategies.trade_eager_jobs"] = (
            med("strategies.trade_build_jobs"), "count")
        m["costs.commission_slippage_s"] = (
            layers.get("costs.commission_slippage_s", 0.0), "s")
        for fam in FAMILIES:
            q = f"queries.{fam}"
            m[f"{q}.build_s"] = (med(f"{q}.build_s"), "s")
            m[f"{q}.exec_s"] = (med(f"{q}.exec_s"), "s")
            m[f"{q}.jobs"] = (_median(
                d.get(f"{q}.build_jobs", 0) + d.get(f"{q}.exec_jobs", 0)
                for d in per_op), "count")
            m[f"{q}.eager_jobs"] = (med(f"{q}.build_jobs"), "count")
        m["driver.plan_s"] = (med("driver.plan_s"), "s")

        rest = SparkRest(self.spark)
        stage_ids = {i for op in ops for i in range(op["stage0"],
                                                    op["stage1"])}
        stages = rest.stages(stage_ids)
        per_op_stages = [[st for i, st in stages.items()
                          if op["stage0"] <= i < op["stage1"]] for op in ops]
        rt = rest.runtime(list(stages.values()))
        n = max(len(ops), 1)
        wall = sum(op["end"] - op["start"] for op in ops)
        cores = sc.defaultParallelism
        job_ids = {j for op in ops for j in range(op["job0"], op["job1"])}
        sent, received = rest.python_udf_bytes(job_ids)
        storage = sc._jsc.sc().getRDDStorageInfo()
        m.update({
            "spark.jobs": (_median(op["job1"] - op["job0"] for op in ops),
                           "count"),
            "spark.stages": (_median(len(s) for s in per_op_stages),
                             "count"),
            "spark.tasks": (_median(sum(st["numCompleteTasks"] for st in s)
                                    for s in per_op_stages), "count"),
            "spark.task_busy_share": (
                rt["run_ms"] / 1000.0 / max(wall * cores, 1e-9), "ratio"),
            "spark.executor_cpu_s": (rt["cpu_ns"] / 1e9 / n, "s"),
            "spark.gc_s": (rt["gc_ms"] / 1000.0 / n, "s"),
            "spark.shuffle_read_bytes": (rt["shuffle_read"] / n, "B"),
            "spark.shuffle_write_bytes": (rt["shuffle_write"] / n, "B"),
            "spark.spill_bytes": (rt["spill"] / n, "B"),
            "spark.max_task_share": (rt["max_task_share"], "ratio"),
            "spark.persistent_rdds_after": (
                len(sc._jsc.getPersistentRDDs()), "count"),
            "spark.cached_bytes_after": (
                sum(r.memSize() + r.diskSize() for r in storage), "B"),
            "udf.python_bytes_sent": (sent / n, "B"),
            "udf.python_bytes_received": (received / n, "B"),
            "trace.overhead_ratio": (
                _median(traced) / max(_median(plain), 1e-9), "ratio"),
        })
        return m

    def close(self) -> None:
        if self.spark is not None:
            _stop_spark(self.spark)
        shutil.rmtree(self.work, ignore_errors=True)


def main(argv=None) -> int:
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true",
                   help="small inputs, for the benchmark's own tests")
    args = p.parse_args(argv)
    run = Run(args)
    try:
        result = run.execute()
    except Exception:
        _log(f"run failed:\n{traceback.format_exc()}")
        result = {"correct": False, "attempted": max(run.attempted, 1),
                  "failed": run.failed + 1, "metrics": {}}
    finally:
        run.close()
    print(json.dumps(result), flush=True)
    return 0 if result["metrics"] else 1


if __name__ == "__main__":
    if not os.path.isfile(os.path.join(ROOT, "moonshot_spark",
                                       "__init__.py")):
        sys.stderr.write("perfbench: run from the root of a moonshot_spark "
                         "checkout (no moonshot_spark/ package next to "
                         f"{HERE})\n")
        sys.exit(2)
    sys.path[0] = ROOT    # import perfbench.* as a package, not by file
    sys.exit(main())
