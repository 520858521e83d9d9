"""Spans and Spark-runtime counters for the traced run.

Spans are recorded from the benchmark's own code, around its calls into
the library's public functions; the library itself is not instrumented.
Each span has a name, start and end (``perf_counter`` seconds), the span
it was opened under, and the run id.  They stay in memory and are
written out once, when the run ends.

Spark counters come from two places: the DAG scheduler's job and stage
id counters, read at span boundaries (they also count the jobs a
Structured Streaming run starts on its own thread, which job groups
miss), and the UI's REST API (tasks, task time, CPU, GC, shuffle, spill,
Arrow-UDF SQL metrics), which the traced run turns on through the
library's ``SPARK_GRAFT_UI=1``.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import re
import time
import urllib.request


class Tracer:
    """In-memory span recorder.  ``span(name)`` is a context manager;
    spans opened inside it record it as their parent.  Each span also
    records the Spark job and stage ids allocated while it was open
    (``job0 <= id < job1``, likewise for stages)."""

    active = True

    def __init__(self, run_id: str, spark):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[int] = []
        self._dag = spark.sparkContext._jsc.sc().dagScheduler()

    def _next_ids(self) -> tuple[int, int]:
        # plain ints on Spark 4; AtomicIntegers on earlier versions
        ids = self._dag.nextJobId(), self._dag.nextStageId()
        return tuple(i if isinstance(i, int) else i.get() for i in ids)

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        job0, stage0 = self._next_ids()
        rec = {"id": next(self._ids), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "run": self.run_id, "start": time.perf_counter(),
               "job0": job0, "stage0": stage0, **attrs}
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()
            rec["job1"], rec["stage1"] = self._next_ids()
            self.spans.append(rec)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(sorted(self.spans, key=lambda s: s["start"]), f)


class NullTracer:
    """The untraced path: records nothing."""

    active = False

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        yield {}


def force_plan(df) -> None:
    """Force Catalyst analysis, optimization and physical planning."""
    df._jdf.queryExecution().executedPlan()


def noop(df) -> None:
    """Run the full plan, discarding the rows."""
    df.write.format("noop").mode("overwrite").save()


_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
         "TiB": 1 << 40}


def _metric_bytes(value: str) -> float:
    """Total of a Spark SQL size metric string: ``12.3 MiB`` or
    ``total (min, med, max ...)\\n12.3 MiB (...)``."""
    m = re.search(r"([\d.,]+)\s*(B|KiB|MiB|GiB|TiB)\b",
                  value.split("\n")[-1])
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _SIZE[m.group(2)]


class SparkRest:
    """Reads the UI REST API of the running application."""

    def __init__(self, spark):
        self.base = spark.sparkContext.uiWebUrl
        self.app = spark.sparkContext.applicationId

    def get(self, path: str):
        with urllib.request.urlopen(
                f"{self.base}/api/v1/applications/{self.app}/{path}",
                timeout=30) as r:
            return json.loads(r.read())

    def stages(self, stage_ids: set[int]) -> dict[int, dict]:
        """REST records of the completed stages among ``stage_ids``
        (skipped stages ran no tasks and are left out)."""
        return {st["stageId"]: st for st in self.get("stages")
                if st["stageId"] in stage_ids and st["status"] == "COMPLETE"}

    def runtime(self, stages: list[dict]) -> dict[str, float]:
        """Task time, CPU, GC, shuffle and spill totals over ``stages``,
        and the largest share of one stage's run time held by a single
        task."""
        out = {"run_ms": 0.0, "cpu_ns": 0.0, "gc_ms": 0.0,
               "shuffle_read": 0.0, "shuffle_write": 0.0, "spill": 0.0,
               "max_task_share": 0.0}
        for st in stages:
            out["run_ms"] += st.get("executorRunTime", 0)
            out["cpu_ns"] += st.get("executorCpuTime", 0)
            out["gc_ms"] += st.get("jvmGcTime", 0)
            out["shuffle_read"] += (st.get("shuffleLocalBytesRead", 0)
                                    + st.get("shuffleRemoteBytesRead", 0))
            out["shuffle_write"] += st.get("shuffleWriteBytes", 0)
            out["spill"] += (st.get("memoryBytesSpilled", 0)
                             + st.get("diskBytesSpilled", 0))
            if st.get("numTasks", 0) > 1 and st.get("executorRunTime", 0):
                summ = self.get(f"stages/{st['stageId']}/{st['attemptId']}"
                                "/taskSummary?quantiles=1.0")
                share = summ["executorRunTime"][0] / st["executorRunTime"]
                out["max_task_share"] = max(out["max_task_share"], share)
        return out

    def python_udf_bytes(self, job_ids: set[int]) -> tuple[float, float]:
        """Bytes sent to and received from Python workers, summed over
        the SQL executions that ran ``job_ids``."""
        sent = received = 0.0
        for ex in self.get("sql?details=true&planDescription=false"
                           "&length=100000"):
            ids = set(ex.get("successJobIds", [])) | set(
                ex.get("failedJobIds", [])) | set(ex.get("runningJobIds", []))
            if not ids & job_ids:
                continue
            for node in ex.get("nodes", []):
                for m in node.get("metrics", []):
                    if m["name"] == "data sent to Python workers":
                        sent += _metric_bytes(m["value"])
                    elif m["name"] == "data returned from Python workers":
                        received += _metric_bytes(m["value"])
        return sent, received
