"""The shared timing loop (tools/measure.py) and bench.py's printed line."""
import json
import types

import pytest

import bench
import tools.measure as measure_mod
from tools.measure import measure


class _Clock:
    def __init__(self):
        self.now = 0.0

    def __call__(self):
        return self.now


class _Frame:
    """A frame whose count() takes ``exec_s`` scripted seconds."""

    def __init__(self, clock, exec_s, rows):
        self.clock, self.exec_s, self.rows = clock, exec_s, rows
        self.forced = 0

    def count(self):
        self.clock.now += self.exec_s
        self.forced += 1
        return self.rows


@pytest.fixture
def clock(monkeypatch):
    c = _Clock()
    monkeypatch.setattr(measure_mod, "time",
                        types.SimpleNamespace(perf_counter=c))
    return c


def test_measure_times_fresh_frames_and_keeps_fastest_run(clock):
    # (build s, exec s, rows) per build() call.  The warm-up is the
    # fastest of all: if it were timed it would win.  Run 1 has the
    # fastest build, run 2 the fastest exec and the fastest total
    # (dyadic seconds keep the clock arithmetic exact).
    script = [(0.25, 0.25, 7), (0.5, 8.0, 999), (2.0, 1.0, 999)]
    built = []

    def build():
        build_s, exec_s, rows = script[len(built)]
        clock.now += build_s
        built.append(_Frame(clock, exec_s, rows))
        return built[-1]

    m = measure(build, runs=2)
    assert len(built) == 3                       # warm-up + one per run
    assert all(f.forced == 1 for f in built)     # no frame re-forced
    # build and exec both from run 2, so they add up to its total (the
    # per-column minima would be 0.5 + 1.0, a run that never happened)
    assert (m.total, m.build, m.exec) == (3.0, 2.0, 1.0)
    assert m.rows == 7 and m.frame is built[0]   # the warm-up's result
    # not a Spark frame: no layer counts
    assert (m.compiles, m.jobs, m.stages, m.tasks) == (None,) * 4


def test_measure_forces_with_the_given_action():
    duckdb = pytest.importorskip("duckdb")
    con = duckdb.connect()
    m = measure(lambda: con.execute("SELECT 42"),
                force=lambda cur: cur.fetchall())
    assert m.rows == [(42,)]
    assert (m.compiles, m.jobs, m.stages, m.tasks) == (None,) * 4
    assert m.total >= m.exec > 0


def test_measure_counts_the_compilations_of_a_spark_run(spark):
    # a literal no earlier run used: the warm-up compiles its classes,
    # the timed run finds them cached
    m = measure(lambda: spark.range(64).selectExpr("id * 7919 AS x"), runs=1)
    assert m.rows == 64 and m.compiles == 0


def test_measure_counts_the_jobs_stages_and_tasks_of_a_spark_run(spark):
    # one shuffle under AQE: a job runs its map stage, then a job runs
    # the post-shuffle stage (listing the map stage again, skipped); the
    # jobs counted are those of the caller's job group, left as it was
    from pyspark.sql import functions as F

    sc = spark.sparkContext
    cores = sc.defaultParallelism

    def build():
        return (spark.range(1000, numPartitions=cores)
                .groupBy((F.col("id") % 7).alias("k")).count())

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    sc.setJobGroup("measure-layers", "measure-layers")
    try:
        m = measure(build, runs=1, force=noop)
        assert sc.getLocalProperty("spark.jobGroup.id") == "measure-layers"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # 7 keys of a few bytes coalesce to one post-shuffle task
    assert (m.jobs, m.stages, m.tasks) == (2, 2, cores + 1)
    again = measure(build, runs=1, force=noop)  # in no job group
    assert (again.jobs, again.stages, again.tasks) == (2, 2, cores + 1)


def test_compact_payload_fits_the_line_and_keeps_the_slowest():
    timings = {f"catalog_query_with_a_deliberately_long_name_{i:03d}":
               round(0.01 * i, 4) for i in range(243)}
    payload = bench._compact_payload(sum(timings.values()), len(timings),
                                     timings, 0.1)
    assert len(json.dumps(payload)) <= bench.MAX_LINE_BYTES
    kept = list(payload["queries"])
    assert 0 < len(kept) < len(timings)
    assert kept == sorted(timings, key=timings.get, reverse=True)[:len(kept)]
    assert payload["n_queries"] == 243
