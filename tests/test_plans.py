"""Lookback pruning tests (D24, reference base.py:1050-1086,1146-1181)."""

import datetime
import os

from moonshot_spark import Moonshot
from moonshot_spark.plans.lookback import get_lookback_window, lookback_start_date


def test_default_lookback():
    class S(Moonshot):
        pass

    assert get_lookback_window(S()) == 252


def test_max_of_window_attrs():
    class S(Moonshot):
        SHORT_WINDOW = 50
        LONG_WINDOW = 300

    assert get_lookback_window(S()) == 300


def test_interval_padding():
    class S(Moonshot):
        MAVG_WINDOW = 100
        REBALANCE_INTERVAL = "Q"

    # Q ≈ 66 business days per quarter (reference base.py:1068-1086
    # counts bdays in one period)
    assert get_lookback_window(S()) == 100 + 66


def test_explicit_lookback_window_wins():
    """Reference base.py:1060-1061: LOOKBACK_WINDOW set → returned as-is,
    no *_WINDOW derivation and no interval padding."""
    class S(Moonshot):
        LOOKBACK_WINDOW = 10
        MAVG_WINDOW = 300
        REBALANCE_INTERVAL = "Q"

    assert get_lookback_window(S()) == 10

    class Z(Moonshot):
        LOOKBACK_WINDOW = 0
        MAVG_WINDOW = 300

    assert get_lookback_window(Z()) == 0


def test_lookback_start_date():
    # 235 trading days / 365 calendar days + 10-day buffer
    start = lookback_start_date("2024-06-01", 252)
    expected = datetime.date(2024, 6, 1) - datetime.timedelta(
        days=392 + 10)  # ceil(252*365/235)=392
    assert start == expected


def test_lookback_start_dates_match_reference_pins():
    """The exact start dates the reference's _tests/test_prices.py pins
    (test_set_lookback_window, test_derive_lookback_window_from_window_params,
    test_zero_lookback_window, test_under_one_week_lookback_window,
    test_derive_lookback_window_from_window_and_interval_params)."""
    # default 252 (reference test_prices.py:148)
    class Default(Moonshot):
        pass

    assert str(lookback_start_date(
        "2018-05-01", get_lookback_window(Default()))) == "2017-03-25"

    # explicit LOOKBACK_WINDOW = 350 (reference test_prices.py:260)
    class Explicit(Moonshot):
        LOOKBACK_WINDOW = 350

    assert str(lookback_start_date(
        "2018-05-01", get_lookback_window(Explicit()))) == "2016-10-24"

    # derived max(*_WINDOW) = 100, non-int ignored (reference :364)
    class Derived(Moonshot):
        SOME_WINDOW = 100
        SOME_OTHER_WINDOW = 5
        SOME_NONINT_WINDOW = "foo"

    assert str(lookback_start_date(
        "2018-05-01", get_lookback_window(Derived()))) == "2017-11-16"

    # zero window: no buffer at all (reference :565)
    class Zero(Moonshot):
        LOOKBACK_WINDOW = 0

    assert str(lookback_start_date(
        "2018-05-01", get_lookback_window(Zero()))) == "2018-05-01"

    # under one week: 2-day buffer (reference :663)
    class Short(Moonshot):
        LOOKBACK_WINDOW = 2

    assert str(lookback_start_date(
        "2018-05-01", get_lookback_window(Short()))) == "2018-04-25"

    # window + interval (reference :467 accepts 2017-08-04..07)
    class WindowInterval(Moonshot):
        SOME_WINDOW = 100
        REBALANCE_INTERVAL = "Q"

    got = str(lookback_start_date(
        "2018-05-01", get_lookback_window(WindowInterval())))
    assert got in ("2017-08-04", "2017-08-05", "2017-08-06", "2017-08-07")


def test_compaction_plan_bins_small_files(spark, tmp_path):
    """20 one-row-ish files must pack into ~total/target bins with the
    next-fit invariant: every bin except possibly the last holds at
    least target_rows once closed."""
    from moonshot_spark.plans.compaction import compaction_plan

    src = str(tmp_path / "small")
    spark.range(100).repartition(20).write.parquet(src)
    plan = compaction_plan(spark, src, target_rows=25).toPandas()
    assert len(plan) == 20
    assert plan.n_rows.sum() == 100
    assert plan.bin.min() == 0 and plan.bin.max() <= 4
    # bins are contiguous in file order
    ordered = plan.sort_values("file").bin.tolist()
    assert ordered == sorted(ordered)


def test_compact_parquet_rewrites_to_fewer_files(spark, tmp_path):
    from moonshot_spark.plans.compaction import compact_parquet

    src = str(tmp_path / "frag")
    dst = str(tmp_path / "compact")
    spark.range(1000).repartition(50).write.parquet(src)
    n = compact_parquet(spark, src, dst, target_rows=500)
    assert n == 2
    back = spark.read.parquet(dst)
    assert back.count() == 1000
    import glob
    assert len(glob.glob(dst + "/part-*")) == 2


def test_session_pins_initial_heap(spark, monkeypatch):
    """r13: G1 heap commit/uncommit churn (tiny default -Xms vs burst
    usage) produced multi-second kernel-time stalls inside timed windows
    (PERF.md "A small -Xms lets G1 stall timed windows").  The session
    factory must pin -Xms to the configured driver memory so the heap
    never shrinks/regrows.  Asserts on BEHAVIOR (the computed option string
    and the live session's conf), not on source text (ADVICE r13: the
    old getsource assert could pass on a comment alone)."""
    from moonshot_spark.session import driver_java_options

    # the live session was built through get_spark -> the conf must
    # carry the pin (extraJavaOptions is set at JVM launch; reading it
    # back from the running session proves the .config() call exists)
    opts = spark.conf.get("spark.driver.extraJavaOptions")
    assert f"-Xms{spark.conf.get('spark.driver.memory')}" in opts

    # user-supplied driver options are preserved, not clobbered
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_JAVA_OPTS", "-XX:+UseG1GC")
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "8g")
    combined = driver_java_options()
    assert "-XX:+UseG1GC" in combined and "-Xms8g" in combined
    # pre-touch rides the env knob
    monkeypatch.setenv("SPARK_GRAFT_PRETOUCH", "1")
    assert "-XX:+AlwaysPreTouch" in driver_java_options()

    # ADVICE r14: a user-specified -Xms must WIN (HotSpot takes the last
    # occurrence, so the pin must not be appended after it) — same for
    # an explicit AlwaysPreTouch toggle
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_JAVA_OPTS",
                       "-Xms2g -XX:-AlwaysPreTouch")
    combined = driver_java_options()
    assert "-Xms2g" in combined
    assert "-Xms8g" not in combined
    assert "-XX:+AlwaysPreTouch" not in combined


def test_session_sizing_follows_host(monkeypatch):
    """Unset, the session takes every CPU this process may run on and
    half of host memory in whole GiB (at least 1g), so the JVM starts on
    any box; a set SPARK_GRAFT_CPUS / SPARK_DRIVER_MEMORY wins."""
    from moonshot_spark.session import (driver_java_options, driver_memory,
                                        spark_cores)

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_JAVA_OPTS", raising=False)
    assert spark_cores() == str(len(os.sched_getaffinity(0)))
    heap = driver_memory()
    host = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert heap.endswith("g") and int(heap[:-1]) >= 1
    assert int(heap[:-1]) << 30 <= host // 2
    assert f"-Xms{heap}" in driver_java_options().split()

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "5g")
    assert (spark_cores(), driver_memory()) == ("3", "5g")
    assert "-Xms5g" in driver_java_options().split()


def test_rerun_of_plan_shapes_compiles_nothing_new(spark):
    """Spark's codegen cache holds 100 classes by default, fewer than
    these three queries generate, so every re-run recompiled the
    evicted ones (213 classes at the default).  Sized to the registry,
    fresh builds of plans just run hit the cache.  Two passes fill it:
    on a busy host AQE can finish stages in another order on the first
    re-run and plan a variant that compiles a couple of new classes."""
    from moonshot_spark.materialize import scope
    from moonshot_spark.queries import QUERIES
    from tests.conftest import SF_DIR
    from tools.measure import codegen_compiles

    names = ("dedup_clusters", "customer_rfm_segments",
             "dedup_clusters_incremental")
    with scope():
        for _ in range(2):
            for name in names:
                QUERIES[name](spark, SF_DIR).count()
        before = codegen_compiles(spark)
        for name in names:
            QUERIES[name](spark, SF_DIR).count()
        assert codegen_compiles(spark) - before <= 3


def test_session_sizes_codegen_cache_and_skips_call_sites(spark):
    """The fixed codegen settings are on the live session, and PySpark's
    per-call call-site capture (extra Py4J round trips on every
    F.*/Column call) is off."""
    from pyspark.errors.utils import is_debugging_enabled

    from moonshot_spark.session import CODEGEN_CACHE_ENTRIES

    assert (spark.conf.get("spark.sql.codegen.cache.maxEntries")
            == str(CODEGEN_CACHE_ENTRIES))
    assert spark.conf.get("spark.sql.codegen.useIdInClassName") == "false"
    assert spark.conf.get(
        "spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert is_debugging_enabled() is False


def test_session_sets_the_coalescing_floor(spark):
    """The live session carries AQE's coalescing floor, the named
    constant rather than Spark's 1 MB default."""
    from moonshot_spark.session import COALESCE_MIN_PARTITION_SIZE

    assert spark.conf.get(
        "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    ) == COALESCE_MIN_PARTITION_SIZE


def test_few_mb_shuffle_runs_one_task_per_core(spark):
    """AQE coalesces a shuffle to defaultParallelism partitions, but
    never below the floor: at Spark's 1 MB a few-MB shuffle (~400 KB
    per core here) ran in 2 tasks on 4 cores, as a backtest's window,
    cost and melt stages did.  At the session's floor it keeps one task
    per core, and a KB-sized shuffle still runs as one task."""
    from pyspark.sql import functions as F

    from tools.measure import measure

    cores = spark.sparkContext.defaultParallelism

    def post_shuffle_tasks(rows_per_core):
        # one distinct 64-char key per row: the partial aggregate keeps
        # every row, so the shuffle's bytes grow with the rows
        m = measure(
            lambda: (spark.range(rows_per_core * cores, numPartitions=cores)
                     .groupBy(F.sha2(F.col("id").cast("string"), 256))
                     .count()),
            runs=1,
            force=lambda df: df.write.format("noop").mode("overwrite").save())
        assert m.stages == 2                # map stage, post-shuffle stage
        return m.tasks - cores              # the map stage runs `cores`

    saved = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(cores))
    try:
        assert post_shuffle_tasks(10_000) == cores
        assert post_shuffle_tasks(100) == 1
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved)
