"""SparkSession factory tuned for this engine.

The local session is sized from the host it runs on, and this module is
the only code that knows that size:

- cores: the CPUs this process may run on (``os.sched_getaffinity``);
- driver heap: half of physical memory, capped by the cgroup memory limit
  when one is set, in whole GiB and at least 1g.

``SPARK_GRAFT_CPUS`` and ``SPARK_DRIVER_MEMORY`` override either.  On a
real cluster most of these settings are overridden by spark-submit conf.
The scale-relevant settings (AQE, adaptive coalescing, Arrow) are good
defaults at any scale.

Three fixed settings keep a re-run of the same plan shape cheap on the
driver:

- ``spark.sql.codegen.cache.maxEntries`` = ``CODEGEN_CACHE_ENTRIES``:
  Spark's cache of compiled generated classes holds 100 by default, so
  a warm pass of the 5 ``catalog_mix`` queries (~140 classes)
  recompiled 131-133 of them, and the whole registry (~3,460 classes)
  never stayed warm.  The bound holds the registry; it is not
  unbounded, so a long-lived session that keeps generating new code
  cannot grow without limit.
- ``spark.sql.codegen.useIdInClassName=false``: the cache is keyed by
  a class's source, which by default names the class after its
  whole-stage codegen id.  AQE numbers those stages in the order it
  creates them, which follows the order earlier stages finish, so a
  re-run of an identical plan on a busy host could rename, and so
  recompile, its classes (6 classes in one traced ``dedup_clusters``
  re-run, same operator tree, codegen ids 5/6 read 4/5).  Without the
  id, stages with the same code also share one class.
- ``spark.python.sql.dataFrameDebugging.enabled=false``: PySpark 4
  otherwise records the Python call site of every ``F.*``/Column call
  with extra Py4J round trips (active-session lookup, origin set and
  clear), and the call site it records is usually a line of this
  library, not of the user.

One fixed setting keeps a small post-shuffle stage as wide as the
cores:

- ``spark.sql.adaptive.coalescePartitions.minPartitionSize`` =
  ``COALESCE_MIN_PARTITION_SIZE`` (256 KB; Spark's default is 1 MB).
  AQE coalesces a shuffle to ``defaultParallelism`` partitions but never
  below this size, so at 1 MB a ``backtest_wide`` backtest's five
  stages ran 3, 2, 1, 1 and 2 tasks on a 4-core host: its window, cost
  and melt work ran on one or two cores.  At 256 KB they run 3, 4, 4, 4
  and 4.  KB-sized shuffles still coalesce to one task, and a
  200-partition shuffle still merges down to ``defaultParallelism``
  (PERF.md "2026-10-18: post-shuffle stages as wide as the cores").

The codegen cache is JVM-global and sized when the JVM first generates
code: a JVM whose first session was not built by ``get_spark`` keeps
Spark's 100 entries for its whole life, whatever later sessions set.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_GIB = 1 << 30

# A power of two above the registry's working set of generated classes:
# 3,464 at sf0.1 and 3,459 at sf0.001 (classes compiled by one sweep of
# every query into an empty cache that evicted nothing; PERF.md
# "2026-10-18: codegen cache sized to the registry").
CODEGEN_CACHE_ENTRIES = 4096

# The smallest partition AQE's coalescing may leave (Spark's default is
# 1m): a backtest's few-MB shuffles then run one task per core on a
# 4-core host, where 1m merged them into 1-2 tasks; a shuffle of under
# 256 KB still runs as one task.
COALESCE_MIN_PARTITION_SIZE = "256k"


def _host_memory_bytes() -> int:
    """Physical memory, capped by a cgroup (v2 or v1) limit when set."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    for path in ("/sys/fs/cgroup/memory.max",
                 "/sys/fs/cgroup/memory/memory.limit_in_bytes"):
        try:
            with open(path) as f:
                total = min(total, int(f.read()))
        except (OSError, ValueError):  # absent, or "max" (no limit)
            pass
    return total


def spark_cores() -> str:
    """``SPARK_GRAFT_CPUS``, else the CPUs this process may run on."""
    return (os.environ.get("SPARK_GRAFT_CPUS")
            or str(len(os.sched_getaffinity(0))))


def driver_memory() -> str:
    """``SPARK_DRIVER_MEMORY``, else half of host memory in whole GiB
    (at least 1g)."""
    return (os.environ.get("SPARK_DRIVER_MEMORY")
            or f"{max(_host_memory_bytes() // 2 // _GIB, 1)}g")


def driver_java_options() -> str:
    """Driver JVM options: any user-supplied SPARK_GRAFT_DRIVER_JAVA_OPTS
    are PRESERVED (ADVICE r13: hard-setting extraJavaOptions clobbered
    env-supplied options), with the heap pin appended:

    - ``-Xms`` pinned to ``driver_memory()``, the value
      ``spark.driver.memory`` gets, so the pin always fits — with the
      default tiny initial heap, G1 repeatedly uncommits after
      concurrent cycles and recommits on the next allocation burst, and
      the kernel page zeroing on each recommit shows up as multi-second
      SYS-time stalls inside timed windows (PERF.md "A small -Xms lets
      G1 stall timed windows").  Committing the full heap up front is
      virtual (no RSS cost) and removes the churn.
    - ``-XX:+AlwaysPreTouch`` when SPARK_GRAFT_PRETOUCH=1, so
      measurement harnesses zero the pages at startup instead of inside
      the first timed windows.
    """
    user = os.environ.get("SPARK_GRAFT_DRIVER_JAVA_OPTS", "").strip()
    # A user-supplied -Xms (or explicit AlwaysPreTouch toggle) wins: the
    # pin is appended AFTER the user options, and HotSpot takes the LAST
    # occurrence, so appending ours would silently override theirs
    # (ADVICE r14).  Skip the pin when the user already set one.
    pinned = []
    if "-Xms" not in user:
        pinned.append("-Xms" + driver_memory())
    if (os.environ.get("SPARK_GRAFT_PRETOUCH") == "1"
            and "AlwaysPreTouch" not in user):
        pinned.append("-XX:+AlwaysPreTouch")
    joined = " ".join(pinned)
    return f"{user} {joined}".strip() if user else joined


def get_spark(app_name: str = "moonshot_spark", master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    AQE is on: at 100 TB the static shuffle-partition count is always wrong
    for some stage, and AQE's runtime coalescing + skew-join splitting fix
    that without per-query tuning.  Arrow is on for the pandas_udf hot paths
    (ML scoring, IVF cell assignment and cosine, k-means assignment) and
    for ``sources/local.py::local_df``, which builds every driver-made
    frame from an Arrow table.
    """
    cpus = spark_cores()
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = (int(cpus) if cpus.isdigit()
                              else len(os.sched_getaffinity(0)))
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Post-shuffle bytes say nothing about compute per row, so
        # coalescing aims at parallelism, not at a byte size:
        # parallelismFirst stays at the default TRUE (size-based
        # coalescing saved ~7% on tiny shuffles but serialized
        # CPU-heavy small-byte stages: item_cooccurrence's pair
        # expansion 1.2 s -> 3.9 s, z-order rank 0.2 s -> 0.8 s; PERF.md
        # "Size-based AQE coalescing"), and the size floor drops from 1m
        # to 256k, below which a stage of a few MB (a backtest's
        # windows, costs and melt) was merged into 1-2 tasks.  A lower floor (1 byte)
        # split KB-sized catalog stages too and lost.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
                COALESCE_MIN_PARTITION_SIZE)
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE re-plan partitioning on top of cached relations: without
        # this (default false) persisting a frame freezes the
        # materialization's shuffle-partition count, so a tiny cached dim
        # (a persisted panel rollup) is re-scanned as 32 near-empty tasks by
        # every consumer stage.  At scale the same conf lets AQE coalesce
        # or skew-split cached-plan consumers by actual bytes.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
                "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_memory())
        # Heap pin + optional pre-touch; user-supplied options preserved
        # (see driver_java_options for the full rationale)
        .config("spark.driver.extraJavaOptions", driver_java_options())
        # UI off by default (driver/test overhead); SPARK_GRAFT_UI=1
        # turns it on for harnesses that read the REST task metrics
        # (scale_bench --skew measures per-stage max-task share)
        .config("spark.ui.enabled",
                "true" if os.environ.get("SPARK_GRAFT_UI") == "1"
                else "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # keep the registry's compiled classes: at Spark's 100 a warm
        # catalog_mix pass recompiled 131-133 of its ~140 classes
        .config("spark.sql.codegen.cache.maxEntries",
                str(CODEGEN_CACHE_ENTRIES))
        # cache classes by their code, not by AQE's run-order stage ids
        .config("spark.sql.codegen.useIdInClassName", "false")
        # no per-call call-site capture: it doubled the Py4J round
        # trips of a catalog_mix pass (~2,400 -> ~5,000)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ensure_session_confs(spark)
    return spark


def ensure_session_confs(spark: SparkSession) -> None:
    """The runtime confs query semantics depend on; ``queries.register``
    applies them too, as the driver builds its own SparkSession."""
    # driver testdata stores TIMESTAMP(NANOS) which Spark's reader rejects;
    # read as long (ns since epoch) and convert explicitly (sources/parquet.py)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # pandas/NaN-style semantics: divide-by-zero yields NULL (matches
    # DuckDB and the reference's NaN-guard idiom, base.py:955) instead of
    # ANSI errors
    spark.conf.set("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def shuffle_partitions(spark: SparkSession, default: int = 200) -> int:
    """Numeric ``spark.sql.shuffle.partitions`` with a robust fallback.

    Some AQE deployments set the conf to ``"auto"`` (non-numeric), which
    made the bare ``int(spark.conf.get(...))`` at explicit-repartition
    call sites raise ValueError (ADVICE r12).  Falls back to the
    cluster's ``defaultParallelism`` — the same order of magnitude AQE
    would land on — and only then to ``default``.
    """
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions",
                                  str(default)))
    except (ValueError, TypeError):
        try:
            return int(spark.sparkContext.defaultParallelism)
        except Exception:
            return default
