"""Session settings fitted to the host, and process-tree memory sampling.

The benchmark starts Spark through the library's own
``moonshot_spark.session.get_spark`` and changes only what the host
forces: the core count, a driver heap that fits in memory, the Python
path the Arrow-UDF workers import from, and where the JVM and Spark put
their scratch files.  Everything else stays at the library's defaults.
"""

from __future__ import annotations

import os
import threading
import time

GIB = 1 << 30


def _host_memory_bytes() -> int:
    """Physical memory, capped by a cgroup v2 limit when one is set."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    try:
        with open("/sys/fs/cgroup/memory.max") as f:
            limit = f.read().strip()
        if limit != "max":
            total = min(total, int(limit))
    except (OSError, ValueError):
        pass
    return total


def session_env(repo_root: str, work_dir: str, ui: bool) -> dict[str, str]:
    """Environment for ``get_spark``: every value the benchmark sets.

    - cores: the CPUs this process may run on;
    - driver memory: 15% of host memory in whole GiB, 1 to 8 GiB (2 GiB
      on a 15 GB host): the workloads' inputs fit many times over, and
      the rest stays free for the Python workers, DuckDB and other
      tenants of a shared host;
    - scratch: JVM crash logs, temporary files (Python's and the JVM's),
      Spark local dirs and the SQL warehouse go under ``work_dir``, never
      into the checkout's root or outside the checkout; both JVMs (the
      launcher and the driver) keep their perf counters in memory instead
      of a file under /tmp;
    - ``PYTHONPATH``: the checkout, so Arrow-UDF workers import the
      library;
    - ``SPARK_GRAFT_UI``: on for the traced run only, which reads the
      REST API.
    """
    cores = len(os.sched_getaffinity(0))
    mem_gib = min(max(int(_host_memory_bytes() * 0.15 // GIB), 1), 8)
    warehouse = os.path.join(work_dir, "warehouse")
    tmp = os.path.join(work_dir, "tmp")
    pythonpath = os.pathsep.join(
        p for p in (repo_root, os.environ.get("PYTHONPATH")) if p)
    return {
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_DRIVER_MEMORY": f"{mem_gib}g",
        "SPARK_GRAFT_DRIVER_JAVA_OPTS":
            f"-XX:ErrorFile={work_dir}/hs_err_pid%p.log "
            f"-Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem",
        "SPARK_LAUNCHER_OPTS": "-XX:+PerfDisableSharedMem",
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work_dir, "local"),
        "PYSPARK_SUBMIT_ARGS":
            f"--conf spark.sql.warehouse.dir={warehouse} pyspark-shell",
        "PYTHONPATH": pythonpath,
        "SPARK_GRAFT_UI": "1" if ui else "0",
    }


def _children(pid: int) -> list[int]:
    kids: list[int] = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                kids.extend(int(c) for c in f.read().split())
    except OSError:
        pass
    return kids


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


def tree_rss(root: int) -> dict[int, int]:
    """Resident bytes of ``root`` and each of its descendants (the Python
    driver, the JVM it launched and the JVM's Python workers)."""
    out, stack = {}, [root]
    while stack:
        pid = stack.pop()
        out[pid] = _rss_bytes(pid)
        stack.extend(_children(pid))
    return out


class PeakRss:
    """Samples the process tree's resident memory every ``INTERVAL``
    seconds on a daemon thread and keeps the peak.

    A process counts from its second sample on.  The JVM starts its
    Python workers by spawning a child that briefly shares the JVM's
    address space; counting that child would add the whole JVM twice.
    """

    INTERVAL = 0.2

    def __init__(self):
        self.peak = 0
        self._seen: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        rss = tree_rss(os.getpid())
        self.peak = max(self.peak, sum(v for pid, v in rss.items()
                                       if pid in self._seen))
        self._seen = set(rss)

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.INTERVAL)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the host's CPUs so far, from /proc/stat.
    Steal is time this machine's CPUs were runnable but ran another
    tenant's work: a measure of contention the benchmark cannot control."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return fields[7], sum(fields)


def wait_children_exit(timeout: float = 30.0) -> None:
    """Wait until every child of this process (the JVM and its workers)
    has exited, so the run leaves nothing running."""
    deadline = time.monotonic() + timeout
    while _children(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)
