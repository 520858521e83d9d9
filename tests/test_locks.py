"""moonshot_spark.locks: the one writer lock.  flock on local POSIX
paths; a marker lease elsewhere, whose every rule runs against both of
its stores (a local directory through ``os``, and Hadoop's local
FileSystem through the ``spark`` fixture, the API an hdfs:// root hits)."""
import ast
import os
import pathlib
import subprocess
import sys
import threading
import time
import warnings

import pytest

from moonshot_spark import locks
from moonshot_spark.locks import MARKER_LEASE_STALE_FACTOR, writer_lock

REPO = pathlib.Path(__file__).resolve().parent.parent


@pytest.fixture(params=["local", "hadoop"])
def store(request, tmp_path):
    if request.param == "local":
        return locks._LocalStore()
    return locks._HadoopStore(request.getfixturevalue("spark"),
                              str(tmp_path))


@pytest.fixture()
def marker(tmp_path):
    return str(tmp_path / "ivf.__ivf_writer.lock")


def _age(path, seconds):
    then = time.time() - seconds
    os.utime(path, (then, then))


def _content(path):
    with open(path) as f:
        return f.read()


# --------------------------------------------------------------------- #
# flock                                                                 #
# --------------------------------------------------------------------- #

_HOLD = """
import sys, time
from moonshot_spark.locks import writer_lock
lock = writer_lock(sys.argv[1], 5.0)
lock.__enter__()
print("held", flush=True)
time.sleep(60)
"""


def test_flock_is_default_and_serializes(tmp_path):
    """On POSIX the lock is a kernel flock: a held lock makes a waiter
    time out, and a holder that crashes releases it at once (the kernel
    closes its descriptor), with no stale horizon to wait out."""
    assert locks.fcntl is not None
    lock_path = str(tmp_path / "f.lock")
    holder = subprocess.Popen([sys.executable, "-c", _HOLD, lock_path],
                              stdout=subprocess.PIPE, cwd=REPO)
    try:
        assert holder.stdout.readline().strip() == b"held"
        with pytest.raises(TimeoutError):
            with writer_lock(lock_path, 0.3):
                pass
    finally:
        holder.kill()                     # crash: no release protocol runs
        holder.wait(10)
        holder.stdout.close()
    t0 = time.monotonic()
    with writer_lock(lock_path, 5.0):
        pass
    assert time.monotonic() - t0 < 1.0
    # the lock file is never unlinked (unlink would split waiters across
    # inodes); a leftover lock file is inert
    assert os.path.exists(lock_path)


def test_flock_serializes_threads(tmp_path):
    """Threads of one process contending on the same lock never overlap
    in the critical section (flock is per open file description)."""
    lock_path = str(tmp_path / "t.lock")
    active, overlaps = [], []

    def worker():
        with writer_lock(lock_path, 10.0):
            active.append(1)
            if len(active) > 1:
                overlaps.append(1)
            time.sleep(0.05)
            active.pop()

    ts = [threading.Thread(target=worker) for _ in range(4)]
    [t.start() for t in ts]
    [t.join() for t in ts]
    assert not overlaps


# --------------------------------------------------------------------- #
# marker lease, on both stores                                          #
# --------------------------------------------------------------------- #

def test_marker_lease_lifecycle(store, marker):
    """Acquire creates the marker with the owner token, a second writer
    times out while it is held, release deletes it, and the second
    writer then proceeds.  Releasing twice is harmless."""
    first = locks._MarkerLease(store, marker, 5.0)
    first.acquire()
    assert _content(marker) == first.token

    second = locks._MarkerLease(store, marker, 0.3)
    with pytest.raises(TimeoutError):
        second.acquire()
    assert _content(marker) == first.token

    first.release()
    assert not os.path.exists(marker)
    second.acquire()
    assert _content(marker) == second.token
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        second.release()
        second.release()
    assert not os.path.exists(marker)


def test_marker_lease_stale_takeover(store, marker, tmp_path):
    """A marker older than STALE_FACTOR x timeout belongs to a crashed
    writer (a marker file survives its owner) and is taken over, leaving
    no renamed-aside copy behind."""
    crashed = locks._MarkerLease(store, marker, 0.5)
    crashed.acquire()
    _age(marker, MARKER_LEASE_STALE_FACTOR * 0.5 + 1.0)
    taker = locks._MarkerLease(store, marker, 0.5)
    taker.acquire()
    assert _content(marker) == taker.token
    assert not [n for n in os.listdir(tmp_path) if ".stale-" in n]
    taker.release()
    assert not os.path.exists(marker)


def test_stale_takeover_spares_reacquired_lock(store, marker, tmp_path,
                                               monkeypatch):
    """A stale-looking marker that is released and re-acquired between
    the waiter's staleness check and its rename-aside is put back: the
    fresh holder keeps the lease and the waiter times out.  The race is
    injected at the exact boundary, the store's rename."""
    store.create(marker, "crashed:deadbeef")
    _age(marker, 1000)
    real_rename = store.rename
    swapped = []

    def racy_rename(src, dst):
        if src == marker and not swapped:
            swapped.append(1)
            store.delete(marker)
            store.create(marker, "fresh:cafebabe")
        return real_rename(src, dst)

    monkeypatch.setattr(store, "rename", racy_rename)
    with pytest.raises(TimeoutError):
        locks._MarkerLease(store, marker, 0.3).acquire()
    assert swapped
    assert _content(marker) == "fresh:cafebabe"
    assert not [n for n in os.listdir(tmp_path) if ".stale-" in n]


def test_stale_marker_that_cannot_move_times_out(store, marker,
                                                  monkeypatch):
    """A waiter whose every rename-aside of a stale marker fails (another
    waiter's claim, or a store that refuses) still times out instead of
    retrying the takeover forever."""
    store.create(marker, "crashed:deadbeef")
    _age(marker, 1000)
    monkeypatch.setattr(store, "rename", lambda src, dst: False)
    with pytest.raises(TimeoutError):
        locks._MarkerLease(store, marker, 0.3).acquire()
    assert _content(marker) == "crashed:deadbeef"


def test_marker_lease_release_respects_takeover(store, marker):
    """After a stale takeover, the original (slow but alive) holder's
    release must not delete the new holder's marker, which would admit
    a third writer; nor may its heartbeat keep that marker alive."""
    victim = locks._MarkerLease(store, marker, 0.5)
    victim.acquire()
    _age(marker, MARKER_LEASE_STALE_FACTOR * 0.5 + 1.0)
    usurper = locks._MarkerLease(store, marker, 0.5)
    usurper.acquire()
    with pytest.warns(RuntimeWarning, match="stale takeover"):
        victim.release()
    assert _content(marker) == usurper.token
    _age(marker, 5)
    stamp = os.stat(marker).st_mtime
    victim.heartbeat()
    assert os.stat(marker).st_mtime == pytest.approx(stamp, abs=0.01)
    usurper.release()
    assert not os.path.exists(marker)


def test_marker_lease_heartbeat_keeps_marker_fresh(store, marker):
    """A heartbeat refreshes the held marker's mtime, so the stale
    horizon measures crash age, not hold time."""
    holder = locks._MarkerLease(store, marker, 0.5)
    holder.acquire()
    _age(marker, 100)
    holder.heartbeat()
    assert time.time() - os.stat(marker).st_mtime < 5.0
    holder.release()


def test_marker_lease_outlives_stale_horizon_while_held(tmp_path,
                                                        monkeypatch):
    """Where fcntl is missing, a local path takes the marker lease, and
    a holder that stays alive past the stale horizon keeps it: its
    heartbeat keeps the marker fresh, so a rival times out instead of
    taking over."""
    monkeypatch.setattr(locks, "fcntl", None)
    lock_path = str(tmp_path / "w.lock")
    timeout = 0.4
    with writer_lock(lock_path, timeout):
        owner = _content(lock_path)
        time.sleep(1.5 * MARKER_LEASE_STALE_FACTOR * timeout)
        with pytest.raises(TimeoutError):
            with writer_lock(lock_path, timeout):
                pass
        assert _content(lock_path) == owner
    assert not os.path.exists(lock_path)


# --------------------------------------------------------------------- #
# one home                                                              #
# --------------------------------------------------------------------- #

_RETIRED = {"_ExclLock", "_FileLock", "_FlockLock", "_MarkerLease",
            "_hadoop_marker_lease", "_leased", "_writer_lease"}


def test_only_locks_module_takes_file_locks():
    """No library module but moonshot_spark/locks.py imports fcntl, calls
    flock, opens a file with O_EXCL, or defines a lock class of its own."""
    offenders = []
    sources = [*sorted((REPO / "moonshot_spark").rglob("*.py")),
               *sorted((REPO / "tools").rglob("*.py")),
               REPO / "bench.py", REPO / "__spark_entry__.py"]
    for path in sources:
        if path == REPO / "moonshot_spark" / "locks.py":
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            imported = ([a.name for a in node.names]
                        if isinstance(node, ast.Import)
                        else [node.module]
                        if isinstance(node, ast.ImportFrom) else [])
            if ("fcntl" in imported
                    or (isinstance(node, ast.Attribute)
                        and node.attr in ("flock", "lockf", "O_EXCL"))
                    or (isinstance(node, (ast.ClassDef, ast.FunctionDef))
                        and node.name in _RETIRED)):
                offenders.append(f"{path.relative_to(REPO)}:{node.lineno}")
    assert not offenders, offenders
