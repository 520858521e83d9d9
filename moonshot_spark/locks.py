"""Writer locks: the one way library writers serialize against each
other across processes (reference moonshot/_cache.py:147-151,181-184
serializes its result-cache writers with the ``FileLock`` package).

``writer_lock(path, timeout)`` holds the lock file ``path`` for the body
of a ``with`` block, or raises ``TimeoutError`` once ``timeout`` seconds
pass without it.  Readers never take it.  Two protocols sit behind it:

- **flock**, on local paths where ``fcntl`` exists.  The kernel owns the
  lock and drops it when the holder's descriptor closes, crash included,
  so there is no stale state to take over.  The lock file is never
  unlinked: a waiter blocked on the old inode and a new acquirer on a
  fresh one would both get in.  A leftover lock file is inert.
- **marker lease**, everywhere else: remote roots (hdfs/s3a/gs/abfs...)
  through the Hadoop FileSystem, and local paths on platforms without
  ``fcntl`` through ``os``.  A marker file survives a crashed owner, so
  the lease carries its own rules (``_MarkerLease``).

A remote root with no active SparkSession cannot reach the Hadoop
FileSystem; there the lock is not enforced and a RuntimeWarning says so.
"""

from __future__ import annotations

import contextlib
import os
import socket
import threading
import time
import warnings
from urllib.parse import urlparse

from py4j.protocol import Py4JError

try:
    import fcntl
except ImportError:          # no flock on this platform: marker lease
    fcntl = None

# A marker whose mtime is older than FACTOR x the acquire timeout belongs
# to a crashed holder and may be taken over.  A live holder heartbeats
# every quarter of that horizon, so the horizon measures crash age, not
# hold time.
MARKER_LEASE_STALE_FACTOR = 2.0


@contextlib.contextmanager
def writer_lock(path: str, timeout: float):
    """Hold the exclusive writer lock ``path`` for the ``with`` body;
    yields the lock path (None when a remote lock cannot be enforced).
    The lock is not re-entrant: a holder that asks again times out."""
    scheme = urlparse(path).scheme
    if len(scheme) <= 1 or scheme == "file":     # "" or a drive letter
        lock_path = urlparse(path).path if scheme == "file" else path
        parent = os.path.dirname(lock_path)
        if parent:
            os.makedirs(parent, exist_ok=True)
        if fcntl is not None:
            with _flock(lock_path, timeout):
                yield lock_path
            return
        store = _LocalStore()
    else:
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        if spark is None:
            warnings.warn(
                f"writer lock UNENFORCED for {path!r}: remote scheme with "
                "no active SparkSession to reach the Hadoop FileSystem; "
                "coordinate writers externally (table-format commit or "
                "index-version swap)", RuntimeWarning, stacklevel=3)
            yield None
            return
        warnings.warn(
            f"writer lock {path!r} is a create-if-absent marker file: "
            "atomic on HDFS, BEST-EFFORT on object stores without atomic "
            "create (two simultaneous writers can both acquire); prefer "
            "table-format commits for hard serialization",
            RuntimeWarning, stacklevel=3)
        store = _HadoopStore(spark, path)
        lock_path = path
    with _MarkerLease(store, lock_path, timeout).held():
        yield lock_path


@contextlib.contextmanager
def _flock(path: str, timeout: float):
    deadline = time.monotonic() + timeout
    fd = os.open(path, os.O_CREAT | os.O_WRONLY, 0o644)
    try:
        while True:
            try:
                fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
                break
            except OSError:
                if time.monotonic() > deadline:
                    raise TimeoutError(
                        f"writer lock {path} not acquired within "
                        f"{timeout:.0f}s") from None
                time.sleep(0.05)
        try:         # pid breadcrumb for a human inspecting a busy dir
            os.truncate(fd, 0)
            os.pwrite(fd, str(os.getpid()).encode(), 0)
        except OSError:
            pass
        yield
    finally:
        os.close(fd)             # the kernel releases the flock


class _MarkerLease:
    """A create-if-absent marker file as an exclusive lease, over a
    ``store`` (``_LocalStore`` or ``_HadoopStore``).

    - Acquire creates the marker holding a fresh owner token; a waiter
      polls until it can, or raises ``TimeoutError`` after ``timeout``.
    - A marker older than ``MARKER_LEASE_STALE_FACTOR x timeout`` is
      taken over: the waiter renames it to a fresh name and deletes it
      only if it still carries the token seen as stale.  A marker that
      was released and re-acquired in between is put back with
      create-if-absent, not rename: a rename would overwrite a marker
      that yet another acquirer made meanwhile.
    - While held, ``held()`` heartbeats the marker's mtime.
    - Release, and each heartbeat, first checks that the marker still
      carries our token: after a takeover it is the new holder's, and
      deleting it would admit a third writer.

    Two races remain.  A fresh holder that releases while its marker sits
    renamed aside gets it put back, orphaned until the stale horizon
    passes.  On stores without atomic create-if-absent (S3-like), two
    near-simultaneous creates can both succeed.  No file-only protocol
    closes either, which is why local POSIX paths use ``flock``."""

    def __init__(self, store, path: str, timeout: float):
        self.store = store
        self.path = path
        self.timeout = timeout
        self.token = (f"{socket.gethostname()}:{os.getpid()}:"
                      f"{os.urandom(8).hex()}")

    def acquire(self) -> None:
        deadline = time.monotonic() + self.timeout
        stale_after = MARKER_LEASE_STALE_FACTOR * self.timeout
        while not self.store.create(self.path, self.token):
            seen = self.store.read(self.path)
            ts = self.store.mtime(self.path)
            if (seen is not None and ts is not None
                    and time.time() - ts > stale_after
                    and self._take_over(seen)):
                continue
            if time.monotonic() >= deadline:
                raise TimeoutError(
                    f"writer lock {self.path} not acquired within "
                    f"{self.timeout}s (marker age: "
                    f"{None if ts is None else time.time() - ts})")
            time.sleep(min(1.0, self.timeout / 10))

    def _take_over(self, seen: str) -> bool:
        """Move the stale marker aside; False when another waiter got
        there first."""
        aside = f"{self.path}.stale-{os.urandom(8).hex()}"
        if not self.store.rename(self.path, aside):
            return False
        moved = self.store.read(aside)
        if moved != seen:
            self.store.create(self.path, moved or "")
        self.store.delete(aside)
        return True

    def heartbeat(self) -> None:
        try:
            if self.store.read(self.path) == self.token:
                self.store.touch(self.path)
        except (OSError, Py4JError):
            pass     # best effort: a missed beat only risks a takeover

    def release(self) -> None:
        current = self.store.read(self.path)
        if current == self.token:
            self.store.delete(self.path)
        elif current is not None:
            warnings.warn(
                f"writer lock {self.path} released by {self.token!r} but "
                f"held by {current!r} (stale takeover occurred while "
                "held); leaving the marker in place", RuntimeWarning,
                stacklevel=2)

    @contextlib.contextmanager
    def held(self):
        self.acquire()
        stop = threading.Event()
        interval = MARKER_LEASE_STALE_FACTOR * self.timeout / 4

        def beat():
            while not stop.wait(interval):
                self.heartbeat()

        beater = threading.Thread(target=beat, daemon=True,
                                  name="writer-lock-heartbeat")
        beater.start()
        try:
            yield
        finally:
            stop.set()
            beater.join()
            self.release()


class _LocalStore:
    """Marker store over ``os``, for local paths without ``fcntl``."""

    @staticmethod
    def create(path: str, text: str) -> bool:
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY, 0o644)
        except FileExistsError:
            return False
        try:
            os.write(fd, text.encode())
        finally:
            os.close(fd)
        return True

    @staticmethod
    def read(path: str) -> str | None:
        try:
            with open(path) as f:
                return f.read()
        except OSError:
            return None

    @staticmethod
    def mtime(path: str) -> float | None:
        try:
            return os.path.getmtime(path)
        except OSError:
            return None

    @staticmethod
    def rename(src: str, dst: str) -> bool:
        try:
            os.rename(src, dst)
            return True
        except OSError:
            return False

    @staticmethod
    def delete(path: str) -> None:
        try:
            os.remove(path)
        except OSError:
            pass

    @staticmethod
    def touch(path: str) -> None:
        os.utime(path)


class _HadoopStore:
    """Marker store over the Hadoop FileSystem that serves ``path``."""

    def __init__(self, spark, path: str):
        from moonshot_spark.datapipe.ann_index import _fs

        self._spark = spark
        self._fs, _ = _fs(spark, path)
        self._Path = spark.sparkContext._jvm.org.apache.hadoop.fs.Path

    def create(self, path: str, text: str) -> bool:
        try:
            out = self._fs.create(self._Path(path), False)  # no overwrite
        except Py4JError:
            return False
        try:
            out.write(bytearray(text.encode()))
        finally:
            out.close()
        return True

    def read(self, path: str) -> str | None:
        from moonshot_spark.datapipe.ann_index import _read_text

        try:
            return _read_text(self._spark, path)
        except Py4JError:
            return None              # deleted between exists and open

    def mtime(self, path: str) -> float | None:
        try:
            status = self._fs.getFileStatus(self._Path(path))
        except Py4JError:
            return None
        return status.getModificationTime() / 1000.0

    def rename(self, src: str, dst: str) -> bool:
        try:
            return bool(self._fs.rename(self._Path(src), self._Path(dst)))
        except Py4JError:
            return False

    def delete(self, path: str) -> None:
        try:
            self._fs.delete(self._Path(path), False)
        except Py4JError:
            pass

    def touch(self, path: str) -> None:
        # mtime only; -1 leaves the access time alone
        self._fs.setTimes(self._Path(path), int(time.time() * 1000), -1)
