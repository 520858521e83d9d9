"""Result cache: fingerprint-keyed Parquet checkpoints with staleness
invalidation (SURVEY.md §2.1 S11).

Reference: moonshot/_cache.py:28-184 — pickle files keyed by SHA-224 of the
query kwargs, invalidated when source DBs (or the strategy file) were
modified after the cached copy.  Spark version: each cache entry is a
Parquet directory keyed by a SHA-224 fingerprint of canonicalized kwargs,
with a sidecar metadata file recording the source paths' max mtime at write
time.  Reads are ordinary ``spark.read.parquet`` — at scale a cache hit
replaces recomputing the whole upstream DAG with one columnar scan.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession

from moonshot_spark.locks import writer_lock

DEFAULT_CACHE_DIR = os.environ.get("MOONSHOT_CACHE_DIR", "/tmp/moonshot_spark_cache")


def _fingerprint(prefix: str, kwargs: dict) -> str:
    """SHA-224 of canonical JSON of kwargs (reference _cache.py:59-69 uses
    SHA-224 of pickled kwargs; JSON canonicalization avoids pickle's
    version instability)."""
    canonical = json.dumps(kwargs, sort_keys=True, default=str)
    digest = hashlib.sha224(canonical.encode()).hexdigest()
    return f"{prefix}_{digest}"


# How long a cache writer waits for a key's writer lock.
_LOCK_TIMEOUT = 60.0


def _source_mtime(paths: list[str]) -> float:
    """Max mtime across source files/dirs (recursive), 0 if none exist."""
    latest = 0.0
    for p in paths:
        if os.path.isfile(p):
            latest = max(latest, os.path.getmtime(p))
        elif os.path.isdir(p):
            for root, _, files in os.walk(p):
                for f in files:
                    latest = max(latest, os.path.getmtime(os.path.join(root, f)))
    return latest


class Cache:
    """get/set keyed by (prefix, kwargs), invalidated by source mtimes.

    Mirrors the reference API shape (_cache.py Cache.get/set) with Parquet
    as the storage format.
    """

    def __init__(self, cache_dir: str | None = None):
        # resolved at call time (not def time) so env/monkeypatch overrides
        # of the module default take effect
        import moonshot_spark.sources.cache as _mod
        self.cache_dir = cache_dir or os.environ.get(
            "MOONSHOT_CACHE_DIR", _mod.DEFAULT_CACHE_DIR)
        os.makedirs(self.cache_dir, exist_ok=True)

    def _paths(self, key: str) -> tuple[str, str]:
        base = os.path.join(self.cache_dir, key)
        return base + ".parquet", base + ".meta.json"

    def get(self, spark: SparkSession, prefix: str, kwargs: dict,
            unless_modified: list[str] | None = None) -> DataFrame | None:
        """Return the cached DataFrame, or None on miss / staleness.

        ``unless_modified``: source paths; if any was modified after the
        cache entry was written, the entry is stale (reference
        _cache.py:130-145 ``unless_dbs_modified``).
        """
        key = _fingerprint(prefix, kwargs)
        data_path, meta_path = self._paths(key)
        if not (os.path.exists(data_path) and os.path.exists(meta_path)):
            return None
        with open(meta_path) as f:
            meta = json.load(f)
        if unless_modified:
            if _source_mtime(unless_modified) > meta["written_at"]:
                return None
        from pyspark.errors import AnalysisException
        try:
            return spark.read.parquet(data_path)
        except AnalysisException:
            # a concurrent set() may swap the entry (rmtree+rename) between
            # our exists() check and the schema read — PATH_NOT_FOUND /
            # unable-to-infer-schema here is the in-flight swap: a
            # transient miss (recompute), never delete — the writer is
            # mid-install.  This guard covers only plan construction; a
            # reader whose executed scan lands mid-swap still fails
            # in-job and recomputes on retry.
            return None
        except Exception as exc:
            # anything else with the entry still on disk MAY be a
            # persistent failure (corrupt footer, permissions) — but a
            # concurrent set() swap can also surface as Py4JJavaError /
            # SparkException (not AnalysisException), so don't condemn
            # the entry on the first read: re-attempt the read while
            # HOLDING the writer lock (the writer has finished its swap
            # once we acquire it) and delete only if it still fails.
            # Deleting a cache entry is always correctness-safe —
            # entries are recomputable by definition.
            if os.path.exists(data_path):
                try:
                    with writer_lock(data_path + ".lock", _LOCK_TIMEOUT):
                        try:
                            return spark.read.parquet(data_path)
                        except Exception:
                            pass  # still unreadable with no writer live
                        import warnings
                        warnings.warn(
                            f"cache entry {data_path} exists but is "
                            f"unreadable ({type(exc).__name__}: {exc}); "
                            "deleting it so the next set() repairs it; "
                            "treating as a miss",
                            RuntimeWarning, stacklevel=2)
                        shutil.rmtree(data_path, ignore_errors=True)
                        if os.path.exists(meta_path):
                            os.remove(meta_path)
                except (TimeoutError, OSError):
                    pass     # a live writer holds the lock: it will repair
            return None

    def set(self, prefix: str, kwargs: dict, df: DataFrame,
            extra: dict | None = None) -> str:
        """Write-through, serialized against concurrent writers of the
        same key (reference _cache.py:147-151): the Parquet lands in a
        writer-private temp dir, then the swap (+ atomic meta replace)
        happens under the key's writer lock, so a concurrent set of the
        same key can never interleave into a half-written entry.
        Readers don't lock: meta is replaced atomically LAST, so a read
        sees either the complete old entry or the complete new one.  A
        reader overlapping the rmtree+rename swap can hit a transient
        failure — at plan-construction time ``get`` reports it as a miss;
        a scan already executing mid-swap fails in-job and recomputes on
        retry.  Either way the result is a recompute, never a
        half-written read."""
        key = _fingerprint(prefix, kwargs)
        data_path, meta_path = self._paths(key)
        tmp_path = f"{data_path}.tmp-{os.getpid()}-{int(time.time()*1e6)}"
        df.write.mode("overwrite").parquet(tmp_path)
        try:
            with writer_lock(data_path + ".lock", _LOCK_TIMEOUT):
                shutil.rmtree(data_path, ignore_errors=True)
                os.rename(tmp_path, data_path)
                meta_tmp = f"{meta_path}.tmp-{os.getpid()}"
                with open(meta_tmp, "w") as f:
                    json.dump({"written_at": time.time(), "prefix": prefix,
                               "extra": extra or {}}, f)
                os.replace(meta_tmp, meta_path)
        finally:
            shutil.rmtree(tmp_path, ignore_errors=True)
        return data_path

    def get_extra(self, prefix: str, kwargs: dict) -> dict:
        """Sidecar metadata stored with ``set(extra=...)`` (e.g. the ordered
        feature column list that accompanies a cached feature frame)."""
        _, meta_path = self._paths(_fingerprint(prefix, kwargs))
        if not os.path.exists(meta_path):
            return {}
        with open(meta_path) as f:
            return json.load(f).get("extra", {})

    def clear(self, prefix: str | None = None) -> None:
        """Delete cached entries (all, or one prefix's).  Lock files stay:
        see ``moonshot_spark/locks.py`` for why one must never be
        unlinked."""
        for name in os.listdir(self.cache_dir):
            if name.endswith(".lock"):
                continue
            if prefix is None or name.startswith(prefix + "_"):
                path = os.path.join(self.cache_dir, name)
                shutil.rmtree(path, ignore_errors=True) if os.path.isdir(path) \
                    else os.remove(path)
