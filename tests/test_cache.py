"""Cache tests (reference _tests/test_cache.py patterns: hit, miss,
kwargs-key sensitivity, staleness invalidation)."""

import contextlib
import os
import threading
import time

import pytest
from pyspark.sql import functions as F

from moonshot_spark.sources.cache import Cache


@pytest.fixture()
def cache(tmp_path):
    return Cache(str(tmp_path / "cache"))


@pytest.fixture(scope="module")
def df(spark):
    return spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")


def test_miss_then_hit(spark, cache, df):
    kwargs = {"start_date": "2024-01-01", "sids": ["A", "B"]}
    assert cache.get(spark, "prices", kwargs) is None
    cache.set("prices", kwargs, df)
    got = cache.get(spark, "prices", kwargs)
    assert got is not None
    assert sorted(r["id"] for r in got.collect()) == [1, 2]


def test_kwargs_change_is_miss(spark, cache, df):
    cache.set("prices", {"a": 1}, df)
    assert cache.get(spark, "prices", {"a": 2}) is None
    assert cache.get(spark, "other", {"a": 1}) is None


def test_staleness_invalidation(spark, cache, df, tmp_path):
    src = tmp_path / "source.parquet"
    src.write_text("v1")
    kwargs = {"q": 1}
    cache.set("prices", kwargs, df)
    assert cache.get(spark, "prices", kwargs, unless_modified=[str(src)]) is not None
    time.sleep(0.05)
    os.utime(src, (time.time() + 10, time.time() + 10))
    assert cache.get(spark, "prices", kwargs, unless_modified=[str(src)]) is None


def test_clear_by_prefix(spark, cache, df):
    cache.set("prices", {"a": 1}, df)
    cache.set("master", {"a": 1}, df)
    cache.clear("prices")
    assert cache.get(spark, "prices", {"a": 1}) is None
    assert cache.get(spark, "master", {"a": 1}) is not None


def test_clear_keeps_a_held_lock_file(cache):
    """clear() must not unlink a lock file: a second writer would then
    lock a fresh inode while the first still holds the old one."""
    import threading

    from moonshot_spark.locks import writer_lock
    from moonshot_spark.sources.cache import _fingerprint

    data_path, _ = cache._paths(_fingerprint("prices", {"a": 1}))
    held, done = threading.Event(), threading.Event()

    def hold():
        with writer_lock(data_path + ".lock", 60.0):
            held.set()
            done.wait(10)

    holder = threading.Thread(target=hold)
    holder.start()
    try:
        assert held.wait(10)
        cache.clear()
        cache.clear("prices")
        with pytest.raises(TimeoutError):
            with writer_lock(data_path + ".lock", timeout=0.2):
                pass
    finally:
        done.set()
        holder.join()


def test_concurrent_writers_serialize(spark, tmp_path):
    """Two threads set()ing the same key concurrently must serialize via
    the lock file (reference _cache.py:147-151 FileLock): after both
    finish, the entry is a complete, readable write from one of them and
    the lock file is released."""
    import threading

    from moonshot_spark.sources.cache import Cache

    cache = Cache(cache_dir=str(tmp_path / "cc"))
    kwargs = {"q": "same-key"}
    dfs = [spark.range(0, 100).withColumn("writer", F.lit(i))
           for i in range(2)]
    errors = []

    def write(i):
        try:
            cache.set("race", kwargs, dfs[i])
        except Exception as e:  # surfaced below
            errors.append(e)

    threads = [threading.Thread(target=write, args=(i,)) for i in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    got = cache.get(spark, "race", kwargs)
    assert got is not None
    rows = got.collect()
    assert len(rows) == 100
    # a complete write from exactly one writer, not an interleaving
    assert len({r["writer"] for r in rows}) == 1
    # no temp debris; the flock file may persist (never unlinked — see
    # moonshot_spark/locks.py) but must be released, i.e. immediately
    # acquirable
    assert [n for n in os.listdir(tmp_path / "cc") if ".tmp-" in n] == []
    from moonshot_spark.locks import writer_lock
    locks = [n for n in os.listdir(tmp_path / "cc") if n.endswith(".lock")]
    for n in locks:
        with writer_lock(str(tmp_path / "cc" / n), timeout=1.0):
            pass


# --------------------------------------------------------------------- #
# reference scenario matrix (_tests/test_cache.py                        #
# HistoricalPricesCacheTestCase): db-modified vs end-date interaction.   #
# Scenario numbers in docstrings refer to the reference test names.      #
# --------------------------------------------------------------------- #


@pytest.fixture()
def price_source(spark, tmp_path):
    """A writable prices 'database' (parquet dir) the tests can modify."""
    import datetime

    rows = [("1", datetime.date(2024, 1, d), 10.0 + d, 100.0 * d)
            for d in range(1, 6)]
    rows += [("2", datetime.date(2024, 1, d), 20.0 + d, 200.0 * d)
             for d in range(1, 6)]
    path = str(tmp_path / "prices_db")
    spark.createDataFrame(
        rows, "sid string, date date, close double, volume double"
    ).write.parquet(path)
    return path


def _modify_source(spark, path):
    """Simulate a history-db update: rewrite with an extra day AND bump
    mtimes into the future (the staleness check is mtime-based)."""
    import datetime

    extra = [("1", datetime.date(2024, 1, 9), 99.0, 900.0),
             ("2", datetime.date(2024, 1, 9), 99.0, 900.0)]
    df = spark.read.parquet(path).unionByName(spark.createDataFrame(
        extra, "sid string, date date, close double, volume double"))
    rows = df.collect()
    import shutil
    shutil.rmtree(path)
    spark.createDataFrame(
        rows, "sid string, date date, close double, volume double"
    ).write.parquet(path)
    future = time.time() + 60
    for root, _, files in os.walk(path):
        for f in files:
            os.utime(os.path.join(root, f), (future, future))


def test_use_cache_if_end_date_and_db_modified(spark, price_source, tmp_path):
    """Reference test_60: with an explicit end_date the requested range is
    immutable, so a LATER db modification does NOT invalidate the cache
    (reference strategies/base.py:1260-1269)."""
    from moonshot_spark.sources.prices import get_prices

    kwargs = dict(end_date="2024-01-10", cache_dir=str(tmp_path / "c"))
    n1 = get_prices(spark, price_source, **kwargs).count()
    _modify_source(spark, price_source)
    df2 = get_prices(spark, price_source, **kwargs)
    assert df2.count() == n1                      # old (cached) data served
    assert all(str(tmp_path / "c") in f for f in df2.inputFiles())


def test_dont_use_cache_if_no_end_date_and_db_modified(
        spark, price_source, tmp_path):
    """Reference test_90: no end_date means 'latest history' — a modified
    db invalidates and the fresh rows appear."""
    from moonshot_spark.sources.prices import get_prices

    kwargs = dict(cache_dir=str(tmp_path / "c"))
    n1 = get_prices(spark, price_source, **kwargs).count()
    _modify_source(spark, price_source)
    n2 = get_prices(spark, price_source, **kwargs).count()
    assert n2 == n1 + 2                           # recomputed: new day visible


def test_use_cache_if_no_end_date_and_db_not_modified(
        spark, price_source, tmp_path):
    """Reference test_80: no end_date but db untouched — served from the
    checkpoint, not the source."""
    from moonshot_spark.sources.prices import get_prices

    kwargs = dict(cache_dir=str(tmp_path / "c"))
    get_prices(spark, price_source, **kwargs)
    df2 = get_prices(spark, price_source, **kwargs)
    assert all(str(tmp_path / "c") in f for f in df2.inputFiles())


def test_dont_use_cache_if_different_params(spark, price_source, tmp_path):
    """Reference test_40: a changed query param is a different key — the
    second call recomputes instead of reusing the first entry."""
    from moonshot_spark.sources.prices import get_prices

    cache_dir = str(tmp_path / "c")
    get_prices(spark, price_source, sids=["1"], cache_dir=cache_dir)
    df2 = get_prices(spark, price_source, sids=["2"], cache_dir=cache_dir)
    assert {r["sid"] for r in df2.select("sid").distinct().collect()} == {"2"}
    # two distinct cache entries (parquet dirs), not one reused
    entries = [n for n in os.listdir(cache_dir) if n.endswith(".parquet")]
    assert len(entries) == 2


def test_get_warns_on_persistent_unreadable_entry(spark, cache, df):
    """A corrupt cache entry must not be a silent forever-miss: get()
    returns None (recompute) but emits a RuntimeWarning naming the
    entry, so an always-missing cache is observable."""
    import warnings

    cache.set("p", {"k": 1}, df)
    key = [n for n in os.listdir(cache.cache_dir) if n.endswith(".parquet")]
    data_dir = os.path.join(cache.cache_dir, key[0])
    # corrupt every parquet footer in the entry
    for n in os.listdir(data_dir):
        if n.endswith(".parquet"):
            with open(os.path.join(data_dir, n), "wb") as f:
                f.write(b"not a parquet file")
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        assert cache.get(spark, "p", {"k": 1}) is None
    assert any("unreadable" in str(x.message) for x in w)
    # self-repair (ADVICE r7): the corrupt entry was deleted, so the next
    # get() is a clean quiet miss — not a warn-forever loop — and a
    # fresh set() restores a working entry
    assert not os.path.exists(data_dir)
    with warnings.catch_warnings(record=True) as w2:
        warnings.simplefilter("always")
        assert cache.get(spark, "p", {"k": 1}) is None
    assert not any("unreadable" in str(x.message) for x in w2)
    cache.set("p", {"k": 1}, df)
    assert cache.get(spark, "p", {"k": 1}) is not None


def test_lock_stale_takeover(spark, cache, df, monkeypatch):
    """Where the cache's writer lock is a marker lease (no fcntl), a
    marker left by a crashed writer is taken over once it is older than
    the stale horizon, and set() proceeds; a live marker makes set()
    time out instead."""
    from moonshot_spark import locks
    from moonshot_spark.sources import cache as cache_mod
    from moonshot_spark.sources.cache import _fingerprint

    monkeypatch.setattr(locks, "fcntl", None)
    data_path, _ = cache._paths(_fingerprint("prices", {"a": 1}))
    lock_path = data_path + ".lock"
    # abandoned: a crashed writer's marker, older than the stale horizon
    with open(lock_path, "w") as f:
        f.write("crashed:deadbeef")
    old = (time.time() - locks.MARKER_LEASE_STALE_FACTOR
           * cache_mod._LOCK_TIMEOUT - 1.0)
    os.utime(lock_path, (old, old))
    cache.set("prices", {"a": 1}, df)
    assert cache.get(spark, "prices", {"a": 1}) is not None
    assert not os.path.exists(lock_path)

    # live: a holder that keeps its marker fresh, short timeout ->
    # TimeoutError
    with open(lock_path, "w") as f:
        f.write("live:cafebabe")
    monkeypatch.setattr(cache_mod, "_LOCK_TIMEOUT", 0.3)
    with _heartbeating(lock_path):
        with pytest.raises(TimeoutError):
            cache.set("prices", {"a": 1}, df)
    with open(lock_path) as f:
        assert f.read() == "live:cafebabe"


def test_lock_release_is_identity_guarded(cache, monkeypatch):
    """If a waiter took the cache's marker lock over while we held it,
    the marker now carries THEIR token: our release must leave it in
    place (and warn), or a third writer gets in."""
    from moonshot_spark import locks
    from moonshot_spark.locks import writer_lock
    from moonshot_spark.sources.cache import _fingerprint

    monkeypatch.setattr(locks, "fcntl", None)
    data_path, _ = cache._paths(_fingerprint("prices", {"a": 1}))
    lock_path = data_path + ".lock"
    with pytest.warns(RuntimeWarning, match="stale takeover"):
        with writer_lock(lock_path, 1.0):
            # a takeover replaces the marker with a fresh token
            os.remove(lock_path)
            with open(lock_path, "w") as f:
                f.write("someone-else:deadbeef")
    assert os.path.exists(lock_path)              # not ours: left alone
    with open(lock_path) as f:
        assert f.read() == "someone-else:deadbeef"


@contextlib.contextmanager
def _heartbeating(path):
    """A live marker holder: refresh ``path``'s mtime until the block
    exits, as a holding writer's heartbeat does."""
    stop = threading.Event()

    def beat():
        while not stop.wait(0.05):
            os.utime(path)

    beater = threading.Thread(target=beat, daemon=True)
    beater.start()
    try:
        yield
    finally:
        stop.set()
        beater.join()
