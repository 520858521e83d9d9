"""get_prices — the S1 source surface (reference base.py:1183-1282).

The reference's ``get_prices`` passes sids/universes/date-range/time/field
filters to the history service so filtering happens server-side
(base.py:1238-1251).  Spark-native: every filter is a ``where``/``select``
on the parquet scan — Catalyst pushes them into the reader (partition
pruning + row-group skipping), which at 100 TB IS the server-side filter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from moonshot_spark.sources.local import local_df
from moonshot_spark.strategies.base import (MoonshotParameterError,
                                           single_timezone)


def get_prices(spark: SparkSession, path: str,
               sids: list[str] | None = None,
               exclude_sids: list[str] | None = None,
               start_date: str | None = None,
               end_date: str | None = None,
               times: list[str] | None = None,
               fields: list[str] | None = None,
               strategy=None,
               universes: DataFrame | None = None,
               lookback_window: int | None = None,
               data_frequency: str | None = None,
               no_cache: bool = False,
               cache_dir: str | None = None,
               fmt: str = "parquet",
               schema: str | None = None) -> DataFrame:
    """Load the price panel with source-level filters (S1).

    ``fields`` selects panel columns (projection pruning); the other
    arguments become pushed-down predicates.

    Strategy sid selection (reference base.py:1224-1245): when
    ``strategy`` is given, its SIDS / EXCLUDE_SIDS attributes fill in any
    unset ``sids`` / ``exclude_sids``, and its UNIVERSES /
    EXCLUDE_UNIVERSES resolve through the ``universes`` mapping table
    (columns ``universe, sid`` — the Spark-native stand-in for the
    master service's named universes) as broadcast semi/anti joins on sid.

    Lookback (D24 — reference base.py:1217-1218): when ``strategy`` (or an
    explicit ``lookback_window``) is given alongside ``start_date``, the
    scan starts ``lookback`` trading days earlier so rolling windows have
    history — the pruned range is a pushed-down predicate, i.e. partition
    pruning / row-group skipping at 100 TB, not a post-scan filter.

    Cache (S11 — reference base.py:1258-1278): unless ``no_cache``, the
    filtered panel is checkpointed to Parquet keyed by these kwargs and
    invalidated when the source was modified after the checkpoint; a hit
    replaces the scan+filter subtree with one columnar read of exactly the
    needed rows ("backtest twice, the second fetch is free").
    """
    from moonshot_spark.plans.lookback import (
        get_lookback_window, lookback_start_date)
    from moonshot_spark.sources.cache import Cache

    def _listify(v):
        return [v] if isinstance(v, str) else list(v) if v else []

    incl_universes = excl_universes = []
    benchmark_sid = None
    if strategy is not None:
        times = times or _listify(getattr(strategy, "DB_TIMES", None)) or None
        # DB_FIELDS fills in an unset ``fields`` only when the subclass
        # overrides it (reference base.py:1238-1244 always forwards it to
        # the service; the base default names the service's conventional
        # fields, which a caller-provided panel need not carry)
        if fields is None:
            from moonshot_spark.strategies.base import Moonshot
            db_fields = getattr(strategy, "DB_FIELDS", None)
            if db_fields and db_fields is not Moonshot.DB_FIELDS:
                fields = _listify(db_fields)
        data_frequency = (data_frequency
                          or getattr(strategy, "DB_DATA_FREQUENCY", None))
        sids = sids or _listify(getattr(strategy, "SIDS", None))
        exclude_sids = (_listify(exclude_sids)
                        + _listify(getattr(strategy, "EXCLUDE_SIDS", None)))
        incl_universes = _listify(getattr(strategy, "UNIVERSES", None))
        excl_universes = _listify(getattr(strategy, "EXCLUDE_UNIVERSES", None))
        if (incl_universes or excl_universes) and universes is None:
            raise MoonshotParameterError(
                "strategy selects universes {0} but no universes mapping "
                "table was provided".format(incl_universes + excl_universes))
        # the BENCHMARK sid rides along even when SIDS/UNIVERSES restrict
        # the panel (reference base.py:1228-1236 appends it to the query)
        benchmark_sid = getattr(strategy, "BENCHMARK", None)
        if benchmark_sid and sids and benchmark_sid not in sids:
            sids = [*sids, benchmark_sid]

    prune_start = start_date
    if start_date:
        if lookback_window is None and strategy is not None:
            lookback_window = get_lookback_window(strategy)
        if lookback_window is not None:
            prune_start = lookback_start_date(
                start_date, lookback_window).isoformat()

    cache = None
    cache_key = None
    if not no_cache:
        cache = Cache(cache_dir)
        # universes are keyed by CONTENT, not name: membership edits must
        # miss the cache.  Order-insensitive sum of per-row hashes — one
        # small job over the (broadcast-sized) mapping, only when in play.
        uni_fp = None
        if incl_universes or excl_universes:
            relevant = universes.where(
                F.col("universe").isin(incl_universes + excl_universes))
            uni_fp = relevant.agg(
                F.sum(F.xxhash64("universe", "sid"))).collect()[0][0]
        cache_key = {"path": path, "sids": sids, "exclude_sids": exclude_sids,
                     "prune_start": prune_start, "end_date": end_date,
                     "times": times, "fields": fields,
                     "universes": incl_universes,
                     "exclude_universes": excl_universes,
                     "universes_fp": uni_fp,
                     "benchmark_sid": benchmark_sid,
                     "data_frequency": data_frequency,
                     "fmt": fmt, "schema": schema}
        # no end_date means "latest history": a modified source invalidates.
        # With an explicit end_date the requested range is immutable, so a
        # newer source file does NOT invalidate (reference base.py:1260-1269)
        unless = [path] if not end_date else None
        cached = cache.get(spark, "prices", cache_key, unless_modified=unless)
        if cached is not None:
            return cached

    # fmt: parquet is the scale path (row-group skipping, column pruning);
    # csv/json cover the reference's service-export files — predicates
    # still push as far as the format allows (csv gets column pruning at
    # parse time, but no row skipping: convert to parquet for 100 TB).
    if fmt == "parquet":
        df = spark.read.parquet(path)
    elif fmt == "orc":
        # ORC keeps the columnar scale path (stripe skipping + pruning)
        df = spark.read.orc(path)
    elif fmt == "csv":
        reader = spark.read.option("header", "true")
        df = (reader.schema(schema).csv(path) if schema
              else reader.option("inferSchema", "true").csv(path))
    elif fmt == "json":
        reader = spark.read
        df = (reader.schema(schema).json(path) if schema
              else reader.json(path))
    else:
        raise MoonshotParameterError(
            f"unsupported format {fmt!r} (parquet, orc, csv, json)")
    # sids and universes are ADDITIVE (union) like the reference's history
    # query — a pinned SID outside the universe still loads (the reference
    # even appends the benchmark sid alongside UNIVERSES, which only works
    # under union semantics, base.py:1228-1245)
    if incl_universes:
        members = (universes.where(F.col("universe").isin(incl_universes))
                   .select("sid").distinct())
        if sids:
            lits = local_df(spark, [(s,) for s in sids], "sid string")
            members = members.union(lits).distinct()
        if benchmark_sid:
            lits = local_df(spark, [(benchmark_sid,)], "sid string")
            members = members.union(lits).distinct()
        df = df.join(F.broadcast(members), "sid", "semi")
    elif sids:
        df = df.where(F.col("sid").isin(sids))
    if exclude_sids:
        df = df.where(~F.col("sid").isin(exclude_sids))
    if excl_universes:
        members = (universes.where(F.col("universe").isin(excl_universes))
                   .select("sid").distinct())
        df = df.join(F.broadcast(members), "sid", "anti")
    if prune_start:
        df = df.where(F.col("date") >= F.lit(prune_start).cast("date"))
    if end_date:
        df = df.where(F.col("date") <= F.lit(end_date).cast("date"))
    if times and "time" in df.columns:
        df = df.where(F.col("time").isin(times))
    if fields:
        keys = [c for c in ("sid", "date", "time") if c in df.columns]
        missing = set(fields) - set(df.columns)
        if missing:
            raise MoonshotParameterError(
                f"fields not in panel: {sorted(missing)}")
        df = df.select(*keys, *fields)

    # DB_DATA_FREQUENCY twin (reference base.py:1246-1251 forwards
    # data_frequency to the history service, which rolls intraday bars up
    # to daily): "daily" on an intraday panel aggregates each (sid, date)
    # group — open = first non-null bar, close/others = last non-null bar
    # (pandas groupby().first()/.last() semantics: a spine-filled NULL at
    # the day's edge must not null out the daily value), high/low =
    # extrema, volume = sum.  Conditioning the min_by/max_by KEY on value
    # non-nullness gives exactly that — min_by skips null keys.  One
    # map-side-combinable groupBy; at 100 TB this is the same
    # pre-aggregation the service would do, pushed into the plan.
    if data_frequency is not None:
        if data_frequency not in ("daily", "minute"):
            raise MoonshotParameterError(
                f"invalid data_frequency {data_frequency!r} "
                "(daily or minute)")
        if data_frequency == "daily" and "time" in df.columns:
            # (length, value) struct key, not the raw string: the same
            # defense-in-depth Moonshot._time_key() applies to its daily
            # aggregates — an unpadded "9:30:00" must not sort after
            # "15:30:00" and flip first/last-bar selection (ADVICE r7)
            from moonshot_spark.strategies.base import Moonshot

            tkey = Moonshot._time_key()
            aggs = []
            for c in df.columns:
                if c in ("sid", "date", "time"):
                    continue
                lc = c.lower()
                nn_time = F.when(F.col(c).isNotNull(), tkey)
                if lc == "open":
                    aggs.append(F.min_by(c, nn_time).alias(c))
                elif lc == "high":
                    aggs.append(F.max(c).alias(c))
                elif lc == "low":
                    aggs.append(F.min(c).alias(c))
                elif lc == "volume":
                    aggs.append(F.sum(c).alias(c))
                else:                   # close, wap, custom: last non-null
                    aggs.append(F.max_by(c, nn_time).alias(c))
            df = df.groupBy("sid", "date").agg(*aggs)

    if cache is not None:
        cache.set("prices", cache_key, df)
        hit = cache.get(spark, "prices", cache_key, unless_modified=unless)
        if hit is not None:    # mtime race (source touched mid-write): fall
            return hit         # through to the live plan rather than recurse
    return df


def validate_timezones(master: DataFrame) -> str:
    """All securities must share one timezone (reference base.py:1116-1125:
    mixed-timezone panels are ambiguous for signal dates)."""
    return single_timezone(master) or "UTC"
