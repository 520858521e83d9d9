"""Seeded input generation for the benchmark workloads.

Every table is a pure function of ``(seed, size)``: the same seed gives
byte-identical parquet files, two seeds give different values at the same
row counts.  The schemas are the catalog's testdata schemas (the tables
``moonshot_spark.queries`` and its DuckDB oracles read), so the library
and the oracles see ordinary inputs and never the seed.

Generated directories are cached under ``perfbench/.cache/<name>/``, one
per (workload, size, seed), with a ``_DONE`` marker written last; a run
whose inputs already exist skips generation, and only the most recently
built ``CACHE_KEEP`` directories are kept.  Generation is never inside a
timed region.
"""

from __future__ import annotations

import datetime as _dt
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
CACHE_DIR = os.path.join(HERE, ".cache")
CACHE_KEEP = 8    # input directories kept, most recently built first

EPOCH = _dt.datetime(2024, 1, 1)
EPOCH_US = int(EPOCH.replace(tzinfo=_dt.timezone.utc).timestamp()) * 1_000_000
DAY_US = 86_400_000_000
EVENT_TYPES = pa.array(["click", "view", "purchase", "signup", "error"])
PROPS = pa.array([f'{{"k": {k}}}' for k in range(100)])
# Rows per parquet row group.  Spark never splits a row group, so the wide
# events table gets several, and its scan spreads over the cores instead
# of running as one task.
ROW_GROUP = 100_000

EVENTS_SCHEMA = pa.schema([
    ("event_id", pa.int64()), ("ts", pa.timestamp("us")),
    ("user_id", pa.int64()), ("event_type", pa.string()),
    ("value", pa.float64()), ("props", pa.string()),
])


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, row_group_size=ROW_GROUP)


# --------------------------------------------------------------------- #
# events: per-sid daily price walks sampled as intraday ticks           #
# --------------------------------------------------------------------- #

def price_levels(seed: int, n_sids: int, n_days: int) -> np.ndarray:
    """Daily price level per (day, sid): a geometric random walk from a
    per-sid start in [20, 180), so that about half the sids sit below the
    trade strategy's 100 threshold on any day."""
    rng = _rng(seed, 1)
    start = rng.uniform(20.0, 180.0, n_sids)
    steps = rng.normal(0.0, 0.02, (n_days, n_sids))
    return start * np.exp(np.cumsum(steps, axis=0))


def _ticks(seed: int, levels: np.ndarray, days: range, ticks: int):
    """Tick arrays of shape (day, tick slot, sid): epoch-µs timestamps and
    2-decimal prices.  Each tick sits in its own slot of the day, so no
    two ticks of one (sid, day) share a timestamp and first/last-of-day
    are unambiguous in every engine."""
    rng = _rng(seed, 2, days.start)
    d = np.asarray(days, dtype=np.int64)
    shape = (len(d), ticks, levels.shape[1])
    slot_us = DAY_US // ticks
    ts = (EPOCH_US + d[:, None, None] * DAY_US
          + np.arange(ticks, dtype=np.int64)[None, :, None] * slot_us
          + rng.integers(0, slot_us, shape))
    noise = rng.normal(0.0, 0.01, shape)
    value = np.maximum(np.round(levels[d][:, None, :] * (1.0 + noise), 2),
                       0.01)
    return rng, ts, value


def events_for_days(seed: int, levels: np.ndarray, days: range,
                    ticks: int, event_id0: int) -> pa.Table:
    """The ``events`` rows for ``days`` (indices into ``levels``),
    ``ticks`` per sid and day, in time-slot order."""
    rng, ts, value = _ticks(seed, levels, days, ticks)
    n = ts.size
    sid = np.broadcast_to(np.arange(levels.shape[1], dtype=np.int64),
                          ts.shape)
    return pa.Table.from_arrays([
        pa.array(np.arange(event_id0, event_id0 + n, dtype=np.int64)),
        pa.array(ts.ravel(), type=pa.timestamp("us")),
        pa.array(sid.ravel()),
        EVENT_TYPES.take(rng.integers(0, len(EVENT_TYPES), n)),
        pa.array(value.ravel()),
        PROPS.take(rng.integers(0, len(PROPS), n)),
    ], schema=EVENTS_SCHEMA)


# --------------------------------------------------------------------- #
# catalog tables: the TPC-H-shaped star schema + documents/embeddings   #
# --------------------------------------------------------------------- #

_WORDS = np.array(
    "join hash row batch scan column customer filter small slow merge "
    "order vector line table data agg value key stream window a spark "
    "part group big sort query fast the".split())
_PART_WORDS = (["small", "red", "blue", "hot", "old", "large", "new",
                "green"],
               ["ring", "widget", "bolt", "gear", "gizmo", "plate",
                "anvil", "nut"])


def _dates(rng, n, lo: _dt.date, span_days: int) -> pa.Array:
    days = rng.integers(0, span_days, n)
    base = np.datetime64(lo.isoformat(), "us")
    return pa.array(base + days.astype("timedelta64[D]"),
                    type=pa.timestamp("us"))


def _money(rng, lo, hi, n) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def catalog_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    """The ten catalog tables at ``scale`` (1.0 = the sf1 row counts:
    150k customers, 1.5M orders, ~6M line items, 1M events)."""
    rng = _rng(seed, 3)
    # shape draws (lines per order, words per document) come from a
    # seed-independent stream, so every seed gives the same sizes
    shape = _rng(0, 4)
    n_cust = max(int(150_000 * scale), 30)
    n_supp = max(int(10_000 * scale), 10)
    n_part = max(int(200_000 * scale), 40)
    n_ord = max(int(1_500_000 * scale), 100)
    n_ev = max(int(1_000_000 * scale), 1000)
    n_doc = max(int(50_000 * scale), 60)
    n_emb = max(int(20_000 * scale), 50)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(["HOUSEHOLD", "MACHINERY", "FURNITURE",
                                  "BUILDING", "AUTOMOBILE"])[
            rng.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    adj, noun = _PART_WORDS
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(
            np.char.add(np.array(adj)[rng.integers(0, len(adj), n_part)],
                        " "),
            np.array(noun)[rng.integers(0, len(noun), n_part)]),
        "p_brand": np.char.add("Brand#",
                               rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(["ECONOMY", "SMALL", "MEDIUM", "PROMO",
                            "STANDARD", "LARGE"])[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1,
                                  2)})
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _dates(rng, n_ord, _dt.date(1995, 1, 1), 2405),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"])[
            rng.integers(0, 5, n_ord)]})
    lines = shape.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    lnum = (np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines)
            + 1).astype(np.int32)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(lnum),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * _money(rng, 900.0, 2100.0, n_li),
                                    2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _dates(rng, n_li, _dt.date(1995, 1, 2), 2405)})
    # events: a month of ticks for a small universe, like the catalog's
    # own testdata (~2.5 ticks per sid and day)
    n_sid = max(int(15_000 * scale), 20)
    n_days = 30
    per_day = max(n_ev // (n_sid * n_days), 1)
    levels = price_levels(seed, n_sid, n_days)
    ev = events_for_days(seed, levels, range(n_days), per_day, 0)
    keep = np.sort(rng.choice(ev.num_rows, min(n_ev, ev.num_rows),
                              replace=False))
    t["events"] = ev.take(pa.array(keep)).sort_by("ts")
    t["events"] = t["events"].set_column(
        0, "event_id", pa.array(np.arange(t["events"].num_rows,
                                          dtype=np.int64)))
    n_words = shape.integers(10, 100, n_doc)
    texts = [" ".join(_WORDS[rng.integers(0, len(_WORDS), k)])
             for k in n_words]
    # near-duplicates: a slice of documents repeats an earlier one with
    # one word appended, so the dedup/minhash queries find clusters
    n_dup = n_doc // 20
    for i, j in zip(rng.choice(np.arange(n_doc // 2, n_doc), n_dup,
                               replace=False),
                    rng.integers(0, n_doc // 2, n_dup)):
        texts[i] = texts[j] + " dup"
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(["en", "en", "en", "zh", "es", "de", "fr"])[
            rng.integers(0, 7, n_doc)],
        "source": np.char.add("src", rng.integers(0, 20, n_doc).astype(str)),
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0.0, 0.15, (10, 64))
    emb = (centers[labels] + rng.normal(0.0, 0.1, (n_emb, 64))
           ).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32))})
    return t


# --------------------------------------------------------------------- #
# cached, per-(workload, size, seed) input directories                  #
# --------------------------------------------------------------------- #

def _cached(name: str, build) -> str:
    out = os.path.join(CACHE_DIR, name)
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    open(os.path.join(tmp, "_DONE"), "w").close()
    os.replace(tmp, out)
    built = sorted((os.path.join(CACHE_DIR, d) for d in os.listdir(CACHE_DIR)),
                   key=os.path.getmtime, reverse=True)
    for old in built[CACHE_KEEP:]:
        shutil.rmtree(old, ignore_errors=True)
    return out


def wide_events(seed: int, n_sids: int, n_days: int, ticks: int) -> str:
    """Directory holding ``events.parquet`` for the wide backtest."""
    def build(d):
        levels = price_levels(seed, n_sids, n_days)
        _write(events_for_days(seed, levels, range(n_days), ticks, 0),
               os.path.join(d, "events.parquet"))
    return _cached(f"wide-{n_sids}x{n_days}x{ticks}-s{seed}", build)


def catalog_dir(seed: int, scale: float) -> str:
    """Directory holding the ten catalog tables."""
    def build(d):
        for name, table in catalog_tables(seed, scale).items():
            _write(table, os.path.join(d, f"{name}.parquet"))
    return _cached(f"catalog-{scale:g}-s{seed}", build)
