#!/usr/bin/env python
"""Side-by-side Spark vs DuckDB-oracle timings for every catalog query.

Evidence companion to bench.py: runs each oracle-checked query on both
engines over the same parquet (warm + min-of-two timed) and prints a
markdown table sorted by Spark time, plus totals.  Usage:

    python tools/bench_compare.py [sf_dir]    # default /root/testdata/sf0.1
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# pre-zero the pinned heap (session.py -Xms note) so G1 commit churn
# never lands kernel-time stalls inside a timed window
os.environ.setdefault("SPARK_GRAFT_PRETOUCH", "1")

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def timed(fn) -> float:
    fn()
    best = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return best


def timed_split(mk_df) -> tuple[float, float, float]:
    """(total, build, exec) for a Spark query: build = DataFrame
    construction (driver Py4J/analysis + any bounded eager validation
    the builder runs), exec = count() on the fresh plan.  Separating
    the two makes overhead-class ratios self-explaining in the compare
    table (VERDICT r9 item 7): build is a fixed driver cost that does
    not grow with data."""
    mk_df().count()
    best = (float("inf"), float("inf"), float("inf"))
    for _ in range(2):
        t0 = time.perf_counter()
        df = mk_df()
        t1 = time.perf_counter()
        df.count()
        t2 = time.perf_counter()
        if t2 - t0 < best[0]:
            best = (t2 - t0, t1 - t0, t2 - t1)
    return best


def main():
    # usage: bench_compare.py [sf_dir] [--queries a,b,c]
    args = [a for a in sys.argv[1:]]
    only = None
    if "--queries" in args:
        i = args.index("--queries")
        only = [q.strip() for q in args[i + 1].split(",") if q.strip()]
        args = args[:i] + args[i + 2:]
    sf_dir = args[0] if args else "/root/testdata/sf0.1"

    import __spark_entry__ as entry_mod
    from moonshot_spark.session import get_spark

    spark = get_spark("bench_compare")

    def fresh_con():
        # explicit cap: DuckDB's default (80% of RAM) assumes it owns
        # the box, but it shares this process with the Spark JVM
        c = duckdb.connect()
        c.execute("SET memory_limit='32GB'")
        for t in TABLES:
            p = os.path.join(sf_dir, f"{t}.parquet")
            if not os.path.exists(p):
                continue
            # Spark-written replicas (tools/scale_bench.py) are
            # DIRECTORIES of part files; the driver testdata is flat files
            pat = f"{p}/*.parquet" if os.path.isdir(p) else p
            c.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{pat}')")
        return c

    con = fresh_con()

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    rows = []
    for name, fn in queries.items():
        if only is not None and name not in only:
            continue
        sql = oracles.get(name)
        if sql is None:
            continue
        # fresh DataFrame per timed run (PERF.md r9): re-count()ing one
        # DataFrame object reuses shuffle map outputs, which would flatter
        # Spark while DuckDB re-executes its whole query each run
        s, sb, sx = timed_split(lambda: fn(spark, sf_dir))
        try:
            d = timed(lambda: con.execute(sql).fetchall())
        except duckdb.OutOfMemoryException:
            # DuckDB accumulates allocator state over ~180 oracles; a
            # fresh connection releases it — retry once, cold
            con.close()
            con = fresh_con()
            d = timed(lambda: con.execute(sql).fetchall())
        rows.append((name, s, sb, sx, d))

    rows.sort(key=lambda r: -r[1])
    print("| query | spark s | build s | exec s | duckdb s | ratio |")
    print("|---|---|---|---|---|---|")
    for name, s, sb, sx, d in rows:
        ratio = s / d if d else float("inf")
        print(f"| {name} | {s:.3f} | {sb:.3f} | {sx:.3f} "
              f"| {d:.3f} | {ratio:.2f} |")
    ts, td = sum(r[1] for r in rows), sum(r[4] for r in rows)
    tb, tx = sum(r[2] for r in rows), sum(r[3] for r in rows)
    print(f"| **total ({len(rows)} queries)** | **{ts:.1f}** "
          f"| **{tb:.1f}** | **{tx:.1f}** "
          f"| **{td:.1f}** | **{ts / td:.2f}** |")


if __name__ == "__main__":
    main()
