#!/usr/bin/env python
"""Side-by-side Spark vs DuckDB-oracle timings for every catalog query.

Evidence companion to bench.py: runs each oracle-checked query on both
engines over the same parquet (``tools/measure.py``: warm + min-of-two
timed, on both engines) and prints a markdown table sorted by Spark
time, plus totals.  The Spark column splits into build (frame
construction: a fixed driver cost that does not grow with data) and
exec (``count()``); jobs and tasks are the fastest Spark run's, so an
A/B can name the layer that moved.  Usage:

    python tools/bench_compare.py [sf_dir]    # default /root/testdata/sf0.1
    python tools/bench_compare.py [sf_dir] --queries a,b   # a subset
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

from moonshot_spark.materialize import scope  # noqa: E402
from tools.check_correctness import duckdb_views  # noqa: E402
from tools.measure import measure, session  # noqa: E402


def duckdb_seconds(con, sql: str) -> float:
    """The same loop on DuckDB: build = ``execute``, force = ``fetchall``."""
    return measure(lambda: con.execute(sql),
                   force=lambda cur: cur.fetchall()).total


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

    spark = session("bench_compare")
    con = duckdb_views(sf_dir)

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    rows = []
    for name, fn in queries.items():
        if only is not None and name not in only:
            continue
        sql = oracles.get(name)
        if sql is None:
            continue
        with scope():
            m = measure(lambda: fn(spark, sf_dir))
        try:
            d = duckdb_seconds(con, sql)
        except duckdb.OutOfMemoryException:
            # DuckDB accumulates allocator state over ~180 oracles; a
            # fresh connection releases it — retry once, cold
            con.close()
            con = duckdb_views(sf_dir)
            d = duckdb_seconds(con, sql)
        rows.append((name, m.total, m.build, m.exec, d, m.jobs, m.tasks))

    rows.sort(key=lambda r: -r[1])
    print("| query | spark s | build s | exec s | jobs | tasks | duckdb s "
          "| ratio |")
    print("|---|---|---|---|---|---|---|---|")
    for name, s, sb, sx, d, jobs, tasks in rows:
        ratio = s / d if d else float("inf")
        print(f"| {name} | {s:.3f} | {sb:.3f} | {sx:.3f} | {jobs} | {tasks} "
              f"| {d:.3f} | {ratio:.2f} |")
    ts, td = sum(r[1] for r in rows), sum(r[4] for r in rows)
    tb, tx = sum(r[2] for r in rows), sum(r[3] for r in rows)
    tj, tt = sum(r[5] for r in rows), sum(r[6] for r in rows)
    print(f"| **total ({len(rows)} queries)** | **{ts:.1f}** "
          f"| **{tb:.1f}** | **{tx:.1f}** | **{tj}** | **{tt}** "
          f"| **{td:.1f}** | **{ts / td:.2f}** |")


if __name__ == "__main__":
    main()
