#!/usr/bin/env python
"""Local replica of the driver's t2 correctness gate.

Runs each __spark_entry__.queries() entry on Spark AND its oracle_sql()
on DuckDB over the same sf dir; compares row count, column names, and
values (sorted by all columns, order-insensitive).  Run before committing
new queries:

    python tools/check_correctness.py [sf_dir] [query ...]

``--json <path>`` writes the sweep as an artifact that records the git
tree of ``moonshot_spark`` it tested; it refuses to run on uncommitted
library code, whose tree has no hash to record:

    python tools/check_correctness.py <sf_dir> --json CORRECTNESS_local_sf<N>.json
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import duckdb
import pandas as pd


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns), na_position="first").reset_index(drop=True)


def compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> bool:
    ok = True
    if len(spark_pdf) != len(duck_pdf):
        print(f"  ROWS MISMATCH: spark={len(spark_pdf)} duck={len(duck_pdf)}")
        ok = False
    s_cols, d_cols = sorted(spark_pdf.columns), sorted(duck_pdf.columns)
    if s_cols != d_cols:
        print(f"  SCHEMA MISMATCH: spark={s_cols} duck={d_cols}")
        return False
    if not ok:
        return False
    s, d = normalize(spark_pdf), normalize(duck_pdf)
    n_bad = 0
    max_diff = 0.0
    for c in s.columns:
        sv, dv = s[c], d[c]
        # the driver's value-hash is dtype-sensitive: an int64 engine column
        # vs a float64 oracle column mismatches even when values are equal
        # (the r04 pack_bins_report HUGEINT->float64 trap).  Mirror that.
        s_float = pd.api.types.is_float_dtype(sv)
        d_float = pd.api.types.is_float_dtype(dv)
        s_int = pd.api.types.is_integer_dtype(sv)
        d_int = pd.api.types.is_integer_dtype(dv)
        if (s_float and d_int) or (s_int and d_float):
            print(f"  DTYPE KIND MISMATCH col {c}: spark={sv.dtype} "
                  f"duck={dv.dtype} (driver value-hash would differ)")
            ok = False
        if pd.api.types.is_float_dtype(sv) or pd.api.types.is_float_dtype(dv):
            sv = pd.to_numeric(sv, errors="coerce")
            dv = pd.to_numeric(dv, errors="coerce")
            both_nan = sv.isna() & dv.isna()
            eq = (sv == dv) | both_nan
            diffs = (sv - dv).abs()
            if (~eq).any():
                n_bad += int((~eq).sum())
                max_diff = max(max_diff, float(diffs[~eq].max() or 0))
                bad_idx = eq[~eq].index[:3]
                for i in bad_idx:
                    print(f"  col {c} row {i}: spark={sv[i]!r} duck={dv[i]!r}")
        else:
            eq = (sv.astype(str) == dv.astype(str)) | (sv.isna() & dv.isna())
            if (~eq).any():
                n_bad += int((~eq).sum())
                for i in eq[~eq].index[:3]:
                    print(f"  col {c} row {i}: spark={sv[i]!r} duck={dv[i]!r}")
    if n_bad:
        print(f"  VALUES MISMATCH: {n_bad} cells differ, max abs diff {max_diff:.3e}")
        return False
    return ok


def code_tree() -> str:
    """``git rev-parse HEAD:moonshot_spark``; exits when that directory
    has uncommitted changes, since HEAD would not be the tested code."""
    def git(*args):
        return subprocess.run(["git", *args], cwd=REPO, check=True,
                              capture_output=True, text=True).stdout.strip()
    if git("status", "--porcelain", "moonshot_spark"):
        sys.exit("moonshot_spark has uncommitted changes: commit them "
                 "before writing a sweep artifact")
    return git("rev-parse", "HEAD:moonshot_spark")


def duckdb_views(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one ``read_parquet`` view per catalog
    table found in ``sf_dir``.  A Spark-written table (a directory of part
    files + ``_SUCCESS``) is read through a glob of its parts; Spark
    reads the directory natively."""
    from moonshot_spark.sources.parquet import TABLES

    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.isdir(path):
            path = os.path.join(path, "*.parquet")
        elif not os.path.exists(path):
            continue
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def main():
    args = sys.argv[1:]
    json_out = None
    if "--json" in args:
        i = args.index("--json")
        json_out = args[i + 1]
        args = args[:i] + args[i + 2:]
        tree = code_tree()
    sf_dir = args[0] if args and os.path.isdir(args[0]) \
        else "/root/testdata/sf0.01"
    only = [a for a in args if not os.path.isdir(a)]

    import __spark_entry__ as entry_mod
    from moonshot_spark.materialize import scope
    from moonshot_spark.session import get_spark

    spark = get_spark("check_correctness")
    con = duckdb_views(sf_dir)

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    names = only or list(queries)
    passed = failed = skipped = 0
    results = {}
    errored = 0
    for name in names:
        fn = queries[name]
        sql = oracles.get(name)
        # a query (or its oracle) may raise on non-driver data — e.g. the
        # z-order bit-budget guard fires, BY DESIGN, on 10x-replicated
        # keys that exceed 2^16.  Record the error and keep sweeping so
        # one loud guard doesn't hide every later query's verdict.
        try:
            with scope():
                spark_pdf = fn(spark, sf_dir).toPandas()
        except Exception as exc:
            msg = str(exc).splitlines()[0][:300]
            print(f"{name}: ERROR — {msg}")
            results[name] = {"status": "error", "err": msg}
            errored += 1
            continue
        if sql is None:
            print(f"{name}: NO ORACLE (rows-only) — {len(spark_pdf)} rows")
            results[name] = {"status": "rows_only", "rows": len(spark_pdf)}
            skipped += 1
            continue
        try:
            duck_pdf = con.execute(sql).df()
        except Exception as exc:
            msg = str(exc).splitlines()[0][:300]
            print(f"{name}: ORACLE ERROR — {msg}")
            results[name] = {"status": "error", "err": "oracle: " + msg}
            errored += 1
            continue
        if compare(name, spark_pdf, duck_pdf):
            print(f"{name}: OK ({len(spark_pdf)} rows)")
            results[name] = {"status": "pass", "rows": len(spark_pdf)}
            passed += 1
        else:
            print(f"{name}: FAILED")
            results[name] = {"status": "fail", "rows": len(spark_pdf)}
            failed += 1
    print(f"\n{passed} passed, {failed} failed, {skipped} rows-only, "
          f"{errored} errored")
    failed += errored
    # registry-completeness gate (r7 judge item 2): a FULL sweep must
    # cover every registered query — a sweep artifact that silently lags
    # the catalog is itself a failure
    registry_complete = set(results) == set(queries)
    if not only and not registry_complete:
        missing = sorted(set(queries) - set(results))
        print(f"REGISTRY INCOMPLETE: {len(missing)} queries missing "
              f"from sweep: {missing[:10]}")
        failed += 1
    if json_out:
        import time
        with open(json_out, "w") as f:
            json.dump({"sf_dir": sf_dir, "ts": time.time(),
                       "code_tree": tree,
                       "passed": passed, "failed": failed,
                       "errored": errored, "rows_only": skipped,
                       "registry_complete": registry_complete,
                       "queries": results}, f, indent=1)
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
