#!/usr/bin/env python
"""Dump the normalized executed plans of registered queries, one file each.

Usage: python tools/dump_plans.py OUT_DIR QUERY [QUERY ...]

Writes ``OUT_DIR/<query>.txt``: the executed (pre-run, AQE-initial)
physical plan of the frame the query returns, from
``plans.audit.executed_plan``, followed by the plan of every frame the
builder ``collect()``s while it builds (``trade()``'s order stubs, say).
Expression ids (``#123``) and ``plan_id=123`` are normalized, so two
dumps of the same code ``diff`` clean; dump the parent and the change of
a refactor into two directories and ``diff -r`` them.  FileScan metadata
(``DataFilters``, ``PushedFilters``) is printed uncut: Spark abbreviates
it to ``spark.sql.maxMetadataStringLength`` characters before the ids
are masked, so a cut string would end at a different character whenever
its ids have more or fewer digits.  The tables are
read from ``$SPARK_GRAFT_SF_DIR`` (default: the sf0.1 tables, as for
``bench.py``).
"""
from __future__ import annotations

import os
import re
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)


_METADATA_LENGTH = "spark.sql.maxMetadataStringLength"


def normalize(plan: str) -> str:
    """Strip the per-session counters from a plan string."""
    return re.sub(r"plan_id=\d+", "plan_id=N", re.sub(r"#\d+", "#N", plan))


def dump(spark, out_dir: str, names, sf_dir: str) -> None:
    """Write ``out_dir/<name>.txt`` for each query in ``names``."""
    from pyspark.sql.classic.dataframe import DataFrame

    from moonshot_spark.plans.audit import executed_plan
    from moonshot_spark.queries import QUERIES

    os.makedirs(out_dir, exist_ok=True)
    collected = []
    collect = DataFrame.collect

    def recording_collect(df):
        collected.append(executed_plan(df))
        return collect(df)

    cut = spark.conf.get(_METADATA_LENGTH)
    spark.conf.set(_METADATA_LENGTH, str(2**31 - 1))
    DataFrame.collect = recording_collect
    try:
        for name in names:
            collected.clear()
            plans = [executed_plan(QUERIES[name](spark, sf_dir)), *collected]
            path = os.path.join(out_dir, f"{name}.txt")
            with open(path, "w") as f:
                f.write("\n\n".join(normalize(p) for p in plans) + "\n")
            print("wrote", path, flush=True)
    finally:
        DataFrame.collect = collect
        spark.conf.set(_METADATA_LENGTH, cut)


def main(argv):
    if len(argv) < 2:
        sys.exit(__doc__)
    from moonshot_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    dump(get_spark("dump_plans"), argv[0], argv[1:], sf_dir)


if __name__ == "__main__":
    main(sys.argv[1:])
