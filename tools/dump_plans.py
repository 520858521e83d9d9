#!/usr/bin/env python
"""Dump .explain('formatted') for the given queries to plans/<outdir>/.

Usage: python tools/dump_plans.py <outdir-suffix> <query> [...]
Writes plans/$SPARK_GRAFT_PLANS_DIR (default r15)/<query>_<outdir-suffix>.txt
"""
from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)


def main(argv):
    suffix = argv[0]
    names = argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from moonshot_spark.queries import QUERIES
    from moonshot_spark.session import get_spark

    spark = get_spark("dump_plans")
    out_dir = os.path.join(HERE, "plans", os.environ.get("SPARK_GRAFT_PLANS_DIR", "r15"))
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        df = QUERIES[name](spark, sf_dir)
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(txt)
        print("wrote", path, flush=True)


if __name__ == "__main__":
    main(sys.argv[1:])
