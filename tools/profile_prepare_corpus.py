#!/usr/bin/env python
"""Per-stage decomposition of prepare_corpus at replicated scales
(VERDICT r12 item 3: 100x rows/s DECLINED 12% — the only non-rising
linear curve — and SCALE.md could not say which stage grows
superlinearly).

Times cumulative plan prefixes (each ending in a count() action, timed
by ``tools/measure.py``), so stage cost = delta between consecutive
prefixes ON THE SAME scale; the 50x->100x growth factor of each delta
names the superlinear stage (a linear stage doubles, a superlinear one
more than doubles):

  scan      documents scan (ensure_scan_parallelism)
  quality   + quality gate (tokenize + 3 column predicates)
  survivors + exact dedup (fingerprint groupBy + left_semi)
  evgrams   eval slice -> distinct 3-gram set (the broadcast build input)
  clean     + decontaminate (explode shingles, broadcast probe, anti)
  full      + pack_bins window + final per-lang aggregate

Usage: python tools/profile_prepare_corpus.py [--scales 50,100] [--base DIR]
Appends nothing; prints a markdown table to paste into PERF.md.

``--fixed-eval`` holds the eval/benchmark slice at copy 0 of the
replica (base-corpus-sized) while the training corpus scales — the
PRODUCTION shape, where the benchmark set does not grow with the
corpus.  The replica harness suffixes every token per copy
(scale_bench.replicate_tables), so the default doc_id%50 eval slice
doubles its distinct-n-gram count at every octave and the broadcast
probe table grows with scale; --fixed-eval isolates whether the
superlinear `clean` growth is that harness artifact or real.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from moonshot_spark.materialize import scope  # noqa: E402
from tools.measure import measure, session  # noqa: E402


def stages(spark, sf_dir, eval_max_id=None):
    from moonshot_spark.datapipe.decontam import decontaminate, eval_ngrams
    from moonshot_spark.datapipe.packing import pack_bins
    from moonshot_spark.datapipe.text import fingerprint_expr, quality_exprs
    from moonshot_spark.sources.parquet import ensure_scan_parallelism, load_table

    def docs():
        return ensure_scan_parallelism(load_table(spark, sf_dir, "documents"))

    def passed():
        q = quality_exprs("text")
        return docs().where(
            (q["n_tokens"] >= 20)
            & q["mean_token_len"].between(2.0, 12.0)
            & (q["punct_ratio"] < 0.1))

    def surv():
        fp = passed().withColumn("__f", fingerprint_expr("text"))
        keep = fp.groupBy("__f").agg(F.min("doc_id").alias("doc_id"))
        return passed().join(keep.select("doc_id"), "doc_id", "left_semi")

    def eval_slice():
        ev = docs().where(F.col("doc_id") % 50 == 0)
        if eval_max_id is not None:
            ev = ev.where(F.col("doc_id") < eval_max_id)
        return ev

    def evg():
        return eval_ngrams(eval_slice())

    def clean():
        return decontaminate(surv().where(F.col("doc_id") % 50 != 0),
                             eval_slice())

    def full():
        packed = pack_bins(clean(), budget=256)
        return (packed.groupBy("lang")
                .agg(F.count("*").alias("n_docs"),
                     F.sum("n_tokens").alias("n_tokens"),
                     (F.max("bin_id") + 1).alias("n_bins")))

    return [("scan", docs), ("quality", passed), ("survivors", surv),
            ("evgrams", evg), ("clean", clean), ("full", full)]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--scales", default="50,100")
    ap.add_argument("--base", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--fixed-eval", action="store_true",
                    help="hold the eval slice at copy 0 (base-sized) "
                         "while the corpus scales — the production shape")
    args = ap.parse_args()
    scales = [int(s) for s in args.scales.split(",")]
    if len(scales) < 2:
        ap.error("--scales needs at least two factors (the growth "
                 "column compares the two deepest)")

    from tools.scale_bench import replicate_tables

    spark = session("profile_prepare_corpus")
    eval_max_id = None
    if args.fixed_eval:
        base_docs = spark.read.parquet(f"{args.base}/documents.parquet")
        eval_max_id = int(base_docs.agg(F.max("doc_id")).first()[0]) + 1
        print(f"fixed-eval: doc_id < {eval_max_id} (copy 0 only)")
    table: dict[str, dict[int, float]] = {}
    counts: dict[str, dict[int, int]] = {}
    for n in scales:
        d = args.base if n == 1 else replicate_tables(spark, args.base, n)
        for name, mk in stages(spark, d, eval_max_id):
            with scope():
                m = measure(mk)
            table.setdefault(name, {})[n] = m.total
            counts.setdefault(name, {})[n] = m.rows
            print(f"[{n:>3}x] {name:<10} {m.total:7.3f}s "
                  f"rows={m.rows:,}", flush=True)

    hdr = "| stage | " + " | ".join(
        f"{n}x s | {n}x rows" for n in scales) + " | growth |"
    print()
    print(hdr)
    print("|" + "---|" * (2 * len(scales) + 2))
    prev = {n: 0.0 for n in scales}
    for name, _ in stages(spark, args.base):
        cells = []
        for n in scales:
            cells.append(f"{table[name][n]:.3f}")
            cells.append(f"{counts[name][n]:,}")
        # marginal (delta over previous prefix) growth between the two
        # deepest scales: > data-growth factor means superlinear
        a, b = scales[-2], scales[-1]
        da = max(table[name][a] - prev[a], 1e-9)
        db = max(table[name][b] - prev[b], 1e-9)
        cells.append(f"delta x{db / da:.2f} (data x{b / a:.1f})")
        for n in scales:
            prev[n] = table[name][n]
        print(f"| {name} | " + " | ".join(cells) + " |")


if __name__ == "__main__":
    main()
