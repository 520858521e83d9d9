"""Deterministic hash-based sampling and train/val/test splitting.

`df.sample()` is seed-dependent *per partition layout* — repartition the
input and the sample changes, which is unacceptable for dataset releases.
These operators key every decision off ``md5(id)`` instead: the split is
a pure function of the row's identity, reproducible across runs, engines,
partitionings, and cluster sizes, and documentable in a datasheet
("doc X is in val because md5('X') mod 100 = 83").

Scale: pure projections + one filter — no shuffle, no driver state; the
bucket expression whole-stage-codegens next to the scan, so splitting a
100 TB corpus is a single map-only pass (write each split with
``partitionBy("split")`` to get per-split output directories).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def hash_bucket_expr(col: Column | str, num_buckets: int = 100,
                     salt: str = "") -> Column:
    """Deterministic bucket in [0, num_buckets): first 32 bits of
    ``md5(salt || id)`` mod ``num_buckets``.  md5-based, so bit-identical
    in any engine (same discipline as the MinHash family); ``salt`` yields
    independent bucketings (resampling without correlation)."""
    c = F.col(col) if isinstance(col, str) else col
    h = F.md5(F.encode(F.concat(F.lit(salt), c.cast("string")), "UTF-8"))
    return (F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint")
            % num_buckets)


def split_expr(col: Column | str,
               fractions: dict[str, float] | None = None,
               num_buckets: int = 100, salt: str = "") -> Column:
    """Split label column from cumulative fraction thresholds, e.g.
    ``{"train": .8, "val": .1, "test": .1}`` → bucket<80 → train,
    bucket<90 → val, else test.  Fractions are applied in dict order and
    must sum to 1 (the final class absorbs any rounding remainder)."""
    fractions = fractions or {"train": 0.8, "val": 0.1, "test": 0.1}
    bucket = hash_bucket_expr(col, num_buckets, salt)
    names = list(fractions)
    expr, cum = None, 0.0
    for name in names[:-1]:
        cum += fractions[name]
        cond = bucket < int(round(cum * num_buckets))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    return (expr.otherwise(names[-1]) if expr is not None
            else F.lit(names[-1]))


def train_test_split(df: DataFrame, id_col: str = "doc_id",
                     fractions: dict[str, float] | None = None,
                     salt: str = "") -> DataFrame:
    """``df`` plus a deterministic ``split`` column."""
    return df.withColumn("split", split_expr(id_col, fractions, salt=salt))


def stratified_sample(df: DataFrame, rates: dict[str, float],
                      strata_col: str, id_col: str = "doc_id",
                      default_rate: float = 0.0,
                      num_buckets: int = 100, salt: str = "") -> DataFrame:
    """Per-stratum deterministic sample: keep a row iff its hash bucket is
    under ``rates[stratum] * num_buckets`` (unlisted strata use
    ``default_rate``).  The standard corpus-mixing primitive (e.g. keep
    100% of books, 30% of common-crawl)."""
    bucket = hash_bucket_expr(id_col, num_buckets, salt)
    rate = None
    for stratum, r in rates.items():
        cond = F.col(strata_col) == stratum
        rate = F.when(cond, r) if rate is None else rate.when(cond, r)
    rate = rate.otherwise(default_rate) if rate is not None \
        else F.lit(default_rate)
    return df.where(bucket < rate * num_buckets)


def parity_upsample(df: DataFrame, strata_col: str, id_col: str = "doc_id",
                    num_buckets: int = 1000, salt: str = "") -> DataFrame:
    """Temperature-style corpus rebalancing: upsample each stratum toward
    the largest one with repetition factor r = sqrt(max_n / n) (i.e.
    temperature alpha = 0.5 on the stratum distribution — the standard
    knob for boosting low-resource languages without letting them dominate).

    Every document is emitted floor(r) times, plus one extra copy for the
    deterministic hash-fraction of docs that rounds the stratum to its
    exact target: docs whose md5 bucket < floor(frac(r) * num_buckets).
    Like everything in this module the result is a pure function of row
    identity — independent of partitioning, cluster size, and engine
    (sqrt/floor/divide are single correctly-rounded IEEE ops, so the copy
    counts are bit-identical across engines).

    Scale: the per-stratum counts are a tiny aggregate (one row per
    stratum) broadcast back onto the corpus; the emit is a map-side
    explode — no corpus shuffle at all.  Output order within a doc is
    copy_id 1..k for downstream epoch slicing.
    """
    counts = df.groupBy(strata_col).agg(F.count("*").alias("__n"))
    mx = counts.agg(F.max("__n").alias("__mx"))
    rates = (counts.crossJoin(F.broadcast(mx))
             .withColumn("__r", F.sqrt(F.col("__mx").cast("double")
                                       / F.col("__n"))))
    joined = df.join(F.broadcast(rates.select(strata_col, "__r")), strata_col)
    frac_buckets = F.floor(
        (F.col("__r") - F.floor("__r")) * num_buckets).cast("bigint")
    copies = (F.floor("__r").cast("bigint")
              + (hash_bucket_expr(id_col, num_buckets, salt)
                 < frac_buckets).cast("bigint"))
    return (joined
            .withColumn("copy_id", F.explode(
                F.sequence(F.lit(1).cast("bigint"), copies)))
            .drop("__r"))


def cap_per_group(df: DataFrame, group_col: str, cap: int,
                  id_col: str = "doc_id",
                  prefilter_margin: float | None = None) -> DataFrame:
    """Keep at most ``cap`` rows per group, chosen by deterministic hash
    order of the id — the per-domain/per-language cap that stops a single
    source from dominating a training mix.  Hash order (not arrival
    order) makes the kept subset stable across runs and partitionings.

    The reduction is the two-phase grouped top-k (operators/ranking.py):
    one shuffle keyed on (scan partition, group) then an exact window
    over ≤ n_partitions × cap survivors per group — no group ever
    funnels its full row set through one task, however skewed.

    ``prefilter_margin`` additionally cuts the SHUFFLE VOLUME for
    extreme skew (one group = half the corpus): per-group counts (one
    map-side-combinable aggregate, group-cardinality result — this op
    caps per domain/language, so the count table broadcasts) give each
    group a hash threshold ``min(1, margin·cap/n)``; only rows whose
    uniform hash falls below it enter the shuffle, ~margin·cap rows per
    group instead of n.  EXACTNESS is preserved, not probabilistic: the
    uniform hash is a monotone prefix of the md5 sort key, so the
    survivor set is always a prefix of the hash order, and a survivor
    count ≥ min(cap, n) proves the true top-``cap`` survived.  Groups
    failing that check (vanishingly rare at margin ≥ 2 — a lower-tail
    binomial event) are re-admitted in full via a union, so the result
    is identical to the unfiltered path in every case.
    """
    from moonshot_spark.operators.ranking import grouped_topk

    base = df
    if prefilter_margin is not None:
        counts = df.groupBy(group_col).agg(F.count("*").alias("__n"))
        thr = F.least(F.lit(1.0),
                      F.lit(float(prefilter_margin) * cap) / F.col("__n"))
        lim = counts.select(group_col, thr.alias("__thr"),
                            F.col("__n"))
        pre = (df.join(F.broadcast(lim), group_col)
               .where(uniform_hash_expr(id_col) < F.col("__thr")))
        surv = pre.groupBy(group_col).agg(F.count("*").alias("__s"))
        deficient = (lim.join(surv, group_col, "left")
                     .where(F.coalesce(F.col("__s"), F.lit(0))
                            < F.least(F.lit(cap), F.col("__n")))
                     .select(group_col))
        bad = [r[0] for r in deficient.collect()]
        base = pre.drop("__thr", "__n")
        if bad:
            base = (base.where(~F.col(group_col).isin(bad))
                    .unionByName(df.where(F.col(group_col).isin(bad))))

    order = F.md5(F.col(id_col).cast("string"))
    return grouped_topk(base, [group_col],
                        [order.asc(), F.col(id_col).asc()], cap,
                        rank_col="__rn").drop("__rn").select(*df.columns)


def corpus_shuffle(df: DataFrame, id_col: str = "doc_id", seed: int = 0,
                   epoch: int = 0, num_shards: int | None = None,
                   n_partitions: int | None = None) -> DataFrame:
    """Deterministic global shuffle of the corpus into a training order:
    every row gets a 1-based ``position`` in the order of
    ``md5(seed:epoch:id)`` (a different permutation per epoch, the
    standard seeded data-order shuffle for reproducible training runs)
    and, if ``num_shards`` is given, a round-robin ``shard`` so shard
    sizes differ by at most one row.

    Scale shape: the only total-order operation is a TeraSort-style
    two-phase rank (operators/ranking.exact_rank) — one range shuffle on
    the hash key, partitioned windows only, never a global window.  The
    order is a pure function of (seed, epoch, id): independent of input
    partitioning, stable across runs and engines (md5 is bit-stable
    everywhere).
    """
    from moonshot_spark.operators.ranking import exact_rank

    key = F.md5(F.concat_ws(
        ":", F.lit(str(seed)), F.lit(str(epoch)),
        F.col(id_col).cast("string")))
    ranked = exact_rank(df.withColumn("__key", key),
                        ["__key", id_col], out_col="position",
                        n_partitions=n_partitions).drop("__key")
    if num_shards:
        ranked = ranked.withColumn(
            "shard", ((F.col("position") - 1) % num_shards).cast("int"))
    return ranked


def uniform_hash_expr(col: Column | str, salt: str = "") -> Column:
    """Deterministic uniform in the OPEN interval (0, 1): the first 52
    bits of ``md5(salt || id)`` mapped to (v + 1) / (2^52 + 2).  Like
    every sampler here, bit-identical across engines — no RNG state,
    no partition sensitivity."""
    c = F.col(col) if isinstance(col, str) else col
    h = F.md5(F.encode(F.concat(F.lit(salt), c.cast("string")), "UTF-8"))
    v = F.conv(F.substring(h, 1, 13), 16, 10).cast("bigint").cast("double")
    return (v + F.lit(1.0)) / F.lit(4503599627370498.0)


def weighted_sample_without_replacement(
        df: DataFrame, group_col: str, weight_col: str, k: int,
        id_col: str = "doc_id", salt: str = "") -> DataFrame:
    """Efraimidis-Spirakis A-ES weighted sampling WITHOUT replacement,
    k per group: each row draws the deterministic uniform u = h(id) and
    the k rows with the largest u^(1/w) win — provably equivalent to
    sequential weighted draws without replacement (Efraimidis &
    Spirakis, IPL 2006).  Ranked on the monotone-equivalent key
    ln(u)/w (descending) to avoid pow(); ties break on id.

    One map + one two-phase per-group top-k (operators/ranking.py:
    grouped_topk — a corpus-sized group never funnels its full row set
    through one task); non-positive weights are excluded (the scheme is
    undefined for them).  Adds ``es_key`` and ``rank``.
    """
    from moonshot_spark.operators.ranking import grouped_topk

    w = F.col(weight_col).cast("double")
    key = F.log(uniform_hash_expr(id_col, salt)) / w
    scored = df.where(w > 0).withColumn("es_key", key)
    out = grouped_topk(scored, [group_col],
                       [F.desc("es_key"), F.asc(id_col)], k)
    return out.withColumn("rank", F.col("rank").cast("int"))


def waterfill_allocation(domains: DataFrame, budget_col: str = "budget",
                         weight_col: str = "weight",
                         avail_col: str = "avail",
                         key_cols: tuple = ("domain",)) -> DataFrame:
    """Token-budget allocation across domains: proportional to ``weight``
    but capped by ``avail`` (the waterfilling / proportional-with-caps
    solve every corpus-mixing recipe needs: "allocate B tokens 5:2:2:1
    across en/de/es/fr, but a low-resource domain can't give more than
    it has — redistribute its shortfall proportionally").

    Closed form, no iteration: domains saturate in ascending
    avail/weight order, so sorting by that ratio and prefix-summing
    (weight, avail) identifies the saturated prefix in one pass —
    domain p saturates iff avail_p * W_rem_p <= weight_p * B_rem_p with
    the remainders taken after the prefix before p (exact BIGINT
    cross-multiplication, no division), guarded prefix-closed by a
    running min.  Non-saturated domains get
    floor(weight_i * B_final / W_final).  All decisions are integer
    arithmetic — bit-identical in any engine.

    ``domains`` is domain-cardinality (languages/sources — a dim table),
    so the unpartitioned ordering windows are bounded by construction;
    ``budget_col`` rides every row (cross-join a 1-row total upstream).
    Returns (key_cols..., avail, weight, saturated INT, allocated).
    """
    keys = list(key_cols)
    ratio = (F.col(avail_col).cast("double")
             / F.col(weight_col).cast("double"))
    w_ord = Window.orderBy(ratio.asc(), *[F.col(k) for k in keys])
    prev = w_ord.rowsBetween(Window.unboundedPreceding, -1)
    full = w_ord.rowsBetween(Window.unboundedPreceding,
                             Window.unboundedFollowing)
    cum_w_prev = F.coalesce(F.sum(weight_col).over(prev), F.lit(0))
    cum_a_prev = F.coalesce(F.sum(avail_col).over(prev), F.lit(0))
    w_total = F.sum(weight_col).over(full)
    cond = (F.col(avail_col) * (w_total - cum_w_prev)
            <= F.col(weight_col) * (F.col(budget_col) - cum_a_prev))
    staged = domains.withColumn("__c", cond.cast("int"))
    sat = F.min("__c").over(
        w_ord.rowsBetween(Window.unboundedPreceding, 0))
    staged = staged.withColumn("__sat", sat)
    sat_a = F.coalesce(F.sum(F.when(F.col("__sat") == 1,
                                    F.col(avail_col))).over(full), F.lit(0))
    sat_w = F.coalesce(F.sum(F.when(F.col("__sat") == 1,
                                    F.col(weight_col))).over(full), F.lit(0))
    b_final = F.col(budget_col) - sat_a
    w_final = F.sum(F.col(weight_col)).over(full) - sat_w
    # exact BIGINT floor division (SQL `div`), not floor(double/double):
    # past 2^53 the double floor can differ from the true proportional
    # floor (ADVICE r8).  w_final > 0 whenever the branch is taken: a
    # sat=0 row's own weight is excluded from sat_w by definition.
    # DOMAIN: weights, availabilities, and the budget are nonnegative
    # (asserted below) — required because SQL `div` truncates toward
    # zero while the oracle's `//` floors toward -inf; the two only
    # coincide on nonnegative operands (ADVICE r9).
    staged = (staged.withColumn("__bf", b_final)
              .withColumn("__wf", w_final))
    neg_input = ((F.col(weight_col) < 0) | (F.col(avail_col) < 0)
                 | (F.col(budget_col) < 0))
    alloc = F.when(neg_input, F.raise_error(F.lit(
        "waterfill_allocation requires nonnegative weight/avail/budget "
        "(truncating `div` == floor division only on that domain)"))
    ).when(F.col("__sat") == 1, F.col(avail_col)).otherwise(
        F.expr(f"`{weight_col}` * __bf div __wf").cast("bigint"))
    return staged.select(*keys, F.col(avail_col), F.col(weight_col),
                         F.col("__sat").alias("saturated"),
                         alloc.alias("allocated"))
