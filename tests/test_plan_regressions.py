"""Plan-regression tests: assert the physical plans keep the properties the
100 TB design depends on (broadcasts, pushdown, exchange counts).  A change
that silently turns a broadcast join into a sort-merge join or un-pushes a
filter fails here, not in production."""

import pytest
from pyspark.sql import functions as F

from moonshot_spark.queries import QUERIES

SF = "/root/testdata/sf0.001"


def plan_of(name, conf=None):
    from moonshot_spark.session import get_spark
    spark = get_spark("plan_tests")
    saved = {}
    try:
        for k, v in (conf or {}).items():
            saved[k] = spark.conf.get(k)
            spark.conf.set(k, v)
        return (QUERIES[name](spark, SF)._jdf.queryExecution()
                .executedPlan().toString())
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_star_join_broadcasts_dims():
    plan = plan_of("join_star_revenue")
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "SortMergeJoin" not in plan, plan


def test_q5_snowflake_broadcasts():
    plan = plan_of("q5_region_revenue")
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan, plan


def test_lineitem_filter_pushdown():
    plan = plan_of("agg_lineitem_pricing")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" \
        in plan, plan


def test_scan_prunes_columns():
    plan = plan_of("agg_lineitem_pricing")
    # the 7-column read schema (not all 11 lineitem columns)
    assert "l_comment" not in plan
    assert "l_orderkey" not in plan.split("ReadSchema")[-1].split("\n")[0], plan


def test_backtest_exchange_budget():
    """The backtest DAG must stay at ≤4 exchanges and 1 scan (PERF.md
    "Plan shape of the flagship")."""
    plan = plan_of("backtest_dma")
    assert plan.count("Exchange") <= 4, plan
    assert plan.count("Scan parquet") == 1, plan


def test_window_chain_single_exchange():
    plan = plan_of("window_shift_diff_pct")
    # panel agg shuffle + one sid-window shuffle only
    assert plan.count("Exchange") <= 2, plan


def test_ann_broadcasts_queries():
    plan = plan_of("ann_cosine_topk")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan


def test_winnowing_is_pure_projection():
    """Winnowing fingerprints must stay a per-row projection: no exchange,
    one scan — embarrassingly parallel at any corpus size."""
    plan = plan_of("winnowing_fingerprints")
    assert "Exchange" not in plan, plan
    assert plan.count("Scan parquet") == 1, plan


def test_embedding_near_dups_broadcasts_cell_guard():
    """The hot-cell guard must be a broadcast semi-filter, not a window
    shuffle of the fact table: IVF-cell cardinality is bounded, and a
    window would shuffle the fact table once per join leg."""
    plan = plan_of("embedding_near_dups")
    assert "BroadcastHashJoin" in plan, plan
    assert "Window" not in plan, plan


def test_ivf_probe_set_broadcasts():
    """IVF candidate join: the (queries × nprobe) probe side broadcasts;
    the corpus side never shuffles for the join itself."""
    plan = plan_of("ivf_topk_contract")
    assert "BroadcastHashJoin" in plan, plan


def test_lsh_jaccard_verify_no_cartesian():
    """LSH → exact-verify must never degrade to a cartesian product."""
    plan = plan_of("jaccard_verified_pairs")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_q10_pushdown_and_broadcast():
    plan = plan_of("q10_returned_revenue")
    # both filters reach their scans; no sort-merge join anywhere
    scan_lines = [l for l in plan.splitlines() if "FileScan parquet" in l]
    assert any("l_returnflag" in l and "= R)" in l for l in scan_lines), plan
    assert any("o_orderdate" in l and ">= 1996-01-01" in l
               for l in scan_lines), plan
    assert "SortMergeJoin" not in plan, plan


def test_q18_partial_agg_before_join():
    plan = plan_of("q18_large_orders")
    # the HAVING aggregate runs with map-side partial sums
    assert "partial_sum" in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_chunking_is_map_side_only():
    plan = plan_of("context_chunks")
    assert "Exchange" not in plan, plan


def test_parity_upsample_no_corpus_shuffle():
    plan = plan_of("corpus_mix_parity")
    # only the per-stratum count aggregates shuffle (tiny); the corpus
    # side joins the broadcast rates and explodes map-side
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_prepare_corpus_survivor_join_not_forced_broadcast():
    """The exact-dedup survivor id set is corpus-cardinality: the
    left-semi join against it must NOT carry a broadcast hint, and the
    survivor stage must stay a partial-aggregating groupBy + semi join
    (NOT a window over the fingerprint partition, which would ship a
    mega-duplicate fingerprint's full rows to one task — r6 review)."""
    plan = plan_of("prepare_corpus",
                   conf={"spark.sql.autoBroadcastJoinThreshold": "-1"})
    assert "LeftSemi" in plan, plan
    for line in plan.splitlines():
        if "LeftSemi" in line:
            assert "Broadcast" not in line, plan



def test_zorder_stats_no_global_window():
    """The z-order layout cut must be the two-phase range rank: no
    un-partitioned window (Exchange SinglePartition) and no ntile — a
    global-order funnel dies at 100 TB."""
    plan = plan_of("zorder_layout_stats")
    assert "SinglePartition" not in plan, plan
    assert "ntile" not in plan, plan


def test_param_sweep_single_backtest():
    # the sweep must run ONE backtest DAG (1 scan) with the param dim
    # joined in — not K pipelines and not a self-join re-computation
    plan = plan_of("backtest_param_sweep")
    assert plan.count("Scan parquet") == 1, plan
    assert "SortMergeJoin" not in plan, plan


def test_bigram_no_join():
    """Bigram pairs come from zipping the token array with its own shift —
    a self-join here would be a plan regression."""
    plan = plan_of("bigram_next_token")
    assert "Join" not in plan, plan


def test_feature_hashing_single_shuffle():
    plan = plan_of("feature_hashing_16")
    assert plan.count("Exchange") <= 1, plan


def test_sliding_window_single_shuffle():
    """The overlapping-window assignment is a map-side Expand; only the
    final aggregate shuffles."""
    plan = plan_of("sliding_window_counts")
    assert "Expand" in plan, plan
    assert plan.count("Exchange") <= 1, plan


def test_centroid_outliers_broadcasts_centroids():
    """The per-group centroid table is group-cardinality: it must join
    back by broadcast, never shuffle the embedding corpus for it."""
    plan = plan_of("embedding_centroid_outliers")
    assert "BroadcastHashJoin" in plan, plan


def test_ppjoin_no_cartesian():
    plan = plan_of("ppjoin_jaccard_pairs")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_surprisal_token_join_not_forced_broadcast():
    """The unigram frequency table is vocabulary-cardinality (unbounded at
    corpus scale): the token join must carry NO broadcast hint — with the
    threshold disabled it must plan as a shuffle join."""
    from moonshot_spark.session import get_spark
    spark = get_spark("plan_tests")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = QUERIES["token_surprisal_stats"](spark, SF)._jdf \
            .queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "BroadcastHashJoin" not in plan, plan


def test_item_cooccurrence_single_fact_scan_per_side():
    """Both co-occurrence guards are window counts over ONE deduped
    lineage — never groupBy+join-back, which would re-scan lineitem once
    per guard.  Only the self-join's two (identical) sides may scan."""
    plan = plan_of("item_cooccurrence")
    assert plan.count("Scan parquet") <= 2, plan
    # the trailing per-item frequency joins are gone: cnt rides the join
    assert plan.count("SortMergeJoin") + plan.count("BroadcastHashJoin") \
        + plan.count("ShuffledHashJoin") == 1, plan


def test_missing_dates_report_no_self_join():
    """The completeness report is two chained aggregations on one
    lineage; a join here would recompute the whole spine build twice."""
    plan = plan_of("missing_dates_report")
    assert "SortMergeJoin" not in plan, plan
    assert "ShuffledHashJoin" not in plan, plan


def test_purged_kfold_broadcasts_date_spine():
    """The fold×date cross join must be broadcast — both sides are the
    reduced date dim, never the fact table."""
    plan = plan_of("purged_kfold_splits")
    assert "BroadcastNestedLoopJoin" in plan, plan


def test_pagerank_no_cartesian_no_python():
    """PageRank iterations are pure hash joins/aggregations: no
    cartesian products, no Python workers in the loop."""
    plan = plan_of("pagerank_copurchase")
    assert "CartesianProduct" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_walkforward_broadcasts_fold_bounds():
    """The fold-bounds dim (5 rows) must broadcast over the returns
    frame; a shuffled join here would re-partition the fact side per
    fold."""
    plan = plan_of("walkforward_ar1_cv")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, \
        plan


def test_intraday_volume_curve_is_two_aggregates():
    """The curve is chained integer aggregates + one broadcast of a
    1-row grand total: no window, no sort of the fact table."""
    plan = plan_of("intraday_volume_curve")
    assert "Window" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan


def test_cross_source_dup_dedups_before_join():
    """The per-(source, fingerprint) distinct must sit below the
    self-join on both sides (bounds the per-key fanout)."""
    plan = plan_of("cross_source_duplication")
    assert plan.count("HashAggregate") >= 2, plan
    assert "CartesianProduct" not in plan, plan


def test_rfm_has_no_unpartitioned_window():
    """RFM quartiles must use the two-phase exact rank — any
    SinglePartition window over the customer dim is the 100 TB
    scale-killer this pin guards against."""
    plan = plan_of("customer_rfm_segments")
    assert "SinglePartition" not in plan, plan


def test_q6_is_pure_scan_filter_agg():
    """Q6's plan must be scan (with pushed filters) -> project ->
    aggregate: no joins, no exchanges beyond the final 1-row agg."""
    plan = plan_of("q6_forecast_revenue")
    assert "Join" not in plan, plan
    assert "PushedFilters" in plan and "l_shipdate" in plan, plan


def test_q22_anti_join_shape():
    plan = plan_of("q22_global_sales_opportunity")
    assert "LeftAnti" in plan or "left_anti" in plan.lower(), plan
    assert "CartesianProduct" not in plan, plan


def test_fourth_wave_no_cartesian_or_global_scan_joins():
    """The fourth-wave ops must keep their documented join shapes: no
    CartesianProduct anywhere; the only BroadcastNestedLoopJoin allowed
    is against a provably-1-row side (scalar cross joins)."""
    for name in ("semdedup_prune", "dedup_canonical_selection",
                 "pareto_skyline_parts", "bm25_top_terms",
                 "market_model_rolling_beta", "fama_macbeth_momentum",
                 "var_exceedance_backtest", "kelly_sizing_weights",
                 "minhash_estimate_accuracy",
                 # round-8 wave: only single-row (budget) or broadcast-
                 # query-set BNLJ sides allowed, never a cartesian
                 "rrf_hybrid_topk", "lsh_recall_report",
                 "token_budget_waterfill", "dedup_clusters_incremental",
                 "minhash_incremental_pairs", "dedup_exact_incremental",
                 "corpus_datasheet",
                 # round-9 wave: broadcast cells/queries/1-row-count BNLJ
                 # sides only, never a cartesian
                 "exact_substr_incremental", "ivf_recall_report",
                 "mean_variance_weights_by_book", "ppjoin_incremental_pairs"):
        plan = plan_of(name)
        assert "CartesianProduct" not in plan, name


def test_bm25_prunes_document_columns():
    """BM25 reads only (doc_id, text) from documents — lang/source/
    n_chars must be pruned out of the parquet scan."""
    plan = plan_of("bm25_top_terms")
    scan = plan.split("ReadSchema")[-1].split("\n")[0]
    assert "n_chars" not in scan and "lang" not in scan, scan


def test_ta_queries_single_sid_shuffle_after_panel():
    """The fold-exact TA catalog queries share the panel agg exchange
    plus at most one sid exchange for the whole window stack."""
    for name in ("ta_bollinger_rsi", "ta_macd_stoch_obv"):
        plan = plan_of(name)
        assert plan.count("Exchange hashpartitioning") <= 2, (name, plan)


def test_q1_single_shuffle_partial_agg():
    """TPC-H Q1: one exchange (the 6-key groupBy), partial agg before it,
    filter pushed to the scan."""
    plan = plan_of("q1_pricing_summary")
    # exactly one shuffle exchange for the agg (plus sort for ORDER BY)
    assert plan.count("Exchange hashpartitioning") <= 1, plan
    assert "partial" in plan.lower(), plan
    assert "PushedFilters" in plan and "l_shipdate" in plan.split(
        "PushedFilters")[1][:200], plan


def test_q9_broadcasts_dims():
    """TPC-H Q9 shape: part/supplier/nation broadcast; no cartesian."""
    plan = plan_of("q9_product_profit")
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "CartesianProduct" not in plan, plan


def test_q21_no_cartesian_single_lineage():
    """Q21's EXISTS/NOT EXISTS pair is rewritten to per-order aggregates:
    every join equi-keyed, supplier broadcast, no cartesian product or
    nested-loop join anywhere."""
    plan = plan_of("q21_waiting_suppliers")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_catalog_wide_no_unbounded_single_partition_funnels():
    """Sweep EVERY catalog query's physical plan: a Sort/Window consuming
    an Exchange SinglePartition is only allowed for the queries where the
    funneled frame is provably bounded (per-date series, fold vocabularies,
    post-agg top-k) — listed below with their bound.  A new query that
    funnels row-level data through one task fails here."""
    from moonshot_spark.session import get_spark

    # query -> why the single-partition input is bounded
    ALLOWED = {
        "benchmark_returns": "one row per date (benchmark series)",
        "kaplan_meier_retention": "distinct gap lengths",
        "model_filter_report": "post-agg score-bucket grid (bounded by "
                               "the fixed weight range, ~tens of rows)",
        "pairs_spread_zscore": "one pair's date series",
        "purged_kfold_splits": "fold boundaries (dates)",
        "salted_heavy_hitters": "post-agg top-k candidates",
        "session_path_trigrams": "event-type^3 path vocabulary",
        "sid_liquidity_screen": "one row per sid",
        "token_budget_waterfill": "one row per language (domain dim)",
        "ivf_recall_report": "one row per IVF cell (nprobe spine)",
        "ivf_cell_stats": "one row per IVF cell (codebook-bounded "
                          "share window)",
        "universe_churn_weekly": "one row per week",
        "walkforward_ar1_cv": "fold grid",
    }
    from moonshot_spark.plans.audit import (
        executed_plan, single_partition_funnels)

    spark = get_spark("plan_audit")
    offenders = {}
    for name, fn in QUERIES.items():
        funnels = single_partition_funnels(executed_plan(fn(spark, SF)))
        if funnels and name not in ALLOWED:
            offenders[name] = funnels
    assert not offenders, offenders


def test_grouped_topk_queries_carry_two_phase_prune():
    """Catalog queries on per-group top-k must keep the __tp_pid
    phase-1 prune (grouped_topk) — a revert to the naive per-group
    window is the 100 TB straggler the r7 judge flagged."""
    for name in ("cap_per_lang", "weighted_sample_es", "ann_cosine_topk",
                 "hard_negative_mining"):
        plan = plan_of(name)
        assert "__tp_pid" in plan, name


def test_centroid_outlier_queries_use_grouped_exact_rank():
    """Full per-group ranking queries must carry the grouped_exact_rank
    cell machinery instead of a group-sized window task."""
    plan = plan_of("embedding_centroid_outliers")
    assert "__gr_pid" in plan, plan[:2000]


def test_kmeans_assign_udf_evaluates_once():
    """_assign_struct projects cluster and dist2 from TWO getItem
    references to the same Arrow kernel; Catalyst must collapse them
    into ONE ArrowEvalPython evaluation or the kernel runs twice per
    row (ADVICE r9).  Pin single evaluation at the plan level."""
    import re

    from moonshot_spark.datapipe.clustering import _assign_struct
    from moonshot_spark.session import get_spark

    spark = get_spark("plan_tests")
    df = spark.createDataFrame([([1, 2],)], "q array<bigint>")
    s = _assign_struct(F.col("q"), [[0, 0], [5, 5]])
    plan = (df.select(s["cluster"].alias("c"), s["dist2"].alias("d"))
            ._jdf.queryExecution().executedPlan().toString())
    nodes = re.findall(r"ArrowEvalPython \[[^\]]*\]", plan)
    assert len(nodes) == 1, plan[:2000]
    assert nodes[0].count("assign(") == 1, nodes[0]


def test_cointegration_pair_join_never_broadcasts():
    """The pair self-join's sides are panel-scale and the SAME size; at
    mid scales the compressed side slips under the 64 MB broadcast
    threshold and AQE would build a multi-million-row broadcast relation
    in ONE task (r12: a 26 s single-task stage at 50x).  The merge hint
    must pin a parallel shuffle join at every scale — including here at
    tiny SF, where the plan is most tempted to broadcast."""
    plan = plan_of("cointegration_screen")
    assert "SortMergeJoin" in plan, plan
    # the only broadcasts allowed are the tiny lvl2 (sid->bucket/shard)
    # dim, which appears once per side of the pair join
    assert plan.count("BroadcastHashJoin") <= 2, plan
