"""moonshot_spark.materialize: the one place the library persists or
checkpoints a frame, and the scope that releases a query's blocks."""
import ast
import pathlib

import pytest
from pyspark.storagelevel import StorageLevel

from moonshot_spark import materialize
from moonshot_spark.queries import QUERIES
from tests.conftest import SF_DIR

REPO = pathlib.Path(__file__).resolve().parent.parent

# every catalog query that persists or checkpoints on build + count()
MATERIALIZING = [
    "bpe_encode_report", "bpe_phrase_merges", "classifier_calibration",
    "cointegration_screen", "continuous_contract_stitch",
    "corpus_shuffle_epoch", "customer_rfm_segments",
    "dedup_canonical_selection", "dedup_clusters",
    "dedup_clusters_incremental", "dedup_corpus_minhash",
    "embedding_centroid_outliers", "embedding_pc1_outliers",
    "embedding_pca_power", "ivf_topk_contract", "jaccard_verified_pairs",
    "kmeans_embedding_clusters", "label_propagation_communities",
    "logreg_quality_train", "lsh_recall_report",
    "lsh_recall_report_sampled", "minhash_estimate_accuracy",
    "minhash_lsh_pairs", "pagerank_copurchase", "portfolio_var_es",
    "ppjoin_incremental_pairs", "ppjoin_jaccard_pairs",
    "price_path_similarity", "streaming_dollar_bars", "triangle_count",
]
# these train inside their own scope, so nothing is left for the
# caller's scope to release
SELF_RELEASING = {
    "bpe_encode_report", "bpe_phrase_merges", "classifier_calibration",
    "logreg_quality_train", "embedding_pc1_outliers", "embedding_pca_power",
}


def _state(spark):
    """(CacheManager empty?, ids of the persistent RDDs)."""
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    return (cache_manager.isEmpty(),
            set(spark.sparkContext._jsc.getPersistentRDDs().keys()))


def _rdd_id(checkpointed):
    return checkpointed._jdf.logicalPlan().rdd().id()


def test_scope_releases_persisted_and_checkpointed_frames(spark):
    spark.catalog.clearCache()
    before = _state(spark)
    with materialize.scope():
        persisted = materialize.persist(
            spark.range(100).selectExpr("id * 2 AS x"))
        checkpointed = materialize.checkpoint(
            spark.range(30).selectExpr("id - 1 AS z"))
        assert persisted.count() + checkpointed.count() == 130
        ckpt_ids = {_rdd_id(checkpointed)}
        assert ckpt_ids <= _state(spark)[1]

        with materialize.scope():
            inner = materialize.persist(spark.range(10).selectExpr("id AS i"))
            inner_ckpt = materialize.checkpoint(
                spark.range(5).selectExpr("id AS j"))
            assert inner.count() + inner_ckpt.count() == 15
        # the nested exit released its own frames only
        assert inner.storageLevel == StorageLevel.NONE
        assert _rdd_id(inner_ckpt) not in _state(spark)[1]
        assert persisted.storageLevel != StorageLevel.NONE
        assert ckpt_ids <= _state(spark)[1]

    assert _state(spark) == before == (True, before[1])
    assert not ckpt_ids & before[1]


def test_scope_spares_frames_cached_outside_it(spark):
    outside = spark.range(40).selectExpr("id * 3 AS w").cache()
    assert outside.count() == 40
    kept = _state(spark)
    with materialize.scope():
        assert materialize.persist(
            spark.range(7).selectExpr("id AS y")).count() == 7
    assert outside.storageLevel != StorageLevel.NONE
    assert _state(spark) == kept
    outside.unpersist()


def test_drop_releases_a_frame_before_the_scope_exits(spark):
    with materialize.scope():
        df = materialize.persist(spark.range(9).selectExpr("id AS d"))
        assert df.count() == 9
        materialize.drop(df)
        assert df.storageLevel == StorageLevel.NONE


@pytest.mark.parametrize("name", MATERIALIZING)
def test_query_blocks_are_released_when_its_scope_exits(spark, name):
    spark.catalog.clearCache()
    before = _state(spark)
    with materialize.scope():
        QUERIES[name](spark, SF_DIR).count()
        if name not in SELF_RELEASING:
            assert _state(spark) != before, f"{name} materialized nothing"
    assert _state(spark) == before


STORAGE_CALLS = {"persist", "cache", "localCheckpoint", "unpersist"}


def test_only_materialize_calls_spark_storage_methods():
    offenders = []
    pkg = REPO / "moonshot_spark"
    for path in sorted(pkg.rglob("*.py")):
        if path == pkg / "materialize.py":
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in STORAGE_CALLS
                    and not (isinstance(node.func.value, ast.Name)
                             and node.func.value.id == "materialize")):
                offenders.append(f"{path.relative_to(REPO)}:{node.lineno}")
    assert not offenders, offenders
    # the harnesses release through materialize.scope(), never by
    # sweeping the whole session
    for path in [REPO / "bench.py", *sorted((REPO / "tools").glob("*.py"))]:
        text = path.read_text()
        assert "getPersistentRDDs" not in text, path
        assert "clearCache" not in text, path
