"""Transparent-reuse pins for the session-scoped edge-relation caches.

Round 8 extended the co-supplier memo discipline (plans/corpus_quality)
to the remaining graph-wave edge relations: the part-supplier bipartite
graph (pagerank), the sparsified word graph (textrank), and the
customer→supplier bipartite graph (HITS). Caching must be semantically
invisible — these tests pin that the cached and cold paths return
row-identical results, that the memo actually reuses (same persisted
DataFrame object within a session), and that clear_caches evicts.
"""

from __future__ import annotations

import pytest

from etl_pipeline_spark.plans.registry import REGISTRY, _ensure_loaded
from etl_pipeline_spark.utils.session_cache import clear_caches
from tests.conftest import assert_memo_round_trip

_ensure_loaded()

SF_DIR = "/root/testdata/sf0.001"

_CACHED_EDGE_QUERIES = (
    "pagerank_part_supplier",
    "textrank_keywords",
    "hits_hub_authority",
    "bfs_hops_from_hub",  # co-supplier cache (pre-existing), same contract
    # r11 wave 7: the memoized LPA label relation shared by both consumers
    "lpa_cosupplier_communities",
    "modularity_cosupplier",
    # r11 wave 8: the memoized near-dup cluster relation (CC over the
    # jaccard pair memo) shared by assign + canonical-pick
    "dedup_cluster_assign",
    "dedup_canonical_pick",
    # r11 wave 10: the memoized banded-LSH candidate relation shared by
    # the near-dup pipeline and its recall eval
    "dedup_minhash_lsh",
    "dedup_lsh_recall_eval",
)


def _rows(spark, name):
    df = REGISTRY[name].spark_fn(spark, SF_DIR)
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("name", _CACHED_EDGE_QUERIES)
def test_cached_equals_cold(spark, name):
    clear_caches(spark)
    cold = _rows(spark, name)  # fills the cache
    warm = _rows(spark, name)  # served from the persisted relation
    clear_caches(spark)
    recold = _rows(spark, name)  # rebuilt from scratch
    assert cold == warm == recold


def test_pagerank_does_not_evict_caller_cached_edges(spark):
    """operators/graph.py::pagerank projects its input to (src, dst); when
    the input already HAS those names the projection is plan-identical to
    the input, and Spark's unpersist matches cached entries by sameResult
    — so pagerank's internal cleanup used to silently evict the caller's
    memoized edge relation. Pin the fix: a pre-persisted input stays
    cached after pagerank returns."""
    from pyspark.sql import functions as F

    from etl_pipeline_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (1, 3)], "src bigint, dst bigint"
    ).persist()
    edges.count()
    pagerank(edges, n_iter=2).collect()
    assert edges.storageLevel.useMemory, "pagerank evicted the caller's cache"
    edges.unpersist()
    # and an unpersisted input still gets (and releases) the internal persist
    cold = spark.createDataFrame([(1, 2), (2, 1)], "src bigint, dst bigint")
    pagerank(cold, n_iter=2).collect()
    assert not cold.storageLevel.useMemory


def test_memo_returns_same_persisted_relation(spark):
    from etl_pipeline_spark.plans.features import _hits_edges
    from etl_pipeline_spark.plans.text_pipeline import _part_supplier_edges

    for name, builder in (
        ("hits_hub_authority", _hits_edges),
        ("pagerank_part_supplier", _part_supplier_edges),
    ):
        clear_caches(spark)
        _rows(spark, name)
        rel = builder(spark, SF_DIR)
        # a second execution must hit the same entry, not re-insert
        _rows(spark, name)
        assert builder(spark, SF_DIR) is rel
        assert_memo_round_trip(spark, builder, SF_DIR)
