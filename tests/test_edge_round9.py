"""Round-9 hardening pins: the explicit pagerank caller_cached contract,
the AQE cached-plan-width guard, and Decimal-rounding totality over
extreme doubles (round-8 advisor items).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_pipeline_spark.utils.session_cache import clear_caches


def test_round6_total_over_extreme_doubles(spark):
    """Decimal(repr(x)).quantize(1e-6) under the DEFAULT 28-digit context
    raises InvalidOperation for |x| >= ~1e22; the widened local context
    makes similarity._round6 total over all finite doubles, still agreeing
    with Spark's F.round (advisor round-8, croston/_r6 shares the fix)."""
    from etl_pipeline_spark.operators.similarity import _round6

    vals = [1e22, -1e22, 1.23456789e25, 1e300, -1e300, 1e-300, 0.0, -0.0]
    df = spark.createDataFrame([(v,) for v in vals], "x double").select(
        "x", F.round("x", 6).alias("r")
    )
    for row in df.collect():
        assert _round6(row.x) == row.r, row.x


def test_pagerank_explicit_caller_cached(spark):
    """The memoizing callers now pass caller_cached=True explicitly instead
    of relying on pagerank sniffing e.storageLevel through an alias-only
    Project (version-sensitive Spark internals). Pin the contract: the
    explicit flag preserves the caller's cache entry, skips the internal
    persist, and is result-identical to the inferred path."""
    from etl_pipeline_spark.operators.graph import pagerank

    rows = [(1, 2), (2, 3), (3, 1), (1, 3), (4, 1)]
    edges = spark.createDataFrame(rows, "src bigint, dst bigint").persist()
    edges.count()
    explicit = sorted(tuple(r) for r in pagerank(edges, n_iter=3, caller_cached=True).collect())
    inferred = sorted(tuple(r) for r in pagerank(edges, n_iter=3).collect())
    assert explicit == inferred
    assert edges.storageLevel.useMemory, "explicit caller_cached=True evicted the cache"
    edges.unpersist()
    # explicit True on an UNCACHED input is the caller's promise — pagerank
    # must not persist it, and the result is still correct
    cold = spark.createDataFrame(rows, "src bigint, dst bigint")
    uncached = sorted(tuple(r) for r in pagerank(cold, n_iter=3, caller_cached=True).collect())
    assert uncached == explicit
    assert not (cold.storageLevel.useMemory or cold.storageLevel.useDisk)


def test_cached_edge_relation_stores_at_aqe_width(spark):
    """Guard the canChangeCachedPlanOutputPartitioning win (round 8,
    measured 1.3x on the HITS rounds): under the repo session a memoized
    edge relation whose build ends in a shuffle must STORE at the
    AQE-coalesced width, not the raw spark.sql.shuffle.partitions width —
    a silent conf regression would resurface 20 rounds x near-empty tasks
    before the bench ever notices."""
    assert (
        spark.conf.get("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning")
        == "true"
    )
    from etl_pipeline_spark.plans.corpus_quality import cosupplier_edges

    clear_caches(spark)
    edges = cosupplier_edges(spark, "/root/testdata/sf0.001")
    edges.count()  # materialize the persisted blocks
    raw = int(spark.conf.get("spark.sql.shuffle.partitions"))
    stored = edges.rdd.getNumPartitions()
    assert stored < raw, (
        f"cached edge relation stored at the raw shuffle width ({stored} >= {raw}); "
        "AQE cached-plan coalescing is not taking effect"
    )
    clear_caches(spark)
