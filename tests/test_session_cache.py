"""Lifecycle of the session-scoped memo caches: stable keying + eviction
that actually unpersists what the memos pinned."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_pipeline_spark.plans.registry import REGISTRY
from etl_pipeline_spark.utils.session_cache import (
    clear_caches,
    register_cache,
    session_key,
)
from tests.conftest import SF_DIR


def test_session_key_is_application_id(spark):
    # the applicationId (never reused by a later context in the same
    # process, unlike id(spark)) plus the session UUID, which tells apart
    # the sessions of one context
    key = session_key(spark)
    assert key == f"{spark.sparkContext.applicationId}/{spark._jsparkSession.sessionUUID()}"
    assert session_key(spark) == key
    other = spark.newSession()
    assert session_key(other).startswith(f"{spark.sparkContext.applicationId}/")
    assert session_key(other) != key


def test_sql_query_runs_in_a_new_session_of_the_same_context(spark):
    """Each session has its own temp views, so a memo entry made in one
    session must not let a query in another skip its view registration."""
    fn = REGISTRY["sql_keep_first_per_key"].spark_fn
    want = sorted(fn(spark, SF_DIR).collect())
    assert want
    assert sorted(fn(spark.newSession(), SF_DIR).collect()) == want


def test_clear_caches_unpersists_and_evicts(spark):
    cache = register_cache({})
    df = spark.range(100).withColumn("x", F.col("id") * 2).persist()
    df.count()
    cache[(session_key(spark), "unit")] = df
    assert df.storageLevel.useMemory
    dropped = clear_caches(spark)
    assert dropped >= 1
    assert cache == {}
    assert not df.storageLevel.useMemory


def test_clear_caches_handles_tuple_values_and_other_sessions(spark):
    cache = register_cache({})
    df = spark.range(10).persist()
    df.count()
    cache[(session_key(spark), "tup")] = (object(), df, 42)
    cache[("some-other-app-id", "foreign")] = ("not", "touched")
    clear_caches(spark)
    assert not df.storageLevel.useMemory
    assert list(cache) == [("some-other-app-id", "foreign")]
    clear_caches()  # None → everything
    assert cache == {}


def test_shingle_and_edge_caches_round_trip(spark):
    """The real memo sites key on session_key and survive a clear."""
    from etl_pipeline_spark.plans.corpus_quality import (
        _EDGE_CACHE,
        cosupplier_edges,
    )
    from etl_pipeline_spark.plans.llm import _SHINGLE_CACHE, _doc_shingles

    sh = _doc_shingles(spark, SF_DIR)
    ed = cosupplier_edges(spark, SF_DIR)
    sh.count(), ed.count()
    assert (session_key(spark), SF_DIR) in _SHINGLE_CACHE
    assert (session_key(spark), SF_DIR) in _EDGE_CACHE
    clear_caches(spark)
    assert (session_key(spark), SF_DIR) not in _SHINGLE_CACHE
    assert (session_key(spark), SF_DIR) not in _EDGE_CACHE
    assert not sh.storageLevel.useMemory and not ed.storageLevel.useMemory
    # rebuild works after eviction
    assert _doc_shingles(spark, SF_DIR).count() == sh.count()


def test_token_and_bigram_caches_participate_in_lifecycle(spark):
    from etl_pipeline_spark.plans.text_analytics import (
        _BIGRAM_CACHE,
        _TOKEN_CACHE,
        _doc_bigrams,
        _doc_terms,
    )

    tk = _doc_terms(spark, SF_DIR)
    bg = _doc_bigrams(spark, SF_DIR)
    tk.count(), bg.count()
    key = (session_key(spark), SF_DIR)
    assert key in _TOKEN_CACHE and key in _BIGRAM_CACHE
    clear_caches(spark)
    assert key not in _TOKEN_CACHE and key not in _BIGRAM_CACHE
    assert not tk.storageLevel.useMemory and not bg.storageLevel.useMemory
