"""Lifecycle of the session-scoped memo caches: stable keying, the one
``session_memo`` path every memo goes through, the lock and the
session LRU cap of ``memoized_relation``, and eviction that actually
unpersists what the memos pinned."""

from __future__ import annotations

import ast
import threading
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from etl_pipeline_spark.plans.registry import REGISTRY, _ensure_loaded
from etl_pipeline_spark.utils import session_cache as sc
from etl_pipeline_spark.utils.session_cache import (
    clear_caches,
    memoized_relation,
    register_cache,
    session_key,
)
from tests.conftest import SF_DIR, assert_memo_round_trip

_ensure_loaded()

PKG = Path(__file__).resolve().parent.parent / "etl_pipeline_spark"

_MEMO_PRIMITIVES = {"register_cache", "memoized_relation", "session_key"}

# the modules that may key a memo by hand: the memo layer itself, and the
# ANN index memo, whose values mix driver-side quantizer lists with a
# DataFrame (memoized_relation persists and compares one DataFrame)
_ALLOW_MEMO_PRIMITIVES = {"utils/session_cache.py", "operators/similarity.py"}


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
    """The real memo sites persist once per session and survive a clear."""
    from etl_pipeline_spark.plans.corpus_quality import cosupplier_edges
    from etl_pipeline_spark.plans.llm import _doc_shingles

    assert_memo_round_trip(spark, _doc_shingles, SF_DIR)
    assert_memo_round_trip(spark, cosupplier_edges, SF_DIR)


def test_token_and_bigram_caches_participate_in_lifecycle(spark):
    from etl_pipeline_spark.plans.text_analytics import _doc_bigrams, _doc_terms

    assert_memo_round_trip(spark, _doc_terms, SF_DIR)
    assert_memo_round_trip(spark, _doc_bigrams, SF_DIR)


def test_memo_key_binds_defaults(spark):
    """The key is the bound arguments with defaults applied, so spelling
    out the default threshold hits the same entry."""
    from etl_pipeline_spark.plans.llm import _jaccard_pairs

    clear_caches(spark)
    rel = _jaccard_pairs(spark, SF_DIR)
    assert _jaccard_pairs(spark, SF_DIR, 0.5) is rel
    assert _jaccard_pairs(spark, sf_dir=SF_DIR, threshold=0.5) is rel
    assert _jaccard_pairs(spark, SF_DIR, 0.6) is not rel
    clear_caches(spark)


def test_session_memo_obeys_app_lru_cap(spark, monkeypatch):
    """A decorated builder goes through memoized_relation, so its entries
    count against the session LRU cap: only the newest _MAX_APPS
    sessions keep entries."""
    from etl_pipeline_spark.plans.text_analytics import _doc_terms

    clear_caches()
    current = {"app": ""}
    monkeypatch.setattr(sc, "session_key", lambda s: current["app"])
    monkeypatch.setattr(sc, "_APP_LRU", {})
    n_apps = sc._MAX_APPS + 3
    for i in range(n_apps):
        current["app"] = f"fake-session-{i}"
        _doc_terms(spark, SF_DIR)
    kept = {f"fake-session-{i}" for i in range(n_apps - sc._MAX_APPS, n_apps)}
    assert set(sc._APP_LRU) == kept
    assert {key[0] for cache in sc._CACHES for key in cache} == kept
    clear_caches()


def test_memoized_relation_concurrent_single_winner(spark):
    """Two threads racing the same memo key must settle on ONE cache entry,
    and — because a pure build() makes the racers plan-identical, so the
    CacheManager dedupes both persist() calls into one entry — the losing
    thread must NOT unpersist (that would evict the winner's storage, the
    same sameResult hazard pagerank had). The winner stays persisted."""
    cache = register_cache({})
    built: list = []
    barrier = threading.Barrier(2)
    results: list = []

    def build():
        df = spark.range(50).withColumn("y", F.col("id") + 1)
        built.append(df)
        return df

    def worker():
        barrier.wait()
        results.append(memoized_relation(cache, spark, ("race",), build))

    threads = [threading.Thread(target=worker) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()

    assert len(results) == 2 and results[0] is results[1]
    key = (session_key(spark), "race")
    assert list(cache) == [key]
    winner = cache[key]
    assert winner.storageLevel.useMemory or winner.storageLevel.useDisk
    clear_caches(spark)
    assert cache == {}
    assert not (winner.storageLevel.useMemory or winner.storageLevel.useDisk)


def test_memoized_relation_race_distinct_plan_loser_is_released(spark):
    """The impure-build escape hatch: when a racing loser's plan is
    genuinely distinct (no CacheManager dedup), its persisted entry is a
    real leak and memoized_relation releases it."""
    cache = register_cache({})
    key = (session_key(spark), "race-distinct")
    winner_holder: list = []
    loser_holder: list = []

    def build():
        # simulate the other thread winning WHILE this build runs (after
        # the initial cache miss, before the setdefault)
        w = spark.range(7).persist()
        w.count()
        cache[key] = w
        winner_holder.append(w)
        df = spark.range(8)  # DIFFERENT plan from the winner
        loser_holder.append(df)
        return df

    got = memoized_relation(cache, spark, ("race-distinct",), build)
    (winner,) = winner_holder
    assert got is winner
    (loser,) = loser_holder
    assert not (loser.storageLevel.useMemory or loser.storageLevel.useDisk)
    assert winner.storageLevel.useMemory  # untouched
    clear_caches(spark)


def test_pipeline_run_clears_session_memos(spark, tmp_path):
    """Pipeline.run teardown contract: on exit it releases every
    relation the run's session memoized, so a long-lived service embedding
    the package gets bounded executor storage without calling
    clear_caches itself."""
    from etl_pipeline_spark.pipeline import Pipeline, PipelineConfig

    cache = register_cache({})
    rel = memoized_relation(
        cache, spark, ("pipeline-teardown",), lambda: spark.range(10).withColumn("z", F.lit(1))
    )
    rel.count()
    key = (session_key(spark), "pipeline-teardown")
    assert key in cache
    cfg = PipelineConfig(landing_dir=str(tmp_path / "landing"), production_db="prod_teardown")
    try:
        Pipeline(spark, cfg).run([])  # no sources — teardown still runs
    finally:
        spark.sql("DROP DATABASE IF EXISTS prod_teardown CASCADE")
    assert key not in cache
    assert not (rel.storageLevel.useMemory or rel.storageLevel.useDisk)


def test_pipeline_run_clears_memos_even_on_error(spark, tmp_path):
    """The teardown is a finally: a run that dies outside the per-source
    containment still releases the session memos."""
    from etl_pipeline_spark.pipeline import Pipeline, PipelineConfig

    cache = register_cache({})
    rel = memoized_relation(
        cache, spark, ("pipeline-teardown-err",), lambda: spark.range(5)
    )
    rel.count()
    key = (session_key(spark), "pipeline-teardown-err")
    cfg = PipelineConfig(landing_dir=str(tmp_path / "landing"), production_db="prod_teardown_e")
    pipe = Pipeline(spark, cfg)
    try:
        with pytest.raises(TypeError):
            pipe.run(None)  # not iterable — raises inside _run_sources
    finally:
        spark.sql("DROP DATABASE IF EXISTS prod_teardown_e CASCADE")
    assert key not in cache
    assert not (rel.storageLevel.useMemory or rel.storageLevel.useDisk)


def test_app_lru_cap_evicts_stalest_application(spark, monkeypatch):
    """A process that drives plan functions across many sessions and
    never constructs Pipeline must not grow the memo registry without
    bound: entries of the least-recently-used session beyond _MAX_APPS
    are evicted, and a pure build() makes evicting a live session
    correctness-neutral (its next touch rebuilds)."""
    cache = sc.register_cache({})
    current = {"app": ""}
    monkeypatch.setattr(sc, "session_key", lambda s: current["app"])
    monkeypatch.setattr(sc, "_APP_LRU", {})
    n_apps = sc._MAX_APPS + 3
    for i in range(n_apps):
        current["app"] = f"fake-app-{i}"
        sc.memoized_relation(
            cache, spark, ("edge",),
            lambda: spark.range(5).withColumn("y", F.col("id") * 2),
        )
    kept = {f"fake-app-{i}" for i in range(n_apps - sc._MAX_APPS, n_apps)}
    assert set(sc._APP_LRU) == kept
    assert {k[0] for k in cache} == kept
    # touching an old (evicted) app again just rebuilds — pure build()
    current["app"] = "fake-app-0"
    got = sc.memoized_relation(
        cache, spark, ("edge",),
        lambda: spark.range(5).withColumn("y", F.col("id") * 2),
    )
    assert got.count() == 5
    sc.clear_caches()
    assert not cache and not sc._APP_LRU


def _memo_primitive_uses(tree: ast.Module) -> list[tuple[int, str]]:
    uses = []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom):
            uses += [(node.lineno, a.name) for a in node.names if a.name in _MEMO_PRIMITIVES]
        elif isinstance(node, ast.Call):
            f = node.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            if name in _MEMO_PRIMITIVES:
                uses.append((node.lineno, name))
    return uses


def test_memos_go_through_session_memo_only():
    """Every memo outside the allowlist is a ``@session_memo`` builder:
    no module keys a cache by hand, so no key can leave an argument out
    and no memo skips the lock, the session LRU cap or a tracer's
    counters."""
    offenders, allowed_users = [], set()
    for py in sorted(PKG.rglob("*.py")):
        rel = py.relative_to(PKG).as_posix()
        uses = _memo_primitive_uses(ast.parse(py.read_text(), filename=rel))
        if rel in _ALLOW_MEMO_PRIMITIVES:
            if uses:
                allowed_users.add(rel)
        else:
            offenders += [f"{rel}:{line} {name}" for line, name in uses]
    assert not offenders, (
        "memo keyed by hand — decorate the builder with "
        "utils/session_cache.py::session_memo instead:\n" + "\n".join(offenders)
    )
    # an allowlist entry that no longer uses the primitives must go
    assert allowed_users == _ALLOW_MEMO_PRIMITIVES
