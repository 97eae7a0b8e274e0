"""Session-scoped memo caches for persisted relations, with a lifecycle.

Several plan modules share a written-once relation across queries per
(session, dataset) — the shingle table (plans/llm.py), the co-supplier
edge set (plans/corpus_quality.py), the partsupp proxy
(plans/tpch_extended.py). The memo is the honest production shape (an
index is built once and queried many times), but it needs disciplines
this module centralizes, so ``session_memo`` is the one way to memoize:

- **One decorator**: ``@session_memo`` over a builder
  ``build(spark, *args)`` owns the builder's cache dict and keys each
  entry by the builder's arguments after ``spark``, bound with their
  defaults applied — the key cannot leave an argument out, and
  ``f(spark, d)`` and ``f(spark, d, 0.5)`` share one entry when 0.5 is the
  default. Every call goes through ``memoized_relation`` (its lock, the
  session LRU cap below, and the counters a benchmark trace wraps around
  it). The one cache dict outside it is ``operators/similarity.py``'s
  ``_INDEX_MEMO``: its values mix driver-side quantizer lists with a
  DataFrame, which ``memoized_relation``'s persist-and-compare does not
  fit.
- **Keying**: ``session_key`` is ``"<applicationId>/<sessionUUID>"`` — a
  stable identity of one SparkSession. Sessions that share a SparkContext
  (``spark.newSession()``) have separate catalogs, so they must not share
  entries: a memo hit in the wrong session skips work (a temp view, a
  registration) that only happened in the other one. Keying on
  ``id(spark)`` is unsound: after a session is stopped and GC'd, a NEW
  SparkSession can reuse the same CPython id and resurrect persisted
  DataFrames bound to the dead context.
- **Eviction**: ``clear_caches(spark)`` unpersists everything a session's
  memos pinned and drops the entries. Bench/driver runs are short-lived
  and never need it; a long-lived service calls it between workloads so
  executors' storage memory doesn't accumulate dead relations.
  ``pipeline.Pipeline.run`` calls it on exit (finally), so a service
  that drives workloads through the pipeline never has to — only callers
  invoking plan functions directly across many sessions own the call.
  Entries keyed by a stopped session hold only dead
  driver-side references (their blocks died with the session); they are
  reclaimed by the next ``clear_caches()`` (no-arg), by the
  LRU-of-sessions cap below, or by the atexit sweep.

A process that drives plan functions directly across MANY sessions and
never calls ``clear_caches`` would still accumulate one key set per
session (dead driver-side references — cheap, but unbounded), so
``memoized_relation`` additionally keeps an LRU of session keys capped
at ``_MAX_APPS``: touching a relation under a NEW session evicts the
entries of the least-recently-used session beyond the cap. Evicting
a still-live session is correctness-neutral — ``build()`` is pure,
so its next touch just rebuilds — and ``_MAX_APPS`` concurrently
memoizing sessions in one driver process is already beyond real use. An
``atexit`` hook runs ``clear_caches()`` so interpreter shutdown releases
whatever remains without relying on session GC order.
"""

from __future__ import annotations

import atexit
import functools
import inspect
import threading

from pyspark.sql import DataFrame, SparkSession

# every memo dict registers here so clear_caches can reach it
_CACHES: list[dict] = []

# recency-ordered session keys with live memo entries (last = newest);
# a plain dict preserves insertion order, re-insertion refreshes recency
_APP_LRU: dict[str, None] = {}
_MAX_APPS = 4

# guards the check-then-set in memoized_relation and the pop-then-unpersist
# in clear_caches: dict ops alone are GIL-atomic, but the compound sequences
# are not, and a lost race would leak the loser's persisted blocks until
# session end
_LOCK = threading.Lock()


def register_cache(cache: dict) -> dict:
    _CACHES.append(cache)
    return cache


def session_key(spark: SparkSession) -> str:
    """Stable identity for this session's cache entries.

    The applicationId alone is shared by every ``newSession()`` of one
    context; the session UUID tells those sessions apart."""
    return f"{spark.sparkContext.applicationId}/{spark._jsparkSession.sessionUUID()}"


def memoized_relation(cache: dict, spark: SparkSession, extra_key: tuple, build) -> DataFrame:
    """Memoize + persist a written-once relation per (session, *extra_key).

    The canonical transparent-reuse shape for the graph wave's edge
    relations (co-supplier, part-supplier, word-graph, customer-supplier
    bipartite): the FIRST query of a session to touch the relation pays
    the fact-linear build; every later query (and every later execution
    of the same query) joins against the persisted blocks. Reuse is
    semantically invisible — ``build()`` is pure in (spark, extra_key),
    so the cached and cold relations are row-identical
    (tests/test_edge_cache.py pins this) — and the cache registry keeps
    eviction (clear_caches) working uniformly."""
    sid = session_key(spark)
    key = (sid, *extra_key)
    with _LOCK:
        _APP_LRU.pop(sid, None)
        _APP_LRU[sid] = None  # refresh recency
        evict = [a for a in _APP_LRU if a != sid][: max(0, len(_APP_LRU) - _MAX_APPS)]
        stale: list = []
        for app in evict:
            del _APP_LRU[app]
            for c in _CACHES:
                stale.extend(c.pop(k) for k in list(c) if k[0] == app)
        got = cache.get(key)
    _unpersist_values(stale)
    if got is not None:
        return got
    # build outside the lock (a slow build must not serialize unrelated
    # keys), then settle the race with setdefault: exactly one DataFrame
    # wins the entry. Since build() is pure, a racing loser is normally
    # plan-identical to the winner — Spark's CacheManager dedupes the two
    # persist() calls into ONE cache entry (sameResult match), so the
    # "loser's" blocks ARE the winner's and unpersisting them would evict
    # the winner's storage. Only a genuinely distinct plan (an impure
    # build) holds a separate entry worth releasing.
    built = build().persist()
    with _LOCK:
        winner = cache.setdefault(key, built)
    if winner is not built:
        w_plan = winner._jdf.queryExecution().analyzed()
        b_plan = built._jdf.queryExecution().analyzed()
        if not b_plan.sameResult(w_plan):
            built.unpersist()
    return winner


def session_memo(build):
    """Memoize + persist ``build(spark, *args)`` per (session, *args).

    The key is the builder's arguments after ``spark``, bound by its
    signature with defaults applied, so every argument that can change
    the result is in it. ``build`` must be pure in those arguments (see
    ``memoized_relation``); the decorated function returns the persisted
    relation."""
    cache = register_cache({})
    signature = inspect.signature(build)

    @functools.wraps(build)
    def memo(*args, **kwargs) -> DataFrame:
        bound = signature.bind(*args, **kwargs)
        bound.apply_defaults()
        spark, *key = bound.arguments.values()
        # the module-global lookup at call time lets a tracer patch
        # memoized_relation and see every memo hit and miss
        return memoized_relation(
            cache, spark, tuple(key), lambda: build(*bound.args, **bound.kwargs)
        )

    return memo


def _unpersist_values(values: list) -> None:
    """Best-effort unpersist of popped memo values (DataFrames or tuples
    of them); a stopped session just means the blocks are already gone."""
    for val in values:
        members = val if isinstance(val, tuple) else (val,)
        for v in members:
            if isinstance(v, DataFrame):
                try:
                    v.unpersist()
                except Exception:  # noqa: BLE001 — session already stopped
                    pass


def clear_caches(spark: SparkSession | None = None) -> int:
    """Unpersist and evict memoized relations; returns entries dropped.

    With ``spark`` given, only that session's entries (cache keys lead
    with ``session_key(spark)``); with ``None``, everything.
    """
    sid = None if spark is None else session_key(spark)
    dropped = 0
    for cache in _CACHES:
        with _LOCK:
            popped = [
                cache.pop(key)
                for key in list(cache)
                if sid is None or key[0] == sid
            ]
            if sid is None:
                _APP_LRU.clear()
            else:
                _APP_LRU.pop(sid, None)
        _unpersist_values(popped)
        dropped += len(popped)
    return dropped


# release whatever the last workloads left pinned when the interpreter
# exits — covers processes that never construct Pipeline (whose run()
# already clears on exit) and never call clear_caches themselves
atexit.register(clear_caches)
