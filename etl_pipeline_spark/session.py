"""SparkSession factory tuned for this engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default: the cores this
process may run on); the same configuration knobs are the ones that matter
on a real cluster:

- AQE on (coalesce post-shuffle partitions, skew-join splitting) — replaces
  the reference's hand-rolled "adaptive tuning" layer
  (reference: etl/utils/adaptive_tuning.py:87-577).
- ``spark.sql.shuffle.partitions`` sized to the parallelism at hand; AQE
  coalesces down when partitions are small, so erring high is safe at scale.
- Arrow enabled for any pandas interchange (vectorized UDF path).
- Session timezone pinned to UTC so timestamp semantics are deterministic
  regardless of host timezone.
- PySpark's DataFrame call-site capture off: with it on, every ``F.*`` call
  and ``Column`` method first sends its Python call site to the JVM (about
  13 py4j round trips around a call that takes 3), so error contexts carry
  the failing DataFrame call but plan building pays for it on every call.
  PySpark reads the flag once per process, at its first ``F.*`` call after
  a session exists.
- Spark's generated-class cache sized to the engine's working set
  (``CODEGEN_CACHE_ENTRIES``) and keyed without the codegen stage id, so
  a query run again in the session reuses its Janino-compiled classes
  instead of compiling them again.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Entries of Spark's generated-class cache (static conf
# ``spark.sql.codegen.cache.maxEntries``, default 100). Guava splits the
# cache into 4 LRU segments, so at 100 a segment starts evicting at 25
# classes. Distinct classes one pass compiles, measured at local[4] on
# sf0.01 without the stage id in class names (below; with it in brackets):
# the 8 short_cold queries about 110 (114), the graph_dedup + SQL ops 464 (628),
# etl_load 9, the full registry 3,236 (3,810); no one query compiles more
# than about 100. At 100 a repeat pass of the short_cold queries compiled
# 79-99 classes again, at 1024 none. A compile costs 5 ms mean, 14 ms
# p95. An entry holds the generated source as its key (6-8 KB mean) and
# the loaded class. Measured after System.gc() with the 471 classes of the
# graph_dedup + SQL ops cached, against the same JVM with the cache
# emptied: 25-27 KB of heap and 9 KB of metaspace per entry, so a full
# cache of 1024 holds about 28 MB of heap and 9 MB of metaspace.
CODEGEN_CACHE_ENTRIES = 1024


def default_cpus() -> int:
    """``$SPARK_GRAFT_CPUS`` if set, else the cores this process may run on."""
    raw = os.environ.get("SPARK_GRAFT_CPUS", "").strip()
    if not raw:
        return len(os.sched_getaffinity(0))
    if not raw.isdigit() or int(raw) < 1:
        raise ValueError(f"SPARK_GRAFT_CPUS must be a positive integer, got {raw!r}")
    return int(raw)


def get_spark(
    app_name: str = "etl-pipeline-spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's standard config."""
    cpus = cpus or default_cpus()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let AQE coalesce the OUTPUT partitioning of cached plans too.
        # Default false keeps a persisted relation at the raw shuffle
        # partition count (32 here, thousands on a cluster) "in case" a
        # consumer reuses that partitioning; the session-scoped edge
        # memos (utils/session_cache.py) are consumed by state-sized
        # iterative rounds where 20 joins x 32 near-empty tasks cost
        # more in scheduling than the data — measured 1.3x on the HITS
        # rounds at sf0.1. Consumers that DO need a specific
        # partitioning repartition explicitly.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # The cache is keyed by source text. AQE numbers a query's codegen
        # stages in the order its shuffle stages finish, so with the stage
        # id in the class name one stage's class is a new key whenever that
        # order changes (a repeat pass of dedup_canonical_pick compiled 6).
        .config("spark.sql.codegen.useIdInClassName", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
