"""The one loop that times a registry query, and the per-query record.

``time_query(spark, name, sf_dir)`` runs the query ``PASSES`` times into
the ``noop`` sink (full compute, no driver-side materialization) and
returns the record of the fastest pass. Before every pass it clears the
session's memos (``clear_caches(spark)``) and the CacheManager
(``spark.catalog.clearCache()``): a query that declares work over a
shared relation (shingles, jaccard pairs, edge sets, partsupp proxy …)
pays that build inside each of its own passes, and no pass can hit what
the previous query or pass persisted. Clearing before both passes
matters: clearing only the second would let best-of-2 pick a first pass
that hit the previous query's relations. What survives across passes is
what honest reuse allows: JVM JIT, warm executor threads and Spark's
generated-class cache. That cache keeps a class only while it fits
(``session.CODEGEN_CACHE_ENTRIES``): at Spark's default of 100 entries a
large query evicted its own classes and its second pass compiled many
of them again (``textrank_keywords`` 48-69 of its 102,
``dedup_canonical_pick`` 35-67 of 95); with ``get_spark``'s cache both
compile 0. ``codegen_compiles`` in the record counts the Janino compiles
during the best pass, plan build and action, so a pass that compiled
shows. Best-of-2 thus measures the plan, not a compile, nor the other
one-off costs of a first execution (classloading, broadcast thread
spin-up) that scheduling overlap turns into >2x swings.

Each pass times the Python plan build (``build_s``, including any jobs
the build fires) apart from the ``noop`` action (``action_s``); its wall
is their sum. Each pass runs in its own job group. After the pass,
outside its timed window, the group's job ids come from
``statusTracker`` and each stage's figures from the JVM status store
(``AppStatusStore.stageData``), which the listener bus fills whether or
not the Spark UI is enabled.
"""

from __future__ import annotations

import time
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from etl_pipeline_spark.plans.registry import REGISTRY, _ensure_loaded
from etl_pipeline_spark.utils.session_cache import clear_caches

PASSES = 2
WARMUP_QUERY = "q1_pricing_summary"

_MB = float(2**20)


@dataclass(frozen=True)
class Stage:
    """One attempt of one stage, as the status store holds it."""

    id: int
    status: str
    name: str
    tasks: int
    run_s: float
    cpu_s: float
    shuffle_read_b: int
    shuffle_write_b: int
    spill_b: int


@dataclass(frozen=True)
class Pass:
    build: float
    action: float
    compiles: int
    jobs: list[int]
    stages: list[Stage]

    @property
    def wall(self) -> float:
        return self.build + self.action


def run_noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def in_job_group(spark: SparkSession, group: str, action):
    """Run ``action`` with its Spark jobs in ``group``; return its result."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        return action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc.setLocalProperty("spark.job.interruptOnCancel", None)


def group_jobs(spark: SparkSession, group: str) -> list[int]:
    """Ids of the jobs of a finished job group.

    Control: a zero-partition JVM job in a later group, which posts its
    start event and runs no task. Job events reach the status store in
    order, so once it shows the control job, every job and stage of the
    earlier group is in the store too."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    control = f"control-{uuid.uuid4().hex}"
    in_job_group(spark, control, lambda: sc._jsc.emptyRDD().count())
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup(control) and time.monotonic() < deadline:
        time.sleep(0.05)
    if not tracker.getJobIdsForGroup(control):
        raise RuntimeError("control job never reached the status store")
    return sorted(tracker.getJobIdsForGroup(group))


def jobs_fired(spark: SparkSession, action) -> list[int]:
    """Run ``action`` in its own job group and return its job ids."""
    group = f"count-{uuid.uuid4().hex}"
    in_job_group(spark, group, action)
    return group_jobs(spark, group)


def stages_of(spark: SparkSession, jobs: list[int]) -> list[Stage]:
    """Every attempt of every stage of ``jobs``; a skipped stage reports 0."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    no_status = sc._jvm.java.util.ArrayList()
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    ids = sorted({s for j in jobs for s in tracker.getJobInfo(j).stageIds})
    stages = []
    for sid in ids:
        attempts = store.stageData(sid, False, no_status, False, no_quantiles)
        for i in range(attempts.size()):
            d = attempts.apply(i)
            stages.append(
                Stage(
                    id=sid,
                    status=d.status().toString(),
                    name=d.name(),
                    tasks=d.numCompleteTasks(),
                    run_s=d.executorRunTime() / 1e3,
                    cpu_s=d.executorCpuTime() / 1e9,
                    shuffle_read_b=d.shuffleReadBytes(),
                    shuffle_write_b=d.shuffleWriteBytes(),
                    spill_b=d.memoryBytesSpilled() + d.diskBytesSpilled(),
                )
            )
    return stages


def codegen_compiles(spark: SparkSession) -> int:
    """Janino compiles so far in this JVM: the sample count of Spark's
    compile-time histogram, which each compile adds to and a cache hit
    does not."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def warm_up(spark: SparkSession, sf_dir: str) -> None:
    """One JVM/codegen warm-up on the smallest query, so the first timed
    query measures its plan, not first-call JIT."""
    _ensure_loaded()
    run_noop(REGISTRY[WARMUP_QUERY].spark_fn(spark, sf_dir))


def run_passes(spark: SparkSession, name: str, sf_dir: str) -> list[Pass]:
    """``PASSES`` cleared passes of one registry query (module docstring)."""
    _ensure_loaded()
    fn = REGISTRY[name].spark_fn
    passes = []
    for _ in range(PASSES):
        clear_caches(spark)
        spark.catalog.clearCache()
        group = f"measure-{name}-{uuid.uuid4().hex}"
        before = codegen_compiles(spark)
        build, action = in_job_group(spark, group, lambda: _timed_noop(spark, fn, sf_dir))
        compiles = codegen_compiles(spark) - before
        jobs = group_jobs(spark, group)
        passes.append(Pass(build, action, compiles, jobs, stages_of(spark, jobs)))
    return passes


def _timed_noop(spark: SparkSession, fn, sf_dir: str) -> tuple[float, float]:
    """Seconds to build the plan and seconds to run it into ``noop``."""
    t0 = time.perf_counter()
    df = fn(spark, sf_dir)
    t1 = time.perf_counter()
    run_noop(df)
    return t1 - t0, time.perf_counter() - t1


def best_pass(passes: list[Pass]) -> Pass:
    return min(passes, key=lambda p: p.wall)


def record(passes: list[Pass]) -> dict:
    """The best pass's figures; stages, tasks and executor figures count
    the stages that ran, not the ones a job skipped."""
    best = best_pass(passes)
    ran = [s for s in best.stages if s.status != "SKIPPED"]
    return {
        "best_s": best.wall,
        "walls": [p.wall for p in passes],
        "build_s": best.build,
        "action_s": best.action,
        "codegen_compiles": best.compiles,
        "jobs": len(best.jobs),
        "stages": len({s.id for s in ran}),
        "tasks": sum(s.tasks for s in ran),
        "executor_run_s": sum(s.run_s for s in ran),
        "executor_cpu_s": sum(s.cpu_s for s in ran),
        "shuffle_read_mb": sum(s.shuffle_read_b for s in ran) / _MB,
        "shuffle_write_mb": sum(s.shuffle_write_b for s in ran) / _MB,
        "spill_mb": sum(s.spill_b for s in ran) / _MB,
        "max_single_task_stage_s": max((s.run_s for s in ran if s.tasks == 1), default=0.0),
    }


def time_query(spark: SparkSession, name: str, sf_dir: str) -> dict:
    """Best-of-``PASSES`` record of one registry query."""
    return record(run_passes(spark, name, sf_dir))
