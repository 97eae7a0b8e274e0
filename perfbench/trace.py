"""Per-layer tracing for the traced benchmark run.

Spans are recorded from the benchmark's side of each layer boundary: the
benchmark wraps the program's public functions while a traced pass runs and
puts the originals back afterwards. Spans stay in memory until the run ends.

- Every span gets its own Spark job group, so each job belongs to the
  innermost span that fired it. Job and stage counts come from
  ``statusTracker()``, which works with ``spark.ui.enabled=false``.
- Task figures (executor run and CPU time, GC, shuffle, spill, bytes
  written) come from the uncompressed Spark event log, parsed after the
  session stops.
- Catalyst time is read from the returned DataFrame's
  ``queryExecution().tracker().phases()``.
"""

from __future__ import annotations

import contextlib
import json
import os
import sys
import time
from collections import Counter, defaultdict
from dataclasses import dataclass, field

PHASE_LAYERS = ("fetch", "stage", "transform", "load")
MB = 1024.0 * 1024.0

# per-layer metric name -> unit; the order is the order of the report
PER_LAYER_UNITS = {
    "catalog_s": "s",
    "catalog_jobs": "count",
    "build_s": "s",
    "build_jobs": "count",
    "catalyst_s": "s",
    "exec_s": "s",
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "executor_run_s": "s",
    "executor_cpu_s": "s",
    "gc_s": "s",
    "shuffle_read_mb": "MB",
    "shuffle_write_mb": "MB",
    "spill_mb": "MB",
    "memo_hits": "count",
    "memo_misses": "count",
    "memo_hit_ratio": "ratio",
    "memo_storage_mb": "MB",
    "fetch_s": "s",
    "pages_fetched": "count",
    "landing_mb": "MB",
    "stage_s": "s",
    "stage_jobs": "count",
    "transform_s": "s",
    "load_s": "s",
    "load_jobs": "count",
    "rows_written": "count",
    "bytes_written_mb": "MB",
    "traced_wall_s": "s",
    "trace_overhead_s": "s",
    "peak_rss_mb": "MB",
}


@dataclass
class Span:
    sid: int
    layer: str
    name: str
    parent: int | None
    start: float = 0.0
    end: float = 0.0
    jobs: int = 0
    stages: int = 0

    @property
    def group(self) -> str:
        return f"perfbench-{self.sid}"


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time of each span: its duration minus the part of its interval
    covered by its direct children (overlapping children count once)."""
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(children[s.sid], key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.sid] = (s.end - s.start) - covered
    return out


@dataclass
class Tracer:
    """Span recorder bound to one SparkContext."""

    sc: object
    spans: list[Span] = field(default_factory=list)
    counters: Counter = field(default_factory=Counter)
    _stack: list[int] = field(default_factory=list)
    _patches: list[tuple[object, str, object]] = field(default_factory=list)

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), layer, name, parent)
        self.spans.append(s)
        self._stack.append(s.sid)
        self.sc.setJobGroup(s.group, f"{layer}:{name}")
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self._count_jobs(s.sid)
            else:
                p = self.spans[parent]
                self.sc.setJobGroup(p.group, f"{p.layer}:{p.name}")

    def _count_jobs(self, root: int) -> None:
        """Job and stage counts for every span of the op that just ended."""
        tracker = self.sc.statusTracker()
        for s in self.spans[root:]:
            jobs = tracker.getJobIdsForGroup(s.group)
            stages = set()
            for j in jobs:
                info = tracker.getJobInfo(j)
                if info is not None:
                    stages.update(info.stageIds)
            s.jobs, s.stages = len(jobs), len(stages)

    # ------------------------------------------------------------ wrapping
    def patch(self, owner: object, attr: str, wrapper) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, wrapper)

    def patch_everywhere(self, original, wrapper, prefix: str = "etl_pipeline_spark") -> None:
        """Replace ``original`` in every loaded module that bound it by name."""
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(prefix):
                continue
            for attr, val in list(vars(mod).items()):
                if val is original:
                    self.patch(mod, attr, wrapper)

    def unpatch(self) -> None:
        while self._patches:
            owner, attr, val = self._patches.pop()
            setattr(owner, attr, val)

    def wrap_catalog_and_memos(self) -> None:
        from etl_pipeline_spark.sources import star
        from etl_pipeline_spark.utils import session_cache

        load_table = star.load_table
        memoized = session_cache.memoized_relation

        def traced_load_table(spark, sf_dir, name, *a, **kw):
            with self.span("catalog", name):
                return load_table(spark, sf_dir, name, *a, **kw)

        def traced_memoized(cache, spark, extra_key, build):
            hit = (session_cache.session_key(spark), *extra_key) in cache
            self.counters["memo_hits" if hit else "memo_misses"] += 1
            return memoized(cache, spark, extra_key, build)

        self.patch_everywhere(load_table, traced_load_table)
        self.patch_everywhere(memoized, traced_memoized)

    def wrap_pipeline_phases(self, pipeline_cls) -> None:
        """Spans around ``Pipeline.fetch|stage|transform|load``; ``load`` also
        plans its DataFrame first so Catalyst time is read off it."""
        for phase in PHASE_LAYERS:
            orig = getattr(pipeline_cls, phase)

            def wrapper(pipe, *args, _orig=orig, _phase=phase):
                if _phase == "load":
                    self.catalyst(args[1])
                with self.span(_phase, pipe.config.production_db):
                    out = _orig(pipe, *args)
                if _phase == "fetch":
                    self.counters["landing_bytes"] += sum(
                        os.path.getsize(p) for p in out
                        if p.startswith(pipe.config.landing_dir)
                    )
                elif _phase == "load":
                    self.counters["rows_written"] += out.rows
                return out

            self.patch(pipeline_cls, phase, wrapper)

    def catalyst(self, df) -> None:
        """Plan ``df`` and add its Catalyst phase times (ms) to the counters."""
        with self.span("catalyst", "plan"):
            qe = df._jdf.queryExecution()
            qe.executedPlan()
            convert = df.sparkSession._jvm.scala.jdk.javaapi.CollectionConverters
            phases = convert.asJava(qe.tracker().phases())
            self.counters["catalyst_ms"] += sum(phases[k].durationMs() for k in phases)

    def storage_mb(self) -> float:
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / MB


def parse_event_log(path: str) -> dict[str, dict[str, float]]:
    """Task figures per job group from an uncompressed Spark event log."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(Counter)
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                for st in ev.get("Stage IDs", []):
                    stage_group.setdefault(st, group)
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev.get("Stage ID"))
                m = ev.get("Task Metrics") or {}
                acc = out[group]
                acc["tasks"] += 1
                acc["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                acc["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                sr = m.get("Shuffle Read Metrics") or {}
                acc["shuffle_read_mb"] += (
                    sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                ) / MB
                sw = m.get("Shuffle Write Metrics") or {}
                acc["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / MB
                acc["spill_mb"] += (
                    m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                ) / MB
                om = m.get("Output Metrics") or {}
                acc["bytes_written_mb"] += om.get("Bytes Written", 0) / MB
    return out


def layer_metrics(tracer: Tracer, task_figures: dict[str, dict[str, float]],
                  n_passes: int) -> dict[str, float]:
    """Per-layer metrics, per traced pass. Times are self times; ``jobs``,
    ``stages`` and the task figures cover every span."""
    selfs = self_times(tracer.spans)
    by_layer: dict[str, Counter] = defaultdict(Counter)
    totals = Counter()
    for s in tracer.spans:
        lay = by_layer[s.layer]
        lay["s"] += selfs[s.sid]
        lay["jobs"] += s.jobs
        totals["jobs"] += s.jobs
        totals["stages"] += s.stages
        figs = task_figures.get(s.group, {})
        for k, v in figs.items():
            totals[k] += v
        lay["bytes_written_mb"] += figs.get("bytes_written_mb", 0.0)
    c = tracer.counters
    hits, misses = c["memo_hits"], c["memo_misses"]
    n = max(1, n_passes)
    raw = {
        "catalog_s": by_layer["catalog"]["s"],
        "catalog_jobs": by_layer["catalog"]["jobs"],
        "build_s": by_layer["build"]["s"],
        "build_jobs": by_layer["build"]["jobs"],
        "catalyst_s": c["catalyst_ms"] / 1e3,
        "exec_s": by_layer["exec"]["s"],
        "jobs": totals["jobs"],
        "stages": totals["stages"],
        "tasks": totals["tasks"],
        "executor_run_s": totals["executor_run_s"],
        "executor_cpu_s": totals["executor_cpu_s"],
        "gc_s": totals["gc_s"],
        "shuffle_read_mb": totals["shuffle_read_mb"],
        "shuffle_write_mb": totals["shuffle_write_mb"],
        "spill_mb": totals["spill_mb"],
        "memo_hits": hits,
        "memo_misses": misses,
        "fetch_s": by_layer["fetch"]["s"],
        "pages_fetched": c["pages_fetched"],
        "landing_mb": c["landing_bytes"] / MB,
        "stage_s": by_layer["stage"]["s"],
        "stage_jobs": by_layer["stage"]["jobs"],
        "transform_s": by_layer["transform"]["s"],
        "load_s": by_layer["load"]["s"],
        "load_jobs": by_layer["load"]["jobs"],
        "rows_written": c["rows_written"],
        "bytes_written_mb": by_layer["load"]["bytes_written_mb"],
    }
    out = {k: v / n for k, v in raw.items()}
    out["memo_hit_ratio"] = hits / (hits + misses) if hits + misses else 0.0
    out["memo_storage_mb"] = c["memo_storage_peak_mb"]
    return out
