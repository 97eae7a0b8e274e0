"""Run summary + metrics (SURVEY.md §2.9 R7/R13).

The reference keeps per-phase Counters with an emoji dump
(etl/utils/run_summary.py:10-47) and a 724-LoC metrics/monitoring layer
(etl/monitoring.py). The engine analog: a driver-side RunSummary that
records (phase, source, status, duration) events, renders the same
human summary, and materializes as a DataFrame so the *metrics themselves*
are queryable with the same engine (groupBy status/phase — the
agg_metrics_summary query shape).
"""

from __future__ import annotations

import time
from collections import Counter
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

STATUSES = ("done", "skip", "error", "recovered")


@dataclass
class RunSummary:
    """Phase events of a run, plus ``rows_out``: the rows each load wrote,
    keyed by ``(source name, feature class)``. The count is the sink's
    ``LoadReport.rows``, observed inside the write job, so recording it
    adds no job. Rows *in* are not recorded: an observation below the
    clip would sit between the filter and the scan and block predicate
    pushdown on parquet-staged sources."""

    started_at: float = field(default_factory=time.time)
    events: list[tuple[str, str, str, float]] = field(default_factory=list)
    rows_out: dict[tuple[str, str], int] = field(default_factory=dict)
    max_errors_shown: int = 10  # the reference caps its error list at 10

    def log(self, phase: str, source: str, status: str, duration_s: float = 0.0) -> None:
        if status not in STATUSES:
            raise ValueError(f"status {status!r} not in {STATUSES}")
        self.events.append((phase, source, status, float(duration_s)))

    def counters(self, phase: str | None = None) -> Counter:
        return Counter(
            s for p, _, s, _ in self.events if phase is None or p == phase
        )

    def errors(self) -> list[tuple[str, str]]:
        errs = [(p, src) for p, src, s, _ in self.events if s == "error"]
        return errs[: self.max_errors_shown]

    def to_df(self, spark: SparkSession) -> DataFrame:
        return spark.createDataFrame(
            self.events or [("", "", "done", 0.0)],
            "phase string, source_name string, status string, duration_s double",
        ).filter("phase != ''")

    def dump(self) -> str:
        c = self.counters()
        total = sum(c.values())
        runtime_min = (time.time() - self.started_at) / 60.0
        lines = [
            f"✅ done: {c.get('done', 0)}  ⏭ skip: {c.get('skip', 0)}  "
            f"❌ error: {c.get('error', 0)}  ♻️ recovered: {c.get('recovered', 0)}  "
            f"(total {total})",
            f"Total runtime: {runtime_min:.1f} minutes",
        ]
        errs = self.errors()
        if errs:
            lines.append("Errors (first %d):" % self.max_errors_shown)
            lines.extend(f"  - [{p}] {s}" for p, s in errs)
        return "\n".join(lines)


class PhaseTimer:
    """`with summary.phase_timer(...)` replacement for the reference's
    @monitor_performance decorator (etl/utils/performance.py:469-500)."""

    def __init__(self, summary: RunSummary, phase: str, source: str):
        self.summary, self.phase, self.source = summary, phase, source

    def __enter__(self):
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, exc_type, exc, tb):
        dt = time.perf_counter() - self._t0
        self.summary.log(self.phase, self.source, "error" if exc else "done", dt)
        return False
