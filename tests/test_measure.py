"""The one query-timing loop, ``etl_pipeline_spark/utils/measure.py``: no
other code times a query into the ``noop`` sink or scrapes the Spark UI,
the per-query record's schema, and which jobs a record counts."""

from __future__ import annotations

import re
from pathlib import Path

import pytest

from etl_pipeline_spark.utils import measure
from etl_pipeline_spark.utils.session_cache import clear_caches
from tests.conftest import SF_TINY_DIR

ROOT = Path(__file__).resolve().parent.parent
_MEASURE = Path("etl_pipeline_spark/utils/measure.py")
_NOOP_WRITE = re.compile(r"\.format\(\s*[\"']noop[\"']\s*\)")
_UI_REST = "/api/" + "v1/"
_PROFILE_ENV = re.compile(r"environ[^\n]*[\"']PROFILE_")

RECORD_KEYS = {
    "best_s",
    "walls",
    "build_s",
    "action_s",
    "codegen_compiles",
    "jobs",
    "stages",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "shuffle_read_mb",
    "shuffle_write_mb",
    "spill_mb",
    "max_single_task_stage_s",
}


def test_one_timing_loop():
    """Outside the measure module and the benchmark package, no file
    writes a query into the noop sink, reads the UI REST API or reads a
    ``PROFILE_*`` variable: every timing goes through ``time_query``."""
    offenders = []
    for path in sorted(ROOT.rglob("*.py")):
        rel = path.relative_to(ROOT)
        if rel == _MEASURE or rel.parts[0] == "perfbench" or rel.parts[0].startswith("."):
            continue
        text = path.read_text()
        if _NOOP_WRITE.search(text) or _UI_REST in text or _PROFILE_ENV.search(text):
            offenders.append(str(rel))
    assert offenders == []


def test_record_schema(spark):
    rec = measure.time_query(spark, "q1_pricing_summary", SF_TINY_DIR)
    assert set(rec) == RECORD_KEYS
    assert len(rec["walls"]) == measure.PASSES
    assert rec["best_s"] == min(rec["walls"])
    assert rec["build_s"] + rec["action_s"] == pytest.approx(rec["best_s"])
    assert rec["build_s"] > 0 and rec["action_s"] > 0
    assert isinstance(rec["codegen_compiles"], int) and rec["codegen_compiles"] >= 0
    assert rec["jobs"] > 0 and rec["stages"] > 0
    assert rec["tasks"] >= rec["stages"]


def test_record_counts_only_its_own_job_group(spark, monkeypatch):
    """A job another group fires between passes is not the query's."""
    name = "q1_pricing_summary"
    alone = [len(p.jobs) for p in measure.run_passes(spark, name, SF_TINY_DIR)]

    def clear_then_interlope(s):
        dropped = clear_caches(s)
        sc = s.sparkContext
        measure.in_job_group(s, "interloper", lambda: sc.parallelize(range(4), 2).count())
        return dropped

    monkeypatch.setattr(measure, "clear_caches", clear_then_interlope)
    jobs = [len(p.jobs) for p in measure.run_passes(spark, name, SF_TINY_DIR)]
    assert jobs == alone


def test_memo_consumer_pays_its_build_in_both_passes(spark):
    """The second pass must not hit the memo the first pass built: both
    fire the same jobs, memo build included."""
    first, second = measure.run_passes(spark, "dedup_canonical_pick", SF_TINY_DIR)
    assert len(first.jobs) == len(second.jobs) > 0
