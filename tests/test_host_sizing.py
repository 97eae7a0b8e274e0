"""Host sizing: the default core count comes from the host, a malformed
SPARK_GRAFT_CPUS is refused, and the scaling table reports captures with
no query in common instead of dividing by zero."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from etl_pipeline_spark.session import default_cpus

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_default_cpus_follows_the_host(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_cpus() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "")
    assert default_cpus() == len(os.sched_getaffinity(0))


def test_default_cpus_takes_the_env_value(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "6")
    assert default_cpus() == 6


@pytest.mark.parametrize("raw", ["0", "-4", "four", "2.5", "8x"])
def test_default_cpus_rejects_malformed_env(monkeypatch, raw):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", raw)
    with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
        default_cpus()


def test_scaling_table_without_common_queries_exits_nonzero(tmp_path):
    paths = []
    for cpus, query in ((32, "q1_pricing_summary"), (8, "q3_shipping_priority")):
        p = tmp_path / f"bench_out_c{cpus}.json"
        p.write_text(json.dumps({"cpus": cpus, "value": 1.0, "queries": {query: 1.0}}))
        paths.append(str(p))
    run = subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "scaling_table.py"), *paths],
        capture_output=True,
        text=True,
    )
    assert run.returncode != 0
    assert "n_common 0" in run.stderr and "Traceback" not in run.stderr
