"""Quick checks of the benchmark's trace record (sf0.001, about a minute).

    python3 -m pytest perfbench/test_trace.py -q
"""

from __future__ import annotations

import argparse
import math
import time

import pytest

from perfbench import run, trace


def _span(sid, parent, start, end, layer="x"):
    return trace.Span(sid, layer, f"s{sid}", parent, start, end)


def test_self_time_is_span_minus_children():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 3.0),   # child
        _span(2, 0, 2.0, 5.0),   # overlaps child 1: [1, 5] counted once
        _span(3, 1, 1.5, 2.5),   # grandchild: only child 1's self time shrinks
        _span(4, 0, 9.0, 12.0),  # runs past its parent: clipped to [9, 10]
    ]
    got = trace.self_times(spans)
    assert got[0] == pytest.approx(10.0 - 4.0 - 1.0)
    assert got[1] == pytest.approx(2.0 - 1.0)
    assert got[2] == pytest.approx(3.0)
    assert got[3] == pytest.approx(1.0)
    assert got[4] == pytest.approx(3.0)


def test_op_tail_is_p90_of_op_medians():
    times = {"a": [1.0, 9.0, 2.0], "b": [3.0, 4.0, 5.0], "c": [0.5]}
    # medians 0.5, 2, 4: p90 lies 80% of the way from 2 to 4
    assert run.op_tail(times) == pytest.approx(3.6)


def test_float_cells_match_up_to_a_rounding_tie():
    assert run.floats_match(70410.33, 70410.32)  # ROUND(SUM, 2) at a tie
    assert run.floats_match(0.1 + 0.2, 0.3)  # summation noise
    assert run.floats_match(-0.0, 0.0)
    assert run.floats_match(math.nan, math.nan)
    assert not run.floats_match(70410.33, 70410.31)
    assert not run.floats_match(3.0, 4.0)
    assert not run.floats_match(0.1, 0.2)
    assert not run.floats_match(1.0, math.nan)


def test_oracle_check_is_order_insensitive_and_names_the_cell():
    import pandas as pd

    class Frame:
        def __init__(self, df):
            self.df = df

        def toPandas(self):
            return self.df

        def fetchdf(self):
            return self.df

    def check(got, want):
        spec = argparse.Namespace(oracle="q", spark_fn=lambda spark, d: Frame(got))
        duck = argparse.Namespace(execute=lambda sql: Frame(want))
        return run.check_query(None, duck, spec, "")

    want = pd.DataFrame({"k": ["a", "b"], "v": [70410.32, 1.5]})
    assert check(pd.DataFrame({"v": [1.5, 70410.33], "k": ["b", "a"]}), want) is None
    assert check(pd.DataFrame({"k": ["a", "b"], "v": [70410.30, 1.5]}), want) == (
        "v: 70410.3 != oracle 70410.32"
    )
    assert check(pd.DataFrame({"k": ["a", "c"], "v": [70410.32, 1.5]}), want) == (
        "values differ from oracle"
    )


def test_failed_op_counts_against_the_result():
    out = run.Outcome(attempted=4)
    out.fail("op: boom")
    rec = run.result(out, {"wall_s": 1.5}, {"wall_s": "s"})
    assert rec == {
        "correct": False,
        "attempted": 4,
        "failed": 1,
        "metrics": {"wall_s": {"value": 1.5, "unit": "s"}},
    }


@pytest.fixture()
def raising_op():
    from etl_pipeline_spark.plans.registry import REGISTRY, QuerySpec, _ensure_loaded

    _ensure_loaded()
    name = "perfbench_raises"

    def fn(spark, sf_dir):
        raise RuntimeError("planted failure")

    REGISTRY[name] = QuerySpec(name, fn, None)
    yield name
    del REGISTRY[name]


def test_traced_record_at_sf0001(raising_op):
    wl = run.Workload(
        run.run_queries, 1.0, ("q9_product_type_profit", "sql_pii_redaction", raising_op),
        sf=0.001,
    )
    args = argparse.Namespace(seed=7, seconds=1.0, trace=1)
    rec, report = run.measure(wl, args, time.perf_counter())

    metrics = rec["metrics"]
    assert list(metrics) == list(trace.PER_LAYER_UNITS)
    for name, m in metrics.items():
        assert m["unit"] == trace.PER_LAYER_UNITS[name]
        assert math.isfinite(m["value"])
    val = {k: m["value"] for k, m in metrics.items()}
    # catalog reads and plan builds fire jobs of their own, in their layer
    assert val["catalog_s"] > 0 and val["catalog_jobs"] > 0
    assert val["build_s"] > 0 and val["exec_s"] > 0 and val["catalyst_s"] > 0
    assert val["jobs"] >= val["catalog_jobs"] + val["build_jobs"]
    assert val["tasks"] > 0 and val["executor_run_s"] > 0
    # q9 reads the partsupp memo; memos are cleared per op, so always a miss
    assert val["memo_misses"] > 0 and val["memo_hits"] == 0
    assert val["fetch_s"] == 0 and val["load_s"] == 0
    # the planted op fails in the oracle check and in each of the three
    # untraced and three traced passes
    assert not rec["correct"]
    assert rec["failed"] == 1 + 3 + 3
    assert any("planted failure" in line for line in report)
