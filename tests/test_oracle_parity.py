"""Differential test: every registered query hash-matches its DuckDB oracle
at the correctness scale factor — the local mirror of the driver's t2 gate."""

from __future__ import annotations

import pytest

from etl_pipeline_spark.plans.registry import REGISTRY, _ensure_loaded, all_oracles, all_queries
from tests.conftest import SF_DIR, assert_oracle_match

_ensure_loaded()


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_query_matches_oracle(spark, duck, name):
    spec = REGISTRY[name]
    df = spec.spark_fn(spark, SF_DIR)
    if spec.oracle is None:
        assert df.count() >= 0  # rows-only check, same as the driver
        return
    assert_oracle_match(df, duck, spec.oracle, name)


def test_entry_smoke(spark):
    import __spark_entry__ as e

    out = e.entry(spark)
    rows = out.collect()
    assert len(rows) > 0
    assert set(e.oracle_sql()).issubset(set(e.queries()))


def test_export_is_the_registry_in_its_own_order():
    assert list(all_queries()) == list(REGISTRY)
    assert list(all_oracles().items()) == [
        (n, s.oracle) for n, s in REGISTRY.items() if s.oracle is not None
    ]


def test_approx_distinct_accuracy(spark, duck):
    """The approx value has no cell-exact oracle, so the query carries its
    own accuracy claim: approx_in_bounds must be 1 for every group (the
    oracle asserts the same literal), and the exact twin column must match
    DuckDB's exact distinct count."""
    from etl_pipeline_spark.plans.registry import REGISTRY

    rows = REGISTRY["approx_distinct_users"].spark_fn(spark, SF_DIR).collect()
    assert rows and all(r.approx_in_bounds == 1 for r in rows)
    exact = dict(
        duck.execute(
            "SELECT event_type, COUNT(DISTINCT user_id) FROM events GROUP BY 1"
        ).fetchall()
    )
    assert {r.event_type: r.exact_users for r in rows} == exact
