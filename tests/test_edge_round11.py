"""Round-11 pins: the runs-test zero-variance guard (bug 27, probe seed
tiny419) and its all-at-median sibling branch.

The Wald–Wolfowitz z denominator is SQRT(2·n1·n2·(2·n1·n2−n1−n2)/…),
whose variance term is exactly zero at n1 = n2 = 1 — one day above and
one below the median, the smallest corpus that passes the existing
n1/n2 = 0 and n1+n2 < 2 guards. Pre-fix: ANSI Spark threw DIVIDE_BY_ZERO
while the DuckDB oracle fabricated a NaN z (its own degenerate
convention says NULL). Both now emit NULL z / reject_05 = 0. The sibling
branch — every day's revenue exactly AT the median (signs relation
empty) — left expected_runs as an unguarded 0/0 shape; it is now NULL in
both engines.
"""

from __future__ import annotations

from etl_pipeline_spark.plans.registry import REGISTRY, _ensure_loaded
from tests.conftest import assert_oracle_match, write_table

_ensure_loaded()


def test_runs_test_zero_variance_n1_eq_n2_eq_1(spark, tmp_path):
    # three purchase days: one below, one at, one above the median →
    # signs = {below, above}, n1 = n2 = 1, variance term 2·1·1−1−1 = 0.
    # Pre-fix this exact state was an ANSI DIVIDE_BY_ZERO (Spark) vs a
    # fabricated NaN z (oracle).
    rows = [
        (1, "2024-01-01 10:00:00", 1, "purchase", -150.69, "{}"),
        (2, "2024-01-05 11:00:00", 2, "purchase", 7279.61, "{}"),
        (3, "2024-01-09 12:00:00", 3, "purchase", -646.19, "{}"),
        (4, "2024-01-09 13:00:00", 3, "view", 10.0, "{}"),  # non-purchase noise
    ]
    sf, con = write_table(spark, tmp_path, "events", rows)
    spec = REGISTRY["runs_test_daily_revenue"]
    df = spec.spark_fn(spark, sf)  # must not crash under ANSI
    out = df.collect()[0]
    assert out["n_above"] == 1 and out["n_below"] == 1
    assert out["z"] is None and out["reject_05"] == 0
    assert_oracle_match(df, con, spec.oracle, "runs_test_zero_variance")


def test_acf_constant_series_is_null_not_zero_divide(spark, tmp_path):
    # bug 43: constant daily revenue → every deviation is exactly 0 on
    # the cents lattice → ss = 0 → the unguarded acf was an ANSI
    # DIVIDE_BY_ZERO in Spark and a fabricated NaN in DuckDB; both now
    # emit NULL (the autocorrelation of a constant series is undefined)
    rows = [
        (i + 1, 1, "F", 100.00, f"1995-01-{i + 1:02d} 00:00:00", "1-URGENT")
        for i in range(10)
    ]
    sf, con = write_table(spark, tmp_path, "orders", rows)
    spec = REGISTRY["acf_daily_revenue"]
    df = spec.spark_fn(spark, sf)  # must not crash under ANSI
    assert all(r["acf"] is None for r in df.collect())
    assert_oracle_match(df, con, spec.oracle, "acf_constant_series")


def test_runs_test_all_days_at_median(spark, tmp_path):
    # every day's cents equal → the median equals every value, the signs
    # relation is empty, and the runs statistics are undefined: NULL
    # counts, NULL expected_runs, NULL z in BOTH engines (no 0/0).
    rows = [
        (1, "2024-01-01 10:00:00", 1, "purchase", 100.0, "{}"),
        (2, "2024-01-05 11:00:00", 2, "purchase", 100.0, "{}"),
        (3, "2024-01-09 12:00:00", 3, "purchase", 100.0, "{}"),
    ]
    sf, con = write_table(spark, tmp_path, "events", rows)
    spec = REGISTRY["runs_test_daily_revenue"]
    df = spec.spark_fn(spark, sf)
    out = df.collect()[0]
    assert out["n_above"] is None and out["expected_runs"] is None
    assert out["z"] is None
    assert_oracle_match(df, con, spec.oracle, "runs_test_all_at_median")
