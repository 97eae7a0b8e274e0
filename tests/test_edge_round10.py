"""Round-10 pins: the exact-cents conversion wave's midpoint devices and
the two round-9 advisor items (Benford negative totals, OLS BIGINT
overflow on multi-decade spans).
"""

from __future__ import annotations

import duckdb
import pytest

from etl_pipeline_spark.plans.registry import REGISTRY, _ensure_loaded
from tests.conftest import assert_oracle_match, write_table

_ensure_loaded()


def _duck_for(tmpdir, tables):
    con = duckdb.connect()
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM"
            f" read_parquet('{tmpdir}/{t}.parquet/*.parquet')"
        )
    return con


# ---------------------------------------------------------------------------
# Advisor item 1: Benford over negative totals. FLOOR(o_totalprice) of a
# negative total puts '-' in the leading character, where the ANSI digit
# cast crashed BEFORE the 1-9 domain filter could exclude it. With
# FLOOR(ABS(...)) the magnitude's digit is analyzed (the standard Benford
# convention) and sub-1 magnitudes stay excluded.
# ---------------------------------------------------------------------------
def test_benford_negative_totals_analyze_magnitude(spark, tmp_path):
    rows = [
        (1, 1, "F", -52.30, "1995-01-01", "1-URGENT"),  # magnitude digit 5
        (2, 1, "F", -0.50, "1995-01-02", "1-URGENT"),   # |x| < 1: excluded
        (3, 1, "O", 19.99, "1995-01-03", "1-URGENT"),   # digit 1
        (4, 1, "O", 0.00, "1995-01-04", "1-URGENT"),    # excluded (r9 pin)
        (5, 1, "O", 523.45, "1995-01-05", "1-URGENT"),  # digit 5
    ]
    sf, con = write_table(spark, tmp_path, "orders", rows)
    spec = REGISTRY["benford_first_digit"]
    df = spec.spark_fn(spark, sf)  # must not crash under ANSI
    assert_oracle_match(df, con, spec.oracle, "benford_negative_edge")
    got = {r.digit: r.n_orders for r in df.collect()}
    assert got == {5: 2, 1: 1}


# ---------------------------------------------------------------------------
# Advisor item 2: the OLS cross-multiplications COUNT(*)·SUM((m−m0)·vm)
# grow ~span³·vm and overflowed BIGINT near a ~260-month span (ANSI crash
# in Spark, silent HUGEINT widening in DuckDB — a parity break by crash).
# 480 months × ~5e5 totals push the old form to ~2.8e19 > BIGINT; the
# DOUBLE-cast moments must survive it with both engines agreeing.
# ---------------------------------------------------------------------------
def test_theil_sen_ols_multidecade_span_no_overflow(spark, tmp_path):
    rows = [
        (
            m + 1,
            1,
            "F",
            499999.99,
            f"{1970 + m // 12}-{m % 12 + 1:02d}-01",
            "1-URGENT",
        )
        for m in range(480)
    ]
    sf, con = write_table(spark, tmp_path, "orders", rows)
    spec = REGISTRY["theil_sen_price_trend"]
    df = spec.spark_fn(spark, sf)  # old form: ANSI BIGINT overflow here
    assert_oracle_match(df, con, spec.oracle, "theil_sen_multidecade_edge")
    row = df.collect()[0]
    assert row.n_months == 480
    assert row.ols_slope == 0.0 and row.theil_sen_slope == 0.0


# ---------------------------------------------------------------------------
# Exact-cents device pin: a conditional mean landing EXACTLY on a .5-cent
# midpoint (1.00 + 1.01 over 2 rows → 1.005). ROUND(AVG(double), 2) split
# the engines here (Spark rounds the repr "1.005" HALF_UP → 1.01, DuckDB
# rounds the binary 1.00499…9 → 1.00); the FLOOR half-up chain over the
# exact BIGINT cent sum gives 1.01 in BOTH. Also pins the NULLIF guard: a
# group with zero 'F' rows is NULL, not an ANSI zero-divide.
# ---------------------------------------------------------------------------
def test_conditional_avg_exact_half_cent_midpoint(spark, tmp_path):
    rows = [
        (1, 1, "F", 1.00, "1995-01-01", "1-URGENT"),
        (2, 1, "F", 1.01, "1995-01-02", "1-URGENT"),
        (3, 1, "O", 9.99, "1995-01-03", "1-URGENT"),
        (4, 1, "O", 5.00, "1995-01-04", "2-HIGH"),  # no 'F' in this group
    ]
    sf, con = write_table(spark, tmp_path, "orders", rows)
    spark.read.parquet(f"{sf}/orders.parquet").createOrReplaceTempView("orders")
    sql = REGISTRY["sql_conditional_agg_filter"].oracle
    got = {
        r.o_orderpriority: r.avg_finished_price
        for r in spark.sql(sql).collect()
    }
    want = {
        r[0]: r[3]
        for r in con.execute(sql).fetchall()
    }
    assert got["1-URGENT"] == want["1-URGENT"] == 1.01
    assert got["2-HIGH"] is None and want["2-HIGH"] is None


# ---------------------------------------------------------------------------
# Same device, windowed form: a 2-row trailing window mean on the exact
# half-cent midpoint (the first ma3 frame holds 1 row, the second 2).
# ---------------------------------------------------------------------------
def test_monthly_ma3_exact_half_cent_midpoint(spark, tmp_path):
    rows = [
        (1, 1, "F", 1.00, "1995-01-15", "1-URGENT"),
        (2, 1, "F", 1.01, "1995-02-15", "1-URGENT"),
    ]
    sf, con = write_table(spark, tmp_path, "orders", rows)
    spark.read.parquet(f"{sf}/orders.parquet").createOrReplaceTempView("orders")
    sql = REGISTRY["sql_monthly_revenue_ma3"].oracle
    got = {r.ym: r.revenue_ma3 for r in spark.sql(sql).collect()}
    want = {r[0]: r[2] for r in con.execute(sql).fetchall()}
    assert got == want == {199501: 1.0, 199502: 1.01}


# ---------------------------------------------------------------------------
# Probe-seed find (r10, seed 131): the IQR upper fence 1.5·q3 − 0.5·q1 is
# a dyadic rational on the EIGHTH-cent lattice, so it can land exactly ON
# a .5-cent midpoint where ROUND(x, 2) splits the engines (repr-HALF_UP
# vs binary: Spark rounds the shortest repr "10.015" up, DuckDB rounds
# the binary value down). 5 totals with q1 = 10.00 (exact rank), q3 =
# 10.01 put the fence at 10.015; the FLOOR half-up device computes the
# identical double chain in both engines — here the ×100 multiply snaps
# the just-below double onto exactly 1001.5, so BOTH give 10.02 (what
# matters is agreement, not which side of the true rational they land).
# ---------------------------------------------------------------------------
def test_iqr_fence_exact_half_cent_midpoint(spark, tmp_path):
    rows = [
        (1, 1, "F", 1.00, "1995-01-01", "1-URGENT"),
        (2, 1, "F", 10.00, "1995-01-02", "1-URGENT"),
        (3, 1, "F", 10.00, "1995-01-03", "1-URGENT"),
        (4, 1, "F", 10.01, "1995-01-04", "1-URGENT"),
        (5, 1, "F", 50.00, "1995-01-05", "1-URGENT"),
    ]
    sf, con = write_table(spark, tmp_path, "orders", rows)
    spark.read.parquet(f"{sf}/orders.parquet").createOrReplaceTempView("orders")
    sql = REGISTRY["sql_outlier_iqr_fences"].oracle
    got = spark.sql(sql).collect()
    want = con.execute(sql).fetchall()
    assert len(got) == len(want) == 1
    assert got[0].upper_fence == want[0][2] == 10.02
    assert got[0].n_outliers == want[0][1] == 1


# ---------------------------------------------------------------------------
# Probe finds 18-20 (r10, planted free-item lines): a ZERO-QUANTITY
# lineitem crashed (a) the synthesized partsupp proxy's MIN(price/qty) —
# ANSI 0-divide in Spark vs inf in DuckDB, reaching q2/q9/q11/q16/q20
# whenever runtime-filter pruning let the row survive — (b)
# pattern_vshape's zero-qty month cell, and (c) price_elasticity's
# log-log transform; a ZERO-PRICE line additionally split the engines on
# LN(0) (Spark NULL vs DuckDB error/-inf). All excluded at the source:
# zero-qty lines carry no unit cost; log domains require positives. The
# adopted sweep plants (lineitem rows 5 and 10) fail pre-fix registry-
# wide; these direct pins keep the operator-level contract visible.
# ---------------------------------------------------------------------------
def test_partsupp_proxy_skips_zero_quantity_lines(spark, tmp_path):
    from etl_pipeline_spark.plans.tpch_extended import _partsupp

    rows = [
        (1, 1, 1, 1, 10.0, 100.00, 0.0, 0.0, "N", "O", "1995-01-01"),
        (1, 1, 1, 2, 0.0, 55.00, 0.0, 0.0, "N", "O", "1995-01-02"),  # free
        (2, 2, 2, 1, 0.0, 0.00, 0.0, 0.0, "N", "O", "1995-01-03"),  # only
    ]
    sf, _ = write_table(spark, tmp_path, "lineitem", rows)
    got = {(r.ps_partkey, r.ps_suppkey): r for r in _partsupp(spark, sf).collect()}
    # the all-zero-qty (2,2) group has no unit cost and drops out
    assert set(got) == {(1, 1)}
    # the mixed group derives cost from the positive-qty line only
    assert got[(1, 1)].ps_supplycost == 10.0 and got[(1, 1)].ps_availqty == 10.0


def test_vshape_drops_zero_quantity_month(spark, tmp_path):
    rows = [
        (1, 1, 1, 1, 10.0, 100.00, 0.0, 0.0, "N", "O", "1995-01-10"),
        (2, 1, 1, 1, 0.0, 77.00, 0.0, 0.0, "N", "O", "1995-02-10"),  # qty-0
        (3, 1, 1, 1, 10.0, 50.00, 0.0, 0.0, "N", "O", "1995-03-10"),
    ]
    sf, con = write_table(spark, tmp_path, "lineitem", rows)
    spec = REGISTRY["pattern_vshape_prices"]
    df = spec.spark_fn(spark, sf)  # pre-fix: ANSI DIVIDE_BY_ZERO here
    assert_oracle_match(df, con, spec.oracle, "vshape_zero_qty_edge")


def test_price_elasticity_excludes_log_domain_violations(spark, tmp_path):
    rows = [
        (1, 1, 1, 1, 2.0, 100.00, 0.0, 0.0, "N", "O", "1995-01-10"),
        (2, 1, 1, 1, 0.0, 77.00, 0.0, 0.0, "N", "O", "1995-01-11"),  # qty-0
        (3, 1, 1, 1, 5.0, 0.00, 0.0, 0.0, "N", "O", "1995-01-12"),  # price-0
        (4, 1, 1, 1, 4.0, 120.00, 0.0, 0.0, "N", "O", "1995-01-13"),
    ]
    sf, _ = write_table(spark, tmp_path, "lineitem", rows)
    part = spark.createDataFrame(
        [(1, "BRAND_1")], "p_partkey bigint, p_brand string"
    )
    part.coalesce(1).write.parquet(str(tmp_path / "part.parquet"))
    spec = REGISTRY["price_elasticity_loglog"]
    df = spec.spark_fn(spark, sf)  # pre-fix: ANSI 0-divide / LN split
    con = _duck_for(sf, ["lineitem", "part"])
    assert_oracle_match(df, con, spec.oracle, "elasticity_domain_edge")
    assert df.collect()[0].n_lines == 2  # only the two in-domain lines


def test_fake_decode_null_payload_yields_null_features():
    """Probe finds 22-24 (NULL document bodies = absent blobs): the decode
    kernel must emit NULL byte/hash/dim features — mirroring the SQL
    oracle's NULL propagation — instead of crashing on bytes(None);
    kind-derived channels stay. (The derived extractors skip such rows;
    the adopted sweep plants pin those paths registry-wide.)"""
    import pandas as pd

    from etl_pipeline_spark.operators.multimodal import fake_decode_batch

    out = fake_decode_batch(
        pd.DataFrame(
            {
                "media_id": [1, 2],
                "kind": ["image", "audio"],
                "payload": [None, b"ab"],
                "meta_mime": [None, None],
                "meta_source": [None, None],
            }
        )
    )
    r0 = out.iloc[0]
    assert r0["n_bytes"] is None or pd.isna(r0["n_bytes"])
    assert r0["content_hash"] is None
    assert r0["channels"] == 3  # kind-derived, payload-independent
    assert out.iloc[1]["n_bytes"] == 2
