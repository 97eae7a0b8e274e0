"""Edge-input parity for the round-5 analytics queries: the SAME
Spark-vs-DuckDB hash comparison the driver runs, but on tiny synthetic
tables crafted to hit the branches sf-data never exercises — the KM
zero-survival factor, an ACF series shorter than the max lag, and a
single-customer Gini."""

from __future__ import annotations

import duckdb
import pytest

from etl_pipeline_spark.plans.registry import REGISTRY, _ensure_loaded
from tests.conftest import assert_oracle_match, write_table

_ensure_loaded()

_DAY_NS = 86_400_000_000_000
# events with ts as raw epoch nanoseconds, not a timestamp
_EVENTS_NS = (
    "event_id bigint, ts bigint, user_id bigint,"
    " event_type string, value double, props string"
)


def _duck_for(tmpdir, tables):
    con = duckdb.connect()
    for t in tables:
        # Spark writes <name>.parquet as a DIRECTORY of part files
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM"
            f" read_parquet('{tmpdir}/{t}.parquet/*.parquet')"
        )
    return con


@pytest.fixture()
def edge_events(spark, tmp_path):
    """User 1 churns at duration 10 days (the LAST at-risk row with no
    censoring → d == n_at_risk → the survival-0 branch); user 2 anchors
    the window edge (active in the final 3 days → censored, duration 0)."""
    rows = [
        (1, 0 * _DAY_NS, 1, "view", 1.0, "{}"),
        (2, 10 * _DAY_NS, 1, "view", 1.0, "{}"),
        (3, 40 * _DAY_NS, 2, "view", 1.0, "{}"),
    ]
    return write_table(spark, tmp_path, "events", rows, _EVENTS_NS)


def test_kaplan_meier_zero_survival_branch_parity(spark, edge_events):
    """Everyone at risk at the max duration churns: km_survival must be
    exactly 0.0 in BOTH engines (Spark LN(0) is NULL, DuckDB -inf — the
    cumulative dead-flag guard is what keeps them identical)."""
    spec = REGISTRY["kaplan_meier_retention"]
    sf, con = edge_events
    df = spec.spark_fn(spark, sf)
    # duckdb epoch_ns() needs a timestamp column; the synthetic table
    # ships ts as raw ns, so adapt the oracle's accessor
    oracle = spec.oracle.replace("epoch_ns(ts)", "ts")
    assert_oracle_match(df, con, oracle, "kaplan_meier_edge")
    rows = {r.duration_days: r for r in df.collect()}
    assert rows[10].km_survival == 0.0  # the zero-factor branch fired
    assert rows[0].n_censored == 1


@pytest.fixture()
def edge_orders(spark, tmp_path):
    """Three order days (shorter than the 7-lag ACF horizon) and a
    single customer (Gini == 0 by definition)."""
    rows = [
        (1, 7, "O", 100.0, "1995-01-01", "1-URGENT"),
        (2, 7, "O", 300.0, "1995-01-02", "1-URGENT"),
        (3, 7, "O", 200.0, "1995-01-03", "1-URGENT"),
    ]
    return write_table(spark, tmp_path, "orders", rows)


def test_acf_series_shorter_than_max_lag_parity(spark, edge_orders):
    """With 3 days, lags 3..7 have zero pairs: both engines must emit
    ONLY lags 1-2 (no null-acf rows, no division by empty sums)."""
    spec = REGISTRY["acf_daily_revenue"]
    sf, con = edge_orders
    df = spec.spark_fn(spark, sf)
    assert_oracle_match(df, con, spec.oracle, "acf_edge")
    lags = {r.lag: r.n_pairs for r in df.collect()}
    assert lags == {1: 2, 2: 1}


def test_gini_single_customer_parity(spark, edge_orders):
    """One customer owns all revenue: G = 2·1·x/(1·x) − 2/1 = 0 — the
    degenerate-but-defined case."""
    spec = REGISTRY["gini_revenue_concentration"]
    sf, con = edge_orders
    df = spec.spark_fn(spark, sf)
    assert_oracle_match(df, con, spec.oracle, "gini_edge")
    row = df.collect()[0]
    assert row.n_customers == 1 and row.gini == 0.0


# --- round-5 wave-2 edges -------------------------------------------------


def test_ewma_short_series_and_alarm_branch_parity(spark, edge_orders):
    """3 days < the 20-term truncation horizon: the weight-sum
    normalizer must renormalize identically in both engines, and day 2
    (300 > 1.5 x 100-EWMA) must fire the alarm exactly once."""
    spec = REGISTRY["ewma_control_chart_daily"]
    sf, con = edge_orders
    df = spec.spark_fn(spark, sf)
    assert_oracle_match(df, con, spec.oracle, "ewma_edge")
    rows = sorted(df.collect(), key=lambda r: r.day_epoch)
    assert [r.alarm for r in rows] == [0, 1, 0]
    assert rows[0].ewma == 100.0  # single-term EWMA is the value itself


@pytest.fixture()
def tie_orders(spark, tmp_path):
    """Two tied daily revenues (100, 100, 200) — the Mann-Kendall
    tie-correction branch sf-data never hits (continuous revenue)."""
    rows = [
        (1, 7, "O", 100.0, "1995-01-01", "1-URGENT"),
        (2, 7, "O", 100.0, "1995-01-02", "1-URGENT"),
        (3, 7, "O", 200.0, "1995-01-03", "1-URGENT"),
    ]
    df = spark.createDataFrame(
        rows,
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string,"
        " o_totalprice double, o_orderdate string, o_orderpriority string",
    ).selectExpr(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "CAST(o_orderdate AS TIMESTAMP_NTZ) AS o_orderdate",
        "o_orderpriority",
    )
    df.coalesce(1).write.parquet(str(tmp_path / "orders.parquet"))
    return str(tmp_path)


def test_mann_kendall_tie_correction_parity(spark, tie_orders):
    """S = 0 + 1 + 1 = 2; one tie group of size 2 subtracts
    t(t-1)(2t+5) = 18 from the variance numerator: var_s = 48/18."""
    spec = REGISTRY["mann_kendall_trend_revenue"]
    df = spec.spark_fn(spark, tie_orders)
    con = _duck_for(tie_orders, ["orders"])
    assert_oracle_match(df, con, spec.oracle, "mk_tie_edge")
    row = df.collect()[0]
    assert row.s_stat == 2 and row.var_s == round(48 / 18, 6)
    assert row.trend == "no_trend"


@pytest.fixture()
def edge_purchase_events(spark, tmp_path):
    """User 1 purchases on days 1,2,3 and 5,6 (a gap splits the island:
    max streak 3); user 2 on one day (streak 1). User 2's second event
    is a duplicate same-day purchase (the DISTINCT guard)."""
    rows = [
        (1, 1 * _DAY_NS, 1, "purchase", 10.0, "{}"),
        (2, 2 * _DAY_NS, 1, "purchase", 10.0, "{}"),
        (3, 3 * _DAY_NS, 1, "purchase", 10.0, "{}"),
        (4, 5 * _DAY_NS, 1, "purchase", 10.0, "{}"),
        (5, 6 * _DAY_NS, 1, "purchase", 10.0, "{}"),
        (6, 4 * _DAY_NS, 2, "purchase", 10.0, "{}"),
        (7, 4 * _DAY_NS + 5, 2, "purchase", 10.0, "{}"),
        (8, 9 * _DAY_NS, 2, "view", 10.0, "{}"),
    ]
    return write_table(spark, tmp_path, "events", rows, _EVENTS_NS)


def test_purchase_streaks_gap_splits_island_parity(spark, edge_purchase_events):
    spec = REGISTRY["purchase_streaks_histogram"]
    sf, con = edge_purchase_events
    df = spec.spark_fn(spark, sf)
    oracle = spec.oracle.replace("epoch_ns(ts)", "ts")
    assert_oracle_match(df, con, oracle, "streaks_edge")
    hist = {r.max_streak: r.n_users for r in df.collect()}
    assert hist == {3: 1, 1: 1}


def test_purchase_streaks_no_purchases_is_empty_both_engines(
    spark, edge_events
):
    """edge_events is views-only: zero purchase rows must yield an
    EMPTY result in both engines (not a null/zero row)."""
    spec = REGISTRY["purchase_streaks_histogram"]
    sf, con = edge_events
    df = spec.spark_fn(spark, sf)
    oracle = spec.oracle.replace("epoch_ns(ts)", "ts")
    assert_oracle_match(df, con, oracle, "streaks_empty_edge")
    assert df.count() == 0


def test_nelson_aalen_terminal_group_parity(spark, edge_events):
    """The last at-risk group churns whole (d == n_at_risk): the hazard
    increment is exactly 1.0 — no zero-branch needed (unlike KM's
    product form); Breslow survival = exp(-1)."""
    spec = REGISTRY["nelson_aalen_hazard"]
    sf, con = edge_events
    df = spec.spark_fn(spark, sf)
    oracle = spec.oracle.replace("epoch_ns(ts)", "ts")
    assert_oracle_match(df, con, oracle, "na_edge")
    rows = {r.duration_days: r for r in df.collect()}
    assert rows[0].cum_hazard == 0.0 and rows[0].breslow_survival == 1.0
    assert rows[10].cum_hazard == 1.0
    assert rows[10].breslow_survival == round(2.718281828459045**-1, 6)


@pytest.fixture()
def edge_lineitem(spark, tmp_path):
    """Order 1 carries part 1 TWICE (two line numbers — the DISTINCT
    basket guard) plus part 2; order 2 is a single-part basket (emits
    no pairs)."""
    rows = [
        (1, 1, 1, 1, 1.0, 10.0, 0.0, 0.0, "N", "O", "1995-01-01"),
        (1, 1, 1, 2, 1.0, 10.0, 0.0, 0.0, "N", "O", "1995-01-02"),
        (1, 2, 1, 3, 1.0, 10.0, 0.0, 0.0, "N", "O", "1995-01-03"),
        (2, 3, 1, 1, 1.0, 10.0, 0.0, 0.0, "N", "O", "1995-01-04"),
    ]
    return write_table(spark, tmp_path, "lineitem", rows)


def test_item_cooccurrence_distinct_and_singleton_parity(spark, edge_lineitem):
    """Duplicate lines collapse before pairing (n_ab = 1, not 2);
    single-part baskets emit nothing; cosine of a unique pair of
    once-seen parts is exactly 1.0."""
    spec = REGISTRY["item_cooccurrence_topk"]
    sf, con = edge_lineitem
    df = spec.spark_fn(spark, sf)
    assert_oracle_match(df, con, spec.oracle, "cooc_edge")
    rows = df.collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.part_a, r.part_b, r.n_ab, r.cosine) == (1, 2, 1, 1.0)


@pytest.fixture()
def all_converted_events(spark, tmp_path):
    """Every user (one per cohort) logs >= 15 purchases: x == n on both
    sides — the degenerate branch where the pooled variance is 0 and z
    must be NULL (not a div-by-zero) in both engines."""
    rows = [
        (i * 100 + u, i * 1_000_000_000, u, "purchase", 1.0, "{}")
        for u in (1, 2)
        for i in range(15)
    ]
    return write_table(spark, tmp_path, "events", rows, _EVENTS_NS)


def test_ztest_degenerate_all_convert_parity(spark, all_converted_events):
    spec = REGISTRY["ztest_conversion_ab"]
    sf, con = all_converted_events
    df = spec.spark_fn(spark, sf)
    assert_oracle_match(df, con, spec.oracle, "ztest_degenerate_edge")
    row = df.collect()[0]
    assert (row.n_a, row.x_a, row.n_b, row.x_b) == (1, 1, 1, 1)
    assert row.z is None and row.significant == 0


def test_cohort_ltv_views_only_cohort_parity(spark, edge_events):
    """A cohort with zero purchase revenue: LTV rows exist (users are
    active) with ltv_per_user exactly 0."""
    spec = REGISTRY["cohort_ltv_curve"]
    sf, con = edge_events
    df = spec.spark_fn(spark, sf)
    oracle = spec.oracle.replace(
        "EXTRACT(year FROM ts)", "EXTRACT(year FROM make_timestamp(ts // 1000))"
    ).replace(
        "EXTRACT(month FROM ts)",
        "EXTRACT(month FROM make_timestamp(ts // 1000))",
    )
    assert_oracle_match(df, con, oracle, "ltv_views_only_edge")
    assert all(r.ltv_per_user == 0.0 for r in df.collect())


# --- round-5 wave-3 edges -------------------------------------------------


def test_seasonal_decompose_short_series_is_empty(spark, edge_orders):
    """3 days < the 7-day centered window: no day has a full trend
    window, so BOTH engines must return an empty relation (the
    trend-undefined edge, not a null-effect row)."""
    spec = REGISTRY["seasonal_decompose_weekday"]
    sf, con = edge_orders
    df = spec.spark_fn(spark, sf)
    assert_oracle_match(df, con, spec.oracle, "seasonal_short_edge")
    assert df.count() == 0


@pytest.fixture()
def metronome_events(spark, tmp_path):
    """User 1 fires every 10 s exactly (σ = 0 → B = −1, the regular
    floor); user 2 has a single event (no gaps — excluded); user 3's
    two gaps are 1 s and 3 s (σ = 1, μ = 2 → B = −1/3, bin −4)."""
    ns = 1_000_000_000
    rows = (
        [(i, i * 10 * ns, 1, "view", 1.0, "{}") for i in range(1, 4)]
        + [(10, 5 * ns, 2, "view", 1.0, "{}")]
        + [
            (21, 100 * ns, 3, "view", 1.0, "{}"),
            (22, 101 * ns, 3, "view", 1.0, "{}"),
            (23, 104 * ns, 3, "view", 1.0, "{}"),
        ]
    )
    return write_table(spark, tmp_path, "events", rows, _EVENTS_NS)


def test_burstiness_regular_and_no_gap_users_parity(spark, metronome_events):
    spec = REGISTRY["burstiness_user_interarrival"]
    sf, con = metronome_events
    df = spec.spark_fn(spark, sf)
    oracle = spec.oracle.replace("epoch_ns(ts)", "ts")
    assert_oracle_match(df, con, oracle, "burstiness_edge")
    bins = {r.b_bin: r for r in df.collect()}
    assert bins[-10].n_users == 1 and bins[-10].avg_b == -1.0  # metronome
    assert bins[-4].n_users == 1  # B = -1/3 floors to bin -4
    assert sum(r.n_users for r in bins.values()) == 2  # user 2 excluded


@pytest.fixture()
def two_year_lineitem(spark, tmp_path):
    """Part 1 trades in both years (price 1.00 → 1.50); part 2 only in
    the base year (contributes to the base row only); part 3 only in
    the later year (matched-basket: excluded everywhere)."""
    rows = [
        (1, 1, 1, 1, 1.0, 1.00, 0.0, 0.0, "N", "O", "1995-03-01"),
        (2, 1, 1, 1, 1.0, 1.00, 0.0, 0.0, "N", "O", "1995-06-01"),
        (3, 2, 1, 1, 2.0, 4.00, 0.0, 0.0, "N", "O", "1995-07-01"),
        (4, 1, 1, 1, 2.0, 3.00, 0.0, 0.0, "N", "O", "1996-03-01"),
        (5, 3, 1, 1, 1.0, 9.00, 0.0, 0.0, "N", "O", "1996-05-01"),
    ]
    df = spark.createDataFrame(
        rows,
        "l_orderkey bigint, l_partkey bigint, l_suppkey bigint,"
        " l_linenumber int, l_quantity double, l_extendedprice double,"
        " l_discount double, l_tax double, l_returnflag string,"
        " l_linestatus string, l_shipdate string",
    ).selectExpr(
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus",
        "CAST(l_shipdate AS TIMESTAMP_NTZ) AS l_shipdate",
    )
    df.coalesce(1).write.parquet(str(tmp_path / "lineitem.parquet"))
    return str(tmp_path)


def test_price_index_matched_basket_parity(spark, two_year_lineitem):
    """Base 1995: part 1 unit 100c (q=2 across two lines), part 2 unit
    200c (q=2). 1996: part 1 unit 150c — Laspeyres = (150·2 + excluded)
    over part-1-and-2 base basket restricted to matched parts = 150·2 /
    100·2 = 1.5; part 3 never contributes."""
    spec = REGISTRY["price_index_laspeyres"]
    df = spec.spark_fn(spark, two_year_lineitem)
    con = _duck_for(two_year_lineitem, ["lineitem"])
    assert_oracle_match(df, con, spec.oracle, "price_index_edge")
    rows = {r.yr: r for r in df.collect()}
    assert rows[1995].laspeyres == 1.0 and rows[1995].n_parts == 2
    assert rows[1996].n_parts == 1
    assert rows[1996].laspeyres == 1.5
    assert rows[1996].fisher == 1.5  # single matched part: L == P == F


@pytest.fixture()
def star_lineitem(spark, tmp_path):
    """Suppliers 1-4 where supplier 1 co-occurs with each leaf in its
    own order: the co-supplier graph is a STAR — the textbook closed
    form for both graph metrics (assortativity −1; deterministic LPA
    bi-partitions hub vs leaves, so modularity = −2·(1/2)² = −0.5)."""
    rows = [
        (1, 1, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", "1995-01-01"),
        (1, 2, 2, 2, 1.0, 1.0, 0.0, 0.0, "N", "O", "1995-01-01"),
        (2, 3, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", "1995-01-02"),
        (2, 4, 3, 2, 1.0, 1.0, 0.0, 0.0, "N", "O", "1995-01-02"),
        (3, 5, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", "1995-01-03"),
        (3, 6, 4, 2, 1.0, 1.0, 0.0, 0.0, "N", "O", "1995-01-03"),
    ]
    df = spark.createDataFrame(
        rows,
        "l_orderkey bigint, l_partkey bigint, l_suppkey bigint,"
        " l_linenumber int, l_quantity double, l_extendedprice double,"
        " l_discount double, l_tax double, l_returnflag string,"
        " l_linestatus string, l_shipdate string",
    ).selectExpr(
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus",
        "CAST(l_shipdate AS TIMESTAMP_NTZ) AS l_shipdate",
    )
    df.coalesce(1).write.parquet(str(tmp_path / "lineitem.parquet"))
    return str(tmp_path)


def test_star_graph_assortativity_is_minus_one_parity(spark, star_lineitem):
    spec = REGISTRY["assortativity_cosupplier"]
    df = spec.spark_fn(spark, star_lineitem)
    con = _duck_for(star_lineitem, ["lineitem"])
    assert_oracle_match(df, con, spec.oracle, "assort_star_edge")
    row = df.collect()[0]
    assert row.m_sym_edges == 6 and row.assortativity == -1.0


def test_star_graph_modularity_closed_form_parity(spark, star_lineitem):
    spec = REGISTRY["modularity_cosupplier"]
    df = spec.spark_fn(spark, star_lineitem)
    con = _duck_for(star_lineitem, ["lineitem"])
    assert_oracle_match(df, con, spec.oracle, "modularity_star_edge")
    row = df.collect()[0]
    assert row.m_edges == 3
    assert row.n_communities == 2  # hub vs leaves after 3 LPA rounds
    assert row.modularity_q == -0.5


# --- round-5 wave-5 edges -------------------------------------------------


@pytest.fixture()
def bounce_events(spark, tmp_path):
    """User 1: one 2-event session (not a bounce); user 2: a single
    event (bounce); user 3: a session STARTING at 23:50 whose second
    event lands after midnight — counted once, under the start day."""
    ns = 1_000_000_000
    h = 3600 * ns
    rows = [
        (1, 10 * h, 1, "view", 1.0, "{}"),
        (2, 10 * h + 600 * ns, 1, "view", 1.0, "{}"),
        (3, 11 * h, 2, "view", 1.0, "{}"),
        (4, 23 * h + 3000 * ns, 3, "view", 1.0, "{}"),
        (5, 24 * h + 300 * ns, 3, "view", 1.0, "{}"),
    ]
    return write_table(spark, tmp_path, "events", rows, _EVENTS_NS)


def test_bounce_rate_midnight_session_counts_once_parity(spark, bounce_events):
    spec = REGISTRY["session_bounce_rate"]
    sf, con = bounce_events
    df = spec.spark_fn(spark, sf)
    oracle = spec.oracle.replace("epoch_ns(ts)", "ts")
    assert_oracle_match(df, con, oracle, "bounce_edge")
    rows = {r.start_day: r for r in df.collect()}
    assert rows[0].n_sessions == 3  # midnight-crossing session on day 0
    assert rows[0].n_bounce == 1
    assert rows[0].bounce_rate == round(1 / 3, 6)
    assert 1 not in rows  # nothing double-counted on day 1


@pytest.fixture()
def monopoly_tables(spark, tmp_path):
    """Segment A: one customer owns all revenue (HHI = 10000, the
    monopoly ceiling); segment B: two equal customers (HHI = 5000)."""
    orders = [
        (1, 1, "O", 100.0, "1995-01-01", "1-URGENT"),
        (2, 2, "O", 50.0, "1995-01-02", "1-URGENT"),
        (3, 3, "O", 50.0, "1995-01-03", "1-URGENT"),
    ]
    customers = [
        (1, "Customer#1", 0, 0.0, "A"),
        (2, "Customer#2", 0, 0.0, "B"),
        (3, "Customer#3", 0, 0.0, "B"),
    ]
    spark.createDataFrame(
        orders,
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string,"
        " o_totalprice double, o_orderdate string, o_orderpriority string",
    ).selectExpr(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "CAST(o_orderdate AS TIMESTAMP_NTZ) AS o_orderdate",
        "o_orderpriority",
    ).coalesce(1).write.parquet(str(tmp_path / "orders.parquet"))
    spark.createDataFrame(
        customers,
        "c_custkey bigint, c_name string, c_nationkey int,"
        " c_acctbal double, c_mktsegment string",
    ).coalesce(1).write.parquet(str(tmp_path / "customer.parquet"))
    return str(tmp_path)


def test_hhi_monopoly_and_duopoly_closed_forms_parity(spark, monopoly_tables):
    spec = REGISTRY["hhi_segment_concentration"]
    df = spec.spark_fn(spark, monopoly_tables)
    con = _duck_for(monopoly_tables, ["orders", "customer"])
    assert_oracle_match(df, con, spec.oracle, "hhi_edge")
    rows = {r.c_mktsegment: r for r in df.collect()}
    assert rows["A"].hhi == 10000.0 and rows["A"].top_share == 1.0
    assert rows["B"].hhi == 5000.0 and rows["B"].top_share == 0.5


@pytest.fixture()
def dup_documents(spark, tmp_path):
    """Docs 1 and 2 are identical 8-token texts (their single 8-gram is
    duplicated); doc 3 has 7 tokens (below the n-gram width — excluded
    in both engines); doc 4 contributes two unique 8-grams."""
    rows = [
        (1, "a b c d e f g h", "en", "s", 15),
        (2, "a b c d e f g h", "en", "s", 15),
        (3, "a b c d e f g", "en", "s", 13),
        (4, "p q r s t u v w x", "en", "s", 17),
    ]
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))
    return str(tmp_path)


def test_ngram_dup_mass_short_doc_excluded_parity(spark, dup_documents):
    spec = REGISTRY["crossdoc_ngram_dup_mass"]
    df = spec.spark_fn(spark, dup_documents)
    con = _duck_for(dup_documents, ["documents"])
    assert_oracle_match(df, con, spec.oracle, "dupmass_edge")
    row = df.collect()[0]
    assert (row.n_instances, row.n_distinct, row.dup_instances) == (4, 3, 2)
    assert row.dup_mass == 0.5


@pytest.fixture()
def post_only_events(spark, tmp_path):
    """All purchases land AFTER the event-time midpoint: the DiD pre
    cells are empty (NULL means, NULL estimate — not a crash) and the
    CUPED pre-period covariate is constant 0 (zero variance → NULL θ,
    the exact MIN=MAX guard, never a div-by-zero or an ε-vs-0 flake)."""
    ns = 1_000_000_000
    rows = [
        (1, 0 * ns, 1, "view", 1.0, "{}"),
        (2, 0 * ns, 2, "view", 1.0, "{}"),
        (3, 90 * ns, 1, "purchase", 5.00, "{}"),
        (4, 100 * ns, 2, "purchase", 7.00, "{}"),
    ]
    return write_table(spark, tmp_path, "events", rows, _EVENTS_NS)


def test_did_null_pre_cells_parity(spark, post_only_events):
    spec = REGISTRY["diff_in_diff_purchase"]
    sf, con = post_only_events
    df = spec.spark_fn(spark, sf)
    oracle = spec.oracle.replace("epoch_ns(ts)", "ts")
    assert_oracle_match(df, con, oracle, "did_edge")
    row = df.collect()[0]
    assert row.n_purchases == 2
    assert row.treat_pre_mean is None and row.ctrl_pre_mean is None
    assert row.did_estimate is None
    assert row.treat_post_mean == 5.0 and row.ctrl_post_mean == 7.0


def test_cuped_constant_covariate_parity(spark, post_only_events):
    spec = REGISTRY["cuped_variance_reduction"]
    sf, con = post_only_events
    df = spec.spark_fn(spark, sf)
    oracle = spec.oracle.replace("epoch_ns(ts)", "ts")
    assert_oracle_match(df, con, oracle, "cuped_edge")
    row = df.collect()[0]
    assert row.n_users == 2
    assert row.theta is None and row.var_cuped is None
    assert row.variance_reduction is None
    assert row.var_y == 1.0  # cents var 10000 (±100 around mean) / 10000


@pytest.fixture()
def collide_customers(spark, tmp_path):
    """Customers 1 and 2 share (nationkey, acctbal) — a rule-2 FALSE
    match (they are different people); customer 3 has its injected
    variant (the only TRUE pair). Precision must drop to 1/2 while
    recall stays 1."""
    customers = [
        (1, "Alice", 0, 10.0, "A"),
        (2, "Bob", 0, 10.0, "A"),
        (3, "Carol", 1, 20.0, "B"),
    ]
    spark.createDataFrame(
        customers,
        "c_custkey bigint, c_name string, c_nationkey int,"
        " c_acctbal double, c_mktsegment string",
    ).coalesce(1).write.parquet(str(tmp_path / "customer.parquet"))
    return str(tmp_path)


def test_er_eval_false_match_halves_precision_parity(spark, collide_customers):
    spec = REGISTRY["er_precision_recall"]
    df = spec.spark_fn(spark, collide_customers)
    con = _duck_for(collide_customers, ["customer"])
    assert_oracle_match(df, con, spec.oracle, "er_eval_edge")
    row = df.collect()[0]
    assert (row.n_pred, row.n_truth, row.n_tp) == (2, 1, 1)
    assert row.precision == 0.5 and row.recall == 1.0
    assert row.f1 == round(2 * 0.5 * 1.0 / 1.5, 6)


@pytest.fixture()
def gap_orders(spark, tmp_path):
    """Days 1,2,3,5: the day-4 gap must INVALIDATE day 5's naive
    forecast (calendar join, not row adjacency), and a 4-day history
    has no seasonal-naive (t−7) rows at all."""
    rows = [
        (1, 7, "O", 1.00, "1970-01-02", "1-URGENT"),
        (2, 7, "O", 2.00, "1970-01-03", "1-URGENT"),
        (3, 7, "O", 1.00, "1970-01-04", "1-URGENT"),
        (4, 7, "O", 4.00, "1970-01-06", "1-URGENT"),
    ]
    df = spark.createDataFrame(
        rows,
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string,"
        " o_totalprice double, o_orderdate string, o_orderpriority string",
    ).selectExpr(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "CAST(o_orderdate AS TIMESTAMP_NTZ) AS o_orderdate",
        "o_orderpriority",
    )
    df.coalesce(1).write.parquet(str(tmp_path / "orders.parquet"))
    return str(tmp_path)


def test_forecast_backtest_gap_invalidates_naive_parity(spark, gap_orders):
    spec = REGISTRY["forecast_backtest_mape"]
    df = spec.spark_fn(spark, gap_orders)
    con = _duck_for(gap_orders, ["orders"])
    assert_oracle_match(df, con, spec.oracle, "forecast_edge")
    rows = {r.model: r for r in df.collect()}
    assert set(rows) == {"naive"}  # no t-7 history → no seasonal row
    assert rows["naive"].n_days == 2  # day 5 dropped (day-4 gap)
    assert rows["naive"].mape == 0.75 and rows["naive"].mae == 1.0


@pytest.fixture()
def skewed_status_orders(spark, tmp_path):
    """Global status distribution is 50/50 F/O. Group URGENT is all-F
    and group HIGH all-O (t = 0.5 each — the MISSING status must
    contribute |0 − q|, not vanish); group MEDIUM mirrors the global
    distribution exactly (t = 0)."""
    rows = [
        (1, 7, "F", 10.0, "1995-01-01", "1-URGENT"),
        (2, 7, "F", 10.0, "1995-02-01", "1-URGENT"),
        (3, 7, "O", 10.0, "1995-03-01", "2-HIGH"),
        (4, 7, "O", 10.0, "1995-04-01", "2-HIGH"),
        (5, 7, "F", 10.0, "1995-05-01", "3-MEDIUM"),
        (6, 7, "O", 10.0, "1995-06-01", "3-MEDIUM"),
    ]
    df = spark.createDataFrame(
        rows,
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string,"
        " o_totalprice double, o_orderdate string, o_orderpriority string",
    ).selectExpr(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "CAST(o_orderdate AS TIMESTAMP_NTZ) AS o_orderdate",
        "o_orderpriority",
    )
    df.coalesce(1).write.parquet(str(tmp_path / "orders.parquet"))
    return str(tmp_path)


def test_t_closeness_missing_status_counts_parity(spark, skewed_status_orders):
    spec = REGISTRY["t_closeness_audit"]
    df = spec.spark_fn(spark, skewed_status_orders)
    con = _duck_for(skewed_status_orders, ["orders"])
    assert_oracle_match(df, con, spec.oracle, "tclose_edge")
    rows = {r.o_orderpriority: r for r in df.collect()}
    assert rows["1-URGENT"].t_distance == 0.5
    assert rows["1-URGENT"].is_violation == 1
    assert rows["2-HIGH"].t_distance == 0.5
    assert rows["3-MEDIUM"].t_distance == 0.0
    assert rows["3-MEDIUM"].is_violation == 0


def test_seasonal_anomaly_short_series_empty(spark, edge_orders):
    """3 days < the 7-day trend window: no residual series exists, so
    the report is empty in both engines (no NULL-threshold crash)."""
    spec = REGISTRY["seasonal_residual_anomalies"]
    sf, con = edge_orders
    df = spec.spark_fn(spark, sf)
    assert_oracle_match(df, con, spec.oracle, "sra_short_edge")
    assert df.count() == 0


@pytest.fixture()
def spike_orders(spark, tmp_path):
    """21 days of mildly varying revenue with a 10× spike on day 11
    (epoch day 10): the MAD screen must flag the spike."""
    rows = []
    for i in range(21):
        rev = 1000.0 + (i % 3) * 10  # deterministic wiggle keeps MAD > 0
        if i == 10:
            rev = 10000.0
        rows.append(
            (i + 1, 7, "O", rev, f"1970-01-{i + 1:02d}", "1-URGENT")
        )
    df = spark.createDataFrame(
        rows,
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string,"
        " o_totalprice double, o_orderdate string, o_orderpriority string",
    ).selectExpr(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "CAST(o_orderdate AS TIMESTAMP_NTZ) AS o_orderdate",
        "o_orderpriority",
    )
    df.coalesce(1).write.parquet(str(tmp_path / "orders.parquet"))
    return str(tmp_path)


def test_seasonal_anomaly_flags_spike_parity(spark, spike_orders):
    spec = REGISTRY["seasonal_residual_anomalies"]
    df = spec.spark_fn(spark, spike_orders)
    con = _duck_for(spike_orders, ["orders"])
    assert_oracle_match(df, con, spec.oracle, "sra_spike_edge")
    rows = sorted(df.collect(), key=lambda r: -r.score)
    assert rows, "spike must be flagged"
    assert rows[0].day_epoch == 10 and rows[0].rev == 10000.0


def test_spearman_ties_yield_null_on_constant_rank(spark, tie_orders):
    """tie_orders has one order per day (y constant): average-rank ties
    make ry degenerate — ρ must be NULL via the exact MIN=MAX guard,
    not a div-by-zero."""
    spec = REGISTRY["spearman_corr_daily"]
    df = spec.spark_fn(spark, tie_orders)
    con = _duck_for(tie_orders, ["orders"])
    assert_oracle_match(df, con, spec.oracle, "spearman_const_edge")
    row = df.collect()[0]
    assert row.n_days == 3 and row.spearman_rho is None


@pytest.fixture()
def monotone_orders(spark, tmp_path):
    """Revenue and order count both strictly increase by day: ρ = 1
    exactly (rank vectors identical)."""
    rows, key = [], 1
    for day in range(1, 4):
        for _ in range(day):  # day d has d orders of 100 each
            rows.append(
                (key, 7, "O", 100.0, f"1970-01-{day + 1:02d}", "1-URGENT")
            )
            key += 1
    df = spark.createDataFrame(
        rows,
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string,"
        " o_totalprice double, o_orderdate string, o_orderpriority string",
    ).selectExpr(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "CAST(o_orderdate AS TIMESTAMP_NTZ) AS o_orderdate",
        "o_orderpriority",
    )
    df.coalesce(1).write.parquet(str(tmp_path / "orders.parquet"))
    return str(tmp_path)


def test_spearman_perfect_monotone_is_one_parity(spark, monotone_orders):
    spec = REGISTRY["spearman_corr_daily"]
    df = spec.spark_fn(spark, monotone_orders)
    con = _duck_for(monotone_orders, ["orders"])
    assert_oracle_match(df, con, spec.oracle, "spearman_mono_edge")
    assert df.collect()[0].spearman_rho == 1.0


@pytest.fixture()
def separable_orders(spark, tmp_path):
    """Price < 10000 is all-URGENT, >= 10000 all-LOW: the bin-boundary
    split at 10000 is PERFECT (weighted Gini 0, gain = base Gini)."""
    rows = [
        (1, 7, "O", 5000.0, "1995-01-01", "1-URGENT"),
        (2, 7, "O", 6000.0, "1995-01-02", "1-URGENT"),
        (3, 7, "O", 15000.0, "1995-01-03", "5-LOW"),
        (4, 7, "O", 16000.0, "1995-01-04", "5-LOW"),
    ]
    df = spark.createDataFrame(
        rows,
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string,"
        " o_totalprice double, o_orderdate string, o_orderpriority string",
    ).selectExpr(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "CAST(o_orderdate AS TIMESTAMP_NTZ) AS o_orderdate",
        "o_orderpriority",
    )
    df.coalesce(1).write.parquet(str(tmp_path / "orders.parquet"))
    return str(tmp_path)


def test_gini_split_perfect_separation_parity(spark, separable_orders):
    spec = REGISTRY["gini_split_finder_price"]
    df = spec.spark_fn(spark, separable_orders)
    con = _duck_for(separable_orders, ["orders"])
    assert_oracle_match(df, con, spec.oracle, "gini_split_edge")
    row = df.collect()[0]
    assert row.threshold == 10000 and (row.n_left, row.n_right) == (2, 2)
    assert row.weighted_gini == 0.0
    assert row.gini_gain == 0.5  # base Gini of a 50/50 two-class mix


@pytest.fixture()
def identical_embeddings(spark, tmp_path):
    """Five IDENTICAL vectors (every cosine exactly 1 — ranking falls
    entirely to the vec_id tiebreak): labels 1,1,1,2,2. Query 0 sees a
    2-2 vote tie (its own class minus self vs the other class), which
    must break to the SMALLEST label. Vectors are EMB_DIM-wide so the
    r11 validity convention (sources/embeddings.py) keeps them."""
    v = [1.0] + [0.0] * 63
    rows = [
        (0, v, 1),
        (1, v, 1),
        (2, v, 1),
        (3, v, 2),
        (4, v, 2),
    ]
    spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    ).coalesce(1).write.parquet(str(tmp_path / "embeddings.parquet"))
    return str(tmp_path)


def test_knn_vote_tie_breaks_to_smallest_label_parity(
    spark, identical_embeddings
):
    spec = REGISTRY["knn_label_accuracy"]
    df = spec.spark_fn(spark, identical_embeddings)
    con = _duck_for(identical_embeddings, ["embeddings"])
    assert_oracle_match(df, con, spec.oracle, "knn_tie_edge")
    rows = {r.query_id: r for r in df.collect()}
    assert rows[0].pred_label == 1 and rows[0].correct == 1  # 2-2 tie -> 1
    assert rows[3].pred_label == 1 and rows[3].correct == 0  # swamped 3-1
    assert rows[4].pred_label == 1 and rows[4].correct == 0


@pytest.fixture()
def repeat_customer_orders(spark, tmp_path):
    """Customer 1 places TWO orders on their first day (both are 'new'
    revenue) and one the day after ('returning'); customer 2 orders
    once and must never appear in the returning counts."""
    rows = [
        (1, 1, "O", 10.0, "1970-01-02", "1-URGENT"),
        (2, 1, "O", 20.0, "1970-01-02", "1-URGENT"),
        (3, 1, "O", 40.0, "1970-01-03", "1-URGENT"),
        (4, 2, "O", 5.0, "1970-01-02", "1-URGENT"),
    ]
    df = spark.createDataFrame(
        rows,
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string,"
        " o_totalprice double, o_orderdate string, o_orderpriority string",
    ).selectExpr(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "CAST(o_orderdate AS TIMESTAMP_NTZ) AS o_orderdate",
        "o_orderpriority",
    )
    df.coalesce(1).write.parquet(str(tmp_path / "orders.parquet"))
    return str(tmp_path)


def test_new_vs_returning_same_day_repeat_parity(spark, repeat_customer_orders):
    spec = REGISTRY["new_vs_returning_revenue"]
    df = spec.spark_fn(spark, repeat_customer_orders)
    con = _duck_for(repeat_customer_orders, ["orders"])
    assert_oracle_match(df, con, spec.oracle, "nvr_edge")
    rows = {r.day_epoch: r for r in df.collect()}
    d1, d2 = rows[1], rows[2]
    assert d1.rev_new == 35.0 and d1.rev_returning == 0.0
    assert d1.n_new_customers == 2 and d1.n_returning_customers == 0
    assert d2.rev_new == 0.0 and d2.rev_returning == 40.0
    assert d2.n_returning_customers == 1


@pytest.fixture()
def abcxyz_lineitem(spark, tmp_path):
    """Part 1: 80% of revenue, constant monthly qty (CV 0 → A/X,
    cumulative share lands EXACTLY on the 0.80 boundary — must class A
    via the rounded <=). Part 2: 20% of revenue, monthly qty 1 then 9
    (CV 0.8 → C/Y)."""
    rows = [
        # part 1: 4 months × qty 10, price 20 each month → rev 80
        *[
            (m + 1, 1, 1, 1, 10.0, 20.0, 0.0, 0.0, "N", "O",
             f"1995-{m + 1:02d}-15")
            for m in range(4)
        ],
        # part 2: qty 1 then 9, rev 10 + 10 = 20
        (11, 2, 1, 1, 1.0, 10.0, 0.0, 0.0, "N", "O", "1995-05-15"),
        (12, 2, 1, 1, 9.0, 10.0, 0.0, 0.0, "N", "O", "1995-06-15"),
    ]
    df = spark.createDataFrame(
        rows,
        "l_orderkey bigint, l_partkey bigint, l_suppkey bigint,"
        " l_linenumber int, l_quantity double, l_extendedprice double,"
        " l_discount double, l_tax double, l_returnflag string,"
        " l_linestatus string, l_shipdate string",
    ).selectExpr(
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus",
        "CAST(l_shipdate AS TIMESTAMP_NTZ) AS l_shipdate",
    )
    df.coalesce(1).write.parquet(str(tmp_path / "lineitem.parquet"))
    return str(tmp_path)


def test_abc_xyz_boundary_and_cv_classes_parity(spark, abcxyz_lineitem):
    spec = REGISTRY["abc_xyz_inventory_matrix"]
    df = spec.spark_fn(spark, abcxyz_lineitem)
    con = _duck_for(abcxyz_lineitem, ["lineitem"])
    assert_oracle_match(df, con, spec.oracle, "abcxyz_edge")
    cells = {(r.abc_class, r.xyz_class): r for r in df.collect()}
    assert set(cells) == {("A", "X"), ("C", "Y")}
    assert cells[("A", "X")].n_parts == 1
    assert cells[("A", "X")].revenue == 80.0  # exact-0.80 share -> A
    assert cells[("C", "Y")].revenue == 20.0  # CV = 4/5 -> Y
