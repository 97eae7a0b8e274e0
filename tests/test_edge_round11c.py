"""Round-11 missing-attribute pins (bugs 47-49, probe mode ``nullsN``,
now adopted as ``_NULL_PLAN`` in the sweep generator).

Bug 47 — NULL ordering keys. Spark orders ASC NULLS FIRST where DuckDB
orders NULLS LAST, so any ordering/ranking/chain/series that consumes a
NULL-able column diverges: an undated order led one engine's running
window and trailed the other's; a NULL-ts event opened a spurious
session; a NULL balance landed in quartile 1 vs quartile 4. Convention
(drop-at-use): rows whose consumed attribute is NULL leave the
computation at the point of use — in BOTH engines — or, where NULL rows
stay ranked (keep-first, the mode tiebreak), the NULL placement is made
EXPLICIT with NULLS LAST in both texts.

Bug 48 — the md5 hash device on NULL ids. Spark's concat propagates
NULL (noise NaN downstream) while DuckDB's concat SKIPS NULL arguments
(hashing just the seed). operators/sampling.py::hash_u32_sql now
coalesces the id to a ``'__null__'`` sentinel, giving both engines one
deterministic draw for the missing-key group.

Bug 49 — NULL-key partitions in range_bucketed_rank. PARTITION BY
groups NULL keys, but the operator's broadcast equi-joins silently
DROPPED them (a NULL-segment customer vanished from the Spark ranking
while the oracle window kept it). The offsets joins are now null-safe.

Corollary: label-consuming embedding evals (kNN/NDCG/AUC) require a
label — sources/embeddings.py::load_labeled_embeddings /
EMB_LABELED_ORACLE — because a NULL label neither votes nor scores and
ranks engine-dependently in tiebreaks.
"""

from __future__ import annotations

import duckdb

from etl_pipeline_spark.plans.registry import REGISTRY, _ensure_loaded
from etl_pipeline_spark.sources.embeddings import load_labeled_embeddings
from tests.conftest import assert_oracle_match, write_table
from tests.test_edge_round11b import _write_embeddings

_ensure_loaded()


def test_undated_order_leaves_the_daily_series(spark, tmp_path):
    # bug 47, series shape: the NULL-date order (key 9) must not shift
    # the EWMA chain — pre-fix Spark seated its NULL day first and DuckDB
    # last, shifting every recursive term
    rows = [
        (1, 1, "O", 100.0, "1996-01-01", "1-URGENT"),
        (2, 1, "O", 200.0, "1996-01-02", "1-URGENT"),
        (3, 2, "F", 300.0, "1996-01-03", "2-HIGH"),
        (4, 2, "F", 400.0, "1996-01-04", "2-HIGH"),
        (9, 3, "O", 999.0, None, "3-MEDIUM"),
    ]
    sf, con = write_table(spark, tmp_path, "orders", rows)
    spec = REGISTRY["ewma_control_chart_daily"]
    df = spec.spark_fn(spark, sf)
    got = {r["day_epoch"] for r in df.collect()}
    assert None not in got and len(got) == 4
    assert_oracle_match(df, con, spec.oracle, "ewma_null_date")


def test_null_balance_has_no_quartile_but_null_segment_is_a_partition(
    spark, tmp_path
):
    # bug 47 (ranking) + bug 49 (NULL-key partition kept): customer 5 has
    # a NULL balance (dropped from the ranking in BOTH engines); customer
    # 6 has a NULL segment (its own PARTITION BY group — pre-fix the
    # Spark operator's equi-join silently dropped it)
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table(
            {
                "c_custkey": pa.array([1, 2, 3, 4, 5, 6], pa.int64()),
                "c_name": [f"c{i}" for i in range(6)],
                "c_nationkey": pa.array([1] * 6, pa.int32()),
                "c_acctbal": pa.array(
                    [10.0, 20.0, 30.0, 40.0, None, 60.0], pa.float64()
                ),
                "c_mktsegment": ["BUILDING"] * 5 + [None],
            }
        ),
        f"{tmp_path}/customer.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "o_orderkey": pa.array(range(1, 7), pa.int64()),
                "o_custkey": pa.array([1, 2, 3, 4, 5, 6], pa.int64()),
                "o_orderstatus": ["O"] * 6,
                "o_totalprice": pa.array(
                    [50.0, 150.0, 250.0, 350.0, 450.0, 550.0], pa.float64()
                ),
                "o_orderdate": pa.array([None] * 6, pa.timestamp("us")),
                "o_orderpriority": ["1-URGENT"] * 6,
            }
        ),
        f"{tmp_path}/orders.parquet",
    )
    con = duckdb.connect()
    for t in ("customer", "orders"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM"
            f" read_parquet('{tmp_path}/{t}.parquet')"
        )
    spec = REGISTRY["spend_percentile_by_segment"]
    df = spec.spark_fn(spark, str(tmp_path))
    rows = {r["c_custkey"]: r for r in df.collect()}
    assert 6 in rows and rows[6]["segment"] is None  # NULL segment kept
    assert rows[6]["pct_rank"] == 0.0  # singleton partition
    assert_oracle_match(df, con, spec.oracle, "spend_pct_null_seg")


def test_null_ts_event_opens_no_session(spark, tmp_path):
    # bug 47, chain shape: the untimestamped event must not appear as a
    # session of its own (pre-fix: one extra session in Spark only)
    rows = [
        (1, "2024-01-01 10:00:00", 1, "view", 1.0, "{}"),
        (2, "2024-01-01 10:10:00", 1, "click", 2.0, "{}"),
        (3, None, 1, "view", 3.0, "{}"),
        (4, "2024-01-01 12:00:00", 1, "view", 4.0, "{}"),
    ]
    sf, con = write_table(spark, tmp_path, "events", rows)
    spec = REGISTRY["events_sessionize_30m"]
    df = spec.spark_fn(spark, sf)
    assert df.count() == 2  # two real sessions, no NULL-ts session
    assert_oracle_match(df, con, spec.oracle, "sessionize_null_ts")


def test_keep_first_orders_nulls_last_in_both_engines(spark, tmp_path):
    # bug 47, explicit-placement variant: the undated order is never
    # "first" when a dated one exists, but an undated-only customer still
    # keeps a deterministic row
    rows = [
        (10, 1, "O", 100.0, None, "1-URGENT"),
        (11, 1, "O", 200.0, "1996-06-01", "1-URGENT"),
        (20, 2, "O", 300.0, None, "2-HIGH"),
    ]
    sf, con = write_table(spark, tmp_path, "orders", rows)
    spec = REGISTRY["sql_keep_first_per_key"]
    # shared-text surface: the SAME string runs in both engines
    df = spec.spark_fn(spark, sf)
    got = {r["o_custkey"]: r["o_orderkey"] for r in df.collect()}
    assert got == {1: 11, 2: 20}
    assert_oracle_match(df, con, spec.oracle, "keep_first_nulls_last")


def test_hash_sentinel_gives_null_group_one_draw(spark, tmp_path):
    # bug 48: the NULL event_type group must get the SAME deterministic
    # Laplace draw in both engines (pre-fix: Spark NaN vs DuckDB hashing
    # the bare seed)
    rows = [
        (1, "2024-01-01 10:00:00", 1, "view", 1.0, "{}"),
        (2, "2024-01-01 11:00:00", 1, None, 2.0, "{}"),
        (3, "2024-01-01 12:00:00", 2, None, 3.0, "{}"),
    ]
    sf, con = write_table(spark, tmp_path, "events", rows)
    spec = REGISTRY["dp_noisy_counts_laplace"]
    df = spec.spark_fn(spark, sf)
    rows_out = {r["event_type"]: r for r in df.collect()}
    assert rows_out[None]["n_true"] == 2
    assert rows_out[None]["n_noisy"] is not None
    assert_oracle_match(df, con, spec.oracle, "dp_null_group")


def test_unlabeled_vector_neither_votes_nor_scores(spark, tmp_path):
    # corollary: vec 3 is valid but unlabeled — it must be invisible to
    # the kNN eval (pre-fix its NULL label won vote tiebreaks in one
    # engine and lost them in the other)
    def vec(seed):
        return [float(((seed * 7 + j) % 13) - 6) for j in range(64)]

    rows = [(i + 1, vec(i), (None if i == 2 else i % 3)) for i in range(8)]
    sf, con = _write_embeddings(spark, tmp_path, rows)
    assert sorted(
        r["vec_id"] for r in load_labeled_embeddings(spark, sf).collect()
    ) == [1, 2, 4, 5, 6, 7, 8]
    spec = REGISTRY["knn_label_accuracy"]
    df = spec.spark_fn(spark, sf)
    assert all(r["query_id"] != 3 for r in df.collect())
    assert_oracle_match(df, con, spec.oracle, "knn_unlabeled")


def test_snapshot_diff_null_status_is_unchanged(spark, tmp_path):
    # null-safe compare: order 97*13=1261 avoids the old-drop / price-bump
    # residues; a both-sides-NULL status must read 'unchanged' (pre-fix
    # DuckDB's plain `=` sent it to 'changed')
    rows = [
        (1, 1, None, 100.0, "1996-01-01", "1-URGENT"),
        (2, 1, "O", 200.0, "1996-01-02", "1-URGENT"),
    ]
    sf, con = write_table(spark, tmp_path, "orders", rows)
    spec = REGISTRY["snapshot_diff_orders"]
    df = spec.spark_fn(spark, sf)
    got = {r["o_orderkey"]: r["status"] for r in df.collect()}
    assert got[1] == "unchanged"
    assert_oracle_match(df, con, spec.oracle, "diff_null_status")


def test_range_bucketed_rank_dedupe_input_is_row_identical(spark, tmp_path):
    """r11 optimization knob: ``dedupe_input=True`` localCheckpoints the
    operator's input so its three lineages (bounds, bucketed rows,
    per-bucket totals) share one materialization instead of re-running
    the caller's fact-scan + aggregate. Pin (a) the checkpoint actually
    lands in the plan (ExistingRDD scan) and only then, and (b) the
    output is row-identical on NULL-key-bearing data (the bug-49 shape,
    the most checkpoint-sensitive input: NULL partitions must survive
    the materialization too)."""
    from etl_pipeline_spark.operators.packing import range_bucketed_rank

    rows = [(i, float(i % 7), None if i % 5 == 0 else f"s{i % 3}") for i in range(60)]
    # parquet-backed so the plain path has NO ExistingRDD scan of its own
    # (a createDataFrame input is itself an ExistingRDD)
    path = str(tmp_path / "rbr_input.parquet")
    spark.createDataFrame(rows, "id long, key double, seg string").write.parquet(path)
    df = spark.read.parquet(path)
    kw = dict(
        tiebreak=("id",),
        value_col="key",
        partition_cols=("seg",),
        with_rank=True,
        with_row_number=True,
    )
    plain = range_bucketed_rank(df, "key", **kw)
    deduped = range_bucketed_rank(df, "key", dedupe_input=True, **kw)
    assert "ExistingRDD" not in plain._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in deduped._jdf.queryExecution().executedPlan().toString()
    key_cols = ["id", "seg", "key", "cum", "rnk", "rn", "n_part"]
    a = sorted(map(tuple, plain.select(*key_cols).collect()))
    b = sorted(map(tuple, deduped.select(*key_cols).collect()))
    assert a == b and len(a) == 60
