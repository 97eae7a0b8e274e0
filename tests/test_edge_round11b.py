"""Round-11 hostile-input pins (bugs 44-46, probe mode ``hostileN`` +
seed tiny877).

Bug 44 — malformed JSON event payloads. Spark ``get_json_object``
returns NULL on malformed JSON while DuckDB's ``->>`` RAISES; ANSI Spark
``CAST('abc' AS BIGINT)`` raises while DuckDB ``TRY_CAST('99.5')``
ROUNDS to 100 (Spark try_cast: NULL). Convention
(plans/kernel.py::json_extract_props): k_value is defined iff the
payload is valid JSON AND ``$.k`` is a lossless integer literal
(``'^-?[0-9]+$'`` guard in BOTH engines, try-cast for the int64
overflow tail); every other row yields NULL.

Bug 45 — invalid embedding rows (NULL vector, NULL/NaN/Inf component,
wrong dimension, empty). DuckDB ``list_dot_product`` raises on NULL
components and dimension mismatches; Spark ``zip_with`` NULL-pads the
short side; NaN ranks differently per engine. Convention
(sources/embeddings.py): such rows are dropped at load in BOTH engines
— ``load_embeddings()`` Spark-side, ``EMB_VALID_ORACLE`` oracle-side.
A corollary probe find: DuckDB may CONJOIN a downstream predicate with
the validity filter and evaluate it FIRST, so predicates directly over
the validity subquery must be total (``list_sum(list_transform(...))``
instead of the raising ``list_dot_product`` — plans/llm.py ivf/pq CTEs).

Bug 46 — zero-sigma z-score group (probe seed tiny877): a constant-
valued event_type group has STDDEV_SAMP 0 for n > 1 — ANSI Spark threw
DIVIDE_BY_ZERO where DuckDB fabricated ±inf. NULLIF in the shared SQL
text makes z NULL in both (plans/sql_surface.py).
"""

from __future__ import annotations

import duckdb

from etl_pipeline_spark.plans.registry import REGISTRY, _ensure_loaded
from etl_pipeline_spark.sources.embeddings import load_embeddings
from tests.conftest import assert_oracle_match, write_table

_ensure_loaded()


HOSTILE_PROPS = [
    "not json", "", None, '{"k": "abc"}', "[1, 2]", '{"k": 99.5}',
    "{bad", '{"k": true}', '{"k": null}', '{"k": 9999999999999999999999}',
]


def test_json_extract_props_hostile_payloads(spark, tmp_path):
    # every hostile payload must yield NULL k_value in BOTH engines
    # (pre-fix: DuckDB raised Malformed JSON on the very first one, and
    # ANSI Spark raised CAST_INVALID_INPUT on the "abc" row); the two
    # in-domain rows (k=85, k="90" — a quoted integer is lossless) pass
    # the > 80 filter.
    rows = [
        (i + 1, "2024-01-01 10:00:00", 1, "view", 1.0, p)
        for i, p in enumerate(HOSTILE_PROPS)
    ] + [
        (98, "2024-01-02 10:00:00", 2, "view", 1.0, '{"k": 85}'),
        (99, "2024-01-02 11:00:00", 2, "view", 1.0, '{"k": "90"}'),
        (100, "2024-01-02 12:00:00", 2, "view", 1.0, '{"k": 7}'),
    ]
    sf, con = write_table(spark, tmp_path, "events", rows)
    spec = REGISTRY["json_extract_props"]
    df = spec.spark_fn(spark, sf)  # must not crash under ANSI
    got = {r["event_id"]: r["k_value"] for r in df.collect()}
    assert got == {98: 85, 99: 90}
    assert_oracle_match(df, con, spec.oracle, "json_hostile")


def _write_embeddings(spark, tmp_path, rows):
    df = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    )
    df.coalesce(1).write.parquet(str(tmp_path / "embeddings.parquet"))
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM"
        f" read_parquet('{tmp_path}/embeddings.parquet/*.parquet')"
    )
    return str(tmp_path), con


def _vec(fill, n=64):
    return [float(fill)] * n


INVALID_VECS = [
    (101, None),                                      # NULL vector
    (102, _vec(0.25, 63) + [None]),                   # NULL component
    (103, _vec(0.25, 63) + [float("nan")]),           # NaN component
    (104, _vec(0.25, 63) + [float("inf")]),           # +Inf component
    (105, _vec(0.25, 63) + [float("-inf")]),          # -Inf component
    (106, _vec(0.25, 32)),                            # short
    (107, _vec(0.25, 67)),                            # long
    (108, []),                                        # empty
]


def test_load_embeddings_drops_invalid_rows(spark, tmp_path):
    rows = [(i + 1, _vec(0.1 * (i + 1)), i) for i in range(6)] + [
        (vid, v, 7) for vid, v in INVALID_VECS
    ]
    sf, _ = _write_embeddings(spark, tmp_path, rows)
    kept = sorted(r["vec_id"] for r in load_embeddings(spark, sf).collect())
    assert kept == [1, 2, 3, 4, 5, 6]


def test_embedding_queries_blind_to_invalid_rows(spark, tmp_path):
    # representative dense + index-building queries run green and
    # parity-match with the invalid rows present (pre-fix: DuckDB raised
    # list_inner_product errors, Spark raised INVALID_ARRAY_INDEX /
    # zip_with NULL-padded)
    rows = [
        (i + 1, [float(((i * 7 + j) % 13) - 6) for j in range(64)], i % 3)
        for i in range(8)
    ] + [(vid, v, 7) for vid, v in INVALID_VECS]
    sf, con = _write_embeddings(spark, tmp_path, rows)
    for name in ("ann_cosine_topk", "ann_ivf_topk", "knn_label_accuracy"):
        spec = REGISTRY[name]
        assert_oracle_match(spec.spark_fn(spark, sf), con, spec.oracle, name)


def test_zscore_zero_sigma_group_is_null(spark, tmp_path):
    # constant-valued group (sigma = 0, n = 3) → value_z NULL; normal
    # group normalizes; single-row group (sigma NULL) → NULL
    rows = [
        (1, "2024-01-01 10:00:00", 1, "view", 5.0, "{}"),
        (2, "2024-01-01 11:00:00", 1, "view", 5.0, "{}"),
        (3, "2024-01-01 12:00:00", 1, "view", 5.0, "{}"),
        (4, "2024-01-02 10:00:00", 2, "click", 1.0, "{}"),
        (5, "2024-01-02 11:00:00", 2, "click", 3.0, "{}"),
        (6, "2024-01-03 10:00:00", 3, "purchase", 9.0, "{}"),
    ]
    sf, con = write_table(spark, tmp_path, "events", rows)
    spec = REGISTRY["sql_zscore_normalize_events"]
    # the shared-text SQL surface runs the SAME string in both engines
    df = spec.spark_fn(spark, sf)  # must not crash under ANSI
    got = {r["event_id"]: r["value_z"] for r in df.collect()}
    assert got[1] is None and got[2] is None and got[3] is None
    assert got[4] is not None and got[4] < 0 and got[5] > 0
    assert got[6] is None  # single-row group: STDDEV_SAMP NULL
    assert_oracle_match(df, con, spec.oracle, "zscore_zero_sigma")
