"""Write-mode sinks (K1-K7): truncate_and_load / replace / append semantics
against a temp warehouse catalog."""

from __future__ import annotations

import pytest

from etl_pipeline_spark.sinks import (
    append,
    discover_tables,
    replace,
    truncate_and_load,
    validate_before_load,
    write_json_collection,
)
from tests.conftest import jobs_fired


@pytest.fixture(scope="module")
def db(spark):
    spark.sql("CREATE DATABASE IF NOT EXISTS staging_test")
    yield "staging_test"
    spark.sql("DROP DATABASE IF EXISTS staging_test CASCADE")


def _df(spark, rows):
    return spark.createDataFrame(rows, "id bigint, name string")


def test_replace_then_truncate_and_load(spark, db):
    t = f"{db}.fc_one"
    replace(_df(spark, [(1, "a"), (2, "b")]), t)
    assert spark.table(t).count() == 2
    # truncate_and_load keeps the table, replaces rows
    rep = truncate_and_load(_df(spark, [(3, "c")]), t)
    assert rep.rows == 1
    got = [(r.id, r.name) for r in spark.table(t).collect()]
    assert got == [(3, "c")]


def test_append_checked(spark, db):
    t = f"{db}.fc_append"
    replace(_df(spark, [(1, "a")]), t)
    append(_df(spark, [(2, "b")]), t)
    assert spark.table(t).count() == 2
    # schema-checked: extra/missing columns refuse (NO_TEST semantics banned)
    bad = spark.createDataFrame([(3, "c", 1.0)], "id bigint, name string, extra double")
    with pytest.raises(ValueError, match="column mismatch"):
        append(bad, t)


def test_missing_database_refused(spark):
    with pytest.raises(ValueError, match="does not exist"):
        replace(_df(spark, [(1, "a")]), "no_such_db.fc")


def test_discover_and_validate(spark, db):
    t = f"{db}.fc_disc"
    replace(_df(spark, [(1, "a")]), t)
    assert "fc_disc" in discover_tables(spark, db)
    assert validate_before_load(_df(spark, [(1, "a")]), {"id", "name"}) == 1
    with pytest.raises(ValueError, match="missing columns"):
        validate_before_load(_df(spark, [(1, "a")]), {"id", "nope"})


def test_json_sink(spark, tmp_path):
    p = str(tmp_path / "out_json")
    write_json_collection(_df(spark, [(1, "å")]), p)
    back = spark.read.json(p)
    assert back.count() == 1
    assert {r.name for r in back.collect()} == {"å"}


def test_geojson_seq_sink_roundtrip(spark, tmp_path):
    import json as _json

    from etl_pipeline_spark.sinks.writers import write_geojson_seq

    df = spark.createDataFrame(
        [
            (1, 'Åkers "citat" väg', "Point", "[18.3,59.5]"),
            (2, "Polygonia", "Polygon", "[[[0,0],[1,0],[1,1],[0,0]]]"),
        ],
        "id bigint, name string, geom_type string, coordinates_json string",
    )
    out = str(tmp_path / "features.geojsonl")
    write_geojson_seq(df, out)
    lines = [
        _json.loads(l)
        for f in __import__("pathlib").Path(out).glob("part-*")
        for l in f.read_text(encoding="utf-8").splitlines()
    ]
    by_id = {f["properties"]["id"]: f for f in lines}
    assert by_id[1]["geometry"] == {"type": "Point", "coordinates": [18.3, 59.5]}
    assert by_id[1]["properties"]["name"] == 'Åkers "citat" väg'
    assert by_id[2]["geometry"]["coordinates"] == [[[0, 0], [1, 0], [1, 1], [0, 0]]]


def test_merge_upsert(spark, db):
    from etl_pipeline_spark.sinks.writers import merge_upsert

    t = f"{db}.fc_merge"
    replace(_df(spark, [(1, "a"), (2, "b"), (3, "c")]), t)
    rep = merge_upsert(_df(spark, [(2, "B2"), (4, "d")]), t, key_cols=["id"])
    assert rep.mode == "merge_upsert" and rep.rows == 4
    got = sorted((r.id, r.name) for r in spark.table(t).collect())
    assert got == [(1, "a"), (2, "B2"), (3, "c"), (4, "d")]
    # staging table cleaned up
    assert not spark.catalog.tableExists(f"{t}__merge_staging")


def test_merge_upsert_guards(spark, db):
    from etl_pipeline_spark.sinks.writers import merge_upsert

    t = f"{db}.fc_merge_guard"
    replace(_df(spark, [(1, "a")]), t)
    with pytest.raises(ValueError, match="key column"):
        merge_upsert(_df(spark, [(1, "x")]), t, key_cols=[])
    with pytest.raises(ValueError, match="column mismatch"):
        merge_upsert(
            spark.createDataFrame([(1,)], "id bigint"), t, key_cols=["id"]
        )
    # creating a brand-new table through merge degrades to replace
    t2 = f"{db}.fc_merge_new"
    merge_upsert(_df(spark, [(9, "z")]), t2, key_cols=["id"])
    assert [(r.id, r.name) for r in spark.table(t2).collect()] == [(9, "z")]


def test_compact_table(spark, db):
    from etl_pipeline_spark.sinks.maintenance import compact_table

    t = f"{db}.fc_fragmented"
    df = spark.range(0, 10000).selectExpr("id", "id % 7 AS grp")
    df.repartition(16).write.mode("overwrite").saveAsTable(t)
    assert len(spark.table(t).inputFiles()) == 16
    rep = compact_table(spark, t, target_file_bytes=1 << 30)
    assert rep.files_before == 16 and rep.files_after == 1
    assert spark.table(t).count() == 10000
    assert not spark.catalog.tableExists(f"{t}__compact_staging")
    # already compact → no-op
    rep2 = compact_table(spark, t, target_file_bytes=1 << 30)
    assert rep2.files_after == rep2.files_before == 1


def test_append_evolve_adds_nullable_column(spark, db):
    from etl_pipeline_spark.sinks import append_evolve

    t = f"{db}.fc_evolve"
    replace(_df(spark, [(1, "a"), (2, "b")]), t)
    wide = spark.createDataFrame([(3, "c", 9.5)], "id bigint, name string, score double")
    assert append_evolve(wide, t).rows == 1  # the batch, not the widened table
    got = {(r.id, r.name, r.score) for r in spark.table(t).collect()}
    # old rows read NULL for the evolved column
    assert got == {(1, "a", None), (2, "b", None), (3, "c", 9.5)}
    # next plain-append batches must now carry the widened schema
    append_evolve(
        spark.createDataFrame([(4, "d", 1.0)], "id bigint, name string, score double"), t
    )
    assert spark.table(t).count() == 4


def test_append_evolve_refuses_drops_and_type_changes(spark, db):
    from etl_pipeline_spark.sinks import append_evolve

    t = f"{db}.fc_evolve_guard"
    replace(_df(spark, [(1, "a")]), t)
    with pytest.raises(ValueError, match="lost columns"):
        append_evolve(spark.createDataFrame([(2,)], "id bigint"), t)
    with pytest.raises(ValueError, match="type change"):
        append_evolve(spark.createDataFrame([(2, 3)], "id bigint, name bigint"), t)


def test_each_sink_is_one_job_that_counts_its_rows(spark, db):
    """Every sink writes in one job and reads ``LoadReport.rows`` from an
    observation inside it — both when it creates the table and when it
    writes into the existing one. ``merge_upsert`` fires the jobs of its
    staging write (under AQE its anti join's exchanges run as jobs of
    their own) and one more: the insert."""
    from etl_pipeline_spark.sinks import append_evolve
    from etl_pipeline_spark.sinks.writers import merge_upsert
    for sink in (truncate_and_load, replace, append, append_evolve):
        t = f"{db}.fc_jobs_{sink.__name__}"
        for rows in ([(1, "a"), (2, "b")], [(3, "c")]):
            reports = []
            jobs = jobs_fired(spark, lambda: reports.append(sink(_df(spark, rows), t)))
            assert len(jobs) == 1, (sink.__name__, jobs)
            assert reports[0].rows == len(rows), sink.__name__

    t = f"{db}.fc_jobs_merge"
    replace(_df(spark, [(1, "a"), (2, "b")]), t)
    updates = _df(spark, [(2, "B"), (3, "c")])
    merged = spark.table(t).join(updates, on=["id"], how="leftanti").unionByName(updates)
    staging_jobs = jobs_fired(
        spark, lambda: merged.write.mode("overwrite").saveAsTable(f"{db}.fc_jobs_merge_probe")
    )
    reports = []
    jobs = jobs_fired(spark, lambda: reports.append(merge_upsert(updates, t, ["id"])))
    assert len(jobs) == len(staging_jobs) + 1, (staging_jobs, jobs)
    assert reports[0].rows == spark.table(t).count() == 3


@pytest.mark.parametrize("n", [3, 0])
def test_load_report_rows_is_the_table_count(spark, db, n):
    rows = [(i, f"n{i}") for i in range(n)]
    for sink in (replace, truncate_and_load):
        t = f"{db}.fc_rows_{n}"
        rep = sink(_df(spark, rows), t)
        assert rep.rows == spark.table(t).count() == n, sink.__name__


def test_by_name_sinks_take_a_backtick_column(spark, db):
    """The by-name alignment is SQL text over backquoted names: a backtick
    inside a column name is escaped, not a parse error. The frame's columns
    come in the other order than the table's, so each write must align."""
    from etl_pipeline_spark.sinks import append_evolve
    from etl_pipeline_spark.sinks.writers import merge_upsert

    def frame(rows):
        return spark.createDataFrame(rows, "`a``b` string, id int")

    for sink in (truncate_and_load, append, append_evolve, merge_upsert):
        t = f"{db}.fc_backtick_{sink.__name__}"
        replace(spark.createDataFrame([(1, "x")], "id int, `a``b` string"), t)
        args = (["id"],) if sink is merge_upsert else ()
        sink(frame([("y", 1), ("z", 2)]), t, *args)
        got = sorted(tuple(r) for r in spark.table(t).collect())
        want = {
            "truncate_and_load": [(1, "y"), (2, "z")],
            "merge_upsert": [(1, "y"), (2, "z")],
        }.get(sink.__name__, [(1, "x"), (1, "y"), (2, "z")])
        assert spark.table(t).columns == ["id", "a`b"], sink.__name__
        assert got == want, sink.__name__
