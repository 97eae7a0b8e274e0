"""Star catalog without Spark jobs: footer schemas equal Spark's inference,
`load_table` fires no job, and `register_views` registers only the tables
a query names.

Every schema check compares `parquet_schema(path)` (read on the driver
from one parquet footer) with `spark.read.parquet(path).schema` (Spark's
inference job) on the same file: the testdata star tables, a Spark-written
directory whose `timestamp` is INT96, and pyarrow-written `events` files
in each `ts` encoding the generator has shipped.
"""

from __future__ import annotations

import os
from urllib.parse import urlparse

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from etl_pipeline_spark.plans import sql_surface
from etl_pipeline_spark.plans.registry import REGISTRY
from etl_pipeline_spark.sources.star import TABLES, load_table, parquet_schema
from tests.conftest import SF_DIR, assert_fires_no_job, assert_oracle_match

TESTDATA = os.path.dirname(SF_DIR)
SCALES = ("sf0.001", "sf0.01", "sf0.1")

# 2024-01-01 00:00:00 UTC plus whole seconds, in epoch nanoseconds
TS_NS = [1_704_067_200_000_000_000 + k * 1_000_000_000 for k in range(3)]


@pytest.fixture
def nanos_as_long(spark):
    """Spark infers TIMESTAMP(NANOS) only under the flip `load_table`
    itself sets for `events`."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def _assert_inferred(spark, path):
    assert parquet_schema(path) == spark.read.parquet(path).schema, path


def _type_of(path, column):
    return parquet_schema(path)[column].dataType.simpleString()


@pytest.mark.parametrize("sf", SCALES)
@pytest.mark.parametrize("table", TABLES)
def test_footer_schema_equals_inference_on_testdata(spark, nanos_as_long, sf, table):
    path = f"{TESTDATA}/{sf}/{table}.parquet"
    if not os.path.exists(path):
        pytest.skip(f"{path} not generated")
    _assert_inferred(spark, path)


def test_footer_schema_reads_spark_written_int96_directory(spark, tmp_path):
    # pyarrow alone reports INT96 as timestamp[ns], which maps to bigint;
    # Spark's own footer entry is the only record that it is a timestamp
    path = str(tmp_path / "spark_written")
    df = spark.sql(
        "SELECT CAST(id AS INT) AS id,"
        " TIMESTAMP'2024-01-01 10:00:00' + make_interval(0, 0, 0, 0, CAST(id AS INT)) AS ts,"
        " CAST(TIMESTAMP_NTZ'2024-01-01 10:00:00' AS TIMESTAMP_NTZ) AS ts_ntz,"
        " array(id, id + 1) AS arr, map('k', id) AS kv,"
        " named_struct('x', id, 'y', CAST(id AS STRING)) AS st,"
        " CAST(id AS DECIMAL(10, 2)) AS amount"
        " FROM range(4)"
    )
    spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    try:
        df.write.parquet(path)
    finally:
        spark.conf.unset("spark.sql.parquet.outputTimestampType")
    part = sorted(n for n in os.listdir(path) if n.endswith(".parquet"))[0]
    physical = {c.name: c.physical_type for c in pq.read_metadata(f"{path}/{part}").schema}
    assert physical["ts"] == "INT96" and physical["ts_ntz"] == "INT64"
    assert _type_of(path, "ts") == "timestamp"
    _assert_inferred(spark, path)
    # the explicit-schema read returns the rows inference does
    assert sorted(spark.read.schema(parquet_schema(path)).parquet(path).collect()) == sorted(
        spark.read.parquet(path).collect()
    )


@pytest.mark.parametrize(
    "ts_type, spark_type",
    [
        (pa.timestamp("ns"), "bigint"),
        (pa.timestamp("us"), "timestamp_ntz"),
        (pa.timestamp("us", tz="UTC"), "timestamp"),
    ],
    ids=["nanos", "micros_tz_less", "micros_utc"],
)
def test_pyarrow_events_ts_encodings(spark, nanos_as_long, tmp_path, ts_type, spark_type):
    unit_ns = {"ns": 1, "us": 1_000}[ts_type.unit]
    table = pa.table(
        {
            "event_id": pa.array([1, 2, 3], pa.int64()),
            "ts": pa.array([t // unit_ns for t in TS_NS], ts_type),
            "user_id": pa.array([7, 7, 8], pa.int64()),
            "event_type": ["view", "click", "purchase"],
            "value": [1.0, 2.5, None],
            "props": ["{}", "{}", "{}"],
        }
    )
    pq.write_table(table, tmp_path / "events.parquet")
    path = str(tmp_path / "events.parquet")
    assert _type_of(path, "ts") == spark_type
    _assert_inferred(spark, path)
    # every branch reaches query code as epoch nanoseconds
    got = load_table(spark, str(tmp_path), "events").orderBy("event_id").collect()
    assert [r.ts for r in got] == TS_NS


def test_pyarrow_int96_without_spark_footer_is_a_timestamp(spark, tmp_path):
    table = pa.table({"id": [1, 2], "ts": pa.array(TS_NS[:2], pa.timestamp("ns"))})
    path = str(tmp_path / "int96.parquet")
    pq.write_table(table, path, use_deprecated_int96_timestamps=True)
    assert _type_of(path, "ts") == "timestamp"
    _assert_inferred(spark, path)


def test_pyarrow_types_map_like_inference(spark, tmp_path):
    # one column per entry of the arrow → Spark mapping, nested ones too
    table = pa.table(
        {
            "flag": [True, None],
            "i8": pa.array([1, 2], pa.int8()),
            "i16": pa.array([1, 2], pa.int16()),
            "i32": pa.array([1, 2], pa.int32()),
            "u8": pa.array([1, 2], pa.uint8()),
            "u16": pa.array([1, 2], pa.uint16()),
            "u32": pa.array([1, 2], pa.uint32()),
            "u64": pa.array([1, 2], pa.uint64()),
            "f32": pa.array([1.5, 2.5], pa.float32()),
            "big_text": pa.array(["a", "b"], pa.large_string()),
            "blob": [b"a", b"b"],
            "big_blob": pa.array([b"a", b"b"], pa.large_binary()),
            "pair": pa.array([b"ab", b"cd"], pa.binary(2)),
            "day": pa.array([1, 2], pa.date32()),
            "amount": pa.array([1, 2], pa.decimal128(30, 2)),
            "ms_local": pa.array([1, 2], pa.timestamp("ms")),
            "ms_utc": pa.array([1, 2], pa.timestamp("ms", tz="UTC")),
            "category": pa.array(["a", "b"]).dictionary_encode(),
            "vec": pa.array([[1.0], None], pa.list_(pa.float32())),
            "big_vec": pa.array([[1], [2]], pa.large_list(pa.int64())),
            "fixed_vec": pa.array([[1, 2], [3, 4]], pa.list_(pa.int32(), 2)),
            "rec": [{"x": 1, "y": "a"}, {"x": 2, "y": None}],
            "kv": pa.array([[("k", 1)], []], pa.map_(pa.string(), pa.int64())),
            "recs": pa.array([[{"a": 1}], []], pa.list_(pa.struct([("a", pa.int64())]))),
        }
    )
    path = str(tmp_path / "wide.parquet")
    pq.write_table(table, path)
    _assert_inferred(spark, path)


def test_unmapped_type_names_the_column(tmp_path):
    path = str(tmp_path / "clock.parquet")
    pq.write_table(pa.table({"id": [1], "clock": pa.array([1], pa.time64("us"))}), path)
    with pytest.raises(TypeError, match="'clock'"):
        parquet_schema(path)


def test_empty_directory_has_no_footer(tmp_path):
    (tmp_path / "_SUCCESS").touch()
    with pytest.raises(FileNotFoundError):
        parquet_schema(str(tmp_path))


def test_load_table_fires_no_spark_job(spark):
    sf = f"{TESTDATA}/sf0.001"
    assert_fires_no_job(
        spark,
        lambda: [load_table(spark, sf, t, validate=True) for t in TABLES],
    )


def test_register_views_only_referenced_tables_and_repoints(spark):
    def reset():
        for t in TABLES:
            spark.catalog.dropTempView(t)

    def view_dir(t):
        (f,) = spark.table(t).inputFiles()
        return os.path.dirname(urlparse(f).path)

    # upper case still names a table; PARTITION does not name `part`
    sql = """
        SELECT o_orderkey, ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS rn
        FROM ORDERS JOIN lineitem ON l_orderkey = o_orderkey
    """
    reset()
    try:
        for sf in (f"{TESTDATA}/sf0.001", f"{TESTDATA}/sf0.01"):
            sql_surface.register_views(spark, sf, sql)
            views = {t.name for t in spark.catalog.listTables() if t.isTemporary}
            assert views & set(TABLES) == {"orders", "lineitem"}
            assert view_dir("orders") == view_dir("lineitem") == sf
            n = spark.sql("SELECT COUNT(*) FROM lineitem").first()[0]
            assert n == pq.read_metadata(f"{sf}/lineitem.parquet").num_rows
    finally:
        reset()


def test_sql_query_repoints_a_view_a_caller_replaced(spark, duck):
    """A caller may replace a star temp view with its own frame between
    two SQL queries; the next query must still read the star table."""
    spec = REGISTRY["sql_keep_first_per_key"]
    spec.spark_fn(spark, SF_DIR).collect()
    spark.createDataFrame(
        [(1, 1, 9.99, None)], "o_orderkey int, o_custkey int, o_totalprice double, o_orderdate date"
    ).createOrReplaceTempView("orders")
    assert_oracle_match(spec.spark_fn(spark, SF_DIR), duck, spec.oracle, spec.name)
