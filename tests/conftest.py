"""Shared fixtures: one SparkSession per test run + a DuckDB oracle harness
that mirrors the driver's correctness gate (row count + schema + order-
insensitive value comparison)."""

from __future__ import annotations

import os

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from etl_pipeline_spark.session import get_spark
from etl_pipeline_spark.sources.star import TABLES
from etl_pipeline_spark.utils.measure import jobs_fired

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")
# the sf0.001 fixture next to SF_DIR: for tests that run a query end to end
SF_TINY_DIR = os.path.join(os.path.dirname(SF_DIR), "sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="etl-pipeline-spark-tests", cpus=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def canonicalize(df: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name, stringify cells, sort rows — the same
    order-insensitive value form a driver-style hash would see, so dtype
    artifacts (e.g. DuckDB HUGEINT → float64 '1.0' vs '1') fail loudly."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        df[c] = df[c].astype(str)
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def assert_oracle_match(spark_df, duck_con, oracle: str, name: str = "query") -> None:
    actual = canonicalize(spark_df.toPandas())
    expected = canonicalize(duck_con.execute(oracle).fetchdf())
    assert len(actual) == len(expected), (
        f"{name}: row count {len(actual)} != oracle {len(expected)}"
    )
    assert list(actual.columns) == list(expected.columns), (
        f"{name}: columns {list(actual.columns)} != oracle {list(expected.columns)}"
    )
    pd.testing.assert_frame_equal(
        actual, expected, check_dtype=False, check_exact=True, obj=name
    )


# column types of the one-table fixtures, as the star loader reads them;
# each table's date column is given as a string and written as TIMESTAMP_NTZ
TABLE_SCHEMAS = {
    "orders": (
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string,"
        " o_totalprice double, o_orderdate string, o_orderpriority string"
    ),
    "lineitem": (
        "l_orderkey bigint, l_partkey bigint, l_suppkey bigint,"
        " l_linenumber int, l_quantity double, l_extendedprice double,"
        " l_discount double, l_tax double, l_returnflag string,"
        " l_linestatus string, l_shipdate string"
    ),
    "events": (
        "event_id bigint, ts string, user_id bigint, event_type string,"
        " value double, props string"
    ),
}
_NTZ_COLUMN = {"orders": "o_orderdate", "lineitem": "l_shipdate", "events": "ts"}


def write_table(spark, tmp_path, table: str, rows, schema: str | None = None):
    """Write ``rows`` as the one-file parquet table ``<tmp_path>/<table>.parquet``
    and return ``(str(tmp_path), DuckDB connection with a view of it)``.

    Without ``schema`` the rows take ``TABLE_SCHEMAS[table]`` and the date
    column is cast to TIMESTAMP_NTZ; a given ``schema`` is written as is."""
    df = spark.createDataFrame(rows, schema or TABLE_SCHEMAS[table])
    if schema is None:
        ts = _NTZ_COLUMN[table]
        df = df.withColumn(ts, F.col(ts).cast("timestamp_ntz"))
    path = tmp_path / f"{table}.parquet"
    df.coalesce(1).write.parquet(str(path))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}/*.parquet')")
    return str(tmp_path), con


def assert_fires_no_job(spark, action) -> None:
    assert jobs_fired(spark, action) == []


def assert_memo_round_trip(spark, builder, sf_dir: str) -> None:
    """A ``session_memo`` builder returns one persisted relation per
    session, ``clear_caches`` unpersists it, and the next call rebuilds
    equal rows."""
    from etl_pipeline_spark.utils.session_cache import clear_caches

    rel = builder(spark, sf_dir)
    assert builder(spark, sf_dir) is rel
    assert rel.storageLevel.useMemory  # persisted, not a cold plan
    rows = sorted(rel.collect())
    clear_caches(spark)
    assert not rel.storageLevel.useMemory
    again = builder(spark, sf_dir)
    assert again is not rel
    assert sorted(again.collect()) == rows
