"""Shared fixtures: one SparkSession per test run + a DuckDB oracle harness
that mirrors the driver's correctness gate (row count + schema + order-
insensitive value comparison)."""

from __future__ import annotations

import os
import time
import uuid

import duckdb
import pandas as pd
import pytest

from etl_pipeline_spark.session import get_spark
from etl_pipeline_spark.sources.star import TABLES

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")


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


def _in_job_group(spark, group: str, action) -> None:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc.setLocalProperty("spark.job.interruptOnCancel", None)


def jobs_fired(spark, action) -> list[int]:
    """Run ``action`` in its own job group and return the ids of the jobs
    ``statusTracker`` lists for it.

    Control: a one-task job in a later group. Job events reach the status
    store in order, so once it shows the control job, every job of the
    earlier group is listed too."""
    tracker = spark.sparkContext.statusTracker()
    group, control = f"count-{uuid.uuid4().hex}", f"control-{uuid.uuid4().hex}"
    _in_job_group(spark, group, action)
    _in_job_group(spark, control, lambda: spark.sparkContext.parallelize([0], 1).count())
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup(control) and time.monotonic() < deadline:
        time.sleep(0.05)
    assert tracker.getJobIdsForGroup(control), "control job never reached the status store"
    return sorted(tracker.getJobIdsForGroup(group))


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
