"""Shared fixtures: one SparkSession per test session, one DuckDB
connection with fixture views per scale factor."""

from __future__ import annotations

import uuid

import duckdb
import pytest

from data_ingest_utils_spark.session import get_session
from data_ingest_utils_spark.sources.readers import TABLES

SF_SMOKE = "/root/testdata/sf0.001"
SF_T2 = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_session("dius-tests", master="local[8]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_T2}/{t}.parquet'"
        )
    yield con
    con.close()


def count_jobs(spark, fn):
    """``(fn(), number of Spark jobs fn ran)``, counted by job group
    after the listener bus has delivered every event."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))
