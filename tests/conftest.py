from __future__ import annotations

import contextlib
import sys
import uuid

import duckdb
import pytest

sys.path.insert(0, "/root/repo")

from trello_github_etl_spark.io import TABLES, table_path
from trello_github_etl_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("pytest", master="local[8]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(SF_DIR, t)}')"
        )
    yield con


@pytest.fixture()
def spark_jobs(spark):
    """``with spark_jobs() as jobs: ...`` leaves in ``jobs`` the ids of
    the Spark jobs the block started (its own job group, read once the
    listener bus has delivered every event)."""

    @contextlib.contextmanager
    def counting():
        sc = spark.sparkContext
        group = f"pytest-jobs-{uuid.uuid4().hex}"
        jobs: list[int] = []
        sc.setJobGroup(group, group)
        try:
            yield jobs
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
            jobs.extend(sc.statusTracker().getJobIdsForGroup(group))

    return counting
