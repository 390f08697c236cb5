"""Shared pytest fixtures: one local SparkSession for the whole run.

Mirrors the reference's test setup (`tests/conftest.py:49-56` there): a small
local session plus a scratch warehouse; individual tests build tiny in-memory
DataFrames so the suite stays fast.
"""

from __future__ import annotations

import os
import shutil
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")

from lakehouse_engine_spark.core.exec_env import ExecEnv  # noqa: E402

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    session = ExecEnv.get_or_create(config={"spark.sql.shuffle.partitions": "4"})
    yield session


@pytest.fixture()
def tmp_dir(tmp_path):
    yield str(tmp_path)
    shutil.rmtree(tmp_path, ignore_errors=True)


@pytest.fixture(scope="session")
def sf_dir():
    if not os.path.isdir(TESTDATA):
        pytest.skip(f"testdata not present: {TESTDATA}")
    return TESTDATA


def assert_df_equal(got, want_rows, cols=None):
    """Order-insensitive, duplicate-sensitive equality (the reference's
    ``has_diff`` exceptAll pattern, `tests/utils/dataframe_helpers.py:33-71`)."""
    got_rows = sorted([tuple(r) for r in (got.select(*cols) if cols else got).collect()])
    assert got_rows == sorted([tuple(r) for r in want_rows]), (
        f"rows differ:\n got={got_rows}\nwant={sorted([tuple(r) for r in want_rows])}"
    )


def table_statistics(spark, table):
    """The ``Statistics`` of ``DESCRIBE TABLE EXTENDED`` (``"894 bytes, 3
    rows"``), or None when the catalog holds none."""
    info = spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
    return {r["col_name"]: r["data_type"] for r in info}.get("Statistics")


def assert_exact_statistics(spark, table):
    """The table's statistics carry a row count and equal what a full
    ``ANALYZE … COMPUTE STATISTICS`` of its files writes."""
    got = table_statistics(spark, table)
    spark.sql(f"ANALYZE TABLE {table} COMPUTE STATISTICS")
    assert got is not None and got.endswith(" rows"), got
    assert got == table_statistics(spark, table)


def spark_jobs(spark, fn):
    """The number of Spark jobs ``fn()`` fires."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))
