"""Shared fixtures: one SparkSession + one DuckDB connection per test run.

Mirrors the driver's verify loop (__spark_entry__.py docstring): every
registered query runs on Spark and, when an oracle exists, the oracle SQL
runs on DuckDB over the same parquet tables; results must match on
row-count, column names, and order-insensitive values.

SPARK_GRAFT_TEST_SF selects the scale dir (default sf0.001 for speed; the
driver checks at sf0.01 — run `SPARK_GRAFT_TEST_SF=/root/testdata/sf0.01
pytest` before relying on green).
"""

from __future__ import annotations

import os
import uuid

import duckdb
import pytest

from yc_data_proc_metadata_import_spark.session import get_spark
from yc_data_proc_metadata_import_spark.sources.io import TABLES, table_path

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="engine-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def oracle():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(SF_DIR, t)}')"
        )
    yield con
    con.close()


@pytest.fixture(scope="session")
def count_jobs(spark):
    """``count_jobs(fn)`` -> (fn's result, number of Spark jobs it started).

    The jobs are tagged with a fresh job group; the listener bus is
    drained before the status tracker is read, so a job that started
    inside ``fn`` is never missed."""
    sc = spark.sparkContext

    def count(fn):
        group = f"count-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            for prop in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
                sc.setLocalProperty(prop, None)
        sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return count
