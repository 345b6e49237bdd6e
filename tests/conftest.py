from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from flink_demo_spark.catalog import TABLES
from flink_demo_spark.session import get_spark

SF_DIR = os.environ.get("TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", master="local[*]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def oracle_con():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


import contextlib
import itertools

_job_groups = itertools.count()


@contextlib.contextmanager
def spark_jobs(spark):
    """Count the Spark jobs launched inside the block: they run under a
    fresh job group on this thread, read from the status tracker once
    the listener bus has drained. Yields a list that holds the count
    after the block."""
    sc = spark.sparkContext
    group = f"spark-jobs-{next(_job_groups)}"
    sc.setJobGroup(group, group)
    counted: list[int] = []
    try:
        yield counted
    finally:
        sc._jsc.clearJobGroup()
        sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
        counted.append(len(sc.statusTracker().getJobIdsForGroup(group)))


@contextlib.contextmanager
def state_store_provider(spark, provider):
    """Pin the state-store provider ('hdfs' default or 'rocksdb') for
    queries STARTED inside the block; always restores the session conf
    (the shared session fixture must not leak provider choice)."""
    key = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(key, None)
    if provider == "rocksdb":
        spark.conf.set(
            key,
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
