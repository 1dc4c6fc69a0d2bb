"""Shared fixtures: one small local SparkSession for the whole test run.

Test-scale overrides (local[4], 8 shuffle partitions, low AQE initial
partition count) — production defaults in session.get_spark stay
scale-oriented; tests only shrink parallelism for latency.
"""

from __future__ import annotations

import os
import tempfile

import pytest

from postgres_debezium_clickhouse_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        "engine-tests",
        master="local[4]",
        shuffle_partitions=8,
        extra_conf={
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum": "8",
            # static conf: bucketed-table tests saveAsTable into a tmp
            # warehouse instead of ./spark-warehouse in the repo
            "spark.sql.warehouse.dir": tempfile.mkdtemp(prefix="spark-wh-"),
        },
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def sf01_dir() -> str:
    """The sf0.01 fixtures next to the default ones; skips when absent."""
    path = os.path.join(os.path.dirname(SF_DIR), "sf0.01")
    if not os.path.isdir(path):
        pytest.skip("no sf0.01 fixtures")
    return path
