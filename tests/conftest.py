"""Shared SparkSession for the test suite (one JVM for the whole run)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import SparkSession

from kafka_custom_transforms_spark.session import DAEMON_MODULE

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark() -> SparkSession:
    s = (
        SparkSession.builder.master("local[4]")
        .appName("kcts-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "6g")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.python.daemon.module", DAEMON_MODULE)
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR
