from __future__ import annotations

import pytest
from pyspark.sql import SparkSession

from h3ron_spark.session import PYTHON_DAEMON_MODULE


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder.appName("h3ron_spark-tests")
        .master("local[4]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", PYTHON_DAEMON_MODULE)
        .getOrCreate()
    )
    yield s
    s.stop()


SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
