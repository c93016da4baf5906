from __future__ import annotations

import os

import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    from etl_pipeline_telecom_spark.session import get_spark

    spark = get_spark("tests", shuffle_partitions=4)
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture
def bare_spark(spark):
    """A session without our factory's nanos conf, as a caller may hand us.

    ``newSession()`` shares the SparkContext but gets an independent
    SQLConf, so unsetting the conf there simulates the bare session.
    """
    bare = spark.newSession()
    bare.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    return bare
