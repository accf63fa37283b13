"""Shared fixtures: one SparkSession per test session (slow to start)."""

from __future__ import annotations

import pytest

from rsyslog_spark.session import get_spark

SF_TEST = "/root/testdata/sf0.001"
SF_SMALL = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="rsyslog_spark_tests", cores=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_test_dir():
    return SF_TEST


@pytest.fixture(scope="session")
def transcripts(spark):
    from rsyslog_spark.sources.transcripts import transcripts_spark

    return transcripts_spark(spark, SF_TEST).cache()


@pytest.fixture(scope="session")
def parsed(transcripts):
    from rsyslog_spark.parse import with_parsed

    return with_parsed(transcripts, require_header=True).cache()
