from __future__ import annotations

import os
import sys

import pytest

#: the checkout these tests live in: its package is the one under test,
#: wherever the checkout sits
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.session import (  # noqa: E402
    get_spark,
)

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    import os

    return os.environ.get("TEST_SF_DIR", SF_SMOKE)
