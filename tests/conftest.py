from __future__ import annotations

import pytest
from pyspark.sql import SparkSession

from liatrio_otel_collector_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(autouse=True)
def no_streaming_query_left_running():
    """Stop every streaming query a test left running and fail that test: a
    leaked query keeps scheduling micro-batches that compete with every
    later test.  Starts no session for a test that never used one."""
    yield
    session = SparkSession.getActiveSession()
    active = session.streams.active if session is not None else []
    for q in active:
        q.stop()
    assert not active, f"streaming queries left running: {[str(q.id) for q in active]}"
