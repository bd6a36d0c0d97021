from __future__ import annotations

import os
import sys
from contextlib import contextmanager

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    from parquet_demo_spark.session import get_spark

    s = get_spark(app_name="parquet_demo_spark_tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_CORRECT


@pytest.fixture(scope="session")
def sf_smoke():
    return SF_SMOKE


class _JobCount:
    jobs: int | None = None


@contextmanager
def count_jobs(spark):
    """Count the Spark jobs run inside the block: job-id deltas read
    from the status tracker after draining the listener bus (a job's
    record reaches the tracker through the bus). Yields an object
    whose ``jobs`` is set when the block exits."""
    sc = spark.sparkContext
    st = sc.statusTracker()
    bus = sc._jsc.sc().listenerBus()

    def _next_id(start: int) -> int:
        bus.waitUntilEmpty(60_000)
        while st.getJobInfo(start) is not None:
            start += 1
        return start

    out = _JobCount()
    first = _next_id(max(st.getJobIdsForGroup(None) or [-1]) + 1)
    yield out
    out.jobs = _next_id(first) - first
