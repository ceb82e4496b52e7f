"""Shared Spark fixture: one local session for the whole test run.

Small shuffle-partition count — the suites use tiny frames, and 8
partitions keeps per-test latency low while still exercising
multi-partition code paths.
"""

from __future__ import annotations

import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from clustering_spark.session import get_spark

    spark = get_spark("tests", shuffle_partitions=8)
    yield spark


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn) -> int``: the number of Spark jobs ``fn()``
    runs, counted through a job group of its own."""
    sc = spark.sparkContext

    def count(fn) -> int:
        group = f"count-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "count_jobs")
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return count
