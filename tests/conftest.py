from __future__ import annotations

import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from gjspark.session import get_spark

    spark = get_spark("gjspark-tests", master="local[4]", shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def fixtures_dir():
    """Deterministic synthetic fixtures (seed 42), generated once per
    machine into fixtures_data/ (see FIXTURES.md)."""
    from gjspark.fixtures.generator import ensure_fixtures

    return ensure_fixtures()


@pytest.fixture(scope="session")
def count_jobs(spark):
    """``count_jobs(action)``: the Spark jobs ``action()`` runs on the
    shared session, counted through a job group."""

    def count(action) -> int:
        sc = spark.sparkContext
        group = f"count-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            action()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return count
