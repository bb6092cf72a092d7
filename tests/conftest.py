from __future__ import annotations

import os
import sys

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
