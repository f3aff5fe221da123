"""Shared fixtures: one session-scoped SparkSession, testdata paths."""

from __future__ import annotations

import os

import pytest

SF_SMALL = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from breweries_data_engineering_case_spark.session import get_spark

    s = get_spark(app_name="bdec-tests", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMALL


@pytest.fixture
def cc_distributed(monkeypatch):
    """Run every ``connected_components`` solve through the distributed
    loop: the driver union-find otherwise takes any graph of up to
    ``components.LOCAL_THRESHOLD`` symmetrized edges."""
    from breweries_data_engineering_case_spark.operators import components

    monkeypatch.setattr(components, "LOCAL_THRESHOLD", 0)
