from __future__ import annotations

import os

import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from etl_extractor_spark.session import get_spark

    s = get_spark(app_name="etl-extractor-spark-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture
def scratch_given(monkeypatch):
    """``{prefix: path}``: the directory ``operators.common.pid_scratch_dir``
    last handed out for each prefix during the test. Each call gets a
    fresh directory, so a test that reads a query's scratch files takes
    the path the query was given rather than calling the helper again."""
    from etl_extractor_spark.operators import common

    given: dict[str, str] = {}
    real = common.pid_scratch_dir

    def spy(prefix: str) -> str:
        given[prefix] = real(prefix)
        return given[prefix]

    monkeypatch.setattr(common, "pid_scratch_dir", spy)
    return given
