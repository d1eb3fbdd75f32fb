from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from shuttlestandalonedbcreator_spark.session import get_spark

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


def pytest_configure(config):
    # every run ends with its ten slowest tests, so the suite's time
    # budget is visible without a rerun; --durations on the command line
    # still decides
    if config.option.durations is None:
        config.option.durations = 10


@pytest.fixture(scope="session")
def spark():
    import tempfile

    s = get_spark(
        app_name="tests",
        extra_conf={"spark.sql.warehouse.dir": tempfile.mkdtemp(prefix="spark_wh_")},
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def sf_small() -> str:
    return SF_SMALL


@pytest.fixture(scope="session")
def sf_oracle() -> str:
    return SF_ORACLE
