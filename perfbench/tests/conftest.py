from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
if REPO not in sys.path:
    sys.path.insert(0, REPO)


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    from perfbench import spark_env

    s = spark_env.start("perfbench-tests", str(tmp_path_factory.mktemp("spark")))
    yield s
    spark_env.stop(s)


@pytest.fixture(scope="session")
def tiny_fixtures(tmp_path_factory) -> tuple[str, dict[str, int]]:
    from perfbench import fixtures

    path = str(tmp_path_factory.mktemp("fixtures"))
    return path, fixtures.write_tables(3, 0.001, path)
