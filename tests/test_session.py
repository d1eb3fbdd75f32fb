"""The session profile: `get_spark` turns off PySpark's per-call call-site
capture, so Column and functions calls build with no stack walk and no
extra py4j round trips, and results are unchanged."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.errors import utils as error_utils
from pyspark.sql import functions as F

from shuttlestandalonedbcreator_spark.queries import CATALOG
from tools.check_parity import TABLES, compare

DEBUGGING = "spark.python.sql.dataFrameDebugging.enabled"


def test_profile_turns_off_dataframe_debugging(spark):
    assert spark.conf.get(DEBUGGING) == "false"


def test_builds_capture_no_call_site(spark, sf_small, monkeypatch):
    """With call-site capture made to raise, the builds still succeed and
    match their oracles. PySpark caches the flag per process, so the cache
    is cleared first and re-read from this session's conf."""

    def capture(depth):
        raise AssertionError("call site captured")

    monkeypatch.setattr(error_utils, "_capture_call_site", capture)
    # the patch bites whenever debugging is on
    monkeypatch.setattr(error_utils, "_enable_debugging_cache", True)
    with pytest.raises(AssertionError, match="call site captured"):
        F.col("x") + 1
    monkeypatch.setattr(error_utils, "_enable_debugging_cache", None)

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_small}/{t}.parquet'")
    try:
        for name in ("mann_kendall_trend", "asof_join"):
            got = CATALOG[name].spark(spark, sf_small).toPandas()
            want = con.execute(CATALOG[name].oracle).df()
            problems = compare(name, got, want)
            assert not problems, f"{name}: {problems[:3]}"
    finally:
        con.close()
    assert error_utils._enable_debugging_cache is False
