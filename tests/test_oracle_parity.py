"""Driver-gate replica: every CATALOG query vs its DuckDB oracle at
sf0.001 (fast). `tools/check_parity.py` runs the same check standalone at
any scale factor."""

from __future__ import annotations

import duckdb
import pytest

from shuttlestandalonedbcreator_spark.queries import CATALOG
from tools.check_parity import TABLES, compare


@pytest.fixture(scope="module")
def duck(sf_small):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_small}/{t}.parquet'")
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(CATALOG))
def test_oracle_parity(spark, sf_small, duck, name):
    qd = CATALOG[name]
    sdf = qd.spark(spark, sf_small).toPandas()
    if qd.oracle is None:
        assert len(sdf) >= 0  # rows-only contract
        return
    ddf = duck.execute(qd.oracle).df()
    problems = compare(name, sdf, ddf)
    assert not problems, f"{name}: {problems[:3]}"


def test_driver_contract_walks_catalog_order():
    """queries() lists every catalog entry in catalog order, and every
    oracle belongs to a listed query."""
    from __spark_entry__ import oracle_sql, queries

    assert list(queries()) == list(CATALOG)
    assert set(oracle_sql()) <= set(queries())
