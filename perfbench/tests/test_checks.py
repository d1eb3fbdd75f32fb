"""Every op is checked outside its timed interval, and a wrong result or a
leftover cached relation is counted."""

from __future__ import annotations

import pytest

from perfbench import catalog, workbooks
from perfbench import workloads as W
from perfbench.trace import Tracer

ENTRY = "pricing_summary"  # a relational entry with a DuckDB oracle


@pytest.fixture
def ctx(spark, tiny_fixtures):
    sf_dir, rows = tiny_fixtures
    return W.Context(
        spark=spark, tracer=Tracer(spark, enabled=False), workload=catalog.RELATIONAL,
        seed=3, work_dir=sf_dir, sf_dir=sf_dir,
        table_rows=rows, entries=[ENTRY], tables_of={ENTRY: ["lineitem"]},
    )


def test_checker_accepts_the_oracle_and_rejects_a_changed_value(tiny_fixtures):
    checker = catalog.Checker(tiny_fixtures[0])
    try:
        right = checker.con.execute(catalog.oracle_sql(ENTRY)).df()
        assert checker.problems(ENTRY, right) == []
        wrong = right.copy()
        col = wrong.columns[-1]
        wrong.loc[0, col] = wrong.loc[0, col] * 2 + 1
        assert checker.problems(ENTRY, wrong)
    finally:
        checker.close()


def test_wrong_result_counts_as_failed_op(ctx, monkeypatch):
    from shuttlestandalonedbcreator_spark import queries

    right = queries.CATALOG[ENTRY]
    doubled = queries.QueryDef(lambda s, d: right.spark(s, d).unionAll(right.spark(s, d)), right.oracle)
    monkeypatch.setitem(queries.CATALOG, ENTRY, doubled)
    tally = W.Tally()
    checker = catalog.Checker(ctx.sf_dir)
    try:
        W.catalog_pass(ctx, tally, checker, 0)
    finally:
        checker.close()
    assert (tally.attempted, tally.failed) == (1, 1)
    assert ENTRY in tally.problems[0]


def test_right_result_passes(ctx):
    tally = W.Tally()
    checker = catalog.Checker(ctx.sf_dir)
    try:
        W.catalog_pass(ctx, tally, checker, 0)
    finally:
        checker.close()
    assert (tally.attempted, tally.failed) == (1, 0)


def test_op_that_caches_is_counted_and_isolated(ctx, spark, monkeypatch):
    from shuttlestandalonedbcreator_spark import queries

    right = queries.CATALOG[ENTRY]
    cached = queries.QueryDef(lambda s, d: right.spark(s, d).cache(), right.oracle)
    monkeypatch.setitem(queries.CATALOG, ENTRY, cached)
    tally = W.Tally()
    checker = catalog.Checker(ctx.sf_dir)
    try:
        W.catalog_pass(ctx, tally, checker, 0)
    finally:
        checker.close()
    assert tally.cached_left == 1
    assert spark._jsparkSession.sharedState().cacheManager().numCachedEntries() == 0
    assert tally.failed == 0


def test_wrong_ingest_result_is_reported(spark, tmp_path):
    books = workbooks.build_reports(9, 2, 120)
    workbooks.write_reports(books, str(tmp_path / "books"))
    ctx = W.Context(
        spark=spark, tracer=Tracer(spark, enabled=False), workload=W.INGEST,
        seed=9, work_dir=str(tmp_path), sf_dir="", table_rows={},
    )
    table, _ = W.run_ingest(ctx, ctx.tracer, str(tmp_path / "books"), str(tmp_path / "out"), "t")
    exp = workbooks.expected(books)
    counts: dict[str, float] = {}
    assert W.ingest_problems(table, exp, counts) == []
    assert counts["dedup_drop_ratio"] > 0 and counts["parent_match_ratio"] > 0
    off_by_one = workbooks.Expected(exp.rows_in, exp.rows_out + 1, exp.with_parent, exp.value_hash)
    assert W.ingest_problems(table, off_by_one, {})
