"""The ingest input generator gives dedup and parent-id resolution real
work, and its expected result does not depend on workbook arrival order."""

from __future__ import annotations

import os

from perfbench import workbooks
from shuttlestandalonedbcreator_spark.plans.transfer_pipeline import RAW_COLUMNS
from shuttlestandalonedbcreator_spark.sources.excel import parse_xlsx_rows


def test_dedup_and_parent_resolution_do_work():
    exp = workbooks.expected(workbooks.build_reports(7, 4, 600))
    assert exp.dedup_drop_ratio > 0
    assert exp.parent_match_ratio > 0
    assert exp.rows_out < exp.rows_in


def test_generator_is_seeded():
    assert workbooks.build_reports(5, 3, 300) == workbooks.build_reports(5, 3, 300)
    assert workbooks.build_reports(5, 3, 300) != workbooks.build_reports(6, 3, 300)


def test_junk_numeric_and_date_cells_present():
    rows = [r for book in workbooks.build_reports(1, 4, 2000) for r in book]
    size = RAW_COLUMNS.index("source_file_size")
    created = RAW_COLUMNS.index("creation_time")
    assert any(r[size] in ("n/a", "-", "12kB") for r in rows)
    assert any(r[created] in ("junk", "#VALUE!", "0") for r in rows)


def test_expected_does_not_depend_on_workbook_order():
    books = workbooks.build_reports(2, 5, 400)
    assert workbooks.expected(books) == workbooks.expected(list(reversed(books)))


def test_extra_sheet_is_written_and_skipped_by_prefix(tmp_path):
    books = workbooks.build_reports(4, 1, 50)
    (path,) = workbooks.write_reports(books, str(tmp_path))
    with open(path, "rb") as fh:
        data = fh.read()
    sheets = {name for name, _, _ in parse_xlsx_rows(data)}
    assert sheets == {workbooks.REPORT_SHEET, "Summary"}
    kept = list(parse_xlsx_rows(data, sheet_prefix=workbooks.REPORT_SHEET))
    assert len(kept) == len(books[0]) + 1  # data rows plus header
    assert os.path.basename(path) == "report_00.xlsx"
