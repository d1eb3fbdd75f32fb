"""Shared-strings (`t="s"`) scan path — the layout POI-exported
workbooks actually use (every string an sst index reference; our own
write_workbook emits inline strings, so without these tests the sst
branch of sources/excel.py would be covered only by the manual 700 MB
rehearsal).

Covers: sst index resolution in the distributed scan (each task opens
the workbook and parses its sst) and in parse_xlsx_rows, rich-text runs (<r><t> fragments
joined), xml:space-preserved whitespace, and the empty-<v> cell edge.
"""

from __future__ import annotations

import os
import zipfile

import pytest

from shuttlestandalonedbcreator_spark.sources.excel import (
    parse_xlsx_rows,
    read_workbook_rows,
)
from tools.workbook700_bench import _unique_strings, generate

_NS = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"


def test_sst_workbook_scan_matches_parse_xlsx_rows(spark, tmp_path):
    """The sst-referenced fixture from the capacity-rehearsal generator,
    at toy size: the distributed scan (one unit per sheet) must equal
    parse_xlsx_rows over the whole workbook row for row, and sst indices
    must resolve to the synthesized strings."""
    src = tmp_path / "src"
    src.mkdir()
    generate(str(src / "r.xlsx"), rows_per_sheet=40, n_sheets=2)

    scanned = read_workbook_rows(spark, str(src)).orderBy(
        "_sheet", "_row_index"
    ).collect()
    assert len(scanned) == 2 * 41  # 40 rows + header per sheet
    with open(src / "r.xlsx", "rb") as fh:
        parsed = [("r.xlsx", s, i, c) for s, i, c in parse_xlsx_rows(fh.read())]
    assert [(r[0], r[1], r[2], list(r[3])) for r in scanned] == parsed

    # sst references resolved: row g of sheet s carries _unique_strings(g)
    by_key = {(r["_sheet"], r["_row_index"]): r["_cells"] for r in scanned}
    cells = by_key[("Transfer Report 2", 5)]  # g = 40 + 4
    path, checksum, name = _unique_strings(44)
    assert cells[0] == path
    assert checksum in cells  # 256-char unique sst entry
    assert name in cells
    assert "acct-src" in cells  # pooled (deduplicated) sst entry


def _mini_sst_workbook(path: str, sst_xml: str, row_xml: str) -> None:
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr(
            "[Content_Types].xml",
            '<?xml version="1.0"?>'
            '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
            '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
            '<Default Extension="xml" ContentType="application/xml"/>'
            '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.'
            'openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
            '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.'
            'openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
            "</Types>",
        )
        zf.writestr(
            "_rels/.rels",
            '<?xml version="1.0"?>'
            '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
            '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/'
            'officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>'
            "</Relationships>",
        )
        zf.writestr(
            "xl/workbook.xml",
            '<?xml version="1.0"?>'
            f'<workbook xmlns="{_NS}" xmlns:r="http://schemas.openxmlformats.org/'
            'officeDocument/2006/relationships">'
            '<sheets><sheet name="S" sheetId="1" r:id="rId1"/></sheets></workbook>',
        )
        zf.writestr(
            "xl/_rels/workbook.xml.rels",
            '<?xml version="1.0"?>'
            '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
            '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/'
            'officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>'
            "</Relationships>",
        )
        zf.writestr("xl/sharedStrings.xml", sst_xml)
        zf.writestr(
            "xl/worksheets/sheet1.xml",
            '<?xml version="1.0"?>'
            f'<worksheet xmlns="{_NS}"><sheetData>{row_xml}</sheetData></worksheet>',
        )


def test_rich_text_runs_whitespace_and_empty_v(tmp_path):
    """POI writes formatted cells as rich-text RUNS (<si><r><t>..</t></r>
    ...</si>) — fragments must join; xml:space="preserve" whitespace must
    survive; an sst cell with an EMPTY <v> must yield ''."""
    sst = (
        '<?xml version="1.0"?>'
        f'<sst xmlns="{_NS}" count="2" uniqueCount="2">'
        "<si><r><t>Hello </t></r><r><t>World</t></r></si>"
        '<si><t xml:space="preserve">  padded  </t></si>'
        "</sst>"
    )
    rows = (
        '<row r="1">'
        '<c r="A1" t="s"><v>0</v></c>'
        '<c r="B1" t="s"><v>1</v></c>'
        '<c r="C1" t="s"><v></v></c>'
        "</row>"
    )
    p = str(tmp_path / "rich.xlsx")
    _mini_sst_workbook(p, sst, rows)
    with open(p, "rb") as f:
        parsed = list(parse_xlsx_rows(f.read()))
    assert parsed == [("S", 0, ["Hello World", "  padded  ", ""])]


def test_missing_sst_part_tolerates_inline_only(tmp_path):
    """A workbook without xl/sharedStrings.xml (inline strings only)
    still parses — the sst loader returns an empty table."""
    rows = '<row r="1"><c r="A1" t="inlineStr"><is><t>x</t></is></c></row>'
    p = str(tmp_path / "plain.xlsx")
    _mini_sst_workbook(p, "", rows)
    # overwrite with a variant lacking the sst part entirely
    with zipfile.ZipFile(p) as zf:
        names = [n for n in zf.namelist() if n != "xl/sharedStrings.xml"]
        contents = {n: zf.read(n) for n in names}
    with zipfile.ZipFile(p, "w", zipfile.ZIP_DEFLATED) as zf:
        for n, data in contents.items():
            zf.writestr(n, data)
    with open(p, "rb") as f:
        parsed = list(parse_xlsx_rows(f.read()))
    assert parsed == [("S", 0, ["x"])]


if __name__ == "__main__":
    raise SystemExit(pytest.main([__file__, "-q"]))
