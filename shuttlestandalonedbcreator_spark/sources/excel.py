"""Excel (.xlsx) source + sink, dependency-free and Spark-distributed.

Reference parity (file:line into /root/reference):
- S1 discovery: `*.xls*` in the drop folder, lock files skipped
  (SQLiteDirectImporter.java:226-248).
- S2 XLSX scan: SAX streaming per sheet (SQLiteDirectImporter.java:330-379,
  431-583). Here: the driver plans a work list of (workbook, sheet) units
  from each file's central directory and workbook.xml (ranged reads
  through `pyarrow.fs`), and one `mapInPandas` parses the units with
  stdlib zipfile+ElementTree — parallel across workbooks AND across the
  sheets of one huge workbook, streaming per sheet so executor memory
  stays O(shared strings + row), never O(workbook).
- S4 sheet filter: name-prefix predicate (:349, :401).
- S5 header skip: row 0 dropped per sheet (:469-473).
- S9 sheet-projection sink: the `Overview` extraction re-expressed as a
  data projection — read one sheet, write a new single-sheet workbook
  (TransferOverviewExtractor.java:242-297; byte-level chart/style copying
  is explicitly out of engine scope, SURVEY.md §2.1-S9).
- S10 inspection scan: first N rows / ≤25 columns (InspectColumnsStreaming
  .java:99-168).

- S3 XLS (binary BIFF) scan: `sources/biff.py` — a stdlib CFB+BIFF8
  parser (SQLiteDirectImporter.java:384-426, 588-662); an .xls file is one
  stream, so it is one unit of the same work list, read whole.

Writer notes: minimal OOXML with inline strings — round-trips through this
reader and opens in Excel/LibreOffice; used by tests to generate fixtures
(the reference ships no workbooks).
"""

from __future__ import annotations

import fnmatch
import io
import itertools
import os
import zipfile
import xml.etree.ElementTree as ET
from collections.abc import Iterator
from xml.sax.saxutils import escape

import pyarrow.fs as pafs
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from shuttlestandalonedbcreator_spark.sources import numfmt
from shuttlestandalonedbcreator_spark.sources.biff import parse_xls_rows

_NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
_REL_NS = "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}"
_PKG_REL_NS = "{http://schemas.openxmlformats.org/package/2006/relationships}"


def _col_index(cell_ref: str) -> int:
    """'A1' → 0, 'BC12' → 54 (letters only; 0-based)."""
    idx = 0
    for ch in cell_ref:
        if ch.isalpha():
            idx = idx * 26 + (ord(ch.upper()) - ord("A") + 1)
        else:
            break
    return idx - 1


def _shared_strings(zf: zipfile.ZipFile) -> list[str]:
    try:
        fh = zf.open("xl/sharedStrings.xml")
    except KeyError:
        return []
    out: list[str] = []
    with fh:
        for _, si in ET.iterparse(fh):
            if si.tag == f"{_NS}si":
                # plain <t> or rich-text runs <r><t>
                out.append("".join(t.text or "" for t in si.iter(f"{_NS}t")))
                si.clear()
    return out


def _sheet_parts(zf: zipfile.ZipFile) -> list[tuple[str, str]]:
    """[(sheet_name, zip_part_path)] in workbook order."""
    wb = ET.fromstring(zf.read("xl/workbook.xml"))
    rels = ET.fromstring(zf.read("xl/_rels/workbook.xml.rels"))
    rel_target = {
        rel.get("Id"): rel.get("Target")
        for rel in rels.iter(f"{_PKG_REL_NS}Relationship")
    }
    parts = []
    for sheet in wb.iter(f"{_NS}sheet"):
        target = rel_target.get(sheet.get(f"{_REL_NS}id"), "")
        if target.startswith("/"):
            part = target.lstrip("/")
        elif target.startswith("xl/"):
            part = target
        else:
            part = "xl/" + target
        parts.append((sheet.get("name"), part))
    return parts


def _cell_value(
    cell: ET.Element, shared: list[str], styles: list[str] | None = None
) -> str:
    ctype = cell.get("t", "n")
    if ctype == "inlineStr":
        return "".join(t.text or "" for t in cell.iter(f"{_NS}t"))
    v = cell.find(f"{_NS}v")
    text = v.text if v is not None and v.text is not None else ""
    if ctype == "s":
        return shared[int(text)] if text != "" else ""
    if styles is not None and text != "":
        # DataFormatter parity (formatted=True): numerics render through
        # the cell's number format; booleans render TRUE/FALSE
        if ctype == "b":
            return "TRUE" if text == "1" else "FALSE"
        if ctype == "n":
            s_idx = int(cell.get("s", "0"))
            code = styles[s_idx] if s_idx < len(styles) else None
            return numfmt.format_number(text, code)
    return text


def _load_styles(zf: zipfile.ZipFile) -> list[str]:
    try:
        return numfmt.parse_styles(zf.read("xl/styles.xml"))
    except KeyError:
        return []


def _sheet_rows(
    zf: zipfile.ZipFile,
    name: str,
    part: str,
    shared: list[str],
    styles: list[str] | None,
) -> Iterator[tuple[str, int, list[str]]]:
    """Stream (name, row_index, cells) of ONE sheet part — the row loop of
    every workbook scan. Sparse rows are padded positionally from cell
    refs (P2, :457-465)."""
    row_idx = 0
    with zf.open(part) as fh:
        for _, row in ET.iterparse(fh):
            if row.tag != f"{_NS}row":
                continue
            cells: list[str] = []
            for cell in row.iter(f"{_NS}c"):
                ref = cell.get("r")
                pos = _col_index(ref) if ref else len(cells)
                while len(cells) < pos:
                    cells.append("")
                value = _cell_value(cell, shared, styles)
                if pos < len(cells):
                    cells[pos] = value
                else:
                    cells.append(value)
            yield name, row_idx, cells
            row_idx += 1
            row.clear()


def parse_xlsx_rows(
    data: bytes, sheet_prefix: str | None = None, formatted: bool = False
) -> Iterator[tuple[str, int, list[str]]]:
    """Stream (sheet_name, row_index, cells) from workbook bytes.

    Default: cells are the raw stored strings (numbers keep their
    serialized form, e.g. '45123.5') — the tolerant-cast layer downstream
    owns typing. ``formatted=True`` renders each numeric cell through its
    number format instead (POI ``DataFormatter.formatCellValue``
    semantics, SQLiteDirectImporter.java:457-465 — see sources/numfmt.py);
    identical to the default for the plain text/serial/integer cells
    transfer reports contain, and diverging exactly where the reference
    would (percent/currency/date masks).
    """
    with zipfile.ZipFile(io.BytesIO(data)) as zf:
        shared = _shared_strings(zf)
        styles = _load_styles(zf) if formatted else None
        for name, part in _sheet_parts(zf):
            if sheet_prefix is None or name.startswith(sheet_prefix):
                yield from _sheet_rows(zf, name, part, shared, styles)


# S1 discovery: the reference's findExcelFiles filter (:226-248)
WORKBOOK_GLOB = "*.xls*"
# rows per Arrow batch leaving a scan task: bounds task memory mid-sheet
CHUNK_ROWS = 50_000
RAW_SCHEMA = "_source_file string, _sheet string, _row_index int, _cells array<string>"
# one work unit: an .xlsx sheet (file, sheet name, zip part), or a whole
# .xls file (file, NULL, NULL) — a BIFF workbook is one stream
_UNIT_SCHEMA = "file string, sheet string, part string"


def _is_xls(file: str) -> bool:
    return file.lower().endswith(".xls")


def _filesystem(path: str) -> tuple[pafs.FileSystem, str]:
    """(filesystem, path on it) for a local path or any URI ``pyarrow.fs``
    resolves (file:, hdfs://, s3://, gs:// where the runtime has them)."""
    if "://" not in path and not path.startswith("file:"):
        path = os.path.abspath(path)
    return pafs.FileSystem.from_uri(path)


def plan_units(
    path: str, sheet_prefix: str | None = None
) -> list[tuple[str, str | None, str | None]]:
    """The scan's work list, in arrival order: sorted file path, then
    workbook sheet order. ``path`` is one workbook or a directory, listed
    non-recursively: names matching ``WORKBOOK_GLOB`` and not starting
    with ``.``, ``_`` or ``~`` (lock and temp files such as
    ``~$Job.xlsx`` or LibreOffice's ``.~lock.Job.xlsx#``). Each .xlsx is
    read only at its central directory and workbook.xml, never whole."""
    fs, root = _filesystem(path)
    info = fs.get_file_info(root)
    if info.type == pafs.FileType.NotFound:
        raise FileNotFoundError(path)
    if info.type == pafs.FileType.Directory:
        files = sorted(
            f.path
            for f in fs.get_file_info(pafs.FileSelector(root))
            if f.type == pafs.FileType.File
            and fnmatch.fnmatchcase(f.base_name, WORKBOOK_GLOB)
            and not f.base_name.startswith((".", "_", "~"))
        )
    else:
        files = [root]
    units: list[tuple[str, str | None, str | None]] = []
    for file in files:
        if _is_xls(file):
            units.append((file, None, None))
            continue
        with fs.open_input_file(file) as fh, zipfile.ZipFile(fh) as zf:
            units.extend(
                (file, name, part)
                for name, part in _sheet_parts(zf)
                if sheet_prefix is None or name.startswith(sheet_prefix)
            )
    return units


def _xlsx_unit_rows(
    fh, units, formatted: bool
) -> Iterator[tuple[str, int, list[str]]]:
    with zipfile.ZipFile(fh) as zf:
        shared = _shared_strings(zf)
        styles = _load_styles(zf) if formatted else None
        for _, name, part in units:
            yield from _sheet_rows(zf, name, part, shared, styles)


def read_units(
    path: str, units, sheet_prefix: str | None = None, formatted: bool = False
) -> Iterator[tuple[str, str, int, list[str]]]:
    """Stream (_source_file, _sheet, _row_index, _cells) for work-list
    units from ``plan_units(path, ...)``, in unit order. Runs on
    executors. Consecutive units of one workbook share its open file and
    its shared-strings table."""
    fs, _ = _filesystem(path)
    for file, group in itertools.groupby(units, key=lambda u: u[0]):
        fname = file.rsplit("/", 1)[-1]
        with fs.open_input_file(file) as fh:
            if _is_xls(file):
                rows = parse_xls_rows(fh.read(), sheet_prefix, formatted=formatted)
            else:
                rows = _xlsx_unit_rows(fh, group, formatted)
            for row in rows:
                yield (fname, *row)


def read_workbook_rows(
    spark: SparkSession,
    path: str,
    sheet_prefix: str | None = None,
    formatted: bool = False,
) -> DataFrame:
    """Distributed raw scan: every row of every matching sheet of every
    workbook under ``path`` → (_source_file, _sheet, _row_index,
    _cells array<string>).

    The ``plan_units`` work list becomes a JVM local relation
    (``operators/util.py:local_frame``), which Spark slices into
    min(units, defaultParallelism) contiguous partitions, so rows arrive
    in unit order and a huge multi-sheet workbook parses its sheets in
    parallel. Each task streams its sheets through iterparse and flushes
    ``CHUNK_ROWS``-row Arrow batches: task memory is O(chunk + shared
    strings), NOT O(workbook), the reference's bounded-memory claim for
    700 MB+ workbooks (SQLiteDirectImporter.java:330-379).
    """
    from shuttlestandalonedbcreator_spark.operators.util import local_frame

    units = plan_units(path, sheet_prefix)

    def parse_partition(batches):
        import pandas as pd

        cols = ["_source_file", "_sheet", "_row_index", "_cells"]
        for pdf in batches:
            rows = []
            batch = zip(pdf["file"], pdf["sheet"], pdf["part"])
            for row in read_units(path, batch, sheet_prefix, formatted):
                rows.append(row)
                if len(rows) >= CHUNK_ROWS:
                    yield pd.DataFrame(rows, columns=cols)
                    rows = []
            if rows:
                yield pd.DataFrame(rows, columns=cols)

    return local_frame(spark, units, _UNIT_SCHEMA).mapInPandas(
        parse_partition, schema=RAW_SCHEMA
    )


def read_transfer_reports(spark: SparkSession, path: str) -> DataFrame:
    """The reference's ingest scan (S1-S5): sheets named ``Transfer
    Report*``, header row dropped, cells mapped POSITIONALLY onto the 19
    RAW_COLUMNS (headers captured but never validated, :469-472,
    :511-513), short rows padded with '' (:512). Feed the result to
    plans.transfer_pipeline.ingest."""
    from shuttlestandalonedbcreator_spark.plans.transfer_pipeline import RAW_COLUMNS

    raw = read_workbook_rows(spark, path, sheet_prefix="Transfer Report")
    no_header = raw.filter(F.col("_row_index") > 0)  # S5 per sheet
    cols = [
        # F.get (not getItem) → NULL past the end under ANSI; '' via coalesce
        F.coalesce(F.get(F.col("_cells"), i), F.lit("")).alias(name)
        for i, name in enumerate(RAW_COLUMNS)
    ]
    return no_header.select(
        *cols,
        F.col("_source_file"),
        # global arrival order = work-list order: workbook by sorted path,
        # then sheet, then row — the reference processes files
        # sequentially (:170-200); the workbook that sorts last wins
        # last-write-wins
        F.monotonically_increasing_id().alias("_ingest_seq"),
    )


# ---------------------------------------------------------------------------
# writer (minimal OOXML, inline strings) + S9 / S10 tools
# ---------------------------------------------------------------------------

_CONTENT_TYPES = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>
<Default Extension="xml" ContentType="application/xml"/>
<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>
{overrides}
</Types>"""

_ROOT_RELS = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>
</Relationships>"""


def _col_letters(idx: int) -> str:
    letters = ""
    idx += 1
    while idx:
        idx, rem = divmod(idx - 1, 26)
        letters = chr(ord("A") + rem) + letters
    return letters


def write_workbook(sheets: dict[str, list[list[str]]], path: str) -> None:
    """Write a minimal .xlsx with inline-string cells (driver-side util:
    test fixtures + the S9 single-sheet projection sink)."""
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        overrides, wb_sheets, wb_rels = [], [], []
        for i, (name, rows) in enumerate(sheets.items(), start=1):
            part = f"xl/worksheets/sheet{i}.xml"
            overrides.append(
                f'<Override PartName="/{part}" ContentType="application/vnd.'
                'openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
            )
            wb_sheets.append(
                f'<sheet name="{escape(name, {chr(34): "&quot;"})}" sheetId="{i}" r:id="rId{i}"/>'
            )
            wb_rels.append(
                f'<Relationship Id="rId{i}" Type="http://schemas.openxmlformats.org/'
                f'officeDocument/2006/relationships/worksheet" Target="worksheets/sheet{i}.xml"/>'
            )
            xml_rows = []
            for r, row in enumerate(rows, start=1):
                cells = "".join(
                    f'<c r="{_col_letters(ci)}{r}" t="inlineStr"><is><t xml:space="preserve">'
                    f"{escape(str(v))}</t></is></c>"
                    for ci, v in enumerate(row)
                )
                xml_rows.append(f'<row r="{r}">{cells}</row>')
            zf.writestr(
                part,
                '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
                f'<worksheet xmlns="{_NS[1:-1]}"><sheetData>{"".join(xml_rows)}</sheetData></worksheet>',
            )
        zf.writestr("[Content_Types].xml", _CONTENT_TYPES.format(overrides="".join(overrides)))
        zf.writestr("_rels/.rels", _ROOT_RELS)
        zf.writestr(
            "xl/workbook.xml",
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            f'<workbook xmlns="{_NS[1:-1]}" xmlns:r="{_REL_NS[1:-1]}">'
            f'<sheets>{"".join(wb_sheets)}</sheets></workbook>',
        )
        zf.writestr(
            "xl/_rels/workbook.xml.rels",
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            f'<Relationships xmlns="{_PKG_REL_NS[1:-1]}">{"".join(wb_rels)}</Relationships>',
        )


def extract_sheet(
    spark: SparkSession, in_path: str, out_path: str, sheet_name: str = "Overview"
) -> int:
    """S9: write a new workbook containing ONLY ``sheet_name`` (exact-name
    select, TransferOverviewExtractor.java:259). Returns rows written."""
    rows_df = (
        read_workbook_rows(spark, in_path, sheet_prefix=None)
        .filter(F.col("_sheet") == sheet_name)
        .select("_row_index", "_cells")
        .orderBy("_row_index")
    )
    rows = [r["_cells"] for r in rows_df.collect()]
    write_workbook({sheet_name: rows}, out_path)
    return len(rows)


def inspect_columns(
    spark: SparkSession, path: str, max_rows: int = 1000, max_cols: int = 25
) -> DataFrame:
    """S10: peek scan — first ``max_rows`` rows, first ``max_cols`` columns
    (InspectColumnsStreaming.java:102,140)."""
    return (
        read_workbook_rows(spark, path, sheet_prefix=None)
        .filter(F.col("_row_index") < max_rows)
        .select(
            "_source_file",
            "_sheet",
            "_row_index",
            F.slice(F.col("_cells"), 1, max_cols).alias("_cells"),
        )
    )
