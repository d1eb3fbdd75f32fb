"""`spark.read.format("xlsx")` / `df.write.format("xlsx")` — the Excel
scan AND sink as a first-class Spark 4 Python DataSource
(pyspark.sql.datasource API).

An adapter over the one workbook scan in `sources/excel.py`, exposed
through the catalog-level source interface so the reference's ingest
source composes like any built-in format:

    register_xlsx_source(spark)
    df = (spark.read.format("xlsx")
          .option("sheetPrefix", "Transfer Report")
          .load("/data/source"))
    df.write.format("xlsx").mode("overwrite").save("/data/out")

Read partitioning: `partitions()` calls the same planner as
`excel.read_workbook_rows` (`plan_units`: S1 discovery, one unit per
matching .xlsx sheet and per .xls file) and returns one partition per
unit; `read()` parses its unit with the same `excel.read_units`.

Write partitioning: the standard Spark sink shape — one
`part-<n>-<uuid>.xlsx` workbook per task into the target directory
(a single .xlsx cannot be appended distributed; the per-partition file
is what scales), every column rendered as its string form with a header
row, via `excel.write_workbook`. `mode("overwrite")` clears prior
part files on commit through a staged `_temporary` rename, so a failed
job never half-replaces the old data.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import SparkSession
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)

# module-level binding, NOT an import inside read()/__init__: the reader
# class is instantiated ON THE EXECUTOR, where an import statement would
# re-enter the import machinery with no repo on sys.path (NOTES.md
# standing fact 4). As module-level globals of the by-value package,
# these function objects travel inside the pickled class instead.
from shuttlestandalonedbcreator_spark.sources.excel import (
    RAW_SCHEMA,
    plan_units,
    read_units,
    write_workbook,
)


class _UnitPartition(InputPartition):
    def __init__(self, unit: tuple[str, str | None, str | None]) -> None:
        self.unit = unit


class XlsxReader(DataSourceReader):
    def __init__(self, options: dict) -> None:
        self.path = options.get("path")
        if not self.path:
            raise ValueError("xlsx source requires a path: .load('<dir-or-file>')")
        self.sheet_prefix = options.get("sheetprefix")

    def partitions(self):
        return [_UnitPartition(u) for u in plan_units(self.path, self.sheet_prefix)]

    def read(self, partition: _UnitPartition | None):
        # zero units: Spark still runs one task, with partition None
        if partition is not None:
            yield from read_units(self.path, [partition.unit], self.sheet_prefix)


class _PartMessage(WriterCommitMessage):
    def __init__(self, tmp_path: str | None, n_rows: int) -> None:
        self.tmp_path = tmp_path
        self.n_rows = n_rows


class XlsxWriter(DataSourceWriter):
    """One workbook per task (the per-partition file is the only xlsx
    shape that scales — the format cannot be appended distributed).
    Tasks write into `<dir>/_temporary/`; commit() renames every staged
    file to `part-<i>-<uuid>.xlsx` and only then (under overwrite)
    removes prior part files — a failed job never half-replaces data."""

    def __init__(self, options: dict, schema, overwrite: bool) -> None:
        self.path = options.get("path")
        if not self.path:
            raise ValueError("xlsx sink requires a path: .save('<dir>')")
        self.sheet = options.get("sheetname", "Sheet1")
        self.header = [f.name for f in schema.fields]
        self.overwrite = overwrite
        self.tmp_dir = os.path.join(self.path, "_temporary")
        os.makedirs(self.tmp_dir, exist_ok=True)  # driver-side

    def write(self, iterator) -> _PartMessage:
        rows = [self.header]
        for row in iterator:
            rows.append(["" if v is None else str(v) for v in row])
        if len(rows) == 1:  # empty partition: no part file
            return _PartMessage(None, 0)
        tmp = os.path.join(self.tmp_dir, f"{uuid.uuid4().hex}.xlsx")
        write_workbook({self.sheet: rows}, tmp)
        return _PartMessage(tmp, len(rows) - 1)

    def commit(self, messages) -> None:
        if self.overwrite:
            for f in os.listdir(self.path):
                if f.startswith("part-") and f.endswith(".xlsx"):
                    os.remove(os.path.join(self.path, f))
        staged = [m for m in messages if m is not None and m.tmp_path]
        for i, m in enumerate(staged):
            final = os.path.join(
                self.path, f"part-{i:05d}-{os.path.basename(m.tmp_path)}"
            )
            os.replace(m.tmp_path, final)
        shutil.rmtree(self.tmp_dir, ignore_errors=True)

    def abort(self, messages) -> None:
        shutil.rmtree(self.tmp_dir, ignore_errors=True)


class XlsxDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "xlsx"

    def schema(self) -> str:
        return RAW_SCHEMA

    def reader(self, schema) -> XlsxReader:
        return XlsxReader(self.options)

    def writer(self, schema, overwrite: bool) -> XlsxWriter:
        return XlsxWriter(self.options, schema, overwrite)


def register_xlsx_source(spark: SparkSession) -> None:
    """Register the format (idempotent)."""
    spark.dataSource.register(XlsxDataSource)
