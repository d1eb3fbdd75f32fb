"""`spark.read.format("sqlite")` — parallel scan of a SQLite database as
a Spark 4 Python DataSource.

The reference tool's entire OUTPUT is a SQLite file
(SQLiteDirectImporter.java:282-314 creates `transfer_data` + views); this
source closes the round trip — a user migrating from the reference can
point the engine at their existing .db artifacts and keep every query:

    register_sqlite_source(spark)
    df = (spark.read.format("sqlite")
          .option("table", "transfer_data")
          .option("numPartitions", "8")
          .load("/data/transfer_reports.db"))

Partitioning: rowid ranges. SQLite has no server to push work to, but a
B-tree rowid range scan is O(log n + rows-in-range), so N executors each
read a disjoint `WHERE rowid BETWEEN lo AND hi` slice concurrently
(SQLite supports unlimited parallel READERS; connections open with
`mode=ro`). Ranges are computed from min/max rowid on the driver —
contiguous id spaces split evenly; sparse ones skew but stay correct
(same contract as Spark's own JDBC partitionColumn ranges). WITHOUT
ROWID tables fall back to a single partition.

Types: SQLite columns are dynamically typed; the Spark schema derives
from declared column affinity (PRAGMA table_info) — INT*→bigint,
REAL/FLOA/DOUB→double, DATETIME/TIMESTAMP→timestamp (the reference
stores 'yyyy-MM-dd HH:mm:ss' text, :1001), BLOB→binary, else string.
Per-row values are coerced tolerantly (junk in a numeric column → NULL —
the same E1 semantics as every other source here).
"""

from __future__ import annotations

import datetime
import os
import re
import sqlite3
from typing import Iterator

_INT_TEXT = re.compile(r"^[+-]?[0-9]+$")

from pyspark.sql import SparkSession
from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition


def _connect_ro(path: str) -> sqlite3.Connection:
    return sqlite3.connect(f"file:{path}?mode=ro", uri=True)


def _spark_type(decl: str) -> str:
    d = (decl or "").upper()
    if "INT" in d:
        return "bigint"
    if any(t in d for t in ("REAL", "FLOA", "DOUB")):
        return "double"
    if any(t in d for t in ("DATETIME", "TIMESTAMP")):
        return "timestamp"
    if "BLOB" in d:
        return "binary"
    return "string"


def _coerce(spark_type: str, v):
    """Tolerant per-row coercion (SQLite cells can hold any storage class
    regardless of the column's declared affinity)."""
    if v is None:
        return None
    if spark_type == "bigint":
        # Branch on storage class first (SQLite INTEGER affinity): INTEGER
        # passes through, REAL converts only when lossless, TEXT parses
        # under a strict integer grammar (no Python '1_0' underscores).
        if isinstance(v, int):
            return v
        if isinstance(v, float):
            return int(v) if v.is_integer() else None
        s = str(v).strip()
        return int(s) if _INT_TEXT.match(s) else None
    if spark_type == "double":
        try:
            return float(v)
        except (TypeError, ValueError):
            return None
    if spark_type == "timestamp":
        if isinstance(v, (int, float)):
            # epoch-seconds storage in a DATETIME column (unixepoch())
            try:
                return datetime.datetime.fromtimestamp(
                    v, datetime.timezone.utc
                ).replace(tzinfo=None)
            except (OverflowError, OSError, ValueError):
                return None
        s = str(v).strip()
        for fmt in ("%Y-%m-%d %H:%M:%S", "%Y-%m-%d %H:%M:%S.%f", "%Y-%m-%d"):
            try:
                return datetime.datetime.strptime(s, fmt)
            except ValueError:
                continue
        return None
    if spark_type == "binary":
        if isinstance(v, bytes):
            return v
        if isinstance(v, str):  # TEXT storage in a BLOB-declared column
            return v.encode("utf-8")
        try:
            return bytes(v)
        except (TypeError, ValueError):
            return None
    return str(v)


class _RowidRange(InputPartition):
    def __init__(self, lo: int | None, hi: int | None) -> None:
        self.lo = lo
        self.hi = hi  # None/None → full scan (WITHOUT ROWID fallback)


class SqliteReader(DataSourceReader):
    def __init__(self, options: dict, schema_fields: list[tuple[str, str]]) -> None:
        self.path = options.get("path")
        self.table = options.get("table")
        self.num_partitions = int(options.get("numpartitions", "8"))
        self.fields = schema_fields

    def partitions(self):
        try:
            with _connect_ro(self.path) as conn:
                lo, hi = conn.execute(
                    f'SELECT MIN(rowid), MAX(rowid) FROM "{self.table}"'
                ).fetchone()
        except sqlite3.OperationalError:
            # WITHOUT ROWID (or virtual) table: single sequential partition
            return [_RowidRange(None, None)]
        if lo is None:  # empty table
            return [_RowidRange(None, None)]
        n = max(1, min(self.num_partitions, hi - lo + 1))
        step = (hi - lo + 1 + n - 1) // n
        return [
            _RowidRange(lo + i * step, min(hi, lo + (i + 1) * step - 1))
            for i in range(n)
            if lo + i * step <= hi
        ]

    def read(self, partition: _RowidRange) -> Iterator[tuple]:
        cols = ", ".join(f'"{c}"' for c, _ in self.fields)
        sql = f'SELECT {cols} FROM "{self.table}"'
        args: tuple = ()
        if partition.lo is not None:
            sql += " WHERE rowid BETWEEN ? AND ?"
            args = (partition.lo, partition.hi)
        with _connect_ro(self.path) as conn:
            for row in conn.execute(sql, args):
                yield tuple(
                    _coerce(t, v) for (_, t), v in zip(self.fields, row)
                )


class SqliteDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "sqlite"

    def _fields(self) -> list[tuple[str, str]]:
        path = self.options.get("path")
        table = self.options.get("table")
        if not path or not table:
            raise ValueError(
                "sqlite source requires .load('<db-file>') and .option('table', <name>)"
            )
        if not os.path.exists(path):
            raise ValueError(f"sqlite database not found: {path}")
        with _connect_ro(path) as conn:
            info = conn.execute(f'PRAGMA table_info("{table}")').fetchall()
        if not info:
            raise ValueError(f"table not found in {path}: {table}")
        return [(r[1], _spark_type(r[2])) for r in info]

    def schema(self) -> str:
        return ", ".join(f"`{c}` {t}" for c, t in self._fields())

    def reader(self, schema) -> SqliteReader:
        return SqliteReader(self.options, self._fields())


def register_sqlite_source(spark: SparkSession) -> None:
    """Register the format (idempotent)."""
    spark.dataSource.register(SqliteDataSource)
