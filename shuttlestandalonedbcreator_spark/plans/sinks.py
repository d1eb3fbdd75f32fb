"""Sinks — the engine's write surface.

Reference parity:
- S6 batched upsert writer (SQLiteDirectImporter.java:711-729): primary
  sink is partitioned parquet with dedup-before-write (A1); an optional
  SQLite EXPORT reproduces the reference's on-disk artifact byte-for-
  byte queryable (same table name, same columns) for parity checks.
- S7 DDL (tables/indexes/views, :282-314, :774-792): Spark has no
  secondary indexes — the physical-design equivalents are partition
  columns (+ optional bucketing) chosen from the reference's 9 indexed
  columns (job_name, file_status are the low-cardinality query keys).

Scale notes: `write_transfer_table` is the 100 TB path — hash-partitioned
parquet, append/overwrite by partition; the SQLite export streams through
`toLocalIterator` (bounded driver memory) and exists for tool parity, not
scale.
"""

from __future__ import annotations

import sqlite3

from pyspark.sql import DataFrame, SparkSession

from shuttlestandalonedbcreator_spark.plans.transfer_pipeline import RAW_COLUMNS

SQLITE_TABLE = "transfer_data"
SQLITE_BATCH = 1000  # reference BATCH_SIZE (:61)

# Reference storage classes (SQLiteDirectImporter.java:282-303): BIGINT for
# the size columns, INTEGER for level, DATETIME (stored as
# 'yyyy-MM-dd HH:mm:ss' text, :1001) for the date columns, TEXT otherwise.
# target_file_id is TEXT here (see SURVEY §1.2 — joined as string).
_SQLITE_BIGINT = {"source_file_size", "target_file_size"}
_SQLITE_INTEGER = {"level"}
_SQLITE_DATETIME = {
    "creation_time",
    "source_last_modification_time",
    "target_last_modification_time",
    "last_access_time",
    "start_time",
    "transfer_time",
    "import_timestamp",
}


def _sqlite_decl(col: str) -> str:
    if col in _SQLITE_BIGINT:
        return f"{col} BIGINT"
    if col in _SQLITE_INTEGER:
        return f"{col} INTEGER"
    if col in _SQLITE_DATETIME:
        return f"{col} DATETIME"
    return f"{col} TEXT"


def _sqlite_value(col: str, v):
    import datetime

    if v is None:
        return None
    if col in _SQLITE_BIGINT or col in _SQLITE_INTEGER:
        try:
            return int(str(v).strip())
        except ValueError:  # reference: junk numerics → NULL (:523-531)
            return None
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S")
    return str(v)

TRANSFER_COLUMNS = [
    *RAW_COLUMNS,
    "parent_folder",
    "parent_id",
    "level",
    "job_name",
    "import_timestamp",
]


def write_transfer_table(
    df: DataFrame,
    path: str,
    partition_by: tuple[str, ...] = ("job_name",),
    file_format: str = "parquet",
) -> None:
    """Primary sink: columnar files partitioned on the hot filter key(s),
    overwriting ``path``.

    Partition pruning then serves the reference's indexed lookups
    (`WHERE job_name = ...` README.md:82) without any index structure.
    ``file_format`` accepts any Spark-native columnar format — parquet
    (default) or orc; both carry the same pruning/pushdown behavior, orc
    matters for Hive-ecosystem consumers.
    """
    df.write.mode("overwrite").partitionBy(*partition_by).format(file_format).save(path)


def read_transfer_table(
    spark: SparkSession,
    path: str,
    file_format: str = "parquet",
    tolerate_corrupt: bool = False,
) -> DataFrame:
    """Read the sink back. ``tolerate_corrupt=True`` is the E2 per-FILE
    tolerance for the columnar sink itself: a truncated/garbage data file
    (crashed writer, partial copy) is skipped with a warning instead of
    failing every query over the table — the scan-level analogue of the
    per-row skip in the sources. Applied per-read via the datasource
    option, NOT session-wide, so normal reads keep fail-fast semantics."""
    reader = spark.read.format(file_format)
    if tolerate_corrupt:
        reader = reader.option("ignoreCorruptFiles", "true")
    return reader.load(path)


def export_sqlite(df: DataFrame, db_path: str, batch_size: int = SQLITE_BATCH) -> int:
    """Export to a SQLite database shaped like the reference's output
    (table `transfer_data`, `INSERT OR REPLACE` in 1000-row batches —
    :711-729). Driver-side streaming via toLocalIterator: parity/export
    tool, deliberately not the scale path. Returns rows written."""
    cols = [c for c in TRANSFER_COLUMNS if c in df.columns]
    col_sql = ", ".join(cols)
    placeholders = ", ".join("?" for _ in cols)
    conn = sqlite3.connect(db_path)
    try:
        conn.execute(
            f"CREATE TABLE IF NOT EXISTS {SQLITE_TABLE} ("
            "id INTEGER PRIMARY KEY AUTOINCREMENT, "
            + ", ".join(_sqlite_decl(c) for c in cols)
            + ", UNIQUE(file_name, target_file_id))"
        )
        total, batch = 0, []
        for row in df.select(*cols).toLocalIterator():
            batch.append(tuple(_sqlite_value(c, v) for c, v in zip(cols, row)))
            if len(batch) >= batch_size:
                conn.executemany(
                    f"INSERT OR REPLACE INTO {SQLITE_TABLE} ({col_sql}) VALUES ({placeholders})",
                    batch,
                )
                conn.commit()
                total += len(batch)
                batch = []
        if batch:
            conn.executemany(
                f"INSERT OR REPLACE INTO {SQLITE_TABLE} ({col_sql}) VALUES ({placeholders})",
                batch,
            )
            conn.commit()
            total += len(batch)
        return total
    finally:
        conn.close()
