"""End-to-end transfer-report ingest pipeline — the reference's core ETL
re-expressed as one declarative DataFrame plan.

Reference lifecycle (SQLiteDirectImporter.java, SURVEY.md §3.1):
  discover files → per-sheet scan → String[] rows → typed projection with
  tolerant casts → derived columns (level/parent_folder/job_name) →
  batched INSERT OR REPLACE (last-write-wins on (file_name,
  target_file_id)) → parent_id hash-join → views.

Spark restatement (this module):
  raw all-string DataFrame (any source: Excel reader, CSV, parquet)
  → `typed_projection` → `with_derived_columns` → `dedup_last_wins`
  → `resolve_parent_ids` (join J1, AQE-sized) → write parquet.

Each stage is a pure DataFrame→DataFrame function so the same plan serves
batch and `foreachBatch` streaming ingestion. At 100 TB the plan is:
narrow casts/derivations (no shuffle) → one shuffle for the keyed dedup →
the parent-id join (broadcast-hash while the folder map measures small,
shuffled when it doesn't — AQE decides from runtime size) → partitioned
write.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from shuttlestandalonedbcreator_spark.functions.casts import text_cell, try_long
from shuttlestandalonedbcreator_spark.functions.dates import excel_serial_to_timestamp
from shuttlestandalonedbcreator_spark.functions.paths import (
    job_name_from_filename,
    parent_folder,
    path_level,
)

# Positional contract — DB_COLUMNS (SQLiteDirectImporter.java:67-72);
# headers are never validated, mapping is by position (:511-513).
RAW_COLUMNS = (
    "file_name",
    "source_file_size",
    "target_file_size",
    "target_file_id",
    "source_account",
    "target_account",
    "creation_time",
    "source_last_modified_by",
    "source_last_modification_time",
    "target_last_modification_time",
    "last_access_time",
    "start_time",
    "transfer_time",
    "checksum_method",
    "checksum",
    "file_status",
    "errors",
    "status",
    "translated_file_name",
)

BIGINT_COLUMNS = ("source_file_size", "target_file_size")  # :89-91 (minus the id quirk)
DATE_COLUMNS = (
    "creation_time",
    "source_last_modification_time",
    "target_last_modification_time",
    "last_access_time",
    "start_time",
    "transfer_time",
)  # :83-86
# target_file_id: BIGINT in code but queried as TEXT (:807-810, :910) —
# StringType is the safe superset (SURVEY.md §1.2).
TEXT_COLUMNS = tuple(c for c in RAW_COLUMNS if c not in BIGINT_COLUMNS + DATE_COLUMNS)


def typed_projection(raw: DataFrame) -> DataFrame:
    """All-string raw rows → typed columns with the reference's tolerant
    casts: numeric junk/empty → NULL, serial dates → timestamp (NULL on
    junk/zero), TEXT keeps '' (the ''-vs-NULL asymmetry, :464 vs :523)."""
    cols = []
    for c in RAW_COLUMNS:
        if c in BIGINT_COLUMNS:
            cols.append(try_long(F.col(c)).alias(c))
        elif c in DATE_COLUMNS:
            cols.append(excel_serial_to_timestamp(F.col(c)).alias(c))
        else:
            cols.append(text_cell(F.col(c)).alias(c))
    passthrough = [c for c in raw.columns if c not in RAW_COLUMNS]
    return raw.select(*cols, *passthrough)


def with_derived_columns(df: DataFrame) -> DataFrame:
    """Materialized derived columns, computed once at ingest (reference
    :538-546 — an intentional physical-design choice we keep); the job
    name comes from ``_source_file`` when the scan carries it."""
    out = (
        df.withColumn("level", path_level(F.col("file_name")))
        .withColumn("parent_folder", parent_folder(F.col("file_name")))
        .withColumn("import_timestamp", F.current_timestamp())
    )
    if "_source_file" in df.columns:
        out = out.withColumn("job_name", job_name_from_filename(F.col("_source_file")))
    else:
        out = out.withColumn("job_name", F.lit("Unknown"))
    return out


def dedup_last_wins(df: DataFrame) -> DataFrame:
    """A1: keep the latest row per (file_name, target_file_id) — the
    `INSERT OR REPLACE` upsert (:306, :713).

    Arrival order: whichever of (_batch_id, _ingest_seq) exist —
    _ingest_seq alone restarts per micro-batch, so the batch id must be
    the major key for cross-run upserts; falls back to a synthetic id
    for already-unique inputs."""
    seq_cols = [c for c in ("_batch_id", "_ingest_seq") if c in df.columns]
    orders = (
        [F.desc(c) for c in seq_cols]
        if seq_cols
        else [F.desc(F.monotonically_increasing_id())]
    )
    w = Window.partitionBy("file_name", "target_file_id").orderBy(*orders)
    return (
        df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")
    )


def resolve_parent_ids(df: DataFrame) -> DataFrame:
    """J1: parent_id = target_file_id of the row whose file_name equals
    this row's parent_folder.

    Reference builds a global driver-side HashMap keeping the LAST
    duplicate key (:810) and probes each row (:797-860). Spark-native:
    collapse duplicate file_names (greatest ingest seq wins), left-equi
    join. No explicit broadcast hint: the id map holds one row per
    FOLDER in the dataset, which grows with the corpus — the same
    unbounded growth the reference's in-memory HashMap has (it OOMs
    first). AQE picks broadcast-hash from the map's measured size while
    it fits and falls back to a shuffled join when it doesn't, which is
    the 100 TB-safe behavior.
    """
    seq = F.col("_ingest_seq") if "_ingest_seq" in df.columns else F.monotonically_increasing_id()
    w = Window.partitionBy("file_name").orderBy(F.desc("_seq"))
    id_map = (
        df.filter(F.col("target_file_id").isNotNull() & (F.col("target_file_id") != ""))
        .select("file_name", "target_file_id", seq.alias("_seq"))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(F.col("file_name").alias("_pname"), F.col("target_file_id").alias("parent_id"))
    )
    return df.join(
        id_map,
        df["parent_folder"] == id_map["_pname"],
        "left",
    ).drop("_pname")


def ingest(raw: DataFrame, materialize: bool = False) -> DataFrame:
    """Full pipeline: typed projection → derived → dedup → parent ids.

    ``materialize=True`` localCheckpoints the deduped frame before
    parent-id resolution: J1 reads its input TWICE (id-map build +
    probe), so without it the whole upstream — including the Python
    workbook parse, the costliest stage of the Excel path — evaluates
    twice. Parquet-backed inputs can leave it off (a rescan is cheap
    columnar IO); measured ~1.4× ingest throughput on the workbook
    bench (tools/ingest_bench.py)."""
    deduped = dedup_last_wins(with_derived_columns(typed_projection(raw)))
    if materialize:
        deduped = deduped.localCheckpoint(eager=True)
    return resolve_parent_ids(deduped)
