"""JSONL (newline-delimited JSON) source/sink for document corpora.

The dominant interchange format for training-data pipelines: one JSON
object per line, so files split by byte range and every executor parses
its own slice — no whole-file parse, unlike `multiLine=true`. Reads are
tolerant in the reference's E1 style (per-row skip + side channel, not
job failure; SQLiteDirectImporter.java:487-506): malformed lines land in
`_corrupt_record` and the run continues.

Scale notes:
- always pass an explicit schema in production: schema inference is a
  full extra pass over the data (`read_jsonl` infers only when asked).
- compressed `.jsonl.gz` files are NOT splittable — one gz file = one
  task; shard the corpus into many files (the writer's `num_files`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

CORRUPT_COL = "_corrupt_record"

#: documents-table schema (TESTDATA.md) + corrupt-record side channel
DOCUMENTS_SCHEMA = (
    "doc_id bigint, text string, lang string, source string, n_chars bigint"
)


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: str | None = None,
    keep_corrupt: bool = False,
) -> DataFrame:
    """Tolerant line-JSON read. With `schema` + `keep_corrupt=True`,
    malformed lines fill the `_corrupt_record` column (PERMISSIVE) for
    `corrupt_stats` reconciliation — cache the frame before querying
    only that column (Spark rejects corrupt-column-only queries on raw
    reads). Default path uses DROPMALFORMED: bad lines are skipped
    executor-side, the job never fails (E1 contract). Without `schema`,
    Spark infers (extra pass — test/dev only)."""
    if schema is not None and keep_corrupt:
        return (
            spark.read.option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", CORRUPT_COL)
            .schema(f"{schema}, {CORRUPT_COL} string")
            .json(path)
        )
    if schema is not None:
        return spark.read.option("mode", "DROPMALFORMED").schema(schema).json(path)
    return spark.read.option("mode", "PERMISSIVE").json(path)


def corrupt_stats(df: DataFrame) -> tuple[int, int]:
    """(good_rows, bad_rows) for a `keep_corrupt=True` read — the E1
    'processed/skipped' reconciliation, computed in one aggregate."""
    row = df.agg(
        F.count(F.when(F.col(CORRUPT_COL).isNull(), 1)).alias("good"),
        F.count(F.col(CORRUPT_COL)).alias("bad"),
    ).collect()[0]
    return row["good"], row["bad"]


def write_jsonl(
    df: DataFrame,
    path: str,
    num_files: int | None = None,
    partition_by: tuple[str, ...] = (),
) -> None:
    """Write a corpus as uncompressed line-JSON shards. `num_files`
    bounds shard count (small-files control); `partition_by` gives
    hive-style layout for partition pruning by downstream readers."""
    if num_files is not None:
        df = df.repartition(num_files)
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.json(path)
