"""CSV source/sink for tabular corpora — the third interchange format
next to parquet (canonical storage) and JSONL (document corpora).

Reads are tolerant in the reference's E1 style (per-row skip + side
channel, not job failure; SQLiteDirectImporter.java:487-506): rows that
fail the schema land in `_corrupt_record` (PERMISSIVE) or are skipped
executor-side (DROPMALFORMED) and the run continues.

Scale notes:
- uncompressed CSV splits by byte range (Spark's text scanner finds the
  next newline), so a single huge file still parallelizes; `multiLine`
  (quoted embedded newlines) defeats splitting — avoid it in hot paths.
- gz-compressed files are NOT splittable — shard via the writer's
  `num_files` instead of compressing one big file.
- always pass an explicit schema in production: inference is an extra
  full pass, and CSV has no types to infer beyond string heuristics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from shuttlestandalonedbcreator_spark.sources.jsonl import CORRUPT_COL


def read_csv(
    spark: SparkSession,
    path: str,
    schema: str | None = None,
    keep_corrupt: bool = False,
) -> DataFrame:
    """Tolerant read of comma-separated files with a header row. With
    `schema` + `keep_corrupt=True`, rows that fail parsing/casting fill
    `_corrupt_record` (PERMISSIVE) for `corrupt_stats` reconciliation;
    default path uses DROPMALFORMED (bad rows skipped executor-side, job
    never fails — E1 contract). Without `schema`, Spark infers (extra
    pass — test/dev only)."""
    r = spark.read.option("header", True)
    if schema is not None and keep_corrupt:
        return (
            r.option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", CORRUPT_COL)
            .schema(f"{schema}, {CORRUPT_COL} string")
            .csv(path)
        )
    if schema is not None:
        return r.option("mode", "DROPMALFORMED").schema(schema).csv(path)
    return r.option("inferSchema", True).csv(path)


def write_csv(
    df: DataFrame,
    path: str,
    num_files: int | None = None,
    partition_by: tuple[str, ...] = (),
) -> None:
    """Write uncompressed, comma-separated CSV shards with a header row.
    `num_files` bounds shard count (small-files control); `partition_by`
    gives hive-style layout for partition pruning by downstream
    readers."""
    if num_files is not None:
        df = df.repartition(num_files)
    w = df.write.mode("overwrite").option("header", True)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.csv(path)
