"""Incremental file-drop ingestion — the reference's folder protocol as a
Structured Streaming file source.

Reference behavior (SQLiteDirectImporter.java):
- poll `source/`, process new workbooks sequentially   (:125-134, :153-159)
- after success move the file to `processed/`          (:185-192)
- idempotent re-processing via keyed upsert            (:306, :713)
- bounded memory per file                              (:170-199)

Spark-native restatement (SURVEY.md §2.9): a streaming file source with
`Trigger.AvailableNow` (drain-what-exists batch semantics),
`cleanSource=archive` + `sourceArchiveDir` (the processed/ move),
`maxFilesPerTrigger` (per-file sequential bound), and `foreachBatch`
running the SAME batch ingest pipeline (plans.transfer_pipeline) with a
keyed-upsert merge into the sink. One code path serves batch and
streaming — the pipeline functions are DataFrame→DataFrame.

Archive timing, two modes:
- default (``eager_archive=False``): Spark's ``cleanSource=archive``
  moves the files of micro-batch N while executing batch N+1, so the most
  recent file(s) stay in `source/` until the next PRODUCTIVE poll cycle.
  Correctness is unaffected (re-listed-but-checkpointed files are never
  re-processed), but folder state lags the reference by one poll.
- ``eager_archive=True``: each batch's files are moved to ``archive_dir``
  (flat, basename only — the reference's processed/ layout, :185-192)
  right after the batch's sink write succeeds, inside ``foreachBatch`` —
  same-poll folder parity with the reference. Same crash window as the
  reference too: a crash after the move but before the checkpoint commit
  re-plans the batch against a source file that is gone; the move is
  therefore LAST in the batch body, exactly like the reference's
  move-after-import.
"""

from __future__ import annotations

import os
import shutil
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from shuttlestandalonedbcreator_spark.plans.transfer_pipeline import (
    RAW_COLUMNS,
    dedup_last_wins,
    ingest,
)

RAW_SCHEMA = ", ".join(f"{c} STRING" for c in RAW_COLUMNS)


def watch_folder(
    spark: SparkSession,
    source_dir: str,
    target_dir: str,
    checkpoint_dir: str,
    archive_dir: str | None = None,
    max_files_per_trigger: int | None = None,
    eager_archive: bool = False,
) -> StreamingQuery:
    """Watch ``source_dir`` for transfer-report CSV files; ingest each
    through the batch pipeline and append to a parquet sink at
    ``target_dir``.

    Returns the started query (AvailableNow: call ``awaitTermination()``
    to drain everything currently in the folder and stop — re-run on the
    next poll, exactly the reference's cron-style protocol).
    """
    reader = (
        spark.readStream.format("csv")
        .schema(RAW_SCHEMA)
        .option("header", "true")  # S5: header-row skip
        .option("pathGlobFilter", "*.csv")
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    if archive_dir and not eager_archive:
        # S8: source lifecycle — archive consumed files (lazy: batch N's
        # files move during batch N+1)
        reader = reader.option("cleanSource", "archive").option(
            "sourceArchiveDir", archive_dir
        )
    raw = reader.load(source_dir).withColumn("_source_file", F.input_file_name())

    # basename minus the streaming container's own extension — the
    # equivalent batch input is the bare workbook name (F3 strips only
    # .xlsx/.xls, reference :941). input_file_name() is a percent-encoded
    # URI ('Job B.csv' → 'Job%20B.csv'): protect literal '+' (url_decode
    # is form-decoding and would turn it into a space), then decode %XX
    basename = F.element_at(F.split(F.col("_source_file"), "/"), -1)
    basename = F.url_decode(F.regexp_replace(basename, r"\+", "%2B"))
    basename = F.regexp_replace(basename, r"\.csv$", "")

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        # _batch_id is the major upsert-order key: _ingest_seq restarts
        # per micro-batch, batch ids are monotonic across runs (checkpoint)
        if eager_archive and archive_dir:
            # foreachBatch frames are LogicalRDD-backed (inputFiles() is
            # empty), so list the batch's files from the _source_file
            # column — a tiny distinct, bounded by maxFilesPerTrigger
            src_files = [
                r[0] for r in batch.select("_source_file").distinct().collect()
            ]
        out = ingest(
            batch.withColumn("_source_file", basename).withColumn(
                "_ingest_seq", F.monotonically_increasing_id()
            )
        ).withColumn("_batch_id", F.lit(batch_id))
        out.write.mode("append").parquet(target_dir)
        if eager_archive and archive_dir:
            os.makedirs(archive_dir, exist_ok=True)
            for uri in src_files:
                # input_file_name() yields a percent-encoded file URI —
                # decode properly or 'Job A.csv' ('Job%20A.csv') is
                # silently never archived
                if uri.startswith("file:"):
                    p = unquote(urlparse(uri).path)
                else:
                    p = uri
                if os.path.exists(p):
                    shutil.move(p, os.path.join(archive_dir, os.path.basename(p)))

    return (
        raw.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_deduplicated(spark: SparkSession, target_dir: str) -> DataFrame:
    """Read the sink with upsert semantics restored: appended re-imports
    collapse to the latest row per (file_name, target_file_id) — the
    dedup-on-read realization of `INSERT OR REPLACE` (A1)."""
    return dedup_last_wins(spark.read.parquet(target_dir))
