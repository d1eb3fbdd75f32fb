"""Continuous corpus deduplication: a streaming document source deduped
against an ever-growing minhash signature index.

This closes the loop on the batch dedup family (operators/dedup.py): at
100 TB you never re-compare the corpus against itself — each arriving
batch is (a) deduped internally (pairs → connected components → one
canonical doc per cluster), (b) compared against the persisted signature
index of everything already accepted, and (c) the survivors' signatures
are APPENDED to the index, so the next batch sees them. Per-batch cost is
O(batch × shingles) + one join keyed on (band, bucket) against the index;
the index is partitioned by `band` so the join prunes partitions.

The same idempotence story as the reference's folder protocol
(SQLiteDirectImporter.java:306, :713 — keyed upsert): the streaming
checkpoint guarantees each input file feeds exactly one micro-batch, and
within a batch the keep-decision is deterministic (min doc id wins).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from shuttlestandalonedbcreator_spark.operators.dedup import (
    incremental_neardup_pairs,
    minhash_index,
    minhash_lsh_pairs,
)
from shuttlestandalonedbcreator_spark.operators.graph import cluster_keep_list


def dedupe_batch_against_index(
    batch: DataFrame,
    index: DataFrame | None,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Pure batch core (unit-testable without a stream): rows of ``batch``
    that survive (1) within-batch near-dup clustering — smallest id per
    cluster kept — and (2) near-match against ``index`` (pass None for the
    first-ever batch), both at estimated Jaccard 0.5 over the index's
    MinHash shape."""
    internal_pairs = minhash_lsh_pairs(batch, id_col, text_col)
    kept = (
        cluster_keep_list(batch, internal_pairs, id_col)
        .filter(F.col("keep") == 1)
        .drop("cluster_id", "keep")
    )
    if index is None:
        return kept
    matched = incremental_neardup_pairs(
        kept, index, id_col, text_col
    ).select(F.col("new_id").alias(id_col)).distinct()
    return kept.join(matched, id_col, "left_anti")


def dedupe_stream(
    spark: SparkSession,
    source_dir: str,
    corpus_dir: str,
    index_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Watch ``source_dir`` for parquet (doc_id LONG, text STRING) drops;
    append accepted (never-seen) docs to ``corpus_dir`` and their
    signatures to ``index_dir``. AvailableNow trigger: drains what
    exists, then stops — rerun per poll cycle, like the reference's
    folder protocol."""
    raw = spark.readStream.schema("doc_id LONG, text STRING").parquet(source_dir)

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        import os

        index = (
            spark.read.parquet(index_dir)
            if os.path.isdir(index_dir) and any(
                f.endswith(".parquet") or f.startswith("band=")
                for f in os.listdir(index_dir)
            )
            else None
        )
        accepted = dedupe_batch_against_index(
            batch, index, "doc_id", "text"
        ).localCheckpoint(eager=True)  # compute ONCE; feeds two writes
        accepted.write.mode("append").parquet(corpus_dir)
        minhash_index(accepted, "doc_id", "text").write.partitionBy("band").mode(
            "append"
        ).parquet(index_dir)

    return (
        raw.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
