"""Continuous CDC apply: a stream of change rows merged into a parquet
table per micro-batch — the streaming twin of `plans/merge.py`.

The reference's continuous mode re-imports arriving workbook deltas with
per-row `INSERT OR REPLACE` (SQLiteDirectImporter.java:814-864 driven by
the folder watcher); here the arriving batch is a CDC feed
(key, payload, order, op) and each micro-batch applies atomically via
`merge_upsert`'s copy-on-write swap.

Replay semantics: foreachBatch is at-least-once, and merging the SAME
batch twice is a no-op by construction — last-write-wins resolves every
key to the same winner, and deletes of already-absent keys do nothing —
so the table converges to exactly-once contents without a transaction
log.

Scale: `apply_cdc_stream` rewrites the table per micro-batch (the
no-table-format trade; see plans/merge.py) — keep batches coarse.
`apply_cdc_stream_versioned` is the scale form: one INCREMENTAL
snapshot per batch (changed partitions rewritten, the rest hard-linked),
so per-batch cost tracks the batch and every batch boundary is a
retained, time-travelable version.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from shuttlestandalonedbcreator_spark.plans.merge import merge_upsert


def apply_cdc_stream(
    changes: DataFrame,
    table_path: str,
    keys: list[str],
    order_col: str,
    checkpoint_dir: str,
    version_dir: str | None = None,
) -> StreamingQuery:
    """Start merging the streaming ``changes`` into ``table_path``; an
    ``op`` column, when present, marks deletes.

    With ``version_dir`` set, each applied micro-batch additionally
    commits the post-merge table as a snapshot there
    (`plans/versioned.py`) — a time-travelable CDC history ("the table
    as of batch N"). Replayed batches (at-least-once foreachBatch) merge
    as no-ops and re-commit an identical snapshot: version numbers are
    monotone but contents stay convergent, so any retained version is a
    true point-in-time state."""

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        merge_upsert(
            batch.sparkSession, table_path, batch, keys, order_col, "op"
        )
        if version_dir is not None:
            from shuttlestandalonedbcreator_spark.plans.versioned import (
                write_version,
            )

            write_version(
                batch.sparkSession,
                batch.sparkSession.read.parquet(table_path),
                version_dir,
            )

    return (
        changes.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def apply_cdc_stream_versioned(
    changes: DataFrame,
    version_dir: str,
    keys: list[str],
    order_col: str,
    partition_col: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Start committing the streaming ``changes`` (deletes marked by an
    ``op`` column, when present) as one INCREMENTAL snapshot per
    micro-batch (`plans/versioned.py:write_version_incremental`) — the
    versioned table IS the store, no side table: each commit rewrites
    only the partitions the batch touches and hard-links the rest from
    the previous snapshot, so per-batch cost scales with the batch, not
    the table, AND every batch boundary is a retained, time-travelable
    version. This is the
    100 TB form of `apply_cdc_stream(version_dir=...)`, whose history
    commit re-writes the full table per batch.

    Replay semantics: at-least-once foreachBatch re-applies converge —
    a replayed batch produces a new version NUMBER whose content equals
    its predecessor (last-write-wins + delete-of-absent no-ops), so any
    retained version remains a true point-in-time state. Contract:
    ``partition_col`` must be a function of the keys (the
    merge_upsert_partitioned constraint)."""

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        from shuttlestandalonedbcreator_spark.plans.versioned import (
            write_version_incremental,
        )

        write_version_incremental(
            batch.sparkSession,
            version_dir,
            batch,
            keys,
            order_col,
            partition_col,
            "op",
        )

    return (
        changes.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
