"""Custom stateful streaming operator (applyInPandasWithState) — the
deep end of the extension surface (SURVEY.md §2.9: absent in the
reference; provided as a first-class engine operator).

`running_user_totals` is the canonical custom-state shape: per-key state
(count, sum, last-seen) carried across micro-batches in an Arrow-backed
GroupState, emitting the updated aggregate each batch. The same function
applied to a batch frame degrades to a plain groupBy — tests pin the
equivalence. Watermarked stream-stream interval joins live in
`streaming/joins.py:interval_join`; a look-back join is that join with
the sides swapped.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

STATE_SCHEMA = "n_events long, total_value double, last_event_id long"
OUTPUT_SCHEMA = "user_id long, n_events long, total_value double, last_event_id long"


def _update_user_totals(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """State update function: fold this batch's rows into (count, sum,
    last id); emit the running totals once per batch per key."""
    if state.exists:
        n, total, last_id = state.get
    else:
        n, total, last_id = 0, 0.0, -1
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].fillna(0.0).sum())
        if len(pdf):
            last_id = max(last_id, int(pdf["event_id"].max()))
    state.update((n, float(round(total, 6)), last_id))
    yield pd.DataFrame(
        [{"user_id": key[0], "n_events": n, "total_value": float(round(total, 6)), "last_event_id": last_id}]
    )


def running_user_totals(events: DataFrame) -> DataFrame:
    """Cumulative per-user totals across micro-batches (custom state).

    Streaming: applyInPandasWithState, update mode — the LAST emitted row
    per user equals the all-time aggregate. Batch frames take the plain
    groupBy path (same result in one shot).
    """
    if events.isStreaming:
        return (
            events.groupBy("user_id")
            .applyInPandasWithState(
                _update_user_totals,
                outputStructType=OUTPUT_SCHEMA,
                stateStructType=STATE_SCHEMA,
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout,
            )
        )
    return events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum(F.coalesce(F.col("value"), F.lit(0.0))), 6).alias("total_value"),
        F.max("event_id").alias("last_event_id"),
    )
