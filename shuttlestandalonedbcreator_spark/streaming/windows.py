"""Streaming windowed / stateful operators over an event stream.

The reference has no streaming surface (SURVEY.md §2.9) — these are the
engine's extension operators, built on public Structured Streaming
primitives only: `F.window`, `F.session_window`, watermarks, and
`dropDuplicatesWithinWatermark`. Each takes a DataFrame that may be batch
or streaming (same logical plan; Catalyst plans the stateful version when
the source is a stream).

Event schema (TESTDATA events table): event_id, ts, user_id, event_type,
value, props.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def tumbling_counts(
    events: DataFrame,
    window_size: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling-window counts + sums over ``ts`` with late-data bound.

    Streaming: per-window partial state, emitted on watermark expiry
    (append mode). Batch: plain groupBy on the window struct.
    """
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(F.window(F.col("ts"), window_size).alias("win"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "n_events",
            "total_value",
        )
    )


def sliding_rates(
    events: DataFrame,
    window_size: str = "1 hour",
    slide: str = "15 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Sliding-window event rates per event_type over ``ts``."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(
            F.window(F.col("ts"), window_size, slide).alias("win"),
            F.col("event_type"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n_events",
        )
    )


def session_aggregates(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Gap-based session windows over ``ts`` per user (stateful
    session_window — the native streaming realization of the batch
    sessionization query).

    Consumer gotcha (measured, Spark 4.1): do NOT put a plan-side
    ``.filter`` on ``session_start``/``session_end`` directly over this
    output in BATCH mode. Catalyst pushes such a predicate below the
    ``MergingSessions`` node as a per-row ``ts + gap`` scan filter,
    which changes the merge itself: a row whose solo window crosses the
    cut is removed before it can merge into an earlier session, leaving
    a phantom shorter session in the result (found by
    tools/stream_fuzz.py --late at sf0.1: plan-filtered 52403 vs
    post-merge 52402 sessions, one 2-event session split). Use
    :func:`finalized_sessions` for a safe end-time cut; the streaming
    path is unaffected (the watermark cut happens inside the stateful
    operator, after merging).
    """
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(
            F.session_window(F.col("ts"), gap).alias("win"), F.col("user_id")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("session_value"),
        )
        .select(
            F.col("user_id"),
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "n_events",
            "session_value",
        )
    )


def finalized_sessions(
    events: DataFrame,
    gap: str = "30 minutes",
    end_before=None,
) -> DataFrame:
    """Session aggregates with a SAFE end-time cut (batch and stream).

    ``end_before`` (a timestamp-coercible value or Column) keeps only
    sessions whose ``session_end`` is strictly earlier — the natural
    "sessions already finalized as of T" question. Applying that filter
    naively over :func:`session_aggregates` in batch mode is unsound
    (see its docstring: Catalyst pushes the predicate below
    MergingSessions, which changes the merge). This helper makes the
    predicate itself non-pushable by routing the compared column
    through a nondeterministic identity — ``shuffle(array(col))[0]``,
    a one-element shuffle, value-preserving by construction —
    because PushDownPredicate only moves deterministic predicates.
    (A plain unused nondeterministic barrier column does NOT work:
    column pruning deletes it before pushdown runs — measured.) The
    cut therefore runs on post-merge sessions, at zero materialization
    cost (no cache/checkpoint) and without disturbing the
    aggregation's own plan. Scale shape is identical to
    session_aggregates: one shuffle on user_id, merge-sort sessions
    per key.
    """
    out = session_aggregates(events, gap=gap)
    if end_before is None:
        return out
    end_nd = F.shuffle(F.array(F.col("session_end")))[0]
    return out.filter(end_nd < F.lit(end_before).cast("timestamp"))


def streaming_dedup(
    events: DataFrame,
    keys: list[str] | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Exactly-once-per-key within the ``ts`` watermark horizon
    (`dropDuplicatesWithinWatermark` keeps state bounded — the streaming
    realization of idempotent re-processing, reference :306)."""
    keys = keys or ["event_id"]
    if events.isStreaming:
        return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)
    return events.dropDuplicates(keys)
