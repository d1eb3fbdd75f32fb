"""Structured Streaming tests: folder protocol end-to-end (discover →
ingest → archive → idempotent re-import) and windowed/stateful operators
(streaming results must equal the batch computation)."""

from __future__ import annotations

import csv
import os

import pytest
from pyspark.sql import functions as F

from shuttlestandalonedbcreator_spark.plans.transfer_pipeline import RAW_COLUMNS
from shuttlestandalonedbcreator_spark.sources.registry import load_table
from shuttlestandalonedbcreator_spark.streaming import windows as W
from shuttlestandalonedbcreator_spark.streaming.file_protocol import (
    read_deduplicated,
    watch_folder,
)


def _write_report_csv(path, rows):
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(RAW_COLUMNS)
        for r in rows:
            w.writerow(r)


def _row(file_name, size, tgt_id, status):
    base = {c: "" for c in RAW_COLUMNS}
    base.update(
        file_name=file_name, source_file_size=size, target_file_id=tgt_id, file_status=status
    )
    return [base[c] for c in RAW_COLUMNS]


def test_folder_protocol_end_to_end(spark, tmp_path):
    source = tmp_path / "source"
    processed = tmp_path / "processed"
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    source.mkdir()

    _write_report_csv(
        source / "JobA.csv",
        [_row("/A", "", "10", "success"), _row("/A/f1.pdf", "100", "11", "success")],
    )
    _write_report_csv(source / "JobB.csv", [_row("/B/f2.pdf", "200", "20", "failed")])

    q = watch_folder(
        spark, str(source), sink, ckpt, archive_dir=str(processed), max_files_per_trigger=1
    )
    q.awaitTermination(120)

    out = read_deduplicated(spark, sink)
    rows = {r["file_name"]: r for r in out.collect()}
    assert len(rows) == 3
    assert rows["/A/f1.pdf"]["parent_id"] == "10"  # J1 ran inside the stream
    assert rows["/A/f1.pdf"]["job_name"] == "JobA"
    assert rows["/B/f2.pdf"]["job_name"] == "JobB"

    # S8: consumed files are archived out of source/. Spark archives
    # lazily (files of batch N move during batch N+1), so after this
    # 2-batch run at least the first file must be gone; the tail file
    # moves on the NEXT poll cycle — asserted after the re-run below.
    assert "JobA.csv" not in os.listdir(source)

    # idempotent re-import: drop an updated JobA, re-run, upsert wins
    _write_report_csv(
        source / "JobA2.csv", [_row("/A/f1.pdf", "150", "11", "match-exists")]
    )
    q2 = watch_folder(
        spark, str(source), sink, ckpt, archive_dir=str(processed), max_files_per_trigger=1
    )
    q2.awaitTermination(120)
    out2 = read_deduplicated(spark, sink)
    assert out2.count() == 3  # still 3 keys
    updated = out2.filter(F.col("file_name") == "/A/f1.pdf").collect()[0]
    assert updated["file_status"] == "match-exists"  # last write won
    # the lazily-deferred first-run tail file has now been archived
    assert "JobB.csv" not in os.listdir(source)


def test_folder_protocol_eager_archive(spark, tmp_path):
    """eager_archive=True closes the one-poll archive lag vs the
    reference (SQLiteDirectImporter.java:185-192): after a SINGLE drain,
    every consumed file is already in processed/ (flat, basename layout)
    and source/ is empty — no second poll needed."""
    source = tmp_path / "source"
    processed = tmp_path / "processed"
    source.mkdir()

    _write_report_csv(
        source / "JobA.csv",
        [_row("/A", "", "10", "success"), _row("/A/f1.pdf", "100", "11", "success")],
    )
    # space in the name: input_file_name() percent-encodes the URI, which
    # the eager move must decode or the file silently stays in source/
    _write_report_csv(source / "Job B.csv", [_row("/B/f2.pdf", "200", "20", "failed")])

    q = watch_folder(
        spark,
        str(source),
        str(tmp_path / "sink"),
        str(tmp_path / "ckpt"),
        archive_dir=str(processed),
        max_files_per_trigger=1,
        eager_archive=True,
    )
    q.awaitTermination(120)
    if q.exception() is not None:
        raise q.exception()

    # same-poll parity: both files archived, source drained, data landed
    assert sorted(os.listdir(processed)) == ["Job B.csv", "JobA.csv"]
    assert os.listdir(source) == []
    out = read_deduplicated(spark, str(tmp_path / "sink"))
    assert out.count() == 3
    assert {r["job_name"] for r in out.collect()} == {"JobA", "Job B"}


@pytest.fixture(scope="module")
def event_stream(spark, sf_small, tmp_path_factory):
    """events table re-materialized as a 3-file streaming source."""
    src = str(tmp_path_factory.mktemp("events_stream"))
    ev = load_table(spark, sf_small, "events")
    ev.withColumn("_bucket", F.col("event_id") % 3).repartition(3, "_bucket").drop(
        "_bucket"
    ).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", "1").parquet(src)
    return ev, stream


def _run_stream(stream_df, name):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    terminated = q.awaitTermination(180)
    if q.exception() is not None:
        raise q.exception()
    assert terminated, "stream did not finish within 180s"
    return name


def _canon(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


# The stream re-reads the events table bucketed by event_id % 3, so event
# TIME is unordered across micro-batches: rows older than the committed
# watermark are legitimately dropped as late data.  Whether that dropping
# happens is a race (watermark commits between batches are asynchronous —
# fast batches may all run with watermark 0), so batch-equivalence tests
# must use a watermark wider than the table's full time span.  The default
# 2h watermark's late-drop behavior is covered by test_stateful.py.
_FULL_SPAN = "3650 days"


def test_tumbling_stream_matches_batch(spark, event_stream):
    ev, stream = event_stream
    name = _run_stream(W.tumbling_counts(stream, watermark=_FULL_SPAN), "tumbling_mem")
    got = spark.table(name)
    want = W.tumbling_counts(ev)
    cols = ["window_start", "n_events", "total_value"]
    assert _canon(got, cols) == _canon(want, cols)


def test_session_stream_matches_batch(spark, event_stream):
    ev, stream = event_stream
    name = _run_stream(W.session_aggregates(stream, watermark=_FULL_SPAN), "session_mem")
    got = spark.table(name)
    want = W.session_aggregates(ev)
    cols = ["user_id", "session_start", "n_events", "session_value"]
    assert _canon(got, cols) == _canon(want, cols)


def test_finalized_sessions_safe_end_cut(spark):
    """The batch end-time cut over session windows must run AFTER
    session merging. A naive .filter(session_end < T) gets pushed by
    Catalyst below MergingSessions as a per-row ts + gap < T scan
    predicate, which removes the 10:25 row below BEFORE it can extend
    user 1's session past T — fabricating a finalized [10:00, 10:30)
    session that the unfiltered aggregation never produces.
    finalized_sessions blocks the pushdown (nondeterministic
    shuffle(array(end))[0] identity) so the cut sees merged sessions."""
    import datetime as dt

    def ts(h, m):
        return dt.datetime(2024, 1, 1, h, m)

    ev = spark.createDataFrame(
        [
            # user 1: 10:00 and 10:25 merge into [10:00, 10:55) >= T
            (1, ts(10, 0), 10.0),
            (1, ts(10, 25), 20.0),
            # user 2: solo [8:00, 8:30) < T — genuinely finalized
            (2, ts(8, 0), 5.0),
        ],
        "user_id long, ts timestamp, value double",
    )
    cut = ts(10, 35)
    got = W.finalized_sessions(ev, gap="30 minutes", end_before=cut)
    rows = got.select("user_id", "n_events", "session_value").collect()
    assert [(r[0], r[1], r[2]) for r in rows] == [(2, 1, 5.0)]
    # the full aggregation agrees: user 1's merged session ends at
    # 10:55, past the cut, so ONLY user 2's session is finalized
    full = W.session_aggregates(ev, gap="30 minutes").select(
        "user_id", "session_end"
    ).collect()
    assert {(r[0], r[1]) for r in full} == {(1, ts(10, 55)), (2, ts(8, 30))}
    # plan shape: the cut stays ABOVE the aggregate (not pushed to scan)
    plan = got._jdf.queryExecution().optimizedPlan().toString()
    assert plan.index("Filter") < plan.index("Aggregate")
    # end_before=None is a plain passthrough
    assert W.finalized_sessions(ev, gap="30 minutes").count() == 2


def test_streaming_dedup(spark, event_stream):
    ev, stream = event_stream
    dup_stream = W.streaming_dedup(stream, keys=["user_id", "event_type"], watermark="365 days")
    q = (
        dup_stream.writeStream.format("memory")
        .queryName("dedup_mem")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = spark.table("dedup_mem")
    # one row per (user_id, event_type) pair present in the data
    want = ev.select("user_id", "event_type").distinct().count()
    assert got.count() == want


def test_incremental_dedup_stream_two_polls(spark, tmp_path):
    """Continuous corpus dedup: within-batch clusters collapse to their
    canonical doc, cross-batch near-dups are rejected by the signature
    index, and the index grows with the accepted corpus."""
    from shuttlestandalonedbcreator_spark.streaming.incremental_dedup import dedupe_stream

    source = tmp_path / "drops"
    corpus = str(tmp_path / "corpus")
    index = str(tmp_path / "index")
    ckpt = str(tmp_path / "ckpt")
    source.mkdir()

    t_dup = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    t_uni1 = "one two three four five six seven eight nine ten"
    t_uni2 = "red orange yellow green blue indigo violet black white gray"

    def drop(name, rows):
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(source / name))

    def poll():
        q = dedupe_stream(spark, f"{source}/*", corpus, index, ckpt)
        q.awaitTermination(120)
        assert q.exception() is None

    drop("b1", [(1, t_dup), (2, t_dup), (3, t_uni1)])
    poll()
    assert sorted(r["doc_id"] for r in spark.read.parquet(corpus).collect()) == [1, 3]

    drop("b2", [(10, t_dup), (11, t_uni2)])  # 10 duplicates corpus doc 1
    poll()
    assert sorted(r["doc_id"] for r in spark.read.parquet(corpus).collect()) == [1, 3, 11]
    # index holds signatures for exactly the accepted docs
    assert sorted(
        set(r["id"] for r in spark.read.parquet(index).collect())
    ) == [1, 3, 11]


def test_dedupe_batch_leaves_no_cached_relation(spark):
    """A streaming poll runs the batch dedup core once per micro-batch
    for the life of the session, so the core must leave nothing in the
    session's cache: a relation cached per call and never unpersisted
    holds storage memory until the session ends."""
    from shuttlestandalonedbcreator_spark.operators.dedup import minhash_index
    from shuttlestandalonedbcreator_spark.streaming.incremental_dedup import (
        dedupe_batch_against_index,
    )

    cache = spark._jsparkSession.sharedState().cacheManager()
    before = cache.numCachedEntries()
    t_dup = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    first = spark.createDataFrame(
        [(1, t_dup), (2, t_dup), (3, "one two three four five six")],
        "doc_id long, text string",
    )
    kept = dedupe_batch_against_index(first, None, "doc_id", "text")
    assert sorted(r["doc_id"] for r in kept.collect()) == [1, 3]
    second = spark.createDataFrame(
        [(10, t_dup), (11, "red orange yellow green blue indigo violet")],
        "doc_id long, text string",
    )
    index = minhash_index(kept, "doc_id", "text")
    kept = dedupe_batch_against_index(second, index, "doc_id", "text")
    assert [r["doc_id"] for r in kept.collect()] == [11]
    assert cache.numCachedEntries() - before == 0


def test_hourly_rollup_incremental_maintenance(spark, sf_small, tmp_path):
    """Two polls of the continuous hourly rollup: results equal a batch
    aggregate over everything seen, and the second poll only rewrites the
    hour partitions its events touch."""
    import os
    import time

    from shuttlestandalonedbcreator_spark.streaming import rollup as R

    ev = load_table(spark, sf_small, "events")
    schema_str = "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE, props STRING"
    src = str(tmp_path / "drops")
    roll = str(tmp_path / "rollup")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)

    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    first = ev.filter(F.col("event_id") % 2 == 0).select(cols)
    second = ev.filter(F.col("event_id") % 2 == 1).select(cols).limit(50)

    def drop(df, name):
        df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / ("stage_" + name)))
        part = [
            f for f in os.listdir(tmp_path / ("stage_" + name)) if f.endswith(".parquet")
        ][0]
        os.rename(tmp_path / ("stage_" + name) / part, os.path.join(src, name + ".parquet"))

    def poll():
        q = R.maintain_hourly_rollup(spark, src, roll, ckpt, schema_str)
        assert q.awaitTermination(120)
        if q.exception() is not None:
            raise q.exception()

    drop(first, "a")
    poll()
    seen = first

    def expected(df):
        return {
            r["epoch_hour"]: (r["n_events"], round(r["total_value"], 2))
            for r in R.hourly_partial(df)
            .select(
                "epoch_hour", "n_events", (F.col("sum_scaled") / 100.0).alias("total_value")
            )
            .collect()
        }

    got = {
        r["epoch_hour"]: (r["n_events"], round(r["total_value"], 2))
        for r in R.read_rollup(spark, roll).collect()
    }
    assert got == expected(seen)

    # record per-partition mtimes, then poll a second small drop
    def part_mtimes():
        out = {}
        for d in os.listdir(roll):
            if d.startswith("epoch_hour="):
                p = os.path.join(roll, d)
                out[d] = max(os.path.getmtime(os.path.join(p, f)) for f in os.listdir(p))
        return out

    before = part_mtimes()
    time.sleep(1.1)
    drop(second, "b")
    poll()
    seen = first.unionByName(second)
    got = {
        r["epoch_hour"]: (r["n_events"], round(r["total_value"], 2))
        for r in R.read_rollup(spark, roll).collect()
    }
    assert got == expected(seen)

    touched = {
        f"epoch_hour={r['epoch_hour']}"
        for r in R.hourly_partial(second).select("epoch_hour").collect()
    }
    after = part_mtimes()
    for d, mt in after.items():
        if d in before and d not in touched:
            assert mt == before[d], f"untouched partition {d} was rewritten"


def test_stream_stream_interval_join_matches_batch(spark, event_stream):
    """Stream-STREAM interval join (streaming/joins.py): views correlated
    with same-user clicks within 1 hour. Both sides are the same
    micro-batched source filtered differently; watermark spans the full
    data so no row is dropped as late, and the result must equal the
    identical plan over the batch frame. Output rows are projected to a
    stable key set before comparison."""
    from shuttlestandalonedbcreator_spark.streaming.joins import interval_join

    ev, stream = event_stream

    def correlated(df):
        views = df.filter(F.col("event_type") == "view").select(
            "user_id", F.col("ts").alias("view_ts"), F.col("event_id").alias("view_id")
        )
        clicks = df.filter(F.col("event_type") == "click").select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        ).withColumnRenamed("c_user", "user_id")
        joined = interval_join(
            views, clicks, "user_id", "view_ts", "click_ts",
            max_delay="1 hour", watermark=_FULL_SPAN,
        )
        return joined.select("l.view_id", "r.click_id")

    q = (
        correlated(stream)
        .writeStream.format("memory")
        .queryName("ssjoin_mem")
        .outputMode("append")  # joins emit finalized rows, not aggregates
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    if q.exception() is not None:
        raise q.exception()
    name = "ssjoin_mem"
    got = _canon(spark.table(name), ["view_id", "click_id"])
    want = _canon(correlated(ev), ["view_id", "click_id"])
    assert got == want and len(want) > 0


def test_stream_stream_left_outer_interval_join_emits_unmatched(spark, tmp_path):
    """left_outer interval join: an unmatched left row must emit
    null-padded once the watermark passes ``left_ts + max_delay``.
    Three-file stream (mtime-ordered, one file per trigger): file A holds
    a matched view and an unmatched view at t0; files B and C hold
    far-future events whose only job is to advance the watermark. Batch C
    runs with the watermark committed after B (≫ t0 + 1h), which evicts
    A's state and finalizes the unmatched A view with a NULL click —
    regardless of whether a trailing no-data batch runs. Assertions are
    restricted to A's views: B/C rows sit at the stream head, where outer
    results legitimately never finalize (documented operator caveat)."""
    import json
    import time as _time

    from shuttlestandalonedbcreator_spark.streaming.joins import interval_join

    src = tmp_path / "events"
    src.mkdir()
    batches = {
        "a.json": [
            {"event_id": "v1", "user_id": "u1", "event_type": "view", "ts": "2024-01-01T00:00:00Z"},
            {"event_id": "c1", "user_id": "u1", "event_type": "click", "ts": "2024-01-01T00:10:00Z"},
            {"event_id": "v2", "user_id": "u2", "event_type": "view", "ts": "2024-01-01T00:00:00Z"},
        ],
        "b.json": [
            {"event_id": "vB", "user_id": "u8", "event_type": "view", "ts": "2024-02-01T00:00:00Z"},
            {"event_id": "cB", "user_id": "u8", "event_type": "click", "ts": "2024-02-01T00:00:01Z"},
        ],
        "c.json": [
            {"event_id": "vC", "user_id": "u9", "event_type": "view", "ts": "2024-03-01T00:00:00Z"},
            {"event_id": "cC", "user_id": "u9", "event_type": "click", "ts": "2024-03-01T00:00:01Z"},
        ],
    }
    now = _time.time()
    for i, (name, rows) in enumerate(batches.items()):
        p = src / name
        p.write_text("\n".join(json.dumps(r) for r in rows))
        os.utime(p, (now - 300 + i * 100, now - 300 + i * 100))

    schema = "event_id string, user_id string, event_type string, ts timestamp"
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(str(src))
    )
    views = stream.filter(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("view_ts"), F.col("event_id").alias("view_id")
    )
    clicks = stream.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts"), F.col("event_id").alias("click_id")
    )
    joined = interval_join(
        views, clicks, "user_id", "view_ts", "click_ts",
        max_delay="1 hour", watermark="1 minute", how="left_outer",
    )
    q = (
        joined.select("view_id", "click_id")
        .writeStream.format("memory")
        .queryName("ssjoin_outer_mem")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    if q.exception() is not None:
        raise q.exception()
    got = {
        (r["view_id"], r["click_id"])
        for r in spark.table("ssjoin_outer_mem").collect()
        if r["view_id"] in ("v1", "v2")
    }
    assert got == {("v1", "c1"), ("v2", None)}


def test_stream_static_broadcast_enrichment(spark, event_stream):
    """Stream-static join: a micro-batch stream enriched against a static
    broadcast dimension (per-user segment), then windowed counts per
    segment — results equal the same plan on the batch frame."""
    ev, stream = event_stream
    segments = ev.groupBy("user_id").agg(
        F.when(F.count(F.lit(1)) >= 10, "heavy").otherwise("light").alias("segment")
    )

    def enriched_counts(df):
        src = df.withWatermark("ts", _FULL_SPAN) if df.isStreaming else df
        return (
            src.join(F.broadcast(segments), "user_id")
            .groupBy(F.window("ts", "1 day").alias("win"), "segment")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(F.col("win.start").alias("day"), "segment", "n_events")
        )

    name = _run_stream(enriched_counts(stream), "enrich_mem")
    got = _canon(spark.table(name), ["day", "segment", "n_events"])
    want = _canon(enriched_counts(ev), ["day", "segment", "n_events"])
    assert got == want and len(want) > 0


def test_streaming_quality_monitor(spark, event_stream, tmp_path):
    """Per-micro-batch rule audit: every batch contributes one row per
    rule, per-batch checked counts sum to the table size, and the
    violation totals equal the batch-free audit of the whole table."""
    from shuttlestandalonedbcreator_spark.operators.quality import row_rule_audit
    from shuttlestandalonedbcreator_spark.streaming.dq_monitor import monitor_quality

    ev, stream = event_stream
    rules = {
        "value_not_null": F.col("value").isNotNull(),
        "value_in_range": F.col("value").between(-1e6, 1e6),
        "type_not_empty": F.col("event_type") != "",
    }
    out = str(tmp_path / "dq_results")
    q = monitor_quality(stream, rules, out, str(tmp_path / "ckpt"))
    q.awaitTermination(180)
    assert q.exception() is None
    got = spark.read.parquet(out).dropDuplicates(["batch_id", "rule"])
    per_rule = {
        r["rule"]: (r["checked"], r["violations"])
        for r in got.groupBy("rule")
        .agg(
            F.sum("checked").alias("checked"), F.sum("violations").alias("violations")
        )
        .collect()
    }
    whole = {
        r["rule"]: (r["checked"], r["violations"])
        for r in row_rule_audit(ev, rules).collect()
    }
    assert per_rule == whole
    assert got.select("batch_id").distinct().count() == 3  # one file per batch

    # Replay idempotency: re-processing the same batches (fresh
    # checkpoint → same batch_ids) dynamic-overwrites each batch's own
    # partition instead of appending — NO reader-side dedup needed.
    q2 = monitor_quality(stream, rules, out, str(tmp_path / "ckpt2"))
    q2.awaitTermination(180)
    assert q2.exception() is None
    replayed = spark.read.parquet(out)
    assert replayed.count() == replayed.dropDuplicates(["batch_id", "rule"]).count()
    per_rule2 = {
        r["rule"]: (r["checked"], r["violations"])
        for r in replayed.groupBy("rule")
        .agg(
            F.sum("checked").alias("checked"), F.sum("violations").alias("violations")
        )
        .collect()
    }
    assert per_rule2 == whole


def test_streaming_cdc_apply_converges_to_batch_merge(spark, tmp_path):
    """A stream of CDC batches merged per micro-batch must leave the
    table exactly where sequential batch merges leave it — and
    re-running the same stream from a FRESH checkpoint (full replay)
    must change nothing (at-least-once delivery, convergent merge)."""
    import os

    from shuttlestandalonedbcreator_spark.streaming.cdc_apply import apply_cdc_stream

    table = str(tmp_path / "tbl")
    spark.createDataFrame(
        [(1, "a", 1), (2, "b", 1), (3, "c", 1)], "k long, v string, ver long"
    ).write.parquet(table)

    feed_dir = tmp_path / "feed"
    feed_dir.mkdir()
    batches = [
        [(2, "b2", 2, "U"), (4, "d", 2, "U")],          # update + insert
        [(1, None, 3, "D"), (4, "d3", 3, "U")],          # delete + update
        [(5, "e", 4, "U"), (3, "stale", 0, "U")],        # insert + stale
    ]
    for i, rows in enumerate(batches):
        spark.createDataFrame(
            rows, "k long, v string, ver long, op string"
        ).coalesce(1).write.parquet(str(feed_dir / f"b{i}"))
    # flat part-files (the stream source does not recurse)
    flat = tmp_path / "flat"
    flat.mkdir()
    n = 0
    for i in range(len(batches)):
        for f in os.listdir(feed_dir / f"b{i}"):
            if f.endswith(".parquet"):
                os.rename(feed_dir / f"b{i}" / f, flat / f"{i:02d}_{f}")
                n += 1
    assert n == 3

    stream = (
        spark.readStream.schema("k long, v string, ver long, op string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(flat))
    )
    q = apply_cdc_stream(stream, table, ["k"], "ver", str(tmp_path / "ck1"))
    q.awaitTermination(180)
    assert q.exception() is None

    want = {
        2: ("b2", 2),   # updated
        3: ("c", 1),    # stale change rejected
        4: ("d3", 3),   # inserted then updated
        5: ("e", 4),    # inserted
    }                    # 1 deleted
    got = {r["k"]: (r["v"], r["ver"]) for r in spark.read.parquet(table).collect()}
    assert got == want

    # full replay from a fresh checkpoint: convergent, not duplicating
    stream2 = (
        spark.readStream.schema("k long, v string, ver long, op string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(flat))
    )
    q2 = apply_cdc_stream(stream2, table, ["k"], "ver", str(tmp_path / "ck2"))
    q2.awaitTermination(180)
    assert q2.exception() is None
    got2 = {r["k"]: (r["v"], r["ver"]) for r in spark.read.parquet(table).collect()}
    assert got2 == want


def test_streaming_cdc_apply_with_version_history(spark, tmp_path):
    """apply_cdc_stream(version_dir=...) commits one snapshot per applied
    micro-batch: every retained version is the exact point-in-time table
    state, and diff_versions recovers the net change set. File mtimes are
    pinned so the one-file-per-trigger batch order is deterministic."""
    import time as _time

    from shuttlestandalonedbcreator_spark.plans import versioned as V
    from shuttlestandalonedbcreator_spark.streaming.cdc_apply import (
        apply_cdc_stream,
    )

    table = str(tmp_path / "tbl")
    spark.createDataFrame(
        [(1, "a", 1), (2, "b", 1), (3, "c", 1)], "k long, v string, ver long"
    ).write.parquet(table)

    batches = [
        [(2, "b2", 2, "U"), (4, "d", 2, "U")],
        [(1, None, 3, "D"), (4, "d3", 3, "U")],
        [(5, "e", 4, "U"), (3, "stale", 0, "U")],
    ]
    flat = tmp_path / "flat"
    flat.mkdir()
    now = _time.time()
    for i, rows in enumerate(batches):
        staging = tmp_path / f"b{i}"
        spark.createDataFrame(
            rows, "k long, v string, ver long, op string"
        ).coalesce(1).write.parquet(str(staging))
        for f in os.listdir(staging):
            if f.endswith(".parquet"):
                dst = flat / f"{i:02d}_{f}"
                os.rename(staging / f, dst)
                os.utime(dst, (now - 300 + i * 100, now - 300 + i * 100))

    stream = (
        spark.readStream.schema("k long, v string, ver long, op string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(flat))
    )
    hist = str(tmp_path / "hist")
    q = apply_cdc_stream(
        stream, table, ["k"], "ver", str(tmp_path / "ck"), version_dir=hist
    )
    q.awaitTermination(180)
    assert q.exception() is None

    def snap(version):
        return {
            r["k"]: (r["v"], r["ver"])
            for r in V.read_table(spark, hist, version=version).collect()
        }

    assert V.list_versions(hist) == [1, 2, 3]
    assert snap(1) == {1: ("a", 1), 2: ("b2", 2), 3: ("c", 1), 4: ("d", 2)}
    assert snap(2) == {2: ("b2", 2), 3: ("c", 1), 4: ("d3", 3)}
    assert snap(3) == {2: ("b2", 2), 3: ("c", 1), 4: ("d3", 3), 5: ("e", 4)}
    assert snap(3) == {
        r["k"]: (r["v"], r["ver"]) for r in spark.read.parquet(table).collect()
    }
    net = {
        r["k"]: r["op"]
        for r in V.diff_versions(spark, hist, 1, 3, ["k"]).collect()
    }
    assert net == {1: "D", 4: "U", 5: "I"}


def test_streaming_cdc_versioned_incremental_snapshots(spark, tmp_path):
    """apply_cdc_stream_versioned: the versioned table is the only
    store — one incremental snapshot per micro-batch, point-in-time
    states correct at every version, and partitions a batch did not
    touch are HARD-LINKED from the previous snapshot (same inodes:
    per-batch commit cost is the changed partitions, not the table)."""
    import time as _time

    from shuttlestandalonedbcreator_spark.plans import versioned as V
    from shuttlestandalonedbcreator_spark.streaming.cdc_apply import (
        apply_cdc_stream_versioned,
    )

    # bootstrap version 1: 8 keys over 4 hash buckets
    hist = str(tmp_path / "hist")
    init = spark.createDataFrame(
        [(k, f"a{k}", 1, "U") for k in range(8)],
        "k long, v string, ver long, op string",
    ).withColumn("bucket", F.col("k") % 4)
    V.write_version_incremental(
        spark, hist, init, keys=["k"], order_col="ver",
        partition_col="bucket", op_col="op",
    )

    # two streamed batches, each touching ONLY bucket 1 (keys 1, 5)
    batches = [
        [(1, "b1", 2, "U")],
        [(5, None, 3, "D")],
    ]
    flat = tmp_path / "flat"
    flat.mkdir()
    now = _time.time()
    for i, rows in enumerate(batches):
        staging = tmp_path / f"b{i}"
        spark.createDataFrame(
            rows, "k long, v string, ver long, op string"
        ).coalesce(1).write.parquet(str(staging))
        for f in os.listdir(staging):
            if f.endswith(".parquet"):
                dst = flat / f"{i:02d}_{f}"
                os.rename(staging / f, dst)
                os.utime(dst, (now - 300 + i * 100, now - 300 + i * 100))

    stream = (
        spark.readStream.schema("k long, v string, ver long, op string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(flat))
    )
    q = apply_cdc_stream_versioned(
        stream.withColumn("bucket", F.col("k") % 4),
        hist, ["k"], "ver", "bucket", str(tmp_path / "ck"),
    )
    q.awaitTermination(180)
    assert q.exception() is None

    def snap(version):
        return {
            r["k"]: r["v"]
            for r in V.read_table(spark, hist, version=version).collect()
        }

    assert V.list_versions(hist) == [1, 2, 3]
    assert snap(1) == {k: f"a{k}" for k in range(8)}
    assert snap(2) == {**{k: f"a{k}" for k in range(8)}, 1: "b1"}
    want3 = {k: f"a{k}" for k in range(8) if k != 5}
    want3[1] = "b1"
    assert snap(3) == want3

    # untouched buckets share inodes across all three versions
    def inodes(version, bucket):
        d = os.path.join(hist, f"v{version:08d}", f"_p={bucket}")
        return {
            fn: os.stat(os.path.join(d, fn)).st_ino
            for fn in os.listdir(d)
            if fn.endswith(".parquet")
        }

    for b in (0, 2, 3):
        assert inodes(1, b) == inodes(2, b) == inodes(3, b), b


def test_stream_fuzz_late_drop_helpers():
    """The deterministic late-drop mode (VERDICT r9 #4) rests on two
    pure facts pinned here: the watermark cutoff is chosen OFF the
    window-end grid (so Spark's <=/< predicate conventions agree on the
    drop and eviction sets), and the fixed gate block 85000-85003
    round-robins all four sub-families via seed % 4."""
    from tools.stream_fuzz import _dropped_by_watermark, pick_watermark_cutoff

    # off-grid: no window end (multiples of grid, offset 0) equals W
    w = pick_watermark_cutoff(0, 10_000_000, 0.5, grid_ms=1_000)
    assert 0 < w < 10_000_000 and w % 1_000 != 0
    # sliding grid with offset: ends sit on {k*slide + size % slide}
    w = pick_watermark_cutoff(
        0, 10_000_000, 0.36, grid_ms=600_000, grid_offset_ms=300_000
    )
    assert (w - 300_000) % 600_000 != 0
    # frac=0.5 of an even span lands exactly on the offset grid and
    # must be nudged off it, staying inside the open interval
    w = pick_watermark_cutoff(0, 1_200_000, 0.5, grid_ms=600_000)
    assert w % 600_000 != 0 and 0 < w < 1_200_000
    # no grid: pure linear interpolation passthrough
    assert pick_watermark_cutoff(100, 1100, 0.25) == 350

    # gate block 85000-85003 covers tumbling(0)/sliding(1)/dedup(2)/
    # session(3)
    assert sorted(s % 4 for s in range(85000, 85004)) == [0, 1, 2, 3]

    # drop metric sums across every progress entry and every operator
    class _P:
        def __init__(self, j):
            self.json = j

    q = type("Q", (), {})()
    q.recentProgress = [
        {"stateOperators": [{"numRowsDroppedByWatermark": 3}]},
        _P('{"stateOperators": [{"numRowsDroppedByWatermark": 4},'
           ' {"other": 1}]}'),
        {"stateOperators": []},
    ]
    assert _dropped_by_watermark(q) == 7
