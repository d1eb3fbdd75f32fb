"""Unit tests for the operator library (dedup / joins / similarity)."""

from __future__ import annotations

from pyspark.sql import functions as F

from shuttlestandalonedbcreator_spark.operators import dedup as D
from shuttlestandalonedbcreator_spark.operators import joins as J
from shuttlestandalonedbcreator_spark.operators import similarity as V


def test_word_ngrams_short_doc(spark):
    df = spark.createDataFrame([("a b",), ("",), ("one two three four",)], "t string")
    got = df.select(D.word_ngrams(F.col("t"), 3).alias("g")).collect()
    assert got[0]["g"] == []  # shorter than n → empty, not [1,0] descending
    assert got[1]["g"] == []
    assert got[2]["g"] == ["one two three", "two three four"]


def test_exact_dedup_keeps_min_id(spark):
    df = spark.createDataFrame(
        [(1, "same"), (2, "same"), (3, "other")], "id long, t string"
    )
    got = sorted(r["id"] for r in D.exact_dedup(df, "t", "id").collect())
    assert got == [1, 3]


def test_last_write_wins(spark):
    df = spark.createDataFrame(
        [(1, "k", "old"), (2, "k", "new"), (3, "j", "only")], "seq long, k string, v string"
    )
    got = {r["k"]: r["v"] for r in D.last_write_wins(df, ["k"], "seq").collect()}
    assert got == {"k": "new", "j": "only"}


def test_jaccard_identical_docs(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon"), (2, "alpha beta gamma delta epsilon"), (3, "zz yy xx ww vv")],
        "doc_id long, text string",
    )
    pairs = D.ngram_jaccard_pairs(df, "doc_id", "text", n=3, threshold=0.9).collect()
    assert len(pairs) == 1
    assert (pairs[0]["id_a"], pairs[0]["id_b"], pairs[0]["jaccard"]) == (1, 2, 1.0)


def test_minhash_identical_docs(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon"), (2, "alpha beta gamma delta epsilon"), (3, "zz yy xx ww vv")],
        "doc_id long, text string",
    )
    pairs = D.minhash_lsh_pairs(df, "doc_id", "text", n=3, num_hashes=16, bands=4, threshold=0.9).collect()
    assert len(pairs) == 1 and pairs[0]["est_jaccard"] == 1.0


def test_ordered_pairs_emits_each_pair_once_in_list_order(spark):
    from shuttlestandalonedbcreator_spark.operators.util import ordered_pairs

    df = spark.createDataFrame(
        [(0, []), (1, [7]), (2, [1, 2, 3, 4])], "k int, arr array<int>"
    )

    def pairs(keep=None):
        out = df.select(
            "k",
            ordered_pairs(
                F.col("arr"), lambda x, y: F.struct(x.alias("a"), y.alias("b")), keep
            ).alias("p"),
        )
        return sorted((r["k"], r["p"]["a"], r["p"]["b"]) for r in out.collect())

    assert pairs() == [
        (2, 1, 2), (2, 1, 3), (2, 1, 4), (2, 2, 3), (2, 2, 4), (2, 3, 4)
    ]
    assert pairs(lambda p: p["b"] - p["a"] >= 2) == [(2, 1, 3), (2, 1, 4), (2, 2, 4)]


def test_simhash_similar_docs_close(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog near the river bank today"),
            (2, "the quick brown fox jumps over the lazy dog near the river bank tonight"),
            (3, "completely different words about spark clusters and parquet files everywhere"),
        ],
        "doc_id long, text string",
    )
    sh = {r["doc_id"]: r["simhash"] for r in D.simhash(df, "doc_id", "text").collect()}
    d12 = bin(sh[1] ^ sh[2]).count("1")
    d13 = bin(sh[1] ^ sh[3]).count("1")
    assert d12 < d13  # near-dup pair closer in Hamming space


def test_asof_join_basic(spark):
    left = spark.createDataFrame(
        [(1, 100, 10.0), (1, 200, 20.0), (2, 150, 30.0)], "k long, t long, v double"
    )
    right = spark.createDataFrame(
        [(1, 90, 1.0), (1, 150, 2.0), (1, 200, 3.0), (3, 10, 9.0)], "k long, t long, p double"
    )
    got = {
        (r["k"], r["t"]): r["p"]
        for r in J.asof_join(left, right, "k", "t", "t", ["p"]).collect()
    }
    assert got[(1, 100)] == 1.0  # latest at-or-before 100 is t=90
    assert got[(1, 200)] == 3.0  # equal timestamp included
    assert got[(2, 150)] is None  # no right rows for key → NULL


def test_brute_force_topk_self_is_nearest(spark, sf_small):
    emb = spark.read.parquet(f"{sf_small}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") == 0)
    got = V.brute_force_topk(emb, q, "vec_id", "embedding", "vec_id", "embedding", k=3).collect()
    assert got[0]["neighbor_id"] == 0 and abs(got[0]["score"] - 1.0) < 1e-6


def test_broadcast_lookup_dup_key_collapse(spark):
    fact = spark.createDataFrame([(1, "p")], "id long, key string")
    dim = spark.createDataFrame(
        [("p", "old", 1), ("p", "new", 2)], "key string, val string, seq long"
    )
    got = J.broadcast_lookup(fact, dim, "key", "key", {"val": "out"}, dedup_order="seq").collect()
    assert got[0]["out"] == "new"


def test_load_table_normalizes_all_timestamps(spark, sf_small):
    """Every table loads with plain TIMESTAMP columns — nanos-encoded
    (events) and TIMESTAMP_NTZ parquet columns are normalized at load so
    time functions / range frames work on a vanilla session."""
    from pyspark.sql.types import LongType, TimestampNTZType, TimestampType

    from shuttlestandalonedbcreator_spark.sources.registry import TABLES, load_table

    for t in TABLES:
        df = load_table(spark, sf_small, t)
        for f in df.schema.fields:
            assert not isinstance(f.dataType, TimestampNTZType), (t, f.name)
        if t == "events":
            assert isinstance(df.schema["ts"].dataType, TimestampType)
            # sanity: values decoded to sensible wall-clock range, not raw nanos
            mx = df.agg(F.max("ts")).collect()[0][0]
            assert mx.year < 2100


def test_load_table_fires_no_schema_job(spark, sf_small):
    """A single-file table is read with the schema its footer declares, so
    the load fires no Spark job (inference would run a schema merge)."""
    import uuid

    from shuttlestandalonedbcreator_spark.sources.registry import load_table

    sc = spark.sparkContext
    group = f"load-{uuid.uuid4().hex[:12]}"
    sc.setJobGroup(group, group, False)
    try:
        load_table(spark, sf_small, "lineitem")
    finally:
        sc._jsc.clearJobGroup()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_load_table_footer_schema_matches_inference(spark, sf_small, monkeypatch):
    """The footer-built schema is the one `spark.read.parquet` infers, and
    every table loads with the schema of the inferring fallback."""
    import os

    import pyarrow.parquet as pq

    from shuttlestandalonedbcreator_spark.sources import registry

    for t in registry.TABLES:
        path = os.path.join(sf_small, f"{t}.parquet")
        declared = registry.footer_schema(pq.read_schema(path), [])
        assert declared == spark.read.parquet(path).schema, t
        loaded = registry.load_table(spark, sf_small, t)
        with monkeypatch.context() as m:
            m.setattr(registry, "footer_schema", lambda *args: None)
            inferred = registry.load_table(spark, sf_small, t)
        assert loaded.schema == inferred.schema, t


def test_footer_schema_leaves_unmapped_types_to_inference():
    """Types Spark's parquet reader maps differently from Arrow, or not at
    all, get no footer schema, so `load_table` lets Spark infer."""
    import pyarrow as pa

    from shuttlestandalonedbcreator_spark.sources.registry import footer_schema

    for t in (pa.time64("us"), pa.duration("us"), pa.uint32(), pa.list_(pa.timestamp("ns"))):
        assert footer_schema(pa.schema([("c", t)]), []) is None, t
    assert footer_schema(pa.schema([("c", pa.timestamp("ns"))]), ["c"]) is not None


def test_load_table_reads_nanosecond_timestamps_exactly(spark, tmp_path):
    """A pyarrow-written TIMESTAMP(NANOS) column comes back as TimestampType
    truncated to the exact microsecond, beyond a double's precision."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import TimestampType

    from shuttlestandalonedbcreator_spark.sources.registry import load_table

    ns = [1_700_000_000_123_456_789, 1_700_000_000_123_456_001, None]
    table = pa.table({"id": [1, 2, 3], "ts": pa.array(ns, pa.timestamp("ns"))})
    pq.write_table(table, str(tmp_path / "ticks.parquet"))
    df = load_table(spark, str(tmp_path), "ticks")
    assert isinstance(df.schema["ts"].dataType, TimestampType)
    got = {r["id"]: r["us"] for r in df.select("id", F.unix_micros("ts").alias("us")).collect()}
    assert got == {1: 1_700_000_000_123_456, 2: 1_700_000_000_123_456, 3: None}


def test_load_table_reads_int96_timestamps(spark, tmp_path):
    """A legacy INT96 timestamp column (pyarrow reports it as
    ``timestamp[ns]``) loads as TimestampType with exact microseconds and
    its NULL intact, not as a nanosecond long."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import TimestampType

    from shuttlestandalonedbcreator_spark.sources.registry import load_table

    us = [1_700_000_000_123_456, 1_600_000_000_000_001, None]
    table = pa.table({"id": [1, 2, 3], "ts": pa.array(us, pa.timestamp("us"))})
    path = str(tmp_path / "legacy.parquet")
    pq.write_table(table, path, use_deprecated_int96_timestamps=True)
    assert pq.read_metadata(path).schema.column(1).physical_type == "INT96"
    df = load_table(spark, str(tmp_path), "legacy")
    assert isinstance(df.schema["ts"].dataType, TimestampType)
    got = {r["id"]: r["us"] for r in df.select("id", F.unix_micros("ts").alias("us")).collect()}
    assert got == dict(zip([1, 2, 3], us))


def test_load_table_reads_spark_written_directory(spark, tmp_path):
    """A directory table (Spark's own output) has no single footer; the
    load falls back to schema inference."""
    from pyspark.sql.types import TimestampType

    from shuttlestandalonedbcreator_spark.sources.registry import load_table

    spark.range(5).select(
        F.col("id"), F.timestamp_seconds("id").alias("ts")
    ).write.parquet(str(tmp_path / "written.parquet"))
    df = load_table(spark, str(tmp_path), "written")
    assert isinstance(df.schema["ts"].dataType, TimestampType)
    assert sorted(r["id"] for r in df.collect()) == [0, 1, 2, 3, 4]


def test_word_ngram_hashes_cardinality_matches_string_grams(spark):
    """Hashed grams must agree with string grams on the distinct-set
    cardinality (that's all downstream counts use), incl. the short-doc
    guard (n_tokens < n → empty, not a descending-sequence error)."""
    from shuttlestandalonedbcreator_spark.operators import dedup as D

    rows = [
        (1, "a b c d e f"),
        (2, "a b"),  # shorter than one 3-gram
        (3, ""),
        (4, "x y z x y z x y"),  # repeats → distinct shrinks both sides
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    got = df.select(
        "id",
        F.size(D.word_ngram_hashes(F.col("text"), 3)).alias("nh"),
        F.size(D.word_ngrams(F.col("text"), 3)).alias("ns"),
    ).collect()
    for r in got:
        assert r["nh"] == r["ns"], r
    by_id = {r["id"]: r["nh"] for r in got}
    assert by_id[1] == 4 and by_id[2] == 0 and by_id[3] == 0 and by_id[4] == 3


def test_quality_audit_counts_injected_violations(spark):
    """Each audit class must count EXACTLY its injected violations: null
    rule results count as violations (three-valued logic), duplicate
    extras = total - distinct, orphans exclude null fks."""
    from shuttlestandalonedbcreator_spark.operators.quality import (
        referential_audit,
        row_rule_audit,
        uniqueness_audit,
    )

    rows = spark.createDataFrame(
        [
            (1, 10.0, "ok"),
            (2, -5.0, "ok"),      # range violation
            (3, None, "ok"),      # NULL → violation (not silent pass)
            (3, 20.0, "bad"),     # dup key + domain violation
            (4, 30.0, None),      # NULL domain → violation
        ],
        "k long, price double, status string",
    )
    audit = {
        r["rule"]: (r["checked"], r["violations"])
        for r in row_rule_audit(
            rows,
            {
                "price_positive": F.col("price") > 0,
                "status_in_domain": F.col("status").isin("ok"),
            },
        ).collect()
    }
    assert audit == {
        "price_positive": (5, 2),
        "status_in_domain": (5, 2),
    }
    uniq = uniqueness_audit(rows, ["k"], "k_unique").collect()[0]
    assert (uniq["checked"], uniq["violations"]) == (5, 1)

    parent = spark.createDataFrame([(1,), (2,), (3,)], "pk long")
    child = spark.createDataFrame(
        [(1,), (9,), (None,), (2,)], "fk long"
    )
    ref = referential_audit(child, "fk", parent, "pk", "fk_ok").collect()[0]
    assert (ref["checked"], ref["violations"]) == (3, 1)  # null fk unchecked


def test_row_rule_audit_rejects_non_identifier_names(spark):
    """Rule names are interpolated into the stack() transpose — anything
    that is not a SQL identifier must raise ValueError at call time, not
    mis-parse inside selectExpr."""
    import pytest

    from shuttlestandalonedbcreator_spark.operators.quality import row_rule_audit

    rows = spark.createDataFrame([(1,)], "k long")
    for bad in ("has space", "quote'inject", "semi;colon", "1starts_digit", ""):
        with pytest.raises(ValueError, match="rule names"):
            row_rule_audit(rows, {bad: F.col("k") > 0})
    # a valid name alongside an invalid one still raises (all-or-nothing)
    with pytest.raises(ValueError, match="rule names"):
        row_rule_audit(rows, {"ok_rule": F.col("k") > 0, "not ok": F.col("k") > 0})


def test_asof_join_matches_pandas_merge_asof(spark):
    """asof_join vs pandas.merge_asof — the reference implementation —
    across all four (direction × tolerance) configurations on a fixture
    with every edge: equal timestamps (inclusive both directions), keys
    with no match, matches outside tolerance, multiple lefts sharing one
    right."""
    import pandas as pd

    from shuttlestandalonedbcreator_spark.operators.joins import asof_join

    left_pd = pd.DataFrame({
        "k": [1, 1, 1, 2, 2, 3],
        "lts": pd.to_datetime([
            "2024-01-01 10:00", "2024-01-01 11:00", "2024-01-01 12:30",
            "2024-01-01 10:30", "2024-01-01 23:00", "2024-01-01 09:00",
        ]),
        "lid": [1, 2, 3, 4, 5, 6],
    })
    right_pd = pd.DataFrame({
        "k": [1, 1, 2, 4],
        "rts": pd.to_datetime([
            "2024-01-01 10:00", "2024-01-01 12:00",
            "2024-01-01 11:00", "2024-01-01 10:00",
        ]),
        "v": [10.0, 12.0, 21.0, 40.0],
    })
    left = spark.createDataFrame(left_pd.rename(columns={"lts": "ts"}))
    right = spark.createDataFrame(right_pd.rename(columns={"rts": "ts2"}))

    for direction in ("backward", "forward"):
        for tol in (None, 3600):
            got = (
                asof_join(
                    left, right.select("k", "ts2", "v"), "k", "ts", "ts2", ["v"],
                    direction=direction, tolerance_seconds=tol,
                )
                .toPandas()
                .sort_values("lid")
                .reset_index(drop=True)
            )
            want = pd.merge_asof(
                left_pd.sort_values("lts"),
                right_pd.sort_values("rts"),
                by="k", left_on="lts", right_on="rts",
                direction=direction,
                tolerance=(pd.Timedelta(seconds=tol) if tol else None),
            ).sort_values("lid").reset_index(drop=True)
            assert list(got["v"].fillna(-1)) == list(want["v"].fillna(-1)), (
                direction, tol, got, want)


def test_hard_negative_topk_excludes_anchor_label(spark, sf_small):
    """Every mined negative must carry a label different from its
    anchor's, ranks are 1..k dense per anchor, and scores are the true
    cosine (spot-checked against a direct computation)."""
    from shuttlestandalonedbcreator_spark.operators.similarity import (
        hard_negative_topk,
    )
    from shuttlestandalonedbcreator_spark.sources.registry import load_table

    emb = load_table(spark, sf_small, "embeddings")
    anchors = emb.filter(F.col("vec_id") < 10)
    got = hard_negative_topk(emb, anchors, "vec_id", "embedding", "label", k=3)
    rows = got.collect()
    labels = {r["vec_id"]: r["label"] for r in emb.collect()}
    per_anchor = {}
    for r in rows:
        assert labels[r["negative_id"]] != labels[r["anchor_id"]]
        per_anchor.setdefault(r["anchor_id"], []).append(r["rank"])
    for a, ranks in per_anchor.items():
        assert sorted(ranks) == [1, 2, 3], (a, ranks)
    # scores are descending within each anchor
    for a in per_anchor:
        sc = [r["score"] for r in sorted(rows, key=lambda x: x["rank"]) if r["anchor_id"] == a]
        assert sc == sorted(sc, reverse=True)


def test_compression_ratio_matches_driver_zlib(spark, sf_small):
    """compression_ratio's executor-side zlib must byte-match a driver
    recompute on the same texts — the reference-equality pin behind the
    compression_ratio_gate entry's golden-fixture oracle (no SQL engine
    can recompute DEFLATE; the fixture pin is only as trustworthy as
    this equality)."""
    import zlib

    from shuttlestandalonedbcreator_spark.operators.quality import (
        compression_ratio,
    )
    from shuttlestandalonedbcreator_spark.queries import _t

    docs = _t(spark, sf_small, "documents")
    got = {
        r["doc_id"]: (r["n_bytes"], r["comp_bytes"])
        for r in compression_ratio(docs, "doc_id", "text").collect()
    }
    want = {
        r["doc_id"]: (
            len(r["text"].encode("utf-8")),
            len(zlib.compress(r["text"].encode("utf-8"), 6)),
        )
        for r in docs.select("doc_id", "text").collect()
    }
    assert got == want and len(got) > 0


def test_compression_ratio_monotonic_in_redundancy(spark):
    """Semantic pin: repeated text compresses (much) better than its
    single copy, and high-entropy hex barely compresses — the ordering
    the gate's threshold relies on."""
    import hashlib

    from shuttlestandalonedbcreator_spark.operators.quality import (
        compression_ratio,
    )

    prose = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "watches from a warm windowsill in the late afternoon sun"
    )
    noise = "".join(
        hashlib.sha256(str(i).encode()).hexdigest() for i in range(40)
    )
    df = spark.createDataFrame(
        [(1, prose), (2, prose * 20), (3, noise)], "doc_id long, text string"
    )
    r = {
        row["doc_id"]: row["ratio"]
        for row in compression_ratio(df, "doc_id", "text").collect()
    }
    # repetition is the strong signal: the 20x copy compresses far
    # below both its single copy and the high-entropy noise (the noise
    # still shrinks some — hex is a 16-symbol alphabet — and the short
    # single prose pays zlib's fixed header, so only the repetition
    # ordering is length/alphabet-robust)
    assert r[2] < r[1] and r[2] < r[3]
    assert r[2] < 0.3 <= r[3]
