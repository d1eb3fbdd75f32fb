"""Sinks (parquet partitioned + SQLite export parity) and multimodal
binary-column plumbing."""

from __future__ import annotations

import sqlite3

import pytest
from pyspark.sql import functions as F

from shuttlestandalonedbcreator_spark.plans import sinks
from shuttlestandalonedbcreator_spark.streaming import multimodal as M


@pytest.fixture()
def transfer_df(spark):
    return spark.createDataFrame(
        [
            ("/A/f1.pdf", "100", "11", "success", "JobA"),
            ("/B/f2.pdf", "200", "21", "failed", "JobB"),
            ("/B/f3.pdf", "", "22", "success", "JobB"),
        ],
        "file_name string, source_file_size string, target_file_id string, "
        "file_status string, job_name string",
    )


def test_parquet_partitioned_sink(spark, transfer_df, tmp_path):
    path = str(tmp_path / "transfer")
    sinks.write_transfer_table(transfer_df, path, partition_by=("job_name",))
    back = sinks.read_transfer_table(spark, path)
    assert back.count() == 3
    # partition pruning must reach the scan for the hot filter key
    plan = (
        back.filter(F.col("job_name") == "JobB")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters: [isnotnull(job_name" in plan


def test_orc_sink_round_trip_with_pruning(spark, transfer_df, tmp_path):
    """The same sink contract over ORC: identical data back, and the hot
    filter key still prunes partitions at the scan (format-agnostic
    layout: hive directories carry the pruning, not the file format)."""
    path = str(tmp_path / "transfer_orc")
    sinks.write_transfer_table(
        transfer_df, path, partition_by=("job_name",), file_format="orc"
    )
    back = sinks.read_transfer_table(spark, path, file_format="orc")
    assert sorted(r["file_name"] for r in back.collect()) == [
        "/A/f1.pdf",
        "/B/f2.pdf",
        "/B/f3.pdf",
    ]
    plan = (
        back.filter(F.col("job_name") == "JobB")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters: [isnotnull(job_name" in plan


def test_corrupt_data_file_tolerated_per_read(spark, transfer_df, tmp_path):
    """E2 at the sink layer: one truncated parquet part must fail the
    default read but be skipped under tolerate_corrupt=True — scoped to
    the read, not flipped session-wide."""
    import os

    path = str(tmp_path / "transfer")
    sinks.write_transfer_table(transfer_df, path, partition_by=("job_name",))
    # corrupt the JobB partition's data files (may be >1 part file)
    part_dir = os.path.join(path, "job_name=JobB")
    for f in os.listdir(part_dir):
        if f.endswith(".parquet"):
            with open(os.path.join(part_dir, f), "wb") as fh:
                fh.write(b"not parquet at all")

    with pytest.raises(Exception):
        sinks.read_transfer_table(spark, path).collect()
    survivors = sinks.read_transfer_table(spark, path, tolerate_corrupt=True)
    assert {r["file_name"] for r in survivors.collect()} == {"/A/f1.pdf"}


def test_sqlite_export_parity(spark, transfer_df, tmp_path):
    db = str(tmp_path / "transfer_reports.db")
    n = sinks.export_sqlite(transfer_df, db, batch_size=2)
    assert n == 3
    conn = sqlite3.connect(db)
    # shaped like the reference's artifact: same table, upsert key works
    assert conn.execute("SELECT COUNT(*) FROM transfer_data").fetchone()[0] == 3
    conn.execute(
        "INSERT OR REPLACE INTO transfer_data (file_name, target_file_id, file_status) "
        "VALUES ('/A/f1.pdf', '11', 'retried')"
    )
    assert conn.execute("SELECT COUNT(*) FROM transfer_data").fetchone()[0] == 3
    assert (
        conn.execute(
            "SELECT file_status FROM transfer_data WHERE file_name='/A/f1.pdf'"
        ).fetchone()[0]
        == "retried"
    )
    # typed storage matches the reference schema: BIGINT sizes (junk → NULL)
    sizes = dict(
        conn.execute(
            "SELECT file_name, source_file_size FROM transfer_data"
        ).fetchall()
    )
    assert sizes["/B/f2.pdf"] == 200 and isinstance(sizes["/B/f2.pdf"], int)
    assert sizes["/B/f3.pdf"] is None
    decl = {
        r[1]: r[2]
        for r in conn.execute("PRAGMA table_info(transfer_data)").fetchall()
    }
    assert decl["source_file_size"] == "BIGINT"
    conn.close()


@pytest.fixture()
def binary_df(spark):
    rows = [
        (1, "image", bytearray(b"\x89PNG fake image bytes")),
        (2, "audio", bytearray(b"RIFF fake wav bytes")),
        (3, "image", bytearray(b"")),
        (4, "hologram", bytearray(b"unknown modality")),
    ]
    return spark.createDataFrame(rows, "id long, modality string, content binary")


def test_multimodal_metadata_and_features(spark, binary_df):
    M.register_decoder("image", M.deterministic_fake_decoder("image"))
    M.register_decoder("audio", M.deterministic_fake_decoder("audio"))
    tagged = M.attach_binary_metadata(binary_df, "content", "id", "modality")
    feats = {r["content_id"]: r for r in M.extract_features(tagged).collect()}
    assert feats[1]["feature_ok"] and feats[1]["width"] is not None
    assert feats[2]["feature_ok"] and feats[2]["duration_ms"] >= 1000
    assert feats[2]["width"] is None  # audio has no dimensions
    assert feats[3]["feature_ok"]  # empty bytes decode deterministically
    assert not feats[4]["feature_ok"]  # unknown modality: captured, not thrown
    assert "no decoder registered" in feats[4]["feature_err"]
    assert feats[1]["n_bytes"] == 21


def test_multimodal_stub_fails_per_row_not_job(spark, binary_df):
    M.register_decoder("image", M.stub_decoder("image"))
    M.register_decoder("audio", M.deterministic_fake_decoder("audio"))
    tagged = M.attach_binary_metadata(binary_df, "content", "id", "modality")
    feats = {r["content_id"]: r for r in M.extract_features(tagged).collect()}
    # stubbed codec rows fail individually (E1 semantics); job completes
    assert not feats[1]["feature_ok"]
    assert "no image codec" in feats[1]["feature_err"]
    assert feats[2]["feature_ok"]

def test_multimodal_resize_stage(spark, binary_df):
    M.register_resizer("image", M.deterministic_fake_resizer())
    tagged = M.attach_binary_metadata(binary_df, "content", "id", "modality")
    out = {r["content_id"]: r for r in M.resize_images(tagged, 8, 4).collect()}
    # resized payload is exactly w*h bytes, dims recorded
    assert out[1]["resize_ok"] and len(out[1]["content"]) == 32
    assert (out[1]["width"], out[1]["height"]) == (8, 4)
    assert out[3]["resize_ok"] and len(out[3]["content"]) == 32  # empty input padded
    # modality without a resizer: captured per-row, not thrown (E1)
    assert not out[2]["resize_ok"] and "no resizer" in out[2]["resize_err"]
    assert out[2]["content"] is None


def test_multimodal_frame_sample_stage(spark, binary_df):
    M.register_frame_sampler("image", M.deterministic_fake_frame_sampler())
    tagged = M.attach_binary_metadata(binary_df, "content", "id", "modality")
    frames = M.sample_frames(tagged, n_frames=4).collect()
    by_id: dict[int, list] = {}
    for r in frames:
        by_id.setdefault(r["content_id"], []).append(r)
    # each sampled row expands to 4 frames that tile the original payload
    ok1 = sorted(by_id[1], key=lambda r: r["frame_index"])
    assert [r["frame_index"] for r in ok1] == [0, 1, 2, 3]
    assert [r["frame_ms"] for r in ok1] == [0, 1000, 2000, 3000]
    assert b"".join(bytes(r["frame"]) for r in ok1) == b"\x89PNG fake image bytes"
    # unsupported modality collapses to one error row
    assert len(by_id[2]) == 1 and not by_id[2][0]["frame_ok"]
    assert "no frame sampler" in by_id[2][0]["frame_err"]


def test_curation_pipeline_end_to_end(spark, sf_oracle, tmp_path):
    """plans/curation.py: gates applied, no near-dup pair survives inside
    the output, split labels partition the sink."""
    from pyspark.sql import functions as F

    from shuttlestandalonedbcreator_spark.operators.dedup import minhash_lsh_pairs
    from shuttlestandalonedbcreator_spark.plans.curation import write_curated_observed

    docs = spark.read.parquet(f"{sf_oracle}/documents.parquet")
    out = str(tmp_path / "curated")
    curated, _ = write_curated_observed(docs, out)

    n_in, n_out = docs.count(), curated.count()
    assert 0 < n_out < n_in

    # canonical-only: re-detecting near-dups on the output finds nothing
    assert minhash_lsh_pairs(curated, "doc_id", "text", threshold=0.5).isEmpty()

    back = spark.read.parquet(out)
    assert back.count() == n_out
    assert {r["split"] for r in back.select("split").distinct().collect()} <= {
        "train", "val", "test"
    }
    # split is a pure hash of the id — the round-tripped labels agree
    mismatch = (
        back.select("doc_id", "split")
        .join(curated.select("doc_id", F.col("split").alias("s2")), "doc_id")
        .filter(F.col("split") != F.col("s2"))
    )
    assert mismatch.isEmpty()


def test_write_curated_observed_metrics(spark, sf_small, tmp_path):
    """observe() metrics must match what a separate aggregate computes,
    and must come from the SAME job as the write (no extra pass)."""
    from pyspark.sql import functions as F

    from shuttlestandalonedbcreator_spark.plans.curation import write_curated_observed
    from shuttlestandalonedbcreator_spark.sources.registry import load_table

    docs = load_table(spark, sf_small, "documents")
    out = str(tmp_path / "curated_obs")
    curated, metrics = write_curated_observed(docs, out)
    back = spark.read.parquet(out)
    assert metrics["n_kept"] == back.count() > 0
    by_split = {r["split"]: r["n"] for r in back.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert metrics["n_train"] == by_split.get("train", 0)
    assert metrics["n_val"] == by_split.get("val", 0)
    assert metrics["n_test"] == by_split.get("test", 0)
    assert metrics["n_kept"] == metrics["n_train"] + metrics["n_val"] + metrics["n_test"]


def test_sqlite_source_round_trip(spark, transfer_df, tmp_path):
    """Export to the reference-shaped SQLite artifact, read it back via
    spark.read.format("sqlite"): same rows, typed columns (BIGINT size →
    bigint with junk→NULL preserved), and rowid-range partitioning."""
    from shuttlestandalonedbcreator_spark.sources.sqlite_datasource import (
        register_sqlite_source,
    )

    db = str(tmp_path / "transfer_reports.db")
    assert sinks.export_sqlite(transfer_df, db) == 3
    register_sqlite_source(spark)
    back = (
        spark.read.format("sqlite")
        .option("table", "transfer_data")
        .option("numPartitions", "2")
        .load(db)
    )
    assert dict(back.dtypes)["source_file_size"] == "bigint"
    rows = {r["file_name"]: r for r in back.collect()}
    assert set(rows) == {"/A/f1.pdf", "/B/f2.pdf", "/B/f3.pdf"}
    assert rows["/B/f2.pdf"]["source_file_size"] == 200
    assert rows["/B/f3.pdf"]["source_file_size"] is None  # junk → NULL (E1)
    assert back.rdd.getNumPartitions() == 2


def test_sqlite_source_datetime_and_errors(spark, tmp_path):
    """DATETIME text round-trips to timestamp; missing table/db raise a
    clean ValueError at planning time (not an executor stack)."""
    import sqlite3 as s3

    from shuttlestandalonedbcreator_spark.sources.sqlite_datasource import (
        register_sqlite_source,
    )

    db = str(tmp_path / "t.db")
    conn = s3.connect(db)
    conn.execute("CREATE TABLE ev (ts DATETIME, val REAL, note TEXT)")
    conn.executemany(
        "INSERT INTO ev VALUES (?, ?, ?)",
        [
            ("2024-03-01 10:00:00", 1.5, "a"),
            ("not a date", "junk", None),  # dynamic typing: junk cells
        ],
    )
    conn.commit()
    conn.close()
    register_sqlite_source(spark)
    back = spark.read.format("sqlite").option("table", "ev").load(db)
    assert dict(back.dtypes) == {"ts": "timestamp", "val": "double", "note": "string"}
    got = sorted(back.collect(), key=lambda r: (r["note"] is None, r["note"] or ""))
    assert got[0]["ts"].year == 2024 and got[0]["val"] == 1.5
    assert got[1]["ts"] is None and got[1]["val"] is None  # junk → NULL

    import pytest as _pytest

    with _pytest.raises(Exception, match="table not found"):
        spark.read.format("sqlite").option("table", "nope").load(db).collect()
    with _pytest.raises(Exception, match="not found"):
        spark.read.format("sqlite").option("table", "ev").load(
            str(tmp_path / "missing.db")
        ).collect()


def test_sqlite_source_without_rowid_fallback(spark, tmp_path):
    """WITHOUT ROWID tables can't range-partition on rowid — the source
    must fall back to one sequential partition and still read all rows."""
    import sqlite3 as s3

    from shuttlestandalonedbcreator_spark.sources.sqlite_datasource import (
        register_sqlite_source,
    )

    db = str(tmp_path / "wr.db")
    conn = s3.connect(db)
    conn.execute("CREATE TABLE kv (k TEXT PRIMARY KEY, v INTEGER) WITHOUT ROWID")
    conn.executemany("INSERT INTO kv VALUES (?, ?)", [(f"k{i}", i) for i in range(50)])
    conn.commit()
    conn.close()
    register_sqlite_source(spark)
    back = (
        spark.read.format("sqlite")
        .option("table", "kv")
        .option("numPartitions", "4")
        .load(db)
    )
    assert back.rdd.getNumPartitions() == 1  # fallback, not a failure
    assert back.count() == 50
    assert back.agg({"v": "sum"}).first()[0] == sum(range(50))


def test_sqlite_source_integer_affinity_semantics(spark, tmp_path):
    """INTEGER-affinity coercion follows SQLite storage-class rules, not
    Python int() quirks: INTEGER passes through, REAL converts only when
    lossless (3.0 → 3, 3.5 → NULL), TEXT parses under a strict grammar
    ('1_0' is junk, not 10), and epoch integers in a DATETIME column
    decode as UTC timestamps."""
    import datetime as dt
    import sqlite3 as s3

    from shuttlestandalonedbcreator_spark.sources.sqlite_datasource import (
        register_sqlite_source,
    )

    db = str(tmp_path / "aff.db")
    conn = s3.connect(db)
    conn.execute("CREATE TABLE t (tag TEXT, n INTEGER, ts DATETIME)")
    conn.executemany(
        "INSERT INTO t VALUES (?, ?, ?)",
        [
            ("int", 42, "2024-03-01 10:00:00"),
            ("real_integral", 3.0, 1709287200),          # epoch int DATETIME
            ("real_fractional", 3.5, 1709287200.0),      # epoch float DATETIME
            ("text_int", " 7 ", "2024-03-01"),
            ("text_underscore", "1_0", "junk"),          # Python-only literal → NULL
            ("text_junk", "x9", None),
        ],
    )
    conn.commit()
    conn.close()
    register_sqlite_source(spark)
    back = spark.read.format("sqlite").option("table", "t").load(db)
    got = {r["tag"]: r for r in back.collect()}
    assert got["int"]["n"] == 42
    assert got["real_integral"]["n"] == 3        # lossless REAL → INTEGER
    assert got["real_fractional"]["n"] is None   # lossy REAL → NULL
    assert got["text_int"]["n"] == 7
    assert got["text_underscore"]["n"] is None   # '1_0' is not SQLite-integer
    assert got["text_junk"]["n"] is None
    epoch = dt.datetime(2024, 3, 1, 10, 0, 0)
    assert got["real_integral"]["ts"] == epoch   # unixepoch() storage
    assert got["real_fractional"]["ts"] == epoch
    assert got["text_underscore"]["ts"] is None


def test_sqlite_source_blob_with_mixed_storage(spark, tmp_path):
    """SQLite dynamic typing: a BLOB-declared column can hold TEXT cells;
    the source must coerce (utf-8) instead of erroring per row."""
    import sqlite3 as s3

    from shuttlestandalonedbcreator_spark.sources.sqlite_datasource import (
        register_sqlite_source,
    )

    db = str(tmp_path / "b.db")
    conn = s3.connect(db)
    conn.execute("CREATE TABLE blobs (payload BLOB)")
    conn.execute("INSERT INTO blobs VALUES (?)", (b"\x00\x01real bytes",))
    conn.execute("INSERT INTO blobs VALUES ('text in a blob column')")
    conn.execute("INSERT INTO blobs VALUES (NULL)")
    conn.commit()
    conn.close()
    register_sqlite_source(spark)
    got = sorted(
        (r["payload"] for r in spark.read.format("sqlite").option("table", "blobs").load(db).collect()),
        key=lambda v: (v is None, v or b""),
    )
    assert got == [b"\x00\x01real bytes", b"text in a blob column", None]


def test_sqlite_source_partition_distribution(spark, tmp_path):
    """Rowid-range partitioning at moderate volume: 100k rows over 8
    partitions must come back complete, deduplicated, and reasonably
    balanced (contiguous rowids → near-even ranges)."""
    import sqlite3 as s3

    from pyspark.sql import functions as F

    from shuttlestandalonedbcreator_spark.sources.sqlite_datasource import (
        register_sqlite_source,
    )

    db = str(tmp_path / "big.db")
    conn = s3.connect(db)
    conn.execute("CREATE TABLE t (v INTEGER)")
    conn.executemany("INSERT INTO t VALUES (?)", ((i,) for i in range(100_000)))
    conn.commit()
    conn.close()
    register_sqlite_source(spark)
    df = (
        spark.read.format("sqlite")
        .option("table", "t")
        .option("numPartitions", "8")
        .load(db)
    )
    assert df.rdd.getNumPartitions() == 8
    sizes = [len(p) for p in df.rdd.glom().collect()]
    assert sum(sizes) == 100_000
    assert min(sizes) > 0 and max(sizes) <= 100_000 // 8 + 1
    assert df.agg(F.count_distinct("v")).first()[0] == 100_000  # no overlap
