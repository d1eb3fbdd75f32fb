"""End-to-end golden pack for the transfer-report ingest pipeline
(FIXTURES.md §3: hierarchy, upsert, duplicate join keys, casts, statuses,
multi-job, short rows)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from shuttlestandalonedbcreator_spark.plans.transfer_pipeline import (
    RAW_COLUMNS,
    dedup_last_wins,
    ingest,
    typed_projection,
    with_derived_columns,
)
from shuttlestandalonedbcreator_spark.plans.views import create_views
from shuttlestandalonedbcreator_spark.operators import hierarchy
from shuttlestandalonedbcreator_spark.operators.hierarchy import (
    ancestor_closure,
    hierarchy_closure,
)


def _raw_row(file_name="", size="", tgt_size="", tgt_id="", status="", job="JobA.xlsx", **over):
    row = {c: "" for c in RAW_COLUMNS}
    row.update(
        file_name=file_name,
        source_file_size=size,
        target_file_size=tgt_size,
        target_file_id=tgt_id,
        file_status=status,
    )
    row["_source_file"] = job
    row.update(over)
    return row


GOLDEN = [
    # 4-level tree (FIXTURES §3.1)
    _raw_row("/A", size="", tgt_id="10", status="success"),
    _raw_row("/A/B", size="0", tgt_id="11", status="success"),
    _raw_row("/A/B/f1.pdf", size="100", tgt_id="12", status="success"),
    _raw_row("/A/B/f2.pdf", size="200", tgt_id="13", status="match-exists"),
    _raw_row("top.txt", size="5", tgt_id="14", status="filtered"),
    _raw_row("/x", size="6", tgt_id="15", status="Re-Try (auto)"),
    _raw_row("/Z/q.pdf", size="7", tgt_id="16", status="failed"),  # orphan
    # upsert pair (§3.2): same (file_name, target_file_id), later wins
    _raw_row("/dup.pdf", size="1", tgt_id="99", status="failed"),
    _raw_row("/dup.pdf", size="2", tgt_id="99", status="success"),
    # duplicate join key (§3.3): same file_name, different ids — J1 keeps last
    _raw_row("/K", size="0", tgt_id="50", status="success"),
    _raw_row("/K", size="0", tgt_id="51", status="success"),
    _raw_row("/K/child.pdf", size="9", tgt_id="52", status="success"),
    # casts (§3.4)
    _raw_row("/casts/c1.pdf", size="abc", tgt_id="60", status="", creation_time="45123.5"),
    _raw_row("/casts/c2.pdf", size=" 42 ", tgt_id="61", status="", creation_time="not-a-date"),
    # multi-job (§3.6)
    _raw_row("/J/B.pdf", size="3", tgt_id="70", status="success", job="JobB.xls"),
    # empty status rows → Unknown group
    _raw_row("/empty_status.pdf", size="8", tgt_id="80", status=""),
]


@pytest.fixture(scope="module")
def ingested(spark):
    schema = " string, ".join([*RAW_COLUMNS, "_source_file"]) + " string"
    raw = spark.createDataFrame(
        [tuple(r[c] for c in [*RAW_COLUMNS, "_source_file"]) for r in GOLDEN], schema=schema
    ).withColumn("_ingest_seq", F.monotonically_increasing_id())
    return ingest(raw).cache()


def test_typed_casts(spark, ingested):
    rows = {r["file_name"]: r for r in ingested.collect()}
    assert rows["/casts/c1.pdf"]["source_file_size"] is None  # junk → NULL
    assert rows["/casts/c2.pdf"]["source_file_size"] == 42  # trimmed parse
    assert str(rows["/casts/c1.pdf"]["creation_time"]) == "2023-07-16 12:00:00"
    assert rows["/casts/c2.pdf"]["creation_time"] is None
    # TEXT '' stays '' (not NULL)
    assert rows["/A"]["errors"] == ""
    assert rows["/A"]["source_file_size"] is None  # '' numeric → NULL


def test_derived_columns(ingested):
    rows = {r["file_name"]: r for r in ingested.collect()}
    assert rows["/A/B/f1.pdf"]["level"] == 3
    assert rows["/A/B/f1.pdf"]["parent_folder"] == "/A/B"
    assert rows["/A"]["level"] == 1 and rows["/A"]["parent_folder"] is None
    assert rows["top.txt"]["parent_folder"] is None
    assert rows["/x"]["parent_folder"] is None
    assert rows["/A"]["job_name"] == "JobA"
    assert rows["/J/B.pdf"]["job_name"] == "JobB"


def test_upsert_last_wins(ingested):
    dups = ingested.filter(F.col("file_name") == "/dup.pdf").collect()
    assert len(dups) == 1
    assert dups[0]["file_status"] == "success"  # later row won
    assert dups[0]["source_file_size"] == 2


def test_parent_id_resolution(ingested):
    rows = {r["file_name"]: r for r in ingested.collect()}
    assert rows["/A/B/f1.pdf"]["parent_id"] == "11"
    assert rows["/A/B"]["parent_id"] == "10"
    assert rows["/Z/q.pdf"]["parent_id"] is None  # orphan: parent row absent
    # duplicate build key: LAST target_file_id wins (reference :810)
    assert rows["/K/child.pdf"]["parent_id"] == "51"


def test_views_and_hierarchy(spark, ingested):
    created = create_views(spark, ingested)
    assert created["status_summary"] == "static"
    assert "status_re_try_auto" in created  # sanitized dynamic view
    assert "status_success" in created
    # '' status is NOT coalesced to Unknown ('' is non-NULL — the TEXT
    # asymmetry) — it groups as '' and yields a status_unknown dynamic view
    summary = {r["status_name"]: r for r in spark.table("status_summary").collect()}
    assert "" in summary
    assert "status_unknown" in created
    for r in summary.values():
        assert r["record_count"] == r["file_count"] + r["folder_count"]
    # files/folders partition the table
    n = ingested.count()
    assert spark.table("files_view").count() + spark.table("folders_view").count() == n
    # hierarchy: /A root with its subtree paths
    tree = {r["file_name"]: r for r in spark.table("hierarchy_children").collect()}
    assert tree["/A"]["depth"] == 0 and tree["/A"]["path"] == "/A"
    assert tree["/A/B/f1.pdf"]["depth"] == 2
    assert tree["/A/B/f1.pdf"]["path"] == "/A > /A/B > /A/B/f1.pdf"


def test_hierarchy_max_depth_guard(spark, monkeypatch):
    # 2-node cycle must terminate, not loop forever
    monkeypatch.setattr(hierarchy, "MAX_DEPTH", 5)
    nodes = spark.createDataFrame(
        [("a", "b", "a"), ("b", "a", "b"), ("r", None, "r")],
        schema="id string, parent string, name string",
    )
    out = hierarchy_closure(nodes, "id", "parent", "name")
    assert out.count() == 1  # only the root: cycle nodes never reach a root
    # climbing from the cycle never exhausts: the depth guard raises
    with pytest.raises(Exception, match="RECURSION_LEVEL_LIMIT_EXCEEDED"):
        ancestor_closure(nodes, "id", "parent").count()


def test_idempotent_reingest(spark, ingested):
    # property (§5): re-ingesting the same data changes nothing
    again = dedup_last_wins(ingested.unionByName(ingested))
    assert again.count() == ingested.count()


def test_full_reference_workflow_round_trip(spark, tmp_path):
    """The complete reference loop in one test: workbook → scan →
    pipeline → SQLite export (the reference's artifact) → PARALLEL
    read-back via spark.read.format("sqlite") → equality with the
    pipeline output on the exported columns. A reference user's whole
    workflow, end to end, through this engine."""
    from shuttlestandalonedbcreator_spark.sources.excel import (
        read_transfer_reports,
        write_workbook,
    )
    from shuttlestandalonedbcreator_spark.plans import sinks
    from shuttlestandalonedbcreator_spark.sources.sqlite_datasource import (
        register_sqlite_source,
    )

    rows = [list(RAW_COLUMNS)]
    for i in range(25):
        r = ["" for _ in RAW_COLUMNS]
        r[0] = f"/root/sub{i % 3}/f{i}.dat"        # file_name
        r[1] = str(100 + i)                        # source_file_size
        r[3] = str(1000 + i)                       # target_file_id
        r[15] = "success" if i % 2 else "failed"   # file_status
        rows.append(r)
    src = tmp_path / "source"
    src.mkdir()
    write_workbook({"Transfer Report": rows}, str(src / "JobX.xlsx"))

    out = ingest(read_transfer_reports(spark, str(src)), materialize=True)
    db = str(tmp_path / "transfer_reports.db")
    assert sinks.export_sqlite(out, db) == 25

    register_sqlite_source(spark)
    back = (
        spark.read.format("sqlite")
        .option("table", "transfer_data")
        .option("numPartitions", "3")
        .load(db)
    )
    cols = ["file_name", "source_file_size", "target_file_id", "file_status", "job_name"]
    got = sorted(tuple(r[c] for c in cols) for r in back.select(*cols).collect())
    want = sorted(
        tuple(
            str(r[c]) if c == "target_file_id" else r[c]
            for c in cols
        )
        for r in out.select(*cols).collect()
    )
    # sqlite BIGINT column comes back as int; normalize for compare
    got = [(f, int(s), str(t), st, j) for f, s, t, st, j in got]
    want = [(f, int(s), str(t), st, j) for f, s, t, st, j in want]
    assert got == want
    assert back.rdd.getNumPartitions() == 3
