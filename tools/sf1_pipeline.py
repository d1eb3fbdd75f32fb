"""sf1 COMPOSED-pipeline rehearsal: the scale probes measured each
component alone (the crossover tables in SCALING.md); this runs the
production shape — one pipeline, stage after stage on the same
session — at ~sf1 inputs synthesized by replication (documents ×10
≈ 50k docs, lineitem ×10 ≈ 6M rows):

  1. curate   — quality gates → LSH near-dup → canonical keep → split
                (plans/curation.py write_curated_observed, one write)
  2. index    — persist the MinHash band index of the curated corpus
  3. incr     — incremental near-dup of a 1%-sized new batch against
                the persisted index (the steady-state ingest path)
  4. merge    — partition-scoped MERGE of a CDC batch into the
                64-bucket lineitem table (plans/merge.py)

Per stage: wall seconds + shuffle read/write bytes deltas from the
JVM AppStatusStore (the same numbers the UI's stage page shows), so a
stage whose shuffle grows with the TABLE instead of its BATCH is
visible immediately.

Usage: python tools/sf1_pipeline.py [sf_dir] [replicas]
Prints one JSON line per stage + a total; paste into SCALING.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from shuttlestandalonedbcreator_spark.operators import dedup as D  # noqa: E402
from shuttlestandalonedbcreator_spark.plans.curation import (  # noqa: E402
    write_curated_observed,
)
from shuttlestandalonedbcreator_spark.plans.merge import (  # noqa: E402
    merge_upsert_partitioned,
    write_partitioned,
)
from shuttlestandalonedbcreator_spark.session import get_spark  # noqa: E402
from shuttlestandalonedbcreator_spark.sources.registry import load_table  # noqa: E402


def replicate(docs, replicas: int):
    """corpus × replicas with ids offset per replica and words
    deterministically reordered (sorted by xxhash64(word, replica)) so
    replicas share vocabulary but not shingles."""
    parts = [docs.select("doc_id", "text")]
    for r in range(1, replicas):
        shuffled = F.array_join(
            F.transform(
                F.array_sort(
                    F.transform(
                        F.split(F.col("text"), r"\s+"),
                        lambda w: F.struct(
                            F.xxhash64(w, F.lit(r)).alias("h"), w.alias("w")
                        ),
                    )
                ),
                lambda s: s["w"],
            ),
            " ",
        )
        parts.append(
            docs.select(
                (F.col("doc_id") + F.lit(r * (1 << 40))).alias("doc_id"),
                shuffled.alias("text"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _shuffle_totals(spark) -> tuple[int, int]:
    """(read_bytes, write_bytes) summed over all completed stages, from the
    AppStatusStore via py4j. `get_spark` disables the UI, so there is no
    REST status API to read. The store's `stageList$default$N`
    compiler-generated default-argument accessors can break across Spark
    minor versions; a fallback of (0, 0) keeps the rehearsal running with
    shuffle columns marked absent rather than crashing a measurement tool."""
    try:
        store = spark.sparkContext._jsc.sc().statusStore()
        # stageList(statuses, details, withSummaries, quantiles,
        # taskStatus): pass each scala default explicitly (py4j exposes
        # them as `stageList$default$N` methods)
        dflt = [getattr(store, f"stageList$default${i}")() for i in (2, 3, 4, 5)]
        it = store.stageList(None, *dflt).iterator()
        rd = wr = 0
        while it.hasNext():
            s = it.next()
            rd += s.shuffleReadBytes()
            wr += s.shuffleWriteBytes()
        return rd, wr
    except Exception as e:  # pragma: no cover - version drift path
        print(f"shuffle totals unavailable ({type(e).__name__}): {e}")
        return 0, 0


class StageTimer:
    def __init__(self, spark):
        self.spark = spark
        self.rows = []

    def run(self, name: str, fn):
        r0, w0 = _shuffle_totals(self.spark)
        t0 = time.perf_counter()
        out = fn()
        wall = round(time.perf_counter() - t0, 2)
        r1, w1 = _shuffle_totals(self.spark)
        row = {
            "stage": name,
            "wall_sec": wall,
            "shuffle_read_mb": round((r1 - r0) / 2**20, 1),
            "shuffle_write_mb": round((w1 - w0) / 2**20, 1),
        }
        self.rows.append(row)
        print(json.dumps(row), flush=True)
        return out


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    replicas = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    spark = get_spark(app_name="sf1_pipeline")
    spark.sparkContext.setLogLevel("ERROR")
    t = StageTimer(spark)
    root = tempfile.mkdtemp(prefix="sf1_pipeline_")
    try:
        # ---- synthesize ~sf1 inputs (replication, ids offset) ----------
        docs = replicate(
            load_table(spark, sf_dir, "documents"), replicas
        ).withColumn("lang", F.lit("en")).localCheckpoint(eager=True)
        li = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
            F.lit(1).alias("ver"),
        )
        tbl = li
        for i in range(1, replicas):
            tbl = tbl.unionByName(
                li.withColumn(
                    "l_orderkey", F.col("l_orderkey") + F.lit(i * (1 << 40))
                )
            )
        tbl = tbl.withColumn("bucket", F.col("l_orderkey") % 64)
        n_docs, n_rows = docs.count(), tbl.count()
        print(json.dumps({"inputs": {"docs": n_docs, "lineitem": n_rows}}),
              flush=True)

        # ---- 1. curation (gates -> LSH -> keep-one -> split -> write) --
        curated_dir = os.path.join(root, "curated")
        curated, metrics = t.run(
            "curate",
            lambda: write_curated_observed(
                docs, curated_dir, quality_threshold=0.0
            ),
        )
        print(json.dumps({"curation_metrics": {
            k: int(v) for k, v in metrics.items()}}), flush=True)

        # ---- 2. persist the minhash band index of the survivors --------
        idx_dir = os.path.join(root, "index")
        kept = spark.read.parquet(curated_dir)
        t.run(
            "index",
            lambda: D.minhash_index(kept, "doc_id", "text")
            .write.mode("overwrite").partitionBy("band").parquet(idx_dir),
        )

        # ---- 3. incremental near-dup of a 1% batch against the index ---
        batch = docs.filter(F.col("doc_id") % 100 == 0).select(
            (F.col("doc_id") + F.lit(99 << 40)).alias("doc_id"), "text"
        )
        index = spark.read.parquet(idx_dir)
        t.run(
            "incremental_dedup",
            lambda: D.incremental_neardup_pairs(batch, index, "doc_id", "text")
            .write.format("noop").mode("overwrite").save(),
        )

        # ---- 4. partition-scoped MERGE of a CDC batch ------------------
        part_dir = os.path.join(root, "lineitem_part")
        t.run("write_table", lambda: write_partitioned(tbl, part_dir, "bucket"))
        cdc = (
            li.filter(
                (F.col("l_orderkey") % 64).isin(3, 17)
                & (F.col("l_orderkey") % 7 == 0)
            )
            .withColumn("ver", F.lit(2))
            .withColumn("op", F.lit("U"))
            .withColumn("bucket", F.col("l_orderkey") % 64)
            .localCheckpoint(eager=True)
        )
        t.run(
            "merge_partitioned",
            lambda: merge_upsert_partitioned(
                spark, part_dir, cdc, keys=["l_orderkey", "l_linenumber"],
                order_col="ver", partition_col="bucket", op_col="op",
            ),
        )
        total = {
            "stage": "TOTAL",
            "wall_sec": round(sum(r["wall_sec"] for r in t.rows), 2),
            "shuffle_read_mb": round(
                sum(r["shuffle_read_mb"] for r in t.rows), 1),
            "shuffle_write_mb": round(
                sum(r["shuffle_write_mb"] for r in t.rows), 1),
            "docs": n_docs,
            "lineitem_rows": n_rows,
        }
        print(json.dumps(total), flush=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
