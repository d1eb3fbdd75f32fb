"""Ingest throughput microbenchmark — the reference's ONE real
performance axis (700 MB workbook → SQLite, single-threaded SAX;
BASELINE.md: no numbers published).

Generates N synthetic "Transfer Report" workbooks with the writer,
then times the full reference pipeline: workbook scan (S1-S5, stdlib
iterparse inside mapInPandas) → typed projection (P1) → derived columns
(F1-F4) → last-write-wins dedup (A1) → parent-id resolution (J1) →
partitioned parquet sink (S6/S7). Prints one JSON line:

    {"metric": "ingest_rows_per_sec", "value": ..., "rows": ...,
     "files": ..., "gen_sec": ..., "ingest_sec": ...}

Parallelism note: the scan parallelizes per SHEET (sheet XML is
sequential — the reference serves the whole corpus with one thread).
These workbooks hold one report sheet each, so throughput scales with
file count up to the core count; run with several files to measure the
parallel path.

Usage: python tools/ingest_bench.py [rows_per_file] [n_files]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def make_rows(n: int, file_idx: int) -> list[list[str]]:
    from shuttlestandalonedbcreator_spark.plans.transfer_pipeline import RAW_COLUMNS

    header = list(RAW_COLUMNS)
    rows = [header]
    for i in range(n):
        path = f"/jobs/batch{file_idx}/dir{i % 97}/file_{i}.dat"
        cells = {
            "file_name": path,
            "source_file_size": str((i * 37) % 5_000_000),
            "target_file_size": str((i * 37) % 5_000_000),
            "target_file_id": str(1_000_000 * file_idx + i),
            "source_account": "acct-src",
            "target_account": "acct-tgt",
            "creation_time": str(44000 + (i % 900)),  # excel serial
            "source_last_modified_by": f"user{i % 13}",
            "source_last_modification_time": str(44100 + (i % 900)),
            "target_last_modification_time": "45000.5",
            "last_access_time": "44500.25",
            "start_time": "44600",
            "transfer_time": "44601",
            "checksum_method": "md5",
            "checksum": f"cafe{i:08x}",
            "file_status": "success" if i % 7 else "failed",
            "errors": "" if i % 7 else "timeout",
            "status": "done",
            "translated_file_name": path.rsplit("/", 1)[-1],
        }
        rows.append([cells[c] for c in RAW_COLUMNS])
    return rows


def main() -> None:
    rows_per_file = int(sys.argv[1]) if len(sys.argv) > 1 else 50_000
    n_files = int(sys.argv[2]) if len(sys.argv) > 2 else 8

    from shuttlestandalonedbcreator_spark.plans.transfer_pipeline import ingest
    from shuttlestandalonedbcreator_spark.plans.sinks import write_transfer_table
    from shuttlestandalonedbcreator_spark.session import get_spark
    from shuttlestandalonedbcreator_spark.sources.excel import (
        read_transfer_reports,
        write_workbook,
    )

    work = tempfile.mkdtemp(prefix="ingest_bench_")
    src = os.path.join(work, "source")
    os.makedirs(src)
    t0 = time.time()
    for f in range(n_files):
        write_workbook(
            {"Transfer Report": make_rows(rows_per_file, f)},
            os.path.join(src, f"report_{f}.xlsx"),
        )
    gen_sec = time.time() - t0

    spark = get_spark()
    try:
        t1 = time.time()
        out = ingest(read_transfer_reports(spark, src), materialize=True)
        write_transfer_table(out, os.path.join(work, "transfer"))
        n = spark.read.parquet(os.path.join(work, "transfer")).count()
        ingest_sec = time.time() - t1
        print(json.dumps({
            "metric": "ingest_rows_per_sec",
            "value": round(n / ingest_sec, 1),
            "rows": n,
            "files": n_files,
            "gen_sec": round(gen_sec, 2),
            "ingest_sec": round(ingest_sec, 2),
        }))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
