"""Run one benchmark workload and print its metrics.

Usage (from the repository root):

    python3 perfbench/run.py --workload relational_session --seed 1 \\
        --seconds 10 --trace 0

Workloads: workbook_ingest, relational_session, corpus_batch (see
``perfbench/workloads.py``). Inputs are generated from ``--seed`` into
``.perfbench_cache/`` and removed at exit; the catalog's workload
membership is cached there per engine source hash.

End-to-end metrics (``--trace 0``):

- ``setup_s``: process start to the first timed op, without input
  generation: imports, session start, the median of the repeated input
  loads and the warm-up.
- ``op_geomean_s``: geometric mean over the workload's entries of each
  entry's op latency (build, plan and noop write; for workbook_ingest, the
  whole ingest op).
- ``pass_s``: one pass over every op of the workload, back to back.
- ``pass_cpu_s``: CPU seconds the machine spent busy during one pass.
- ``driver_peak_rss_mb``: the Python driver's peak RSS up to the end of the
  first pass, before any output check runs.

The host shares its CPUs with other machines, which steal time from this
one while it runs. ``setup_s``, ``op_geomean_s`` and ``pass_s`` are wall
times with the stolen share of each interval removed (wall x busy /
(busy + stolen), from /proc/stat); the context line carries the raw wall
times and the stolen share beside them.

Output: a context line (``{"context": ...}``: seed, cpus, fixture hashes,
load and steal, raw wall times, failures and the failed-op share) and,
last, the result line ``{"correct", "attempted", "failed", "metrics"}``,
both flushed as soon as the ops end. ``--trace 1`` runs the same ops with
spans and job-group attribution, runs the layer probes, prints a layer
self-time table with the tracer's own time, writes the spans to
``.perfbench_cache/`` and reports the per-layer metrics instead.
"""
from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(REPO, ".perfbench_cache")
WORKLOADS = ("workbook_ingest", "relational_session", "corpus_batch")


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # smaller inputs, for smoke tests
    p.add_argument("--sf", type=float, help="fixture scale factor")
    p.add_argument("--books", type=int, help="ingest workbooks")
    p.add_argument("--rows", type=int, help="data rows per ingest workbook")
    return p.parse_args(argv)


def peak_rss_mb() -> float:
    with open("/proc/self/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc/self/status")


def file_hashes(files: dict[str, tuple[str, int]]) -> dict[str, str]:
    """{name: "<rows>:<md5 prefix of the file bytes>"}."""
    out = {}
    for name, (path, rows) in sorted(files.items()):
        with open(path, "rb") as fh:
            out[name] = f"{rows}:{hashlib.md5(fh.read()).hexdigest()[:8]}"
    return out


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if REPO not in sys.path:
        sys.path.insert(0, REPO)
    try:
        import shuttlestandalonedbcreator_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine package is missing: {e}", file=sys.stderr)
        return 2

    from dataclasses import replace

    from perfbench import catalog, fixtures, layers, spark_env, workbooks
    from perfbench import workloads as W
    from perfbench.trace import Tracer

    spec = W.SPECS[args.workload]
    spec = replace(
        spec,
        sf=args.sf or spec.sf,
        books=args.books or spec.books,
        rows_per_book=args.rows or spec.rows_per_book,
    )
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    ingest = args.workload == W.INGEST
    work = os.path.join(CACHE, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    run0 = (time.perf_counter(), W.cpu_seconds())
    import_s = time.perf_counter() - PROCESS_START
    spark = None
    try:
        # -- inputs: generated from the seed, excluded from setup_s ----------
        t = time.perf_counter()
        sf_dir = os.path.join(work, "fixtures")
        table_rows = fixtures.write_tables(args.seed, spec.sf, sf_dir)
        books = workbooks.build_reports(args.seed, spec.books, spec.rows_per_book) if ingest else []
        small = workbooks.build_reports(args.seed + 1, W.WARMUP_BOOKS, W.WARMUP_ROWS)
        small_paths = workbooks.write_reports(small, os.path.join(work, "small_books"))
        book_paths = workbooks.write_reports(books, os.path.join(work, "books")) if ingest else []
        # every workload fills the membership cache, so the first run in a
        # checkout pays for it whichever workload it runs
        membership = catalog.load_membership(CACHE)
        gen_s = time.perf_counter() - t

        tracer = Tracer(None, bool(args.trace))
        t, cpu0 = time.perf_counter(), W.cpu_seconds()
        with tracer.span("setup", "setup"):
            with tracer.span("session", "setup"):
                spark = spark_env.start(f"perfbench-{args.workload}", os.path.join(work, "spark"))
                spark.range(1).count()
            tracer.spark = spark
            session_s = time.perf_counter() - t
            ctx = W.Context(
                spark=spark, tracer=tracer, workload=args.workload,
                seed=args.seed, work_dir=work, sf_dir=sf_dir, table_rows=table_rows,
                books_dir=os.path.join(work, "books"),
                expected=workbooks.expected(books) if ingest else None,
                books_bytes=sum(os.path.getsize(p) for p in book_paths),
                small_books_dir=os.path.join(work, "small_books"),
                small_expected=workbooks.expected(small),
                small_books_bytes=sum(os.path.getsize(p) for p in small_paths),
                entries=catalog.sample(
                    [n for n, ts in membership.items() if catalog.workload_of(ts) == args.workload],
                    spec.sample_every,
                ),
                tables_of=membership,
            )
            # inputs load LOAD_CYCLES times (median counted); warm-up once
            cycles = []
            for _ in range(W.LOAD_CYCLES):
                c0 = time.perf_counter()
                (W.ingest_load if ingest else W.catalog_load)(ctx)
                cycles.append(time.perf_counter() - c0)
            w0 = time.perf_counter()
            (W.ingest_warmup if ingest else W.catalog_warmup)(ctx)
            warmup_s = time.perf_counter() - w0
        setup = W.Times.since(t, cpu0)
        setup_s = (import_s + session_s + statistics.median(cycles) + warmup_s) * (
            setup.unstolen / setup.wall
        )

        # -- timed ops: at least one pass, more while --seconds allow --------
        tally = W.Tally()
        checker = None if ingest else catalog.Checker(sf_dir)
        rss: list[float] = []

        def ops_done() -> None:  # driver peak up to the first check
            if not rss:
                rss.append(peak_rss_mb())

        # another pass starts only if it is expected to end in time, so the
        # number of passes does not flip between runs of the same size
        deadline = time.perf_counter() + args.seconds
        pass_no = 0
        while True:
            p0 = time.perf_counter()
            if ingest:
                W.ingest_pass(ctx, tally, pass_no, ops_done)
            else:
                W.catalog_pass(ctx, tally, checker, pass_no, ops_done)
            pass_no += 1
            if 2 * time.perf_counter() - p0 > deadline:
                break
        if checker is not None:
            checker.close()

        if args.trace:
            layers.run_probes(ctx, tally)
            metrics = {
                k: {"value": v, "unit": layers.UNITS[k]}
                for k, v in layers.layer_metrics(ctx, tally, cpus).items()
            }
        else:
            metrics = {
                "setup_s": {"value": setup_s, "unit": "s"},
                "op_geomean_s": {
                    "value": statistics.geometric_mean(
                        W.op_samples(tally, lambda t: t.unstolen) or [1.0]
                    ),
                    "unit": "s",
                },
                "pass_s": {
                    "value": statistics.median([p.unstolen for p in tally.passes] or [0.0]),
                    "unit": "s",
                },
                "pass_cpu_s": {
                    "value": statistics.median([p.cpu for p in tally.passes] or [0.0]),
                    "unit": "s",
                },
                "driver_peak_rss_mb": {"value": rss[0] if rss else peak_rss_mb(), "unit": "MB"},
            }
        run = W.Times.since(*run0)
        total = tally.total
        hashed = {t: (os.path.join(sf_dir, f"{t}.parquet"), n) for t, n in table_rows.items()}
        hashed.update({
            os.path.basename(p): (p, len(rows)) for p, rows in zip(book_paths, books)
        })
        context = {
            "workload": args.workload,
            "seed": args.seed,
            "cpus": cpus,
            "sf": spec.sf,
            "entries": len(ctx.entries),
            "passes": pass_no,
            "failed_op_share": tally.failed / max(tally.attempted, 1),
            "problems": tally.problems,
            "gen_s": round(gen_s, 3),
            "setup_load_s": [round(c, 3) for c in cycles],
            "setup_warmup_s": round(warmup_s, 3),
            "op_p50_wall_s": statistics.median(W.op_samples(tally, lambda t: t.wall) or [0.0]),
            "pass_wall_s": [round(p.wall, 3) for p in tally.passes],
            "input_rows_per_s": tally.input_rows / max(total.wall, 1e-9),
            "op_wall_s": {k: [round(t.wall, 3) for t in v] for k, v in tally.ops.items()},
            "fixture_hashes": file_hashes(hashed),
            "load_1m": os.getloadavg()[0],
            "steal_pct": 100.0 * run.stolen / max(run.cpu + run.stolen, 1e-9),
            "op_steal_pct": 100.0 * total.stolen / max(total.cpu + total.stolen, 1e-9),
        }
        if args.trace:
            print(layers.self_time_table(ctx))
            spans_path = os.path.join(CACHE, f"spans-{args.workload}-{args.seed}.jsonl")
            tracer.write(spans_path)
            context["spans"] = os.path.relpath(spans_path, REPO)
            context["trace_overhead_s"] = round(tracer.overhead_s, 3)
        print(json.dumps({"context": context}), flush=True)
        print(json.dumps({
            "correct": tally.failed == 0,
            "attempted": tally.attempted,
            "failed": tally.failed,
            "metrics": metrics,
        }), flush=True)
        return 0
    finally:
        if spark is not None:
            spark_env.stop(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
