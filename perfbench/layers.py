"""Per-layer metrics of a traced run.

Every traced run reports every layer, whichever workload it runs: the
workload's own ops give the layers they reach, and short probes after the
timed ops cover the rest (an excel scan, one ingest op on the small probe
workbook set for the catalog workloads, and direct calls of the dedup and
text kernels on ``documents``). Probe spans belong to ops named
``probe-*`` and never enter the op-level means.
"""

from __future__ import annotations

import os
import statistics

from perfbench.trace import Span
from perfbench.workloads import INGEST, Context, Tally, isolate, noop_write, run_ingest

PROBE = "probe"

UNITS = {
    "session.start_s": "s",
    "registry.load_s": "s",
    "excel.scan_s": "s",
    "excel.scan_task_skew": "ratio",
    "transfer_pipeline.materialize_s": "s",
    "transfer_pipeline.dedup_drop_ratio": "ratio",
    "transfer_pipeline.parent_match_ratio": "ratio",
    "sinks.write_s": "s",
    "sinks.bytes_per_input_byte": "ratio",
    "sinks.files_written": "count",
    "views.create_s": "s",
    "build.s": "s",
    "build.jobs": "count",
    "plan.s": "s",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.core_busy_ratio": "ratio",
    "exec.shuffle_write_mb": "MB",
    "exec.shuffle_read_mb": "MB",
    "exec.fetch_wait_s": "s",
    "exec.spill_mb": "MB",
    "exec.cached_relations_left": "count",
    "dedup.minhash_lsh_pairs_s": "s",
    "dedup.minhash_lsh_shuffle_mb": "MB",
    "text.stopword_ratio_s": "s",
    "trace.overhead_share": "ratio",
}


def run_probes(ctx: Context, tally: Tally) -> None:
    from pyspark.sql import functions as F

    from shuttlestandalonedbcreator_spark.functions.text import stopword_ratio
    from shuttlestandalonedbcreator_spark.operators.dedup import minhash_lsh_pairs
    from shuttlestandalonedbcreator_spark.sources.excel import read_transfer_reports
    from shuttlestandalonedbcreator_spark.sources.registry import load_table

    from perfbench.workloads import ingest_problems

    tr, spark = ctx.tracer, ctx.spark
    if ctx.workload == INGEST:
        books = ctx.books_dir
    else:
        books = ctx.small_books_dir
        table, _ = run_ingest(ctx, tr, books, os.path.join(ctx.work_dir, "probe_out"),
                              f"{PROBE}-ingest")
        isolate(spark)
        problems = ingest_problems(table, ctx.small_expected, tally.ingest_counts)
        if problems:
            tally.fail(f"{PROBE}-ingest", problems)
    with tr.span("excel.scan", PROBE, jobs=True):
        noop_write(read_transfer_reports(spark, books))
    tally.ingest_counts["scan_task_skew"] = tr.task_skew(f"{PROBE}/excel.scan")

    docs = load_table(spark, ctx.sf_dir, "documents")
    with tr.span("dedup.minhash_lsh_pairs", PROBE, jobs=True):
        noop_write(minhash_lsh_pairs(docs, "doc_id", "text"))
    isolate(spark)
    with tr.span("text.stopword_ratio", PROBE, jobs=True):
        noop_write(docs.select(stopword_ratio(F.col("text")).alias("r")))


def _mean(values: list[float]) -> float:
    return statistics.fmean(values) if values else 0.0


def layer_metrics(ctx: Context, tally: Tally, cpus: int) -> dict[str, float]:
    spans = ctx.tracer.spans

    def named(name: str, workload_ops: bool = False) -> list[Span]:
        return [
            s for s in spans
            if s.name == name and not (workload_ops and s.op.startswith(PROBE))
        ]

    def seconds(name: str, workload_ops: bool = False) -> float:
        return _mean([s.seconds for s in named(name, workload_ops)])

    def count(span: Span, key: str) -> float:
        return span.counts.get(key, 0.0)

    # the exec layer of an ingest op is its sink write
    exec_name = "sinks" if ctx.workload == INGEST else "exec"
    execs = named(exec_name, workload_ops=True)
    builds = named("build", workload_ops=True)
    # jobs a build fires: its own, or its children's (excel and pipeline)
    build_jobs = [
        count(b, "jobs") + sum(count(c, "jobs") for c in spans if c.parent is b)
        for b in builds
    ]
    run_s = sum(count(s, "executor_run_s") for s in execs)
    wall_s = sum(s.seconds for s in execs)
    minhash = named("dedup.minhash_lsh_pairs")
    out_dir = "out" if ctx.workload == INGEST else "probe_out"
    written = _written_files(os.path.join(ctx.work_dir, out_dir, "transfer.parquet"))
    books_bytes = ctx.books_bytes if ctx.workload == INGEST else ctx.small_books_bytes
    m = {
        "session.start_s": seconds("session"),
        "registry.load_s": seconds("registry", workload_ops=True),
        "excel.scan_s": seconds("excel.scan"),
        "excel.scan_task_skew": tally.ingest_counts.get("scan_task_skew", 1.0),
        "transfer_pipeline.materialize_s": seconds("transfer_pipeline"),
        "transfer_pipeline.dedup_drop_ratio": tally.ingest_counts.get("dedup_drop_ratio", 0.0),
        "transfer_pipeline.parent_match_ratio": tally.ingest_counts.get("parent_match_ratio", 0.0),
        "sinks.write_s": seconds("sinks"),
        "sinks.bytes_per_input_byte": sum(written.values()) / max(books_bytes, 1),
        "sinks.files_written": float(len(written)),
        "views.create_s": seconds("views"),
        "build.s": _mean([s.seconds for s in builds]),
        "build.jobs": _mean(build_jobs),
        "plan.s": seconds("plan", workload_ops=True),
        "exec.s": _mean([s.seconds for s in execs]),
        "exec.core_busy_ratio": run_s / (wall_s * cpus) if wall_s > 0 else 0.0,
        "exec.cached_relations_left": float(tally.cached_left),
        "dedup.minhash_lsh_pairs_s": _mean([s.seconds for s in minhash]),
        "dedup.minhash_lsh_shuffle_mb": _mean([count(s, "shuffle_write_mb") for s in minhash]),
        "text.stopword_ratio_s": seconds("text.stopword_ratio"),
        "trace.overhead_share": ctx.tracer.overhead_s / max(tally.total.wall, 1e-9),
    }
    for key in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
                "shuffle_write_mb", "shuffle_read_mb", "fetch_wait_s", "spill_mb"):
        m[f"exec.{key}"] = _mean([count(s, key) for s in execs])
    return m


def _written_files(path: str) -> dict[str, int]:
    """{data file: bytes} under a written table directory."""
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            if f.startswith("part-"):
                full = os.path.join(root, f)
                out[full] = os.path.getsize(full)
    return out


def self_time_table(ctx: Context) -> str:
    """Workload x layer self-time table of the traced run."""
    self_s = ctx.tracer.self_times()
    total = sum(self_s.values()) or 1.0
    lines = [f"{'layer':<26}{ctx.workload + ' self s':>30}{'share':>8}"]
    for name, s in sorted(self_s.items(), key=lambda kv: -kv[1]):
        lines.append(f"{name:<26}{s:>30.3f}{100 * s / total:>7.1f}%")
    lines.append(
        f"{'(tracer, within above)':<26}{ctx.tracer.overhead_s:>30.3f}"
        f"{100 * ctx.tracer.overhead_s / total:>7.1f}%"
    )
    return "\n".join(lines)
