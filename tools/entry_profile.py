"""Profile catalog entries: result rows, plans, runtime metrics and layer
times, printed to stdout.

Usage: python tools/entry_profile.py [entry ...] [--sf DIR] [--plan] [--metrics]
                               [--layers]

- No entry: the catalog-wide plan-shape table, counted from static plans
  (``PLANS.md`` is this output: ``python tools/entry_profile.py >
  PLANS.md``).
- An entry and no flag: its first 50 rows and its row count.
- ``--plan``: the formatted plan of every frame the build
  ``localCheckpoint``s, taken before the checkpoint truncates its lineage,
  then the final plan after ``collect()`` so AQE finalizes it.
- ``--metrics``: the final adaptive plan annotated with its SQLMetrics
  (rows, bytes, spill and per-node timings) after ``collect()``.
- ``--layers``: build / plan / exec seconds and each span's job, stage,
  task and stage-metric totals, from the second of two runs of the
  benchmark's own op (``perfbench.workloads.run_entry`` under a
  ``perfbench.trace.Tracer``), so the numbers compare directly with a
  ``perfbench/run.py --trace 1`` run; then the py4j round trips of one
  more build (each ``send_command`` of the building thread counts one).

``--sf`` defaults to the sf0.01 fixture set.
"""

from __future__ import annotations

import argparse
import os
import re
import sys
import threading
import types
import uuid
from contextlib import contextmanager

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql.classic.dataframe import DataFrame  # noqa: E402

from perfbench.trace import Tracer  # noqa: E402
from perfbench.workloads import isolate, run_entry  # noqa: E402
from shuttlestandalonedbcreator_spark.queries import CATALOG  # noqa: E402
from shuttlestandalonedbcreator_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"

_SPILL = ("spillSize", "memSpillSize", "diskSpillSize")
_BYTES = ("shuffleBytesWritten", "filesSize", "peakMemory")
_TIMES = (
    "pipelineTime",
    "aggTime",
    "sortTime",
    "scanTime",
    "shuffleWriteTime",
    "fetchWaitTime",
    "buildTime",
    "collectTime",
)
_KEEP = ("numOutputRows", "numFiles", *_BYTES, *_SPILL, *_TIMES)


def formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


@contextmanager
def capture_checkpoints():
    """Collect the formatted plan of every frame ``localCheckpoint``ed
    inside the block, before the checkpoint truncates its lineage. Spark 4
    instances are ``pyspark.sql.classic.dataframe.DataFrame``, so the
    patch lands there."""
    plans: list[str] = []
    real = DataFrame.localCheckpoint

    def capturing(self, *args, **kwargs):
        plans.append(formatted(self))
        return real(self, *args, **kwargs)

    DataFrame.localCheckpoint = capturing
    try:
        yield plans
    finally:
        DataFrame.localCheckpoint = real


@contextmanager
def count_round_trips():
    """Count the py4j round trips (``ClientServerConnection.send_command``)
    the opening thread makes inside the block; py4j's ``FinalizerWorker``
    thread deleting released proxies is not counted."""
    from py4j.clientserver import ClientServerConnection

    count = [0]
    real = ClientServerConnection.send_command
    owner = threading.get_ident()

    def counting(self, *args, **kwargs):
        count[0] += threading.get_ident() == owner
        return real(self, *args, **kwargs)

    ClientServerConnection.send_command = counting
    try:
        yield count
    finally:
        ClientServerConnection.send_command = real


def _metrics(node) -> dict:
    """The node's kept SQLMetrics; timings in milliseconds."""
    out = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        if kv._1() in _KEEP:
            m = kv._2()
            out[kv._1()] = m.value() / 1e6 if m.metricType() == "nsTiming" else m.value()
    return out


def _children(node):
    """Physical children, descending THROUGH adaptive/query-stage shells
    (AdaptiveSparkPlanExec and QueryStageExec hide the real tree behind
    accessor methods, not children())."""
    name = node.nodeName()
    if name == "AdaptiveSparkPlan":
        return [node.executedPlan()]
    if name.endswith("QueryStage"):
        return [node.plan()]
    out = []
    it = node.children().iterator()
    while it.hasNext():
        out.append(it.next())
    return out


def walk(node, depth: int = 0, rows: list | None = None) -> list:
    """(depth, node name, kept metrics) for every node, top-down."""
    rows = rows if rows is not None else []
    rows.append((depth, node.nodeName(), _metrics(node)))
    for ch in _children(node):
        walk(ch, depth + 1, rows)
    return rows


def fmt_bytes(n: int) -> str:
    for unit in ("B", "KiB", "MiB", "GiB"):
        if n < 1024:
            return f"{n:.0f}{unit}"
        n /= 1024
    return f"{n:.1f}TiB"


def metrics_lines(df) -> list[str]:
    """One line per node of a collected frame's final plan."""
    lines = []
    for depth, node, m in walk(df._jdf.queryExecution().executedPlan()):
        parts = [f"rows={m['numOutputRows']:,}"] if m.get("numOutputRows") else []
        parts += [f"{k}={fmt_bytes(m[k])}" for k in _BYTES if m.get(k)]
        spill = sum(m.get(k, 0) for k in _SPILL)
        if spill:
            parts.append(f"SPILL={fmt_bytes(spill)}")
        parts += [f"{k}={m[k]:.1f}ms" for k in _TIMES if m.get(k)]
        lines.append("  " * depth + node + ("  [" + " ".join(parts) + "]" if parts else ""))
    return lines


def plan_row(spark, sf_dir: str, name: str) -> str:
    """``name``'s plan-shape facts as a markdown table row, counted from
    the static physical plan: adaptive execution is off while the entry
    is built and planned, and the query is not run, so no runtime
    statistic (stage sizes, the order stages finish in) can change the
    row. AQE's
    final plan re-plans per finished stage, and its codegen spans read
    8 or 9 for ``prefix_filter_jaccard`` and 10 or 13 for
    ``lsh_tuning_audit`` from run to run."""
    key = "spark.sql.adaptive.enabled"
    adaptive = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        plan = CATALOG[name].spark(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set(key, adaptive)
    shuffles = plan.count("Exchange hashpartitioning")
    bcast = plan.count("BroadcastHashJoin")
    scans = plan.count("FileScan parquet")
    pushed = len(re.findall(r"PushedFilters: \[[^\]]", plan))
    wscg = len(set(re.findall(r"\*\((\d+)\)", plan)))
    nested = "yes" if ("CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan) else ""
    return f"| {name} | {shuffles} | {bcast} | {scans} | {pushed} | {wscg} | {nested} |"


def plan_table(spark, sf_dir: str) -> list[str]:
    """Plan-shape facts of every catalog entry, as a markdown table."""
    return [
        "# PLANS — physical-plan quality per headline query",
        "",
        f"Generated by `tools/entry_profile.py` at `{sf_dir}` from each",
        "entry's static physical plan (adaptive execution off; the query is",
        "planned, not run), so a regeneration on the same data gives the same",
        "table. Columns: shuffles = `Exchange hashpartitioning` count; bcast =",
        "broadcast joins; scans; pushed = scans with non-empty PushedFilters;",
        "wscg = whole-stage-codegen spans; cartesian/NL = CartesianProduct or",
        "BroadcastNestedLoopJoin present (only acceptable for intentional",
        "pair-generation / 1-row scalar joins).",
        "",
        "| query | shuffles | bcast | scans | pushed | wscg | cartesian/NL |",
        "|---|---|---|---|---|---|---|",
        *(plan_row(spark, sf_dir, name) for name in CATALOG),
    ]


def layers(spark, sf_dir: str, name: str) -> dict[str, dict]:
    """{span: seconds and stage totals} for build, plan and exec of the
    second of two benchmark ops on ``name``; cached relations are dropped
    before each op, as the benchmark does between ops."""
    ctx = types.SimpleNamespace(spark=spark, sf_dir=sf_dir)
    for _ in range(2):
        isolate(spark)
        tracer = Tracer(spark, True)
        # a fresh op id per run: the status store keeps every job of a
        # job group, so a reused id would also count the earlier run's jobs
        run_entry(ctx, tracer, name, f"{name}-{uuid.uuid4().hex[:12]}")
    return {sp.name: {"s": sp.seconds, **sp.counts} for sp in tracer.spans if sp.name != "op"}


def collected(spark, sf_dir: str, name: str):
    """``name`` built and collected, which finalizes AQE and populates the
    metrics of THIS frame's plan, and the plans its build checkpointed."""
    with capture_checkpoints() as checkpoints:
        df = CATALOG[name].spark(spark, sf_dir)
    df.collect()
    return df, checkpoints


def profile(spark, sf_dir: str, name: str, plan: bool, metrics: bool, layer: bool) -> None:
    if not (plan or metrics or layer):
        df = CATALOG[name].spark(spark, sf_dir)
        df.show(50, truncate=False)
        print(f"rows: {df.count()}")
        return
    if plan or metrics:
        df, checkpoints = collected(spark, sf_dir, name)
        for i, text in enumerate(checkpoints if plan else [], 1):
            print(f"== {name}: pre-checkpoint plan {i} ==\n{text}")
        if plan:
            print(f"== {name}: final plan ==\n{formatted(df)}")
        if metrics:
            print(f"== {name}: metrics ==", *metrics_lines(df), sep="\n")
    if layer:
        print(f"== {name}: layers (second of two runs) ==")
        for span, counts in layers(spark, sf_dir, name).items():
            totals = " ".join(f"{k}={v:.4g}" for k, v in counts.items() if k != "s")
            print(f"{span:<6} {counts['s']:8.3f} s  {totals}".rstrip())
        with count_round_trips() as trips:
            CATALOG[name].spark(spark, sf_dir)
        print(f"py4j round trips in one more build: {trips[0]}")


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description="Profile catalog entries; see the module docstring.")
    ap.add_argument("entries", nargs="*", metavar="entry", help="catalog entries (none: plan table)")
    ap.add_argument("--sf", default=SF_DIR, metavar="DIR", help=f"fixture directory (default {SF_DIR})")
    ap.add_argument("--plan", action="store_true", help="pre-checkpoint and final plans")
    ap.add_argument("--metrics", action="store_true", help="per-node SQLMetrics of the final plan")
    ap.add_argument("--layers", action="store_true", help="build / plan / exec spans")
    args = ap.parse_args(argv)
    unknown = [n for n in args.entries if n not in CATALOG]
    if unknown:
        ap.error(f"unknown entries: {' '.join(unknown)}")
    if not args.entries and (args.plan or args.metrics or args.layers):
        ap.error("--plan, --metrics and --layers need an entry")

    spark = get_spark(app_name="profile")
    spark.sparkContext.setLogLevel("ERROR")
    if not args.entries:
        print("\n".join(plan_table(spark, args.sf)))
    for name in args.entries:
        profile(spark, args.sf, name, args.plan, args.metrics, args.layers)


if __name__ == "__main__":
    main()
