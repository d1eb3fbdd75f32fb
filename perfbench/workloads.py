"""The benchmark's workloads, their ops and their output checks.

- ``workbook_ingest``: an op reads the seeded workbook set, ingests it into
  the typed last-write-wins table (``materialize=True``), writes that table
  and creates the view surface on the written copy.
- ``relational_session``: an op builds one catalog entry that reads only the
  TPC-H and ``events`` tables, plans it and runs it into the noop sink.
- ``corpus_batch``: the same op over the entries that read ``documents`` or
  ``embeddings``, run back to back as a batch.

One closed-loop client runs the ops: each starts when the previous ended.
A pass is the workload's op list in a seeded order (one ingest, or every
sampled catalog entry). Set-up loads the workload's inputs ``LOAD_CYCLES``
times (fixture tables through the registry, or a scan of the small
workbook set) and then runs a fixed warm-up, identical for every run.
Output checks, cache isolation and tracer bookkeeping run outside each
op's timed interval.

The catalog workloads run a stable hash sample of their entries (one in
``sample_every``) at sf0.01: a full pass over all 230 entries takes minutes
on four cores, and every run must start a session, warm up and check its
results within the benchmark's per-run time.
"""
from __future__ import annotations

import os
import random
import statistics
import time
from dataclasses import dataclass, field

from perfbench import catalog, workbooks
from perfbench.trace import Tracer

INGEST = "workbook_ingest"
LOAD_CYCLES = 3  # setup_s counts the median of this many input loads
WARMUP_ENTRIES = 1  # catalog entries the warm-up runs, first by name
WARMUP_BOOKS, WARMUP_ROWS = 2, 200  # the ingest warm-up's workbook set


@dataclass(frozen=True)
class Spec:
    sf: float  # fixture scale factor
    sample_every: int = 1  # catalog workloads run entries whose hash % this == 0
    books: int = 0  # ingest workbooks
    rows_per_book: int = 0


SPECS = {
    INGEST: Spec(sf=0.001, books=8, rows_per_book=3000),
    catalog.RELATIONAL: Spec(sf=0.01, sample_every=8),
    catalog.CORPUS: Spec(sf=0.01, sample_every=8),
}


_HZ = os.sysconf("SC_CLK_TCK")


def cpu_seconds() -> tuple[float, float]:
    """(busy, stolen) CPU seconds of the whole machine so far, from
    /proc/stat: busy is user + nice + system + irq + softirq; stolen is
    time the hypervisor ran something else while a CPU here was runnable."""
    with open("/proc/stat") as fh:
        v = [int(x) for x in fh.readline().split()[1:9]]
    return (v[0] + v[1] + v[2] + v[5] + v[6]) / _HZ, v[7] / _HZ


@dataclass
class Times:
    """An interval's wall time, CPU time and stolen CPU time."""

    wall: float = 0.0
    cpu: float = 0.0
    stolen: float = 0.0

    @classmethod
    def since(cls, wall0: float, cpu0: tuple[float, float]) -> Times:
        busy, stolen = cpu_seconds()
        return cls(time.perf_counter() - wall0, busy - cpu0[0], stolen - cpu0[1])

    @property
    def unstolen(self) -> float:
        """Wall time less the share the hypervisor stole from runnable
        CPUs: wall x busy / (busy + stolen). On a host shared with other
        machines this is the steady estimate of the interval's wall time
        on an unshared one."""
        runnable = self.cpu + self.stolen
        return self.wall * self.cpu / runnable if runnable > 0 else self.wall

    def __add__(self, other: Times) -> Times:
        return Times(self.wall + other.wall, self.cpu + other.cpu, self.stolen + other.stolen)


@dataclass
class Tally:
    """What the ops of one run did."""

    ops: dict[str, list[Times]] = field(default_factory=dict)  # by entry
    passes: list[Times] = field(default_factory=list)
    input_rows: float = 0.0
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    cached_left: int = 0
    ingest_counts: dict[str, float] = field(default_factory=dict)

    def record(self, key: str, times: Times, rows: float) -> None:
        self.ops.setdefault(key, []).append(times)
        self.input_rows += rows

    @property
    def total(self) -> Times:
        return sum((t for ts in self.ops.values() for t in ts), Times())

    def fail(self, what: str, problems: list[str]) -> None:
        self.failed += 1
        if len(self.problems) < 20:
            self.problems.append(f"{what}: {'; '.join(problems)[:300]}")


@dataclass
class Context:
    spark: object
    tracer: Tracer
    workload: str
    seed: int
    work_dir: str
    sf_dir: str
    table_rows: dict[str, int]
    books_dir: str = ""  # the workload's workbook set (workbook_ingest)
    expected: workbooks.Expected | None = None
    books_bytes: int = 0
    small_books_dir: str = ""  # the warm-up and probe workbook set
    small_expected: workbooks.Expected | None = None
    small_books_bytes: int = 0
    entries: list[str] = field(default_factory=list)
    tables_of: dict[str, list[str]] = field(default_factory=dict)


def isolate(spark) -> int:
    """Cached relations an op left behind; then drop them, so the next op
    cannot read its data from cache."""
    left = spark._jsparkSession.sharedState().cacheManager().numCachedEntries()
    spark.catalog.clearCache()
    return int(left)


def noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# ---------------------------------------------------------------------------
# catalog ops
# ---------------------------------------------------------------------------


def run_entry(ctx: Context, tracer: Tracer, name: str, op: str):
    """One build, plan and noop write of catalog entry ``name``; returns the
    built frame and the op's times."""
    from shuttlestandalonedbcreator_spark.queries import CATALOG

    t0, cpu0 = time.perf_counter(), cpu_seconds()
    with tracer.span("op", op):
        with tracer.span("build", op, jobs=True):
            df = CATALOG[name].spark(ctx.spark, ctx.sf_dir)
        with tracer.span("plan", op):
            df._jdf.queryExecution().executedPlan()
        with tracer.span("exec", op, jobs=True):
            noop_write(df)
    return df, Times.since(t0, cpu0)


def catalog_load(ctx: Context) -> None:
    """Load every table the workload reads through the catalog's table
    accessor, starting from an empty table cache."""
    from shuttlestandalonedbcreator_spark import queries

    queries._TABLE_CACHE.clear()
    tables = sorted({t for n in ctx.entries for t in ctx.tables_of[n]})
    with ctx.tracer.span("registry", "setup"):
        for t in tables:
            queries._t(ctx.spark, ctx.sf_dir, t)


def catalog_warmup(ctx: Context) -> None:
    """Run the workload's first entries by name, untimed and unchecked."""
    quiet = Tracer(ctx.spark, enabled=False)
    with ctx.tracer.span("warmup", "setup"):
        for name in ctx.entries[:WARMUP_ENTRIES]:
            run_entry(ctx, quiet, name, "warmup")
            isolate(ctx.spark)


def catalog_pass(ctx: Context, tally: Tally, checker: catalog.Checker, pass_no: int,
                 on_ops_done=None) -> None:
    """Every sampled entry once, in seeded order, back to back; then check
    each result against its oracle."""
    order = list(ctx.entries)
    random.Random(ctx.seed * 1009 + pass_no).shuffle(order)
    done = []
    pass_times = Times()
    for i, name in enumerate(order):
        op = f"p{pass_no}-{i:03d}-{name}"
        tally.attempted += 1
        try:
            df, times = run_entry(ctx, ctx.tracer, name, op)
        except Exception as e:  # an op that raises counts as failed
            tally.fail(name, [f"{type(e).__name__}: {e}"])
            isolate(ctx.spark)
            continue
        tally.record(name, times, sum(ctx.table_rows[t] for t in ctx.tables_of[name]))
        tally.cached_left += isolate(ctx.spark)
        pass_times += times
        done.append((name, df))
    tally.passes.append(pass_times)
    if on_ops_done is not None:
        on_ops_done()
    for name, df in done:
        try:
            problems = checker.problems(name, df.toPandas())
        except Exception as e:
            problems = [f"check raised {type(e).__name__}: {e}"]
        if problems:
            tally.fail(name, problems)
        isolate(ctx.spark)


# ---------------------------------------------------------------------------
# ingest ops
# ---------------------------------------------------------------------------


def run_ingest(ctx: Context, tracer: Tracer, books_dir: str, out_dir: str, op: str):
    """Scan, ingest, write and view one workbook set; returns the written
    table (read back through the registry) and the op's times."""
    from shuttlestandalonedbcreator_spark.plans.sinks import write_transfer_table
    from shuttlestandalonedbcreator_spark.plans.transfer_pipeline import ingest
    from shuttlestandalonedbcreator_spark.plans.views import create_views
    from shuttlestandalonedbcreator_spark.sources.excel import read_transfer_reports
    from shuttlestandalonedbcreator_spark.sources.registry import load_table

    t0, cpu0 = time.perf_counter(), cpu_seconds()
    with tracer.span("op", op):
        with tracer.span("build", op):
            with tracer.span("excel", op, jobs=True):
                raw = read_transfer_reports(ctx.spark, books_dir)
            with tracer.span("transfer_pipeline", op, jobs=True):
                out = ingest(raw, materialize=True)
        with tracer.span("plan", op):
            out._jdf.queryExecution().executedPlan()
        with tracer.span("sinks", op, jobs=True):
            write_transfer_table(out, os.path.join(out_dir, "transfer.parquet"))
        with tracer.span("registry", op, jobs=True):
            table = load_table(ctx.spark, out_dir, "transfer")
        with tracer.span("views", op, jobs=True):
            create_views(ctx.spark, table)
    return table, Times.since(t0, cpu0)


def ingest_problems(table, expected: workbooks.Expected, counts: dict[str, float]) -> list[str]:
    """Compare the written table with the generator's expected result; fill
    ``counts`` with the pipeline's dedup and parent-match ratios."""
    pdf = table.select("file_name", "target_file_id", "checksum", "parent_id").toPandas()
    rows = len(pdf)
    counts["dedup_drop_ratio"] = (expected.rows_in - rows) / expected.rows_in
    counts["parent_match_ratio"] = float(pdf["parent_id"].notna().sum()) / max(rows, 1)
    problems = []
    if rows != expected.rows_out:
        problems.append(f"rows {rows} != expected {expected.rows_out}")
    got = workbooks.value_hash(pdf.itertuples(index=False, name=None))
    if got != expected.value_hash:
        problems.append(f"value hash {got} != expected {expected.value_hash}")
    return problems


def ingest_load(ctx: Context) -> None:
    """Scan the small workbook set into the noop sink."""
    from shuttlestandalonedbcreator_spark.sources.excel import read_transfer_reports

    with ctx.tracer.span("load", "setup"):
        noop_write(read_transfer_reports(ctx.spark, ctx.small_books_dir))


def ingest_warmup(ctx: Context) -> None:
    """One full, unchecked ingest op on the small workbook set."""
    quiet = Tracer(ctx.spark, enabled=False)
    with ctx.tracer.span("warmup", "setup"):
        run_ingest(ctx, quiet, ctx.small_books_dir,
                   os.path.join(ctx.work_dir, "warmup_out"), "warmup")
        isolate(ctx.spark)


def ingest_pass(ctx: Context, tally: Tally, pass_no: int, on_ops_done=None) -> None:
    op = f"p{pass_no}-ingest"
    tally.attempted += 1
    try:
        table, times = run_ingest(ctx, ctx.tracer, ctx.books_dir,
                                    os.path.join(ctx.work_dir, "out"), op)
    except Exception as e:
        tally.fail(op, [f"{type(e).__name__}: {e}"])
        isolate(ctx.spark)
        return
    tally.record("ingest", times, ctx.expected.rows_in)
    tally.cached_left += isolate(ctx.spark)
    tally.passes.append(times)
    if on_ops_done is not None:
        on_ops_done()
    try:
        problems = ingest_problems(table, ctx.expected, tally.ingest_counts)
    except Exception as e:
        problems = [f"check raised {type(e).__name__}: {e}"]
    if problems:
        tally.fail(op, problems)


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------


def op_samples(tally: Tally, value) -> list[float]:
    """``value(times)`` per catalog entry (its median over passes), or for
    every ingest op."""
    if list(tally.ops) == ["ingest"]:
        return [value(t) for t in tally.ops["ingest"]]
    return [statistics.median(value(t) for t in ts) for ts in tally.ops.values()]
