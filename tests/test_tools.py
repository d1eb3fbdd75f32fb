"""The developer tools: the profiling CLI's plan capture and layer split,
README's layout listing every tool, and no tool shadowing the stdlib."""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_profile_plan_capture_and_layers(spark, sf_small, capsys):
    """`--plan` prints the plan of every frame the build checkpoints, taken
    before lineage truncation, and the final plan; `--layers` reports the
    build / plan / exec spans with their job counts, then the py4j round
    trips of one more build."""
    from tools.entry_profile import profile

    profile(spark, sf_small, "gini_revenue", plan=True, metrics=False, layer=False)
    parts = re.split(r"^== gini_revenue: (.+) ==$", capsys.readouterr().out, flags=re.M)
    sections = list(zip(parts[1::2], parts[2::2]))
    titles = [t for t, _ in sections]
    assert titles[-1] == "final plan" and len(titles) >= 2, titles
    assert all(t.startswith("pre-checkpoint plan") for t in titles[:-1]), titles
    # the checkpointed frame shows its real scan; the final plan only the
    # checkpoint's RDD
    assert "Scan parquet" in sections[0][1]
    assert "Scan ExistingRDD" in sections[-1][1]

    profile(spark, sf_small, "gini_revenue", plan=False, metrics=False, layer=True)
    out = capsys.readouterr().out
    spans = {
        m[1]: {"s": float(m[2]), **{k: float(v) for k, v in re.findall(r"(\w+)=(\S+)", m[3])}}
        for m in re.finditer(r"^(build|plan|exec) +([\d.]+) s(.*)$", out, flags=re.M)
    }
    assert list(spans) == ["build", "plan", "exec"], out
    assert spans["build"]["jobs"] >= 1 and spans["exec"]["jobs"] >= 1, spans
    assert all(sp["s"] > 0 for sp in spans.values())
    # after the span table, the py4j round trips of one more build
    trips = re.findall(r"^py4j round trips in one more build: (\d+)$", out, flags=re.M)
    assert len(trips) == 1 and int(trips[0]) > 0, out
    assert out.rstrip().endswith(trips[0])


def test_round_trips_count_only_the_building_thread(spark):
    """JVM calls another thread makes inside the block (py4j's finalizer
    thread deleting released proxies, here a plain worker thread) are
    not counted; the opening thread's calls are."""
    import threading

    from tools.entry_profile import count_round_trips

    system = spark._jvm.java.lang.System
    with count_round_trips() as alone:
        system.nanoTime()
    with count_round_trips() as trips:
        worker = threading.Thread(target=lambda: [system.nanoTime() for _ in range(20)])
        worker.start()
        worker.join()
        from_worker = trips[0]
        system.nanoTime()
    assert from_worker == 0
    assert trips[0] == alone[0] > 0


def test_readme_layout_names_every_tool():
    """README's layout section lists every tools/*.py, and every tool it
    lists exists."""
    with open(os.path.join(REPO, "README.md")) as fh:
        readme = fh.read()
    layout = readme.split("## Layout", 1)[1].split("\n## ", 1)[0]
    named = set(re.findall(r"tools/(\w+)\.py", layout))
    present = {
        f[:-3] for f in os.listdir(os.path.join(REPO, "tools"))
        if f.endswith(".py") and f != "__init__.py"
    }
    assert present - named == set(), "tools missing from README layout"
    assert named - present == set(), "README layout names missing tools"


def test_no_tool_shadows_a_stdlib_module():
    """A script run as `python tools/X.py` puts tools/ ahead of the stdlib
    on sys.path, so a tools/profile.py would be the `profile` that cProfile
    (imported by pyspark) loads, and every tool would fail to import
    pyspark."""
    stems = {f[:-3] for f in os.listdir(os.path.join(REPO, "tools")) if f.endswith(".py")}
    assert stems & sys.stdlib_module_names == set()


def test_plan_rows_reproducible_and_unexecuted(spark, sf_small):
    """PLANS.md rows come from the static plan: two regenerations agree,
    and a row runs no more jobs than the entry's build, never the query
    itself, so no runtime statistic can reach it."""
    from shuttlestandalonedbcreator_spark.queries import CATALOG
    from tools.entry_profile import plan_row

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    for name in ("prefix_filter_jaccard", "lsh_tuning_audit"):
        sc.setJobGroup(f"build-{name}", "build")
        CATALOG[name].spark(spark, sf_small)
        rows = []
        for i in range(2):
            sc.setJobGroup(f"row{i}-{name}", "plan row")
            rows.append(plan_row(spark, sf_small, name))
        sc.setLocalProperty("spark.jobGroup.id", None)
        assert rows[0] == rows[1], rows
        # AQE runs a job per shuffle stage, so the static build can only
        # need fewer jobs; executing the query would add its own
        built = len(tracker.getJobIdsForGroup(f"build-{name}"))
        ran = [len(tracker.getJobIdsForGroup(f"row{i}-{name}")) for i in range(2)]
        assert ran[0] == ran[1] <= built, (name, ran, built)


def test_text_fuzz_prefix_case_runs_the_shipped_kernel(spark, sf_small):
    """tools/text_fuzz.py's prefix-filter draws call
    operators/dedup.py:prefix_filter_pairs and agree with the DuckDB
    all-pairs join on two fixed seeds."""
    import random

    import duckdb

    from tools import text_fuzz

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_small}/documents.parquet'"
    )
    for seed in (4, 10):
        got, exp, label = text_fuzz.prefix_filter_case(
            spark, con, sf_small, random.Random(seed)
        )
        assert got and got == exp, label
