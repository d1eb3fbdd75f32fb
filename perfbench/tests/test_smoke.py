"""Each workload runs end to end on tiny inputs and prints every metric
named in BENCHMARK.json, with its unit."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from perfbench.tests.conftest import REPO

with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
    BENCH = json.load(fh)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["workbook_ingest", "relational_session", "corpus_batch"])
def test_workload_prints_every_metric(workload, trace):
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", str(trace), "--sf", "0.001", "--books", "2",
         "--rows", "200"],
        cwd=REPO, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    context = json.loads(lines[-2])["context"]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1, context
    wanted = BENCH["per_layer"] if trace else BENCH["end_to_end"]
    assert {m["name"]: m["unit"] for m in wanted} == {
        k: v["unit"] for k, v in result["metrics"].items()
    }
    assert all(isinstance(v["value"], float) for v in result["metrics"].values())
    assert context["seed"] == 1 and context["cpus"] >= 1
    assert context["fixture_hashes"] and "steal_pct" in context and "load_1m" in context


def test_fails_without_the_engine(tmp_path):
    import shutil

    shutil.copytree(os.path.join(REPO, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", BENCH["workloads"][0]["name"],
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert out.returncode != 0
    assert out.stdout.strip() == ""
