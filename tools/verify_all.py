"""One-shot release gate: every check the driver and the verify recipe
run, in one command.

    python tools/verify_all.py [sf_dir]

1. entry() on a VANILLA session (no engine session profile) — catches
   any config the code path fails to set at runtime.
2. queries()/oracle_sql() contract shape (oracle keys ⊆ query keys).
3. Full catalog parity sweep vs DuckDB at sf_dir (default sf0.01).
4. bench.py emits exactly one contract JSON line with the full key set
   (run at sf0.001 here for speed — the driver runs sf0.1).
5. Differential fuzz sweep: 50 generated Spark-vs-DuckDB query pairs at
   sf0.001 over a FIXED seed block (80000-80049 — disjoint from the 50
   pinned suite seeds), failing on any divergence. Every ship exercises
   the fuzzer, not just ad-hoc hunts.
6. Blocked-window fuzz (tools/scalewin_fuzz.py): 10 fixed seeds of
   random frames through the scalewin helpers vs Spark's own
   single-partition window — the operator surface the SQL fuzzer
   cannot reach.
7. Multimodal codec fuzz (tools/av_fuzz.py): 4 fixed seeds of random
   audio-fingerprint / video-keyframe parameterizations through the
   REAL WAV/SSVF codec round-trip vs a DuckDB recompute — the other
   Python-side pipeline family outside the SQL fuzzer's grammar.
8. Text near-dup fuzz (tools/text_fuzz.py): 4 fixed seeds of random
   jaccard/containment/prefix-filter parameterizations through the
   real dedup operators vs DuckDB all-pairs oracles.
9. Streaming-vs-batch fuzz (tools/stream_fuzz.py): a fixed 4-seed
   block of random windowed/stateful parameterizations under random
   micro-batch arrival orders (full-span watermark: final stream state
   must equal the batch plan), plus a fixed 4-seed deterministic
   late-drop block (narrow watermark, constructed arrival so the drop
   set is unique: emitted rows must equal the batch plan over on-time
   rows and numRowsDroppedByWatermark must match the construction;
   seed % 4 covers tumbling/sliding/dedup/session).

Exit code 0 = shippable.
"""

from __future__ import annotations

import importlib.util
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    failures = []

    # 1+2: vanilla-session driver contract
    from pyspark.sql import SparkSession

    spark = SparkSession.builder.master("local[8]").getOrCreate()
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", os.path.join(REPO, "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    rows = mod.entry(spark).collect()
    if not rows:
        failures.append("entry() returned 0 rows")
    qs, osql = mod.queries(), mod.oracle_sql()
    if not set(osql) <= set(qs):
        failures.append("oracle_sql keys not a subset of queries")
    print(f"entry: {len(rows)} rows; catalog {len(qs)} / {len(osql)} oracle-backed")

    # 3: full parity sweep (separate process: check_parity owns its session)
    spark.stop()
    r = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "check_parity.py"), sf_dir],
        capture_output=True, text=True, timeout=3600,
    )
    last = (r.stdout.strip().splitlines() or ["<no output>"])[-1]
    print(f"parity @ {sf_dir}: {last}")
    if r.returncode != 0:
        failures.append(f"parity sweep failed: {last}")

    # 4: bench emits exactly one contract JSON line
    env = dict(os.environ, SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001")
    r = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        capture_output=True, text=True, timeout=3600, env=env,
    )
    try:
        lines = [
            ln for ln in r.stdout.strip().splitlines()
            if ln.startswith('{"metric"')
        ]
        assert len(lines) == 1, f"expected 1 contract line, got {len(lines)}"
        payload = json.loads(lines[0])
        assert {
            "metric", "value", "unit", "queries", "sf", "n_queries"
        } <= set(payload)
        print(f"bench: {payload['value']}s over {payload['n_queries']} queries")
    except Exception as e:  # noqa: BLE001
        failures.append(f"bench output invalid: {e}")

    # 5: fixed-seed differential fuzz sweep (sf0.001 keeps it <2 min)
    r = subprocess.run(
        [
            sys.executable,
            os.path.join(REPO, "tools", "fuzz_sweep.py"),
            "/root/testdata/sf0.001",
            "50",
            "80000",
        ],
        capture_output=True, text=True, timeout=1800,
    )
    last = (r.stdout.strip().splitlines() or ["<no output>"])[-1]
    print(f"fuzz sweep (seeds 80000-80049): {last}")
    if r.returncode != 0:
        failures.append(f"differential fuzz divergence: {last}")

    # 6: blocked-window fuzz (operators/scalewin.py vs Spark's own
    # single-partition window — the SQL fuzzer cannot reach this
    # Python-side operator). Fixed 10-seed block, ~20 s.
    r = subprocess.run(
        [
            sys.executable,
            os.path.join(REPO, "tools", "scalewin_fuzz.py"),
            "/root/testdata/sf0.001",
            "10",
            "81000",
        ],
        capture_output=True, text=True, timeout=1800,
    )
    last = (r.stdout.strip().splitlines() or ["<no output>"])[-1]
    print(f"scalewin fuzz (seeds 81000-81009): {last}")
    if r.returncode != 0:
        failures.append(f"scalewin fuzz divergence: {last}")

    # 7: multimodal codec fuzz (audio/video pipelines vs DuckDB
    # recompute — Python-side codec paths, unreachable from SQL fuzz).
    # Fixed 4-seed block, ~40 s.
    r = subprocess.run(
        [
            sys.executable,
            os.path.join(REPO, "tools", "av_fuzz.py"),
            "/root/testdata/sf0.001",
            "4",
            "82000",
        ],
        capture_output=True, text=True, timeout=1800,
    )
    last = (r.stdout.strip().splitlines() or ["<no output>"])[-1]
    print(f"av fuzz (seeds 82000-82003): {last}")
    if r.returncode != 0:
        failures.append(f"av fuzz divergence: {last}")

    # 8: text near-dup fuzz (jaccard/containment/prefix-filter operators
    # at random ngram width / threshold / corpus perturbation vs DuckDB
    # all-pairs oracles). Fixed 4-seed block, ~30 s.
    r = subprocess.run(
        [
            sys.executable,
            os.path.join(REPO, "tools", "text_fuzz.py"),
            "/root/testdata/sf0.001",
            "4",
            "83000",
        ],
        capture_output=True, text=True, timeout=1800,
    )
    last = (r.stdout.strip().splitlines() or ["<no output>"])[-1]
    print(f"text fuzz (seeds 83000-83003): {last}")
    if r.returncode != 0:
        failures.append(f"text fuzz divergence: {last}")

    # 9: streaming-vs-batch fuzz (windowed/stateful operators under
    # random micro-batch arrival orders). Fixed 4-seed block — the
    # fuzzer picks the case family by seed % 4, so 4 consecutive seeds
    # round-robin all four families (tumbling/sliding/session/dedup).
    # ~30 s.
    r = subprocess.run(
        [
            sys.executable,
            os.path.join(REPO, "tools", "stream_fuzz.py"),
            "/root/testdata/sf0.001",
            "4",
            "84000",
        ],
        capture_output=True, text=True, timeout=1800,
    )
    last = (r.stdout.strip().splitlines() or ["<no output>"])[-1]
    print(f"stream fuzz (seeds 84000-84003): {last}")
    if r.returncode != 0:
        failures.append(f"stream fuzz divergence: {last}")

    # 9b: deterministic late-drop block (narrow watermark, the axis the
    # full-span sweep above deliberately excludes). Fixed 4-seed block —
    # seed % 4 round-robins tumbling/sliding/dedup/session. ~60 s.
    r = subprocess.run(
        [
            sys.executable,
            os.path.join(REPO, "tools", "stream_fuzz.py"),
            "/root/testdata/sf0.001",
            "4",
            "85000",
            "--late",
        ],
        capture_output=True, text=True, timeout=1800,
    )
    last = (r.stdout.strip().splitlines() or ["<no output>"])[-1]
    print(f"late-drop fuzz (seeds 85000-85003): {last}")
    if r.returncode != 0:
        failures.append(f"late-drop fuzz divergence: {last}")

    print("SHIPPABLE" if not failures else f"FAILURES: {failures}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
