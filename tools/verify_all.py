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
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# steps 5-9b (module docstring), each a fixed seed block at sf0.001:
# (printed label, failure label, script, seed count, first seed, extra argv)
FUZZ_STEPS = (
    ("fuzz sweep", "differential fuzz", "fuzz_sweep.py", 50, 80000, ()),
    ("scalewin fuzz", "scalewin fuzz", "scalewin_fuzz.py", 10, 81000, ()),
    ("av fuzz", "av fuzz", "av_fuzz.py", 4, 82000, ()),
    ("text fuzz", "text fuzz", "text_fuzz.py", 4, 83000, ()),
    ("stream fuzz", "stream fuzz", "stream_fuzz.py", 4, 84000, ()),
    ("late-drop fuzz", "late-drop fuzz", "stream_fuzz.py", 4, 85000, ("--late",)),
)


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

    # 5-9b: one subprocess per fuzz block
    for label, fail_label, script, n, base, extra in FUZZ_STEPS:
        t0 = time.perf_counter()
        r = subprocess.run(
            [
                sys.executable,
                os.path.join(REPO, "tools", script),
                "/root/testdata/sf0.001",
                str(n),
                str(base),
                *extra,
            ],
            capture_output=True, text=True, timeout=1800,
        )
        last = (r.stdout.strip().splitlines() or ["<no output>"])[-1]
        wall = time.perf_counter() - t0
        print(f"{label} (seeds {base}-{base + n - 1}): {last} [{wall:.1f}s]")
        if r.returncode != 0:
            failures.append(f"{fail_label} divergence: {last}")

    print("SHIPPABLE" if not failures else f"FAILURES: {failures}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
