"""Regenerate the golden-fixture oracle pins for the deterministic
entries whose semantics no SQL engine can recompute (zlib DEFLATE, the
iterative BPE merge loop, MLlib k-means cells).

Each pinned entry is a PURE function of the input tables (seeded,
exact-typed, determinism re-verified here by running the query twice in
the same session and once more per regeneration), so its result can be
captured ONCE per scale factor and served to the driver's DuckDB oracle
via ``read_parquet`` — upgrading the entry from a rows-only check to a
full value-hash regression pin. The oracle SQL guards each fixture with
a content fingerprint of the input table (computed by DuckDB at check
time), so the right fixture is selected per SF and a regenerated or
foreign dataset yields an EMPTY oracle result — a loud row-count
mismatch, never a silent false green.

Usage:
    python tools/pin_fixture_oracles.py          # regenerate + verify
    python tools/pin_fixture_oracles.py --check  # verify only

Fixtures land in ``shuttlestandalonedbcreator_spark/oracle_pins/`` and
are committed; queries.py builds the matching SQL via
``_pinned_oracle``. Regeneration also rewrites
``oracle_pins/fingerprints.json`` (the per-SF input-table fingerprints
the oracles switch on) in the same run, so fixtures and fingerprints
can never drift apart. Regenerate ONLY when the entry's algorithm
changes deliberately or the driver regenerates /root/testdata.

Residual risk, documented: the embedding_ivf_topk pin assumes seeded
MLlib k-means reproduces across environments. Verified here across
local[2]/local[8]/local[32] and repeated fresh sessions (identical
results at all 3 SFs), but a Spark minor-version bump or a different
file-split layout could ULP-shift centroids and flip a borderline cell
assignment — if that fires, the failure is a loud fixture mismatch on
an unchanged codebase; rerun this tool to re-pin after confirming the
change is environmental, not a regression (the oracle-green
`embedding_ivf_contract` twin distinguishes the two: it stays green
under centroid drift, red under real regressions).
"""

from __future__ import annotations

import os
import sys

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from shuttlestandalonedbcreator_spark import queries as Q  # noqa: E402
from shuttlestandalonedbcreator_spark.session import get_spark  # noqa: E402
from shuttlestandalonedbcreator_spark.sources.registry import TABLES  # noqa: E402

PIN_DIR = os.path.join(
    REPO, "shuttlestandalonedbcreator_spark", "oracle_pins"
)
PINNED = (
    "bpe_train_merges",
    "compression_ratio_gate",
    "embedding_ivf_topk",
    "approx_aggregates",
)
SFS = (
    ("sf0_001", "/root/testdata/sf0.001"),
    ("sf0_01", "/root/testdata/sf0.01"),
    ("sf0_1", "/root/testdata/sf0.1"),
)


def _connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def regenerate() -> None:
    import json

    spark = get_spark()
    os.makedirs(PIN_DIR, exist_ok=True)
    # fingerprints FIRST, and in the same run as the fixtures they
    # guard: one regeneration rewrites both together, so a testdata
    # refresh can never leave queries.py selecting zero fixtures with
    # stale hardcoded values
    fps: dict[str, dict[str, int]] = {}
    for table, fp_sql in Q._PIN_FINGERPRINT_SQL.items():
        fps[table] = {}
        for tag, sf_dir in SFS:
            con = _connect(sf_dir)
            fps[table][tag] = int(con.execute(fp_sql).fetchone()[0])
    values = [v for per_table in fps.values() for v in per_table.values()]
    if any(len(set(per_table.values())) != len(SFS) for per_table in fps.values()):
        raise SystemExit(
            f"fingerprints do not discriminate the SFs: {fps} — pick a "
            "different fingerprint expression"
        )
    fp_path = os.path.join(PIN_DIR, "fingerprints.json")
    with open(fp_path, "w") as f:
        json.dump(fps, f, indent=1, sort_keys=True)
    print(f"fingerprints -> {fp_path}: {values}")

    for name in PINNED:
        fn = Q.CATALOG[name].spark
        for tag, sf_dir in SFS:
            a = fn(spark, sf_dir).toPandas()
            b = fn(spark, sf_dir).toPandas()  # same-session determinism
            cols = sorted(a.columns)
            a2 = a[cols].sort_values(by=cols, ignore_index=True)
            b2 = b[cols].sort_values(by=cols, ignore_index=True)
            if not a2.equals(b2):
                raise SystemExit(
                    f"{name}@{tag}: NOT deterministic — refusing to pin"
                )
            path = os.path.join(PIN_DIR, f"{name}.{tag}.parquet")
            pq.write_table(pa.Table.from_pandas(a, preserve_index=False), path)
            print(f"pinned {name}.{tag}: {len(a)} rows -> {path}")


def check() -> int:
    import importlib

    sys.path.insert(0, os.path.join(REPO, "tools"))
    from check_parity import compare  # noqa: E402

    # CATALOG bakes the pinned-oracle SQL at import; a regeneration in
    # this same process (new fingerprints.json) must be re-read
    importlib.reload(Q)

    spark = get_spark()
    failures = 0
    for tag, sf_dir in SFS:
        con = _connect(sf_dir)
        for name in PINNED:
            qd = Q.CATALOG[name]
            if qd.oracle is None:
                print(f"SKIP {name}@{tag}: no oracle wired yet")
                continue
            sdf = qd.spark(spark, sf_dir).toPandas()
            ddf = con.execute(qd.oracle).df()
            problems = compare(name, sdf, ddf)
            if problems:
                failures += 1
                print(f"FAIL {name}@{tag}: {problems[:3]}")
            else:
                print(f"ok   {name}@{tag}: {len(sdf)} rows match fixture")
    print("ALL OK" if not failures else f"{failures} FAILURES")
    return failures


if __name__ == "__main__":
    if "--check" not in sys.argv:
        regenerate()
    sys.exit(1 if check() else 0)
