"""Catalog entries as benchmark ops: workload membership and output checks.

Membership is decided by what an entry reads: every entry is built once on
a tiny fixture set while its table loads are observed, and
the tables it loads place it in ``corpus_batch`` (it reads ``documents`` or
``embeddings``) or in ``relational_session`` (it reads only the TPC-H and
``events`` tables). Building every entry takes a minute or more, so the
result is cached per engine source hash, computed in its own process
(``python3 -m perfbench.catalog <cache_file>``) so that it never warms the
process being measured.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import subprocess
import sys
import zlib

from perfbench import fixtures

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

RELATIONAL = "relational_session"
CORPUS = "corpus_batch"


def engine_source_hash() -> str:
    import shuttlestandalonedbcreator_spark as pkg

    h = hashlib.md5()
    root = os.path.dirname(pkg.__file__)
    for path in sorted(glob.glob(os.path.join(root, "**", "*.py"), recursive=True)):
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:12]


def tables_read(spark, sf_dir: str, threads: int = 4) -> dict[str, list[str]]:
    """{entry: sorted fixture tables its builder loads}, observed by building
    every catalog entry, ``threads`` at a time, with the catalog's table
    accessor and ``load_table`` wrapped."""
    import threading
    from concurrent.futures import ThreadPoolExecutor

    from shuttlestandalonedbcreator_spark import queries
    from shuttlestandalonedbcreator_spark.sources import registry

    local = threading.local()

    def observing(fn):
        def wrapped(spark_, sf_dir_, name):
            local.seen.add(name)
            return fn(spark_, sf_dir_, name)

        return wrapped

    def build(name: str) -> list[str]:
        local.seen = set()
        queries.CATALOG[name].spark(spark, sf_dir)
        return sorted(local.seen)

    originals = (queries._t, registry.load_table)
    queries._t, registry.load_table = (observing(fn) for fn in originals)
    try:
        with ThreadPoolExecutor(threads) as pool:
            tables = list(pool.map(build, queries.CATALOG))
    finally:
        queries._t, registry.load_table = originals
        queries._TABLE_CACHE.clear()
        spark.catalog.clearCache()
    return dict(zip(queries.CATALOG, tables))


def workload_of(tables: list[str]) -> str:
    return CORPUS if set(tables) & set(fixtures.CORPUS_TABLES) else RELATIONAL


def load_membership(cache_dir: str) -> dict[str, list[str]]:
    """{entry: tables read}, computed in a child process on a cache miss."""
    path = os.path.join(cache_dir, f"membership-{engine_source_hash()}.json")
    if not os.path.exists(path):
        os.makedirs(cache_dir, exist_ok=True)
        subprocess.run(
            [sys.executable, "-m", "perfbench.catalog", path],
            cwd=REPO, check=True, stdout=sys.stderr,
        )
    with open(path) as fh:
        return json.load(fh)


def sample(names: list[str], every: int) -> list[str]:
    """The entries a run measures: a stable hash sample, so an entry's
    membership never depends on which other entries exist."""
    return sorted(n for n in names if zlib.crc32(n.encode()) % every == 0)


# ---------------------------------------------------------------------------
# output checks
# ---------------------------------------------------------------------------


def oracle_sql(name: str) -> str | None:
    """The entry's DuckDB oracle, or None for a rows-only check. Oracles
    that serve a committed golden result match only the reference fixtures
    the result was pinned on, so they count as absent here."""
    from shuttlestandalonedbcreator_spark import queries

    sql = queries.CATALOG[name].oracle
    if sql is None or queries._PIN_DIR in sql or "PIN_FINGERPRINTS_MISSING" in sql:
        return None
    return sql


class Checker:
    """Compares a catalog entry's Spark result with its DuckDB oracle over
    the same fixture files, as ``tools/check_parity.py`` does. Oracle
    results are computed once per entry and reused across passes."""

    def __init__(self, sf_dir: str):
        import duckdb

        self.con = duckdb.connect()
        for t in fixtures.TABLES:
            path = os.path.join(sf_dir, f"{t}.parquet").replace("'", "''")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        self._oracle: dict[str, object] = {}

    def problems(self, name: str, result) -> list[str]:
        """Empty when ``result`` (a pandas frame) is right."""
        from tools.check_parity import compare

        sql = oracle_sql(name)
        if sql is None:
            return [] if len(result) else ["rows-only check: no rows"]
        if name not in self._oracle:
            self._oracle[name] = self.con.execute(sql).df()
        return compare(name, result, self._oracle[name])

    def close(self) -> None:
        self.con.close()


def _classify(out_path: str) -> None:
    import shutil
    import tempfile

    from perfbench import spark_env

    work = tempfile.mkdtemp(prefix="classify-", dir=os.path.dirname(out_path))
    try:
        fixtures.write_tables(0, 0.001, os.path.join(work, "fixtures"))
        spark = spark_env.start("perfbench-classify", os.path.join(work, "spark"))
        try:
            membership = tables_read(spark, os.path.join(work, "fixtures"))
        finally:
            spark_env.stop(spark)
        tmp = out_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(membership, fh, indent=0, sort_keys=True)
        os.replace(tmp, out_path)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    _classify(sys.argv[1])
