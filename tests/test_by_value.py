"""The package ships itself to Python workers by value.

Python workers cannot import this package when the driver loaded it from
a checkout that is not on their path, so ``__init__.py`` registers the
whole package with cloudpickle. These tests pin that one rule: every
module is covered, no module repeats it, and every worker-code path runs
from a neutral cwd where the workers cannot find the package."""

from __future__ import annotations

import importlib
import json
import os
import pkgutil
import subprocess
import sys
import textwrap

from pyspark.cloudpickle.cloudpickle import _is_registered_pickle_by_value

import shuttlestandalonedbcreator_spark as PKG

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_every_package_module_pickles_by_value():
    names = [
        info.name
        for info in pkgutil.walk_packages(PKG.__path__, prefix=PKG.__name__ + ".")
    ]
    assert len(names) > 40
    missing = [
        name
        for name in names
        if not _is_registered_pickle_by_value(importlib.import_module(name))
    ]
    assert missing == []


def test_by_value_registration_lives_only_in_package_init():
    roots = [os.path.join(REPO, PKG.__name__), os.path.join(REPO, "tools")]
    files = [os.path.join(REPO, "bench.py"), os.path.join(REPO, "__spark_entry__.py")]
    for root in roots:
        for dirpath, _dirs, names in os.walk(root):
            files += [os.path.join(dirpath, n) for n in names if n.endswith(".py")]
    init = os.path.join(REPO, PKG.__name__, "__init__.py")
    offenders = [
        os.path.relpath(f, REPO)
        for f in files
        if f != init and "register_pickle_by_value(" in open(f, encoding="utf-8").read()
    ]
    assert offenders == []
    assert "register_pickle_by_value(" in open(init, encoding="utf-8").read()


# Runs in a fresh interpreter whose cwd is a scratch directory: the repo is
# on the driver's sys.path only, never on PYTHONPATH, so Python workers
# cannot import the package and every path must ship its code by value.
_WORKER_PATHS = """
import importlib.util
import json
import os
import sqlite3
import sys

sys.path.insert(0, {repo!r})
SF, TMP = {sf!r}, os.getcwd()

import pandas as pd

from shuttlestandalonedbcreator_spark.functions.udtf_pii import register_pii_udtf
from shuttlestandalonedbcreator_spark.operators import bpe as bpe_module
from shuttlestandalonedbcreator_spark.operators.bpe import encode_bpe, train_bpe_merges
from shuttlestandalonedbcreator_spark.queries import CATALOG
from shuttlestandalonedbcreator_spark.session import get_spark
from shuttlestandalonedbcreator_spark.sources.excel import read_workbook_rows, write_workbook
from shuttlestandalonedbcreator_spark.sources.registry import load_table
from shuttlestandalonedbcreator_spark.sources.sqlite_datasource import register_sqlite_source
from shuttlestandalonedbcreator_spark.sources.xlsx_datasource import register_xlsx_source
from shuttlestandalonedbcreator_spark.streaming.stateful import running_user_totals

spark = get_spark(app_name="by_value")
spark.sparkContext.setLogLevel("ERROR")


def probe(batches):
    found = importlib.util.find_spec("shuttlestandalonedbcreator_spark") is not None
    for _ in batches:
        pass
    yield pd.DataFrame({{"found": [found]}})


def entry(name):
    return lambda: len(CATALOG[name].spark(spark, SF).collect())


def workbooks():
    os.makedirs(os.path.join(TMP, "wb"))
    write_workbook(
        {{"Transfer Report 1": [["file", "size"], ["a.txt", "1"], ["b.txt", "2"]]}},
        os.path.join(TMP, "wb", "r1.xlsx"),
    )
    return os.path.join(TMP, "wb")


def xlsx_source():
    register_xlsx_source(spark)
    return len(spark.read.format("xlsx").load(os.path.join(TMP, "wb")).collect())


def sqlite_source():
    db = os.path.join(TMP, "t.sqlite")
    with sqlite3.connect(db) as conn:
        conn.execute("CREATE TABLE t (a INTEGER, b TEXT)")
        conn.executemany("INSERT INTO t VALUES (?, ?)", [(1, "x"), (2, "y")])
    register_sqlite_source(spark)
    return len(spark.read.format("sqlite").option("table", "t").load(db).collect())


def pii_udtf():
    spark.createDataFrame(
        [(1, "mail a@b.co or 10.0.0.1")], "doc_id long, text string"
    ).createOrReplaceTempView("pii_docs")
    register_pii_udtf(spark)
    return len(spark.sql(
        "SELECT p.* FROM pii_docs d, LATERAL pii_findings(d.text) p"
    ).collect())


def bpe():
    docs = spark.createDataFrame(
        [(i, "low lower lowest newer wider") for i in range(8)],
        "doc_id long, text string",
    )
    bpe_module.DRIVER_WORDS = 0  # the distributed rounds run on workers
    merges = train_bpe_merges(docs, "text", n_merges=4, min_freq=2)
    return len(encode_bpe(docs, merges).collect())


def file_stream():
    src = os.path.join(TMP, "events")
    ev = load_table(spark, SF, "events")
    ev.repartition(2).write.parquet(src)
    stream = spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", "1").parquet(src)
    q = (
        running_user_totals(stream)
        .writeStream.format("memory")
        .queryName("by_value_totals")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    if q.exception() is not None:
        raise RuntimeError(str(q.exception()))
    return spark.table("by_value_totals").count()


out = {{"probe": spark.range(1).mapInPandas(probe, "found boolean").collect()[0][0]}}
wb = workbooks()
paths = [(name, entry(name)) for name in {entries!r}] + [
    ("read_workbook_rows", lambda: len(read_workbook_rows(spark, wb).collect())),
    ("xlsx_source", xlsx_source),
    ("sqlite_source", sqlite_source),
    ("pii_udtf", pii_udtf),
    ("bpe", bpe),
    ("running_user_totals_stream", file_stream),
]
for label, run in paths:
    try:
        out[label] = run()
    except Exception as e:
        out[label] = f"error: {{type(e).__name__}}: " + " ".join(str(e).split())[:300]
print("RESULT " + json.dumps(out), flush=True)
"""

# one catalog entry per module whose code runs on Python workers
ENTRIES = (
    "image_dhash_neardup",
    "audio_fingerprint",
    "video_keyframes",
    "multimodal_frame_sample",
    "embedding_cosine_neardup",
    "embedding_topk_blas",
    "frequent_tokens",
    "compression_ratio_gate",
    "pandas_udaf_weighted",
    "groupwise_minmax_norm",
)


def test_worker_paths_run_from_neutral_cwd(tmp_path, sf_small):
    script = tmp_path / "worker_paths.py"
    script.write_text(
        textwrap.dedent(_WORKER_PATHS).format(repo=REPO, sf=sf_small, entries=ENTRIES)
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_DRIVER_MEMORY="1g")
    proc = subprocess.run(
        [sys.executable, str(script)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=900,
    )
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT ")]
    assert lines, proc.stderr[-3000:]
    out = json.loads(lines[-1][len("RESULT "):])
    # positive control: the workers really cannot import the package
    assert out.pop("probe") is False
    failed = {k: v for k, v in out.items() if not isinstance(v, int) or v <= 0}
    assert failed == {}
    assert len(out) == len(ENTRIES) + 6
