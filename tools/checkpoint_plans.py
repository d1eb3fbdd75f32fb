"""Capture NON-truncated plan evidence for checkpointed iterative entries
(VERDICT r10 #8: their committed after-plans showed only `Scan
ExistingRDD` because localCheckpoint truncates lineage, so the snapshots
proved nothing about the claims that live INSIDE the checkpointed jobs).

Monkeypatches DataFrame.localCheckpoint to write each pre-checkpoint
frame's .explain("formatted") into plans/<outdir>/<entry>_ckpt<i>.txt
before delegating to the real checkpoint, then builds each named entry
and writes its final plan to plans/<outdir>/<entry>_final.txt. Zero
entry-code changes — the capture wraps the same functions the driver
runs.

Usage: python tools/checkpoint_plans.py <outdir> <entry> [entry ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Spark 4: pyspark.sql.DataFrame is the abstract facade; instances are
# pyspark.sql.classic.dataframe.DataFrame, so the patch must land there
try:
    from pyspark.sql.classic.dataframe import DataFrame  # noqa: E402
except ImportError:  # Spark 3.x layout
    from pyspark.sql import DataFrame  # noqa: E402

from shuttlestandalonedbcreator_spark.queries import CATALOG  # noqa: E402
from shuttlestandalonedbcreator_spark.session import get_spark  # noqa: E402


def main() -> None:
    outdir, names = sys.argv[1], sys.argv[2:]
    os.makedirs(outdir, exist_ok=True)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="checkpoint_plans")
    spark.sparkContext.setLogLevel("ERROR")

    real_ckpt = DataFrame.localCheckpoint
    state = {"entry": None, "i": 0}

    def capturing_ckpt(self, eager=True, storageLevel=None):
        state["i"] += 1
        path = os.path.join(outdir, f"{state['entry']}_ckpt{state['i']}.txt")
        plan = self._jdf.queryExecution().explainString(
            self.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode
            .fromString("formatted")
        )
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"  wrote {path}")
        if storageLevel is None:
            return real_ckpt(self, eager=eager)
        return real_ckpt(self, eager=eager, storageLevel=storageLevel)

    DataFrame.localCheckpoint = capturing_ckpt
    try:
        for name in names:
            state["entry"], state["i"] = name, 0
            df = CATALOG[name].spark(spark, sf_dir)
            final = os.path.join(outdir, f"{name}_final.txt")
            with open(final, "w") as fh:
                fh.write(
                    df._jdf.queryExecution().explainString(
                        spark._jvm.org.apache.spark.sql.execution.ExplainMode
                        .fromString("formatted")
                    )
                )
            print(f"  wrote {final}")
    finally:
        DataFrame.localCheckpoint = real_ckpt


if __name__ == "__main__":
    main()
