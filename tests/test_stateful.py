"""Custom stateful streaming (applyInPandasWithState): streaming results
must converge to the batch computation."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from shuttlestandalonedbcreator_spark.sources.registry import load_table
from shuttlestandalonedbcreator_spark.streaming.stateful import running_user_totals


@pytest.fixture(scope="module")
def event_source(spark, sf_small, tmp_path_factory):
    src = str(tmp_path_factory.mktemp("ev_stateful"))
    ev = load_table(spark, sf_small, "events")
    ev.withColumn("_b", F.col("event_id") % 4).repartition(4, "_b").drop("_b").write.mode(
        "overwrite"
    ).parquet(src)
    return ev, src


def test_stateful_running_totals_converge(spark, event_source):
    ev, src = event_source
    stream = spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", "1").parquet(src)
    q = (
        running_user_totals(stream)
        .writeStream.format("memory")
        .queryName("totals_mem")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    # update mode: several emissions per user; the LAST one is the answer.
    # last_event_id strictly grows, so max(n_events) rows are final states
    got = (
        spark.table("totals_mem")
        .groupBy("user_id")
        .agg(
            F.max(F.struct("n_events", "total_value", "last_event_id")).alias("s")
        )
        .select("user_id", "s.n_events", "s.total_value", "s.last_event_id")
    )
    want = running_user_totals(ev)  # batch path
    canon = lambda df: sorted(
        (r["user_id"], r["n_events"], round(r["total_value"], 4), r["last_event_id"])
        for r in df.collect()
    )
    assert canon(got) == canon(want)
