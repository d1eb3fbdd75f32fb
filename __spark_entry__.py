"""Driver contract for the spark-graft builder (PySpark target).

``entry`` runs the flagship status_summary-shaped query at sf0.001;
``queries``/``oracle_sql`` expose the full operator catalog
(shuttlestandalonedbcreator_spark.queries.CATALOG) for the DuckDB
correctness gate at sf0.01.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from shuttlestandalonedbcreator_spark.queries import CATALOG  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return CATALOG["status_summary"].spark(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: qd.spark for name, qd in CATALOG.items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query (omitted → rows-only check)."""
    return {
        name: qd.oracle for name, qd in CATALOG.items() if qd.oracle is not None
    }
