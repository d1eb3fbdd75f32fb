"""PySpark-native analytics engine with the query and data-processing
capabilities of the reference `jacquesvandermerwe/ShuttleStandaloneDBCreator`
(an Excel→SQLite ETL + SQL-view query surface), re-expressed Spark-first,
plus large-scale training-data pipeline operators (dedup, similarity search,
text analysis, multimodal plumbing, streaming).

Layout
------
- ``session``    — SparkSession factory tuned for the scale profile.
- ``functions``  — column-expression builders (paths, excel dates, casts,
                   text metrics, vector math). All JVM-side built-ins; no
                   row-at-a-time Python UDFs in hot paths.
- ``sources``    — table registry over the driver's parquet, Excel-workbook
                   reader (gated), file-discovery / archive protocol.
- ``operators``  — dedup (exact/last-wins/MinHash-LSH/SimHash/Jaccard),
                   hierarchy closure, summaries, joins, similarity search.
- ``plans``      — end-to-end pipelines (transfer-report ingest) and the
                   view surface (static + dynamic status views).
- ``streaming``  — Structured Streaming: file-drop protocol, windowed aggs.

Python workers cannot import this package (the driver may load it by file
path from any cwd), so the package registers itself with cloudpickle at
import: functions, classes and modules of every submodule travel by value
inside pickled closures, UDTFs and DataSources. Worker-executed bodies
must still not ``import`` a package module; bind it at module level.
"""

import sys

from pyspark.cloudpickle import register_pickle_by_value

from shuttlestandalonedbcreator_spark.session import get_spark  # noqa: F401

__version__ = "0.1.0"

register_pickle_by_value(sys.modules[__name__])
