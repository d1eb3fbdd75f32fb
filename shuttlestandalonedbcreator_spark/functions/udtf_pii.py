"""Python UDTF (Spark 4 user-defined TABLE function): detailed PII span
report — the one-row→many-rows extraction shape that completes the
Python-extension surface (DataSource, pandas UDAF, mapInPandas,
applyInPandasWithState, and now UDTF).

`scrub_pii` / `pii_count` (functions/text.py) stay the HOT path — pure
JVM regex, zero Python. This UDTF is the ESCAPE HATCH for what column
expressions cannot express: per-match byte offsets (regexp_extract_all
returns matches, never positions), which a redaction AUDIT needs to map
findings back into the original document. Lateral-join usage:

    register_pii_udtf(spark)
    spark.sql("SELECT d.doc_id, p.* FROM documents d, "
              "LATERAL pii_findings(d.text) p")

Cost model: one Python invocation per row (Arrow-batched transport);
acceptable because audits run on the small scrubbed-diff slice, not the
corpus. The patterns are the same Java∩RE2 subset as scrub_pii, so every
span this reports is exactly a span the scrubber rewrites.
"""

from __future__ import annotations

import re
from typing import Iterator

from pyspark.sql import SparkSession
from pyspark.sql.functions import udtf

from shuttlestandalonedbcreator_spark.functions.text import (
    PII_EMAIL_RE,
    PII_IPV4_RE,
    PII_PHONE_RE,
)

_PATTERNS: tuple[tuple[str, str], ...] = (
    ("email", PII_EMAIL_RE),
    ("phone", PII_PHONE_RE),
    ("ipv4", PII_IPV4_RE),
)


@udtf(returnType="kind string, span string, start int, end int")
class PiiFindings:
    """Yield one row per PII span: kind, matched text, [start, end)."""

    def eval(self, text: str) -> Iterator[tuple]:  # noqa: A002
        if text is None:
            return
        for kind, pat in _PATTERNS:
            for m in re.finditer(pat, text):
                yield kind, m.group(0), m.start(), m.end()


def register_pii_udtf(spark: SparkSession) -> None:
    """Register as ``pii_findings`` for SQL lateral joins (idempotent)."""
    spark.udtf.register("pii_findings", PiiFindings)
