"""Golden fixtures for the reference-specific scalar semantics
(FIXTURES.md §3 edge-case pack; reference cites in each function's
docstring)."""

from __future__ import annotations

from pyspark.sql import functions as F

from shuttlestandalonedbcreator_spark.functions.casts import text_cell, try_long
from shuttlestandalonedbcreator_spark.functions.dates import excel_serial_to_timestamp
from shuttlestandalonedbcreator_spark.functions.paths import (
    job_name_from_filename,
    parent_folder,
    path_level,
    sanitize_view_name,
)


def _eval(spark, col, values, in_type="string"):
    df = spark.createDataFrame([(v,) for v in values], schema=f"v {in_type}")
    return [r[0] for r in df.select(col(F.col("v"))).collect()]


def test_path_level(spark):
    # FIXTURES.md §3 expected-value table (reference :954-965)
    cases = {
        "/A/B/f1.pdf": 3,
        "/A/B": 2,
        "/A": 1,
        "top.txt": 1,
        "/x": 1,
        "": 0,
        None: 0,
        "  ": 0,
        "a/b/c.txt": 3,
    }
    got = _eval(spark, path_level, list(cases))
    assert got == list(cases.values())


def test_parent_folder(spark):
    # keeps leading slash; NULL when level<=1 or lastIndexOf('/')<=0 (:967-982)
    cases = {
        "/A/B/f1.pdf": "/A/B",
        "/A/B": "/A",
        "/A": None,
        "top.txt": None,
        "/x": None,
        "": None,
        None: None,
        "a/b/c.txt": "a/b",
    }
    got = _eval(spark, parent_folder, list(cases))
    assert got == list(cases.values())


def test_job_name(spark):
    # case-sensitive extension strip, trim, empty→Unknown (:935-943)
    cases = {
        "JobA.xlsx": "JobA",
        "JobB.xls": "JobB",
        "JobC.XLSX": "JobC.XLSX",  # case-sensitive regex: no strip
        # reference strips extension BEFORE trimming (:941-942), so the
        # trailing space defeats the $-anchored regex — only trim applies
        " padded.xlsx ": "padded.xlsx",
        ".xlsx": "Unknown",
        "": "Unknown",
        None: "Unknown",
        "no_ext": "no_ext",
    }
    got = _eval(spark, job_name_from_filename, list(cases))
    assert got == list(cases.values())


def test_sanitize_view_name():
    # :921-930
    assert sanitize_view_name("Re-Try (auto)") == "re_try_auto"
    assert sanitize_view_name("success") == "success"
    assert sanitize_view_name("MATCH-exists") == "match_exists"
    # Java strips only ONE '_' per side (:929): '___'→collapse '_'→strip→''
    assert sanitize_view_name("___") == ""
    assert sanitize_view_name("!!!") == ""  # caller skips '' names (:894)
    assert sanitize_view_name("") == "unknown"
    assert sanitize_view_name(None) == "unknown"
    assert sanitize_view_name("a  b!!c") == "a_b_c"


def test_try_long(spark):
    cases = {"42": 42, " 42 ": 42, "": None, "abc": None, "9999999999": 9999999999}
    got = _eval(spark, try_long, list(cases))
    assert got == list(cases.values())


def test_text_cell(spark):
    # '' stays '', NULL becomes '' (the TEXT side of the asymmetry)
    got = _eval(spark, text_cell, ["x", "", None])
    assert got == ["x", "", ""]


def test_excel_serial(spark):
    # FIXTURES §3: "" / 0 / junk / pre-formatted date string → NULL;
    # 45123.5 → 2023-07-16 12:00:00 (POI 1900 system)
    got = _eval(spark, excel_serial_to_timestamp, ["", "0", "abc", "2024-01-15 10:00:00", "45123.5", "1000"])
    assert got[0] is None and got[1] is None and got[2] is None and got[3] is None
    assert str(got[4]) == "2023-07-16 12:00:00"
    assert str(got[5]) == "1902-09-26 00:00:00"


def test_pii_udtf_lateral_findings(spark):
    """UDTF surface (§2.10): pii_findings yields one row per span with
    byte offsets that slice back to exactly the matched text, and its
    per-kind totals agree with the JVM-side pii_count columns."""
    from pyspark.sql import functions as F

    from shuttlestandalonedbcreator_spark.functions.text import (
        PII_EMAIL_RE,
        PII_IPV4_RE,
        PII_PHONE_RE,
        pii_count,
    )
    from shuttlestandalonedbcreator_spark.functions.udtf_pii import register_pii_udtf

    docs = spark.createDataFrame(
        [
            (1, "mail a@b.co then ping 10.0.0.1 or a@b.co again"),
            (2, "call +1 555-123-4567; no other pii"),
            (3, "clean text"),
            (4, None),
        ],
        "doc_id long, text string",
    )
    docs.createOrReplaceTempView("pii_docs")
    register_pii_udtf(spark)
    found = spark.sql(
        "SELECT d.doc_id, p.* FROM pii_docs d, LATERAL pii_findings(d.text) p"
    ).collect()
    rows = {(r["doc_id"], r["kind"], r["start"]) for r in found}
    assert (1, "email", 5) in rows and (2, "phone", 5) in rows
    # offsets slice back to the reported span
    texts = {r["doc_id"]: r["text"] for r in docs.collect() if r["text"]}
    for r in found:
        assert texts[r["doc_id"]][r["start"]:r["end"]] == r["span"]
    # totals agree with the JVM-regex counting path
    want = docs.na.drop(subset=["text"]).select(
        F.sum(pii_count(F.col("text"), PII_EMAIL_RE))
        + F.sum(pii_count(F.col("text"), PII_PHONE_RE))
        + F.sum(pii_count(F.col("text"), PII_IPV4_RE))
    ).first()[0]
    assert len(found) == want == 4


def test_stopword_ratio_tokenizes_once(spark, sf_small):
    """stopword_ratio reads its token array three times (hits, the size
    guard, the divisor); let-bound, the optimized plan carries ONE regex
    split instead of one per reference."""
    from shuttlestandalonedbcreator_spark.functions.text import stopword_ratio

    docs = spark.read.parquet(f"{sf_small}/documents.parquet")
    plan = (
        docs.select(stopword_ratio(F.col("text")).alias("r"))
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert plan.count("split(") == 1, plan


def test_let_and_word_bigrams_match_inline_forms(spark):
    """``let``, ``word_bigrams`` and the let-bound ``stopword_ratio`` give
    the rows of the hand-inlined forms they replaced, on 0-, 1-, 2- and
    many-token texts; ``word_bigrams`` of 0 tokens is empty (the inline
    slice raised on its negative length there)."""
    from shuttlestandalonedbcreator_spark.functions import text as T
    from shuttlestandalonedbcreator_spark.operators.dedup import tokens

    df = spark.createDataFrame(
        [(0, ""), (1, "The"), (2, "the cat"), (5, "A the b of c."), (9, None)],
        "n int, text string",
    )
    toks = tokens(F.col("text"))

    def pairs(t):
        return F.zip_with(
            F.slice(t, 1, F.size(t) - 1),
            F.slice(t, 2, F.size(t) - 1),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        )

    def ratio(t):
        hits = F.size(F.filter(t, lambda x: x.isin(*T.LANG_MARKERS["en"])))
        return F.when(
            F.size(t) > 0, hits.cast("double") / F.size(t).cast("double")
        ).otherwise(F.lit(0.0))

    def size_sum(t):
        return F.size(t) + F.aggregate(t, F.lit(0), lambda a, x: a + F.length(x))

    got = df.select(
        "n",
        T.let(toks, size_sum).alias("let"),
        T.let(toks, T.word_bigrams).alias("bigrams"),
        T.stopword_ratio(F.col("text")).alias("ratio"),
    )
    inline = df.select(
        "n",
        F.get(F.transform(F.array(toks), size_sum), 0).alias("let"),
        F.when(F.col("n") > 0, F.get(F.transform(F.array(toks), pairs), 0)).alias(
            "bigrams"
        ),
        ratio(T.word_tokens(F.col("text"))).alias("ratio"),
    )
    got_rows = {r["n"]: r for r in got.collect()}
    for r in inline.collect():
        g = got_rows[r["n"]]
        assert g["let"] == r["let"], r["n"]
        assert g["ratio"] == r["ratio"], r["n"]
        if r["n"] == 0:
            assert g["bigrams"] == []
        else:
            assert g["bigrams"] == r["bigrams"], r["n"]
    assert [tuple(p) for p in got_rows[5]["bigrams"]] == [
        ("a", "the"), ("the", "b"), ("b", "of"), ("of", "c")
    ]
