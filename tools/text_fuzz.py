"""Differential fuzzer for the text near-dup family (the last operator
family verified only by FIXED oracles): random (ngram width, threshold,
corpus perturbation) draws through the REAL package operators vs a
DuckDB all-pairs oracle built from the same tokenization.

Case families (seed-chosen):
- jaccard_case      — operators/dedup.py:ngram_jaccard_pairs at random
                      n in {2..5} and threshold from a rational grid;
                      oracle is the exact all-pairs posting join. Both
                      sides compare the SAME double (inter/union vs the
                      same decimal literal), matching the entry's proven
                      float-boundary discipline.
- containment_case  — operators/dedup.py:containment_pairs (asymmetric
                      |A∩B|/min(|A|,|B|), contained/container ordering
                      with the lower-id tie rule) at random n/threshold.
- prefix_filter_case — operators/dedup.py:prefix_filter_pairs (the
                      AllPairs/PPJoin join behind prefix_filter_jaccard,
                      with its accumulated positional bound) over
                      word_ngram_hashes sets at random n, t = num/den
                      and min_grams floor; the oracle is the UNFILTERED
                      all-pairs join, so every draw re-proves the
                      shipped pruning lossless, not just t=3/5, n=3.

Corpus perturbation (identical on both sides, derived from the seed):
a doc_id modulus subset and an optional truncate-to-first-W-words
rewrite (single-space rejoin retokenizes identically under the pinned
'[^a-z0-9]+' split).

Usage: python tools/text_fuzz.py [sf_dir] [n_seeds] [seed_base]
  defaults: /root/testdata/sf0.001, 20 seeds, base 120000.
Exit 1 on any divergence.
"""

from __future__ import annotations

import os
import random
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# threshold grid: rationals spanning the useful near-dup range; exact
# halves/quarters mix with repeating-binary values so the double-literal
# parity (Python lit -> Spark, decimal literal -> DuckDB) stays covered
THRESHOLDS = [(1, 2), (3, 5), (2, 3), (7, 10), (3, 4), (4, 5), (9, 10)]


def _corpus_sql(rng: random.Random) -> tuple[str, dict]:
    """(DuckDB relation SQL for the perturbed corpus, params). The SAME
    params drive the Spark side in _corpus_df."""
    params = {
        "mod": rng.choice([1, 1, 2, 3]),
        "rem": 0,
        "trunc": rng.choice([0, 0, 8, 16, 32]),  # 0 = no truncation
    }
    if params["mod"] > 1:
        params["rem"] = rng.randrange(params["mod"])
    base = (
        "SELECT doc_id, text FROM documents "
        f"WHERE doc_id % {params['mod']} = {params['rem']}"
    )
    if params["trunc"]:
        w = params["trunc"]
        base = (
            "SELECT doc_id, array_to_string(list_slice("
            "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),"
            f" x -> x <> ''), 1, {w}), ' ') AS text FROM ({base})"
        )
    return base, params


def _corpus_df(spark, sf_dir: str, params: dict):
    from pyspark.sql import functions as F

    from shuttlestandalonedbcreator_spark.queries import _t

    docs = _t(spark, sf_dir, "documents").filter(
        F.col("doc_id") % params["mod"] == params["rem"]
    )
    if params["trunc"]:
        words = F.filter(
            F.split(F.lower(F.col("text")), "[^a-z0-9]+"), lambda x: x != ""
        )
        docs = docs.select(
            "doc_id",
            F.array_join(F.slice(words, 1, params["trunc"]), " ").alias("text"),
        )
    return docs


def _grams_cte(corpus_sql: str, n: int) -> str:
    """DuckDB CTE producing (doc_id, distinct n-gram list) under the
    pinned tokenization, generalized to any n."""
    parts = ", ' ', ".join(f"w[i+{k}]" for k in range(n))
    concat = f"concat({parts})" if n > 1 else "w[i]"
    return f"""
WITH corpus AS ({corpus_sql}), toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS w
  FROM corpus
), grams AS (
  SELECT doc_id,
         list_distinct(CASE WHEN len(w) >= {n}
           THEN list_transform(range(1, len(w) - {n} + 2), i -> {concat})
           ELSE [] END) AS g
  FROM toks
)"""


def jaccard_case(spark, con, sf_dir, rng):
    from shuttlestandalonedbcreator_spark.operators import dedup as D

    n = rng.choice([2, 3, 4, 5])
    num, den = rng.choice(THRESHOLDS)
    thr = num / den
    corpus_sql, params = _corpus_sql(rng)
    got = sorted(
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in D.ngram_jaccard_pairs(
            _corpus_df(spark, sf_dir, params), "doc_id", "text", n=n,
            threshold=thr,
        ).collect()
    )
    sql = _grams_cte(corpus_sql, n) + f"""
, e AS (SELECT doc_id, unnest(g) AS tok FROM grams),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
  FROM e a JOIN e b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), sz AS (SELECT doc_id, len(g) AS s FROM grams)
SELECT id_a, id_b, c * 1.0 / (sa.s + sb.s - c) AS jaccard
FROM inter JOIN sz sa ON id_a = sa.doc_id JOIN sz sb ON id_b = sb.doc_id
WHERE c * 1.0 / (sa.s + sb.s - c) >= {num} / {den}.0
"""
    exp = sorted(
        (int(a), int(b), round(j, 9)) for a, b, j in con.execute(sql).fetchall()
    )
    return got, exp, f"jaccard n={n} t={num}/{den} {params}"


def containment_case(spark, con, sf_dir, rng):
    from shuttlestandalonedbcreator_spark.operators import dedup as D

    n = rng.choice([2, 3, 4, 5])
    num, den = rng.choice(THRESHOLDS)
    corpus_sql, params = _corpus_sql(rng)
    got = sorted(
        (r.contained_id, r.container_id, round(r.containment, 9))
        for r in D.containment_pairs(
            _corpus_df(spark, sf_dir, params), "doc_id", "text", n=n,
            threshold=num / den,
        ).collect()
    )
    sql = _grams_cte(corpus_sql, n) + f"""
, e AS (SELECT doc_id, unnest(g) AS tok FROM grams),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
  FROM e a JOIN e b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), sz AS (SELECT doc_id, len(g) AS s FROM grams)
SELECT CASE WHEN sa.s <= sb.s THEN id_a ELSE id_b END AS contained_id,
       CASE WHEN sa.s <= sb.s THEN id_b ELSE id_a END AS container_id,
       c * 1.0 / least(sa.s, sb.s) AS containment
FROM inter JOIN sz sa ON id_a = sa.doc_id JOIN sz sb ON id_b = sb.doc_id
WHERE c * 1.0 / least(sa.s, sb.s) >= {num} / {den}.0
"""
    exp = sorted(
        (int(a), int(b), round(c, 9)) for a, b, c in con.execute(sql).fetchall()
    )
    return got, exp, f"containment n={n} t={num}/{den} {params}"


def prefix_filter_case(spark, con, sf_dir, rng):
    """Random-draw re-proof that the shipped prefix-filter join
    (operators/dedup.py:prefix_filter_pairs) is lossless at t = num/den,
    n and the min_grams floor, vs the UNFILTERED all-pairs oracle."""
    from fractions import Fraction

    from pyspark.sql import functions as F

    from shuttlestandalonedbcreator_spark.operators import dedup as D

    n = rng.choice([2, 3, 4])
    num, den = rng.choice([t for t in THRESHOLDS if t[0] / t[1] >= 0.5])
    min_grams = rng.choice([3, 4, 5, 6, 8])
    corpus_sql, params = _corpus_sql(rng)
    sets = _corpus_df(spark, sf_dir, params).select(
        "doc_id", D.word_ngram_hashes(F.col("text"), n).alias("grams")
    ).filter(F.size("grams") >= min_grams)
    got = sorted(
        tuple(r)
        for r in D.prefix_filter_pairs(
            sets, "doc_id", "grams", Fraction(num, den)
        ).collect()
    )
    sql = _grams_cte(corpus_sql, n) + f"""
, sz AS (
  SELECT doc_id, len(g) AS n FROM grams WHERE len(g) >= {min_grams}
), e AS (SELECT doc_id, unnest(g) AS tok FROM grams),
ee AS (SELECT e.doc_id, tok FROM e JOIN sz USING (doc_id)),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
  FROM ee a JOIN ee b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, c AS inter_cnt, sa.n + sb.n - c AS union_cnt
FROM inter JOIN sz sa ON id_a = sa.doc_id JOIN sz sb ON id_b = sb.doc_id
WHERE {den} * c >= {num} * (sa.n + sb.n - c)
"""
    exp = sorted(
        (int(a), int(b), int(i), int(u))
        for a, b, i, u in con.execute(sql).fetchall()
    )
    return got, exp, f"prefix n={n} t={num}/{den} min={min_grams} {params}"


def main() -> int:
    import duckdb

    from shuttlestandalonedbcreator_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    n_seeds = int(sys.argv[2]) if len(sys.argv) > 2 else 20
    base = int(sys.argv[3]) if len(sys.argv) > 3 else 120000

    spark = get_spark(app_name="text_fuzz")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
    )

    failures = 0
    t0 = time.time()
    for seed in range(base, base + n_seeds):
        rng = random.Random(seed)
        case = rng.choice([jaccard_case, containment_case, prefix_filter_case])
        got, exp, label = case(spark, con, sf_dir, rng)
        if got != exp:
            failures += 1
            exp_set, got_set = set(exp), set(got)
            only_spark = [r for r in got if r not in exp_set][:3]
            only_duck = [r for r in exp if r not in got_set][:3]
            print(
                f"DIVERGE seed={seed} {label}: spark={len(got)} "
                f"duck={len(exp)} +spark={only_spark} +duck={only_duck}"
            )
        else:
            print(f"ok seed={seed} {label}: {len(got)} rows "
                  f"[{time.time() - t0:.0f}s]")
    print(f"swept {n_seeds} text seeds @ {sf_dir}: {failures} divergences")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
