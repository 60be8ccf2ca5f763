"""Lexical + hybrid retrieval operators over the corpus: BM25 scoring
and reciprocal-rank fusion.

These are the retrieval half of a training-data / RAG pipeline (the
vector half lives in queries_similarity / queries_vectors): BM25 ranks
documents for a keyword query, RRF fuses a lexical and a vector
ranking into one list. Both are pure DataFrame compositions designed
for the value-hash gate:

- every per-document quantity (tf, dl) comes from ONE array pass over
  the tokens — no explode, no token-level shuffle;
- the corpus statistics BM25 needs (N, Σdl, per-term df) reduce to a
  single 1-row aggregate with map-side partials, broadcast back onto
  the scan — the whole scorer is two scans and a top-k, no join on a
  corpus-sized key;
- the BM25 ratio is restated over exact BIGINTs so each term's score
  is ONE float division times one (6-dp-rounded) log — the only
  nondeterminism budget is the documented ≤1-ulp `ln` divergence
  (see SCALE.md's float-parity conventions).

With k1 = 1.2 = 6/5 and b = 0.75 = 3/4, and avgdl = SDL/N (SDL = Σdl):

    tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
      = 44·tf·SDL / (20·tf·SDL + 6·SDL + 18·dl·N)

— integers throughout (headroom: 44·tf·SDL stays inside BIGINT up to
~10¹² total corpus tokens per 100-token tf; beyond that, rescale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dbt_project_spark.operators.dedup import tokens_col

BM25_K1_NUM, BM25_K1_DEN = 6, 5  # k1 = 1.2
BM25_B_NUM, BM25_B_DEN = 3, 4  # b = 0.75


def bm25_scored(docs: DataFrame, terms: tuple[str, ...]) -> DataFrame:
    """(doc_id, bm25) for every document hitting ≥1 query term.

    ``terms`` is the (tiny, constant) keyword query; scores are
    6-dp-rounded per term and in total, matching the oracle's rounding
    points exactly.
    """
    toks = tokens_col("text")

    def _eq(term: str):
        # NB: must be a ONE-argument lambda — F.filter dispatches on
        # arity and would feed the array index into a second parameter
        # (even a defaulted one).
        return lambda x: x == F.lit(term)

    cols = [F.col("doc_id"), F.size(toks).alias("dl")]
    for i, t in enumerate(terms):
        cols.append(F.size(F.filter(toks, _eq(t))).alias(f"tf{i}"))
    d = docs.select(*cols)

    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.sum("dl").alias("sdl"),
    ]
    for i in range(len(terms)):
        aggs.append(
            F.sum((F.col(f"tf{i}") > 0).cast("bigint")).alias(f"df{i}")
        )
    stats = d.agg(*aggs)

    s = d.crossJoin(stats)
    score_terms = []
    for i in range(len(terms)):
        idf6 = f"round(ln((n - df{i} + 0.5) / (df{i} + 0.5) + 1), 6)"
        ratio = (
            f"(44 * tf{i} * sdl) / CAST(20 * tf{i} * sdl + 6 * sdl"
            f" + 18 * dl * n AS DOUBLE)"
        )
        score_terms.append(
            f"CASE WHEN tf{i} > 0 THEN round({idf6} * {ratio}, 6)"
            f" ELSE 0.0 END"
        )
    bm25 = F.round(F.expr(" + ".join(score_terms)), 6)
    return s.select("doc_id", bm25.alias("bm25")).filter(F.col("bm25") > 0)


def bm25_oracle_cte(terms: tuple[str, ...], toks_sql: str) -> str:
    """DuckDB twin of ``bm25_scored`` as CTE text ending in a
    ``bm(doc_id, bm25)`` relation; ``toks_sql`` is the tokenizer
    expression over ``documents``."""
    tf_cols = ", ".join(
        f"len(list_filter(toks, x -> x = '{t}')) AS tf{i}"
        for i, t in enumerate(terms)
    )
    df_cols = ", ".join(
        f"CAST(SUM(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df{i}"
        for i in range(len(terms))
    )
    score_terms = " + ".join(
        f"CASE WHEN tf{i} > 0 THEN round("
        f"round(ln((n - df{i} + 0.5) / (df{i} + 0.5) + 1), 6)"
        f" * ((44 * tf{i} * sdl) / CAST(20 * tf{i} * sdl + 6 * sdl"
        f" + 18 * dl * n AS DOUBLE)), 6) ELSE 0.0 END"
        for i in range(len(terms))
    )
    return f"""
    tk AS (SELECT doc_id, {toks_sql} AS toks FROM documents),
    d AS (SELECT doc_id, len(toks) AS dl, {tf_cols} FROM tk),
    st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                  CAST(SUM(dl) AS BIGINT) AS sdl, {df_cols} FROM d),
    bm AS (SELECT doc_id, round({score_terms}, 6) AS bm25
           FROM d CROSS JOIN st
           WHERE round({score_terms}, 6) > 0)"""
