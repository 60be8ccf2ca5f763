"""Retrieval family over `documents` + `embeddings` (round 4): BM25
keyword ranking, per-document TF-IDF key terms, and hybrid
lexical+vector fusion (reciprocal-rank fusion) — the retrieval stack a
RAG / training-data pipeline runs next to dedup and ANN.

Determinism: every float is created at a documented rounding point
(6 dp) from deterministic inputs; rankings order by the ROUNDED score
with an id tiebreak, so rank assignment is stable across engines and
partitionings (the residual risk is the repo-wide ≤1-ulp `ln`
divergence, see SCALE.md).

Reference scope note: the reference repo has no retrieval surface —
this family is part of the beyond-reference LLM-pipeline mandate
(brief: dedup / similarity / text analysis as first-class components;
hybrid retrieval is the consumer of those indexes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dbt_project_spark.catalog import register
from dbt_project_spark.functions.expressions import cosine_similarity
from dbt_project_spark.operators.dedup import tokens_col
from dbt_project_spark.operators.joins import at_most, literal_table
from dbt_project_spark.operators.retrieval import bm25_oracle_cte, bm25_scored
from dbt_project_spark.sources import load_table

_TOKS = "regexp_extract_all(lower(text), '[a-z0-9]+')"

# The keyword query: one discriminative term (df ≈ 5% of docs) + two
# mid-frequency terms — exercises the idf spread.
BM25_TERMS = ("dup", "vector", "merge")
BM25_TOPK = 25
RRF_C = 60  # the standard RRF dampening constant
RRF_CAND = 50  # per-ranker candidate depth
RRF_TOPK = 10
RRF_QUERY_VEC = 0  # stand-in query embedding: vec_id 0
TFIDF_TOP = 3


@register(
    "bm25_topk",
    oracle=f"""
    WITH {bm25_oracle_cte(BM25_TERMS, _TOKS)}
    SELECT rank, doc_id, bm25 FROM (
        SELECT doc_id, bm25,
               CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS INT)
                   AS rank
        FROM bm)
    WHERE rank <= {BM25_TOPK}
    """,
)
def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-{K}: rank documents for a fixed keyword query.

    Scale shape (see operators/retrieval.py): per-doc tf/dl come from
    one array pass (no token explode), corpus stats (N, Σdl, df) are a
    single 1-row map-side aggregate broadcast back, and the top-k is
    orderBy().limit() — TakeOrderedAndProject per-partition heaps, not
    a global sort. Two scans + a K-row result at any corpus size.
    """
    docs = load_table(spark, sf_dir, "documents")
    scored = bm25_scored(docs, BM25_TERMS)
    top = scored.orderBy(F.desc("bm25"), "doc_id").limit(BM25_TOPK)
    w = Window.orderBy(F.desc("bm25"), "doc_id")
    return top.select(
        F.row_number().over(w).cast("int").alias("rank"), "doc_id", "bm25"
    )


@register(
    "tfidf_top_terms",
    oracle=f"""
    WITH tok AS (SELECT doc_id, unnest({_TOKS}) AS term FROM documents),
    tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
           FROM tok GROUP BY doc_id, term),
    dfq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
    sc AS (SELECT tf.doc_id, tf.term,
                  round(tf.tf * round(ln(CAST(n AS DOUBLE) / df), 6), 6)
                      AS tfidf
           FROM tf JOIN dfq ON dfq.term = tf.term CROSS JOIN nn),
    rk AS (SELECT doc_id, term, tfidf,
                  ROW_NUMBER() OVER (PARTITION BY doc_id
                                     ORDER BY tfidf DESC, term) AS rn
           FROM sc)
    SELECT doc_id,
           string_agg(term, ',' ORDER BY rn) AS top_terms,
           MAX(tfidf) AS top_score
    FROM rk WHERE rn <= {TFIDF_TOP}
    GROUP BY doc_id
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-{TFIDF_TOP} TF-IDF terms (the 'what is this
    document about' keywords), emitted as a comma string (scalar-
    schema contract) plus the top score.

    Scale shape: tf is a (doc, term) map-side-combinable aggregate;
    df reuses tf's output (terms-sized, AQE broadcasts it when small);
    the per-doc top-3 is a doc-partitioned window — bounded state per
    document, no global sort.
    """
    docs = load_table(spark, sf_dir, "documents")
    pairs = docs.select("doc_id", F.explode(tokens_col("text")).alias("term"))
    tf = pairs.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    nn = docs.agg(F.count(F.lit(1)).alias("n"))
    sc = (
        tf.join(dfq, "term")
        .crossJoin(nn)
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf")
                * F.round(F.expr("ln(CAST(n AS DOUBLE) / df)"), 6),
                6,
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "term")
    rk = sc.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= TFIDF_TOP
    )
    return rk.groupBy("doc_id").agg(
        F.concat_ws(
            ",",
            F.transform(
                F.array_sort(F.collect_list(F.struct("rn", "term"))),
                lambda s: s["term"],
            ),
        ).alias("top_terms"),
        F.max("tfidf").alias("top_score"),
    )


@register(
    "rrf_hybrid_topk",
    oracle=f"""
    WITH {bm25_oracle_cte(BM25_TERMS, _TOKS)},
    lr AS (SELECT doc_id, lrank FROM (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS lrank
        FROM bm WHERE doc_id <> {RRF_QUERY_VEC})
        WHERE lrank <= {RRF_CAND}),
    qv AS (SELECT embedding AS qe FROM embeddings
           WHERE vec_id = {RRF_QUERY_VEC}),
    pr AS (SELECT e.vec_id, unnest(e.embedding)::DOUBLE AS x,
                  unnest(q.qe)::DOUBLE AS y
           FROM embeddings e CROSS JOIN qv q
           WHERE e.vec_id <> {RRF_QUERY_VEC}),
    vs AS (SELECT vec_id,
                  ROUND(SUM(x*y) / (SQRT(SUM(x*x)) * SQRT(SUM(y*y))), 6)
                      AS cosine
           FROM pr GROUP BY vec_id),
    vr AS (SELECT doc_id, vrank FROM (
        SELECT vec_id AS doc_id,
               ROW_NUMBER() OVER (ORDER BY cosine DESC, vec_id) AS vrank
        FROM vs)
        WHERE vrank <= {RRF_CAND}),
    fused AS (SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id,
                     CAST(COALESCE(l.lrank, 0) AS BIGINT) AS lex_rank,
                     CAST(COALESCE(v.vrank, 0) AS BIGINT) AS vec_rank,
                     ROUND(COALESCE(1 / ({RRF_C}.0 + l.lrank), 0)
                           + COALESCE(1 / ({RRF_C}.0 + v.vrank), 0), 6)
                         AS rrf
              FROM lr l FULL OUTER JOIN vr v ON v.doc_id = l.doc_id)
    SELECT rank, doc_id, lex_rank, vec_rank, rrf FROM (
        SELECT doc_id, lex_rank, vec_rank, rrf,
               CAST(ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id) AS INT)
                   AS rank
        FROM fused)
    WHERE rank <= {RRF_TOPK}
    """,
)
def rrf_hybrid_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: fuse the BM25 keyword ranking with a
    brute-force cosine ranking (query = embedding {RRF_QUERY_VEC}, the
    stand-in query vector; doc_id ↔ vec_id is the corpus's 1:1 id
    space) via Reciprocal Rank Fusion: score = Σ 1/(C + rank_i),
    C = {RRF_C}. Documents missing from one ranker's top-{RRF_CAND}
    contribute nothing from that ranker and carry rank sentinel 0 in
    the output.

    Scale shape: each ranker produces a {RRF_CAND}-row candidate list
    (TakeOrdered heaps over fully distributed scoring); the fusion
    full-outer join touches ≤2·{RRF_CAND} rows — driver-trivial
    regardless of corpus size. RRF itself needs no score calibration
    between rankers (rank-only), which is exactly why it's the
    production default for hybrid search.
    """
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")

    lex = (
        bm25_scored(docs, BM25_TERMS)
        .filter(F.col("doc_id") != RRF_QUERY_VEC)
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(RRF_CAND)
    )
    wl = Window.orderBy(F.desc("bm25"), "doc_id")
    lr = lex.select(
        "doc_id", F.row_number().over(wl).alias("lrank")
    )

    qv = at_most(emb.filter(F.col("vec_id") == RRF_QUERY_VEC), 1).select(  # key
        F.col("embedding").alias("qe")
    )
    vs = (
        emb.filter(F.col("vec_id") != RRF_QUERY_VEC)
        .crossJoin(qv)
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(cosine_similarity("embedding", "qe"), 6).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), "doc_id")
        .limit(RRF_CAND)
    )
    wv = Window.orderBy(F.desc("cosine"), "doc_id")
    vr = vs.select(
        "doc_id", F.row_number().over(wv).alias("vrank")
    )

    fused = lr.join(vr, "doc_id", "full").select(
        "doc_id",
        F.coalesce("lrank", F.lit(0)).cast("bigint").alias("lex_rank"),
        F.coalesce("vrank", F.lit(0)).cast("bigint").alias("vec_rank"),
        F.round(
            F.coalesce(F.lit(1.0) / (RRF_C + F.col("lrank")), F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (RRF_C + F.col("vrank")), F.lit(0.0)),
            6,
        ).alias("rrf"),
    )
    top = fused.orderBy(F.desc("rrf"), "doc_id").limit(RRF_TOPK)
    wr = Window.orderBy(F.desc("rrf"), "doc_id")
    return top.select(
        F.row_number().over(wr).cast("int").alias("rank"),
        "doc_id",
        "lex_rank",
        "vec_rank",
        "rrf",
    )


# ---------------------------------------------------------------------------
# bm25_ndcg_eval — graded-relevance ranking evaluation (r5s4)
# ---------------------------------------------------------------------------

NDCG_K = 10
# DCG discounts 1/log2(rank+1), pre-rounded to ×1e9 integers in Python
# so both engines consume IDENTICAL constants and DCG sums stay exact.
import math as _math

_DISC9 = [
    round(1_000_000_000 / _math.log2(i + 1)) for i in range(1, NDCG_K + 1)
]
_REL_SQL = " + ".join(
    f"CASE WHEN list_contains({_TOKS}, '{t}') THEN 1 ELSE 0 END"
    for t in BM25_TERMS
)
_DISC_VALUES = ", ".join(
    f"({i + 1}, {d})" for i, d in enumerate(_DISC9)
)


@register(
    "bm25_ndcg_eval",
    oracle=f"""
    WITH {bm25_oracle_cte(BM25_TERMS, _TOKS)},
    rel AS (SELECT doc_id, CAST({_REL_SQL} AS BIGINT) AS rel
            FROM documents),
    disc AS (SELECT * FROM (VALUES {_DISC_VALUES}) AS t(rk, disc9)),
    sys AS (SELECT doc_id,
                   CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id)
                        AS BIGINT) AS rk
            FROM bm),
    dcg AS (SELECT CAST(SUM(r.rel * d.disc9) AS BIGINT) AS dcg9,
                   CAST(SUM(CASE WHEN r.rel > 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_rel_at_k
            FROM sys s JOIN rel r ON r.doc_id = s.doc_id
                       JOIN disc d ON d.rk = s.rk
            WHERE s.rk <= {NDCG_K}),
    ideal AS (SELECT doc_id, rel,
                     CAST(ROW_NUMBER() OVER (ORDER BY rel DESC, doc_id)
                          AS BIGINT) AS rk
              FROM rel),
    idcg AS (SELECT CAST(SUM(i.rel * d.disc9) AS BIGINT) AS idcg9
             FROM ideal i JOIN disc d ON d.rk = i.rk
             WHERE i.rk <= {NDCG_K})
    SELECT CAST({NDCG_K} AS BIGINT) AS k,
           dcg.n_rel_at_k, dcg.dcg9, idcg.idcg9,
           ROUND(dcg.dcg9 * 1.0 / idcg.idcg9, 6) AS ndcg
    FROM dcg CROSS JOIN idcg
    """,
)
def bm25_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-quality evaluation: nDCG@{NDCG_K} of the BM25 ranking
    against a graded relevance label (number of distinct query terms
    a document contains, 0..{len(BM25_TERMS)}) — the metric a search /
    RAG team tracks per release. DCG discounts are pre-rounded ×1e9
    integer constants (computed once in Python, embedded identically
    in both engines), so DCG and ideal-DCG are exact BIGINT dot
    products and the only float op is the final ratio.

    Scale shape: the ranking reuses bm25_scored (two corpus scans, no
    token explode); relevance is one array-contains projection; DCG
    joins the top-k rows against a {NDCG_K}-row discount table. The
    ideal ranking needs only the corpus-wide top-{NDCG_K} relevance
    values — a TakeOrdered heap, not a global sort."""
    docs = load_table(spark, sf_dir, "documents")
    rel_expr = sum(
        (
            F.when(F.array_contains(tokens_col("text"), t), 1).otherwise(0)
            for t in BM25_TERMS
        ),
        F.lit(0),
    )
    rel = docs.select(
        "doc_id", rel_expr.cast("bigint").alias("rel")
    )
    from dbt_project_spark.caching import persist_tracked

    rel = persist_tracked(rel)
    disc = literal_table(
        spark, [(i + 1, d) for i, d in enumerate(_DISC9)], "rk bigint, disc9 bigint"
    )
    scored = bm25_scored(docs, BM25_TERMS)
    w = Window.orderBy(F.desc("bm25"), "doc_id")
    sys_rk = (
        scored.orderBy(F.desc("bm25"), "doc_id")
        .limit(NDCG_K)
        .select("doc_id", F.row_number().over(w).cast("bigint").alias("rk"))
    )
    dcg = (
        sys_rk.join(rel, "doc_id")
        .join(disc, "rk")
        .agg(
            F.sum(F.col("rel") * F.col("disc9")).cast("bigint").alias("dcg9"),
            F.sum(F.when(F.col("rel") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_rel_at_k"),
        )
    )
    wi = Window.orderBy(F.desc("rel"), "doc_id")
    ideal = (
        rel.orderBy(F.desc("rel"), "doc_id")
        .limit(NDCG_K)
        .select("rel", F.row_number().over(wi).cast("bigint").alias("rk"))
    )
    idcg = ideal.join(disc, "rk").agg(
        F.sum(F.col("rel") * F.col("disc9")).cast("bigint").alias("idcg9")
    )
    return (
        dcg.crossJoin(idcg)
        .select(
            F.lit(NDCG_K).cast("bigint").alias("k"),
            "n_rel_at_k",
            "dcg9",
            "idcg9",
            F.round(F.col("dcg9") * 1.0 / F.col("idcg9"), 6).alias("ndcg"),
        )
    )


# ---------------------------------------------------------------------------
# ranker_agreement_topk — lexical vs vector overlap diagnostics (r5s4)
# ---------------------------------------------------------------------------

RA_KS = (10, 25, 50)


@register(
    "ranker_agreement_topk",
    oracle=f"""
    WITH {bm25_oracle_cte(BM25_TERMS, _TOKS)},
    lr AS (SELECT doc_id,
                  ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS lrank
           FROM bm WHERE doc_id <> {RRF_QUERY_VEC}),
    qv AS (SELECT embedding AS qe FROM embeddings
           WHERE vec_id = {RRF_QUERY_VEC}),
    pr AS (SELECT e.vec_id, unnest(e.embedding)::DOUBLE AS x,
                  unnest(q.qe)::DOUBLE AS y
           FROM embeddings e CROSS JOIN qv q
           WHERE e.vec_id <> {RRF_QUERY_VEC}),
    vs AS (SELECT vec_id,
                  ROUND(SUM(x*y) / (SQRT(SUM(x*x)) * SQRT(SUM(y*y))), 6)
                      AS cosine
           FROM pr GROUP BY vec_id),
    vr AS (SELECT vec_id AS doc_id,
                  ROW_NUMBER() OVER (ORDER BY cosine DESC, vec_id) AS vrank
           FROM vs),
    ks AS (SELECT * FROM (VALUES {", ".join(f"({k})" for k in RA_KS)})
               AS t(k)),
    ov AS (SELECT ks.k,
                  CAST(COUNT(b.doc_id) AS BIGINT) AS n_overlap
           FROM ks LEFT JOIN (SELECT l.doc_id, l.lrank, v.vrank
                              FROM lr l JOIN vr v
                                ON v.doc_id = l.doc_id) b
             ON b.lrank <= ks.k AND b.vrank <= ks.k
           GROUP BY ks.k)
    SELECT CAST(k AS BIGINT) AS k, n_overlap,
           CAST(n_overlap * 1000000 // k AS BIGINT) AS overlap_micro
    FROM ov
    """,
)
def ranker_agreement_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical/vector ranker agreement — overlap@k between the BM25
    top-k and the cosine top-k for the shared hybrid-retrieval query.
    Low overlap is exactly when RRF fusion pays (the rankers carry
    complementary signal); overlap near 1.0 means one ranker is
    redundant and the hybrid stack can be simplified. The diagnostic
    a retrieval team reads next to rrf_hybrid_topk before deciding
    to keep paying for both indexes.

    Exact: both rankings use total (score desc, id) orders; overlap
    counts and micro ratios are pure integers.

    Scale shape: both candidate rankings already exist in the RRF
    dataflow (TakeOrdered heaps at production scale); the overlap is
    a k-bounded equi-join against a 3-row k table."""
    from dbt_project_spark.operators.retrieval import bm25_scored

    docs = load_table(spark, sf_dir, "documents")
    scored = bm25_scored(docs, BM25_TERMS).filter(
        F.col("doc_id") != RRF_QUERY_VEC
    )
    wl = Window.orderBy(F.desc("bm25"), "doc_id")
    lr = scored.select(
        "doc_id", F.row_number().over(wl).alias("lrank")
    ).filter(F.col("lrank") <= max(RA_KS))
    e = load_table(spark, sf_dir, "embeddings")
    qv = at_most(e.filter(F.col("vec_id") == RRF_QUERY_VEC), 1).select(  # key
        F.col("embedding").alias("qe")
    )
    vs = (
        e.filter(F.col("vec_id") != RRF_QUERY_VEC)
        .crossJoin(qv)
        .withColumn(
            "cosine", F.round(cosine_similarity("embedding", "qe"), 6)
        )
    )
    wv = Window.orderBy(F.desc("cosine"), "vec_id")
    vr = vs.select(
        F.col("vec_id").alias("doc_id"),
        F.row_number().over(wv).alias("vrank"),
    ).filter(F.col("vrank") <= max(RA_KS))
    b = lr.join(vr, "doc_id")
    ks = literal_table(spark, [(k,) for k in RA_KS], "k bigint")
    ov = (
        ks.join(
            b,
            (b.lrank <= ks.k) & (b.vrank <= ks.k),
            "left",
        )
        .groupBy("k")
        .agg(F.count("doc_id").cast("bigint").alias("n_overlap"))
    )
    return ov.select(
        "k",
        "n_overlap",
        F.expr("CAST(n_overlap * 1000000 div k AS BIGINT)").alias(
            "overlap_micro"
        ),
    )


# ---------------------------------------------------------------------------
# ranker_kendall_tau — rank correlation between lexical and vector (r5s5)
# ---------------------------------------------------------------------------

KT_K = 50  # ranking depth compared


@register(
    "ranker_kendall_tau",
    oracle=f"""
    WITH {{bm_cte}},
    lr AS (SELECT doc_id,
                  ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS lrank
           FROM bm WHERE doc_id <> {RRF_QUERY_VEC}),
    qv AS (SELECT embedding AS qe FROM embeddings
           WHERE vec_id = {RRF_QUERY_VEC}),
    pr AS (SELECT e.vec_id, unnest(e.embedding)::DOUBLE AS x,
                  unnest(q.qe)::DOUBLE AS y
           FROM embeddings e CROSS JOIN qv q
           WHERE e.vec_id <> {RRF_QUERY_VEC}),
    vs AS (SELECT vec_id,
                  ROUND(SUM(x*y) / (SQRT(SUM(x*x)) * SQRT(SUM(y*y))), 6)
                      AS cosine
           FROM pr GROUP BY vec_id),
    vr AS (SELECT vec_id AS doc_id,
                  ROW_NUMBER() OVER (ORDER BY cosine DESC, vec_id) AS vrank
           FROM vs),
    b AS (SELECT l.doc_id, l.lrank, v.vrank
          FROM lr l JOIN vr v ON v.doc_id = l.doc_id
          WHERE l.lrank <= {KT_K} AND v.vrank <= {KT_K}),
    pairs AS (SELECT CASE WHEN (a.lrank - c.lrank) * (a.vrank - c.vrank) > 0
                          THEN 1 ELSE 0 END AS conc
              FROM b a JOIN b c ON a.doc_id < c.doc_id),
    agg AS (SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM b) AS n_common,
                   CAST(COUNT(*) AS BIGINT) AS n_pairs,
                   CAST(SUM(conc) AS BIGINT) AS concordant
            FROM pairs)
    SELECT n_common, n_pairs, concordant,
           n_pairs - concordant AS discordant,
           CAST(CASE WHEN n_pairs = 0 THEN 0
                     WHEN 2 * concordant >= n_pairs
                     THEN (2 * concordant - n_pairs) * 1000000 // n_pairs
                     ELSE -((n_pairs - 2 * concordant) * 1000000 // n_pairs)
                END AS BIGINT) AS tau_micro
    FROM agg
    """.format(bm_cte=bm25_oracle_cte(BM25_TERMS, _TOKS)),
)
def ranker_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall rank correlation (tau-a) between the BM25 and cosine
    rankings over documents that BOTH rankers place in their top-{K}:
    every pair of common documents is concordant if the two rankers
    order it the same way. Complements ranker_agreement_topk — overlap
    says the rankers retrieve the same documents, tau says whether
    they also ORDER them the same; high overlap with low tau still
    justifies rank fusion (rrf_hybrid_topk).

    Exact: row_number ranks are tie-free so tau-a needs no tie
    correction; C − D and the sign-safe truncating micro division are
    pure integers (Spark div truncates toward zero, DuckDB // floors
    — negatives split on abs, the WOE convention).

    Scale shape: both rankings are TakeOrdered heaps (k-bounded);
    the pair table is the k×k self-join of a <=k-row broadcast —
    constant work regardless of corpus size."""
    from dbt_project_spark.operators.retrieval import bm25_scored

    docs = load_table(spark, sf_dir, "documents")
    scored = bm25_scored(docs, BM25_TERMS).filter(
        F.col("doc_id") != RRF_QUERY_VEC
    )
    wl = Window.orderBy(F.desc("bm25"), "doc_id")
    lr = scored.select(
        "doc_id", F.row_number().over(wl).alias("lrank")
    ).filter(F.col("lrank") <= KT_K)
    e = load_table(spark, sf_dir, "embeddings")
    qv = at_most(e.filter(F.col("vec_id") == RRF_QUERY_VEC), 1).select(  # key
        F.col("embedding").alias("qe")
    )
    vs = (
        e.filter(F.col("vec_id") != RRF_QUERY_VEC)
        .crossJoin(qv)
        .withColumn(
            "cosine", F.round(cosine_similarity("embedding", "qe"), 6)
        )
    )
    wv = Window.orderBy(F.desc("cosine"), "vec_id")
    vr = vs.select(
        F.col("vec_id").alias("doc_id"),
        F.row_number().over(wv).alias("vrank"),
    ).filter(F.col("vrank") <= KT_K)
    b = at_most(lr.join(vr, "doc_id"), KT_K)  # lr is a top-KT_K
    a = b.select(
        F.col("doc_id").alias("d_a"),
        F.col("lrank").alias("l_a"),
        F.col("vrank").alias("v_a"),
    )
    c = b.select(
        F.col("doc_id").alias("d_c"),
        F.col("lrank").alias("l_c"),
        F.col("vrank").alias("v_c"),
    )
    pairs = a.join(
        c, F.col("d_a") < F.col("d_c")
    ).select(
        F.when(
            (F.col("l_a") - F.col("l_c")) * (F.col("v_a") - F.col("v_c"))
            > 0,
            1,
        )
        .otherwise(0)
        .alias("conc")
    )
    ncom = b.agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
    agg = pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum("conc").cast("bigint").alias("concordant"),
    )
    return (
        ncom.crossJoin(agg)
        .select(
            "n_common",
            "n_pairs",
            "concordant",
            (F.col("n_pairs") - F.col("concordant"))
            .cast("bigint")
            .alias("discordant"),
            F.expr(
                "CAST(CASE WHEN n_pairs = 0 THEN 0"
                " ELSE (2 * concordant - n_pairs) * 1000000 div n_pairs"
                " END AS BIGINT)"
            ).alias("tau_micro"),
        )
    )


# ---------------------------------------------------------------------------
# query_expansion_prf — Rocchio pseudo-relevance feedback (r5s6)
# ---------------------------------------------------------------------------

PRF_FB_K = 10  # feedback depth: top seed-ranked docs mined for terms
PRF_EXP_M = 3  # expansion terms adopted
PRF_MIN_LEN = 4  # crude stopword guard on expansion candidates
PRF_TOPK = 25

_SEED_IN = ", ".join(f"'{t}'" for t in BM25_TERMS)


@register(
    "query_expansion_prf",
    oracle=f"""
    WITH {{bm_cte}},
    fb AS (SELECT doc_id FROM bm ORDER BY bm25 DESC, doc_id
           LIMIT {PRF_FB_K}),
    s25 AS (SELECT doc_id FROM bm ORDER BY bm25 DESC, doc_id
            LIMIT {PRF_TOPK}),
    ftk AS (SELECT t.doc_id, unnest(t.toks) AS term
            FROM tk t JOIN fb USING (doc_id)),
    ex AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS freq
           FROM ftk
           WHERE len(term) >= {PRF_MIN_LEN}
             AND term NOT IN ({_SEED_IN})
           GROUP BY term
           ORDER BY freq DESC, term
           LIMIT {PRF_EXP_M}),
    qt AS (SELECT term FROM ex
           UNION ALL
           SELECT unnest([{_SEED_IN}]) AS term),
    cst AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(len(toks)) AS BIGINT) AS sdl
            FROM tk),
    dt AS (SELECT tk.doc_id, len(tk.toks) AS dl, qt.term,
                  len(list_filter(tk.toks, x -> x = qt.term)) AS tf
           FROM tk CROSS JOIN qt),
    dfq AS (SELECT term,
                   CAST(SUM(CASE WHEN tf > 0 THEN 1 ELSE 0 END) AS BIGINT)
                       AS df
            FROM dt GROUP BY term),
    sc AS (SELECT dt.doc_id,
                  CAST(SUM(CASE WHEN dt.tf > 0 THEN
                    CAST(round(
                      round(ln((cst.n - dfq.df + 0.5) / (dfq.df + 0.5) + 1),
                            6)
                      * ((44 * dt.tf * cst.sdl)
                         / CAST(20 * dt.tf * cst.sdl + 6 * cst.sdl
                                + 18 * dt.dl * cst.n AS DOUBLE))
                      * 1000000, 0) AS BIGINT)
                    ELSE 0 END) AS BIGINT) AS score_micro
           FROM dt JOIN dfq USING (term) CROSS JOIN cst
           GROUP BY dt.doc_id),
    top AS (SELECT doc_id, score_micro FROM sc WHERE score_micro > 0
            ORDER BY score_micro DESC, doc_id LIMIT {PRF_TOPK})
    SELECT ROW_NUMBER() OVER (ORDER BY t.score_micro DESC, t.doc_id)
               AS rank,
           t.doc_id, t.score_micro,
           CAST(CASE WHEN s25.doc_id IS NULL THEN 1 ELSE 0 END AS BIGINT)
               AS is_new
    FROM top t LEFT JOIN s25 ON s25.doc_id = t.doc_id
    """.format(bm_cte=bm25_oracle_cte(BM25_TERMS, _TOKS)),
)
def query_expansion_prf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rocchio-style pseudo-relevance feedback: run the seed keyword
    query, mine the top-{FB_K} feedback docs for their most frequent
    (non-seed, len≥4) terms, re-rank the corpus with the EXPANDED
    query, and flag which of the new top-{K} the seed query would
    never have surfaced (is_new). The classic recall-repair loop a
    retrieval stack runs when seed keywords undershoot.

    Determinism: expansion terms are data-derived but totally ordered
    (freq desc, term asc, LIMIT); because the expanded term set is
    ROWS (not compile-time literals like bm25_scored's), per-doc
    totals sum FLOATS across terms in engine-dependent order — so
    each per-(doc,term) BM25 contribution is rounded to a ×1e6 BIGINT
    first and the per-doc total is an INTEGER sum (the repo's
    fixed-point-sum convention), with the same exact-BIGINT
    44·tf·SDL ratio restatement as the seed scorer.

    Scale shape: tf/dl per (doc, term) come from one array pass per
    term over a broadcast ≤6-row term table — no token explode of the
    corpus (only the {FB_K} FEEDBACK docs are exploded, a constant);
    corpus stats are a 1-row broadcast; both rankings are TakeOrdered
    heaps. Two corpus scans total (seed pass + rescore pass)."""
    from dbt_project_spark.operators.dedup import tokens_col
    from dbt_project_spark.operators.retrieval import bm25_scored

    docs = load_table(spark, sf_dir, "documents")
    tk = docs.select(
        "doc_id", tokens_col("text").alias("toks")
    ).persist()
    seed = bm25_scored(docs, BM25_TERMS)
    fb = (
        seed.orderBy(F.desc("bm25"), "doc_id")
        .limit(PRF_FB_K)
        .select("doc_id")
    )
    s25 = (
        seed.orderBy(F.desc("bm25"), "doc_id")
        .limit(PRF_TOPK)
        .select(F.col("doc_id").alias("sdoc"))
    )
    ftk = tk.join(fb, "doc_id").select(
        F.explode("toks").alias("term")
    )
    ex = (
        ftk.filter(
            (F.length("term") >= PRF_MIN_LEN)
            & (~F.col("term").isin(*BM25_TERMS))
        )
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
        .orderBy(F.desc("freq"), "term")
        .limit(PRF_EXP_M)
        .select("term")
    )
    qt = ex.unionByName(
        literal_table(spark, [(t,) for t in BM25_TERMS], "term string")
    )
    st = tk.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.size("toks")).cast("bigint").alias("sdl"),
    )
    dt = tk.crossJoin(qt).select(
        "doc_id",
        F.size("toks").alias("dl"),
        "term",
        F.size(F.filter("toks", lambda x: x == F.col("term"))).alias("tf"),
    )
    dfq = (
        dt.filter(F.col("tf") > 0)
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    )
    sc = (
        dt.join(dfq, "term")
        .crossJoin(st)
        .select(
            "doc_id",
            F.expr(
                "CASE WHEN tf > 0 THEN"
                " CAST(round("
                "   round(ln((n - df + 0.5) / (df + 0.5) + 1), 6)"
                "   * ((44 * tf * sdl)"
                "      / CAST(20 * tf * sdl + 6 * sdl"
                "             + 18 * dl * n AS DOUBLE))"
                "   * 1000000, 0) AS BIGINT)"
                " ELSE 0 END"
            ).alias("tsm"),
        )
        .groupBy("doc_id")
        .agg(F.sum("tsm").cast("bigint").alias("score_micro"))
    )
    top = (
        sc.filter(F.col("score_micro") > 0)
        .orderBy(F.desc("score_micro"), "doc_id")
        .limit(PRF_TOPK)
    )
    ranked = top.select(
        F.row_number()
        .over(Window.orderBy(F.desc("score_micro"), "doc_id"))
        .cast("bigint")
        .alias("rank"),
        "doc_id",
        "score_micro",
    )
    return ranked.join(
        s25, ranked.doc_id == F.col("sdoc"), "left"
    ).select(
        "rank",
        "doc_id",
        "score_micro",
        F.when(F.col("sdoc").isNull(), 1)
        .otherwise(0)
        .cast("bigint")
        .alias("is_new"),
    )


# ---------------------------------------------------------------------------
# bm25_param_sensitivity — (k1, b) tuning table (r5s14)
# ---------------------------------------------------------------------------

# (label, k1 = p/q, b = r/s) — baseline first (the corpus scorers'
# 1.2 / 0.75), then the short-doc-friendly and high-saturation points.
BM25_VARIANTS = (
    ("k1_1.2_b_0.75", 6, 5, 3, 4),
    ("k1_0.9_b_0.40", 9, 10, 2, 5),
    ("k1_2.0_b_0.75", 2, 1, 3, 4),
)
BPS_K = 10


def _bm25_general_score(p: int, q: int, r: int, s: int) -> str:
    """Per-term BM25 with k1=p/q, b=r/s restated over exact integers:
    tf(k1+1)/(tf + k1(1-b+b·dl/avgdl)) =
    tf(p+q)·s·SDL / (tf·q·s·SDL + p(s-r)·SDL + p·r·dl·N)."""
    terms = []
    for i in range(3):  # len(BM25_TERMS)
        idf6 = f"round(ln((n - df{i} + 0.5) / (df{i} + 0.5) + 1), 6)"
        ratio = (
            f"((tf{i} * {(p + q) * s} * sdl)"
            f" / CAST(tf{i} * {q * s} * sdl + {p * (s - r)} * sdl"
            f" + {p * r} * dl * n AS DOUBLE))"
        )
        terms.append(
            f"CASE WHEN tf{i} > 0 THEN round({idf6} * {ratio}, 6)"
            " ELSE 0.0 END"
        )
    return "round(" + " + ".join(terms) + ", 6)"


def _bps_oracle_sql() -> str:
    base = bm25_oracle_cte(BM25_TERMS, _TOKS)
    tops = []
    for lbl, p, q, r, s in BM25_VARIANTS:
        sc = _bm25_general_score(p, q, r, s)
        tops.append(
            f"""t_{lbl.replace('.', '_')} AS (
          SELECT doc_id FROM (
            SELECT doc_id, {sc} AS sc FROM d CROSS JOIN st
            WHERE {sc} > 0)
          ORDER BY sc DESC, doc_id LIMIT {BPS_K})"""
        )
    rows = []
    base_t = "t_" + BM25_VARIANTS[0][0].replace(".", "_")
    for lbl, p, q, r, s in BM25_VARIANTS:
        t = "t_" + lbl.replace(".", "_")
        rows.append(
            f"""SELECT '{lbl}' AS variant,
                   CAST({p} * 1000 // {q} AS BIGINT) AS k1_milli,
                   CAST({r} * 1000 // {s} AS BIGINT) AS b_milli,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM {t}
                    WHERE doc_id IN (SELECT doc_id FROM {base_t}))
                       AS overlap_with_base,
                   (SELECT CAST(MIN(doc_id) AS BIGINT) FROM {t}) AS min_doc"""
        )
    return (
        "WITH "
        + base
        + ",\n    "
        + ",\n    ".join(tops)
        + "\n    "
        + "\n    UNION ALL ".join(rows)
    )


@register("bm25_param_sensitivity", oracle=_bps_oracle_sql())
def bm25_param_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 (k1, b) sensitivity: the top-10 under the production
    parameters vs a low-saturation/low-normalization point (0.9, 0.4
    — the short-field convention) and a high-k1 point (2.0, 0.75),
    reported as overlap with the baseline list. If overlap stays
    high, parameter tuning is cosmetic for this corpus; if it
    collapses, bm25_topk's ranking is a knife-edge and needs an eval
    set (bm25_ndcg_eval) before anyone ships a tweak.

    Exactness: the general-(k1,b) term keeps the integer-ratio
    restatement — tf(p+q)·s·SDL / (tf·q·s·SDL + p(s−r)·SDL +
    p·r·dl·N) with k1=p/q, b=r/s as exact rationals — so every
    variant scores by the same fixed scalar shape as the production
    scorer; lists are tie-broken TakeOrdered heaps, overlaps exact
    integers.

    Scale shape: ONE corpus pass builds the shared (dl, tf) table
    (the bm25_scored dataflow); each variant adds only a scalar
    projection + a k-bounded heap."""
    docs = load_table(spark, sf_dir, "documents")
    from dbt_project_spark.operators.dedup import tokens_col

    toks = tokens_col("text")

    def _eq(term):
        return lambda x: x == F.lit(term)

    cols = [F.col("doc_id"), F.size(toks).alias("dl")]
    for i, t in enumerate(BM25_TERMS):
        cols.append(F.size(F.filter(toks, _eq(t))).alias(f"tf{i}"))
    d = docs.select(*cols)
    aggs = [F.count(F.lit(1)).alias("n"), F.sum("dl").alias("sdl")]
    for i in range(len(BM25_TERMS)):
        aggs.append(
            F.sum((F.col(f"tf{i}") > 0).cast("bigint")).alias(f"df{i}")
        )
    st = d.agg(*aggs)
    scored = d.crossJoin(st)
    from dbt_project_spark.caching import persist_tracked

    scored = persist_tracked(scored)
    tops = {}
    for lbl, p, q, r, s in BM25_VARIANTS:
        sc = _bm25_general_score(p, q, r, s)
        tops[lbl] = (
            scored.select("doc_id", F.expr(sc).alias("sc"))
            .filter(F.col("sc") > 0)
            .orderBy(F.desc("sc"), "doc_id")
            .limit(BPS_K)
            .select("doc_id")
        )
    base_lbl = BM25_VARIANTS[0][0]
    out = None
    for lbl, p, q, r, s in BM25_VARIANTS:
        ov = (
            tops[lbl]
            .join(
                tops[base_lbl].select(F.col("doc_id").alias("bdoc")),
                tops[lbl].doc_id == F.col("bdoc"),
                "left",
            )
            .agg(
                F.sum(F.when(F.col("bdoc").isNotNull(), 1).otherwise(0))
                .cast("bigint")
                .alias("overlap_with_base"),
                F.min("doc_id").cast("bigint").alias("min_doc"),
            )
            .select(
                F.lit(lbl).alias("variant"),
                F.lit(p * 1000 // q).cast("bigint").alias("k1_milli"),
                F.lit(r * 1000 // s).cast("bigint").alias("b_milli"),
                "overlap_with_base",
                "min_doc",
            )
        )
        out = ov if out is None else out.unionByName(ov)
    return out
