"""Similarity-search family over `embeddings`: exact brute-force
cosine top-k (correctness baseline) and hyperplane-LSH bucketed top-k
(the scale path) — both oracle-verified; the LSH oracle reproduces the
identical bucketing via the shared literal hyperplane matrix."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbt_project_spark.catalog import register
from dbt_project_spark.operators.joins import at_most
from dbt_project_spark.operators.similarity import (
    LSH_W,
    ann_corpus,
    ann_queries,
    bruteforce_topk,
    hyperplane_lsh_topk,
    recall_at_k,
)
from dbt_project_spark.sources import load_table

TOPK = 10
NQUERIES = 5  # vec_id < 5 are the query vectors

_COS_FLAT = """
    flat AS (SELECT query_id, neighbor_id,
                    unnest(qe)::DOUBLE AS x, unnest(ce)::DOUBLE AS y
             FROM pairs),
    sims AS (SELECT query_id, neighbor_id,
                    ROUND(SUM(x*y) / (SQRT(SUM(x*x)) * SQRT(SUM(y*y))), 6) AS cosine
             FROM flat GROUP BY query_id, neighbor_id),
    ranked AS (SELECT query_id, neighbor_id, cosine,
                      CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                           ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
               FROM sims)
    SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= {k}
"""


@register(
    "ann_bruteforce_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings
               WHERE vec_id < {NQUERIES}),
    pairs AS (SELECT q.query_id, e.vec_id AS neighbor_id, q.qe, e.embedding AS ce
              FROM q JOIN embeddings e ON e.vec_id != q.query_id),
    {_COS_FLAT.format(k=TOPK)}
    """,
)
def ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 for the 5 query vectors."""
    e = load_table(spark, sf_dir, "embeddings")
    return bruteforce_topk(ann_queries(e, NQUERIES), ann_corpus(e), TOPK)


def _lsh_bucket_sql(vec: str) -> str:
    """bucket expression via list_inner_product against the literal
    hyperplane matrix (sign bits only — accumulation-order-safe)."""
    terms = []
    for j, row in enumerate(LSH_W):
        lit = "[" + ", ".join(repr(x) for x in row) + "]"
        terms.append(
            f"(CASE WHEN list_inner_product({vec}::DOUBLE[], {lit}::DOUBLE[]) >= 0 "
            f"THEN {2**j} ELSE 0 END)"
        )
    return "CAST(" + " + ".join(terms) + " AS INT)"


@register(
    "ann_lsh_topk",
    oracle=f"""
    WITH b AS (SELECT vec_id, embedding, {_lsh_bucket_sql('embedding')} AS bucket
               FROM embeddings),
    q AS (SELECT vec_id AS query_id, embedding AS qe, bucket FROM b
          WHERE vec_id < {NQUERIES}),
    pairs AS (SELECT q.query_id, c.vec_id AS neighbor_id, q.qe, c.embedding AS ce
              FROM q JOIN b c ON c.bucket = q.bucket AND c.vec_id != q.query_id),
    {_COS_FLAT.format(k=TOPK)}
    """,
)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH bucketed approximate top-10 (same algorithm as
    the oracle: shared literal hyperplanes, sign-bit bucket, score
    within bucket only)."""
    e = load_table(spark, sf_dir, "embeddings")
    q = at_most(ann_queries(e, NQUERIES), NQUERIES)  # vec_id: key
    return hyperplane_lsh_topk(q, ann_corpus(e), TOPK)


def _cos_ranked_sql(pairs: str, suffix: str, k: int) -> str:
    """Suffixed copy of the cosine-rank CTE stack (CTE names are
    file-scope in SQL, so combining two rankings in one oracle needs
    distinct names)."""
    return f"""
    flat{suffix} AS (SELECT query_id, neighbor_id,
                    unnest(qe)::DOUBLE AS x, unnest(ce)::DOUBLE AS y
             FROM {pairs}),
    sims{suffix} AS (SELECT query_id, neighbor_id,
                    ROUND(SUM(x*y) / (SQRT(SUM(x*x)) * SQRT(SUM(y*y))), 6)
                        AS cosine
             FROM flat{suffix} GROUP BY query_id, neighbor_id),
    top{suffix} AS (SELECT query_id, neighbor_id FROM (
                SELECT query_id, neighbor_id,
                       ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS rank
                FROM sims{suffix})
              WHERE rank <= {k})"""


@register(
    "ann_recall_lsh",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings
               WHERE vec_id < {NQUERIES}),
    pairs_bf AS (SELECT q.query_id, e.vec_id AS neighbor_id,
                        q.qe, e.embedding AS ce
                 FROM q JOIN embeddings e ON e.vec_id != q.query_id),
    {_cos_ranked_sql('pairs_bf', '_bf', TOPK)},
    b AS (SELECT vec_id, embedding, {_lsh_bucket_sql('embedding')} AS bucket
          FROM embeddings),
    ql AS (SELECT vec_id AS query_id, embedding AS qe, bucket FROM b
           WHERE vec_id < {NQUERIES}),
    pairs_lsh AS (SELECT ql.query_id, c.vec_id AS neighbor_id,
                         ql.qe, c.embedding AS ce
                  FROM ql JOIN b c ON c.bucket = ql.bucket
                                  AND c.vec_id != ql.query_id),
    {_cos_ranked_sql('pairs_lsh', '_lsh', TOPK)},
    m AS (SELECT t.query_id, CAST(COUNT(l.neighbor_id) AS BIGINT) AS n_matched
          FROM top_bf t LEFT JOIN top_lsh l
            ON l.query_id = t.query_id AND l.neighbor_id = t.neighbor_id
          GROUP BY t.query_id)
    SELECT query_id, CAST({TOPK} AS BIGINT) AS k, n_matched,
           ROUND(n_matched * 1.0 / {TOPK}, 6) AS recall
    FROM m
    """,
)
def ann_recall_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the LSH-bucketed ANN against the exact brute-force
    ranking, per query — the quality metric every production ANN
    deployment monitors next to its latency (an index that silently
    drops to recall 0.3 is worse than a slow exact scan). Both
    rankings are deterministic (shared literal hyperplanes, total
    tie-break order), so even this meta-metric hash-gates exactly.

    Scale shape: the brute-force side is the correctness anchor and
    costs queries×corpus — at 100 TB you run it over a SAMPLED query
    set (queries here are 5 fixed ids, exactly that shape); the LSH
    side is bucket-local. The final comparison joins two ≤(queries×k)
    heaps — negligible. A scheduled job alerting on this query is the
    index-drift monitor.
    """
    e = load_table(spark, sf_dir, "embeddings")
    q, c = ann_queries(e, NQUERIES), ann_corpus(e)
    lsh = hyperplane_lsh_topk(at_most(q, NQUERIES), c, TOPK)
    return recall_at_k(bruteforce_topk(q, c, TOPK), lsh, TOPK)


# ---------------------------------------------------------------------------
# ann_recall_quantized — int8 quantization quality monitor (r4s4)
# ---------------------------------------------------------------------------

_QMAX = 127


@register(
    "ann_recall_quantized",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings
               WHERE vec_id < {NQUERIES}),
    pairs_bf AS (SELECT q.query_id, e.vec_id AS neighbor_id,
                        q.qe, e.embedding AS ce
                 FROM q JOIN embeddings e ON e.vec_id != q.query_id),
    {_cos_ranked_sql('pairs_bf', '_bf', TOPK)},
    codes AS (SELECT vec_id,
                     list_transform(embedding, x -> CAST(round(
                       x::DOUBLE / list_max(list_transform(embedding,
                                            y -> abs(y::DOUBLE))) * {_QMAX})
                       AS BIGINT)) AS code
              FROM embeddings),
    pairs_q AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                       a.code AS qa, b.code AS qb
                FROM codes a JOIN codes b ON b.vec_id != a.vec_id
                WHERE a.vec_id < {NQUERIES}),
    flat_q AS (SELECT query_id, neighbor_id,
                      unnest(qa) AS x, unnest(qb) AS y
               FROM pairs_q),
    idot AS (SELECT query_id, neighbor_id,
                    CAST(SUM(x * y) AS BIGINT) AS d
             FROM flat_q GROUP BY query_id, neighbor_id),
    top_q AS (SELECT query_id, neighbor_id FROM (
                SELECT query_id, neighbor_id,
                       ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY d DESC, neighbor_id) AS rank
                FROM idot)
              WHERE rank <= {TOPK}),
    m AS (SELECT t.query_id, CAST(COUNT(l.neighbor_id) AS BIGINT) AS n_matched
          FROM top_bf t LEFT JOIN top_q l
            ON l.query_id = t.query_id AND l.neighbor_id = t.neighbor_id
          GROUP BY t.query_id)
    SELECT query_id, CAST({TOPK} AS BIGINT) AS k, n_matched,
           ROUND(n_matched * 1.0 / {TOPK}, 6) AS recall
    FROM m
    """,
)
def ann_recall_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of int8-QUANTIZED retrieval against the exact float
    ranking — the quality check that licenses the 4× storage /
    SIMD-bandwidth win of vec_quantize_int8 for actual search:
    candidates are ranked by the INTEGER dot product of per-vector
    absmax int8 codes (bit-exact, associative — the quantized score
    needs no float at all), then compared to the full-precision
    cosine top-k per query. Pairs with ann_recall_lsh: that one
    monitors the INDEX's candidate loss, this one the CODE's ranking
    loss.

    Exactness: the quantized ranking is pure BIGINT (code products
    summed — order-independent), ties to the lowest neighbor id; the
    float side is the established hash-gated brute-force ranking. The
    recall fraction is the only division.

    Scale shape: codes are one projection; the quantized scoring is
    the same queries×corpus fan-out as the brute-force anchor (at
    100 TB both sides run over a sampled query set — the monitor
    needs a sample, not the corpus); top-k per query is a window over
    each query's candidates.
    """
    e = load_table(spark, sf_dir, "embeddings")
    codes = e.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda v: F.round(
                v.cast("double")
                / F.array_max(
                    F.transform(
                        "embedding", lambda y: F.abs(y.cast("double"))
                    )
                )
                * _QMAX
            ).cast("long"),
        ).alias("code"),
    )
    qa = at_most(  # vec_id is the key: NQUERIES rows
        codes.filter(F.col("vec_id") < NQUERIES).select(
            F.col("vec_id").alias("query_id"), F.col("code").alias("qa")
        ),
        NQUERIES,
    )
    qb = codes.select(
        F.col("vec_id").alias("neighbor_id"), F.col("code").alias("qb")
    )
    idot = (
        qa.join(qb, F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.aggregate(
                F.zip_with("qa", "qb", lambda a, b: a * b),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("d"),
        )
    )
    from pyspark.sql import Window

    wq = Window.partitionBy("query_id").orderBy(
        F.desc("d"), F.asc("neighbor_id")
    )
    top_q = idot.withColumn("rank", F.row_number().over(wq)).filter(
        F.col("rank") <= TOPK
    )
    top_bf = bruteforce_topk(ann_queries(e, NQUERIES), ann_corpus(e), TOPK)
    return recall_at_k(top_bf, top_q, TOPK)


# ---------------------------------------------------------------------------
# ann_recall_truncated_dims — dimension-truncation quality monitor (r4s4)
# ---------------------------------------------------------------------------

TRUNC_DIMS = 32  # keep the first half of the 64 dims (MRL-style)


@register(
    "ann_recall_truncated_dims",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings
               WHERE vec_id < {NQUERIES}),
    pairs_bf AS (SELECT q.query_id, e.vec_id AS neighbor_id,
                        q.qe, e.embedding AS ce
                 FROM q JOIN embeddings e ON e.vec_id != q.query_id),
    {_cos_ranked_sql('pairs_bf', '_bf', TOPK)},
    tr AS (SELECT vec_id, list_slice(embedding, 1, {TRUNC_DIMS}) AS emb
           FROM embeddings),
    qt AS (SELECT vec_id AS query_id, emb AS qe FROM tr
           WHERE vec_id < {NQUERIES}),
    pairs_tr AS (SELECT qt.query_id, t.vec_id AS neighbor_id,
                        qt.qe, t.emb AS ce
                 FROM qt JOIN tr t ON t.vec_id != qt.query_id),
    {_cos_ranked_sql('pairs_tr', '_tr', TOPK)},
    m AS (SELECT t.query_id, CAST(COUNT(l.neighbor_id) AS BIGINT) AS n_matched
          FROM top_bf t LEFT JOIN top_tr l
            ON l.query_id = t.query_id AND l.neighbor_id = t.neighbor_id
          GROUP BY t.query_id)
    SELECT query_id, CAST({TOPK} AS BIGINT) AS k, n_matched,
           ROUND(n_matched * 1.0 / {TOPK}, 6) AS recall
    FROM m
    """,
)
def ann_recall_truncated_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k when retrieval uses only the FIRST {TRUNC_DIMS} of 64
    dimensions — the Matryoshka/dimension-truncation quality monitor:
    modern embedding models are trained so prefixes remain usable, and
    this number is what licenses serving at half the vector storage
    and twice the scan throughput. Completes the retrieval-quality
    trio: ann_recall_lsh (index loss), ann_recall_quantized (code
    loss), this (dimension loss).

    Determinism: both rankings are the established hash-gated cosine
    rankings (ROUND 6, neighbor-id tie-break) — the truncated side
    just runs on sliced arrays; the recall fraction is the only new
    arithmetic.

    Scale shape: same queries×corpus fan-out as the brute-force
    anchor on both sides (a sampled-query monitor at scale); slicing
    is a projection inside codegen.
    """
    e = load_table(spark, sf_dir, "embeddings")
    top_bf = bruteforce_topk(ann_queries(e, NQUERIES), ann_corpus(e), TOPK)
    tr = e.select(
        "vec_id", F.slice("embedding", 1, TRUNC_DIMS).alias("embedding")
    )
    top_tr = bruteforce_topk(ann_queries(tr, NQUERIES), ann_corpus(tr), TOPK)
    return recall_at_k(top_bf, top_tr, TOPK)


# ---------------------------------------------------------------------------
# knn_langid_eval — supervised kNN eval over embeddings (r5s12)
# ---------------------------------------------------------------------------

KNN_K = 5
KNN_TEST_MOD = 5  # vec_id % 5 == 0 held out (the NB split convention)


@register(
    "knn_langid_eval",
    oracle=f"""
    WITH lab AS (SELECT e.vec_id, e.embedding, d.lang
                 FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id),
    q AS (SELECT vec_id AS query_id, embedding AS qe, lang AS true_lang
          FROM lab WHERE vec_id % {KNN_TEST_MOD} = 0),
    c AS (SELECT vec_id AS neighbor_id, embedding AS ce, lang
          FROM lab WHERE vec_id % {KNN_TEST_MOD} <> 0),
    pairs AS (SELECT q.query_id, c.neighbor_id, q.qe, c.ce
              FROM q CROSS JOIN c),
    flat AS (SELECT query_id, neighbor_id,
                    unnest(qe)::DOUBLE AS x, unnest(ce)::DOUBLE AS y
             FROM pairs),
    sims AS (SELECT query_id, neighbor_id,
                    ROUND(SUM(x*y) / (SQRT(SUM(x*x)) * SQRT(SUM(y*y))), 6)
                        AS cosine
             FROM flat GROUP BY 1, 2),
    nn AS (SELECT query_id, neighbor_id FROM (
             SELECT query_id, neighbor_id,
                    ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY cosine DESC, neighbor_id)
                        AS rk
             FROM sims) WHERE rk <= {KNN_K}),
    vote AS (SELECT nn.query_id, c.lang, CAST(COUNT(*) AS BIGINT) AS v
             FROM nn JOIN c ON c.neighbor_id = nn.neighbor_id
             GROUP BY 1, 2),
    pred AS (SELECT query_id, lang AS pred_lang FROM (
               SELECT query_id, lang,
                      ROW_NUMBER() OVER (PARTITION BY query_id
                                         ORDER BY v DESC, lang) AS rk
               FROM vote) WHERE rk = 1)
    SELECT q.true_lang, p.pred_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM pred p JOIN q ON q.query_id = p.query_id
    GROUP BY 1, 2
    """,
)
def knn_langid_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-nearest-neighbor label prediction over the embedding corpus,
    evaluated on the held-out fifth (vec_id % {KNN_TEST_MOD} = 0, the
    NB split): each test vector takes the majority language of its
    {KNN_K} nearest TRAIN vectors by exact cosine, and the output is
    the confusion matrix — directly comparable to
    nb_lang_classifier's (same split, same shape). The vector-side
    answer to 'do the embeddings carry the label signal at all?' —
    run after any encoder change; chance-level accuracy on a corpus
    whose NB text model scores high means the embeddings, not the
    labels, are broken.

    Determinism: cosines are 6-dp rounded, neighbor and vote ranks
    tie-broken totally ((cosine, neighbor_id), (votes, lang)); the
    confusion counts are exact integers.

    Scale shape: brute-force test×train pairs — the CORRECTNESS
    baseline, test-set-sized × corpus (documented: at 10⁹ vectors
    serve the neighbor search from the persisted IVF/LSH index
    exactly as ann_ivf_topk does; the vote/confusion layers are
    unchanged). Votes and the matrix are k·|test|-sized."""
    e = load_table(spark, sf_dir, "embeddings")
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    lab = e.join(d, e.vec_id == d.doc_id).select("vec_id", "embedding", "lang")
    from dbt_project_spark.caching import persist_tracked

    lab = persist_tracked(lab)
    q = lab.filter(F.col("vec_id") % KNN_TEST_MOD == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("lang").alias("true_lang"),
    )
    c = lab.filter(F.col("vec_id") % KNN_TEST_MOD != 0).select(
        F.col("vec_id").alias("neighbor_id"), "embedding", "lang"
    )
    nn = bruteforce_topk(
        q.select("query_id", "qe"),
        c.select("neighbor_id", "embedding"),
        KNN_K,
    )
    vote = (
        nn.join(
            c.select("neighbor_id", "lang"), "neighbor_id"
        )
        .groupBy("query_id", "lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("v"))
    )
    from pyspark.sql import Window

    pk = Window.partitionBy("query_id").orderBy(F.desc("v"), "lang")
    pred = (
        vote.withColumn("rk", F.row_number().over(pk))
        .filter(F.col("rk") == 1)
        .select("query_id", F.col("lang").alias("pred_lang"))
    )
    return (
        pred.join(q.select("query_id", "true_lang"), "query_id")
        .groupBy("true_lang", "pred_lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    )
