"""Corpus-pipeline family (round 2): decontamination, dup clustering,
corpus statistics, normalization — the operations a training-data
pipeline runs between raw crawl and tokenizer.

Oracle notes: the cluster query's oracle is a recursive CTE (DuckDB
WITH RECURSIVE) computing the same min-label fixpoint as the Spark
iterative loop; both are deterministic (min id per component is
independent of evaluation order).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dbt_project_spark.catalog import register
from dbt_project_spark.operators.dedup import (
    minhash_clusters,
    shingles_col,
    tokens_col,
)
from dbt_project_spark.operators.joins import literal_table
from dbt_project_spark.operators.text_clean import normalize_text
from dbt_project_spark.queries_dedup import JACCARD_T, _minhash_oracle
from dbt_project_spark.sources import load_table

# n-gram order for contamination checks. Production pipelines use
# 8-13; the synthetic corpus' short word-salad docs make 5-grams
# near-unique (1 hit at sf0.01), so 4 keeps the oracle non-degenerate
# (8 contaminated docs) while exercising the same mechanism.
CONTAM_N = 4
BENCH_MOD = 97  # doc_id % BENCH_MOD == 0 → stand-in benchmark doc

_TOKS = "regexp_extract_all(lower(text), '[a-z0-9]+')"


def _ngram_sql(n: int) -> str:
    """DuckDB list expression: distinct word n-grams of token list t."""
    parts = " || ' ' || ".join(f"t[i+{j}]" for j in range(n))
    return (
        f"CASE WHEN len(t) >= {n} THEN list_distinct(list_transform("
        f"range(1, len(t) - {n - 2}), i -> {parts})) ELSE [] END"
    )


@register(
    "contamination_ngram",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    grams AS (SELECT doc_id, unnest({_ngram_sql(CONTAM_N)}) AS g FROM toks),
    bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % {BENCH_MOD} = 0),
    corpus AS (SELECT doc_id, g FROM grams WHERE doc_id % {BENCH_MOD} != 0),
    szs AS (SELECT doc_id, COUNT(*) AS n_grams FROM corpus GROUP BY doc_id),
    hits AS (SELECT c.doc_id, COUNT(*) AS n_hits
             FROM corpus c JOIN bench b ON c.g = b.g GROUP BY c.doc_id)
    SELECT h.doc_id, h.n_hits,
           ROUND(h.n_hits / (s.n_grams * 1.0), 6) AS contamination
    FROM hits h JOIN szs s ON s.doc_id = h.doc_id
    """,
)
def contamination_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination by exact n-gram collision — the
    standard check before training (docs sharing 5-grams with an eval
    set are flagged with their contaminated fraction).

    The benchmark set (stand-in: doc_id % 97 == 0) is tiny relative
    to the corpus, so its distinct n-grams BROADCAST: the corpus
    streams through one hash-join probe, no corpus shuffle for the
    match. Per-doc aggregation shuffles only (doc_id, counts)."""
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "__toks", tokens_col("text")
    )
    grams = docs.select(
        "doc_id", F.explode(shingles_col("__toks", CONTAM_N)).alias("g")
    )
    is_bench = F.col("doc_id") % BENCH_MOD == 0
    bench = grams.filter(is_bench).select("g").distinct()
    corpus = grams.filter(~is_bench)
    szs = corpus.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    hits = (
        corpus.join(bench, on="g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return hits.join(szs, on="doc_id").select(
        "doc_id",
        "n_hits",
        F.round(F.col("n_hits") / (F.col("n_grams") * F.lit(1.0)), 6).alias(
            "contamination"
        ),
    )


# pairs (the MinHash oracle) → labels (doc_id, cluster_id): the
# connected components as a recursive min-label fixpoint, as WITH
# clauses.
_LABELS_CTE = f"""
    WITH RECURSIVE pairs AS ({_minhash_oracle()}),
    sym AS (SELECT doc_a AS u, doc_b AS v FROM pairs
            UNION ALL SELECT doc_b, doc_a FROM pairs),
    nodes AS (SELECT DISTINCT u AS node FROM sym),
    reach(node, lab) AS (
        SELECT node, node FROM nodes
        UNION
        SELECT s.v, r.lab FROM reach r JOIN sym s ON s.u = r.node
    ),
    labels AS (SELECT node AS doc_id, MIN(lab) AS cluster_id
               FROM reach GROUP BY node)"""


def _clusters_oracle() -> str:
    return f"""{_LABELS_CTE},
    sized AS (SELECT cluster_id, COUNT(*) AS cluster_size
              FROM labels GROUP BY cluster_id)
    SELECT l.doc_id, l.cluster_id, s.cluster_size
    FROM labels l JOIN sized s ON s.cluster_id = l.cluster_id
    """


@register("dedup_clusters", oracle=_clusters_oracle())
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs folded into canonical clusters: connected
    components over the MinHash-LSH pair graph, cluster_id = min
    doc_id in the component (the doc a dedup pass would keep).

    Spark side is the iterative min-label propagation loop
    (operators/dedup.py:connected_components); the oracle reaches the
    same fixpoint with a recursive CTE. Only docs that appear in some
    near-dup pair are emitted (singletons are the corpus majority and
    carry no dedup decision)."""
    _, labels = minhash_clusters(
        load_table(spark, sf_dir, "documents"), "doc_id", "text", JACCARD_T
    )
    sized = labels.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return labels.join(sized, on="cluster_id").select(
        "doc_id", "cluster_id", "cluster_size"
    )


@register(
    "corpus_token_stats",
    oracle=f"""
    WITH toks AS (SELECT doc_id, lang, source, {_TOKS} AS t FROM documents),
    ex AS (SELECT doc_id, lang, source, unnest(t) AS tk FROM toks),
    per_group AS (SELECT lang, source,
                         COUNT(DISTINCT doc_id) AS n_docs,
                         COUNT(*) AS total_tokens,
                         COUNT(DISTINCT tk) AS vocab
                  FROM ex GROUP BY lang, source)
    SELECT lang, source, n_docs, total_tokens, vocab,
           total_tokens / (n_docs * 1.0) AS avg_tokens
    FROM per_group
    """,
)
def corpus_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(lang, source) corpus statistics: docs, token volume,
    vocabulary size, mean doc length — the partition-planning numbers
    for a tokenization run. Single explode + one grouped aggregation
    (distinct counts shuffle (group, token) pairs; at 100 TB swap
    vocab to approx_count_distinct — see approx_distinct_users_daily
    for the gated pattern)."""
    ex = (
        load_table(spark, sf_dir, "documents")
        .withColumn("__toks", tokens_col("text"))
        .select("doc_id", "lang", "source", F.explode("__toks").alias("tk"))
    )
    g = ex.groupBy("lang", "source").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("total_tokens"),
        F.countDistinct("tk").alias("vocab"),
    )
    return g.select(
        "lang",
        "source",
        "n_docs",
        "total_tokens",
        "vocab",
        (F.col("total_tokens") / (F.col("n_docs") * F.lit(1.0))).alias("avg_tokens"),
    )


@register(
    "text_normalize",
    oracle="""
    SELECT doc_id,
           md5(trim(regexp_replace(regexp_replace(lower(text),
               '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS norm_md5,
           length(trim(regexp_replace(regexp_replace(lower(text),
               '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS norm_len
    FROM documents
    """,
)
def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical normalized form per doc (lowercase, punctuation →
    space, collapsed whitespace), emitted as md5 + length so the
    full normalized text never leaves the executors. Pure projection
    — no shuffle."""
    d = load_table(spark, sf_dir, "documents").withColumn(
        "__norm", normalize_text("text")
    )
    return d.select(
        "doc_id",
        F.md5("__norm").alias("norm_md5"),
        F.length("__norm").cast("bigint").alias("norm_len"),
    )


def _keep_list_oracle() -> str:
    return f"""{_LABELS_CTE}
    SELECT d.doc_id,
           COALESCE(l.cluster_id, d.doc_id) AS cluster_id,
           COALESCE(l.cluster_id, d.doc_id) = d.doc_id AS keep
    FROM documents d LEFT JOIN labels l ON l.doc_id = d.doc_id
    """


@register("corpus_keep_list", oracle=_keep_list_oracle())
def corpus_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end product of a near-dedup pass: a keep/drop decision for
    EVERY document. Docs in a MinHash-LSH near-dup cluster keep only
    the min-id representative; the singleton majority is kept
    untouched (left join against the clusters, not a scan of them).
    Downstream training jobs filter `WHERE keep` — this list is the
    interface between dedup and the rest of the pipeline.

    Scale shape: clusters cover only the near-dup fraction of the
    corpus, so the join adds a broadcast-sized (or at worst
    cluster-count-keyed) overlay onto one corpus scan — the corpus
    itself never self-joins here; all the pair work happened in the
    bucketed LSH stage."""
    docs = load_table(spark, sf_dir, "documents")
    _, labels = minhash_clusters(docs, "doc_id", "text", JACCARD_T)
    return (
        docs.select("doc_id")
        .join(labels, on="doc_id", how="left")
        .select(
            "doc_id",
            F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
            (F.coalesce("cluster_id", F.col("doc_id")) == F.col("doc_id")).alias(
                "keep"
            ),
        )
    )


# Train fraction for the group-aware split: md5-bucket < 8 of 10.
SPLIT_TRAIN_OF_10 = 8


def _split_oracle() -> str:
    return f"""{_LABELS_CTE},
    assign AS (
      SELECT d.doc_id,
             COALESCE(l.cluster_id, d.doc_id) AS cluster_id,
             CASE WHEN ('0x' || substr(md5(CAST(COALESCE(l.cluster_id,
                             d.doc_id) AS VARCHAR)), 1, 8))::BIGINT % 10
                       < {SPLIT_TRAIN_OF_10}
                  THEN 'train' ELSE 'val' END AS split,
             CAST(len(regexp_extract_all(lower(d.text), '[a-z0-9]+'))
                  AS BIGINT) AS n_tokens
      FROM documents d LEFT JOIN labels l ON l.doc_id = d.doc_id),
    leak AS (SELECT CAST(COUNT(*) AS BIGINT) AS leak_pairs
             FROM pairs p
             JOIN assign x ON x.doc_id = p.doc_a
             JOIN assign y ON y.doc_id = p.doc_b
             WHERE x.split <> y.split)
    SELECT a.split, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(a.n_tokens) AS BIGINT) AS n_tokens,
           CAST(COUNT(DISTINCT a.cluster_id) AS BIGINT) AS n_clusters,
           leak.leak_pairs
    FROM assign a CROSS JOIN leak
    GROUP BY a.split, leak.leak_pairs
    """


@register("split_group_aware", oracle=_split_oracle())
def split_group_aware(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-aware train/validation split: every document is assigned
    train/val by hashing its near-dup CLUSTER id (MinHash-LSH pairs →
    connected components; singletons hash their own id), so near-
    duplicates can never straddle the split — the leakage mode that
    inflates eval scores when a val doc's twin sits in train. The
    leak_pairs column COUNTS straddling near-dup pairs and is
    structurally zero; it rides in the output so the oracle (and any
    production run) verifies the invariant rather than assuming it.

    Scale shape: all pair work happened in the bucketed LSH stage;
    the split itself is one hash projection over the corpus plus a
    left join against the (near-dup-sized) label table — the same
    overlay cost as corpus_keep_list. The leak check joins the pairs
    table (near-dup-sized, not corpus-sized) against the assignment
    twice on doc_id equi-keys.
    """
    from dbt_project_spark.functions import md5_int

    from dbt_project_spark.caching import persist_tracked

    docs = load_table(spark, sf_dir, "documents")
    pairs, labels = minhash_clusters(docs, "doc_id", "text", JACCARD_T)
    assign = persist_tracked(
        docs.select("doc_id", "text")
        .join(labels, on="doc_id", how="left")
        .select(
            "doc_id",
            F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
            F.size(F.expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)"))
            .cast("bigint")
            .alias("n_tokens"),
        )
        .withColumn(
            "split",
            F.when(
                md5_int(F.col("cluster_id").cast("string")) % 10
                < SPLIT_TRAIN_OF_10,
                "train",
            ).otherwise("val"),
        )
    )
    xa = assign.select(
        F.col("doc_id").alias("doc_a"), F.col("split").alias("split_a")
    )
    xb = assign.select(
        F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b")
    )
    leak = (
        pairs.join(xa, "doc_a")
        .join(xb, "doc_b")
        .filter(F.col("split_a") != F.col("split_b"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("leak_pairs"))
    )
    return (
        assign.groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            F.countDistinct("cluster_id").cast("bigint").alias("n_clusters"),
        )
        .crossJoin(leak)
        .select("split", "n_docs", "n_tokens", "n_clusters", "leak_pairs")
    )


# Bigram-LM per-(doc, bigram-type) ×1e9 integer log-prob terms —
# the shared model/scoring CTE chain for bigram_lm_quality and
# ccnet_perplexity_buckets (CTE `terms`: doc_id, occ, term9).
_BG_TERMS_SQL = f"""t AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    big AS (SELECT doc_id,
                   unnest(list_transform(range(1, len(t)), i -> t[i])) AS w1,
                   unnest(list_transform(range(1, len(t)),
                                         i -> t[i] || ' ' || t[i+1])) AS bg
            FROM t WHERE len(t) >= 2),
    occ AS (SELECT doc_id, w1, bg, CAST(COUNT(*) AS BIGINT) AS occ
            FROM big GROUP BY 1, 2, 3),
    uni AS (SELECT unnest(t) AS w FROM t),
    c1 AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM uni GROUP BY 1),
    vv AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM c1),
    bgc AS (SELECT bg, CAST(SUM(occ) AS BIGINT) AS c12 FROM occ GROUP BY 1),
    terms AS (SELECT o.doc_id, o.occ,
                     CAST(round(ln((bgc.c12 + 1) * 1.0 / (c1.c + vv.v))
                                * 1000000000) AS BIGINT) AS term9
              FROM occ o JOIN bgc ON bgc.bg = o.bg
                         JOIN c1 ON c1.w = o.w1
                         CROSS JOIN vv)"""


def _bigram_doc_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of `_BG_TERMS_SQL`: (doc_id, occ, term9) — one
    ×1e9-integer add-one-smoothed bigram log-prob term per
    (document, bigram type), occurrence-weighted downstream."""
    from dbt_project_spark.caching import persist_tracked

    toks = (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)").alias(
                "t"
            ),
        )
    )
    toks = persist_tracked(toks)
    big = (
        toks.filter(F.size("t") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t) - 1),"
                    " i -> struct(t[i-1] AS w1,"
                    " concat(t[i-1], ' ', t[i]) AS bg))"
                )
            ).alias("x"),
        )
        .select("doc_id", F.col("x.w1").alias("w1"), F.col("x.bg").alias("bg"))
    )
    occ = persist_tracked(
        big.groupBy("doc_id", "w1", "bg").agg(
            F.count(F.lit(1)).cast("bigint").alias("occ")
        )
    )
    uni = toks.select(F.explode("t").alias("w"))
    c1 = uni.groupBy("w").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    c1 = persist_tracked(c1)
    vv = c1.agg(F.count(F.lit(1)).cast("bigint").alias("v"))
    bgc = occ.groupBy("bg").agg(F.sum("occ").cast("bigint").alias("c12"))
    return (
        occ.join(bgc, "bg")
        .join(c1.withColumnRenamed("w", "w1"), "w1")
        .crossJoin(vv)
        .select(
            "doc_id",
            "occ",
            F.round(
                F.log((F.col("c12") + 1) * 1.0 / (F.col("c") + F.col("v")))
                * 1_000_000_000
            )
            .cast("bigint")
            .alias("term9"),
        )
    )


@register(
    "bigram_lm_quality",
    oracle=f"""
    WITH {_BG_TERMS_SQL}
    SELECT doc_id, CAST(SUM(occ) AS BIGINT) AS n_bigrams,
           ROUND(SUM(occ * term9) / (1000000000.0 * SUM(occ)), 6)
               AS avg_logprob
    FROM terms GROUP BY doc_id
    """,
)
def bigram_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical-LM quality scoring: train an add-one-smoothed
    bigram language model ON the corpus itself and score every
    document by its mean bigram log-probability — the classic
    perplexity-style quality filter (word-salad and boilerplate
    score low; text matching corpus statistics scores high) that
    production pipelines run with KenLM; the dataflow here is the
    same, only the model is simpler. P(w2|w1) = (c(w1w2)+1)/(c(w1)+V).

    Float determinism: each bigram TYPE's ln term is one double
    expression ×1e9 → BIGINT (the PSI convention); a document's score
    is an integer occurrence-weighted sum with ONE final rounded
    division, so scores hash-gate exactly.

    Scale shape: two token-sized shuffles build the model (unigram
    and bigram counts, both map-side combinable — a stop-bigram hot
    key partials down like any word-count); scoring joins the
    per-(doc, bigram) occurrence table against the model on bigram
    and on w1 equi-keys, V rides along as a 1-row broadcast. Nothing
    is ever per-pair or corpus×corpus.
    """
    terms = _bigram_doc_terms(spark, sf_dir)
    return terms.groupBy("doc_id").agg(
        F.sum("occ").cast("bigint").alias("n_bigrams"),
        F.round(
            F.sum(F.col("occ") * F.col("term9"))
            / (1_000_000_000.0 * F.sum("occ")),
            6,
        ).alias("avg_logprob"),
    )


@register(
    "ccnet_perplexity_buckets",
    oracle=f"""
    WITH {_BG_TERMS_SQL},
    ds AS (SELECT doc_id,
                  CAST(SUM(occ) AS BIGINT) AS nb,
                  CAST(SUM(occ * term9) AS BIGINT) AS s9
           FROM terms GROUP BY doc_id),
    sm AS (SELECT d.doc_id, doc.lang, d.nb,
                  CAST(CASE WHEN d.s9 < 0
                       THEN -(abs(d.s9) // (1000 * d.nb))
                       ELSE d.s9 // (1000 * d.nb) END AS BIGINT)
                      AS score_micro
           FROM ds d JOIN documents doc ON doc.doc_id = d.doc_id),
    nt AS (SELECT lang, doc_id, nb, score_micro,
                  NTILE(3) OVER (PARTITION BY lang
                                 ORDER BY score_micro DESC, doc_id) AS b
           FROM sm)
    SELECT lang,
           CASE b WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                  ELSE 'tail' END AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(nb) AS BIGINT) AS n_bigrams,
           CAST(MIN(score_micro) AS BIGINT) AS min_score_micro,
           CAST(MAX(score_micro) AS BIGINT) AS max_score_micro
    FROM nt GROUP BY 1, 2
    """,
)
def ccnet_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's head/middle/tail split (Wenzek et al. 2020): score
    every document with the corpus bigram LM (same integer-term
    model as ``bigram_lm_quality``), then assign per-LANGUAGE
    perplexity terciles — head = best-scoring third, tail = worst.
    Production pipelines keep head+middle and route tail to extra
    filtering; per-language partitioning is the point (a single
    global cut would starve low-resource languages).

    Determinism: per-doc score is the exact integer
    occurrence-weighted term sum, reduced to a sign-safe TRUNCATING
    micro division (never a rounded double); NTILE(3) ordering is
    total (score desc, doc_id) so tercile edges match cross-engine.

    Scale shape: adds to the bigram model exactly one narrow
    per-doc aggregate plus a per-language NTILE — the window sorts
    (lang, score) with ~n_docs rows, tiny next to the token-stream
    model build it reuses. Output is ≤ 3·|langs| rows."""
    terms = _bigram_doc_terms(spark, sf_dir)
    ds = terms.groupBy("doc_id").agg(
        F.sum("occ").cast("bigint").alias("nb"),
        F.sum(F.col("occ") * F.col("term9")).cast("bigint").alias("s9"),
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    sm = ds.join(docs, "doc_id").select(
        "doc_id",
        "lang",
        "nb",
        F.expr(
            "CAST(CASE WHEN s9 < 0 THEN -(abs(s9) div (1000 * nb))"
            " ELSE s9 div (1000 * nb) END AS BIGINT)"
        ).alias("score_micro"),
    )
    w = Window.partitionBy("lang").orderBy(
        F.desc("score_micro"), F.col("doc_id")
    )
    nt = sm.withColumn("b", F.ntile(3).over(w))
    return (
        nt.groupBy(
            "lang",
            F.expr(
                "CASE b WHEN 1 THEN 'head' WHEN 2 THEN 'middle'"
                " ELSE 'tail' END"
            ).alias("bucket"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("nb").cast("bigint").alias("n_bigrams"),
            F.min("score_micro").cast("bigint").alias("min_score_micro"),
            F.max("score_micro").cast("bigint").alias("max_score_micro"),
        )
    )


BPE_TOP_PAIRS = 20  # strongest adjacent-character pairs kept


@register(
    "bpe_pair_counts",
    oracle=f"""
    WITH t AS (SELECT {_TOKS} AS t FROM documents),
    w AS (SELECT unnest(t) AS w FROM t),
    wf AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS f FROM w GROUP BY w),
    p AS (SELECT unnest(list_transform(range(1, length(w)),
                                       i -> substring(w, i, 2))) AS pair,
                 f
          FROM wf WHERE length(w) >= 2),
    c AS (SELECT pair, CAST(SUM(f) AS BIGINT) AS n FROM p GROUP BY pair),
    r AS (SELECT pair, n, ROW_NUMBER() OVER (ORDER BY n DESC, pair) AS rk
          FROM c)
    SELECT pair, n FROM r WHERE rk <= {BPE_TOP_PAIRS}
    """,
)
def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first iteration of BPE tokenizer training: corpus-weighted
    adjacent-character pair counts over the word vocabulary, top
    BPE_TOP_PAIRS — the pair the first merge would create, and the
    exact dataflow (vocab-weighted pair counting, argmax, re-segment,
    repeat) a from-scratch tokenizer trainer loops over. One
    iteration is the catalog-sized demonstrator; the loop repeats
    this query on a re-segmented vocabulary.

    Scale shape: pair counting runs over the DISTINCT word vocabulary
    weighted by word frequency — NOT over raw token occurrences
    (the vocabulary is orders of magnitude smaller than the corpus;
    this is why real BPE trainers build a word-count table first).
    Two map-side-combinable aggregates + a TakeOrdered heap.
    """
    toks = load_table(spark, sf_dir, "documents").select(
        F.explode(
            F.expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")
        ).alias("w")
    )
    wf = toks.groupBy("w").agg(F.count(F.lit(1)).cast("bigint").alias("f"))
    p = (
        wf.filter(F.length("w") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, length(w) - 1),"
                    " i -> substring(w, i, 2))"
                )
            ).alias("pair"),
            "f",
        )
    )
    c = p.groupBy("pair").agg(F.sum("f").cast("bigint").alias("n"))
    return (
        c.orderBy(F.desc("n"), F.asc("pair"))
        .limit(BPE_TOP_PAIRS)
        .select("pair", "n")
    )


def _cluster_hist_oracle() -> str:
    return f"""{_LABELS_CTE},
    sizes AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS sz
              FROM labels GROUP BY cluster_id),
    t AS (SELECT CAST(SUM(sz) AS BIGINT) AS docs_in_clusters FROM sizes)
    SELECT sizes.sz AS cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(COUNT(*) * sizes.sz AS BIGINT) AS n_docs,
           CAST(COUNT(*) * (sizes.sz - 1) AS BIGINT) AS n_removable,
           t.docs_in_clusters
    FROM sizes CROSS JOIN t
    GROUP BY sizes.sz, t.docs_in_clusters
    """


@register("dedup_cluster_histogram", oracle=_cluster_hist_oracle())
def dedup_cluster_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup yield report: the near-dup cluster SIZE distribution,
    with per-size cluster counts, covered docs, and the removable-doc
    count (size − 1 per cluster keeps one representative) — the
    one-screen answer to 'how much will dedup shrink the corpus, and
    is it dominated by pairs or by mega-clusters' (a fat tail here
    usually means boilerplate, not true duplication, and argues for
    span-level handling instead of whole-doc removal).

    Scale shape: reuses the MinHash-LSH → connected-components stack;
    everything after the labels table is cluster-sized aggregates.
    """
    _, labels = minhash_clusters(
        load_table(spark, sf_dir, "documents"), "doc_id", "text", JACCARD_T
    )
    sizes = labels.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("sz")
    )
    t = sizes.agg(F.sum("sz").cast("bigint").alias("docs_in_clusters"))
    return (
        sizes.crossJoin(t)
        .groupBy(F.col("sz").alias("cluster_size"), "docs_in_clusters")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_clusters"))
        .select(
            "cluster_size",
            "n_clusters",
            (F.col("n_clusters") * F.col("cluster_size"))
            .cast("bigint")
            .alias("n_docs"),
            (F.col("n_clusters") * (F.col("cluster_size") - 1))
            .cast("bigint")
            .alias("n_removable"),
            "docs_in_clusters",
        )
    )


# ---------------------------------------------------------------------------
# collocation_pmi — strongest word collocations by pointwise MI (r4s4)
# ---------------------------------------------------------------------------

PMI_MIN_PAIR = 5  # minimum bigram support (PMI on rare pairs is noise)
PMI_TOP_K = 20


@register(
    "collocation_pmi",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    big AS (SELECT unnest(list_transform(range(1, len(t)), i -> t[i])) AS w1,
                   unnest(list_transform(range(1, len(t)), i -> t[i+1])) AS w2
            FROM t WHERE len(t) >= 2),
    bc AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
           FROM big GROUP BY 1, 2),
    uni AS (SELECT unnest(t) AS w FROM t),
    c1 AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM uni GROUP BY 1),
    tots AS (SELECT (SELECT CAST(SUM(c12) AS BIGINT) FROM bc) AS np,
                    (SELECT CAST(SUM(c) AS BIGINT) FROM c1) AS wt),
    terms AS (SELECT bc.w1, bc.w2, bc.c12,
                     CAST(round(ln((CAST(bc.c12 AS DOUBLE) * tots.wt * tots.wt)
                                   / (CAST(tots.np AS DOUBLE) * x.c * y.c))
                                * 1000000000) AS BIGINT) AS pmi9
              FROM bc JOIN c1 x ON x.w = bc.w1
                      JOIN c1 y ON y.w = bc.w2
                      CROSS JOIN tots
              WHERE bc.c12 >= {PMI_MIN_PAIR}),
    r AS (SELECT *, ROW_NUMBER() OVER (ORDER BY pmi9 DESC, w1, w2) AS rk
          FROM terms)
    SELECT w1, w2, c12 AS n_pair,
           CAST(CASE WHEN pmi9 < 0 THEN -(abs(pmi9) // 1000)
                     ELSE pmi9 // 1000 END AS BIGINT) AS pmi_micro
    FROM r WHERE rk <= {PMI_TOP_K}
    """,
)
def collocation_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strongest word collocations in the corpus: adjacent-word pairs
    ranked by pointwise mutual information, PMI = ln(P(xy) /
    (P(x)·P(y))) — the classic phrase detector ('new york' scores
    high, 'of the' doesn't) that tokenizer/phrase-merge pipelines run
    before vocabulary induction. Pairs below PMI_MIN_PAIR support are
    dropped (rare-pair PMI is pure noise — the standard filter).

    Float determinism: each PMI is ONE double ln expression (written
    with the identical multiplication shape in both engines) ×1e9 →
    BIGINT; ranking happens on the integer, and the emitted value is
    a sign-safe truncating micro-unit (the WOE convention — Spark div
    truncates toward zero, DuckDB // floors, so negatives split on
    abs).

    Scale shape: the same two token-sized shuffles as
    bigram_lm_quality (bigram + unigram counts, both map-side
    combinable); totals ride a 1-row broadcast; the top-k is a
    TakeOrderedAndProject heap on the integer key — no global sort of
    the pair table.
    """
    toks = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)").alias("t"),
    )
    from dbt_project_spark.caching import persist_tracked

    toks = persist_tracked(toks)
    big = (
        toks.filter(F.size("t") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t) - 1),"
                    " i -> struct(t[i-1] AS w1, t[i] AS w2))"
                )
            ).alias("x")
        )
        .select(F.col("x.w1").alias("w1"), F.col("x.w2").alias("w2"))
    )
    bc = big.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("c12")
    )
    bc = persist_tracked(bc)
    uni = toks.select(F.explode("t").alias("w"))
    c1 = persist_tracked(
        uni.groupBy("w").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    tots = (
        bc.agg(F.sum("c12").cast("bigint").alias("np"))
        .crossJoin(c1.agg(F.sum("c").cast("bigint").alias("wt")))
    )
    terms = (
        bc.filter(F.col("c12") >= PMI_MIN_PAIR)
        .join(c1.select(F.col("w").alias("w1"), F.col("c").alias("cx")), "w1")
        .join(c1.select(F.col("w").alias("w2"), F.col("c").alias("cy")), "w2")
        .crossJoin(tots)
        .select(
            "w1",
            "w2",
            "c12",
            # CAST AS DOUBLE, not `* 1.0`: Spark parses bare decimal
            # literals as DECIMAL and the precision-capped decimal
            # division diverges from DuckDB's double path (measured:
            # last micro digit off by one — the SCALE.md pitfall).
            F.expr(
                "CAST(round(ln((CAST(c12 AS DOUBLE) * wt * wt)"
                " / (CAST(np AS DOUBLE) * cx * cy))"
                " * 1000000000) AS BIGINT)"
            ).alias("pmi9"),
        )
    )
    return (
        terms.orderBy(F.desc("pmi9"), F.asc("w1"), F.asc("w2"))
        .limit(PMI_TOP_K)
        .select(
            "w1",
            "w2",
            F.col("c12").alias("n_pair"),
            F.expr(
                "CAST(CASE WHEN pmi9 < 0 THEN -(abs(pmi9) div 1000)"
                " ELSE pmi9 div 1000 END AS BIGINT)"
            ).alias("pmi_micro"),
        )
    )


# ---------------------------------------------------------------------------
# zipf_vocab_fit — power-law fit of the word-frequency distribution (r4s4)
# ---------------------------------------------------------------------------

ZIPF_TOP = 200  # head of the frequency ranking used for the fit


@register(
    "zipf_vocab_fit",
    oracle=f"""
    WITH t AS (SELECT {_TOKS} AS t FROM documents),
    uni AS (SELECT unnest(t) AS w FROM t),
    wf AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS f FROM uni GROUP BY 1),
    top AS (SELECT f, ROW_NUMBER() OVER (ORDER BY f DESC, w) AS rank
            FROM wf ORDER BY f DESC, w LIMIT {ZIPF_TOP}),
    xy AS (SELECT CAST(round(ln(rank) * 1000000) AS BIGINT) AS x6,
                  CAST(round(ln(f) * 1000000) AS BIGINT) AS y6
           FROM top),
    m AS (SELECT MIN(x6) AS x0, MIN(y6) AS y0 FROM xy),
    s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(xy.x6 - m.x0) AS BIGINT) AS sx,
                 CAST(SUM(xy.y6 - m.y0) AS BIGINT) AS sy,
                 CAST(SUM((xy.x6 - m.x0) * (xy.y6 - m.y0)) AS BIGINT) AS sxy,
                 CAST(SUM((xy.x6 - m.x0) * (xy.x6 - m.x0)) AS BIGINT) AS sxx
          FROM xy CROSS JOIN m)
    SELECT n AS n_words,
           CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy
                AS VARCHAR) AS zipf_num,
           CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx
                AS VARCHAR) AS zipf_den
    FROM s
    """,
)
def zipf_vocab_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit of the corpus vocabulary: OLS slope of ln(freq)
    on ln(rank) over the top-ZIPF_TOP words — natural text sits near
    −1; a slope far off flags boilerplate floods or synthetic text
    (the corpus-health twin of benford_first_digit for language).

    Determinism: ranks come from a deterministic (freq DESC, word)
    ordering; ln terms are ×1e6 micro-log BIGINTs (the
    price_elasticity_parts convention — row products must stay in
    BIGINT for the shifted-sum OLS), combined in DECIMAL(38,0)/
    HUGEINT, slope emitted as the exact rational string pair.

    Scale shape: ONE token-sized word-count shuffle (map-side
    combined), then a TakeOrdered head of {ZIPF_TOP} rows — the rank
    window runs over that head only, never the full vocabulary, so an
    unbounded vocab can't force a single-partition sort.
    """
    from pyspark.sql import Window

    uni = load_table(spark, sf_dir, "documents").select(
        F.explode(
            F.expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")
        ).alias("w")
    )
    wf = uni.groupBy("w").agg(F.count(F.lit(1)).cast("bigint").alias("f"))
    top = (
        wf.orderBy(F.desc("f"), F.asc("w"))
        .limit(ZIPF_TOP)
        .withColumn(
            "rank",
            F.row_number().over(Window.orderBy(F.desc("f"), F.asc("w"))),
        )
    )
    xy = top.select(
        F.expr("CAST(round(ln(rank) * 1000000) AS BIGINT)").alias("x6"),
        F.expr("CAST(round(ln(f) * 1000000) AS BIGINT)").alias("y6"),
    )
    m = xy.agg(F.min("x6").alias("x0"), F.min("y6").alias("y0"))
    s = xy.crossJoin(m).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("x6") - F.col("x0")).cast("bigint").alias("sx"),
        F.sum(F.col("y6") - F.col("y0")).cast("bigint").alias("sy"),
        F.sum((F.col("x6") - F.col("x0")) * (F.col("y6") - F.col("y0")))
        .cast("bigint")
        .alias("sxy"),
        F.sum((F.col("x6") - F.col("x0")) * (F.col("x6") - F.col("x0")))
        .cast("bigint")
        .alias("sxx"),
    )
    dec = "CAST(n AS DECIMAL(38,0))"
    sxdec = "CAST(sx AS DECIMAL(38,0))"
    return s.select(
        F.col("n").alias("n_words"),
        F.expr(f"CAST({dec} * sxy - {sxdec} * sy AS STRING)").alias(
            "zipf_num"
        ),
        F.expr(f"CAST({dec} * sxx - {sxdec} * sx AS STRING)").alias(
            "zipf_den"
        ),
    )


# ---------------------------------------------------------------------------
# heaps_law_fit — vocabulary-growth exponent (r4s4)
# ---------------------------------------------------------------------------


@register(
    "heaps_law_fit",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    nt AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n FROM t),
    w AS (SELECT doc_id, unnest(t) AS w FROM t),
    fw AS (SELECT w, MIN(doc_id) AS fd FROM w GROUP BY w),
    nv AS (SELECT fd AS doc_id, CAST(COUNT(*) AS BIGINT) AS nw
           FROM fw GROUP BY fd),
    cum AS (SELECT nt.doc_id,
                   SUM(nt.n) OVER (ORDER BY nt.doc_id
                                   ROWS UNBOUNDED PRECEDING) AS cn,
                   SUM(COALESCE(nv.nw, 0)) OVER (ORDER BY nt.doc_id
                                   ROWS UNBOUNDED PRECEDING) AS cv
            FROM nt LEFT JOIN nv ON nv.doc_id = nt.doc_id),
    xy AS (SELECT CAST(round(ln(cn) * 1000000) AS BIGINT) AS x6,
                  CAST(round(ln(cv) * 1000000) AS BIGINT) AS y6
           FROM cum WHERE cn > 0 AND cv > 0),
    m AS (SELECT MIN(x6) AS x0, MIN(y6) AS y0 FROM xy),
    s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(xy.x6 - m.x0) AS BIGINT) AS sx,
                 CAST(SUM(xy.y6 - m.y0) AS BIGINT) AS sy,
                 CAST(SUM((xy.x6 - m.x0) * (xy.y6 - m.y0)) AS BIGINT) AS sxy,
                 CAST(SUM((xy.x6 - m.x0) * (xy.x6 - m.x0)) AS BIGINT) AS sxx
          FROM xy CROSS JOIN m)
    SELECT n AS n_points,
           CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy
                AS VARCHAR) AS heaps_num,
           CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx
                AS VARCHAR) AS heaps_den
    FROM s
    """,
)
def heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary-growth fit: V(N) ≈ k·N^β — the OLS slope
    of ln(cumulative vocabulary) on ln(cumulative tokens) across the
    corpus in doc_id order. Natural text sits at β ≈ 0.4–0.6; β near
    1 means near-random token streams, β near 0 means template spam —
    the vocabulary-side corpus-health check next to zipf_vocab_fit's
    frequency side (the two laws are duals). Cumulative vocabulary
    needs no distinct-so-far scan: a word contributes exactly at its
    FIRST document (min doc_id per word), so V is the prefix sum of
    first-occurrence counts — the cumulative_reach_daily trick applied
    to words.

    Determinism: the ×1e6 micro-ln shifted-sum OLS with exact
    rational output (the zipf/elasticity convention). The prefix
    windows run over the DOCS table (corpus-document-count rows; at
    extreme doc counts the curve would sample log-spaced checkpoint
    docs instead — noted, not needed here).

    Scale shape: two token-sized shuffles (per-doc token counts and
    word first-occurrences, both map-side combinable), then windows
    and the regression over docs-sized tables.
    """
    from pyspark.sql import Window

    toks = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)").alias("t"),
    )
    from dbt_project_spark.caching import persist_tracked

    toks = persist_tracked(toks)
    nt = toks.select("doc_id", F.size("t").cast("bigint").alias("n"))
    w = toks.select("doc_id", F.explode("t").alias("w"))
    fw = w.groupBy("w").agg(F.min("doc_id").alias("fd"))
    nv = fw.groupBy(F.col("fd").alias("doc_id")).agg(
        F.count(F.lit(1)).cast("bigint").alias("nw")
    )
    wc = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    cum = (
        nt.join(nv, "doc_id", "left")
        .select(
            "doc_id",
            F.sum("n").over(wc).alias("cn"),
            F.sum(F.coalesce("nw", F.lit(0))).over(wc).alias("cv"),
        )
    )
    xy = cum.where((F.col("cn") > 0) & (F.col("cv") > 0)).select(
        F.expr("CAST(round(ln(cn) * 1000000) AS BIGINT)").alias("x6"),
        F.expr("CAST(round(ln(cv) * 1000000) AS BIGINT)").alias("y6"),
    )
    m = xy.agg(F.min("x6").alias("x0"), F.min("y6").alias("y0"))
    s = xy.crossJoin(m).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("x6") - F.col("x0")).cast("bigint").alias("sx"),
        F.sum(F.col("y6") - F.col("y0")).cast("bigint").alias("sy"),
        F.sum((F.col("x6") - F.col("x0")) * (F.col("y6") - F.col("y0")))
        .cast("bigint")
        .alias("sxy"),
        F.sum((F.col("x6") - F.col("x0")) * (F.col("x6") - F.col("x0")))
        .cast("bigint")
        .alias("sxx"),
    )
    dec = "CAST(n AS DECIMAL(38,0))"
    sxdec = "CAST(sx AS DECIMAL(38,0))"
    return s.select(
        F.col("n").alias("n_points"),
        F.expr(f"CAST({dec} * sxy - {sxdec} * sy AS STRING)").alias(
            "heaps_num"
        ),
        F.expr(f"CAST({dec} * sxx - {sxdec} * sx AS STRING)").alias(
            "heaps_den"
        ),
    )


# ---------------------------------------------------------------------------
# corpus_gopher_rules — per-rule quality filter breakdown (r05)
# ---------------------------------------------------------------------------

_GOPHER_STOPS = "('the','a','of','and','to','in','is','that')"


@register(
    "corpus_gopher_rules",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    f AS (SELECT doc_id, toks,
                 CAST(len(toks) AS BIGINT) AS n,
                 CAST(list_sum(list_transform(toks, x -> len(x))) AS BIGINT)
                     AS sum_len,
                 CAST(len(list_distinct(list_filter(toks,
                      x -> x IN {_GOPHER_STOPS}))) AS BIGINT) AS n_stop,
                 CAST(len(list_filter(toks,
                      x -> regexp_matches(x, '[a-z]'))) AS BIGINT) AS n_alpha,
                 CAST(list_max(list_transform(list_distinct(toks),
                      t2 -> len(list_filter(toks, x -> x = t2)))) AS BIGINT)
                     AS max_freq,
                 CAST(len(list_distinct(list_transform(
                      range(1, GREATEST(len(toks), 1)),
                      i -> toks[i] || ' ' || toks[i + 1]))) AS BIGINT)
                     AS n_bi_d
          FROM t WHERE len(toks) > 0),
    r AS (SELECT doc_id, n,
                 n BETWEEN 50 AND 100000 AS word_count_ok,
                 sum_len BETWEEN 3 * n AND 10 * n AS mean_len_ok,
                 n_stop >= 2 AS stopword_ok,
                 5 * n_alpha >= 4 * n AS alpha_ok,
                 10 * max_freq <= 2 * n AS top_word_ok,
                 5 * ((n - 1) - n_bi_d) <= GREATEST(n - 1, 1)
                     AS dup_bigram_ok
          FROM f)
    SELECT doc_id, n AS n_words, word_count_ok, mean_len_ok, stopword_ok,
           alpha_ok, top_word_ok, dup_bigram_ok,
           (word_count_ok AND mean_len_ok AND stopword_ok AND alpha_ok
            AND top_word_ok AND dup_bigram_ok) AS keep_gopher
    FROM r
    """,
)
def corpus_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-rule Gopher quality-filter breakdown (the public heuristic
    set from Rae et al. 2021 §A1.1, the de-facto baseline every LLM
    corpus pipeline starts from): word-count bounds, mean-word-length
    bounds, ≥2 distinct stop words, alphabetic-word fraction,
    top-word dominance, and the duplicate-bigram repetition rule —
    emitted as one boolean PER RULE so the yield dashboard shows
    WHICH rule kills a document, not just that something did
    (text_quality/corpus_filter_funnel report the collapsed flag;
    this is the debugging layer under them).

    Exactness: every rule is a pure-INTEGER inequality (mean length
    as 3n ≤ Σlen ≤ 10n — no division anywhere), so the row set
    hash-gates bit-exactly.

    Scale shape: a single projection pass — all rules are per-row
    array expressions inside whole-stage codegen (the top-word scan
    is O(words·distinct) per row on bounded-length docs); zero
    shuffles, zero UDFs.
    """
    t = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens_col("text").alias("toks")
    )
    f = t.filter(F.size("toks") > 0).select(
        "doc_id",
        F.size("toks").cast("bigint").alias("n"),
        F.expr(
            "CAST(aggregate(transform(toks, x -> length(x)),"
            " 0L, (a, x) -> a + x) AS BIGINT)"
        ).alias("sum_len"),
        F.expr(
            f"CAST(size(array_distinct(filter(toks,"
            f" x -> x IN {_GOPHER_STOPS}))) AS BIGINT)"
        ).alias("n_stop"),
        F.expr(
            "CAST(size(filter(toks, x -> x rlike '[a-z]')) AS BIGINT)"
        ).alias("n_alpha"),
        F.expr(
            "CAST(array_max(transform(array_distinct(toks),"
            " t2 -> size(filter(toks, x -> x = t2)))) AS BIGINT)"
        ).alias("max_freq"),
        F.expr(
            "CAST(size(array_distinct(zip_with("
            " slice(toks, 1, greatest(size(toks) - 1, 1)),"
            " slice(toks, 2, greatest(size(toks) - 1, 1)),"
            " (a, b) -> concat(a, ' ', b)))) AS BIGINT)"
        ).alias("n_bi_d"),
    )
    r = f.select(
        "doc_id",
        F.col("n").alias("n_words"),
        F.col("n").between(50, 100000).alias("word_count_ok"),
        (
            (F.col("sum_len") >= 3 * F.col("n"))
            & (F.col("sum_len") <= 10 * F.col("n"))
        ).alias("mean_len_ok"),
        (F.col("n_stop") >= 2).alias("stopword_ok"),
        (5 * F.col("n_alpha") >= 4 * F.col("n")).alias("alpha_ok"),
        (10 * F.col("max_freq") <= 2 * F.col("n")).alias("top_word_ok"),
        (
            5 * ((F.col("n") - 1) - F.col("n_bi_d"))
            <= F.greatest(F.col("n") - 1, F.lit(1))
        ).alias("dup_bigram_ok"),
    )
    return r.withColumn(
        "keep_gopher",
        F.col("word_count_ok")
        & F.col("mean_len_ok")
        & F.col("stopword_ok")
        & F.col("alpha_ok")
        & F.col("top_word_ok")
        & F.col("dup_bigram_ok"),
    )


# ---------------------------------------------------------------------------
# vocab_coverage_curve — corpus coverage per vocabulary size (r05)
# ---------------------------------------------------------------------------

VOCAB_SIZES = [50, 100, 200, 500]


@register(
    "vocab_coverage_curve",
    oracle=f"""
    WITH toks AS (SELECT unnest({_TOKS}) AS tk FROM documents),
    freq AS (SELECT tk, CAST(COUNT(*) AS BIGINT) AS f FROM toks GROUP BY tk),
    rk AS (SELECT f, ROW_NUMBER() OVER (ORDER BY f DESC, tk) AS r FROM freq),
    tot AS (SELECT CAST(SUM(f) AS BIGINT) AS t FROM rk),
    vs AS (SELECT unnest([{", ".join(str(v) for v in VOCAB_SIZES)}]) AS v),
    cov AS (SELECT vs.v,
                   CAST(SUM(CASE WHEN rk.r <= vs.v THEN rk.f ELSE 0 END)
                        AS BIGINT) AS c
            FROM rk CROSS JOIN vs GROUP BY vs.v)
    SELECT CAST(cov.v AS BIGINT) AS vocab_size,
           tot.t AS n_tokens_total,
           cov.c AS n_covered,
           CAST(cov.c * 1000000 // tot.t AS BIGINT) AS coverage_micro
    FROM cov CROSS JOIN tot
    """,
)
def vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve: for each candidate vocab size V,
    the fraction of all corpus tokens covered by the V most frequent
    words (rank ties toward the lexicographically smaller token —
    total order, so the curve hash-gates). THE sizing table for a
    tokenizer budget / OOV analysis: where the curve flattens is
    where a bigger vocab stops paying (pairs with vocab_topk, which
    lists the words, and zipf_vocab_fit, which models the decay).

    Exactness: counts and the truncating micro-ratio only.

    Scale shape: one token explode + vocab-sized aggregate; the
    coverage sums are conditional aggregates over the VOCAB-sized
    frequency table against a 4-row broadcast — the corpus is
    touched once, the curve costs nothing extra.
    """
    toks = load_table(spark, sf_dir, "documents").select(
        F.explode(tokens_col("text")).alias("tk")
    )
    freq = toks.groupBy("tk").agg(F.count(F.lit(1)).cast("bigint").alias("f"))
    from pyspark.sql import Window

    rk = freq.select(
        "f",
        F.row_number()
        .over(Window.orderBy(F.desc("f"), F.asc("tk")))
        .alias("r"),
    )
    vs = literal_table(spark, [(v,) for v in VOCAB_SIZES], "v int")
    cov = (
        rk.crossJoin(vs)
        .groupBy("v")
        .agg(
            F.sum(F.when(F.col("r") <= F.col("v"), F.col("f")).otherwise(0))
            .cast("bigint")
            .alias("c")
        )
    )
    tot = rk.agg(F.sum("f").cast("bigint").alias("t"))
    return cov.crossJoin(tot).select(
        F.col("v").cast("bigint").alias("vocab_size"),
        F.col("t").alias("n_tokens_total"),
        F.col("c").alias("n_covered"),
        F.expr("CAST(c * 1000000 div t AS BIGINT)").alias("coverage_micro"),
    )


# ---------------------------------------------------------------------------
# bpe_train_merges — multi-round distributed BPE trainer (r05s2)
# ---------------------------------------------------------------------------

BPE_MERGES = 6  # unrolled merge rounds (both engines)


def _bpe_chain_sql() -> str:
    """Shared unrolled BPE CTE chain v0..v{BPE_MERGES} (see
    bpe_train_merges; bpe_tokenize_stats reuses it verbatim)."""
    head = f"""
    WITH wf AS MATERIALIZED (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS f FROM (
            SELECT unnest({_TOKS}) AS w FROM documents) GROUP BY w),
    v0 AS MATERIALIZED (
        SELECT w, f,
               ' ' || array_to_string(list_transform(
                   range(1, length(w) + 1), i -> substring(w, i, 1)),
                   ' ') || ' ' AS seg
        FROM wf)"""
    parts = [head]
    for i in range(1, BPE_MERGES + 1):
        parts.append(f""",
    p{i} AS MATERIALIZED (
        SELECT pr, CAST(SUM(f) AS BIGINT) AS n FROM (
            SELECT unnest(list_transform(
                       range(1, len(sym)),
                       j -> sym[j] || ' ' || sym[j + 1])) AS pr, f
            FROM (SELECT string_split(trim(seg), ' ') AS sym, f
                  FROM v{i - 1} WHERE length(trim(seg)) > 0))
        GROUP BY pr),
    b{i} AS MATERIALIZED (
        SELECT pr, n FROM p{i} ORDER BY n DESC, pr LIMIT 1),
    v{i} AS MATERIALIZED (
        SELECT v.w, v.f,
               COALESCE(replace(v.seg, ' ' || b.pr || ' ',
                                ' ' || replace(b.pr, ' ', '') || ' '),
                        v.seg) AS seg
        FROM v{i - 1} v LEFT JOIN b{i} b ON TRUE)""")
    return "".join(parts)


def _bpe_oracle() -> str:
    """Merge-table select over the shared chain (see bpe_train_merges)."""
    unions = "\n    UNION ALL ".join(
        f"SELECT CAST({i} AS BIGINT) AS merge_no,"
        f" split_part(pr, ' ', 1) AS pair_left,"
        f" split_part(pr, ' ', 2) AS pair_right,"
        f" replace(pr, ' ', '') AS merged, n FROM b{i}"
        for i in range(1, BPE_MERGES + 1)
    )
    return _bpe_chain_sql() + "\n    " + unions


@register("bpe_train_merges", oracle=_bpe_oracle())
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-round BPE tokenizer TRAINING — the full merge table
    (``bpe_pair_counts`` is one round's pair census; this is the loop
    a from-scratch tokenizer trainer runs): per round, count
    corpus-weighted adjacent symbol pairs over the word vocabulary,
    take the argmax pair (ties to the lexicographically smaller —
    total order, hash-gates), merge it everywhere, repeat. Output is
    one row per merge round — exactly the merges.txt a BPE tokenizer
    ships.

    Segmentations live as space-delimited symbol STRINGS and the
    merge step is one built-in ``replace`` per round (non-overlapping
    left-to-right in both engines — greedy BPE's scan order; the
    shared-delimiter case ' a a a a a ' → ' aa a aa ' is the
    delimiter-consumption convention, identical on both sides) — the
    whole round stays in whole-stage codegen; no UDFs, no arrays
    shuffled.

    Scale shape: training runs over the DISTINCT word vocabulary
    weighted by frequency (the corpus is never re-scanned after the
    initial word count — the reason real BPE trainers are feasible at
    100 TB); each round is a map-side-combinable pair count, a 1-row
    argmax broadcast, and a map-only string rewrite. The vocab table
    is persisted per round with localCheckpoint lineage truncation
    (the HITS/BFS convention — it feeds both the pair count and the
    next round).
    """
    merges, _vocab = _bpe_loop(spark, sf_dir)
    out = merges[0]
    for m in merges[1:]:
        out = out.unionAll(m)
    return out


def _bpe_loop(spark: SparkSession, sf_dir: str):
    """(per-round 1-row merge DFs, final vocab (w, f, seg)) — the
    Spark twin of ``_bpe_chain_sql``."""
    from dbt_project_spark.caching import local_checkpoint_tracked

    toks = load_table(spark, sf_dir, "documents").select(
        F.explode(
            F.expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")
        ).alias("w")
    )
    wf = toks.groupBy("w").agg(F.count(F.lit(1)).cast("bigint").alias("f"))
    vocab = wf.select(
        "w",
        "f",
        F.concat(
            F.lit(" "),
            F.array_join(F.split("w", ""), " "),
            F.lit(" "),
        ).alias("seg"),
    )
    merges = []
    for i in range(1, BPE_MERGES + 1):
        # Tracked eager checkpoint (not persist-over-lazy-checkpoint,
        # which stored every round's vocab twice): every round's vocab
        # stays legitimately live — round i's 1-row merge DF in the
        # returned list reads it — so none is superseded mid-loop; the
        # handles free all blocks at the next release_tracked.
        vocab = local_checkpoint_tracked(vocab).df
        pairs = (
            vocab.filter(F.length(F.trim("seg")) > 0)
            .select(F.split(F.trim("seg"), " ").alias("sym"), "f")
            # sequence(1, 0) DESCENDS in Spark (it is not empty like
            # DuckDB's range) — fully-merged single-symbol words must
            # be filtered before the adjacent-pair transform.
            .filter(F.size("sym") >= 2)
            .select(
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(sym) - 1),"
                        " j -> concat(element_at(sym, j), ' ',"
                        " element_at(sym, j + 1)))"
                    )
                ).alias("pr"),
                "f",
            )
            .groupBy("pr")
            .agg(F.sum("f").cast("bigint").alias("n"))
        )
        best = pairs.orderBy(F.desc("n"), F.asc("pr")).limit(1)
        merges.append(
            best.select(
                F.lit(i).cast("bigint").alias("merge_no"),
                F.expr("split_part(pr, ' ', 1)").alias("pair_left"),
                F.expr("split_part(pr, ' ', 2)").alias("pair_right"),
                F.expr("replace(pr, ' ', '')").alias("merged"),
                "n",
            )
        )
        vocab = (
            vocab.join(best, F.lit(True), "left")
            .select(
                "w",
                "f",
                F.coalesce(
                    F.expr(
                        "replace(seg, concat(' ', pr, ' '),"
                        " concat(' ', replace(pr, ' ', ''), ' '))"
                    ),
                    F.col("seg"),
                ).alias("seg"),
            )
        )
    return merges, vocab


@register(
    "bpe_tokenize_stats",
    oracle=_bpe_chain_sql()
    + f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_vocab_words,
           CAST(SUM(f) AS BIGINT) AS n_corpus_words,
           CAST(SUM(f * length(w)) AS BIGINT) AS n_chars,
           CAST(SUM(f * len(string_split(trim(seg), ' '))) AS BIGINT)
               AS n_tokens,
           CAST(SUM(f * length(w)) * 1000000
                // SUM(f * len(string_split(trim(seg), ' '))) AS BIGINT)
               AS chars_per_token_micro
    FROM v{BPE_MERGES}
    """,
)
def bpe_tokenize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The APPLY side of BPE training: tokenize the corpus with the
    freshly-trained merges and report the one number a tokenizer is
    judged by — characters per token (compression). Shares the whole
    training chain with ``bpe_train_merges`` (same helper on the
    Spark side, same CTE chain in the oracle), then aggregates the
    final segmentation, frequency-weighted so the stats describe the
    CORPUS, not the vocabulary: Σf·chars / Σf·symbols in exact
    integer micro-units.

    Scale shape: identical to training (vocab-sized rounds, corpus
    scanned once for word counts); the final stats are one
    map-side-combinable aggregate over the vocabulary — tokenizing
    the corpus never materializes per-document token lists.
    """
    _merges, vocab = _bpe_loop(spark, sf_dir)
    return vocab.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vocab_words"),
        F.sum("f").cast("bigint").alias("n_corpus_words"),
        F.sum(F.col("f") * F.length("w")).cast("bigint").alias("n_chars"),
        F.sum(F.col("f") * F.size(F.split(F.trim("seg"), " ")))
        .cast("bigint")
        .alias("n_tokens"),
        F.expr(
            "CAST(SUM(f * length(w)) * 1000000"
            " div SUM(f * size(split(trim(seg), ' '))) AS BIGINT)"
        ).alias("chars_per_token_micro"),
    )


@register(
    "bpe_fertility_by_lang",
    oracle=_bpe_chain_sql()
    + f""",
    wfl AS (SELECT lang, w, CAST(COUNT(*) AS BIGINT) AS fl FROM (
                SELECT lang, unnest({_TOKS}) AS w FROM documents)
            GROUP BY 1, 2)
    SELECT l.lang,
           CAST(SUM(l.fl) AS BIGINT) AS n_words,
           CAST(SUM(l.fl * length(l.w)) AS BIGINT) AS n_chars,
           CAST(SUM(l.fl * len(string_split(trim(v.seg), ' '))) AS BIGINT)
               AS n_tokens,
           CAST(SUM(l.fl * len(string_split(trim(v.seg), ' '))) * 1000000
                // SUM(l.fl) AS BIGINT) AS tokens_per_word_micro,
           CAST(SUM(l.fl * length(l.w)) * 1000000
                // SUM(l.fl * len(string_split(trim(v.seg), ' ')))
                AS BIGINT) AS chars_per_token_micro
    FROM wfl l JOIN v{BPE_MERGES} v ON v.w = l.w
    GROUP BY l.lang
    """,
)
def bpe_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fairness audit: per-LANGUAGE fertility
    (tokens-per-word) and compression (chars-per-token) of the
    corpus-trained BPE merges. A tokenizer trained on a skewed
    language mix fragments under-represented languages into more
    tokens per word — inflating their training/inference cost and
    shrinking their effective context window; this per-lang table is
    the number multilingual pipeline owners track when rebalancing
    the tokenizer corpus.

    Shares the full training chain with ``bpe_train_merges`` (the
    segmentation of a WORD is language-independent, so the final
    vocab joins to per-(lang, word) counts on the word equi-key);
    stats are exact integer micro-units, frequency-weighted per
    language.

    Scale shape: adds one (lang, word)-count aggregate and one
    vocab-sized equi-join to the training cost — per-document token
    lists never materialize."""
    _merges, vocab = _bpe_loop(spark, sf_dir)
    wfl = (
        load_table(spark, sf_dir, "documents")
        .select(
            "lang",
            F.explode(
                F.expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")
            ).alias("w"),
        )
        .groupBy("lang", "w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("fl"))
    )
    j = wfl.join(vocab.select("w", "seg"), "w").select(
        "lang",
        "fl",
        F.length("w").alias("wlen"),
        F.size(F.split(F.trim("seg"), " ")).alias("nsym"),
    )
    return j.groupBy("lang").agg(
        F.sum("fl").cast("bigint").alias("n_words"),
        F.sum(F.col("fl") * F.col("wlen")).cast("bigint").alias("n_chars"),
        F.sum(F.col("fl") * F.col("nsym")).cast("bigint").alias("n_tokens"),
        F.expr(
            "CAST(SUM(fl * nsym) * 1000000 div SUM(fl) AS BIGINT)"
        ).alias("tokens_per_word_micro"),
        F.expr(
            "CAST(SUM(fl * wlen) * 1000000 div SUM(fl * nsym) AS BIGINT)"
        ).alias("chars_per_token_micro"),
    )


BPE_PACK_BUDGET = 512  # context length (BPE tokens) for packing
BPE_PACK_BUCKET = 1024  # docs per bucket in the two-phase prefix sum


@register(
    "bpe_pack_budget",
    oracle=_bpe_chain_sql()
    + f""",
    dw AS (SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS f FROM (
               SELECT doc_id, unnest({_TOKS}) AS w FROM documents)
           GROUP BY 1, 2),
    dt AS (SELECT dw.doc_id,
                  CAST(SUM(dw.f * len(string_split(trim(v.seg), ' ')))
                       AS BIGINT) AS n_tokens
           FROM dw JOIN v{BPE_MERGES} v ON v.w = dw.w
           GROUP BY dw.doc_id),
    o AS (SELECT doc_id, n_tokens,
                 CAST(SUM(n_tokens) OVER (ORDER BY doc_id) - n_tokens
                      AS BIGINT) AS token_offset
          FROM dt)
    SELECT doc_id, n_tokens, token_offset,
           token_offset // {BPE_PACK_BUDGET} AS first_chunk,
           (token_offset + n_tokens - 1) // {BPE_PACK_BUDGET} AS last_chunk,
           (token_offset + n_tokens - 1) // {BPE_PACK_BUDGET}
               - token_offset // {BPE_PACK_BUDGET} + 1 AS n_chunks
    FROM o
    """,
)
def bpe_pack_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-AWARE sequence packing — `seq_pack` with the real
    token counts: per-doc BPE token totals come from joining the
    doc's word counts to the trained vocabulary's segmentation
    (Σ f_word · symbols(word) — per-document token lists never
    materialize), then the concat-then-chunk packing assigns each
    doc its global token offset and chunk span under a
    {BPE_PACK_BUDGET}-token context budget. Whitespace packing
    (seq_pack) misestimates chunk counts exactly where the tokenizer
    fragments; this is the version a training run actually uses.

    Scale shape: the BPE chain is vocab-sized (corpus scanned once
    for word counts); the per-doc totals are one (doc, word)
    aggregate + a vocab equi-join; the global prefix sum is the
    two-phase distributed form on the Spark side (per-bucket
    subtotals cumsum'd, then a bucket-partitioned window) — the
    oracle's single ORDER BY window is the semantic spec, not the
    physical plan."""
    _merges, vocab = _bpe_loop(spark, sf_dir)
    dw = (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.explode(
                F.expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")
            ).alias("w"),
        )
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("f"))
    )
    dt = (
        dw.join(vocab.select("w", "seg"), "w")
        .select(
            "doc_id",
            (
                F.col("f") * F.size(F.split(F.trim("seg"), " "))
            ).alias("tok"),
        )
        .groupBy("doc_id")
        .agg(F.sum("tok").cast("bigint").alias("n_tokens"))
        .withColumn("bucket", F.expr(f"doc_id div {BPE_PACK_BUCKET}"))
    )
    from dbt_project_spark.caching import persist_tracked

    dt = persist_tracked(dt)
    bucket_offsets = (
        dt.groupBy("bucket")
        .agg(F.sum("n_tokens").alias("bucket_tokens"))
        .withColumn(
            "bucket_offset",
            F.sum("bucket_tokens").over(
                Window.orderBy("bucket").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
        )
        .select(
            "bucket",
            F.coalesce("bucket_offset", F.lit(0)).alias("bucket_offset"),
        )
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    packed = dt.join(bucket_offsets, "bucket").withColumn(
        "token_offset",
        (
            F.col("bucket_offset")
            + F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
        ).cast("bigint"),
    )
    b = BPE_PACK_BUDGET
    return packed.select(
        "doc_id",
        "n_tokens",
        "token_offset",
        F.expr(f"token_offset div {b}").alias("first_chunk"),
        F.expr(f"(token_offset + n_tokens - 1) div {b}").alias("last_chunk"),
        F.expr(
            f"(token_offset + n_tokens - 1) div {b}"
            f" - token_offset div {b} + 1"
        ).alias("n_chunks"),
    )


NOVELTY_BUCKETS = 10  # doc_id deciles of the ingest order


@register(
    "corpus_novelty_curve",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    bg AS (SELECT doc_id,
                  unnest(list_transform(range(1, len(t)),
                         i -> t[i] || ' ' || t[i+1])) AS g
           FROM t WHERE len(t) >= 2),
    firsts AS (SELECT g, MIN(doc_id) AS first_doc FROM bg GROUP BY g),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
    b AS (SELECT bg.doc_id, bg.g,
                 CAST(LEAST(bg.doc_id * {NOVELTY_BUCKETS} // nn.n_docs,
                            {NOVELTY_BUCKETS} - 1) AS BIGINT) AS bucket,
                 CASE WHEN f.first_doc = bg.doc_id THEN 1 ELSE 0 END AS is_new
          FROM bg JOIN firsts f ON f.g = bg.g CROSS JOIN nn)
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(is_new) AS BIGINT) AS n_new,
           CAST(SUM(is_new) * 1000000 // COUNT(*) AS BIGINT)
               AS novelty_micro
    FROM b GROUP BY bucket
    """,
)
def corpus_novelty_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus novelty decay: walking the corpus in ingest (doc_id)
    order, what fraction of each decile's bigrams has never been
    seen before? A healthy growing corpus keeps finding new text;
    a crawl that started re-crawling itself (or a generator looping)
    shows novelty collapsing toward zero — this curve is the
    earliest aggregate signal of that, cheaper than any pairwise
    dedup. (A bigram is 'new' in the bucket of the FIRST doc that
    contains it; later occurrences count against their bucket's
    denominator.)

    All-integer: bucket = doc_id·B/N truncated, first-occurrence by
    MIN(doc_id) per bigram type, micro ratio by integer division.

    Scale shape: one bigram explode, one MIN-per-type aggregate
    (map-side combinable), one join back on the bigram key — the
    word-count shape twice; no windows over the full stream, no
    pairwise anything."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        F.expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)").alias("t"),
    )
    bg = (
        t.filter(F.size("t") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t) - 1),"
                    " i -> concat(t[i-1], ' ', t[i]))"
                )
            ).alias("g"),
        )
    )
    from dbt_project_spark.caching import persist_tracked

    bg = persist_tracked(bg)
    firsts = bg.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    nn = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    b = (
        bg.join(firsts, "g")
        .crossJoin(nn)
        .select(
            F.expr(
                f"CAST(LEAST(doc_id * {NOVELTY_BUCKETS} div n_docs,"
                f" {NOVELTY_BUCKETS} - 1) AS BIGINT)"
            ).alias("bucket"),
            F.when(F.col("first_doc") == F.col("doc_id"), 1)
            .otherwise(0)
            .alias("is_new"),
        )
    )
    return b.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
        F.sum("is_new").cast("bigint").alias("n_new"),
        F.expr(
            "CAST(SUM(is_new) * 1000000 div COUNT(*) AS BIGINT)"
        ).alias("novelty_micro"),
    )


# ---------------------------------------------------------------------------
# vocab_drift_halves — vocabulary stability between corpus halves (r5s10)
# ---------------------------------------------------------------------------

VDRIFT_K = 200  # vocabulary head compared


@register(
    "vocab_drift_halves",
    oracle=f"""
    WITH t AS (SELECT doc_id % 2 AS half, unnest({_TOKS}) AS w
               FROM documents),
    wf AS (SELECT half, w, CAST(COUNT(*) AS BIGINT) AS f
           FROM t GROUP BY 1, 2),
    ra AS (SELECT w FROM (
             SELECT w, ROW_NUMBER() OVER (ORDER BY f DESC, w) AS rk
             FROM wf WHERE half = 0) WHERE rk <= {VDRIFT_K}),
    rb AS (SELECT w FROM (
             SELECT w, ROW_NUMBER() OVER (ORDER BY f DESC, w) AS rk
             FROM wf WHERE half = 1) WHERE rk <= {VDRIFT_K}),
    j AS (SELECT
            (SELECT CAST(COUNT(*) AS BIGINT) FROM ra
             WHERE w IN (SELECT w FROM rb)) AS n_common,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM ra) AS n_a,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM rb) AS n_b),
    v AS (SELECT
            CAST(COUNT(DISTINCT CASE WHEN half = 0 THEN w END) AS BIGINT)
                AS vocab_a,
            CAST(COUNT(DISTINCT CASE WHEN half = 1 THEN w END) AS BIGINT)
                AS vocab_b
          FROM wf)
    SELECT j.n_common, j.n_a - j.n_common AS only_a,
           j.n_b - j.n_common AS only_b,
           CAST(j.n_common * 1000000 // (j.n_a + j.n_b - j.n_common)
                AS BIGINT) AS jaccard_micro,
           v.vocab_a, v.vocab_b
    FROM j CROSS JOIN v
    """,
)
def vocab_drift_halves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-head stability between the two doc_id-parity halves
    of the corpus: Jaccard overlap of each half's top-200 words plus
    the asymmetric only-in-one counts — the TEXT drift detector next
    to the value-drift family (PSI/KS/QQ all watch numbers; an
    ingest regression that swaps a source's language or floods
    boilerplate shows up HERE first). Run across ingest batches in
    production; the parity split is the self-calibration baseline
    (near-1 Jaccard = healthy).

    Exactness: both heads are deterministic (freq DESC, word) top-K
    sets; overlap and Jaccard are pure integer set arithmetic with
    one truncating micro division.

    Scale shape: one token explode → (half, word) count (word-count
    shape), two K-row heads, set ops on ≤2K rows."""
    t = load_table(spark, sf_dir, "documents").select(
        (F.col("doc_id") % 2).alias("half"),
        F.explode(tokens_col("text")).alias("w"),
    )
    wf = t.groupBy("half", "w").agg(
        F.count(F.lit(1)).cast("bigint").alias("f")
    )
    from dbt_project_spark.caching import persist_tracked

    wf = persist_tracked(wf)
    wk = Window.partitionBy("half").orderBy(F.desc("f"), "w")
    heads = (
        wf.withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") <= VDRIFT_K)
        .select("half", "w")
    )
    ra = heads.filter(F.col("half") == 0).select("w")
    rb = heads.filter(F.col("half") == 1).select(F.col("w").alias("wb"))
    j = (
        ra.join(rb, ra.w == rb.wb, "full")
        .agg(
            F.sum(
                F.when(F.col("w").isNotNull() & F.col("wb").isNotNull(), 1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("n_common"),
            F.sum(F.when(F.col("w").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_a"),
            F.sum(F.when(F.col("wb").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_b"),
        )
    )
    v = wf.agg(
        F.countDistinct(F.when(F.col("half") == 0, F.col("w")))
        .cast("bigint")
        .alias("vocab_a"),
        F.countDistinct(F.when(F.col("half") == 1, F.col("w")))
        .cast("bigint")
        .alias("vocab_b"),
    )
    return j.crossJoin(v).select(
        "n_common",
        (F.col("n_a") - F.col("n_common")).alias("only_a"),
        (F.col("n_b") - F.col("n_common")).alias("only_b"),
        F.expr(
            "CAST(n_common * 1000000 div (n_a + n_b - n_common) AS BIGINT)"
        ).alias("jaccard_micro"),
        "vocab_a",
        "vocab_b",
    )


# ---------------------------------------------------------------------------
# ngram_entropy_rate — bigram conditional entropy of the corpus (r5s10)
# ---------------------------------------------------------------------------


@register(
    "ngram_entropy_rate",
    oracle=f"""
    WITH tk AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    big AS (SELECT t[i] AS w1, t[i + 1] AS w2
            FROM tk, UNNEST(range(1, len(t))) AS u(i)
            WHERE len(t) >= 2),
    c12 AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c
            FROM big GROUP BY 1, 2),
    c1 AS (SELECT w1, CAST(SUM(c) AS BIGINT) AS cx FROM c12 GROUP BY 1),
    n AS (SELECT CAST(SUM(c) AS BIGINT) AS nb,
                 CAST(COUNT(*) AS BIGINT) AS n_distinct
          FROM c12),
    terms AS (SELECT c12.c * CAST(round(ln(CAST(c12.c AS DOUBLE) / c1.cx)
                                        * 1000000000) AS BIGINT) AS t9
              FROM c12 JOIN c1 USING (w1)),
    s AS (SELECT CAST(SUM(t9) AS BIGINT) AS s9 FROM terms)
    SELECT n.nb AS n_bigrams, n.n_distinct,
           CAST((-s.s9) // n.nb AS BIGINT) AS h_cond_nano
    FROM s CROSS JOIN n
    """,
)
def ngram_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram conditional entropy H(w₂|w₁) of the corpus in nats —
    the entropy RATE a language model must beat, and the
    corpus-health number that drops when boilerplate floods in
    (repetitive text is predictable text): −(1/N)·Σ c₁₂·ln(c₁₂/c₁).
    Complements bigram_lm_quality (which scores DOCS against the
    model) by scoring the CORPUS itself.

    Exactness: each distinct bigram contributes c₁₂ × one ×1e9
    ln-term BIGINT (the fixed-point-sum convention — the float ln is
    a single scalar expression over two exact integers, identical in
    both engines); the division by N is a final truncating nano
    division on the negated exact sum. (Term products reach ~c·12e9;
    beyond ~10⁹ total bigrams shift the sum into DECIMAL(38,0).)

    Scale shape: one bigram explode → (w₁,w₂) counts (word-count
    shape), a vocab-sized conditional join on w₁, two 1-row
    reductions."""
    toks = load_table(spark, sf_dir, "documents").select(
        tokens_col("text").alias("t")
    )
    big = (
        toks.filter(F.size("t") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t) - 1),"
                    " i -> struct(t[i-1] AS w1, t[i] AS w2))"
                )
            ).alias("x")
        )
        .select(F.col("x.w1").alias("w1"), F.col("x.w2").alias("w2"))
    )
    c12 = big.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    from dbt_project_spark.caching import persist_tracked

    c12 = persist_tracked(c12)
    c1 = c12.groupBy("w1").agg(F.sum("c").cast("bigint").alias("cx"))
    n = c12.agg(
        F.sum("c").cast("bigint").alias("nb"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
    )
    terms = c12.join(c1, "w1").select(
        (
            F.col("c")
            * F.expr(
                "CAST(round(ln(CAST(c AS DOUBLE) / cx) * 1000000000)"
                " AS BIGINT)"
            )
        ).alias("t9")
    )
    s = terms.agg(F.sum("t9").cast("bigint").alias("s9"))
    return s.crossJoin(n).select(
        F.col("nb").alias("n_bigrams"),
        "n_distinct",
        F.expr("CAST((-s9) div nb AS BIGINT)").alias("h_cond_nano"),
    )


# ---------------------------------------------------------------------------
# filter_agreement_kappa — do two quality filters agree? (r5s10)
# ---------------------------------------------------------------------------


@register(
    "filter_agreement_kappa",
    oracle=f"""
    WITH tk AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    m AS (SELECT doc_id,
                 CAST(len(toks) AS BIGINT) AS n,
                 CAST(len(list_filter(toks,
                      x -> x IN {_GOPHER_STOPS})) AS BIGINT) AS n_stop,
                 CAST(len(list_filter(toks,
                      x -> regexp_matches(x, '[a-z]'))) AS BIGINT) AS n_alpha,
                 CAST(list_sum(list_transform(toks, x -> length(x)))
                      AS BIGINT) AS sum_len
          FROM tk),
    v AS (SELECT doc_id,
                 CASE WHEN n_stop >= 2 AND 5 * n_alpha >= 4 * n
                      THEN 1 ELSE 0 END AS fa,
                 CASE WHEN n BETWEEN 50 AND 100000
                           AND sum_len BETWEEN 3 * n AND 10 * n
                      THEN 1 ELSE 0 END AS fb
          FROM m),
    c AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd,
                 CAST(SUM(fa * fb) AS BIGINT) AS n11,
                 CAST(SUM(fa * (1 - fb)) AS BIGINT) AS n10,
                 CAST(SUM((1 - fa) * fb) AS BIGINT) AS n01,
                 CAST(SUM((1 - fa) * (1 - fb)) AS BIGINT) AS n00
          FROM v),
    k AS (SELECT nd, n11, n10, n01, n00,
                 CAST(nd AS HUGEINT) * (n11 + n00) AS po_n2,
                 CAST(n11 + n10 AS HUGEINT) * (n11 + n01)
                   + CAST(n00 + n01 AS HUGEINT) * (n00 + n10) AS pe_n2,
                 CAST(nd AS HUGEINT) * nd AS n2
          FROM c)
    SELECT nd AS n_docs, n11, n10, n01, n00,
           CAST((n11 + n00) * 1000000 // nd AS BIGINT) AS agree_micro,
           CAST(CASE WHEN n2 = pe_n2 THEN 0
                     WHEN po_n2 >= pe_n2
                     THEN (po_n2 - pe_n2) * 1000000 // (n2 - pe_n2)
                     ELSE -((pe_n2 - po_n2) * 1000000 // (n2 - pe_n2))
                END AS BIGINT) AS kappa_micro
    FROM k
    """,
)
def filter_agreement_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two independent corpus quality filters —
    a content-based one (Gopher's stopword + alphabetic-fraction
    rules) and a shape-based one (word-count + mean-word-length
    bands): raw agreement flatters filters that both pass almost
    everything, kappa subtracts the chance-agreement floor. Low kappa
    on filters believed redundant means the ensemble
    (corpus_selection_composite) is doing real work; kappa ≈ 1 means
    one filter can be dropped at full speed.

    Exactness: both verdicts are pure-integer inequalities over one
    shared token-moment pass (the Gopher moments); kappa in the
    cleared form (N·agree − Σmarginals)/(N² − Σmarginals) runs in
    DECIMAL(38,0)/HUGEINT with the sign-safe truncating micro
    division. No floats.

    Scale shape: one array-pass projection per doc (no token
    explode), one 1-row reduce."""
    tk = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens_col("text").alias("toks")
    )
    m = tk.select(
        "doc_id",
        F.size("toks").cast("bigint").alias("n"),
        F.expr(
            f"CAST(size(filter(toks, x -> x IN {_GOPHER_STOPS}))"
            " AS BIGINT)"
        ).alias("n_stop"),
        F.expr(
            "CAST(size(filter(toks, x -> x rlike '[a-z]')) AS BIGINT)"
        ).alias("n_alpha"),
        F.expr(
            "CAST(aggregate(toks, 0L, (a, x) -> a + length(x)) AS BIGINT)"
        ).alias("sum_len"),
    )
    v = m.select(
        F.when(
            (F.col("n_stop") >= 2) & (5 * F.col("n_alpha") >= 4 * F.col("n")),
            1,
        )
        .otherwise(0)
        .alias("fa"),
        F.when(
            F.col("n").between(50, 100000)
            & F.col("sum_len").between(3 * F.col("n"), 10 * F.col("n")),
            1,
        )
        .otherwise(0)
        .alias("fb"),
    )
    c = v.agg(
        F.count(F.lit(1)).cast("bigint").alias("nd"),
        F.sum(F.col("fa") * F.col("fb")).cast("bigint").alias("n11"),
        F.sum(F.col("fa") * (1 - F.col("fb"))).cast("bigint").alias("n10"),
        F.sum((1 - F.col("fa")) * F.col("fb")).cast("bigint").alias("n01"),
        F.sum((1 - F.col("fa")) * (1 - F.col("fb")))
        .cast("bigint")
        .alias("n00"),
    )
    k = c.select(
        "nd",
        "n11",
        "n10",
        "n01",
        "n00",
        F.expr("CAST(nd AS DECIMAL(38,0)) * (n11 + n00)").alias("po_n2"),
        F.expr(
            "CAST(n11 + n10 AS DECIMAL(38,0)) * (n11 + n01)"
            " + CAST(n00 + n01 AS DECIMAL(38,0)) * (n00 + n10)"
        ).alias("pe_n2"),
        F.expr("CAST(nd AS DECIMAL(38,0)) * nd").alias("n2"),
    )
    return k.select(
        F.col("nd").alias("n_docs"),
        "n11",
        "n10",
        "n01",
        "n00",
        F.expr("CAST((n11 + n00) * 1000000 div nd AS BIGINT)").alias(
            "agree_micro"
        ),
        F.expr(
            "CAST(CASE WHEN n2 = pe_n2 THEN 0"
            " WHEN po_n2 >= pe_n2"
            " THEN (po_n2 - pe_n2) * 1000000 div (n2 - pe_n2)"
            " ELSE -((pe_n2 - po_n2) * 1000000 div (n2 - pe_n2))"
            " END AS BIGINT)"
        ).alias("kappa_micro"),
    )


# ---------------------------------------------------------------------------
# source_lm_surprisal — which sources surprise the corpus LM (r5s11)
# ---------------------------------------------------------------------------


@register(
    "source_lm_surprisal",
    oracle=f"""
    WITH tk AS (SELECT source, {_TOKS} AS t FROM documents),
    big AS (SELECT source, t[i] AS w1, t[i + 1] AS w2
            FROM tk, UNNEST(range(1, len(t))) AS u(i)
            WHERE len(t) >= 2),
    cs AS (SELECT source, w1, w2, CAST(COUNT(*) AS BIGINT) AS c
           FROM big GROUP BY 1, 2, 3),
    cg AS (SELECT w1, w2, CAST(SUM(c) AS BIGINT) AS cg
           FROM cs GROUP BY 1, 2),
    c1 AS (SELECT w1, CAST(SUM(cg) AS BIGINT) AS cx FROM cg GROUP BY 1),
    lp AS (SELECT cg.w1, cg.w2,
                  CAST(round(ln(CAST(cg.cg AS DOUBLE) / c1.cx)
                             * 1000000000) AS BIGINT) AS l9
           FROM cg JOIN c1 USING (w1)),
    terms AS (SELECT cs.source, cs.c * lp.l9 AS t9, cs.c
              FROM cs JOIN lp ON lp.w1 = cs.w1 AND lp.w2 = cs.w2),
    per AS (SELECT source,
                   CAST(SUM(c) AS BIGINT) AS nb,
                   CAST(SUM(t9) AS BIGINT) AS s9
            FROM terms GROUP BY source),
    g AS (SELECT CAST(SUM(nb) AS BIGINT) AS nbg,
                 CAST(SUM(s9) AS BIGINT) AS s9g
          FROM per)
    SELECT per.source, per.nb AS n_bigrams,
           CAST((-per.s9) // per.nb AS BIGINT) AS h_nano,
           CAST((-per.s9) // per.nb - (-g.s9g) // g.nbg AS BIGINT)
               AS delta_vs_corpus_nano
    FROM per CROSS JOIN g
    """,
)
def source_lm_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source cross-entropy under the CORPUS-level bigram model:
    which sources does the global language model find surprising?
    High delta_vs_corpus_nano marks a source whose text distribution
    diverges from the pool — the per-source drilldown of
    ngram_entropy_rate and the cheap stand-in for CCNet's per-source
    perplexity ranking when no external LM exists. Surprising sources
    get up-weighted (diversity) or inspected (contamination,
    wrong-language ingest) depending on the pipeline's goal.

    Exactness: the global conditional log-probs ln(c₁₂/c₁) are one
    ×1e9 ln-term per DISTINCT bigram (computed once, joined to every
    source's counts), per-source sums are exact integer
    multiply-accumulates, the rate a final truncating nano division.

    Scale shape: bigram explode → per-(source, w1, w2) counts; the
    global table is a second-level rollup of the SAME aggregate (no
    second corpus pass); the log-prob join is word-count-shaped."""
    tk = load_table(spark, sf_dir, "documents").select(
        "source", tokens_col("text").alias("t")
    )
    big = (
        tk.filter(F.size("t") >= 2)
        .select(
            "source",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t) - 1),"
                    " i -> struct(t[i-1] AS w1, t[i] AS w2))"
                )
            ).alias("x"),
        )
        .select("source", F.col("x.w1").alias("w1"), F.col("x.w2").alias("w2"))
    )
    cs = big.groupBy("source", "w1", "w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    from dbt_project_spark.caching import persist_tracked

    cs = persist_tracked(cs)
    cg = cs.groupBy("w1", "w2").agg(F.sum("c").cast("bigint").alias("cg"))
    c1 = cg.groupBy("w1").agg(F.sum("cg").cast("bigint").alias("cx"))
    lp = cg.join(c1, "w1").select(
        "w1",
        "w2",
        F.expr(
            "CAST(round(ln(CAST(cg AS DOUBLE) / cx) * 1000000000)"
            " AS BIGINT)"
        ).alias("l9"),
    )
    terms = cs.join(lp, ["w1", "w2"]).select(
        "source", (F.col("c") * F.col("l9")).alias("t9"), "c"
    )
    per = terms.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("nb"),
        F.sum("t9").cast("bigint").alias("s9"),
    )
    g = per.agg(
        F.sum("nb").cast("bigint").alias("nbg"),
        F.sum("s9").cast("bigint").alias("s9g"),
    )
    return per.crossJoin(g).select(
        "source",
        F.col("nb").alias("n_bigrams"),
        F.expr("CAST((-s9) div nb AS BIGINT)").alias("h_nano"),
        F.expr(
            "CAST((-s9) div nb - (-s9g) div nbg AS BIGINT)"
        ).alias("delta_vs_corpus_nano"),
    )


# ---------------------------------------------------------------------------
# holdout_perplexity_bigram — true train/test LM evaluation (r5s12)
# ---------------------------------------------------------------------------

LM_TEST_MOD = 5  # doc_id % 5 == 0 is the held-out split (NB convention)


@register(
    "holdout_perplexity_bigram",
    oracle=f"""
    WITH tk AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    big AS (SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
            FROM tk, UNNEST(range(1, len(t))) AS u(i)
            WHERE len(t) >= 2),
    trn AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c
            FROM big WHERE doc_id % {LM_TEST_MOD} <> 0 GROUP BY 1, 2),
    ctx AS (SELECT w1, CAST(SUM(c) AS BIGINT) AS cx FROM trn GROUP BY 1),
    voc AS (SELECT CAST(COUNT(DISTINCT w2) AS BIGINT) AS v FROM trn),
    tst AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c
            FROM big WHERE doc_id % {LM_TEST_MOD} = 0 GROUP BY 1, 2),
    terms AS (SELECT tst.c,
                     CASE WHEN trn.c IS NULL THEN 1 ELSE 0 END AS unseen,
                     tst.c * CAST(round(
                       ln((COALESCE(trn.c, 0) + 1)
                          / CAST(COALESCE(ctx.cx, 0) + voc.v AS DOUBLE))
                       * 1000000000) AS BIGINT) AS t9
              FROM tst
              LEFT JOIN trn ON trn.w1 = tst.w1 AND trn.w2 = tst.w2
              LEFT JOIN ctx ON ctx.w1 = tst.w1
              CROSS JOIN voc)
    SELECT CAST(SUM(c) AS BIGINT) AS n_test_bigrams,
           CAST(SUM(unseen * c) AS BIGINT) AS n_unseen,
           CAST(SUM(unseen * c) * 1000000 // SUM(c) AS BIGINT)
               AS oov_micro,
           CAST((-CAST(SUM(t9) AS BIGINT)) // SUM(c) AS BIGINT) AS h_nano
    FROM terms
    """,
)
def holdout_perplexity_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE held-out evaluation of the corpus bigram LM: train
    add-one-smoothed conditional probabilities on doc_id %
    {LM_TEST_MOD} != 0, score the held-out docs' bigrams, report
    cross-entropy (nano-nats; perplexity = e^H) and the unseen-bigram
    rate. bigram_lm_quality and source_lm_surprisal both score
    against the model's OWN training data — this is the number that
    honestly generalizes, and the one to watch when the corpus mix
    changes (rising holdout H with flat train H = the mix got more
    diverse; both rising = quality regression).

    Exactness: add-one smoothing makes every test bigram's
    probability a ratio of exact integers — (c+1)/(ctx+V) — so each
    distinct test bigram contributes count × one ×1e9 ln-term
    (fixed-point-sum convention); unseen contexts degrade to 1/V by
    the same formula (COALESCE(0)), no special case. The OOV rate is
    a truncating micro division.

    Scale shape: ONE bigram explode feeds both splits (predicate on
    doc_id, no second pass); the scoring join is
    (test-bigram-types × train) — word-count shape; V and the final
    reduce are 1-row."""
    tk = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens_col("text").alias("t")
    )
    big = (
        tk.filter(F.size("t") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t) - 1),"
                    " i -> struct(t[i-1] AS w1, t[i] AS w2))"
                )
            ).alias("x"),
        )
        .select(
            "doc_id", F.col("x.w1").alias("w1"), F.col("x.w2").alias("w2")
        )
    )
    from dbt_project_spark.caching import persist_tracked

    big = persist_tracked(big)
    trn = (
        big.filter(F.col("doc_id") % LM_TEST_MOD != 0)
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    trn = persist_tracked(trn)
    ctx = trn.groupBy("w1").agg(F.sum("c").cast("bigint").alias("cx"))
    voc = trn.agg(F.countDistinct("w2").cast("bigint").alias("v"))
    tst = (
        big.filter(F.col("doc_id") % LM_TEST_MOD == 0)
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tc"))
    )
    terms = (
        tst.join(
            trn.select("w1", "w2", F.col("c").alias("trc")),
            ["w1", "w2"],
            "left",
        )
        .join(ctx, "w1", "left")
        .crossJoin(voc)
        .select(
            "tc",
            F.when(F.col("trc").isNull(), 1).otherwise(0).alias("unseen"),
            (
                F.col("tc")
                * F.expr(
                    "CAST(round(ln((COALESCE(trc, 0) + 1)"
                    " / CAST(COALESCE(cx, 0) + v AS DOUBLE))"
                    " * 1000000000) AS BIGINT)"
                )
            ).alias("t9"),
        )
    )
    return terms.agg(
        F.sum("tc").cast("bigint").alias("n_test_bigrams"),
        F.sum(F.col("unseen") * F.col("tc")).cast("bigint").alias("n_unseen"),
        F.expr(
            "CAST(SUM(unseen * tc) * 1000000 div SUM(tc) AS BIGINT)"
        ).alias("oov_micro"),
        F.expr(
            "CAST((-CAST(SUM(t9) AS BIGINT)) div SUM(tc) AS BIGINT)"
        ).alias("h_nano"),
    )


# ---------------------------------------------------------------------------
# good_turing_unseen_mass — how much vocabulary is still unseen (r5s17)
# ---------------------------------------------------------------------------

GT_MAX_R = 5


@register(
    "good_turing_unseen_mass",
    oracle=f"""
    WITH t AS (SELECT unnest({_TOKS}) AS w FROM documents),
    wf AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS f FROM t GROUP BY w),
    tot AS (SELECT CAST(SUM(f) AS BIGINT) AS n,
                   CAST(COUNT(*) AS BIGINT) AS v
            FROM wf),
    ff AS (SELECT f AS r, CAST(COUNT(*) AS BIGINT) AS nr
           FROM wf WHERE f <= {GT_MAX_R} + 1 GROUP BY f),
    grid AS (SELECT unnest(range(1, {GT_MAX_R} + 1)) AS r)
    SELECT CAST(grid.r AS BIGINT) AS r,
           CAST(COALESCE(ff.nr, 0) AS BIGINT) AS n_r,
           CAST(COALESCE(f2.nr, 0) AS BIGINT) AS n_r1,
           CASE WHEN COALESCE(ff.nr, 0) = 0 THEN NULL
                ELSE CAST(CAST((grid.r + 1) AS HUGEINT)
                          * COALESCE(f2.nr, 0) * 1000000
                          // (CAST(COALESCE(ff.nr, 0) AS HUGEINT) * grid.r)
                          AS BIGINT) END AS rstar_ratio_micro,
           (SELECT CAST(COALESCE(SUM(CASE WHEN f = 1 THEN 1 ELSE 0 END),
                             0) * 1000000 // SUM(f) AS BIGINT)
            FROM wf) AS p0_micro,
           tot.n AS n_tokens, tot.v AS vocab
    FROM grid LEFT JOIN ff ON ff.r = grid.r
              LEFT JOIN ff f2 ON f2.r = grid.r + 1
              CROSS JOIN tot
    """,
)
def good_turing_unseen_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good-Turing frequency-of-frequencies table: N_r for r = 1..5,
    the unseen-mass estimate P₀ = N₁/N (the probability the NEXT
    token is a word never seen — the number that decides whether the
    corpus is big enough for the vocabulary it claims), and the
    Simple-GT discount ratio r*/r = (r+1)·N_{r+1}/(r·N_r) per row.
    Heaps' law fits vocabulary GROWTH; this prices what's still
    missing. A tokenizer or dedup change that moves P₀ moved the
    long tail.

    Exactness: the frequency-of-frequencies table is two exact
    count aggregates; P₀ and the discount ratios are truncating
    micro divisions in HUGEINT/DECIMAL(38,0); empty N_r rows emit
    NULL ratios identically.

    Scale shape: word-count pass → vocab-sized second count → a
    5-row grid join. Nothing else."""
    t = load_table(spark, sf_dir, "documents").select(
        F.explode(tokens_col("text")).alias("w")
    )
    wf = t.groupBy("w").agg(F.count(F.lit(1)).cast("bigint").alias("f"))
    from dbt_project_spark.caching import persist_tracked

    wf = persist_tracked(wf)
    tot = wf.agg(
        F.sum("f").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("v"),
    )
    ff = (
        wf.filter(F.col("f") <= GT_MAX_R + 1)
        .groupBy(F.col("f").alias("r"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("nr"))
    )
    from pyspark.sql import Window as _W

    grid = spark.range(1, GT_MAX_R + 1).select(F.col("id").alias("r"))
    p0 = wf.agg(
        F.expr(
            "CAST(COALESCE(SUM(CASE WHEN f = 1 THEN 1 ELSE 0 END), 0)"
            " * 1000000 div SUM(f) AS BIGINT)"
        ).alias("p0_micro")
    )
    f2 = ff.select((F.col("r") - 1).alias("r"), F.col("nr").alias("nr1"))
    return (
        grid.join(ff, "r", "left")
        .join(f2, "r", "left")
        .crossJoin(tot)
        .crossJoin(p0)
        .select(
            F.col("r").cast("bigint").alias("r"),
            F.coalesce(F.col("nr"), F.lit(0)).cast("bigint").alias("n_r"),
            F.coalesce(F.col("nr1"), F.lit(0)).cast("bigint").alias("n_r1"),
            F.expr(
                "CASE WHEN COALESCE(nr, 0) = 0 THEN NULL"
                " ELSE CAST(CAST((r + 1) AS DECIMAL(38,0))"
                " * COALESCE(nr1, 0) * 1000000"
                " div (CAST(COALESCE(nr, 0) AS DECIMAL(38,0)) * r)"
                " AS BIGINT) END"
            ).alias("rstar_ratio_micro"),
            "p0_micro",
            F.col("n").alias("n_tokens"),
            F.col("v").alias("vocab"),
        )
    )


# ---------------------------------------------------------------------------
# source_distinctive_terms — what makes each source different (r5s17)
# ---------------------------------------------------------------------------

SDT_TOP = 3  # distinctive terms reported per source
SDT_MIN_F = 5  # minimum in-source frequency considered


@register(
    "source_distinctive_terms",
    oracle=f"""
    WITH t AS (SELECT source, unnest({_TOKS}) AS w FROM documents),
    sw AS (SELECT source, w, CAST(COUNT(*) AS BIGINT) AS f
           FROM t GROUP BY 1, 2),
    st AS (SELECT source, CAST(SUM(f) AS BIGINT) AS nt
           FROM sw GROUP BY 1),
    gw AS (SELECT w, CAST(SUM(f) AS BIGINT) AS g FROM sw GROUP BY 1),
    gt AS (SELECT CAST(SUM(f) AS BIGINT) AS ng FROM sw),
    sc AS (SELECT sw.source, sw.w, sw.f,
                  CAST(round(ln((CAST(sw.f + 1 AS DOUBLE) / (st.nt + 1))
                                / (CAST(gw.g - sw.f + 1 AS DOUBLE)
                                   / (gt.ng - st.nt + 1)))
                             * 1000000) AS BIGINT) AS lo6
           FROM sw JOIN st USING (source)
                   JOIN gw USING (w)
                   CROSS JOIN gt
           WHERE sw.f >= {SDT_MIN_F}),
    rk AS (SELECT source, w, f, lo6,
                  ROW_NUMBER() OVER (PARTITION BY source
                                     ORDER BY lo6 DESC, w) AS r
           FROM sc)
    SELECT source, CAST(r AS BIGINT) AS rank, w AS term, f, lo6
    FROM rk WHERE r <= {SDT_TOP}
    """,
)
def source_distinctive_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distinctive vocabulary: the top terms by smoothed
    log-odds of appearing in THIS source vs the REST of the corpus
    (add-one on both rates — the Monroe et al. 'fightin' words'
    score without the variance term). The interpretability drilldown
    behind source_lm_surprisal's single number: surprisal says source
    X diverges, this says WHICH words carry it — the table a curator
    reads before deciding up-weight vs investigate.

    Exactness: both smoothed rates are ratios of exact integers, so
    each candidate's score is count × one ×1e6 ln-term (single
    scalar expression — the fixed-point convention); ranking is a
    per-source tie-broken top-3; the SDT_MIN_F floor keeps
    noise-words out and the candidate set word-count-shaped.

    Scale shape: one (source, word) count, two rollups of it, a
    broadcast 1-row total; the window runs per source."""
    t = load_table(spark, sf_dir, "documents").select(
        "source", F.explode(tokens_col("text")).alias("w")
    )
    sw = t.groupBy("source", "w").agg(
        F.count(F.lit(1)).cast("bigint").alias("f")
    )
    from dbt_project_spark.caching import persist_tracked

    sw = persist_tracked(sw)
    st = sw.groupBy("source").agg(F.sum("f").cast("bigint").alias("nt"))
    gw = sw.groupBy("w").agg(F.sum("f").cast("bigint").alias("g"))
    gt = sw.agg(F.sum("f").cast("bigint").alias("ng"))
    sc = (
        sw.filter(F.col("f") >= SDT_MIN_F)
        .join(st, "source")
        .join(gw, "w")
        .crossJoin(gt)
        .select(
            "source",
            "w",
            "f",
            F.expr(
                "CAST(round(ln((CAST(f + 1 AS DOUBLE) / (nt + 1))"
                " / (CAST(g - f + 1 AS DOUBLE) / (ng - nt + 1)))"
                " * 1000000) AS BIGINT)"
            ).alias("lo6"),
        )
    )
    wk = Window.partitionBy("source").orderBy(F.desc("lo6"), "w")
    return (
        sc.withColumn("rank", F.row_number().over(wk))
        .filter(F.col("rank") <= SDT_TOP)
        .select(
            "source",
            F.col("rank").cast("bigint").alias("rank"),
            F.col("w").alias("term"),
            "f",
            "lo6",
        )
    )


# ---------------------------------------------------------------------------
# dedup_survivorship_by_source — what the keep-list costs each source
# ---------------------------------------------------------------------------


@register(
    "dedup_survivorship_by_source",
    oracle=f"""
    WITH kl AS ({_keep_list_oracle()}),
    ds AS (SELECT doc_id, source,
                  CAST(len({_TOKS}) AS BIGINT) AS n_toks
           FROM documents),
    j AS (SELECT ds.source, ds.n_toks,
                 CASE WHEN kl.keep THEN 1 ELSE 0 END AS keep
          FROM ds JOIN kl ON kl.doc_id = ds.doc_id)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(keep) AS BIGINT) AS kept_docs,
           CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
           CAST(SUM(keep * n_toks) AS BIGINT) AS kept_tokens,
           CAST(SUM(keep) * 1000000 // COUNT(*) AS BIGINT)
               AS doc_survival_micro,
           CAST(SUM(keep * n_toks) * 1000000 // SUM(n_toks) AS BIGINT)
               AS token_survival_micro
    FROM j GROUP BY source
    """,
)
def dedup_survivorship_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """What the dedup keep-list costs each SOURCE: per-source doc and
    token survival rates after corpus_keep_list's
    one-representative-per-cluster policy. Uniform survival means
    duplication is spread evenly; one source cratering means it's
    re-serving content the others already contributed (syndication,
    mirrors) — the evidence behind a down-weight decision, and the
    number to diff against dedup_cross_batch's straddle share.

    Exactness: verdicts are the registered keep-list dataflow
    verbatim (oracle embeds its recursive-CTE SQL); survival rates
    are truncating micro divisions over exact counts.

    Scale shape: the keep-list's own shape plus one corpus-scan
    join and a |sources|-row rollup — token counts via one array
    pass, never an explode."""
    kl = corpus_keep_list(spark, sf_dir).select("doc_id", "keep")
    ds = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.expr(
            "CAST(size(regexp_extract_all(lower(text), '[a-z0-9]+', 0))"
            " AS BIGINT)"
        ).alias("n_toks"),
    )
    j = ds.join(kl, "doc_id").select(
        "source",
        "n_toks",
        F.when(F.col("keep"), 1).otherwise(0).alias("keep"),
    )
    return j.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("keep").cast("bigint").alias("kept_docs"),
        F.sum("n_toks").cast("bigint").alias("n_tokens"),
        F.sum(F.col("keep") * F.col("n_toks"))
        .cast("bigint")
        .alias("kept_tokens"),
        F.expr("CAST(SUM(keep) * 1000000 div COUNT(*) AS BIGINT)").alias(
            "doc_survival_micro"
        ),
        F.expr(
            "CAST(SUM(keep * n_toks) * 1000000 div SUM(n_toks) AS BIGINT)"
        ).alias("token_survival_micro"),
    )
