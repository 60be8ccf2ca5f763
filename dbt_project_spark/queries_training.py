"""Training-data pipeline family (round 2, session 2): the operations
between a cleaned corpus and a tokenizer run — sequence packing,
span-level boilerplate dedup, the end-to-end filter funnel, and
vocabulary heavy hitters.

All four are oracle-exact: integer token math end-to-end, no floats
except final ROUND()ed ratios computed by one double division.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dbt_project_spark.catalog import register
from dbt_project_spark.operators.dedup import tokens_col
from dbt_project_spark.operators.joins import literal_table
from dbt_project_spark.sources import load_table

_TOKS = "regexp_extract_all(lower(text), '[a-z0-9]+')"

# Context-length budget for sequence packing (tokens per chunk).
PACK_BUDGET = 512
# Docs per offset bucket in the two-phase distributed prefix sum.
PACK_BUCKET = 1024
# Span length (tokens) for span-level dedup. Production pipelines
# split on newlines/sentences; the synthetic corpus is single-line
# word salad, so fixed 3-token spans stand in (measured 19% dup rate
# at sf0.01 — non-degenerate but not saturated).
SPAN_N = 3
# Heavy-hitter cutoff (synthetic vocab is 31 tokens; 20 keeps the
# rank boundary inside the data).
VOCAB_K = 20


@register(
    "seq_pack",
    oracle=f"""
    WITH t AS (SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS n_tokens
               FROM documents),
    o AS (SELECT doc_id, n_tokens,
                 CAST(SUM(n_tokens) OVER (ORDER BY doc_id) - n_tokens AS BIGINT)
                     AS token_offset
          FROM t WHERE n_tokens > 0)
    SELECT doc_id, n_tokens, token_offset,
           token_offset // {PACK_BUDGET} AS first_chunk,
           (token_offset + n_tokens - 1) // {PACK_BUDGET} AS last_chunk,
           (token_offset + n_tokens - 1) // {PACK_BUDGET}
               - token_offset // {PACK_BUDGET} + 1 AS n_chunks
    FROM o
    """,
)
def seq_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for LLM training: concatenate the corpus in
    doc_id order and cut fixed ``PACK_BUDGET``-token chunks (the
    GPT-style concat-then-chunk packing); emit each doc's global token
    offset and the chunk span it lands in.

    The global prefix sum is the scale hazard — a naive
    ``SUM() OVER (ORDER BY doc_id)`` with no partition key pulls the
    corpus into ONE partition. This implementation is the two-phase
    distributed version: per-bucket (doc_id div 1024) token subtotals
    (tiny: corpus/1024 rows) get a driver-side cumsum and broadcast
    back; the big table then needs only a bucket-partitioned window.
    Shuffle traffic = one (bucket, n_tokens) pair per doc, never text.
    """
    docs = (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id", F.size(tokens_col("text")).cast("bigint").alias("n_tokens")
        )
        .filter(F.col("n_tokens") > 0)
        .withColumn("bucket", F.expr(f"doc_id div {PACK_BUCKET}"))
    )
    # Phase 1: tiny per-bucket subtotals; cumsum over buckets is a
    # window over corpus/1024 rows (fine to single-partition).
    bucket_offsets = (
        docs.groupBy("bucket")
        .agg(F.sum("n_tokens").alias("bucket_tokens"))
        .withColumn(
            "bucket_offset",
            F.sum("bucket_tokens").over(
                Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
            ),
        )
        .select("bucket", F.coalesce("bucket_offset", F.lit(0)).alias("bucket_offset"))
    )
    # Phase 2: bucket-partitioned running sum + broadcast bucket base.
    w = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    packed = (
        docs.join(bucket_offsets, on="bucket")
        .withColumn(
            "token_offset",
            (F.col("bucket_offset") + F.coalesce(F.sum("n_tokens").over(w), F.lit(0)))
            .cast("bigint"),
        )
    )
    b = PACK_BUDGET
    return packed.select(
        "doc_id",
        "n_tokens",
        "token_offset",
        F.expr(f"token_offset div {b}").alias("first_chunk"),
        F.expr(f"(token_offset + n_tokens - 1) div {b}").alias("last_chunk"),
        F.expr(
            f"(token_offset + n_tokens - 1) div {b} - token_offset div {b} + 1"
        ).alias("n_chunks"),
    )


def _span_sql(n: int) -> str:
    """DuckDB: non-overlapping n-token spans of token list toks."""
    return (
        f"list_transform(range(0, CAST(ceil(len(toks)/{n}.0) AS BIGINT)),"
        f" i -> array_to_string(toks[i*{n}+1 : i*{n}+{n}], ' '))"
    )


@register(
    "span_dedup",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    s AS (SELECT doc_id,
                 unnest(range(0, CAST(ceil(len(toks)/{SPAN_N}.0) AS BIGINT))) AS si,
                 unnest({_span_sql(SPAN_N)}) AS sp
          FROM t WHERE len(toks) > 0),
    k AS (SELECT doc_id, doc_id*100000 + si AS okey,
                 MIN(doc_id*100000 + si) OVER (PARTITION BY md5(sp)) AS first_key
          FROM s)
    SELECT doc_id,
           COUNT(*) AS n_spans,
           CAST(SUM(CASE WHEN okey > first_key THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_spans,
           ROUND(SUM(CASE WHEN okey > first_key THEN 1 ELSE 0 END)
                 / (COUNT(*) * 1.0), 6) AS dup_frac
    FROM k GROUP BY doc_id
    """,
)
def span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level (paragraph-level) exact dedup across the corpus:
    split every doc into fixed token spans, mark each span instance a
    duplicate unless it is the globally-first occurrence (min
    (doc_id, span_idx)), report per-doc dup fraction — the boilerplate
    measurement pass of a crawl pipeline.

    Scale shape: spans never leave their executor as text — the
    global first-occurrence resolution groups on md5(span) (16-byte
    shuffle keys) + an 8-byte order key, then broadcast-joins nothing:
    the min-key table is joined back on the same md5 hash partitioning
    (one shuffle, reused by Catalyst on both sides of the self-join).
    """
    spans = (
        load_table(spark, sf_dir, "documents")
        .withColumn("toks", tokens_col("text"))
        .filter(F.size("toks") > 0)
        .withColumn(
            "sp_arr",
            F.expr(
                f"transform(sequence(0, CAST(ceil(size(toks)/{SPAN_N}.0) AS INT) - 1),"
                f" i -> array_join(slice(toks, i*{SPAN_N}+1, {SPAN_N}), ' '))"
            ),
        )
        .select("doc_id", F.posexplode("sp_arr").alias("si", "sp"))
        .select(
            "doc_id",
            (F.col("doc_id") * 100000 + F.col("si")).alias("okey"),
            F.md5("sp").alias("h"),
        )
    )
    firsts = spans.groupBy("h").agg(F.min("okey").alias("first_key"))
    return (
        spans.join(firsts, on="h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum((F.col("okey") > F.col("first_key")).cast("bigint")).alias(
                "n_dup_spans"
            ),
        )
        .withColumn(
            "dup_frac",
            F.round(F.col("n_dup_spans") / (F.col("n_spans") * F.lit(1.0)), 6),
        )
    )


@register(
    "corpus_filter_funnel",
    oracle=f"""
    WITH t AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents),
    f AS (SELECT doc_id, text,
                 CAST(len(toks) AS BIGINT) AS n_tokens,
                 CAST(len(list_distinct(toks)) AS BIGINT) AS n_unique,
                 CAST(len(list_filter(toks, x -> x IN
                     ('the','a','of','and','to'))) AS BIGINT) AS n_stop
          FROM t),
    s AS (SELECT doc_id, text,
                 (n_tokens BETWEEN 20 AND 10000) AS k1,
                 (n_tokens > 0 AND n_stop / n_tokens < 0.5
                  AND n_unique / n_tokens > 0.2) AS k2
          FROM f),
    surv AS (SELECT doc_id, text FROM s WHERE k1 AND k2),
    dd AS (SELECT doc_id,
                  MIN(doc_id) OVER (PARTITION BY md5(text)) AS keeper
           FROM surv),
    c AS (SELECT (SELECT COUNT(*) FROM s) AS n_total,
                 (SELECT COUNT(*) FROM s WHERE k1) AS n_k1,
                 (SELECT COUNT(*) FROM surv) AS n_k12,
                 (SELECT COUNT(*) FROM dd WHERE doc_id = keeper) AS n_k123)
    SELECT 'token_length' AS stage, n_total AS n_in,
           n_total - n_k1 AS n_dropped, n_k1 AS n_out FROM c
    UNION ALL
    SELECT 'quality', n_k1, n_k1 - n_k12, n_k12 FROM c
    UNION ALL
    SELECT 'exact_dedup', n_k12, n_k12 - n_k123, n_k123 FROM c
    """,
)
def corpus_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end corpus filter funnel: token-length gate →
    quality gate (stopword + uniqueness ratios) → exact dedup among
    survivors, reported as per-stage in/dropped/out counts — the
    yield dashboard every training-data pipeline publishes.

    Sequential semantics matter: dedup keeps the min doc_id among
    docs that SURVIVED the earlier stages (dropping a low-quality
    copy must not delete the text from the corpus). One scan computes
    both stage flags (conditional aggregation, map-side partials);
    only stage-1/2 survivors shuffle — on md5(text), never raw text
    order keys — for the dedup count.
    """
    stop_list = "('the','a','of','and','to')"
    d = (
        load_table(spark, sf_dir, "documents")
        .withColumn("toks", tokens_col("text"))
        .select(
            "doc_id",
            "text",
            F.size("toks").cast("bigint").alias("n_tokens"),
            F.size(F.array_distinct("toks")).cast("bigint").alias("n_unique"),
            F.expr(f"CAST(size(filter(toks, x -> x IN {stop_list})) AS BIGINT)").alias(
                "n_stop"
            ),
        )
        .withColumn("k1", F.col("n_tokens").between(20, 10000))
        .withColumn(
            "k2",
            (F.col("n_tokens") > 0)
            & (F.col("n_stop") / F.col("n_tokens") < 0.5)
            & (F.col("n_unique") / F.col("n_tokens") > 0.2),
        )
    )
    base = d.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.col("k1").cast("bigint")).alias("n_k1"),
        F.sum((F.col("k1") & F.col("k2")).cast("bigint")).alias("n_k12"),
    )
    surv = d.filter(F.col("k1") & F.col("k2")).select("doc_id", F.md5("text").alias("h"))
    kept = (
        surv.groupBy("h")
        .agg(F.min("doc_id"))
        .agg(F.count(F.lit(1)).alias("n_k123"))
    )
    stages = base.crossJoin(kept).select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("token_length").alias("stage"),
                    F.col("n_total").alias("n_in"),
                    (F.col("n_total") - F.col("n_k1")).alias("n_dropped"),
                    F.col("n_k1").alias("n_out"),
                ),
                F.struct(
                    F.lit("quality").alias("stage"),
                    F.col("n_k1").alias("n_in"),
                    (F.col("n_k1") - F.col("n_k12")).alias("n_dropped"),
                    F.col("n_k12").alias("n_out"),
                ),
                F.struct(
                    F.lit("exact_dedup").alias("stage"),
                    F.col("n_k12").alias("n_in"),
                    (F.col("n_k12") - F.col("n_k123")).alias("n_dropped"),
                    F.col("n_k123").alias("n_out"),
                ),
            )
        ).alias("s")
    )
    return stages.select("s.stage", "s.n_in", "s.n_dropped", "s.n_out")


@register(
    "vocab_topk",
    oracle=f"""
    WITH ex AS (SELECT unnest({_TOKS}) AS token FROM documents),
    g AS (SELECT token, COUNT(*) AS freq FROM ex GROUP BY token),
    r AS (SELECT token, freq,
                 ROW_NUMBER() OVER (ORDER BY freq DESC, token) AS rank
          FROM g)
    SELECT CAST(rank AS INT) AS rank, token, freq
    FROM r WHERE rank <= {VOCAB_K}
    """,
)
def vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary heavy hitters: global token frequencies,
    deterministic top-K (freq desc, token asc tie-break) — the
    tokenizer-training / stopword-discovery primitive.

    Scale shape: explode → hash-aggregate gets map-side partial
    counts (vocab-sized partials per task, not corpus-sized), then
    ``orderBy().limit(K)`` compiles to TakeOrderedAndProject — each
    partition keeps only its local top-K and the driver merges K-item
    heaps. No global sort, no single-partition window over the vocab:
    the row_number runs on the K surviving rows only.
    """
    g = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(tokens_col("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    topk = g.orderBy(F.desc("freq"), F.asc("token")).limit(VOCAB_K)
    w = Window.orderBy(F.desc("freq"), F.asc("token"))
    return topk.select(
        F.row_number().over(w).cast("int").alias("rank"), "token", "freq"
    )


N_SHARDS = 8  # test scale; production uses thousands of shards


@register(
    "corpus_shard_shuffle",
    oracle=f"""
    WITH h AS (SELECT doc_id,
                      ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                          AS hkey
               FROM documents),
    s AS (SELECT doc_id, hkey, hkey % {N_SHARDS} AS shard FROM h)
    SELECT doc_id, CAST(shard AS BIGINT) AS shard,
           CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY hkey, doc_id)
                AS BIGINT) AS pos
    FROM s
    """,
)
def corpus_shard_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle + sharding for training readers:
    every doc hashes to a shard, and its position within the shard is
    its hash order — a reproducible random permutation with no RNG
    state, stable under re-partitioning and retries (the reason
    training pipelines shuffle by content hash, not by rand()).

    Scale shape: one shuffle on the shard key; the per-shard
    row_number is the write order of that shard file. N_SHARDS scales
    to thousands so each window partition stays file-sized — there is
    never a global sort over the corpus.
    """
    from dbt_project_spark.functions.expressions import md5_int

    h = load_table(spark, sf_dir, "documents").select(
        "doc_id", md5_int(F.col("doc_id").cast("string")).alias("hkey")
    )
    s = h.withColumn("shard", (F.col("hkey") % N_SHARDS).cast("bigint"))
    w = Window.partitionBy("shard").orderBy("hkey", "doc_id")
    return s.select(
        "doc_id", "shard", F.row_number().over(w).cast("bigint").alias("pos")
    )


MIX_BUDGET_TOKENS = 20_000  # target token budget for the mixed corpus


@register(
    "corpus_mix_sample",
    oracle=f"""
    WITH t AS (SELECT doc_id, source, text,
                      CAST(len({_TOKS}) AS BIGINT) AS n_tokens
               FROM documents),
    avail AS (SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS avail_tokens
              FROM t GROUP BY source),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_sources FROM avail),
    plan AS (SELECT a.source, a.avail_tokens,
                    CAST({MIX_BUDGET_TOKENS} // n_sources AS BIGINT) AS target_tokens,
                    CASE WHEN a.avail_tokens = 0 THEN 0
                         WHEN {MIX_BUDGET_TOKENS} // n_sources >= a.avail_tokens
                             THEN 10000
                         ELSE ({MIX_BUDGET_TOKENS} // n_sources) * 10000
                              // a.avail_tokens
                    END AS keep_thr
             FROM avail a CROSS JOIN tot),
    kept AS (SELECT t.source,
                    COUNT(*) AS n_docs_kept,
                    CAST(SUM(t.n_tokens) AS BIGINT) AS kept_tokens
             FROM t JOIN plan p ON p.source = t.source
             WHERE ('0x' || substr(md5(t.text), 1, 8))::BIGINT % 10000
                   < p.keep_thr
             GROUP BY t.source)
    SELECT p.source, p.avail_tokens, p.target_tokens,
           COALESCE(k.n_docs_kept, 0) AS n_docs_kept,
           COALESCE(k.kept_tokens, 0) AS kept_tokens
    FROM plan p LEFT JOIN kept k ON k.source = p.source
    """,
)
def corpus_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-mixing subsample: split a global token budget equally
    across sources, convert each source's allocation into a
    deterministic hash-threshold keep rate (md5(text) % 10000 <
    target/avail × 10000), and report what the sample actually
    delivers — the executable form of a training-mix plan.

    Scale shape: the per-source allocation table is sources-sized →
    broadcast back onto the corpus; the corpus itself is scanned once
    and filtered by a pure hash predicate (no RNG, reproducible on
    retries). Integer arithmetic end-to-end so the oracle matches
    bit-for-bit.
    """
    from dbt_project_spark.functions.expressions import md5_int

    t = (
        load_table(spark, sf_dir, "documents")
        .withColumn("n_tokens", F.size(tokens_col("text")).cast("bigint"))
        .select("doc_id", "source", "text", "n_tokens")
    )
    avail = t.groupBy("source").agg(F.sum("n_tokens").alias("avail_tokens"))
    n_sources = avail.agg(F.count(F.lit(1)).alias("n_sources"))
    per = MIX_BUDGET_TOKENS
    plan = (
        avail.crossJoin(n_sources)
        .withColumn("target_tokens", F.expr(f"{per} div n_sources").cast("bigint"))
        .withColumn(
            "keep_thr",
            F.when(F.col("avail_tokens") == 0, F.lit(0))
            .when(F.col("target_tokens") >= F.col("avail_tokens"), F.lit(10000))
            .otherwise(
                F.expr("(target_tokens * 10000) div avail_tokens")
            )
            .cast("bigint"),
        )
        .select("source", "avail_tokens", "target_tokens", "keep_thr")
    )
    kept = (
        t.join(plan, on="source")
        .filter(md5_int("text") % 10000 < F.col("keep_thr"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs_kept"),
            F.sum("n_tokens").alias("kept_tokens"),
        )
    )
    return (
        plan.join(kept, on="source", how="left")
        .select(
            "source",
            "avail_tokens",
            "target_tokens",
            F.coalesce("n_docs_kept", F.lit(0)).cast("bigint").alias("n_docs_kept"),
            F.coalesce("kept_tokens", F.lit(0)).cast("bigint").alias("kept_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# priority_sample_weighted — deterministic weighted sampling (r4s4)
# ---------------------------------------------------------------------------

PSW_K = 100  # sample size


@register(
    "priority_sample_weighted",
    oracle=f"""
    WITH d AS (SELECT doc_id,
                      CAST(GREATEST(len(regexp_extract_all(lower(text),
                                        '[a-z0-9]+')), 1) AS BIGINT) AS w,
                      ('0x' || substr(md5('psw|' || CAST(doc_id AS VARCHAR)),
                                      1, 8))::BIGINT AS u
               FROM documents),
    p AS (SELECT doc_id, w, CAST(u * 1000000 // w AS BIGINT) AS priority
          FROM d)
    SELECT doc_id, w AS weight, priority
    FROM p ORDER BY priority, doc_id LIMIT {PSW_K}
    """,
)
def priority_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement (priority
    sampling, Duffield–Lund–Thorup): each document gets priority
    u/w — a hash-uniform u divided by its token-count weight — and
    the PSW_K smallest priorities are the sample, so inclusion
    probability grows with weight (long documents are kept
    preferentially, the usual token-budget-aware corpus subsample).
    Hash-keyed ⇒ reproducible across runs, engines, and partitionings
    — no RNG state anywhere (the corpus_shard_shuffle convention).

    Exactness: u is the md5-prefix 32-bit integer ('psw|' salt — the
    quantile_sketch_rollup lesson: unsalted id hashes correlate with
    generator-derived columns), and the priority is the exact integer
    u·1e6 div w — bottom-k on (priority, doc_id) is fully ordered in
    integer space.

    Scale shape: one projection pass + a TakeOrderedAndProject heap
    of K rows; no shuffle beyond the top-k reduce. At 100 TB the
    same plan holds — each task keeps a K-heap and the driver merges
    task heaps.
    """
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(
            "CAST(GREATEST(size(regexp_extract_all(lower(text),"
            " '[a-z0-9]+', 0)), 1) AS BIGINT)"
        ).alias("w"),
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("psw|"), F.col("doc_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        )
        .cast("bigint")
        .alias("u"),
    )
    p = d.select(
        "doc_id",
        "w",
        F.expr("CAST(u * 1000000 div w AS BIGINT)").alias("priority"),
    )
    return (
        p.orderBy(F.asc("priority"), F.asc("doc_id"))
        .limit(PSW_K)
        .select("doc_id", F.col("w").alias("weight"), "priority")
    )


# ---------------------------------------------------------------------------
# DSIR importance weights (r5s3)
# ---------------------------------------------------------------------------

DSIR_B = 256  # hashed n-gram feature buckets
DSIR_TARGET_SRC = "src1"  # curated-target proxy split

_DSIR_BUCKET_SQL = "('0x' || substr(md5(w), 1, 8))::BIGINT % 256"


@register(
    "dsir_importance_weights",
    oracle=f"""
    WITH toks AS (SELECT doc_id, source, unnest({_TOKS}) AS w FROM documents),
    bt AS (SELECT {_DSIR_BUCKET_SQL} AS b, doc_id, source FROM toks),
    raw AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS cr FROM bt GROUP BY b),
    tgt AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS ct FROM bt
            WHERE source = '{DSIR_TARGET_SRC}' GROUP BY b),
    tots AS (SELECT (SELECT SUM(cr) FROM raw) AS tot_r,
                    (SELECT COALESCE(SUM(ct), 0) FROM tgt) AS tot_t),
    lam AS (SELECT r.b,
                   CAST(round(ln(((COALESCE(t.ct, 0) + 1)::DOUBLE
                                  * (tots.tot_r + {DSIR_B}))
                                 / ((r.cr + 1)::DOUBLE
                                    * (tots.tot_t + {DSIR_B})))
                              * 1000000000) AS BIGINT) AS lam9
            FROM raw r LEFT JOIN tgt t ON t.b = r.b CROSS JOIN tots),
    docw AS (SELECT bt.doc_id,
                    CAST(COUNT(*) AS BIGINT) AS n_toks,
                    CAST(SUM(lam.lam9) AS BIGINT) AS w9
             FROM bt JOIN lam ON lam.b = bt.b GROUP BY bt.doc_id)
    SELECT doc_id, n_toks,
           CAST(CASE WHEN w9 < 0 THEN -(abs(w9) // 1000)
                ELSE w9 // 1000 END AS BIGINT) AS weight_micro,
           CAST(CASE WHEN w9 > 0 THEN 1 ELSE 0 END AS BIGINT) AS keep
    FROM docw
    """,
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR (Xie et al. 2023): Data Selection via Importance
    Resampling — score every raw document by how much more likely its
    hashed-unigram features are under a curated TARGET distribution
    than under the raw-corpus distribution, log λ(doc) =
    Σ_tokens ln(p_target(bucket)/p_raw(bucket)) with add-one
    smoothing over {DSIR_B} md5 buckets. Positive weight = looks like
    the target; the `keep` flag is the selection a resampling pass
    would feed. Here the target split is source='{DSIR_TARGET_SRC}'
    (the curated-subset proxy in the synthetic corpus).

    Float parity: one double `ln` per BUCKET (256 rows), rounded to
    ×1e9 integer terms; per-document weights are then exact integer
    sums of those terms (the collocation_pmi convention), so the
    driver's hash gate is deterministic cross-engine.

    Scale shape: two map-side-combinable token-bucket aggregates
    (target is a filtered rerun of the same scan), a 256-row
    broadcast λ table joined to the exploded token stream, one
    groupBy(doc_id). No UDFs, no pairwise joins; at 100 TB the λ
    table is still 256 rows and the heavy pass is a single
    explode+aggregate the size of a token count."""
    from dbt_project_spark.functions.expressions import md5_int

    toks = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.explode(tokens_col("text")).alias("w")
    )
    bt = toks.select(
        "doc_id", "source", (md5_int("w") % DSIR_B).alias("b")
    )
    from dbt_project_spark.caching import persist_tracked

    bt = persist_tracked(bt)
    raw = bt.groupBy("b").agg(F.count(F.lit(1)).cast("bigint").alias("cr"))
    tgt = (
        bt.filter(F.col("source") == DSIR_TARGET_SRC)
        .groupBy("b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("ct"))
    )
    tots = raw.agg(F.sum("cr").cast("bigint").alias("tot_r")).crossJoin(
        tgt.agg(
            F.coalesce(F.sum("ct"), F.lit(0)).cast("bigint").alias("tot_t")
        )
    )
    lam = (
        raw.join(tgt, "b", "left")
        .crossJoin(tots)
        .select(
            "b",
            F.expr(
                f"CAST(round(ln((CAST(coalesce(ct, 0) + 1 AS DOUBLE)"
                f" * (tot_r + {DSIR_B}))"
                f" / (CAST(cr + 1 AS DOUBLE) * (tot_t + {DSIR_B})))"
                f" * 1000000000) AS BIGINT)"
            ).alias("lam9"),
        )
    )
    docw = (
        bt.join(lam, "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_toks"),
            F.sum("lam9").cast("bigint").alias("w9"),
        )
    )
    return docw.select(
        "doc_id",
        "n_toks",
        F.expr(
            "CAST(CASE WHEN w9 < 0 THEN -(abs(w9) div 1000)"
            " ELSE w9 div 1000 END AS BIGINT)"
        ).alias("weight_micro"),
        F.expr("CAST(CASE WHEN w9 > 0 THEN 1 ELSE 0 END AS BIGINT)").alias(
            "keep"
        ),
    )


# ---------------------------------------------------------------------------
# Naive Bayes quality/language classifier (r5s4)
# ---------------------------------------------------------------------------

NB_B = 256  # hashed unigram feature buckets (shared with DSIR)
NB_TEST_MOD = 5  # doc_id % 5 == 0 is the held-out test split


@register(
    "nb_lang_classifier",
    oracle=f"""
    WITH toks AS (SELECT doc_id, lang, unnest({_TOKS}) AS w FROM documents),
    bt AS (SELECT doc_id, lang, {_DSIR_BUCKET_SQL} AS b FROM toks),
    train AS (SELECT * FROM bt WHERE doc_id % {NB_TEST_MOD} <> 0),
    test AS (SELECT * FROM bt WHERE doc_id % {NB_TEST_MOD} = 0),
    cls AS (SELECT lang AS c,
                   ROW_NUMBER() OVER (ORDER BY lang) AS rk
            FROM (SELECT DISTINCT lang FROM documents)),
    cnt AS (SELECT lang AS c, b, CAST(COUNT(*) AS BIGINT) AS n
            FROM train GROUP BY 1, 2),
    tot AS (SELECT lang AS c, CAST(COUNT(*) AS BIGINT) AS t
            FROM train GROUP BY 1),
    prior AS (SELECT lang AS c,
                     CAST(round(ln(CAST(COUNT(DISTINCT doc_id) AS DOUBLE)
                                   / (SELECT COUNT(DISTINCT doc_id)
                                      FROM train))
                                * 1000000000) AS BIGINT) AS p9
              FROM train GROUP BY 1),
    bk AS (SELECT DISTINCT b FROM bt),
    lam AS (SELECT cls.c, bk.b,
                   CAST(round(ln((COALESCE(cnt.n, 0) + 1)::DOUBLE
                                 / (tot.t + {NB_B}))
                              * 1000000000) AS BIGINT) AS lam9
            FROM cls CROSS JOIN bk
            JOIN tot ON tot.c = cls.c
            LEFT JOIN cnt ON cnt.c = cls.c AND cnt.b = bk.b),
    score AS (SELECT te.doc_id, te.lang AS true_lang, lam.c,
                     CAST(SUM(lam.lam9) AS BIGINT) AS s9
              FROM test te JOIN lam ON lam.b = te.b
              GROUP BY 1, 2, 3),
    keyed AS (SELECT s.doc_id, s.true_lang, s.c,
                     (s.s9 + p.p9) * 8 + ((SELECT COUNT(*) FROM cls) - cls.rk)
                         AS k
              FROM score s JOIN prior p ON p.c = s.c
                           JOIN cls ON cls.c = s.c),
    pred AS (SELECT doc_id, true_lang, max_by(c, k) AS pred_lang
             FROM keyed GROUP BY 1, 2)
    SELECT true_lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM pred GROUP BY 1, 2
    """,
)
def nb_lang_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes document classifier — the fastText /
    CCNet quality-classifier dataflow (train a cheap linear model on
    a labeled split, score the rest, keep what the model likes) with
    `lang` as the label and hashed unigram buckets as features.
    Train = doc_id % {NB_TEST_MOD} != 0, test = the rest; add-one
    smoothing over {NB_B} buckets; prediction = argmax over classes
    of prior + sum of per-token log-likelihoods. Output is the test
    confusion matrix (true_lang, pred_lang, n_docs).

    Float parity: one double `ln` per (class, bucket) cell (≤5×256
    rows) and one per class prior, each rounded to a ×1e9 integer;
    per-document scores are exact integer sums, and the argmax uses
    the integer key trick (score*8 + class-rank complement — scores
    are integers, so distinct scores differ by ≥8 > any rank term)
    making ties break identically on both engines.

    Scale shape: model = two map-side-combinable aggregates over the
    token stream plus a ≤1280-row broadcast λ table; scoring joins
    the exploded test tokens to that broadcast and reduces by
    (doc, class). No per-pair work, no UDFs; at 100 TB this is one
    token-count-sized pass over train and one over test — exactly
    why production pipelines can afford to classifier-filter
    everything they crawl."""
    bt, lam, prior, nc = _nb_model(spark, sf_dir)
    test = bt.filter(F.col("doc_id") % NB_TEST_MOD == 0)
    pred = _nb_predict(test, lam, prior, nc)
    return pred.groupBy("true_lang", "pred_lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )


def nb_bucketize(docs: DataFrame) -> DataFrame:
    """(doc_id, lang, text) → the hashed token-bucket stream
    (doc_id, lang, b) the NB model trains on and scores."""
    from dbt_project_spark.functions.expressions import md5_int

    toks = docs.select(
        "doc_id", "lang", F.explode(tokens_col("text")).alias("w")
    )
    return toks.select("doc_id", "lang", (md5_int("w") % NB_B).alias("b"))


def _nb_model(spark: SparkSession, sf_dir: str):
    """Train the NB model on the sf_dir corpus' train split. Returns
    (full corpus bucket stream, λ table, prior table, class count) —
    the latter three are the broadcastable model; scoring any
    document stream against them is `_nb_predict`."""
    from dbt_project_spark.caching import persist_tracked
    from dbt_project_spark.operators.joins import at_most

    docs = load_table(spark, sf_dir, "documents")
    bt = persist_tracked(nb_bucketize(docs))
    train = bt.filter(F.col("doc_id") % NB_TEST_MOD != 0)
    w = Window.orderBy("c")
    cls = (
        docs.select(F.col("lang").alias("c"))
        .distinct()
        .withColumn("rk", F.row_number().over(w))
    )
    cnt = train.groupBy(F.col("lang").alias("c"), "b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    tot = train.groupBy(F.col("lang").alias("c")).agg(
        F.count(F.lit(1)).cast("bigint").alias("t")
    )
    ntr = train.agg(
        F.countDistinct("doc_id").cast("bigint").alias("n_train")
    )
    prior = (
        train.groupBy(F.col("lang").alias("c"))
        .agg(F.countDistinct("doc_id").cast("bigint").alias("nd"))
        .crossJoin(ntr)
        .select(
            "c",
            F.round(
                F.log(F.col("nd").cast("double") / F.col("n_train"))
                * 1_000_000_000
            )
            .cast("bigint")
            .alias("p9"),
        )
    )
    bk = at_most(bt.select("b").distinct(), NB_B)  # buckets are b % NB_B
    nc = cls.agg(F.count(F.lit(1)).cast("bigint").alias("ncls"))
    lam = (
        cls.crossJoin(bk)
        .join(tot, "c")
        .join(cnt, ["c", "b"], "left")
        .select(
            "c",
            "rk",
            "b",
            F.round(
                F.log(
                    (F.coalesce(F.col("n"), F.lit(0)) + 1).cast("double")
                    / (F.col("t") + NB_B)
                )
                * 1_000_000_000
            )
            .cast("bigint")
            .alias("lam9"),
        )
    )
    return bt, lam, prior, nc


def _nb_predict(
    bt: DataFrame, lam: DataFrame, prior: DataFrame, nc: DataFrame
) -> DataFrame:
    """Score a bucket stream (doc_id, lang, b) against the model:
    (doc_id, true_lang, pred_lang), argmax by the exact integer key."""
    score = (
        bt.join(lam, "b")
        .groupBy("doc_id", F.col("lang").alias("true_lang"), "c", "rk")
        .agg(F.sum("lam9").cast("bigint").alias("s9"))
    )
    keyed = (
        score.join(prior, "c")
        .crossJoin(nc)
        .select(
            "doc_id",
            "true_lang",
            "c",
            (
                (F.col("s9") + F.col("p9")) * 8
                + (F.col("ncls") - F.col("rk"))
            ).alias("k"),
        )
    )
    return keyed.groupBy("doc_id", "true_lang").agg(
        F.max_by("c", "k").alias("pred_lang")
    )


# ---------------------------------------------------------------------------
# Moore-Lewis cross-entropy difference selection (r5s4)
# ---------------------------------------------------------------------------


@register(
    "moore_lewis_selection",
    oracle=f"""
    WITH t AS (SELECT doc_id, source, {_TOKS} AS t FROM documents),
    big AS (SELECT doc_id, source,
                   unnest(list_transform(range(1, len(t)), i -> t[i])) AS w1,
                   unnest(list_transform(range(1, len(t)),
                                         i -> t[i] || ' ' || t[i+1])) AS bg
            FROM t WHERE len(t) >= 2),
    occ AS (SELECT doc_id, source, w1, bg, CAST(COUNT(*) AS BIGINT) AS occ
            FROM big GROUP BY 1, 2, 3, 4),
    uni AS (SELECT source, unnest(t) AS w FROM t),
    c1 AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM uni GROUP BY 1),
    c1t AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM uni
            WHERE source = '{DSIR_TARGET_SRC}' GROUP BY 1),
    vv AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM c1),
    bgc AS (SELECT bg, CAST(SUM(occ) AS BIGINT) AS n FROM occ GROUP BY 1),
    bgt AS (SELECT bg, CAST(SUM(occ) AS BIGINT) AS n FROM occ
            WHERE source = '{DSIR_TARGET_SRC}' GROUP BY 1),
    bgs AS (SELECT DISTINCT bg, w1 FROM occ),
    mt AS (SELECT bgs.bg,
                  CAST(round(ln((COALESCE(bgt.n, 0) + 1) * 1.0
                                / (COALESCE(c1t.c, 0) + vv.v))
                             * 1000000000) AS BIGINT)
                  - CAST(round(ln((bgc.n + 1) * 1.0 / (c1.c + vv.v))
                               * 1000000000) AS BIGINT) AS d9
           FROM bgs JOIN bgc ON bgc.bg = bgs.bg
                    JOIN c1 ON c1.w = bgs.w1
                    LEFT JOIN bgt ON bgt.bg = bgs.bg
                    LEFT JOIN c1t ON c1t.w = bgs.w1
                    CROSS JOIN vv),
    docw AS (SELECT o.doc_id,
                    CAST(SUM(o.occ) AS BIGINT) AS nb,
                    CAST(SUM(o.occ * mt.d9) AS BIGINT) AS d9
             FROM occ o JOIN mt ON mt.bg = o.bg GROUP BY 1)
    SELECT doc_id, nb AS n_bigrams,
           CAST(CASE WHEN d9 < 0 THEN -(abs(d9) // (1000 * nb))
                ELSE d9 // (1000 * nb) END AS BIGINT) AS delta_micro,
           CAST(CASE WHEN d9 > 0 THEN 1 ELSE 0 END AS BIGINT) AS keep
    FROM docw
    """,
)
def moore_lewis_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moore-Lewis (2010) intelligent data selection: score every
    document by the cross-entropy DIFFERENCE between an in-domain LM
    (add-one-smoothed bigram model trained on the curated target
    split, source='{DSIR_TARGET_SRC}') and the general-corpus LM —
    keep documents the target model likes MORE than the background
    model does. The bigram twin of `dsir_importance_weights` (which
    uses hashed unigrams): together they are the two standard cheap
    selection scorers production pipelines run before training.

    Both models share the full-corpus vocabulary size V as the
    smoothing denominator (one event space, so the difference is a
    proper log-likelihood-ratio); bigrams unseen in target back off
    to 1/(0+V). One double `ln` per (bigram type, model) rounded to
    ×1e9; per-doc deltas are exact integer occurrence-weighted sums
    with a sign-safe truncating micro division.

    Scale shape: the model is two bigram-count and two unigram-count
    aggregates (all map-side combinable; target counts are filtered
    reruns of the same shuffle); scoring re-joins doc occurrences to
    the per-type delta table on the bg equi-key. No per-pair work;
    the heavy passes are token-count-sized, same as bigram_lm_quality.
    """
    from dbt_project_spark.caching import persist_tracked

    toks = (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            "source",
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
            "source",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t) - 1),"
                    " i -> struct(t[i-1] AS w1,"
                    " concat(t[i-1], ' ', t[i]) AS bg))"
                )
            ).alias("x"),
        )
        .select(
            "doc_id",
            "source",
            F.col("x.w1").alias("w1"),
            F.col("x.bg").alias("bg"),
        )
    )
    occ = persist_tracked(
        big.groupBy("doc_id", "source", "w1", "bg").agg(
            F.count(F.lit(1)).cast("bigint").alias("occ")
        )
    )
    uni = toks.select("source", F.explode("t").alias("w"))
    uni = persist_tracked(uni)
    c1 = uni.groupBy("w").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    c1 = persist_tracked(c1)
    c1t = (
        uni.filter(F.col("source") == DSIR_TARGET_SRC)
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("ct"))
    )
    vv = c1.agg(F.count(F.lit(1)).cast("bigint").alias("v"))
    bgc = occ.groupBy("bg").agg(F.sum("occ").cast("bigint").alias("n"))
    bgt = (
        occ.filter(F.col("source") == DSIR_TARGET_SRC)
        .groupBy("bg")
        .agg(F.sum("occ").cast("bigint").alias("nt"))
    )
    bgs = occ.select("bg", "w1").distinct()
    mt = (
        bgs.join(bgc, "bg")
        .join(c1.withColumnRenamed("w", "w1"), "w1")
        .join(bgt, "bg", "left")
        .join(
            c1t.withColumnRenamed("w", "w1"), "w1", "left"
        )
        .crossJoin(vv)
        .select(
            "bg",
            (
                F.round(
                    F.log(
                        (F.coalesce(F.col("nt"), F.lit(0)) + 1)
                        * 1.0
                        / (F.coalesce(F.col("ct"), F.lit(0)) + F.col("v"))
                    )
                    * 1_000_000_000
                ).cast("bigint")
                - F.round(
                    F.log(
                        (F.col("n") + 1) * 1.0 / (F.col("c") + F.col("v"))
                    )
                    * 1_000_000_000
                ).cast("bigint")
            ).alias("d9"),
        )
    )
    docw = (
        occ.join(mt, "bg")
        .groupBy("doc_id")
        .agg(
            F.sum("occ").cast("bigint").alias("nb"),
            F.sum(F.col("occ") * F.col("d9")).cast("bigint").alias("d9"),
        )
    )
    return docw.select(
        "doc_id",
        F.col("nb").alias("n_bigrams"),
        F.expr(
            "CAST(CASE WHEN d9 < 0 THEN -(abs(d9) div (1000 * nb))"
            " ELSE d9 div (1000 * nb) END AS BIGINT)"
        ).alias("delta_micro"),
        F.expr("CAST(CASE WHEN d9 > 0 THEN 1 ELSE 0 END AS BIGINT)").alias(
            "keep"
        ),
    )


# ---------------------------------------------------------------------------
# corpus_selection_composite — the selection scorers voted (r5s4)
# ---------------------------------------------------------------------------

from dbt_project_spark.catalog import ORACLES as _ORACLES

CSC_MIN_TOKS = 20
CSC_MAX_TOKS = 100_000


@register(
    "corpus_selection_composite",
    oracle=f"""
    WITH d AS ({_ORACLES['dsir_importance_weights']}),
    m AS ({_ORACLES['moore_lewis_selection']}),
    j AS (SELECT d.doc_id, d.n_toks, d.keep AS dsir_keep, m.keep AS ml_keep,
                 CAST(CASE WHEN d.n_toks BETWEEN {CSC_MIN_TOKS}
                           AND {CSC_MAX_TOKS}
                      THEN 1 ELSE 0 END AS BIGINT) AS len_ok
          FROM d JOIN m ON m.doc_id = d.doc_id)
    SELECT doc_id, n_toks, dsir_keep, ml_keep, len_ok,
           CAST(CASE WHEN dsir_keep + ml_keep + len_ok >= 2
                THEN 1 ELSE 0 END AS BIGINT) AS selected
    FROM j
    """,
)
def corpus_selection_composite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The selection scorers VOTED — what a curation pipeline
    actually ships: DSIR (hashed-unigram importance), Moore-Lewis
    (bigram cross-entropy difference), and a token-length sanity
    bound each cast one vote per document; majority (≥2 of 3) keeps
    the doc. Ensembling decorrelates the scorers' failure modes
    (DSIR is topic-shaped, Moore-Lewis is phrasing-shaped, length
    catches fragments both overrate).

    Composition note: the oracle embeds the two member queries'
    REGISTERED oracle SQL verbatim as CTEs and the Spark side calls
    their query functions and joins the outputs — the composite can
    never drift from its members. Scored population = docs with ≥2
    tokens (Moore-Lewis' bigram contract; inner join).

    Scale shape: both member scorers are token-stream aggregates
    with broadcast model tables (see their docstrings); the
    composite adds one doc-keyed equi-join of two n_docs-sized
    outputs and a projection."""
    d = dsir_importance_weights(spark, sf_dir).select(
        "doc_id", "n_toks", F.col("keep").alias("dsir_keep")
    )
    m = moore_lewis_selection(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("ml_keep")
    )
    j = d.join(m, "doc_id").withColumn(
        "len_ok",
        F.when(
            F.col("n_toks").between(CSC_MIN_TOKS, CSC_MAX_TOKS), 1
        )
        .otherwise(0)
        .cast("bigint"),
    )
    return j.select(
        "doc_id",
        "n_toks",
        "dsir_keep",
        "ml_keep",
        "len_ok",
        F.when(
            F.col("dsir_keep") + F.col("ml_keep") + F.col("len_ok") >= 2, 1
        )
        .otherwise(0)
        .cast("bigint")
        .alias("selected"),
    )


# ---------------------------------------------------------------------------
# negative_sampling_dist — word2vec noise distribution (r5s4)
# ---------------------------------------------------------------------------

NEG_POW_MILLI = 750  # the word2vec 3/4 exponent, ×1000


@register(
    "negative_sampling_dist",
    oracle=f"""
    WITH wf AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS f FROM (
                    SELECT unnest({_TOKS}) AS w FROM documents) GROUP BY w),
    pw AS (SELECT w, f,
                  CAST(round(pow(f, {NEG_POW_MILLI} / 1000.0) * 1000000)
                       AS BIGINT) AS fp6
           FROM wf),
    tot AS (SELECT CAST(SUM(fp6) AS BIGINT) AS t FROM pw),
    d AS (SELECT w, f, fp6,
                 CAST(fp6 * 1000000 // tot.t AS BIGINT) AS p_micro,
                 CAST(SUM(fp6) OVER (ORDER BY fp6 DESC, w) * 1000000 // tot.t
                      AS BIGINT) AS cum_p_micro,
                 ROW_NUMBER() OVER (ORDER BY fp6 DESC, w) AS rk
          FROM pw CROSS JOIN tot)
    SELECT CAST(rk AS BIGINT) AS rank, w AS word, f, fp6, p_micro,
           cum_p_micro
    FROM d WHERE rk <= {VOCAB_K}
    """,
)
def negative_sampling_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The word2vec negative-sampling noise distribution: unigram
    frequency raised to the 3/4 power (Mikolov et al. 2013 — flattens
    the head so frequent words aren't over-sampled, lifts the tail so
    rare words are seen at all), normalized to sampling probabilities
    with a cumulative column — exactly the table an embedding trainer
    bakes into its alias/He sampler. Top-{VOCAB_K} rows by sampling
    mass.

    Determinism: one double `pow` per distinct word rounded to a
    ×1e6 integer; probabilities and the cumulative are exact integer
    divisions over the BIGINT total; ordering is total (fp6 desc,
    word).

    Scale shape: a word-count aggregate, a 1-row total broadcast,
    and a window over the top slice — vocabulary-sized everywhere,
    the corpus is scanned once."""
    wf = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(tokens_col("text")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("f"))
    )
    pw = wf.select(
        "w",
        "f",
        F.round(
            F.pow(F.col("f"), NEG_POW_MILLI / 1000.0) * 1_000_000
        )
        .cast("bigint")
        .alias("fp6"),
    )
    from dbt_project_spark.caching import persist_tracked

    pw = persist_tracked(pw)
    tot = pw.agg(F.sum("fp6").cast("bigint").alias("t"))
    w_rk = Window.orderBy(F.desc("fp6"), "w")
    w_cum = Window.orderBy(F.desc("fp6"), "w").rowsBetween(
        Window.unboundedPreceding, 0
    )
    d = (
        pw.crossJoin(tot)
        .withColumn("rank", F.row_number().over(w_rk).cast("bigint"))
        .withColumn(
            "p_micro", F.expr("CAST(fp6 * 1000000 div t AS BIGINT)")
        )
        .withColumn("cum_fp6", F.sum("fp6").over(w_cum).cast("bigint"))
        .withColumn(
            "cum_p_micro",
            F.expr("CAST(cum_fp6 * 1000000 div t AS BIGINT)"),
        )
    )
    return d.filter(F.col("rank") <= VOCAB_K).select(
        "rank",
        F.col("w").alias("word"),
        "f",
        "fp6",
        "p_micro",
        "cum_p_micro",
    )


# ---------------------------------------------------------------------------
# nb_margin_calibration — classifier confidence vs accuracy (r5s4)
# ---------------------------------------------------------------------------

NB_CAL_BINS = 5


@register(
    "nb_margin_calibration",
    oracle=f"""
    WITH toks AS (SELECT doc_id, lang, unnest({_TOKS}) AS w FROM documents),
    bt AS (SELECT doc_id, lang, {_DSIR_BUCKET_SQL} AS b FROM toks),
    train AS (SELECT * FROM bt WHERE doc_id % {NB_TEST_MOD} <> 0),
    test AS (SELECT * FROM bt WHERE doc_id % {NB_TEST_MOD} = 0),
    cls AS (SELECT lang AS c,
                   ROW_NUMBER() OVER (ORDER BY lang) AS rk
            FROM (SELECT DISTINCT lang FROM documents)),
    cnt AS (SELECT lang AS c, b, CAST(COUNT(*) AS BIGINT) AS n
            FROM train GROUP BY 1, 2),
    tot AS (SELECT lang AS c, CAST(COUNT(*) AS BIGINT) AS t
            FROM train GROUP BY 1),
    prior AS (SELECT lang AS c,
                     CAST(round(ln(CAST(COUNT(DISTINCT doc_id) AS DOUBLE)
                                   / (SELECT COUNT(DISTINCT doc_id)
                                      FROM train))
                                * 1000000000) AS BIGINT) AS p9
              FROM train GROUP BY 1),
    bk AS (SELECT DISTINCT b FROM bt),
    lam AS (SELECT cls.c, cls.rk, bk.b,
                   CAST(round(ln((COALESCE(cnt.n, 0) + 1)::DOUBLE
                                 / (tot.t + {NB_B}))
                              * 1000000000) AS BIGINT) AS lam9
            FROM cls CROSS JOIN bk
            JOIN tot ON tot.c = cls.c
            LEFT JOIN cnt ON cnt.c = cls.c AND cnt.b = bk.b),
    score AS (SELECT te.doc_id, te.lang AS true_lang, lam.c, lam.rk,
                     CAST(SUM(lam.lam9) AS BIGINT) AS s9
              FROM test te JOIN lam ON lam.b = te.b
              GROUP BY 1, 2, 3, 4),
    keyed AS (SELECT s.doc_id, s.true_lang, s.c,
                     s.s9 + p.p9 AS sc,
                     (s.s9 + p.p9) * 8
                         + ((SELECT COUNT(*) FROM cls) - s.rk) AS k
              FROM score s JOIN prior p ON p.c = s.c),
    rn AS (SELECT doc_id, true_lang, c, sc,
                  ROW_NUMBER() OVER (PARTITION BY doc_id
                                     ORDER BY k DESC) AS r
           FROM keyed),
    md AS (SELECT r1.doc_id, r1.true_lang, r1.c AS pred_lang,
                  r1.sc - r2.sc AS margin9
           FROM rn r1 JOIN rn r2
             ON r2.doc_id = r1.doc_id AND r1.r = 1 AND r2.r = 2),
    nb AS (SELECT doc_id, true_lang, pred_lang, margin9,
                  NTILE({NB_CAL_BINS}) OVER (ORDER BY margin9, doc_id)
                      AS bin
           FROM md)
    SELECT CAST(bin AS BIGINT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN pred_lang = true_lang THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           CAST(SUM(CASE WHEN pred_lang = true_lang THEN 1 ELSE 0 END)
                * 1000000 // COUNT(*) AS BIGINT) AS accuracy_micro,
           CAST(MIN(margin9) AS BIGINT) AS min_margin9,
           CAST(MAX(margin9) AS BIGINT) AS max_margin9
    FROM nb GROUP BY bin
    """,
)
def nb_margin_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier calibration check: bucket test docs into margin
    quintiles (margin = winning class's integer score minus the
    runner-up's — the exact-arithmetic stand-in for predictive
    confidence) and report accuracy per bucket. A usable quality
    filter must be MONOTONE here — high-margin buckets more accurate
    — because production pipelines threshold on confidence; a flat
    curve means the scores carry no ranking information and the
    threshold is arbitrary.

    Shares the NB model dataflow (same λ/prior construction as
    nb_lang_classifier); margins come from ranking the per-(doc,
    class) integer keys, so bucket edges are engine-identical
    (NTILE over a total (margin, doc_id) order).

    Scale shape: adds to the classifier one per-doc top-2 window
    over |classes| rows per doc and one NTILE over n_test rows."""
    bt, lam, prior, nc = _nb_model(spark, sf_dir)
    test = bt.filter(F.col("doc_id") % NB_TEST_MOD == 0)
    score = (
        test.join(lam, "b")
        .groupBy("doc_id", F.col("lang").alias("true_lang"), "c", "rk")
        .agg(F.sum("lam9").cast("bigint").alias("s9"))
    )
    keyed = (
        score.join(prior, "c")
        .crossJoin(nc)
        .select(
            "doc_id",
            "true_lang",
            "c",
            (F.col("s9") + F.col("p9")).alias("sc"),
            (
                (F.col("s9") + F.col("p9")) * 8
                + (F.col("ncls") - F.col("rk"))
            ).alias("k"),
        )
    )
    wr = Window.partitionBy("doc_id").orderBy(F.desc("k"))
    rn = keyed.withColumn("r", F.row_number().over(wr))
    r1 = rn.filter(F.col("r") == 1).select(
        "doc_id", "true_lang", F.col("c").alias("pred_lang"),
        F.col("sc").alias("sc1"),
    )
    r2 = rn.filter(F.col("r") == 2).select(
        "doc_id", F.col("sc").alias("sc2")
    )
    md = r1.join(r2, "doc_id").withColumn(
        "margin9", F.col("sc1") - F.col("sc2")
    )
    wb = Window.orderBy("margin9", "doc_id")
    nb = md.withColumn("bin", F.ntile(NB_CAL_BINS).over(wb))
    return nb.groupBy(F.col("bin").cast("bigint").alias("bin")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(
            F.when(F.col("pred_lang") == F.col("true_lang"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_correct"),
        F.expr(
            "CAST(SUM(CASE WHEN pred_lang = true_lang THEN 1 ELSE 0 END)"
            " * 1000000 div COUNT(*) AS BIGINT)"
        ).alias("accuracy_micro"),
        F.min("margin9").cast("bigint").alias("min_margin9"),
        F.max("margin9").cast("bigint").alias("max_margin9"),
    )


# ---------------------------------------------------------------------------
# source_temperature_mix — temperature-based source sampling weights (r5s5)
# ---------------------------------------------------------------------------

# alpha = 0.5: q_s ∝ n_s^0.5. Chosen because sqrt is the ONE power
# both engines compute correctly-rounded (IEEE-exact), so the weight
# table is bit-identical cross-engine; the mT5/XLM-R convention uses
# alpha in [0.3, 0.7] and 0.5 sits in-range.


@register(
    "source_temperature_mix",
    oracle="""
    WITH per AS (SELECT source,
                        CAST(COUNT(*) AS BIGINT) AS n_docs,
                        CAST(SUM(len(regexp_extract_all(lower(text),
                                 '[a-z0-9]+'))) AS BIGINT) AS n_tokens
                 FROM documents GROUP BY source),
    r AS (SELECT source, n_docs, n_tokens,
                 CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000)
                      AS BIGINT) AS rt
          FROM per),
    tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS tn,
                   CAST(SUM(rt) AS BIGINT) AS tr
            FROM r)
    SELECT r.source, r.n_docs, r.n_tokens,
           CAST(r.n_tokens * 1000000 // tot.tn AS BIGINT) AS p_micro,
           CAST(r.rt * 1000000 // tot.tr AS BIGINT) AS q_micro,
           CAST((CAST(r.rt AS HUGEINT) * tot.tn * 1000000)
                // (CAST(tot.tr AS HUGEINT) * r.n_tokens) AS BIGINT)
               AS boost_micro
    FROM r CROSS JOIN tot
    """,
)
def source_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based source sampling weights (the mT5/XLM-R
    multilingual mixing rule, Xue et al. 2021): natural source shares
    p_s = n_s/Σn are flattened to q_s ∝ n_s^alpha with alpha=0.5, so
    low-resource sources are UP-sampled (boost = q/p > 1) and the
    head sources down-sampled — the table a pretraining run bakes
    into its sampler next to corpus_mix_sample's hard budget.

    Determinism: alpha=0.5 makes the power an IEEE-exact sqrt; the
    rooted weights are quantized to ×1e6 integers BEFORE summing so
    the normalizing total is an exact BIGINT (double summation order
    never matters), and every ratio is a truncating integer division
    (the boost numerator runs in DECIMAL(38,0)/HUGEINT — r·Σn·1e6
    overflows BIGINT at web-corpus token counts).

    Scale shape: one map-side-combinable per-source aggregate over
    the token stream + a 1-row broadcast total — word-count shape,
    |sources| output rows."""
    docs = load_table(spark, sf_dir, "documents")
    per = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(
            F.size(
                F.expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")
            )
        )
        .cast("bigint")
        .alias("n_tokens"),
    )
    r = per.withColumn(
        "rt",
        F.expr(
            "CAST(FLOOR(SQRT(CAST(n_tokens AS DOUBLE)) * 1000000)"
            " AS BIGINT)"
        ),
    )
    tot = r.agg(
        F.sum("n_tokens").cast("bigint").alias("tn"),
        F.sum("rt").cast("bigint").alias("tr"),
    )
    return r.crossJoin(tot).select(
        "source",
        "n_docs",
        "n_tokens",
        F.expr("CAST(n_tokens * 1000000 div tn AS BIGINT)").alias(
            "p_micro"
        ),
        F.expr("CAST(rt * 1000000 div tr AS BIGINT)").alias("q_micro"),
        F.expr(
            "CAST((CAST(rt AS DECIMAL(38,0)) * tn * 1000000)"
            " div (CAST(tr AS DECIMAL(38,0)) * n_tokens) AS BIGINT)"
        ).alias("boost_micro"),
    )


# ---------------------------------------------------------------------------
# pack_padding_waste_sweep — padding waste vs context budget (r5s5)
# ---------------------------------------------------------------------------

PACK_BUDGETS = (64, 128, 256, 512)


@register(
    "pack_padding_waste_sweep",
    oracle=f"""
    WITH d AS (SELECT doc_id,
                      CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+'))
                           AS BIGINT) AS tk
               FROM documents),
    d1 AS (SELECT * FROM d WHERE tk > 0),
    b AS (SELECT * FROM (VALUES {", ".join(f"({b})" for b in PACK_BUDGETS)})
              AS t(budget)),
    g AS (SELECT b.budget,
                 CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(d1.tk) AS BIGINT) AS total_tokens,
                 CAST(SUM((d1.tk + b.budget - 1) // b.budget) AS BIGINT)
                     AS padded_chunks
          FROM d1 CROSS JOIN b GROUP BY b.budget)
    SELECT CAST(budget AS BIGINT) AS budget, n_docs, total_tokens,
           padded_chunks,
           padded_chunks * budget - total_tokens AS waste_tokens,
           CAST((padded_chunks * budget - total_tokens) * 1000000
                // (padded_chunks * budget) AS BIGINT) AS waste_micro,
           (total_tokens + budget - 1) // budget AS packed_chunks,
           CAST((padded_chunks - (total_tokens + budget - 1) // budget)
                * 1000000 // padded_chunks AS BIGINT) AS packing_gain_micro
    FROM g
    """,
)
def pack_padding_waste_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Padding waste as a function of context budget: for each budget
    B, every document padded up to a multiple of B (the no-packing
    baseline: ceil(tk/B) chunks per doc) versus the concat-then-chunk
    lower bound ceil(Σtk/B) that seq_pack/bpe_pack_budget implement.
    waste_micro is the fraction of padded slots holding padding;
    packing_gain_micro is the chunk-count reduction packing buys —
    the one-table justification for running a packer at all, read
    before picking the context length (waste grows with B, which is
    why long-context training NEEDS packing).

    Exact: ceil via (tk + B - 1) div B on BIGINTs; every ratio is a
    truncating integer division; all terms positive.

    Scale shape: one narrow per-doc token count, a |budgets|-row
    broadcast fan-out, and a map-side-combinable aggregate per
    budget — |budgets| output rows."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        F.size(
            F.expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")
        )
        .cast("bigint")
        .alias("tk")
    ).filter(F.col("tk") > 0)
    b = literal_table(spark, [(bb,) for bb in PACK_BUDGETS], "budget bigint")
    g = (
        d.crossJoin(b)
        .groupBy("budget")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("tk").cast("bigint").alias("total_tokens"),
            F.sum(F.expr("(tk + budget - 1) div budget"))
            .cast("bigint")
            .alias("padded_chunks"),
        )
    )
    return g.select(
        "budget",
        "n_docs",
        "total_tokens",
        "padded_chunks",
        (F.col("padded_chunks") * F.col("budget") - F.col("total_tokens"))
        .cast("bigint")
        .alias("waste_tokens"),
        F.expr(
            "CAST((padded_chunks * budget - total_tokens) * 1000000"
            " div (padded_chunks * budget) AS BIGINT)"
        ).alias("waste_micro"),
        F.expr("(total_tokens + budget - 1) div budget")
        .cast("bigint")
        .alias("packed_chunks"),
        F.expr(
            "CAST((padded_chunks - (total_tokens + budget - 1) div budget)"
            " * 1000000 div padded_chunks AS BIGINT)"
        ).alias("packing_gain_micro"),
    )


# ---------------------------------------------------------------------------
# stratified_kfold_assignment — deterministic CV folds (r5s7)
# ---------------------------------------------------------------------------

KFOLD_K = 5


@register(
    "stratified_kfold_assignment",
    oracle=f"""
    WITH d AS (SELECT doc_id, lang, source,
                      CAST(len({_TOKS}) AS BIGINT) AS n_toks,
                      ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':kf'),
                                      1, 8))::BIGINT AS h
               FROM documents),
    f AS (SELECT doc_id, lang, source, n_toks,
                 (ROW_NUMBER() OVER (PARTITION BY lang, source
                                     ORDER BY h, doc_id) - 1)
                     % {KFOLD_K} AS fold
          FROM d),
    t AS (SELECT CAST(COUNT(*) AS BIGINT) AS nt FROM f),
    g AS (SELECT fold,
                 CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
                 CAST(COUNT(DISTINCT lang || '/' || source) AS BIGINT)
                     AS n_strata
          FROM f GROUP BY fold)
    SELECT CAST(g.fold AS BIGINT) AS fold, g.n_docs, g.n_tokens,
           g.n_strata,
           CAST(CASE WHEN g.n_docs * {KFOLD_K} >= t.nt
                     THEN (g.n_docs * {KFOLD_K} - t.nt) * 1000000 // t.nt
                     ELSE -((t.nt - g.n_docs * {KFOLD_K}) * 1000000 // t.nt)
                END AS BIGINT) AS dev_micro
    FROM g CROSS JOIN t
    """,
)
def stratified_kfold_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified K-fold assignment for cross-validation
    over the corpus: docs are shuffled WITHIN each (lang, source)
    stratum by a salted hash and dealt round-robin, so every fold gets
    each stratum's share to within one document — the property plain
    hash-mod folding only delivers in expectation. Reports per-fold
    size, token mass, strata coverage, and the signed deviation from
    the ideal N/K (bounded by |strata|·K/N in micro units — the
    balance certificate). For near-dup-safe folding, compose with the
    cluster ids of split_group_aware.

    Determinism: the within-stratum order is (md5(doc_id:'kf'),
    doc_id) — total and engine-identical; everything after is integer
    arithmetic with the sign-safe truncating micro deviation.

    Scale shape: one row_number window per stratum (strata are the
    natural partition key — no global sort), then a K-row rollup.
    Tokenization is one array pass, counted not exploded."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        "source",
        F.expr(
            f"CAST(size(regexp_extract_all(lower(text), '[a-z0-9]+', 0))"
            " AS BIGINT)"
        ).alias("n_toks"),
        F.expr(
            "CAST(conv(substr(md5(concat(CAST(doc_id AS STRING), ':kf')),"
            " 1, 8), 16, 10) AS BIGINT)"
        ).alias("h"),
    )
    w = Window.partitionBy("lang", "source").orderBy("h", "doc_id")
    f = d.select(
        "doc_id",
        "lang",
        "source",
        "n_toks",
        ((F.row_number().over(w) - 1) % KFOLD_K).alias("fold"),
    )
    t = f.agg(F.count(F.lit(1)).cast("bigint").alias("nt"))
    g = f.groupBy("fold").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_toks").cast("bigint").alias("n_tokens"),
        F.countDistinct(F.concat_ws("/", "lang", "source"))
        .cast("bigint")
        .alias("n_strata"),
    )
    return g.crossJoin(t).select(
        F.col("fold").cast("bigint").alias("fold"),
        "n_docs",
        "n_tokens",
        "n_strata",
        F.expr(
            f"CAST(CASE WHEN n_docs * {KFOLD_K} >= nt"
            f" THEN (n_docs * {KFOLD_K} - nt) * 1000000 div nt"
            f" ELSE -((nt - n_docs * {KFOLD_K}) * 1000000 div nt)"
            " END AS BIGINT)"
        ).alias("dev_micro"),
    )


# ---------------------------------------------------------------------------
# shard_interleave_runs_test — does the shuffle actually mix? (r5s14)
# ---------------------------------------------------------------------------


@register(
    "shard_interleave_runs_test",
    oracle=f"""
    WITH h AS (SELECT doc_id, source,
                      ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                          ::BIGINT AS hkey
               FROM documents),
    s AS (SELECT doc_id, source, hkey, hkey % {N_SHARDS} AS shard FROM h),
    seq AS (SELECT shard, source,
                   LAG(source) OVER (PARTITION BY shard
                                     ORDER BY hkey, doc_id) AS prev
            FROM s),
    obs AS (SELECT shard,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CASE WHEN prev = source THEN 1 ELSE 0 END)
                        AS BIGINT) AS same_adj
            FROM seq GROUP BY shard),
    kc AS (SELECT shard, CAST(SUM(CAST(k AS HUGEINT) * (k - 1)) AS HUGEINT)
                             AS sk2
           FROM (SELECT shard, source, COUNT(*) AS k
                 FROM s GROUP BY 1, 2)
           GROUP BY shard)
    SELECT CAST(obs.shard AS BIGINT) AS shard, obs.n AS n_docs,
           obs.same_adj,
           CAST(CASE WHEN kc.sk2 = 0 THEN 0
                ELSE CAST(obs.same_adj AS HUGEINT) * obs.n * 1000000
                     // kc.sk2 END AS BIGINT) AS clump_micro
    FROM obs JOIN kc ON kc.shard = obs.shard
    """,
)
def shard_interleave_runs_test(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Runs-test audit of the training-shard shuffle: within each of
    corpus_shard_shuffle's shards, in its exact read order, count
    adjacent same-SOURCE pairs and compare to the random-arrangement
    expectation Σk(k−1)/n. clump_micro ≈ 1e6 means the hash shuffle
    interleaves sources as designed; ≫1e6 means consecutive
    same-source training batches — gradient correlation a curriculum
    didn't ask for. The health check run on every repack.

    Exactness: observed same-adjacent counts are integers off one
    LAG pass; the expectation's numerator/denominator are exact
    HUGEINT/DECIMAL(38,0) products, one truncating micro division
    (obs·n·1e6 // Σk(k−1) — the obs/exp ratio in micro).

    Scale shape: the LAG window runs per shard on the shard's own
    hash order — the same partitioning the shuffle writes, no extra
    exchange; the source-count rollup is shards×sources-sized."""
    from dbt_project_spark.functions.expressions import md5_int

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", md5_int(F.col("doc_id").cast("string")).alias("hkey")
    )
    s = docs.withColumn("shard", F.col("hkey") % N_SHARDS)
    from dbt_project_spark.caching import persist_tracked

    s = persist_tracked(s)
    w = Window.partitionBy("shard").orderBy("hkey", "doc_id")
    seq = s.select(
        "shard", "source", F.lag("source").over(w).alias("prev")
    )
    obs = seq.groupBy("shard").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("prev") == F.col("source"), 1).otherwise(0))
        .cast("bigint")
        .alias("same_adj"),
    )
    kc = (
        s.groupBy("shard", "source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("k"))
        .groupBy("shard")
        .agg(
            F.expr("SUM(CAST(k AS DECIMAL(38,0)) * (k - 1))").alias("sk2")
        )
    )
    return obs.join(kc, "shard").select(
        F.col("shard").cast("bigint").alias("shard"),
        F.col("n").alias("n_docs"),
        "same_adj",
        F.expr(
            "CAST(CASE WHEN sk2 = 0 THEN 0"
            " ELSE CAST(same_adj AS DECIMAL(38,0)) * n * 1000000"
            " div sk2 END AS BIGINT)"
        ).alias("clump_micro"),
    )


# ---------------------------------------------------------------------------
# nb_mcc_score — one-number multi-class eval of the classifier (r5s20)
# ---------------------------------------------------------------------------


def _nb_mcc_oracle_sql() -> str:
    from dbt_project_spark.catalog import ORACLES

    return f"""
    WITH cm AS ({ORACLES["nb_lang_classifier"]}),
    tk AS (SELECT true_lang AS k, CAST(SUM(n_docs) AS BIGINT) AS t
           FROM cm GROUP BY 1),
    pk AS (SELECT pred_lang AS k, CAST(SUM(n_docs) AS BIGINT) AS p
           FROM cm GROUP BY 1),
    tots AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n,
                    CAST(SUM(CASE WHEN true_lang = pred_lang
                             THEN n_docs ELSE 0 END) AS BIGINT) AS tr
             FROM cm),
    tp AS (SELECT CAST(SUM(CAST(COALESCE(tk.t, 0) AS HUGEINT)
                           * COALESCE(pk.p, 0)) AS HUGEINT) AS stp
           FROM tk FULL JOIN pk ON pk.k = tk.k),
    s2 AS (SELECT (SELECT CAST(SUM(CAST(t AS HUGEINT) * t) AS HUGEINT)
                   FROM tk) AS st2,
                  (SELECT CAST(SUM(CAST(p AS HUGEINT) * p) AS HUGEINT)
                   FROM pk) AS sp2)
    SELECT tots.n AS n_test, tots.tr AS n_correct,
           CAST(tots.tr * 1000000 // tots.n AS BIGINT) AS accuracy_micro,
           CASE WHEN CAST(tots.n AS HUGEINT) * tots.n = s2.st2
                     OR CAST(tots.n AS HUGEINT) * tots.n = s2.sp2
                THEN NULL
                ELSE ROUND((CAST(tots.n AS DOUBLE) * tots.tr
                            - CAST(tp.stp AS DOUBLE))
                     / (sqrt(CAST(tots.n AS DOUBLE) * tots.n
                             - CAST(s2.st2 AS DOUBLE))
                        * sqrt(CAST(tots.n AS DOUBLE) * tots.n
                               - CAST(s2.sp2 AS DOUBLE))), 6) END AS mcc
    FROM tots CROSS JOIN tp CROSS JOIN s2
    """


@register("nb_mcc_score", oracle=_nb_mcc_oracle_sql())
def nb_mcc_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-class Matthews correlation (the Gorodkin Rk) of the NB
    language classifier — the single chance-corrected number on top
    of nb_lang_classifier's confusion matrix: accuracy flatters any
    classifier on imbalanced labels (predict the majority and score
    its prevalence); MCC is 0 for that strategy and 1 only for a
    perfect diagonal. The headline that goes on the model dashboard;
    the matrix stays for the debugging.

    Exactness: row/column sums, N·tr, and Σt_k·p_k are exact
    HUGEINT/DECIMAL(38,0) integers off the registered confusion
    matrix (the oracle embeds nb_lang_classifier's SQL verbatim);
    the MCC is one fixed scalar double expression with two sqrts,
    ROUND 6; a degenerate all-one-class margin emits NULL.

    Scale shape: the classifier's own dataflow plus a
    |langs|²-sized rollup."""
    cm = nb_lang_classifier(spark, sf_dir)
    from dbt_project_spark.caching import persist_tracked

    cm = persist_tracked(cm)
    tk = cm.groupBy(F.col("true_lang").alias("k")).agg(
        F.sum("n_docs").cast("bigint").alias("t")
    )
    pk = cm.groupBy(F.col("pred_lang").alias("k")).agg(
        F.sum("n_docs").cast("bigint").alias("p")
    )
    tots = cm.agg(
        F.sum("n_docs").cast("bigint").alias("n"),
        F.sum(
            F.when(
                F.col("true_lang") == F.col("pred_lang"), F.col("n_docs")
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("tr"),
    )
    tp = (
        tk.join(pk, "k", "full")
        .agg(
            F.expr(
                "SUM(CAST(COALESCE(t, 0) AS DECIMAL(38,0))"
                " * COALESCE(p, 0))"
            ).alias("stp")
        )
    )
    s2 = tk.agg(
        F.expr("SUM(CAST(t AS DECIMAL(38,0)) * t)").alias("st2")
    ).crossJoin(
        pk.agg(F.expr("SUM(CAST(p AS DECIMAL(38,0)) * p)").alias("sp2"))
    )
    return (
        tots.crossJoin(tp)
        .crossJoin(s2)
        .select(
            F.col("n").alias("n_test"),
            F.col("tr").alias("n_correct"),
            F.expr("CAST(tr * 1000000 div n AS BIGINT)").alias(
                "accuracy_micro"
            ),
            F.expr(
                "CASE WHEN CAST(n AS DECIMAL(38,0)) * n = st2"
                " OR CAST(n AS DECIMAL(38,0)) * n = sp2 THEN NULL"
                " ELSE ROUND((CAST(n AS DOUBLE) * tr - CAST(stp AS DOUBLE))"
                " / (sqrt(CAST(n AS DOUBLE) * n - CAST(st2 AS DOUBLE))"
                " * sqrt(CAST(n AS DOUBLE) * n - CAST(sp2 AS DOUBLE))), 6)"
                " END"
            ).alias("mcc"),
        )
    )
