"""Deduplication family — exact, n-gram Jaccard, MinHash-LSH, SimHash,
embedding-cosine — over `documents` / `embeddings`.

The oracle SQL is generated from the SAME constants as the Spark
operators (operators/dedup.py), so the MinHash permutations, band
layout, and SimHash bit math are one source of truth.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dbt_project_spark.caching import persist_tracked, scratch_dir
from dbt_project_spark.catalog import register
from dbt_project_spark.operators.dedup import (
    MINHASH_A,
    MINHASH_B,
    MINHASH_BANDS,
    MINHASH_P,
    SIMHASH_BITS,
    build_minhash_index,
    candidate_overlap,
    containment_pairs,
    editdistance_pairs,
    exact_dedup,
    incremental_minhash_pairs,
    jaccard_pairs,
    minhash_candidates,
    minhash_lsh_pairs,
    simhash_pairs,
    simhash_signatures,
)
from dbt_project_spark.operators.joins import literal_table
from dbt_project_spark.operators.similarity import embedding_lsh_pairs
from dbt_project_spark.sources import load_table

JACCARD_T = 0.8
COSINE_T = 0.4
# Skew cap for the shared-shingle self-join: a shingle held by more
# than MAX_BUCKET docs is a stop-shingle — useless for near-dup
# evidence (it can only push Jaccard DOWN for true dups, since set
# sizes keep counting it) and quadratic in the join. At sf0.1 the
# hottest bucket is 25 docs, so 64 changes nothing at test scale
# while bounding hot buckets at any corpus size. Recall effect:
# dropped shingles reduce measured intersection only, so surviving
# pairs are true positives (precision 1.0); a pair loses at most
# its share of capped shingles of measured Jaccard.
MAX_BUCKET = 64
# Banded hyperplane LSH for embedding dedup: 8 tables × 3 bits —
# sized for the test threshold 0.4 (p≈0.65/bit → recall ≈0.9);
# production thresholds (0.9+) want nbits 10-16. See
# operators/similarity.py:embedding_lsh_pairs.
EMB_NTABLES = 8
EMB_NBITS = 3
# Strict (production-threshold) variant: the synthetic embeddings are
# i.i.d.-random (measured all-pairs cosine at sf0.1 is a clean N(0,σ)
# with max 0.64 — no planted near-dups), so the strict query plants
# its own deterministic clones: every PLANT_MOD-th vector gets a copy
# at vec_id+PLANT_STRIDE with ±62.5% per-dim multiplicative noise
# (cosine vs original: min 0.872 / mean 0.932 / max 0.961 at sf0.1).
# At τ=0.9 with 16 tables × 11 bits: measured recall 1.0 (97/97
# above-τ planted pairs), random-pair candidate rate 16/2^11 ≈ 0.8%
# of all-pairs (vs 65% for the τ=0.4 binding — see
# dedup_embedding_strict docstring for why τ=0.4 cannot scale).
EMB_STRICT_T = 0.9
EMB_STRICT_NTABLES = 16
EMB_STRICT_NBITS = 11
PLANT_MOD = 20
PLANT_STRIDE = 1_000_000_000
# One source of truth for the planted-clone corpus, Spark + DuckDB:
# i is 0-based in Spark transform(), 1-based in DuckDB list_transform
# — the +1 below aligns them. All noise factors are k/8 (exact in
# binary), elements are cast to double BEFORE any arithmetic, so both
# engines compute bit-identical perturbed vectors.
_PLANT_SPARK = (
    "transform(embedding, (x, i) -> cast(x as double)"
    " * (1.0 + (pmod(vec_id*31 + i + 1, 11) - 5) * 0.125))"
)
_PLANT_SQL = f"""
SELECT vec_id, embedding::DOUBLE[] AS embedding FROM embeddings
UNION ALL
SELECT vec_id + {PLANT_STRIDE} AS vec_id,
       list_transform(embedding::DOUBLE[],
                      (x, i) -> x * (1.0 + ((vec_id*31 + i) % 11 - 5) * 0.125))
           AS embedding
FROM embeddings WHERE vec_id % {PLANT_MOD} = 0
"""

# ---- shared oracle fragments (DuckDB) ----
_MD5INT = "('0x' || substr(md5({x}), 1, 8))::BIGINT"
_TOKS = "regexp_extract_all(lower(text), '[a-z0-9]+')"
_SHINGLES = (
    "CASE WHEN len(t) >= 3 THEN list_distinct(list_transform("
    "range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))"
    " ELSE [] END"
)
_EX_CTE = f"""
  toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
  sh AS (SELECT doc_id, {_SHINGLES} AS s FROM toks),
  ex AS (SELECT doc_id AS doc, len(s) AS sz, unnest(s) AS sg FROM sh)
"""


# ex → capped (MAX_BUCKET stop-shingle cap) → pairs (doc_a, doc_b,
# inter, sa, sb): the exact shared-shingle join, as WITH clauses.
_EXACT_PAIRS_CTE = f"""
    WITH {_EX_CTE},
    capped AS (
      SELECT doc, sz, sg FROM (
        SELECT doc, sz, sg, COUNT(*) OVER (PARTITION BY sg) AS bn FROM ex)
      WHERE bn <= {MAX_BUCKET}),
    pairs AS (
      SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS inter,
             MAX(a.sz) AS sa, MAX(b.sz) AS sb
      FROM capped a JOIN capped b ON a.sg = b.sg AND a.doc < b.doc
      GROUP BY doc_a, doc_b)"""


@register(
    "dedup_exact",
    oracle="""
    SELECT md5(text) AS fingerprint, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
    FROM documents GROUP BY md5(text)
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by 128-bit content hash, keeping smallest doc_id."""
    return exact_dedup(load_table(spark, sf_dir, "documents"), "doc_id", "text")


@register(
    "dedup_ngram_jaccard",
    oracle=f"""{_EXACT_PAIRS_CTE}
    SELECT doc_a, doc_b, inter / (sa + sb - inter) AS jaccard
    FROM pairs WHERE inter / (sa + sb - inter) >= {JACCARD_T}
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by exact word-3-gram Jaccard (shingle-join),
    with the MAX_BUCKET stop-shingle cap bound (mirrored in the
    oracle, so parity holds at any scale)."""
    return jaccard_pairs(
        load_table(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        JACCARD_T,
        max_bucket=MAX_BUCKET,
    )


def _minhash_ctes(cand_where: str = "") -> str:
    """ex → hashed → sigs (mh0..) → bands → stack (doc, bid, bv) → cand
    (doc_a, doc_b): the banded MinHash candidate pipeline, as WITH
    clauses. ``cand_where`` is appended to the candidate join."""
    r = len(MINHASH_A) // MINHASH_BANDS
    mins = ",\n           ".join(
        f"MIN(({a} * h + {b}) % {MINHASH_P}) AS mh{i}"
        for i, (a, b) in enumerate(zip(MINHASH_A, MINHASH_B))
    )
    bands = ",\n           ".join(
        _MD5INT.format(
            x=" || ',' || ".join(f"mh{bnd * r + j}" for j in range(r))
        )
        + f" AS band{bnd}"
        for bnd in range(MINHASH_BANDS)
    )
    stack = " UNION ALL ".join(
        f"SELECT doc, {bnd} AS bid, band{bnd} AS bv FROM bands"
        for bnd in range(MINHASH_BANDS)
    )
    return f"""
    WITH {_EX_CTE},
    hashed AS (SELECT doc, sz, {_MD5INT.format(x='sg')} AS h FROM ex),
    sigs AS (SELECT doc, {mins} FROM hashed GROUP BY doc),
    bands AS (SELECT doc, {bands} FROM sigs),
    stack AS ({stack}),
    cand AS (SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
             FROM stack a JOIN stack b
               ON a.bid = b.bid AND a.bv = b.bv AND a.doc < b.doc{cand_where})"""


def _minhash_oracle(cand_pred: str = "", extra_cols: str = "") -> str:
    """Full MinHash-LSH pipeline in DuckDB SQL. ``cand_pred``
    restricts the candidate pairs (incremental variant: at least one
    side in the new batch); ``extra_cols`` appends output columns."""
    where = "\n             " + (f"WHERE {cand_pred}" if cand_pred else "")
    return f"""{_minhash_ctes(where)},
    ver AS (SELECT c.doc_a, c.doc_b, COUNT(*) AS inter,
                   MAX(ea.sz) AS sa, MAX(eb.sz) AS sb
            FROM cand c JOIN ex ea ON ea.doc = c.doc_a
                        JOIN ex eb ON eb.doc = c.doc_b AND eb.sg = ea.sg
            GROUP BY c.doc_a, c.doc_b)
    SELECT doc_a, doc_b, inter / (sa + sb - inter) AS jaccard{extra_cols}
    FROM ver WHERE inter / (sa + sb - inter) >= {JACCARD_T}
    """


@register("dedup_minhash_lsh", oracle=_minhash_oracle())
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded MinHash-LSH candidates verified by exact Jaccard."""
    return minhash_lsh_pairs(
        load_table(spark, sf_dir, "documents"), "doc_id", "text", JACCARD_T
    )


# Incremental dedup: documents with doc_id % NEW_MOD == 0 play the
# role of "today's batch"; the rest are the already-indexed corpus.
NEW_MOD = 10


@register(
    "dedup_incremental",
    oracle=_minhash_oracle(
        cand_pred=f"a.doc % {NEW_MOD} = 0 OR b.doc % {NEW_MOD} = 0",
        extra_cols=(
            f",\n           CASE WHEN doc_a % {NEW_MOD} = 0 "
            f"AND doc_b % {NEW_MOD} = 0 THEN 'new_new' "
            "ELSE 'new_old' END AS pair_kind"
        ),
    ),
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New-batch-vs-corpus MinHash dedup against a PERSISTED index —
    the shape production dedup runs daily (reference has no
    counterpart; LLM-pipeline extension).

    The corpus side (doc_id % 10 != 0) is signed once into a parquet
    index (banded signatures + shingle postings); the batch
    (doc_id % 10 == 0) computes its own signatures and joins the saved
    bands — corpus text is never re-read and corpus-vs-corpus pairs
    are never regenerated. The oracle is the full-recompute pipeline
    restricted to pairs with ≥1 new side: proves incremental == full
    recompute on exactly the pairs a batch run owes.
    """
    docs = load_table(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % NEW_MOD != 0)
    new = docs.filter(F.col("doc_id") % NEW_MOD == 0)
    index_dir = scratch_dir("spark_graft_mh_index_")
    build_minhash_index(old, "doc_id", "text", index_dir)
    pairs = incremental_minhash_pairs(
        spark, new, "doc_id", "text", index_dir, JACCARD_T
    )
    return pairs.withColumn(
        "pair_kind",
        F.when(
            (F.col("doc_a") % NEW_MOD == 0) & (F.col("doc_b") % NEW_MOD == 0),
            F.lit("new_new"),
        ).otherwise(F.lit("new_old")),
    )


def _simhash_oracle() -> str:
    votes = ",\n           ".join(
        f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(SIMHASH_BITS)
    )
    sig = " + ".join(
        f"(CASE WHEN v{b} > 0 THEN {2**b} ELSE 0 END)" for b in range(SIMHASH_BITS)
    )
    bands = ", ".join(
        f"CAST((simhash >> {bnd * 8}) & 255 AS INT) AS band{bnd}"
        for bnd in range(SIMHASH_BITS // 8)
    )
    return f"""
    WITH toks AS (SELECT doc_id AS doc, unnest({_TOKS}) AS tk FROM documents),
    hashed AS (SELECT doc, {_MD5INT.format(x='tk')} AS h FROM toks),
    votes AS (SELECT doc, {votes} FROM hashed GROUP BY doc),
    sigs AS (SELECT doc, CAST({sig} AS BIGINT) AS simhash FROM votes)
    SELECT doc, simhash, {bands} FROM sigs
    """


@register("dedup_simhash", oracle=_simhash_oracle())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc SimHash signature + 8-bit hamming-bucket bands."""
    return simhash_signatures(
        load_table(spark, sf_dir, "documents"), "doc_id", "text"
    )


def _emb_oracle(
    ntables: int = EMB_NTABLES,
    nbits: int = EMB_NBITS,
    threshold: float = COSINE_T,
    corpus_sql: str = "SELECT vec_id, embedding FROM embeddings",
) -> str:
    """Banded-LSH embedding dedup in ANSI SQL: identical literal
    hyperplanes, identical band layout, exact cosine verify.
    ``corpus_sql`` lets a variant substitute a derived corpus (e.g.
    the planted-clone union of ``dedup_embedding_strict``)."""
    from dbt_project_spark.operators.similarity import lsh_table_weights

    w = lsh_table_weights(ntables, nbits)
    band_exprs = []
    for t, rows in enumerate(w):
        terms = []
        for j, row in enumerate(rows):
            lit = "[" + ", ".join(repr(x) for x in row) + "]"
            terms.append(
                f"(CASE WHEN list_inner_product(embedding::DOUBLE[], "
                f"{lit}::DOUBLE[]) >= 0 THEN {2**j} ELSE 0 END)"
            )
        band_exprs.append("CAST(" + " + ".join(terms) + f" AS INT) AS b{t}")
    stack = " UNION ALL ".join(
        f"SELECT vec_id, {t} AS tid, b{t} AS bv FROM bk"
        for t in range(ntables)
    )
    return f"""
    WITH corpus AS ({corpus_sql}),
    bk AS (SELECT vec_id, embedding, {", ".join(band_exprs)} FROM corpus),
    st AS ({stack}),
    cand AS (SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb
             FROM st a JOIN st b ON a.tid = b.tid AND a.bv = b.bv
                                AND a.vec_id < b.vec_id),
    pairs AS (SELECT va, vb, ea.embedding AS ea, eb.embedding AS eb
              FROM cand JOIN corpus ea ON ea.vec_id = va
                        JOIN corpus eb ON eb.vec_id = vb),
    flat AS (SELECT va, vb, unnest(ea)::DOUBLE AS x, unnest(eb)::DOUBLE AS y FROM pairs),
    sims AS (SELECT va AS vec_a, vb AS vec_b,
                    ROUND(SUM(x*y) / (SQRT(SUM(x*x)) * SQRT(SUM(y*y))), 6) AS cosine
             FROM flat GROUP BY va, vb)
    SELECT vec_a, vec_b, cosine FROM sims WHERE cosine >= {threshold}
    """


@register("dedup_embedding", oracle=_emb_oracle())
def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs via banded hyperplane LSH.

    Round 1 blocked on the `label` column: quadratic within blocks
    and only 8.5% recall (5 of 59 true pairs at sf0.01). Banded LSH
    (8 tables × 3 bits at this threshold) is bucket-local at any
    corpus size and measured 90% recall; precision stays 1.0 (exact
    cosine verify on candidates only).

    SCALE CAVEAT (measured, r03): the synthetic embeddings are
    i.i.d.-random — the all-pairs cosine histogram at sf0.1 is a
    zero-centered bell with max 0.64, so τ=0.4 selects a fixed
    QUANTILE of the random bulk. The output itself is then Θ(n²)
    (0.046% of all pairs at every scale), and no algorithm can beat
    its own output size — the 10×-scale bench measured 27× runtime
    for 10× rows, with candidate volume pinned at the theoretical
    random-collision floor 1-(1-2⁻³)⁸ = 65% at BOTH scales (mean-
    centering measured no change, confirming no cluster structure).
    This binding stays as the sf0.1 correctness query for the
    operator mechanics; ``dedup_embedding_strict`` is the
    scale-representative near-dup workload."""
    return embedding_lsh_pairs(
        load_table(spark, sf_dir, "embeddings"),
        "vec_id",
        "embedding",
        COSINE_T,
        ntables=EMB_NTABLES,
        nbits=EMB_NBITS,
        # r12: no verify prune at this below-bulk threshold — 65% of
        # candidates survive, so shipping both vectors per pair across
        # the Arrow boundary costs more than the interpreted fold it
        # would save (measured 114 → 240 s at sf1; see
        # operators/similarity.embedding_lsh_pairs).
        prune=False,
    )


@register(
    "dedup_embedding_strict",
    oracle=_emb_oracle(
        EMB_STRICT_NTABLES, EMB_STRICT_NBITS, EMB_STRICT_T, _PLANT_SQL
    ),
)
def dedup_embedding_strict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs at a production threshold (τ=0.9) over a corpus
    with deterministically planted near-duplicate clones.

    The scale-representative embedding-dedup workload: real near-dup
    corpora have a tiny population of high-cosine pairs over a random
    bulk, which is exactly what LSH prunes well — at τ=0.9 the
    hyperplane agreement probability for true pairs (cos≈0.93,
    p=1-θ/π≈0.88) is far from the random baseline (0.5), so long
    bands crush false candidates without losing recall:
    16 tables × 11 bits → random-pair candidate rate 16/2^11 ≈ 0.8%
    of all-pairs, measured recall 1.0 at sf0.1 (97/97 planted pairs
    above τ). Contrast ``dedup_embedding``'s τ=0.4 binding (65%
    candidate rate, output itself Θ(n²) on random data — see its
    docstring).

    Clones are planted inside the query (every PLANT_MOD-th vector,
    ±62.5% per-dim multiplicative noise, exact k/8 factors) with the
    SAME arithmetic in the oracle SQL, so the driver's hash gate
    verifies the full pipeline — planting, banding, candidate join,
    exact verify — on any scale factor. Per-table band computation is
    176 hyperplane dot products per vector, JVM-side codegen,
    embarrassingly parallel; the candidate join shuffles ids+ints
    only (no vectors)."""
    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id",
        F.expr("transform(embedding, x -> cast(x as double))").alias(
            "embedding"
        ),
    )
    pert = emb.filter(F.col("vec_id") % PLANT_MOD == 0).select(
        (F.col("vec_id") + PLANT_STRIDE).alias("vec_id"),
        F.expr(_PLANT_SPARK).alias("embedding"),
    )
    return embedding_lsh_pairs(
        base.unionByName(pert),
        "vec_id",
        "embedding",
        EMB_STRICT_T,
        ntables=EMB_STRICT_NTABLES,
        nbits=EMB_STRICT_NBITS,
    )


@register(
    "dedup_editdistance",
    oracle=f"""
    WITH p AS (SELECT DISTINCT p_name FROM part),
    blocked AS (
      SELECT p_name, substr(p_name, 1, 2) AS pfx,
             unnest([CAST(floor(len(p_name) / 4) AS INT),
                     CAST(floor(len(p_name) / 4) AS INT) + 1]) AS band
      FROM p),
    capped AS (
      SELECT p_name, pfx, band FROM (
        SELECT p_name, pfx, band,
               COUNT(*) OVER (PARTITION BY pfx, band) AS bn FROM blocked)
      WHERE bn <= {{max_block}}),
    cand AS (
      SELECT DISTINCT a.p_name AS name_a, b.p_name AS name_b
      FROM capped a JOIN capped b
        ON a.pfx = b.pfx AND a.band = b.band AND a.p_name < b.p_name)
    SELECT name_a, name_b,
           CAST(levenshtein(name_a, name_b) AS INT) AS edit_distance
    FROM cand WHERE levenshtein(name_a, name_b) <= 4
    """.format(max_block=64),
)
def dedup_editdistance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup detection by edit distance (entity-resolution modality
    for short strings like names/titles).

    Blocking is (2-char prefix, length÷4 band): each name is emitted
    into its band and band+1, so any pair whose bands differ by ≤1
    meets on an equi-key. Edit distance ≤4 bounds |len_a-len_b| ≤ 4,
    which with band width 4 bounds the band delta to ≤1 — the length
    banding loses ZERO recall. The 2-char prefix (vs round 1's 1-char:
    ≤36 coarse buckets, quadratic within) misses only pairs whose
    edits touch the first two characters — at sf0.01 that is 0 of 88
    pairs. levenshtein is the built-in JVM DP, no UDF; the candidate
    join is equi-key end-to-end (shuffle-partitionable, never a
    theta-join).

    Hot blocks are capped at MAX_BUCKET=64 names per (pfx, band) via
    the same broadcast-anti-join pattern as jaccard_pairs — real name
    distributions are Zipfian ("ma…", "jo…"), so an uncapped block
    goes O(block²) at 100×. At test scale the largest block is 8
    names, so the cap changes nothing; the cap is mirrored in the
    oracle so parity holds at any scale. See
    operators/dedup.py:editdistance_pairs for the recall argument."""
    p = load_table(spark, sf_dir, "part").select("p_name").distinct()
    return editdistance_pairs(p, "p_name", max_dist=4, max_block=64)


def _evidence_oracle() -> str:
    from dbt_project_spark.queries_training import SPAN_N, _span_sql

    return f"""
    WITH pairs AS ({_minhash_oracle()}),
    t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
          FROM documents),
    s AS (SELECT DISTINCT doc_id, md5(sp) AS h FROM (
            SELECT doc_id, unnest({_span_sql(SPAN_N)}) AS sp
            FROM t WHERE len(toks) > 0)),
    na AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS c FROM s GROUP BY doc_id),
    sh AS (SELECT p.doc_a, p.doc_b, CAST(COUNT(*) AS BIGINT) AS shared
           FROM pairs p JOIN s sa ON sa.doc_id = p.doc_a
                        JOIN s sb ON sb.doc_id = p.doc_b AND sb.h = sa.h
           GROUP BY p.doc_a, p.doc_b)
    SELECT p.doc_a, p.doc_b, p.jaccard,
           a.c AS n_spans_a, b.c AS n_spans_b,
           COALESCE(sh.shared, 0) AS shared_spans,
           ROUND(COALESCE(sh.shared, 0) * 1.0
                 / (a.c + b.c - COALESCE(sh.shared, 0)), 6) AS span_jaccard
    FROM pairs p JOIN na a ON a.doc_id = p.doc_a
                 JOIN na b ON b.doc_id = p.doc_b
                 LEFT JOIN sh ON sh.doc_a = p.doc_a AND sh.doc_b = p.doc_b
    """


@register("dedup_pair_evidence", oracle=_evidence_oracle())
def dedup_pair_evidence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Evidence layer for near-dup review: every MinHash-LSH doc pair
    annotated with WHICH fraction of its fixed token spans actually
    coincide (distinct-span Jaccard) — the 'show me why these two
    matched' output a human (or an appeals process) reads before a
    dedup decision deletes revenue-bearing content. Shingle-level
    Jaccard (the match score) and span-level Jaccard (the evidence)
    disagreeing is exactly the interesting case: high shingle overlap
    with low span overlap means interleaved/reordered duplication.

    Scale shape: the pair table is near-dup-sized, so both evidence
    joins run pairs⋈spans on (doc, span-hash) equi-keys — the span
    table shuffles once on doc_id (16-byte hashes, never text), and
    per-doc span counts are a corpus-sized aggregate. Nothing here
    revisits the n² space the LSH stage already avoided.
    """
    from dbt_project_spark.operators.dedup import tokens_col
    from dbt_project_spark.queries_training import SPAN_N

    docs = load_table(spark, sf_dir, "documents")
    pairs = persist_tracked(
        minhash_lsh_pairs(docs, "doc_id", "text", JACCARD_T)
    )
    spans = persist_tracked(
        docs.withColumn("toks", tokens_col("text"))
        .filter(F.size("toks") > 0)
        .withColumn(
            "sp_arr",
            F.expr(
                f"transform(sequence(0,"
                f" CAST(ceil(size(toks)/{SPAN_N}.0) AS INT) - 1),"
                f" i -> array_join(slice(toks, i*{SPAN_N}+1, {SPAN_N}), ' '))"
            ),
        )
        .select("doc_id", F.explode("sp_arr").alias("sp"))
        .select("doc_id", F.md5("sp").alias("h"))
        .distinct()
    )
    na = spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    sa = spans.select(F.col("doc_id").alias("doc_a"), "h")
    sb = spans.select(F.col("doc_id").alias("doc_b"), "h")
    sh = (
        pairs.join(sa, "doc_a")
        .join(sb, ["doc_b", "h"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("shared"))
    )
    return (
        pairs.join(na.select(F.col("doc_id").alias("doc_a"), F.col("c").alias("n_spans_a")), "doc_a")
        .join(na.select(F.col("doc_id").alias("doc_b"), F.col("c").alias("n_spans_b")), "doc_b")
        .join(sh, ["doc_a", "doc_b"], "left")
        .select(
            "doc_a",
            "doc_b",
            "jaccard",
            "n_spans_a",
            "n_spans_b",
            F.coalesce("shared", F.lit(0)).alias("shared_spans"),
            F.round(
                F.coalesce("shared", F.lit(0))
                * 1.0
                / (
                    F.col("n_spans_a")
                    + F.col("n_spans_b")
                    - F.coalesce("shared", F.lit(0))
                ),
                6,
            ).alias("span_jaccard"),
        )
    )


CONTAIN_T = 0.8  # containment threshold (quote/inclusion detection)


@register(
    "dedup_containment",
    oracle=f"""{_EXACT_PAIRS_CTE}
    SELECT doc_a, doc_b,
           inter / least(sa, sb) AS containment,
           inter / (sa + sb - inter) AS jaccard
    FROM pairs WHERE inter / least(sa, sb) >= {CONTAIN_T}
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment (inter / |smaller shingle set|) near-dup pairs —
    the QUOTE/INCLUSION detector: a small doc pasted inside a large
    one scores containment 1.0 while its Jaccard collapses to
    |small|/|large|, so a Jaccard-only dedup ships the duplicated
    passage into training. Emits both metrics per pair; the planted
    small-in-big test pins the asymmetry (tests/test_governance_
    planted.py). Same shared-shingle candidates, postings cache, and
    MAX_BUCKET stop-shingle cap as dedup_ngram_jaccard — the scale
    story is identical, only the verification ratio differs.
    """
    return containment_pairs(
        load_table(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        CONTAIN_T,
        max_bucket=MAX_BUCKET,
    )


# ---------------------------------------------------------------------------
# minhash_estimate_error — MinHash index calibration monitor (r4s4)
# ---------------------------------------------------------------------------


def _minhash_calib_oracle() -> str:
    """LSH candidates with BOTH the exact Jaccard (shingle join) and
    the 16-component signature-agreement estimate, summarized into
    one calibration row — mirrors the Spark pipeline CTE for CTE."""
    k = len(MINHASH_A)
    matches = " + ".join(
        f"CASE WHEN x.mh{i} = y.mh{i} THEN 1 ELSE 0 END" for i in range(k)
    )
    return f"""{_minhash_ctes()},
    ver AS (SELECT c.doc_a, c.doc_b, CAST(COUNT(*) AS BIGINT) AS inter,
                   CAST(MAX(ea.sz) AS BIGINT) AS sa,
                   CAST(MAX(eb.sz) AS BIGINT) AS sb
            FROM cand c JOIN ex ea ON ea.doc = c.doc_a
                        JOIN ex eb ON eb.doc = c.doc_b AND eb.sg = ea.sg
            GROUP BY c.doc_a, c.doc_b),
    est AS (SELECT v.doc_a, v.doc_b, v.inter, v.sa + v.sb - v.inter AS un,
                   CAST({matches} AS BIGINT) AS m
            FROM ver v JOIN sigs x ON x.doc = v.doc_a
                       JOIN sigs y ON y.doc = v.doc_b),
    err AS (SELECT m, inter, un,
                   CAST(abs(m * un - {k} * inter) * 1000000
                        // ({k} * un) AS BIGINT) AS err_micro
            FROM est)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(err_micro) // COUNT(*) AS BIGINT) AS mean_abs_err_micro,
           CAST(MAX(err_micro) AS BIGINT) AS max_abs_err_micro,
           CAST(SUM(m * 1000000 // {k}) // COUNT(*) AS BIGINT)
               AS mean_est_micro,
           CAST(SUM(inter * 1000000 // un) // COUNT(*) AS BIGINT)
               AS mean_true_micro
    FROM err
    """


def _sig_agreement(pairs: DataFrame, sig: DataFrame) -> DataFrame:
    """``pairs`` plus e0..e{K-1}: whether doc_a's and doc_b's MinHash
    signatures agree on component i."""

    def side(s: str) -> DataFrame:
        return sig.select(
            F.col("doc").alias(f"doc_{s}"),
            *[F.col(f"mh{i}").alias(f"{s}{i}") for i in range(len(MINHASH_A))],
        )

    return (
        pairs.join(side("a"), "doc_a")
        .join(side("b"), "doc_b")
        .select(
            *pairs.columns,
            *[
                (F.col(f"a{i}") == F.col(f"b{i}")).alias(f"e{i}")
                for i in range(len(MINHASH_A))
            ],
        )
    )


@register("minhash_estimate_error", oracle=_minhash_calib_oracle())
def minhash_estimate_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash index CALIBRATION: over every LSH candidate pair,
    compare the signature-agreement estimate (matching components /
    16 — what the index believes) against the exact shingle Jaccard
    (what verification computes) — the monitoring number that says
    whether 16 permutations are enough, and whether the LSH threshold
    can be trusted without the exact-verify pass. Theoretical se at
    J=0.8 is sqrt(J(1−J)/16) ≈ 0.10; a drifting mean error means the
    shingle distribution broke an assumption (e.g. tiny docs).

    Exactness: the estimate is an integer match count; the error
    |m·union − 16·inter| / (16·union) and all summary means are
    truncating integer micro-units — no float anywhere. Pairs whose
    exact intersection is empty (possible only via hash collision)
    drop out of the shingle join on BOTH sides identically.

    Scale shape: reuses the production index dataflow — persisted
    shingle postings feed the signature aggregate AND both verify
    sides; candidates come from the banded self-join (never all
    pairs); the signature compare joins the pairs table (LSH-bounded)
    against the docs-sized signature table twice.
    """
    k = len(MINHASH_A)
    postings, sig, cand = minhash_candidates(
        load_table(spark, sf_dir, "documents"), "doc_id", "text"
    )
    ver = candidate_overlap(cand, postings).select(
        "doc_a", "doc_b", *[F.col(c).cast("bigint") for c in ("inter", "sa", "sb")]
    )
    matches = sum(F.when(F.col(f"e{i}"), 1).otherwise(0) for i in range(k))
    est = _sig_agreement(ver, sig).select(
        "inter",
        (F.col("sa") + F.col("sb") - F.col("inter")).alias("un"),
        matches.cast("bigint").alias("m"),
    )
    err = est.select(
        "m",
        "inter",
        "un",
        F.expr(
            f"CAST(abs(m * un - {k} * inter) * 1000000"
            f" div ({k} * un) AS BIGINT)"
        ).alias("err_micro"),
    )
    return err.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.expr("CAST(SUM(err_micro) div COUNT(*) AS BIGINT)").alias(
            "mean_abs_err_micro"
        ),
        F.max("err_micro").cast("bigint").alias("max_abs_err_micro"),
        F.expr(
            f"CAST(SUM(m * 1000000 div {k}) div COUNT(*) AS BIGINT)"
        ).alias("mean_est_micro"),
        F.expr(
            "CAST(SUM(inter * 1000000 div un) div COUNT(*) AS BIGINT)"
        ).alias("mean_true_micro"),
    )


# ---------------------------------------------------------------------------
# minhash_band_tuning — empirical (bands, rows) S-curve table (r05)
# ---------------------------------------------------------------------------

# Every (b, r) split of the K=16 signature. Tighter r = sharper
# S-curve (fewer, higher-Jaccard candidates); the table shows the
# trade empirically so the threshold isn't tuned on the 1-(1-s^r)^b
# formula alone.
BAND_CONFIGS = [(16, 1), (8, 2), (4, 4), (2, 8), (1, 16)]


def _band_tuning_oracle() -> str:
    k = len(MINHASH_A)
    eqs = ",\n                 ".join(
        f"sa.mh{i} = sb.mh{i} AS e{i}" for i in range(k)
    )
    cfg_selects = []
    for b, r in BAND_CONFIGS:
        collide = " OR ".join(
            "(" + " AND ".join(f"e{j * r + i}" for i in range(r)) + ")"
            for j in range(b)
        )
        cfg_selects.append(f"""
    SELECT CAST({b} AS BIGINT) AS bands, CAST({r} AS BIGINT) AS rows_per_band,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(CASE WHEN {collide} THEN 1 ELSE 0 END) AS BIGINT)
               AS n_candidates,
           CAST(CASE WHEN SUM(CASE WHEN {collide} THEN 1 ELSE 0 END) > 0
                THEN SUM(CASE WHEN {collide} THEN j_micro ELSE 0 END)
                     // SUM(CASE WHEN {collide} THEN 1 ELSE 0 END)
                ELSE 0 END AS BIGINT) AS mean_j_cand_micro,
           CAST(CASE WHEN SUM(CASE WHEN {collide} THEN 1 ELSE 0 END) > 0
                THEN SUM(CASE WHEN ({collide}) AND j_micro >= 500000
                         THEN 1 ELSE 0 END) * 1000000
                     // SUM(CASE WHEN {collide} THEN 1 ELSE 0 END)
                ELSE 0 END AS BIGINT) AS precision50_micro
    FROM pj""")
    return f"""{_minhash_ctes()},
    ver AS (SELECT c.doc_a, c.doc_b,
                   CAST(COUNT(*) * 1000000 //
                        (MAX(ea.sz) + MAX(eb.sz) - COUNT(*)) AS BIGINT)
                       AS j_micro
            FROM cand c JOIN ex ea ON ea.doc = c.doc_a
                        JOIN ex eb ON eb.doc = c.doc_b AND eb.sg = ea.sg
            GROUP BY c.doc_a, c.doc_b),
    eq AS (SELECT c.doc_a, c.doc_b,
                 {eqs}
           FROM cand c JOIN sigs sa ON sa.doc = c.doc_a
                       JOIN sigs sb ON sb.doc = c.doc_b),
    pj AS (SELECT e.*, COALESCE(v.j_micro, 0) AS j_micro
           FROM eq e LEFT JOIN ver v
             ON v.doc_a = e.doc_a AND v.doc_b = e.doc_b)
    {" UNION ALL ".join(cfg_selects)}
    """


@register("minhash_band_tuning", oracle=_band_tuning_oracle())
def minhash_band_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical LSH (bands × rows) S-curve table: for every split of
    the K=16 signature — (16,1) … (1,16) — replay the banding rule
    over the PRODUCTION candidate population (the 4×4 band join) and
    report how many pairs each config would admit, their mean exact
    Jaccard, and precision@J≥0.5. This is how the banding threshold
    is actually tuned: the 1−(1−s^r)^b formula gives the theoretical
    curve, this query prices it on the real shingle distribution
    (population = the production config's candidates; looser configs
    admit MORE pairs than measured here — stated so the table is
    read as relative selectivity, not absolute recall).

    Exactness: collisions are pure boolean algebra over signature
    component equalities; Jaccard and the means are truncating
    integer micro-units; the whole table hash-gates.

    Scale shape: candidates from the banded self-join (never all
    pairs), signatures joined twice on doc id, exact verify reuses
    the shingle postings; the 5 config rows are conditional
    aggregates over ONE cached pair table.
    """
    postings, sig, cand = minhash_candidates(
        load_table(spark, sf_dir, "documents"), "doc_id", "text"
    )
    ver = candidate_overlap(cand, postings).select(
        "doc_a",
        "doc_b",
        F.expr("CAST(inter * 1000000 div (sa + sb - inter) AS BIGINT)").alias(
            "j_micro"
        ),
    )
    pj = persist_tracked(
        _sig_agreement(cand, sig)
        .join(ver, on=["doc_a", "doc_b"], how="left")
        .withColumn("j_micro", F.coalesce("j_micro", F.lit(0)))
    )
    out = None
    for bcnt, r in BAND_CONFIGS:
        collide = None
        for j in range(bcnt):
            band = None
            for i in range(r):
                c = F.col(f"e{j * r + i}")
                band = c if band is None else (band & c)
            collide = band if collide is None else (collide | band)
        ncand = F.sum(F.when(collide, 1).otherwise(0))
        row = pj.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            ncand.cast("bigint").alias("n_candidates"),
            F.sum(F.when(collide, F.col("j_micro")).otherwise(0))
            .cast("bigint")
            .alias("_jsum"),
            F.sum(
                F.when(collide & (F.col("j_micro") >= 500000), 1).otherwise(0)
            ).alias("_p50"),
        ).select(
            F.lit(bcnt).cast("bigint").alias("bands"),
            F.lit(r).cast("bigint").alias("rows_per_band"),
            "n_pairs",
            "n_candidates",
            F.when(
                F.col("n_candidates") > 0,
                F.expr("CAST(_jsum div n_candidates AS BIGINT)"),
            )
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("mean_j_cand_micro"),
            F.when(
                F.col("n_candidates") > 0,
                F.expr("CAST(_p50 * 1000000 div n_candidates AS BIGINT)"),
            )
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("precision50_micro"),
        )
        out = row if out is None else out.unionByName(row)
    return out


# ---------------------------------------------------------------------------
# Semantic dedup (SemDeDup): cluster-then-pairwise over the IVF cells
# ---------------------------------------------------------------------------

def _sem_corpus_sql() -> str:
    """Planted corpus + IVF assignment CTEs shared by the semantic
    dedup pair and recall queries. Replays the persisted index's
    deterministic chain (first-K centroids, integer max_by key) for
    the base corpus and the same assignment rule for the incoming
    clone batch — identical to what the Spark side reads from disk /
    computes inline."""
    from dbt_project_spark.queries_vectors import _KEY_SQL, _KP_SQL

    return f"""
    WITH {_KP_SQL},
    base AS (SELECT vec_id, embedding::DOUBLE[] AS embedding FROM embeddings),
    clones AS (SELECT vec_id + {PLANT_STRIDE} AS vec_id,
                      list_transform(embedding::DOUBLE[],
                          (x, i) -> x * (1.0 + ((vec_id*31 + i) % 11 - 5)
                                         * 0.125)) AS embedding
               FROM embeddings WHERE vec_id % {PLANT_MOD} = 0),
    allv AS (SELECT * FROM base UNION ALL SELECT * FROM clones),
    cent AS (SELECT vec_id AS cid, embedding AS ce FROM base
             WHERE vec_id < (SELECT k FROM kp)),
    af AS (SELECT v.vec_id, c.cid,
                  unnest(v.embedding) AS x, unnest(c.ce) AS y
           FROM allv v CROSS JOIN cent c),
    sims AS (SELECT vec_id, cid,
                    ROUND(SUM(x*y) / (SQRT(SUM(x*x)) * SQRT(SUM(y*y))), 6) AS s
             FROM af GROUP BY vec_id, cid),
    assign AS (SELECT vec_id, max_by(cid, {_KEY_SQL}) AS cid
               FROM sims GROUP BY vec_id),
    mem AS (SELECT a.vec_id, a.cid, v.embedding
            FROM assign a JOIN allv v ON v.vec_id = a.vec_id)"""


def _sem_oracle() -> str:
    return (
        _sem_corpus_sql()
        + f""",
    pairs AS (SELECT a.cid, a.vec_id AS vec_a, b.vec_id AS vec_b,
                     a.embedding AS ea, b.embedding AS eb
              FROM mem a JOIN mem b
                ON a.cid = b.cid AND a.vec_id < b.vec_id),
    pf AS (SELECT cid, vec_a, vec_b,
                  unnest(ea) AS x, unnest(eb) AS y FROM pairs),
    cos AS (SELECT cid, vec_a, vec_b,
                   ROUND(SUM(x*y) / (SQRT(SUM(x*x)) * SQRT(SUM(y*y))), 6)
                       AS cosine
            FROM pf GROUP BY cid, vec_a, vec_b)
    SELECT cid, vec_a, vec_b, cosine FROM cos WHERE cosine >= {EMB_STRICT_T}
    """
    )


def _sem_members(spark: SparkSession, sf_dir: str):
    """(base cell members, clone cell members) as (vec_id, embedding
    double[], cid) — base read from the persisted IVF index, clones
    (the incoming batch) assigned inline against the broadcast
    centroids. Shared by dedup_semantic and dedup_semantic_recall."""
    from dbt_project_spark.operators.ivf import load_ivf_index

    cent, cells, _meta = load_ivf_index(spark, sf_dir)
    centd = cent.select(
        "cid", F.expr("transform(ce, x -> cast(x as double))").alias("ce")
    )
    base = cells.select(
        "vec_id",
        F.expr("transform(embedding, x -> cast(x as double))").alias(
            "embedding"
        ),
        "cid",
    )
    emb = load_table(spark, sf_dir, "embeddings")
    clones = emb.filter(F.col("vec_id") % PLANT_MOD == 0).select(
        (F.col("vec_id") + PLANT_STRIDE).alias("vec_id"),
        F.expr(_PLANT_SPARK).alias("embedding"),
    )
    # r12 (guide §4.2): the clone batch's assignment ran as a batch×K
    # interpreted crossJoin (250k clones × 2048 centroids of
    # zip_with/aggregate cosine at sf100 — the dominant constant of
    # dedup_semantic's first sf100 point). It now rides the SAME
    # two-stage exact kernel as the index build: the prune-only numpy
    # shortlist (operators/ivf._shortlist_candidates — guaranteed to
    # contain each vector's rounded-cosine argmax; bit-identity pinned
    # by tests/test_ivf_shortlist.py) plus the exact SQL re-score over
    # the near-tie sliver with the identical max_by key, then winners
    # join back to the clone batch for their embeddings — exactly the
    # old output.
    from dbt_project_spark.functions.expressions import dot_product, l2_norm
    from dbt_project_spark.operators.ivf import (
        _assign_key,
        _shortlist_candidates,
    )

    cand = _shortlist_candidates(spark, clones, centd.select("cid", "ce"))
    singles = cand.filter(F.col("n_cand") == 1).select("vec_id", "cid")
    cn = centd.withColumn("nc", l2_norm("ce"))
    multi = (
        cand.filter(F.col("n_cand") > 1)
        .join(cn, on="cid")
        .withColumn("nv", l2_norm("embedding"))
        .withColumn(
            "s",
            F.round(
                dot_product("embedding", "ce") / (F.col("nv") * F.col("nc")),
                6,
            ),
        )
        .groupBy("vec_id")
        .agg(F.max_by("cid", _assign_key()).alias("cid"))
    )
    casg = singles.unionByName(multi)
    cmem = casg.join(clones, "vec_id").select("vec_id", "embedding", "cid")
    return base, cmem


@register("dedup_semantic", oracle=_sem_oracle())
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic near-duplicate removal
    by clustering embeddings (k-means cells) and comparing pairs ONLY
    within a cluster — n²/K cosines instead of n², the trick that
    makes τ=0.9 dedup tractable at 10⁹ vectors without an LSH recall
    gamble. Pairs are exact-cosine verified, so precision is 1.0;
    the recall cost of clone/source pairs straddling a cell boundary
    is measured by ``dedup_semantic_recall``.

    Architecture: the BASE corpus's cluster memberships come from the
    persisted IVF index (operators/ivf.py — the same inverted lists
    ANN serving probes; one clustering pass amortized across both
    workloads). The planted clone batch (same arithmetic as
    ``dedup_embedding_strict``) plays the daily increment: assigned
    inline against the broadcast centroids — batch×K work, the
    production incremental shape (cf. dedup_incremental).

    Scale: the within-cell self-join shuffles by cid (cells.parquet
    is already partitioned by cid, so base-side reads are cell-local);
    with K≈√n the pair count is Θ(n^1.5) worst case, cell-balanced in
    practice (see ivf_cell_balance). Output is pairs above τ — tiny.
    """
    return _sem_pairs(spark, sf_dir)


def _sem_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-cell exact-cosine near-dup pairs ≥ τ over base ∪ clone
    members — shared by dedup_semantic and dedup_semantic_keeplist."""
    base, cmem = _sem_members(spark, sf_dir)
    from dbt_project_spark.functions.expressions import cosine_similarity
    from dbt_project_spark.operators.similarity import (
        cell_local_candidate_pairs,
    )

    # r12 (guide §4.2): the within-cell pairwise stage runs as a
    # group-local numpy kernel — each member crosses the Arrow
    # boundary once and the Θ(n²/K) scoring is one matmul per cell;
    # only surviving id pairs (≈ output-sized at τ=0.9) come back for
    # the exact SQL verify, which is bit-identical to scoring every
    # pair in SQL (prune-only contract in cell_local_candidate_pairs).
    mem = persist_tracked(base.unionByName(cmem))
    cpairs = cell_local_candidate_pairs(mem, EMB_STRICT_T)
    ea = mem.select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea")
    )
    eb = mem.select(
        F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb")
    )
    return (
        cpairs.join(ea, "vec_a")
        .join(eb, "vec_b")
        .withColumn("cosine", F.round(cosine_similarity("ea", "eb"), 6))
        .filter(F.col("cosine") >= EMB_STRICT_T)
        .select("cid", "vec_a", "vec_b", "cosine")
    )


def _sem_keeplist_oracle() -> str:
    sem = _sem_corpus_sql().replace("WITH ", "WITH RECURSIVE ", 1)
    return (
        sem
        + f""",
    pr AS (SELECT a.cid, a.vec_id AS vec_a, b.vec_id AS vec_b,
                  a.embedding AS ea, b.embedding AS eb
           FROM mem a JOIN mem b
             ON a.cid = b.cid AND a.vec_id < b.vec_id),
    pf AS (SELECT cid, vec_a, vec_b,
                  unnest(ea) AS x, unnest(eb) AS y FROM pr),
    pairs AS (SELECT vec_a, vec_b
              FROM (SELECT cid, vec_a, vec_b,
                           ROUND(SUM(x*y) / (SQRT(SUM(x*x))
                                             * SQRT(SUM(y*y))), 6) AS cosine
                    FROM pf GROUP BY cid, vec_a, vec_b)
              WHERE cosine >= {EMB_STRICT_T}),
    sym AS (SELECT vec_a AS u, vec_b AS v FROM pairs
            UNION ALL SELECT vec_b, vec_a FROM pairs),
    nodes AS (SELECT DISTINCT u AS node FROM sym),
    reach(node, lab) AS (
        SELECT node, node FROM nodes
        UNION
        SELECT s.v, r.lab FROM reach r JOIN sym s ON s.u = r.node
    ),
    labels AS (SELECT node AS vec_id, MIN(lab) AS cluster_id
               FROM reach GROUP BY node),
    sized AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
              FROM labels GROUP BY cluster_id)
    SELECT l.vec_id, l.cluster_id, s.cluster_size,
           CAST(CASE WHEN l.vec_id = l.cluster_id THEN 1 ELSE 0 END
                AS BIGINT) AS keep
    FROM labels l JOIN sized s ON s.cluster_id = l.cluster_id
    """
    )


@register("dedup_semantic_keeplist", oracle=_sem_keeplist_oracle())
def dedup_semantic_keeplist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup's FINAL verdict: fold the within-cell near-dup pairs
    into connected components and keep one representative per
    component (min vec_id — in production, the highest-quality
    member). This is the vector-side twin of `corpus_keep_list`
    (MinHash side): `dedup_semantic` finds the evidence, this query
    issues the keep/drop decisions a training-data materialization
    consumes. Only vectors appearing in some pair are emitted —
    singletons are the corpus majority and trivially keep.

    Components use the pointer-jumping min-label loop
    (operators/dedup.py:connected_components, O(log diameter)
    rounds); semantic-dup components are cell-bounded by
    construction, so the loop converges in 1-2 rounds.
    """
    pairs = _sem_pairs(spark, sf_dir)
    from dbt_project_spark.operators.dedup import connected_components

    labels = connected_components(pairs, "vec_a", "vec_b").select(
        F.col("node").alias("vec_id"), F.col("lab").alias("cluster_id")
    )
    sized = labels.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("cluster_size")
    )
    return (
        labels.join(sized, "cluster_id")
        .select(
            "vec_id",
            "cluster_id",
            "cluster_size",
            F.when(F.col("vec_id") == F.col("cluster_id"), 1)
            .otherwise(0)
            .cast("bigint")
            .alias("keep"),
        )
    )


def _sem_recall_oracle() -> str:
    return (
        _sem_corpus_sql()
        + f""",
    tf AS (SELECT b.vec_id,
                  unnest(b.embedding) AS x, unnest(c.embedding) AS y
           FROM base b JOIN clones c
             ON c.vec_id = b.vec_id + {PLANT_STRIDE}
           WHERE b.vec_id % {PLANT_MOD} = 0),
    truth AS (SELECT vec_id,
                     ROUND(SUM(x*y) / (SQRT(SUM(x*x)) * SQRT(SUM(y*y))), 6)
                         AS cosine
              FROM tf GROUP BY vec_id
              HAVING ROUND(SUM(x*y) / (SQRT(SUM(x*x)) * SQRT(SUM(y*y))), 6)
                     >= {EMB_STRICT_T}),
    hit AS (SELECT t.vec_id,
                   CASE WHEN ab.cid = ac.cid THEN 1 ELSE 0 END AS same_cell
            FROM truth t
            JOIN assign ab ON ab.vec_id = t.vec_id
            JOIN assign ac ON ac.vec_id = t.vec_id + {PLANT_STRIDE})
    SELECT CAST(COUNT(*) AS BIGINT) AS n_true_pairs,
           CAST(SUM(same_cell) AS BIGINT) AS n_same_cell,
           CAST(SUM(same_cell) * 1000000 // COUNT(*) AS BIGINT)
               AS recall_micro
    FROM hit
    """
    )


@register("dedup_semantic_recall", oracle=_sem_recall_oracle())
def dedup_semantic_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall monitor for ``dedup_semantic`` (extends the ANN recall
    trio to the dedup side): of the planted clone/source pairs with
    true cosine ≥ τ, what fraction did the cluster partition keep in
    the SAME cell (and hence visible to within-cell dedup)? This is
    SemDeDup's known failure mode — near-dups straddling a k-means
    boundary — and the number an operator watches when choosing K.

    Cost: ground truth is batch-sized (one cosine per planted pair,
    an equi-join — no pairwise blowup); assignments are read from the
    persisted index (base) / computed batch×K inline (clones), same
    as the dedup query itself."""
    base, cmem = _sem_members(spark, sf_dir)
    from dbt_project_spark.functions.expressions import cosine_similarity

    emb = load_table(spark, sf_dir, "embeddings")
    src = emb.filter(F.col("vec_id") % PLANT_MOD == 0).select(
        "vec_id",
        F.expr("transform(embedding, x -> cast(x as double))").alias("eb_b"),
    )
    cl = cmem.select(
        (F.col("vec_id") - PLANT_STRIDE).alias("vec_id"),
        F.col("embedding").alias("eb_c"),
        F.col("cid").alias("cid_c"),
    )
    truth = (
        src.join(cl, "vec_id")
        .withColumn("cosine", F.round(cosine_similarity("eb_b", "eb_c"), 6))
        .filter(F.col("cosine") >= EMB_STRICT_T)
    )
    hit = truth.join(
        base.select("vec_id", F.col("cid").alias("cid_b")), "vec_id"
    ).select(
        F.when(F.col("cid_b") == F.col("cid_c"), 1).otherwise(0).alias(
            "same_cell"
        )
    )
    return hit.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_true_pairs"),
        F.sum("same_cell").cast("bigint").alias("n_same_cell"),
        F.expr(
            "CAST(SUM(same_cell) * 1000000 div COUNT(*) AS BIGINT)"
        ).alias("recall_micro"),
    )


# ---------------------------------------------------------------------------
# ExactSubstr sliding-window duplicate spans (r5s4)
# ---------------------------------------------------------------------------

ESUB_L = 8  # sliding window length (tokens)


@register(
    "exact_substr_spans",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    n AS (SELECT doc_id, len(t) AS n_tokens FROM t),
    wins AS (SELECT doc_id,
                    unnest(range(1, len(t) - {ESUB_L} + 2)) AS pos,
                    unnest(list_transform(range(1, len(t) - {ESUB_L} + 2),
                           i -> md5(array_to_string(
                                list_slice(t, i, i + {ESUB_L} - 1), ' '))))
                        AS h
             FROM t WHERE len(t) >= {ESUB_L}),
    dup AS (SELECT h FROM wins GROUP BY h
            HAVING COUNT(DISTINCT doc_id) >= 2),
    dw AS (SELECT w.doc_id, w.pos AS s, w.pos + {ESUB_L} - 1 AS e
           FROM wins w JOIN dup d ON d.h = w.h),
    pm AS (SELECT doc_id, s, e,
                  MAX(e) OVER (PARTITION BY doc_id ORDER BY s
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING) AS pmax
           FROM dw),
    fl AS (SELECT doc_id, s, e,
                  CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END
                      AS new_isl
           FROM pm),
    grp AS (SELECT doc_id, s, e,
                   SUM(new_isl) OVER (PARTITION BY doc_id ORDER BY s
                                      ROWS UNBOUNDED PRECEDING) AS g
            FROM fl),
    islands AS (SELECT doc_id, g, MIN(s) AS s0, MAX(e) AS e1
                FROM grp GROUP BY doc_id, g),
    docdup AS (SELECT doc_id,
                      CAST(COUNT(*) AS BIGINT) AS n_spans,
                      CAST(SUM(e1 - s0 + 1) AS BIGINT) AS dup_tokens
               FROM islands GROUP BY doc_id)
    SELECT n.doc_id, CAST(n.n_tokens AS BIGINT) AS n_tokens,
           COALESCE(d.n_spans, 0) AS n_spans,
           COALESCE(d.dup_tokens, 0) AS dup_tokens,
           CAST(COALESCE(d.dup_tokens, 0) * 1000000 // n.n_tokens AS BIGINT)
               AS dup_micro
    FROM n LEFT JOIN docdup d USING (doc_id)
    WHERE n.n_tokens > 0
    """,
)
def exact_substr_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr dedup measurement (Lee et al. 2021, "Deduplicating
    Training Data Makes Language Models Better"): every SLIDING
    {ESUB_L}-token window is hashed; windows occurring in ≥2 distinct
    documents mark duplicated text, and per document the overlapping
    duplicate windows are merged into MAXIMAL spans (gaps-and-islands
    over the window intervals) — per-doc duplicated-token fraction
    out. Unlike `span_dedup`'s fixed grid this is shift-invariant:
    inserting one token upstream of a copied passage cannot hide it.

    The reference suffix-array algorithm is inherently sequential;
    the distributed equivalent is this rolling-window hash join —
    at 100 TB the window hashes come from a Rabin/Gear rolling hash
    in one pass (cf. the CDC chunker, operators/multimodal.py) rather
    than re-hashing L tokens per position; semantics are identical.

    Scale shape: the window stream is n_tokens-sized with 16-byte
    md5 shuffle keys; the ≥2-docs filter is one map-side-combinable
    distinct-count; island merging is a per-doc window function over
    only the DUPLICATED positions (tiny after the join). No pairwise
    work anywhere — this is why ExactSubstr scales where suffix
    arrays do not."""
    from dbt_project_spark.operators.dedup import tokens_col

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", tokens_col("text").alias("t"))
    n = t.select(
        "doc_id", F.size("t").cast("bigint").alias("n_tokens")
    ).filter(F.col("n_tokens") > 0)
    wins = persist_tracked(
        t.filter(F.size("t") >= ESUB_L)
        .select(
            "doc_id",
            F.posexplode(
                F.expr(
                    f"transform(sequence(1, size(t) - {ESUB_L} + 1),"
                    f" i -> md5(array_join(slice(t, i, {ESUB_L}), ' ')))"
                )
            ).alias("p0", "h"),
        )
        .select("doc_id", (F.col("p0") + 1).alias("pos"), "h")
    )
    dup = (
        wins.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h")
    )
    dw = wins.join(dup, "h").select(
        "doc_id",
        F.col("pos").alias("s"),
        (F.col("pos") + ESUB_L - 1).alias("e"),
    )
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    fl = dw.withColumn("pmax", F.max("e").over(w_prev)).withColumn(
        "new_isl",
        F.when(
            F.col("pmax").isNull() | (F.col("s") > F.col("pmax")), 1
        ).otherwise(0),
    )
    grp = fl.withColumn("g", F.sum("new_isl").over(w_run))
    islands = grp.groupBy("doc_id", "g").agg(
        F.min("s").alias("s0"), F.max("e").alias("e1")
    )
    docdup = islands.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_spans"),
        F.sum(F.col("e1") - F.col("s0") + 1).cast("bigint").alias(
            "dup_tokens"
        ),
    )
    return (
        n.join(docdup, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce(F.col("n_spans"), F.lit(0))
            .cast("bigint")
            .alias("n_spans"),
            F.coalesce(F.col("dup_tokens"), F.lit(0))
            .cast("bigint")
            .alias("dup_tokens"),
            F.expr(
                "CAST(coalesce(dup_tokens, 0) * 1000000 div n_tokens"
                " AS BIGINT)"
            ).alias("dup_micro"),
        )
    )


# ---------------------------------------------------------------------------
# semantic_threshold_sweep (r5s4)
# ---------------------------------------------------------------------------

SEM_SWEEP_CENTI = (80, 85, 90, 95)


def _sem_sweep_oracle() -> str:
    taus = ", ".join(f"({t})" for t in SEM_SWEEP_CENTI)
    return (
        _sem_corpus_sql()
        + f""",
    pr AS (SELECT a.cid, a.vec_id AS vec_a, b.vec_id AS vec_b,
                  a.embedding AS ea, b.embedding AS eb
           FROM mem a JOIN mem b
             ON a.cid = b.cid AND a.vec_id < b.vec_id),
    pf AS (SELECT cid, vec_a, vec_b,
                  unnest(ea) AS x, unnest(eb) AS y FROM pr),
    cosv AS (SELECT cid, vec_a, vec_b,
                    ROUND(SUM(x*y) / (SQRT(SUM(x*x)) * SQRT(SUM(y*y))), 6)
                        AS cosine
             FROM pf GROUP BY cid, vec_a, vec_b),
    taus AS (SELECT * FROM (VALUES {taus}) AS t(tau_centi))
    SELECT CAST(t.tau_centi AS BIGINT) AS tau_centi,
           CAST(SUM(CASE WHEN c.cosine >= t.tau_centi / 100.0
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs,
           CAST(COUNT(DISTINCT CASE WHEN c.cosine >= t.tau_centi / 100.0
                      THEN c.vec_b END) AS BIGINT) AS n_dropped_docs
    FROM cosv c CROSS JOIN taus t
    GROUP BY t.tau_centi
    """
    )


@register("semantic_threshold_sweep", oracle=_sem_sweep_oracle())
def semantic_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold calibration for SemDeDup: within-cell cosines are
    computed ONCE, then evaluated at a τ grid (0.80–0.95) — pair
    count and a drop-count proxy (distinct higher-id members of a
    ≥τ pair) per τ. This is the table an operator reads before
    choosing the production threshold: too low and the dedup eats
    genuinely distinct data, too high and near-clones survive; the
    knee lives in this sweep (the S-curve sibling of
    minhash_band_tuning on the lexical side).

    Cost: identical to one dedup_semantic run — the sweep reuses the
    same within-cell pair cosines; the τ grid only re-aggregates a
    pairs-sized table against a 4-row broadcast."""
    base, cmem = _sem_members(spark, sf_dir)
    from dbt_project_spark.functions.expressions import cosine_similarity
    from dbt_project_spark.operators.similarity import (
        cell_local_candidate_pairs,
    )

    # r12: pairs provably below the LOWEST τ of the grid contribute
    # nothing to any bucket (both aggregates condition on cosine ≥ τ;
    # Spark's NaN-is-largest rows are never pruned), so the same
    # group-local prune kernel as _sem_pairs applies at τ_min — the
    # interpreted cosine fold runs over the ≥0.80 survivors instead of
    # all Θ(n²/K) within-cell pairs.
    mem = persist_tracked(base.unionByName(cmem))
    cpairs = cell_local_candidate_pairs(mem, min(SEM_SWEEP_CENTI) / 100.0)
    ea = mem.select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea")
    )
    eb = mem.select(
        F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb")
    )
    cosv = (
        cpairs.join(ea, "vec_a")
        .join(eb, "vec_b")
        .withColumn("cosine", F.round(cosine_similarity("ea", "eb"), 6))
        .select("vec_a", "vec_b", "cosine")
    )
    taus = literal_table(spark, [(t,) for t in SEM_SWEEP_CENTI], "tau_centi bigint")
    counts = (
        cosv.crossJoin(taus)
        .groupBy("tau_centi")
        .agg(
            F.sum(
                F.when(
                    F.col("cosine") >= F.col("tau_centi") / 100.0, 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_pairs"),
            F.countDistinct(
                F.when(
                    F.col("cosine") >= F.col("tau_centi") / 100.0,
                    F.col("vec_b"),
                )
            )
            .cast("bigint")
            .alias("n_dropped_docs"),
        )
    )
    # Degenerate-regime parity (ADVICE r12): the oracle cross-joins
    # EVERY within-cell pair with the τ grid, so it emits the 4-row
    # zero-count frame whenever any cell has ≥2 members even if no
    # pair survives the τ_min prune — gate the grid on the (cells ≥2
    # members) existence aggregate and left-join the pruned counts.
    haspair = mem.groupBy("cid").agg(
        F.count(F.lit(1)).alias("m")
    ).agg(F.sum(F.when(F.col("m") >= 2, 1).otherwise(0)).alias("nc"))
    return (
        taus.crossJoin(haspair)
        .filter(F.col("nc") > 0)
        .join(counts, "tau_centi", "left")
        .select(
            "tau_centi",
            F.coalesce(F.col("n_pairs"), F.lit(0))
            .cast("bigint")
            .alias("n_pairs"),
            F.coalesce(F.col("n_dropped_docs"), F.lit(0))
            .cast("bigint")
            .alias("n_dropped_docs"),
        )
    )


# ---------------------------------------------------------------------------
# winnowing_fingerprints — MOSS winnowing fingerprint selection (r5s5)
# ---------------------------------------------------------------------------

WINNOW_K = 4  # k-gram length (tokens)
WINNOW_W = 5  # winnowing window (k-gram hashes per window)
# Composite selection key: hash * 2^21 + (2^21-1 - pos). Distinct per
# position (so the windowed MIN needs no tie logic) and ordered
# (hash asc, pos desc) — equal hashes resolve to the RIGHTMOST
# position, the robust-winnowing convention. hash < 2^32 keeps the
# key < 2^53, exact in BIGINT/DOUBLE alike; positions are capped at
# 2^21 tokens per document (a 100 TB corpus shards longer docs
# upstream — see text_chunking).
WINNOW_PB = 2_097_152  # 2^21


@register(
    "winnowing_fingerprints",
    oracle=f"""
    WITH t AS (SELECT doc_id, {{toks}} AS t FROM documents),
    n AS (SELECT doc_id, len(t) AS n_tokens FROM t WHERE len(t) > 0),
    kg AS (SELECT doc_id,
                  unnest(range(1, len(t) - {WINNOW_K} + 2)) AS pos,
                  unnest(list_transform(range(1, len(t) - {WINNOW_K} + 2),
                         i -> ('0x' || substr(md5(array_to_string(
                                  list_slice(t, i, i + {WINNOW_K} - 1), ' ')),
                               1, 8))::BIGINT)) AS h
           FROM t WHERE len(t) >= {WINNOW_K}),
    keyed AS (SELECT doc_id, pos, h,
                     h * {WINNOW_PB} + ({WINNOW_PB} - 1 - pos) AS k
              FROM kg),
    wm AS (SELECT doc_id, pos,
                  MIN(k) OVER (PARTITION BY doc_id ORDER BY pos
                               ROWS BETWEEN {WINNOW_W - 1} PRECEDING
                               AND CURRENT ROW) AS wmin
           FROM keyed),
    sel AS (SELECT DISTINCT doc_id, wmin FROM wm WHERE pos >= {WINNOW_W}),
    fp AS (SELECT doc_id, wmin // {WINNOW_PB} AS h FROM sel),
    fpd AS (SELECT DISTINCT doc_id, h FROM fp),
    sh AS (SELECT h FROM fpd GROUP BY h
           HAVING COUNT(*) >= 2),
    per AS (SELECT f.doc_id,
                   CAST(COUNT(*) AS BIGINT) AS n_fp,
                   CAST(COUNT(s.h) AS BIGINT) AS n_shared_fp
            FROM fpd f LEFT JOIN sh s ON s.h = f.h
            GROUP BY f.doc_id),
    cnt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sel FROM sel
            GROUP BY doc_id)
    SELECT n.doc_id, CAST(n.n_tokens AS BIGINT) AS n_tokens,
           CAST(GREATEST(n.n_tokens - {WINNOW_K} + 1, 0) AS BIGINT)
               AS n_kgrams,
           COALESCE(c.n_sel, 0) AS n_fp_positions,
           COALESCE(p.n_fp, 0) AS n_fp_hashes,
           CAST(CASE WHEN n.n_tokens >= {WINNOW_K}
                THEN COALESCE(c.n_sel, 0) * 1000000
                     // (n.n_tokens - {WINNOW_K} + 1)
                ELSE 0 END AS BIGINT) AS density_micro,
           COALESCE(p.n_shared_fp, 0) AS n_shared_fp
    FROM n LEFT JOIN per p USING (doc_id) LEFT JOIN cnt c USING (doc_id)
    """.format(toks="regexp_extract_all(lower(text), '[a-z0-9]+')"),
)
def winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS winnowing fingerprint selection (Schleimer, Wilkerson &
    Aiken 2003, "Winnowing: Local Algorithms for Document
    Fingerprinting"): every K=4-token k-gram is hashed, and from each
    sliding window of W=5 consecutive k-gram hashes the minimum is
    selected (rightmost position on hash ties — the robust-winnowing
    rule). The selected set is the document's fingerprint: winnowing
    GUARANTEES any shared substring of length >= K + W - 1 tokens
    yields at least one shared fingerprint, at an expected density of
    2/(W+1) — the position-subsampled alternative to hashing every
    window that ExactSubstr pays for (exact_substr_spans). Per doc:
    k-gram count, selected positions/hashes, selection density, and
    how many fingerprint hashes also appear in another document's
    fingerprint (the MOSS match signal).

    Determinism: the selection key hash*2^21 + (2^21-1-pos) is
    distinct per position, so the windowed MIN is tie-free and the
    rightmost-min convention is pure integer ordering — no float
    anywhere in the pipeline.

    Scale shape: one per-doc window function over the n_kgrams
    stream (the same shuffle shape as exact_substr_spans but the
    output is ~2/(W+1) of it), then word-count-shaped aggregates
    over the SELECTED fingerprints only. The cross-doc share join
    runs on the winnowed set — this subsampling is exactly why MOSS
    scales to web-corpus plagiarism detection."""
    from dbt_project_spark.operators.dedup import tokens_col

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", tokens_col("text").alias("t"))
    n = t.select(
        "doc_id", F.size("t").cast("bigint").alias("n_tokens")
    ).filter(F.col("n_tokens") > 0)
    kg = (
        t.filter(F.size("t") >= WINNOW_K)
        .select(
            "doc_id",
            F.posexplode(
                F.expr(
                    f"transform(sequence(1, size(t) - {WINNOW_K} + 1),"
                    " i -> conv(substring(md5("
                    f"array_join(slice(t, i, {WINNOW_K}), ' ')), 1, 8),"
                    " 16, 10))"
                )
            ).alias("p0", "h0"),
        )
        .select(
            "doc_id",
            (F.col("p0") + 1).alias("pos"),
            F.col("h0").cast("bigint").alias("h"),
        )
    )
    keyed = kg.withColumn(
        "k",
        F.col("h") * WINNOW_PB + (F.lit(WINNOW_PB - 1) - F.col("pos")),
    )
    w_win = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(-(WINNOW_W - 1), 0)
    )
    sel = persist_tracked(
        keyed.withColumn("wmin", F.min("k").over(w_win))
        .filter(F.col("pos") >= WINNOW_W)
        .select("doc_id", "wmin")
        .distinct()
    )
    fpd = sel.select(
        "doc_id", (F.col("wmin") / WINNOW_PB).cast("bigint").alias("h")
    ).distinct()
    sh = (
        fpd.groupBy("h")
        .agg(F.count(F.lit(1)).alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h")
    )
    per = (
        fpd.join(sh.withColumn("shared", F.lit(1)), "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_fp"),
            F.sum(F.coalesce(F.col("shared"), F.lit(0)))
            .cast("bigint")
            .alias("n_shared_fp"),
        )
    )
    cnt = sel.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sel")
    )
    return (
        n.join(per, "doc_id", "left")
        .join(cnt, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.greatest(
                F.col("n_tokens") - WINNOW_K + 1, F.lit(0)
            )
            .cast("bigint")
            .alias("n_kgrams"),
            F.coalesce(F.col("n_sel"), F.lit(0))
            .cast("bigint")
            .alias("n_fp_positions"),
            F.coalesce(F.col("n_fp"), F.lit(0))
            .cast("bigint")
            .alias("n_fp_hashes"),
            F.when(
                F.col("n_tokens") >= WINNOW_K,
                F.expr(
                    f"coalesce(n_sel, 0) * 1000000"
                    f" div (n_tokens - {WINNOW_K} + 1)"
                ),
            )
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("density_micro"),
            F.coalesce(F.col("n_shared_fp"), F.lit(0))
            .cast("bigint")
            .alias("n_shared_fp"),
        )
    )


# ---------------------------------------------------------------------------
# dedup_cross_batch — does new data duplicate old data? (r5s12)
# ---------------------------------------------------------------------------


@register(
    "dedup_cross_batch",
    oracle=f"""
    WITH pr AS (
      SELECT doc_a, doc_b FROM ({_minhash_oracle()})
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(CASE WHEN doc_a % 2 = 0 AND doc_b % 2 = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS within_even,
           CAST(SUM(CASE WHEN doc_a % 2 = 1 AND doc_b % 2 = 1
                         THEN 1 ELSE 0 END) AS BIGINT) AS within_odd,
           CAST(SUM(CASE WHEN doc_a % 2 <> doc_b % 2
                         THEN 1 ELSE 0 END) AS BIGINT) AS cross_pairs,
           CAST(CASE WHEN COUNT(*) = 0 THEN 0
                ELSE SUM(CASE WHEN doc_a % 2 <> doc_b % 2
                              THEN 1 ELSE 0 END) * 1000000 // COUNT(*)
                END AS BIGINT) AS cross_micro
    FROM pr
    """,
)
def dedup_cross_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-batch duplication profile: the verified MinHash near-dup
    pairs (dedup_minhash_lsh's exact dataflow) classified by whether
    they fall within the even half, within the odd half, or STRADDLE
    the two — the number an ingest pipeline watches batch-over-batch
    to distinguish 'the crawler is re-fetching what we already have'
    (cross share high) from 'the new batch is internally redundant'
    (within-new high). In production the parity split is the
    batch-id; the machinery is identical.

    Exactness: the pair set is the oracle-shared MinHash pipeline
    verbatim (same bands, caps, thresholds); the classification and
    the cross share are pure integer arithmetic.

    Scale shape: identical to dedup_minhash_lsh (banded LSH bucket
    join, capped hot buckets) plus one pairs-sized classification
    aggregate."""
    pairs = minhash_lsh_pairs(
        load_table(spark, sf_dir, "documents"), "doc_id", "text", JACCARD_T
    )
    return pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum(
            F.when(
                (F.col("doc_a") % 2 == 0) & (F.col("doc_b") % 2 == 0), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("within_even"),
        F.sum(
            F.when(
                (F.col("doc_a") % 2 == 1) & (F.col("doc_b") % 2 == 1), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("within_odd"),
        F.sum(
            F.when(F.col("doc_a") % 2 != F.col("doc_b") % 2, 1).otherwise(0)
        )
        .cast("bigint")
        .alias("cross_pairs"),
        F.expr(
            "CAST(CASE WHEN COUNT(*) = 0 THEN 0"
            " ELSE SUM(CASE WHEN doc_a % 2 <> doc_b % 2 THEN 1 ELSE 0 END)"
            " * 1000000 div COUNT(*) END AS BIGINT)"
        ).alias("cross_micro"),
    )


# ---------------------------------------------------------------------------
# simhash_radius_sweep — hamming-threshold calibration (r5s12)
# ---------------------------------------------------------------------------

SH_SWEEP_MAX = 3  # radii 0..3: exact recall with 4 bands (pigeonhole)


@register(
    "simhash_radius_sweep",
    oracle=f"""
    WITH sg AS ({_simhash_oracle()}),
    st AS (SELECT doc, simhash, 0 AS bid, band0 AS bv FROM sg
           UNION ALL SELECT doc, simhash, 1, band1 FROM sg
           UNION ALL SELECT doc, simhash, 2, band2 FROM sg
           UNION ALL SELECT doc, simhash, 3, band3 FROM sg),
    cand AS (SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b,
                    a.simhash AS sa, b.simhash AS sb
             FROM st a JOIN st b ON a.bid = b.bid AND a.bv = b.bv
                                AND a.doc < b.doc),
    hd AS (SELECT bit_count(CAST(xor(sa, sb) AS BIT)) AS h FROM cand
           WHERE bit_count(CAST(xor(sa, sb) AS BIT)) <= {SH_SWEEP_MAX}),
    radii AS (SELECT unnest(range(0, {SH_SWEEP_MAX} + 1)) AS radius)
    SELECT CAST(radii.radius AS BIGINT) AS radius,
           CAST(COALESCE(SUM(CASE WHEN hd.h = radii.radius
                                  THEN 1 END), 0) AS BIGINT) AS n_at,
           CAST(COALESCE(SUM(CASE WHEN hd.h <= radii.radius
                                  THEN 1 END), 0) AS BIGINT) AS n_within
    FROM radii LEFT JOIN hd ON TRUE
    GROUP BY radii.radius
    """,
)
def simhash_radius_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash hamming-radius calibration table: verified near-dup
    pair counts at exact distance r and within radius r, for r =
    0..{SH_SWEEP_MAX} — the knee-finding table an operator reads
    before fixing the production hamming threshold (the SimHash
    sibling of minhash_band_tuning's (b×r) S-curve and
    semantic_threshold_sweep's τ grid). Recall at every listed
    radius is EXACT: with 4 bands, any pair within hamming 3 must
    agree on one band (pigeonhole), so the banded candidates lose
    nothing.

    Exactness: signatures and bands are the dedup_simhash pipeline
    verbatim; distances are integer popcounts over XOR; counts pure
    integers.

    Scale shape: band-bucketed candidate join (bucket-local, as
    dedup_simhash), one pairs-sized popcount filter, a 4-row
    fan-out aggregate."""
    pairs = persist_tracked(
        simhash_pairs(
            load_table(spark, sf_dir, "documents"),
            "doc_id",
            "text",
            max_hamming=SH_SWEEP_MAX,
        )
    )
    radii = spark.range(0, SH_SWEEP_MAX + 1).select(
        F.col("id").alias("radius")
    )
    return (
        radii.join(pairs.select("hamming"), F.lit(True), "left")
        .groupBy("radius")
        .agg(
            F.sum(F.when(F.col("hamming") == F.col("radius"), 1))
            .cast("bigint")
            .alias("n_at"),
            F.sum(F.when(F.col("hamming") <= F.col("radius"), 1))
            .cast("bigint")
            .alias("n_within"),
        )
        .select(
            F.col("radius").cast("bigint").alias("radius"),
            F.coalesce(F.col("n_at"), F.lit(0)).cast("bigint").alias("n_at"),
            F.coalesce(F.col("n_within"), F.lit(0))
            .cast("bigint")
            .alias("n_within"),
        )
    )


# ---------------------------------------------------------------------------
# dedup_pair_transitivity — are near-dup pairs cliques or chains? (r5s15)
# ---------------------------------------------------------------------------


@register(
    "dedup_pair_transitivity",
    oracle=f"""
    WITH pr AS (SELECT doc_a, doc_b FROM ({_minhash_oracle()})),
    und AS (SELECT doc_a AS u, doc_b AS v FROM pr
            UNION ALL SELECT doc_b, doc_a FROM pr),
    wedge AS (SELECT a.v AS ctr, a.u AS x, b.u AS y
              FROM und a JOIN und b
                ON b.v = a.v AND a.u < b.u),
    closed AS (SELECT COUNT(*) AS n_closed
               FROM wedge w
               WHERE EXISTS (SELECT 1 FROM pr
                             WHERE pr.doc_a = w.x AND pr.doc_b = w.y)),
    wt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_wedges FROM wedge)
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM pr) AS n_pairs,
           wt.n_wedges,
           CAST(closed.n_closed AS BIGINT) AS n_closed,
           CAST(CASE WHEN wt.n_wedges = 0 THEN 1000000
                ELSE closed.n_closed * 1000000 // wt.n_wedges END
                AS BIGINT) AS closure_micro
    FROM wt CROSS JOIN closed
    """,
)
def dedup_pair_transitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitivity audit of the verified near-dup pair graph: of all
    wedges (a–b, b–c), how many close into triangles (a–c also a
    pair)? closure_micro ≈ 1e6 means the threshold carves clean
    CLIQUES — cluster representatives are safe and dedup_clusters'
    connected components just relabel; a low ratio means CHAINS
    (a≈b≈c but a≉c), where CC glues non-duplicates together and the
    keep-one-per-component policy silently drops distinct documents.
    This is the number that justifies (or indicts) the τ threshold
    BEFORE the keep-list ships.

    Exactness: the pair set is the shared MinHash SQL verbatim;
    wedges, closures, and the ratio are pure integer set arithmetic
    (empty wedge set reports 1e6 — vacuously transitive).

    Scale shape: the pair graph is pairs-sized (already ≪ corpus);
    the wedge join is degree-bounded on it, the closure an
    equi-join — the triangle_count machinery one level up."""
    pairs = persist_tracked(
        minhash_lsh_pairs(
            load_table(spark, sf_dir, "documents"), "doc_id", "text", JACCARD_T
        ).select("doc_a", "doc_b")
    )
    und = pairs.select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    ).unionByName(
        pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v"))
    )
    a = und.select(F.col("v").alias("ctr"), F.col("u").alias("x"))
    b = und.select(F.col("v").alias("ctr2"), F.col("u").alias("y"))
    wedge = persist_tracked(
        a.join(b, a.ctr == F.col("ctr2"))
        .filter(F.col("x") < F.col("y"))
        .select("x", "y")
    )
    closed = (
        wedge.join(
            pairs.select(
                F.col("doc_a").alias("x"), F.col("doc_b").alias("y")
            ),
            ["x", "y"],
            "left_semi",
        ).agg(F.count(F.lit(1)).cast("bigint").alias("n_closed"))
    )
    wt = wedge.agg(F.count(F.lit(1)).cast("bigint").alias("n_wedges"))
    np = pairs.agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    return (
        np.crossJoin(wt)
        .crossJoin(closed)
        .select(
            "n_pairs",
            "n_wedges",
            "n_closed",
            F.expr(
                "CAST(CASE WHEN n_wedges = 0 THEN 1000000"
                " ELSE n_closed * 1000000 div n_wedges END AS BIGINT)"
            ).alias("closure_micro"),
        )
    )


# ---------------------------------------------------------------------------
# minhash_vs_exact_recall — the LSH index against ground truth (r5s20)
# ---------------------------------------------------------------------------


@register(
    "minhash_vs_exact_recall",
    oracle=f"""
    WITH lsh AS (SELECT doc_a, doc_b FROM ({_minhash_oracle()})),
    ext AS (
      SELECT doc_a, doc_b FROM ({_EXACT_PAIRS_CTE}
        SELECT doc_a, doc_b FROM pairs
        WHERE inter / (sa + sb - inter) >= {JACCARD_T})),
    j AS (SELECT
            (SELECT CAST(COUNT(*) AS BIGINT) FROM ext) AS n_exact,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM lsh) AS n_lsh,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM lsh
             WHERE (doc_a, doc_b) IN (SELECT (doc_a, doc_b) FROM ext))
                AS n_both)
    SELECT n_exact, n_lsh, n_both,
           CAST(CASE WHEN n_exact = 0 THEN 1000000
                ELSE n_both * 1000000 // n_exact END AS BIGINT)
               AS recall_micro,
           CAST(CASE WHEN n_lsh = 0 THEN 1000000
                ELSE n_both * 1000000 // n_lsh END AS BIGINT)
               AS precision_micro
    FROM j
    """,
)
def minhash_vs_exact_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH measured against the exact shingle-join ground
    truth ON THE SAME CORPUS: recall (what fraction of true ≥τ pairs
    the banded index surfaces) and precision (both pipelines verify
    with exact Jaccard, so precision < 1e6 can only come from the
    hot-bucket caps differing) — the one-row answer to 'what does
    the production index actually lose?'. minhash_estimate_error
    prices the SIGNATURE's Jaccard estimate; this prices the INDEX's
    candidate generation, which is what recall rides on at 100 TB
    (the exact join is only feasible at audit scale — run this on a
    sampled slice in production, exactly as here).

    Exactness: both pair sets are the repo's oracle-shared pipelines
    verbatim; overlap and the two ratios are pure integer set
    arithmetic (empty denominators report 1e6 vacuously).

    Scale shape: the two pipelines' own shapes plus one pairs-sized
    semi-join."""
    docs = load_table(spark, sf_dir, "documents")
    lsh = persist_tracked(
        minhash_lsh_pairs(docs, "doc_id", "text", JACCARD_T).select("doc_a", "doc_b")
    )
    ext = persist_tracked(
        jaccard_pairs(
            docs, "doc_id", "text", JACCARD_T, max_bucket=MAX_BUCKET
        ).select("doc_a", "doc_b")
    )
    n_exact = ext.agg(F.count(F.lit(1)).cast("bigint").alias("n_exact"))
    n_lsh = lsh.agg(F.count(F.lit(1)).cast("bigint").alias("n_lsh"))
    n_both = lsh.join(ext, ["doc_a", "doc_b"], "left_semi").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_both")
    )
    return (
        n_exact.crossJoin(n_lsh)
        .crossJoin(n_both)
        .select(
            "n_exact",
            "n_lsh",
            "n_both",
            F.expr(
                "CAST(CASE WHEN n_exact = 0 THEN 1000000"
                " ELSE n_both * 1000000 div n_exact END AS BIGINT)"
            ).alias("recall_micro"),
            F.expr(
                "CAST(CASE WHEN n_lsh = 0 THEN 1000000"
                " ELSE n_both * 1000000 div n_lsh END AS BIGINT)"
            ).alias("precision_micro"),
        )
    )
