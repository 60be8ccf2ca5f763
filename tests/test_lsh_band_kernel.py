"""The r12 similarity kernels must be bit-identical to the SQL
expressions they replace:

- with_lsh_bands (numpy matmul banding) vs the old per-table
  when(dot >= 0, 2^j).otherwise(0) chain — including the near-zero
  sign sliver (recomputed with the exact left-to-right fold), Spark's
  NaN >= 0 = TRUE semantics, and null/ragged vectors (null dot →
  bit 0);
- prune_pairs_below_cosine may only DROP pairs whose exact ROUNDED
  cosine provably fails the threshold (or is provably NULL) — the
  surviving set must contain every pair the exact SQL filter keeps.
"""

import math

from pyspark.sql import functions as F

from dbt_project_spark.functions.expressions import dot_product
from dbt_project_spark.operators.similarity import (
    lsh_table_weights,
    prune_pairs_below_cosine,
    with_lsh_bands,
)


def _sql_bands(df, vec, weights, id_col, id_out="doc"):
    """The pre-r12 banding, verbatim."""
    cols = []
    for tid, rows in enumerate(weights):
        bucket = F.lit(0)
        for j, row in enumerate(rows):
            w = F.array(*[F.lit(x) for x in row])
            bucket = bucket + F.when(
                dot_product(F.col(vec), w) >= 0, F.lit(2**j)
            ).otherwise(F.lit(0))
        cols.append(
            F.struct(F.lit(tid).alias("tid"), bucket.cast("int").alias("bv"))
        )
    return df.select(
        F.col(id_col).alias(id_out), F.explode(F.array(*cols)).alias("bx")
    ).select(id_out, "bx.tid", "bx.bv")


def _rows(df):
    return sorted(
        (r["doc"], r["tid"], r["bv"]) for r in df.collect()
    )


def test_band_kernel_matches_sql_on_random_corpus(spark, monkeypatch):
    import random

    from dbt_project_spark.operators import similarity

    rng = random.Random(17)
    monkeypatch.setattr(similarity, "LSH_DIM", 8)
    w = lsh_table_weights(4, 3)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(300)
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    got = _rows(with_lsh_bands(df, "embedding", w, "vec_id"))
    assert got == _rows(_sql_bands(df, "embedding", w, "vec_id"))
    assert len(got) == 300 * 4


def test_band_kernel_near_zero_dots_and_orthogonal(spark):
    """Vectors orthogonal (dot exactly 0.0 → bit SET: 0 >= 0) and
    near-orthogonal (inside the float sliver) must band exactly like
    the SQL fold."""
    w = [[[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]]]
    rows = [
        (0, [0.0, 0.0, 1.0, 1.0]),  # dot exactly 0 vs both planes
        (1, [1e-300, -1e-300, 1.0, 0.0]),  # sub-sliver magnitudes
        (2, [-1e-12, 1e-12, 0.5, 0.5]),  # inside the 1e-9 sliver
        (3, [1.0, -1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    got = _rows(with_lsh_bands(df, "embedding", w, "vec_id"))
    assert got == _rows(_sql_bands(df, "embedding", w, "vec_id"))


def test_band_kernel_null_ragged_nan(spark):
    w = [[[0.5, -0.25, 0.125], [-0.5, 0.25, 0.125]]]
    rows = [
        (0, [1.0, 2.0, 3.0]),  # normal
        (1, None),  # null vector → null dots → bv 0
        (2, [1.0, 2.0]),  # short: zip_with pads → null → bv 0
        (3, [1.0, 2.0, 3.0, 4.0]),  # long: pads w side → null → bv 0
        (4, [float("nan"), 1.0, 1.0]),  # NaN dot → Spark: >= 0 TRUE
        (5, [1.0, None, 3.0]),  # null element → null dot → bv 0
        (6, [-1.0, -2.0, -3.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    got = _rows(with_lsh_bands(df, "embedding", w, "vec_id"))
    assert got == _rows(_sql_bands(df, "embedding", w, "vec_id"))
    assert (4, 0, 3) in got  # both NaN dots → both bits set


def test_prune_pairs_is_superset_of_exact_filter(spark):
    import random

    rng = random.Random(23)
    tau = 0.9
    vecs = []
    for i in range(60):
        vecs.append((i, [rng.uniform(-1, 1) for _ in range(8)]))
    # planted near-dups: tiny perturbations → cosine ≈ 1
    for i in range(60, 80):
        src = vecs[i % 20][1]
        vecs.append((i, [x * (1 + 1e-4 * (i % 3)) for x in src]))
    pairs = [
        (a, b, vecs[a][1], vecs[b][1])
        for a in range(80)
        for b in range(a + 1, 80)
    ]
    # degenerate pairs: null / ragged / NaN (zero-norm vectors are out
    # of contract for BOTH paths — ANSI division raises in the shared
    # exact expression, unchanged; see test_ivf_shortlist)
    pairs += [
        (100, 101, None, [1.0] * 8),
        (100, 102, [1.0] * 8, [1.0] * 4),
        (100, 103, [float("nan")] * 8, [1.0] * 8),
        (100, 105, [1.0, None, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0], [1.0] * 8),
    ]
    df = spark.createDataFrame(
        pairs,
        "vec_a bigint, vec_b bigint, ea array<double>, eb array<double>",
    )
    cos = F.round(
        dot_product("ea", "eb")
        / (
            F.sqrt(dot_product("ea", "ea"))
            * F.sqrt(dot_product("eb", "eb"))
        ),
        6,
    )
    def norm_c(c):  # NaN != NaN breaks set equality; fold to a marker
        return "NaN" if c is not None and math.isnan(c) else c

    exact = {
        (r["vec_a"], r["vec_b"], norm_c(r["cosine"]))
        for r in df.withColumn("cosine", cos)
        .filter(F.col("cosine") >= tau)
        .collect()
    }
    pruned = prune_pairs_below_cosine(df, "ea", "eb", tau)
    got = {
        (r["vec_a"], r["vec_b"], norm_c(r["cosine"]))
        for r in pruned.withColumn("cosine", cos)
        .filter(F.col("cosine") >= tau)
        .collect()
    }
    assert got == exact
    # NaN cosine passes Spark's filter (NaN is largest) — must survive
    assert (100, 103, "NaN") in exact
    # and the prune genuinely prunes: far fewer candidates survive
    assert pruned.count() < len(pairs) // 2


def test_cell_local_pairs_match_join_exact(spark):
    """The r12 group-local SemDeDup kernel composed with the exact SQL
    verify must equal the old within-cell join + exact-cosine-filter
    pipeline — including degenerate members (null/ragged/null-element
    vectors: NULL cosine, filtered identically) and null-cid members
    (join-on-cid semantics: no pairs)."""
    import random

    from dbt_project_spark.operators.similarity import (
        cell_local_candidate_pairs,
    )

    rng = random.Random(31)
    tau = 0.9
    rows = []
    vid = 0
    for cell in range(5):
        basev = [[rng.uniform(-1, 1) for _ in range(8)] for _ in range(12)]
        for v in basev:
            rows.append((cell, vid, v))
            vid += 1
        # planted near-dups inside the cell
        for j in range(4):
            src = basev[j]
            rows.append((cell, vid, [x * (1 + 1e-4 * j) for x in src]))
            vid += 1
    rows += [
        (0, 900, None),  # null vector
        (0, 901, [1.0, 2.0]),  # ragged
        (1, 902, [1.0, None] + [1.0] * 6),  # null element
        (None, 903, [1.0] * 8),  # null cid: no pairs (join semantics)
    ]
    mem = spark.createDataFrame(
        rows, "cid bigint, vec_id bigint, embedding array<double>"
    )
    cos = F.round(
        dot_product("ea", "eb")
        / (
            F.sqrt(dot_product("ea", "ea"))
            * F.sqrt(dot_product("eb", "eb"))
        ),
        6,
    )
    a = mem.select(
        "cid", F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea")
    )
    b = mem.select(
        "cid", F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb")
    )
    old = {
        (r["cid"], r["vec_a"], r["vec_b"], r["cosine"])
        for r in a.join(b, "cid")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .withColumn("cosine", cos)
        .filter(F.col("cosine") >= tau)
        .collect()
    }
    cp = cell_local_candidate_pairs(mem, tau)
    ea = mem.select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea")
    )
    eb = mem.select(
        F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb")
    )
    new = {
        (r["cid"], r["vec_a"], r["vec_b"], r["cosine"])
        for r in cp.join(ea, "vec_a")
        .join(eb, "vec_b")
        .withColumn("cosine", cos)
        .filter(F.col("cosine") >= tau)
        .collect()
    }
    assert new == old
    assert len(new) >= 5 * 4  # the planted near-dups all survive
    # and the kernel genuinely pruned: far fewer candidates than pairs
    n_cells_pairs = 5 * (16 * 15) // 2
    assert cp.count() < n_cells_pairs // 2
    assert cp.filter(F.col("cid").isNull()).count() == 0


def test_cell_local_pairs_hot_cell_block_invariant(spark, monkeypatch):
    """r13 skew bound (VERDICT r12 task 4): a hot cell must stream the
    cosine matrix in row blocks — forcing a tiny block budget (many
    blocks per cell) must emit EXACTLY the same candidate set as the
    single-block regime, degenerate members included."""
    import random

    from dbt_project_spark.operators import similarity
    from dbt_project_spark.operators.similarity import (
        cell_local_candidate_pairs,
    )

    rng = random.Random(7)
    rows = []
    # one hot cell with 150 members (planted near-dups + bulk) plus a
    # small second cell; degenerate members land IN the hot cell
    base = [[rng.uniform(-1, 1) for _ in range(6)] for _ in range(140)]
    for i, v in enumerate(base):
        rows.append((0, i, v))
    for j in range(10):
        rows.append((0, 500 + j, [x * (1 + 1e-5 * j) for x in base[j]]))
    rows += [
        (0, 900, None),
        (0, 901, [1.0]),  # ragged
        (0, 902, [1.0, None, 1.0, 1.0, 1.0, 1.0]),
        (1, 950, [1.0] * 6),
        (1, 951, [1.0] * 6),
    ]
    mem = spark.createDataFrame(
        rows, "cid bigint, vec_id bigint, embedding array<double>"
    )
    one_block = sorted(
        map(tuple, cell_local_candidate_pairs(mem, 0.9).collect())
    )
    # 8 KiB budget -> ~6-row blocks over the 153-member hot cell
    monkeypatch.setattr(similarity, "_CELL_PAIR_BLOCK_BYTES", 8 << 10)
    many_blocks = sorted(
        map(tuple, cell_local_candidate_pairs(mem, 0.9).collect())
    )
    assert many_blocks == one_block
    # degenerate members' pairs are all kept (never finite-prunable)
    degen = [t for t in one_block if t[1] in (900, 901, 902) or t[2] in (900, 901, 902)]
    # 3 degenerates × 150 clean partners + C(3,2) degen-degen pairs
    assert len(degen) == 3 * 150 + 3
    # and the planted near-dups survive
    planted = {(0, j, 500 + j) for j in range(10)}
    assert planted <= set(one_block)
