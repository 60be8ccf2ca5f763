"""The r12 fused PQ encode kernel (operators/ivf._pq_encode_codes)
must be bit-identical, per subspace, to the old per-subspace
crossJoin + min_by(d2·KM_KEY_M + cid) SQL pass — the assigned cid AND
the winner's exact integer distortion — including cid ties,
ragged/null vectors (null-key semantics), degenerate codebook rows,
and the 2⁵³ exact-float64 guard. The build restructure (ONE shared
hash-sample instead of M per-slice TakeOrdered scans) must leave the
trained codebooks unchanged: the sample key (md5(vid), vid) is
independent of the sliced payload."""

from pyspark.sql import functions as F

from dbt_project_spark.operators.ivf import _pq_encode_codes
from dbt_project_spark.operators.kmeans import KM_KEY_M


def _sql_reference(iv, books, pq_m, sub):
    """The pre-r12 per-subspace assignment + distortion, verbatim."""
    d2 = F.aggregate(
        F.zip_with("iv", "civ", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    rows = set()
    for m in range(pq_m):
        sub_iv = iv.select(
            "vid", F.slice("iv", m * sub + 1, sub).alias("iv")
        )
        cb = books.filter(F.col("m") == m).select("cid", "civ")
        scored = sub_iv.crossJoin(F.broadcast(cb)).withColumn(
            "key", d2.cast("decimal(38,0)") * F.lit(KM_KEY_M) + F.col("cid")
        )
        asg = scored.groupBy("vid").agg(
            F.min_by("cid", F.col("key")).alias("cid"),
            F.expr(f"CAST(MIN(key) div {KM_KEY_M} AS BIGINT)").alias("d2"),
        )
        for r in asg.collect():
            rows.add(
                (
                    r["vid"],
                    m,
                    None if r["cid"] is None else int(r["cid"]),
                    None if r["d2"] is None else int(r["d2"]),
                )
            )
    return rows


def _kernel_rows(spark, iv, books, pq_m, sub):
    return {
        (r["vid"], r["m"], r["cid"], r["d2"])
        for r in _pq_encode_codes(spark, iv, books, pq_m, sub).collect()
    }


def _dfs(spark, vec_rows, book_rows):
    iv = spark.createDataFrame(vec_rows, "vid bigint, iv array<bigint>")
    books = spark.createDataFrame(
        book_rows, "m int, cid bigint, civ array<bigint>"
    )
    return iv, books


def test_pq_encode_matches_sql_with_ties(spark):
    import random

    rng = random.Random(5)
    pq_m, sub = 2, 4
    book_rows = [
        (m, c, [rng.randrange(-(10**6), 10**6) for _ in range(sub)])
        for m in range(pq_m)
        for c in range(8)
    ]
    # duplicated centroid pair inside subspace 1: tie → lowest cid
    book_rows[15] = (1, 7, list(book_rows[14][2]))
    vec_rows = [
        (i, [rng.randrange(-(10**6), 10**6) for _ in range(8)])
        for i in range(200)
    ]
    # exact sub-vector duplicates (d2 = 0 in one subspace)
    vec_rows += [
        (200, list(book_rows[2][2]) + list(book_rows[14][2])),
        (201, list(book_rows[0][2]) + list(book_rows[9][2])),
    ]
    iv, books = _dfs(spark, vec_rows, book_rows)
    got = _kernel_rows(spark, iv, books, pq_m, sub)
    assert got == _sql_reference(iv, books, pq_m, sub)
    assert (200, 1, 6, 0) in got  # duplicated centroids: lowest cid


def test_pq_encode_matches_sql_on_ragged_null_and_degenerate(spark):
    pq_m, sub = 2, 2
    book_rows = [
        (0, 0, [0, 0]),
        (0, 1, [10, 10]),
        (0, 2, None),  # null codebook row: null key, never wins
        (1, 0, [5, 5]),
        (1, 1, [7, None]),  # null component: null key, never wins
        (1, 2, [1, 2, 3]),  # ragged: zip_with null-pads → null key
    ]
    vec_rows = [
        (0, [1, 1, 6, 6]),  # normal
        (1, [9, 9, 9]),  # short: subspace 1 slice is 1 element → null
        (2, [5, 5]),  # shorter: subspace 1 slice empty → null
        (3, None),  # null vector: both subspaces null
        (4, [11, 11, 4, 4]),  # normal
        (5, [2, None, 8, 8]),  # null element in subspace 0
    ]
    iv, books = _dfs(spark, vec_rows, book_rows)
    got = _kernel_rows(spark, iv, books, pq_m, sub)
    assert got == _sql_reference(iv, books, pq_m, sub)
    assert (0, 0, 0, 2) in got and (0, 1, 0, 2) in got
    assert (3, 0, None, None) in got and (3, 1, None, None) in got
    assert (5, 0, None, None) in got and (5, 1, 0, 18) in got


def test_pq_encode_bigint_guard_slow_path(spark):
    """Components past √(2⁵³/sub)/2 break float64 exactness — the
    kernel must detect the bound and take the python-int slow path,
    matching the DECIMAL(38,0) SQL result."""
    big = 4 * 10**8  # > safe_mx ≈ 7.5e7 at sub 2
    pq_m, sub = 2, 2
    book_rows = [
        (0, 0, [big, -big]),
        (0, 1, [big - 3, -big]),
        (1, 0, [-big, big]),
        (1, 1, [-big, big - 3]),
    ]
    vec_rows = [
        (0, [big - 2, -big, -big, big - 2]),
        (1, [-big, big, big, -big]),
    ]
    iv, books = _dfs(spark, vec_rows, book_rows)
    got = _kernel_rows(spark, iv, books, pq_m, sub)
    assert got == _sql_reference(iv, books, pq_m, sub)
    assert (0, 0, 1, 1) in got  # true d2 1 vs 4 — inside float noise
    assert (0, 1, 1, 1) in got


def test_build_pq_index_shared_sample_matches_per_subspace_training(
    spark, tmp_path
):
    """The r12 build draws ONE full-dim hash-sample and slices it per
    subspace; the old build sampled each sliced corpus independently.
    Both select by (md5(vid), vid) — payload-independent — so the
    trained codebooks must be identical. n > 256·pq_k so the sample
    genuinely binds (not the whole corpus)."""
    import os
    import random
    import shutil

    from dbt_project_spark.operators.ivf import (
        build_ivf_index,
        build_pq_index,
        ivf_index_dir,
    )
    from dbt_project_spark.operators.kmeans import (
        int_vectors,
        kmeans_fit,
    )

    sf_dir = str(tmp_path / "sfpq")
    rng = random.Random(13)
    pq_m, pq_k, pq_iters = 2, 2, 2
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(600)
    ]
    spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(sf_dir, "embeddings.parquet")
    )
    e = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    shutil.rmtree(ivf_index_dir(sf_dir), ignore_errors=True)
    coarse = build_ivf_index(spark, sf_dir, e)
    build_pq_index(spark, sf_dir, coarse, pq_m, pq_k, pq_iters, e=e)
    d = os.path.join(ivf_index_dir(sf_dir), "pq_raw")
    books = spark.read.parquet(os.path.join(d, "codebooks.parquet"))
    got = {
        (r["m"], r["cid"], tuple(r["civ"])) for r in books.collect()
    }
    # old-structure reference: sample each SLICED corpus independently
    iv = int_vectors(e, "vec_id", "embedding")
    sub = 8 // pq_m
    want = set()
    for m in range(pq_m):
        sub_iv = iv.select(
            "vid", F.slice("iv", m * sub + 1, sub).alias("iv")
        ).persist()
        cb = kmeans_fit(sub_iv, pq_k, pq_iters)
        for r in cb.collect():
            want.add((m, int(r["cid"]), tuple(r["civ"])))
        sub_iv.unpersist()
    assert got == want
    # and the fused encode covered every vector in every subspace
    codes = spark.read.parquet(os.path.join(d, "codes.parquet"))
    assert codes.count() == 600 * pq_m
    assert codes.filter(F.col("cid").isNull()).count() == 0
    shutil.rmtree(ivf_index_dir(sf_dir), ignore_errors=True)
