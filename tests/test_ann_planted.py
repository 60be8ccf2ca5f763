"""Planted-geometry tests for the ANN catalog family (r06 lint
burn-down): 4 orthogonal clusters of 16 IDENTICAL one-hot vectors
(cluster c of 64-dim corpus vector i = e_{8c}, c = i mod 4). Under
this geometry every method's behavior is exact and fully predictable:

- intra-cluster cosine = 1.000000, cross-cluster = 0.0 — so every
  cosine-ranked top-k is the k lowest-id cluster-mates (ties break on
  neighbor_id on both the Spark and oracle side);
- identical vectors share coarse cells, LSH buckets, and PQ codes —
  ADC distances are exactly 0 intra-cluster and 2·(10^6)^2 cross — so
  the ADC-ranked top-k equals the cosine top-k too;
- therefore EVERY recall monitor must report exactly 1.0.

ivf_params(64) = (k=16, nprobe=2); the first 16 vec_ids cover each
cluster 4 times, so the first-K coarse-centroid stand-in spans all
clusters. Cluster axes (0, 8, 16, 24) all sit inside the first
TRUNC_DIMS=32 dims, so dimension truncation is lossless here.
"""

import os
import shutil

import pytest

from dbt_project_spark.catalog import QUERIES, load_all
from dbt_project_spark.operators.ivf import ivf_index_dir

load_all()

N = 64
C = 4
DIM = 64
PER = N // C  # 16 members per cluster


def _cluster(i: int) -> int:
    return i % C


@pytest.fixture(scope="module")
def ann_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("ann_planted") / "sf")
    rows = []
    for i in range(N):
        vec = [0.0] * DIM
        vec[8 * _cluster(i)] = 1.0
        rows.append((i, vec, _cluster(i)))
    df = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    )
    df.coalesce(1).write.parquet(os.path.join(d, "embeddings.parquet"))
    yield d
    shutil.rmtree(ivf_index_dir(d), ignore_errors=True)


def _mates(q: int, k: int) -> list[int]:
    ids = [i for i in range(N) if _cluster(i) == _cluster(q) and i != q]
    return sorted(ids)[:k]


def _by_query(df):
    out = {}
    for r in df.collect():
        out.setdefault(r["query_id"], []).append(r)
    return out


def _assert_topk_is_lowest_mates(df, k, nq=5, score=None):
    per = _by_query(df)
    assert sorted(per) == list(range(nq))
    for q, rows in per.items():
        rows.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rows] == list(range(1, k + 1))
        assert [r["neighbor_id"] for r in rows] == _mates(q, k)
        if score is not None:
            col, val = score
            assert all(r[col] == val for r in rows), rows


def test_ann_bruteforce_topk_planted(spark, ann_dir):
    df = QUERIES["ann_bruteforce_topk"](spark, ann_dir)
    _assert_topk_is_lowest_mates(df, 10, score=("cosine", 1.0))


def test_ann_lsh_topk_planted(spark, ann_dir):
    # identical vectors share the hyperplane bucket, so the bucket
    # holds all 15 mates and the LSH top-10 equals brute force
    df = QUERIES["ann_lsh_topk"](spark, ann_dir)
    _assert_topk_is_lowest_mates(df, 10, score=("cosine", 1.0))


def test_pq_ann_topk_planted(spark, ann_dir):
    # PQ codes of identical vectors are identical → intra ADC d2 = 0
    df = QUERIES["pq_ann_topk"](spark, ann_dir)
    _assert_topk_is_lowest_mates(df, 10, score=("ad2", 0))


def test_ann_ivfpq_topk_planted(spark, ann_dir):
    df = QUERIES["ann_ivfpq_topk"](spark, ann_dir)
    _assert_topk_is_lowest_mates(df, 10, score=("ad2", 0))


def test_ann_ivfpq_residual_topk_planted(spark, ann_dir):
    # residual of a member against its own-point centroid is the zero
    # vector → residual codes are zero → intra ADC d2 = 0 again
    df = QUERIES["ann_ivfpq_residual_topk"](spark, ann_dir)
    _assert_topk_is_lowest_mates(df, 10, score=("ad2", 0))


def test_ann_ivfpq_refine_planted(spark, ann_dir):
    df = QUERIES["ann_ivfpq_refine"](spark, ann_dir)
    _assert_topk_is_lowest_mates(df, 10, score=("cosine", 1.0))


@pytest.mark.parametrize(
    "name,k",
    [
        ("ann_recall_lsh", 10),
        ("ann_recall_truncated_dims", 10),
        ("ann_recall_ivf", 5),  # IVF_TOPK serving depth
        ("ann_recall_ivfpq", 10),
        ("ann_recall_ivfpq_residual", 10),
        ("ann_recall_ivfpq_refine", 10),
    ],
)
def test_recall_monitors_report_one(spark, ann_dir, name, k):
    rows = QUERIES[name](spark, ann_dir).collect()
    assert sorted(r["query_id"] for r in rows) == list(range(5))
    for r in rows:
        assert r["k"] == k
        assert r["n_matched"] == k
        assert r["recall"] == 1.0


def test_ivf_build_index_planted(spark, ann_dir):
    # each cluster's 16 identical members land in ONE cell; vid_sum
    # checksums the exact membership: ids ≡ c (mod 4) sum to 16c + 480
    rows = QUERIES["ivf_build_index"](spark, ann_dir).collect()
    assert len(rows) == C
    assert sorted(r["n_members"] for r in rows) == [PER] * C
    got = sorted(r["vid_sum"] for r in rows)
    want = sorted(sum(range(c, N, C)) for c in range(C))
    assert got == want


def test_semantic_threshold_sweep_planted(spark, ann_dir):
    # every within-cluster cosine is exactly 1.0 and every cross-
    # cluster cosine exactly 0.0 — so the τ sweep (0.80..0.95) is
    # FLAT: the same pair count and drop count at every threshold
    rows = QUERIES["semantic_threshold_sweep"](spark, ann_dir).collect()
    taus = sorted(r["tau_centi"] for r in rows)
    assert len(taus) >= 3 and taus[0] >= 80 and taus[-1] <= 95
    assert len({r["n_pairs"] for r in rows}) == 1
    assert len({r["n_dropped_docs"] for r in rows}) == 1
    assert all(r["n_pairs"] > 0 for r in rows)
    # dropped = every non-minimum cluster member (N − C) plus the
    # sweep's planted clones (vec_id % 20 == 0 → N/16 of them), each
    # a cosine-1.0 higher-id pair member at every τ
    assert all(r["n_dropped_docs"] == (N - C) + N // 16 for r in rows)


def test_ivf_train_centroids_planted(spark, ann_dir):
    # K=16 centroids; every trained centroid (and every empty-cluster
    # carried seed) is one of the planted one-hot points, so each
    # component-sum checksum is exactly KM_SCALE; members total N
    from dbt_project_spark.operators.kmeans import KM_SCALE

    rows = QUERIES["ivf_train_centroids"](spark, ann_dir).collect()
    assert len(rows) == 16
    assert sum(r["n_members"] for r in rows) == N
    assert all(r["c_sum"] == KM_SCALE for r in rows)


def test_recall_at_k_planted(spark):
    """recall_at_k counts, per query of the exact list, the pairs the
    approximate list shares: a full match, a partial one, and a query
    the approximate list lacks (0 matched, still reported)."""
    from dbt_project_spark.operators.similarity import recall_at_k

    exact = spark.createDataFrame(
        [(q, q * 3 + j) for q in range(3) for j in (1, 2, 3)],
        "query_id bigint, neighbor_id bigint",
    )
    approx = spark.createDataFrame(
        # query 0: all 3; query 1: 1 of 3 plus a miss; query 2: absent;
        # query 3 is not an exact query and adds no row
        [(0, 3), (0, 1), (0, 2), (1, 5), (1, 9), (3, 1)],
        "query_id bigint, neighbor_id bigint",
    )
    out = recall_at_k(exact, approx, 3)
    assert out.dtypes == [
        ("query_id", "bigint"),
        ("k", "bigint"),
        ("n_matched", "bigint"),
        ("recall", "double"),
    ]
    got = sorted(tuple(r) for r in out.collect())
    assert got == [(0, 3, 3, 1.0), (1, 3, 1, 0.333333), (2, 3, 0, 0.0)]


def test_warm_ivfpq_checks_the_coarse_index_once(spark, ann_dir, monkeypatch):
    """A warm IVF-PQ query checks its coarse index for staleness (a
    corpus fingerprint scan) once: the PQ layer takes the coarse meta
    the query already loaded instead of scanning again."""
    from dbt_project_spark.operators import ivf

    QUERIES["ann_ivfpq_topk"](spark, ann_dir).collect()  # warm both layers
    calls = []
    real = ivf.build_ivf_index

    def spy(*args, **kwargs):
        calls.append(args[1])
        return real(*args, **kwargs)

    monkeypatch.setattr(ivf, "build_ivf_index", spy)
    df = QUERIES["ann_ivfpq_topk"](spark, ann_dir)
    assert calls == [ann_dir]
    _assert_topk_is_lowest_mates(df, 10, score=("ad2", 0))
