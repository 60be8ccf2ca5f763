"""Persisted IVF index (operators/ivf.py): build/serve split, cell
partitioning, and the content-fingerprint staleness guard."""

import os
import random
import shutil

from pyspark.sql import functions as F

from dbt_project_spark.operators.ivf import (
    build_ivf_index,
    ivf_index_dir,
    load_ivf_index,
)

N = 64


def _write_corpus(spark, sf_dir, seed):
    rng = random.Random(seed)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(N)
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(sf_dir, "embeddings.parquet")
    )


def _embeddings(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))


def test_built_index_is_deleted_at_process_exit(spark, tmp_path, monkeypatch):
    """The process that builds an index owns it: it survives
    ``release_tracked`` (queries reuse it) and caching's exit hook
    deletes it."""
    from dbt_project_spark import caching

    monkeypatch.setattr(caching, "_PROCESS_DIRS", [])
    monkeypatch.setattr(caching, "_SCRATCH", [])
    sf_dir = str(tmp_path / "sfexit")
    _write_corpus(spark, sf_dir, seed=5)
    d = ivf_index_dir(sf_dir)
    shutil.rmtree(d, ignore_errors=True)
    build_ivf_index(spark, sf_dir, _embeddings(spark, sf_dir))
    caching.release_tracked()
    assert os.path.isfile(os.path.join(d, "_META.json"))
    caching.remove_at_exit()
    assert not os.path.exists(d)


def test_ivf_index_build_serve_and_staleness(spark, tmp_path):
    sf_dir = str(tmp_path / "sfx")
    _write_corpus(spark, sf_dir, seed=1)
    shutil.rmtree(ivf_index_dir(sf_dir), ignore_errors=True)

    e = _embeddings(spark, sf_dir)
    meta = build_ivf_index(spark, sf_dir, e)
    assert meta["k"] == 16 and meta["nprobe"] == 2  # min clamps at n=64

    cent, cells, meta_l = load_ivf_index(spark, sf_dir, e)
    assert meta_l == meta
    k = meta["k"]
    assert cent.count() == k == 16
    # every corpus vector sits in exactly one inverted list, with its
    # embedding stored inside the list (no corpus join at serve time)
    assert cells.count() == N
    assert cells.select("vec_id").distinct().count() == N
    assert "embedding" in cells.columns
    ncells = cells.select("cid").distinct().count()
    assert 1 <= ncells <= k

    # warm rebuild is a no-op (meta matches -> skip)
    mpath = os.path.join(ivf_index_dir(sf_dir), "_META.json")
    mtime = os.path.getmtime(mpath)
    assert build_ivf_index(spark, sf_dir, e) == meta
    assert os.path.getmtime(mpath) == mtime

    # materialize the old assignment BEFORE the rebuild overwrites it
    old = {
        (r["vec_id"], r["cid"]) for r in cells.select("vec_id", "cid").collect()
    }

    # same row count, different content: the fingerprint invalidates
    _write_corpus(spark, sf_dir, seed=2)
    e2 = _embeddings(spark, sf_dir)
    meta2 = build_ivf_index(spark, sf_dir, e2)
    assert meta2["fp"] != meta["fp"]
    # rebuilt lists reflect the NEW corpus
    _, cells2, _ = load_ivf_index(spark, sf_dir, e2)
    new = {
        (r["vec_id"], r["cid"]) for r in cells2.select("vec_id", "cid").collect()
    }
    assert old != new  # different corpus -> different assignment
    shutil.rmtree(ivf_index_dir(sf_dir), ignore_errors=True)


def test_ivf_serving_reads_only_probed_cells(spark):
    """The serving join must dynamic-partition-prune the cells scan —
    the IVF contract is that a query touches nprobe/K of the corpus."""
    from dbt_project_spark.catalog import QUERIES, load_all

    load_all()
    sf = "/root/testdata/sf0.001"
    df = QUERIES["ann_ivf_topk"](spark, sf)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]


def test_pq_index_staleness_follows_corpus(spark, tmp_path):
    """The PQ layer keys its staleness on the coarse index
    fingerprint: same count + changed content must rebuild BOTH
    variants' codes; a warm rebuild is a no-op."""
    import json

    from dbt_project_spark.operators.ivf import build_pq_index

    sf_dir = str(tmp_path / "sfy")
    _write_corpus(spark, sf_dir, seed=5)
    shutil.rmtree(ivf_index_dir(sf_dir), ignore_errors=True)
    e = _embeddings(spark, sf_dir)
    coarse = build_ivf_index(spark, sf_dir, e)
    m1 = build_pq_index(spark, sf_dir, coarse, 2, 4, 1, e=e)
    d = os.path.join(ivf_index_dir(sf_dir), "pq_raw")
    mpath = os.path.join(d, "_META.json")
    mtime = os.path.getmtime(mpath)
    # warm: same meta -> skip
    assert build_pq_index(spark, sf_dir, coarse, 2, 4, 1, e=e) == m1
    assert os.path.getmtime(mpath) == mtime
    codes1 = {
        (r["vid"], r["m"], r["cid"])
        for r in spark.read.parquet(os.path.join(d, "codes.parquet")).collect()
    }
    assert {v for v, _, _ in codes1} == set(range(N))
    assert {m for _, m, _ in codes1} == {0, 1}

    # same count, new content -> fingerprint differs -> rebuild
    _write_corpus(spark, sf_dir, seed=6)
    e2 = _embeddings(spark, sf_dir)
    coarse2 = build_ivf_index(spark, sf_dir, e2)
    m2 = build_pq_index(spark, sf_dir, coarse2, 2, 4, 1, e=e2)
    assert m2["fp"] != m1["fp"]
    with open(mpath) as fh:
        assert json.load(fh) == m2
    # residual variant builds independently and encodes every vector
    mr = build_pq_index(spark, sf_dir, coarse2, 2, 4, 1, e=e2, residual=True)
    assert mr["residual"] is True
    dres = os.path.join(ivf_index_dir(sf_dir), "pq_residual")
    codes_r = spark.read.parquet(os.path.join(dres, "codes.parquet"))
    assert codes_r.select("vid").distinct().count() == N
    shutil.rmtree(ivf_index_dir(sf_dir), ignore_errors=True)


def test_same_basename_dirs_get_their_own_index(spark, tmp_path):
    """Two data dirs with the same basename, row count and content
    fingerprint (same first components) but different vectors: each is
    keyed by its full path, so each serves its own rows."""
    from dbt_project_spark.catalog import QUERIES, load_all

    load_all()
    rng = random.Random(3)
    firsts = [rng.uniform(-1, 1) for _ in range(N)]
    dirs, corpora = [], []
    for parent in ("a", "b"):
        sf_dir = str(tmp_path / parent / "sfsame")
        rows = [
            (i, [firsts[i]] + [rng.uniform(-1, 1) for _ in range(7)])
            for i in range(N)
        ]
        spark.createDataFrame(
            rows, "vec_id bigint, embedding array<double>"
        ).coalesce(1).write.parquet(os.path.join(sf_dir, "embeddings.parquet"))
        shutil.rmtree(ivf_index_dir(sf_dir), ignore_errors=True)
        dirs.append(sf_dir)
        corpora.append({i: v for i, v in rows})
    assert ivf_index_dir(dirs[0]) != ivf_index_dir(dirs[1])
    metas = [build_ivf_index(spark, d, _embeddings(spark, d)) for d in dirs]
    assert metas[0] == metas[1]  # indistinguishable by their metas
    for sf_dir, corpus in zip(dirs, corpora):
        _, cells, _ = load_ivf_index(spark, sf_dir)
        got = {r["vec_id"]: list(r["embedding"]) for r in cells.collect()}
        assert got == corpus
        top = QUERIES["ann_ivf_topk"](spark, sf_dir).collect()
        assert {r["neighbor_id"] for r in top} <= set(corpus)
        shutil.rmtree(ivf_index_dir(sf_dir), ignore_errors=True)


def test_pq_meta_records_dim_and_old_meta_rebuilds(spark, tmp_path):
    """The PQ meta carries the slice width's basis, dim; a meta written
    before it did (no dim, older version) no longer matches, so the
    next build rebuilds and writes the current one."""
    import json

    from dbt_project_spark.operators.ivf import (
        PQ_INDEX_VERSION,
        build_pq_index,
        load_pq_index,
    )

    sf_dir = str(tmp_path / "sfm")
    _write_corpus(spark, sf_dir, seed=11)
    shutil.rmtree(ivf_index_dir(sf_dir), ignore_errors=True)
    e = _embeddings(spark, sf_dir)
    coarse = build_ivf_index(spark, sf_dir, e)
    meta = build_pq_index(spark, sf_dir, coarse, 2, 4, 1, e=e)
    assert meta["dim"] == 8
    mpath = os.path.join(ivf_index_dir(sf_dir), "pq_raw", "_META.json")
    old = {k: v for k, v in meta.items() if k != "dim"}
    old["version"] = PQ_INDEX_VERSION - 1
    with open(mpath, "w") as fh:
        json.dump(old, fh)
    _, _, dim = load_pq_index(spark, sf_dir, coarse, 2, 4, 1, e)
    assert dim == 8
    with open(mpath) as fh:
        assert json.load(fh) == meta
    shutil.rmtree(ivf_index_dir(sf_dir), ignore_errors=True)


def test_ivf_cell_balance_single_cluster(spark, tmp_path):
    """All-identical vectors collapse into cell 0: one bucket row,
    imbalance factor exactly K (micro units), K-1 empty cells."""
    from dbt_project_spark.catalog import QUERIES, load_all

    load_all()
    sf_dir = str(tmp_path / "sfb")
    rows = [(i, [1.0] * 8) for i in range(N)]
    spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(sf_dir, "embeddings.parquet")
    )
    shutil.rmtree(ivf_index_dir(sf_dir), ignore_errors=True)
    out = QUERIES["ivf_cell_balance"](spark, sf_dir).collect()
    assert len(out) == 1
    r = out[0]
    assert r["size_log2"] == 6  # len(bin(64)) - 1
    assert r["n_cells"] == 1 and r["n_vectors"] == N
    assert r["imbalance_micro"] == 16 * 1_000_000  # K = 16 at n = 64
    assert r["n_empty_cells"] == 15
    shutil.rmtree(ivf_index_dir(sf_dir), ignore_errors=True)


def test_ivf_cell_balance_covers_corpus(spark, tmp_path):
    """Bucket rows partition the corpus: Σn_vectors = n, buckets are
    distinct, imbalance ≥ 1.0 (Cauchy–Schwarz floor)."""
    from dbt_project_spark.catalog import QUERIES, load_all

    load_all()
    sf_dir = str(tmp_path / "sfc")
    _write_corpus(spark, sf_dir, seed=7)
    shutil.rmtree(ivf_index_dir(sf_dir), ignore_errors=True)
    out = QUERIES["ivf_cell_balance"](spark, sf_dir).collect()
    assert sum(r["n_vectors"] for r in out) == N
    logs = [r["size_log2"] for r in out]
    assert len(logs) == len(set(logs))
    assert all(r["imbalance_micro"] >= 1_000_000 for r in out)
    assert len({r["imbalance_micro"] for r in out}) == 1  # global constant
    shutil.rmtree(ivf_index_dir(sf_dir), ignore_errors=True)


def test_probe_recall_sweep_monotone(spark, tmp_path):
    """Recall@k is non-decreasing in nprobe (superset candidates can
    only push true positives IN, never out — asserted, not assumed),
    and the settings ladder derives from ivf_params."""
    from dbt_project_spark.catalog import QUERIES, load_all

    load_all()
    sf_dir = str(tmp_path / "sfd")
    _write_corpus(spark, sf_dir, seed=9)
    shutil.rmtree(ivf_index_dir(sf_dir), ignore_errors=True)
    out = sorted(
        QUERIES["ann_probe_recall_sweep"](spark, sf_dir).collect(),
        key=lambda r: r["nprobe"],
    )
    assert [r["nprobe"] for r in out] == [1, 2, 4]  # k=16, np=2 at n=64
    recalls = [r["recall_micro"] for r in out]
    assert recalls == sorted(recalls)
    for r in out:
        assert 0 <= r["n_matched"] <= r["n_queries"] * r["topk"]
        assert r["recall_micro"] == r["n_matched"] * 1_000_000 // (
            r["n_queries"] * r["topk"]
        )
    shutil.rmtree(ivf_index_dir(sf_dir), ignore_errors=True)
