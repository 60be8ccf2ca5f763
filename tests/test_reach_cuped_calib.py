"""Planted tests: cumulative reach curve, CUPED on an exact linear
relation, and MinHash calibration on identical documents."""

from pyspark.sql import functions as F

DAY = 86400
T0 = 1_700_000_000 - (1_700_000_000 % DAY)


def _write_events(spark, path, rows):
    df = spark.createDataFrame(
        [
            (int(e), float(ts), None if u is None else int(u), t, float(v), "{}")
            for e, ts, u, t, v in rows
        ],
        "event_id bigint, __ep double, user_id bigint, event_type string,"
        " value double, props string",
    ).select(
        "event_id",
        F.timestamp_seconds(F.col("__ep")).alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )
    df.coalesce(1).write.mode("overwrite").parquet(str(path / "events.parquet"))


def test_cumulative_reach_curve(spark, tmp_path):
    """First-seen days 0,0,1,3 → reach 50%, 75%, 100%."""
    from dbt_project_spark.queries_analytics import cumulative_reach_daily

    rows = [
        (0, T0 + 0 * DAY, 1, "view", 1.0),
        (1, T0 + 0 * DAY, 2, "view", 1.0),
        (2, T0 + 1 * DAY, 3, "view", 1.0),
        (3, T0 + 1 * DAY, 1, "view", 1.0),  # repeat: not new
        (4, T0 + 3 * DAY, 4, "view", 1.0),
    ]
    _write_events(spark, tmp_path, rows)
    out = sorted(
        cumulative_reach_daily(spark, str(tmp_path)).collect(),
        key=lambda r: r["day"],
    )
    assert [(r["new_users"], r["cum_users"], r["reach_micro"]) for r in out] == [
        (2, 2, 500_000),
        (1, 3, 750_000),
        (1, 4, 1_000_000),
    ]


def test_cuped_exact_linear_relation(spark, tmp_path):
    """y = 2x per user → theta = 2 exactly, corr² ≈ 1."""
    from dbt_project_spark.queries_product import cuped_variance_reduction

    rows = []
    eid = 0
    for u, x_dollars in [(1, 1.0), (2, 3.0), (3, 0.5)]:
        rows.append((eid, T0 + 0, u, "view", x_dollars))
        eid += 1
        rows.append((eid, T0 + 1000, u, "purchase", 2 * x_dollars))
        eid += 1
    _write_events(spark, tmp_path, rows)
    r = cuped_variance_reduction(spark, str(tmp_path)).collect()[0]
    assert r["n_users"] == 3
    assert int(r["theta_num"]) == 2 * int(r["theta_den"])
    # exact relation: variance reduction ~100% (pre-shift truncation
    # can shave at most a few micro)
    assert r["corr2_micro"] >= 990_000
    assert r["corr2_micro"] + r["residual_var_micro"] == 1_000_000


def test_minhash_calibration_identical_docs(spark, tmp_path):
    """Two identical docs: est = 16/16, true J = 1, error 0."""
    from dbt_project_spark.queries_dedup import minhash_estimate_error

    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, text, "en", "t", len(text)),
        (2, text, "en", "t", len(text)),
        (3, "completely different words entirely here now", "en", "t", 44),
    ]
    spark.createDataFrame(
        rows,
        "doc_id bigint, text string, lang string, source string,"
        " n_chars bigint",
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    r = minhash_estimate_error(spark, str(tmp_path)).collect()[0]
    assert r["n_pairs"] == 1
    assert r["mean_abs_err_micro"] == 0
    assert r["max_abs_err_micro"] == 0
    assert r["mean_est_micro"] == 1_000_000
    assert r["mean_true_micro"] == 1_000_000


def test_ann_recall_quantized_identity_on_clean_geometry(spark, tmp_path):
    """Axis-aligned vectors: int8 codes preserve the exact ranking
    (codes are ±127/0 exactly), so recall@k = 1 for every query."""
    import random

    from dbt_project_spark.queries_similarity import ann_recall_quantized

    rng = random.Random(7)
    rows = []
    for i in range(30):
        # one dominant axis per vector -> quantization keeps order
        v = [0.0, 0.0, 0.0, 0.0]
        v[i % 4] = 1.0
        v[(i + 1) % 4] = 0.25 + 0.5 * rng.random()
        rows.append((i, [float(x) for x in v], i % 3))
    spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "embeddings.parquet")
    )
    out = ann_recall_quantized(spark, str(tmp_path)).collect()
    assert len(out) == 5
    for r in out:
        assert r["k"] == 10
        assert 0 <= r["n_matched"] <= 10
        # quantized ranking can only diverge by code rounding; on this
        # geometry it must stay high
        assert r["recall"] >= 0.8


def test_pq_zero_distortion_on_16_unique_vectors(spark, tmp_path):
    """16 unique vectors, K=16 per subspace: every vector seeds its
    own centroid, so distortion is exactly 0 and every cell has one
    member."""
    import shutil

    from dbt_project_spark.operators.ivf import ivf_index_dir
    from dbt_project_spark.queries_vectors import pq_train_encode

    rows = []
    for i in range(16):
        v = [float(i + 1), float(2 * i), float(i * i % 7), float(-i),
             float(i % 3), float(i // 2), float(7 - i), float(i + 0.5)]
        rows.append((i, v, 0))
    spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "embeddings.parquet")
    )
    try:
        out = pq_train_encode(spark, str(tmp_path)).collect()
    finally:
        shutil.rmtree(ivf_index_dir(str(tmp_path)), ignore_errors=True)
    assert len(out) == 64  # 4 subspaces x 16 cells
    assert all(r["d2_sum"] == 0 for r in out)
    assert all(r["n_members"] == 1 for r in out)
