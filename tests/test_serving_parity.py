"""Planted checks for the r06 streaming-parity catalog rows
(serving_parity_ann / serving_parity_classifier): beyond the oracle
gate, assert the summary semantics directly — the streamed serving
path reconciles 100% against batch, every input served exactly once.
"""

from pyspark.sql import functions as F

from dbt_project_spark.catalog import QUERIES, load_all
from tests.conftest import SF_SMOKE

load_all()


def _row(spark, name):
    rows = QUERIES[name](spark, SF_SMOKE).collect()
    assert len(rows) == 1
    return rows[0]


def test_serving_parity_ann_reconciles(spark):
    r = _row(spark, "serving_parity_ann")
    assert r["endpoint"] == "ann_ivf_online"
    assert r["n_inputs"] == 8
    # exactly top-k rows per streamed query, all matching batch
    assert r["matching_records"] == r["n_inputs"] * 5
    assert r["stream_only"] == 0 and r["batch_only"] == 0
    assert r["accuracy_percentage"] == 100.0


def test_serving_parity_classifier_reconciles(spark):
    from dbt_project_spark.queries_training import NB_TEST_MOD
    from dbt_project_spark.sources import load_table

    n_test = (
        load_table(spark, SF_SMOKE, "documents")
        .filter(F.col("doc_id") % NB_TEST_MOD == 0)
        .count()
    )
    r = _row(spark, "serving_parity_classifier")
    assert r["endpoint"] == "nb_langid_online"
    # one prediction per held-out doc, streamed == batch row-for-row
    assert r["n_inputs"] == n_test
    assert r["matching_records"] == n_test
    assert r["stream_only"] == 0 and r["batch_only"] == 0
    assert r["accuracy_percentage"] == 100.0


def test_serving_parity_windowed_reconciles(spark):
    from dbt_project_spark.operators.windows import (
        windowed_count_distribution,
    )
    from dbt_project_spark.sources import load_table

    n_groups = windowed_count_distribution(
        load_table(spark, SF_SMOKE, "events"), "ts", 300, ["event_type"]
    ).count()
    r = _row(spark, "serving_parity_windowed")
    assert r["endpoint"] == "windowed_dist_online"
    # one row per (5-min window, event_type) group, streamed == batch
    assert r["n_inputs"] == n_groups
    assert r["matching_records"] == n_groups
    assert r["stream_only"] == 0 and r["batch_only"] == 0
    assert r["accuracy_percentage"] == 100.0


def test_parity_summary_releases_only_its_own_cache(spark):
    """_parity_summary persists the batch frame for its diffs; a frame
    the caller already persisted stays cached (the caller releases it),
    and a frame it cached itself is released before it returns."""
    from pyspark import StorageLevel

    from dbt_project_spark.queries_streaming_parity import _parity_summary

    streamed = spark.range(10).toDF("x")
    callers = spark.range(10).toDF("x").filter("x >= 0").persist()
    try:
        r = _parity_summary(spark, "t", streamed, callers, 10).first()
        assert (r["matching_records"], r["stream_only"], r["batch_only"]) == (10, 0, 0)
        assert callers.storageLevel != StorageLevel.NONE
    finally:
        callers.unpersist()

    own = spark.range(10).toDF("x").filter("x >= 1")
    r = _parity_summary(spark, "t", streamed, own, 10).first()
    assert (r["stream_only"], r["batch_only"]) == (1, 0)
    assert own.storageLevel == StorageLevel.NONE
