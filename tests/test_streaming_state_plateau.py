"""Watermark eviction bounds streaming state (VERDICT r09 task 5).

The r09 parity measurements ran with eviction DISABLED (unbounded
watermark) for stream≡batch comparability, so the 100× survival
condition — live state plateaus at ~(groups inside the watermark
horizon) instead of growing with stream lifetime — was asserted by
design argument only. This test runs the PRODUCTION update-mode
topology (streaming/update_dist.py) with a real watermark over
time-ordered input and pins the plateau from the stream's own
per-trigger progress metrics (stateOperators[0].numRowsTotal).
"""

import os

import pytest
from pyspark.sql import functions as F

from dbt_project_spark.streaming.update_dist import (
    read_current_distribution,
    run_update_distribution,
)

_HOURS = 12
_KEYS = 40
_WINDOWS_PER_HOUR = 12  # 5-min windows
_TOTAL_GROUPS = _HOURS * _WINDOWS_PER_HOUR * _KEYS  # 5760


def _write_hourly_source(spark, src):
    """One file per hour appended sequentially into a FLAT dir (the
    file stream orders by modification time, so maxFilesPerTrigger=1
    processes them oldest-first): every 5-min window in the hour
    carries all _KEYS keys."""
    base = F.lit("2024-01-01 00:00:00").cast("timestamp")
    for h in range(_HOURS):
        rows = spark.range(_WINDOWS_PER_HOUR * _KEYS).select(
            (
                base
                + F.expr(
                    f"make_interval(0, 0, 0, 0, {h}, 0, "
                    "(id div %d) * 300)" % _KEYS
                )
            ).alias("ts"),
            F.concat(F.lit("k"), (F.col("id") % _KEYS)).alias("k"),
        )
        rows.coalesce(1).write.mode("append").parquet(src)


@pytest.mark.parametrize(
    "provider",
    [
        # Spark's default provider (engine sessions default to RocksDB)
        "org.apache.spark.sql.execution.streaming.state."
        "HDFSBackedStateStoreProvider",
        # the 100×-scale provider: state lives in local RocksDB SSTs,
        # not on the executor heap (r11 — VERDICT r10 task 7; the full
        # 999k-group run is state_rocksdb_r11.json in git history, at
        # fa59f28 and before). rocksdbjni ships with pyspark; no
        # protobuf needed, unlike transformWithState.
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    ],
    ids=["hdfs", "rocksdb"],
)
def test_state_plateaus_at_watermark_horizon(spark, tmp_path, provider):
    src = str(tmp_path / "src")
    _write_hourly_source(spark, src)

    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key)
    spark.conf.set(key, provider)
    try:
        progress = _run(spark, tmp_path, src)
    finally:
        spark.conf.set(key, prev)
    _assert_plateau(spark, tmp_path, progress)


def _run(spark, tmp_path, src):
    return run_update_distribution(
        spark,
        src,
        state_dir=str(tmp_path / "state"),
        out_dir=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        width_sec=300,
        key_col="k",
        watermark="10 minutes",
    )


def _assert_plateau(spark, tmp_path, progress):
    state_rows = [
        op["numRowsTotal"]
        for p in progress
        for op in p.get("stateOperators", [])
    ]
    removed = sum(
        op.get("numRowsRemoved", 0)
        for p in progress
        for op in p.get("stateOperators", [])
    )
    assert len(state_rows) >= _HOURS  # one trigger per hourly file
    # Eviction actually ran.
    assert removed > 0
    # The plateau: live state holds one trigger's windows plus the
    # un-evicted watermark slack (~15 windows × _KEYS ≈ 600 rows) —
    # NOT the 5760 total groups the stream has seen. 25% is a loose
    # ceiling; without eviction the final trigger would hold 100%.
    assert max(state_rows[3:]) <= 0.25 * _TOTAL_GROUPS, state_rows
    # And it is FLAT, not growing: mid-stream triggers stay within one
    # window-of-keys of each other (growth with lifetime would add
    # ~480 rows per trigger). The LAST trigger is excluded — the
    # availableNow drain advances the watermark past the final file
    # and evicts almost everything (observed 1200 → 120).
    late = state_rows[3:-1]
    assert max(late) - min(late) <= 2 * _KEYS, state_rows

    # Eviction must not corrupt the SERVING table: the foreachBatch
    # upsert state is external to the state store, so the final
    # distribution still covers every group ever seen.
    final = read_current_distribution(spark, str(tmp_path / "out"))
    # out versions only keep windows touched since; the upsert STATE
    # table is the full serving surface
    from dbt_project_spark.streaming.update_dist import _latest_version

    v = _latest_version(str(tmp_path / "state"))
    served = spark.read.parquet(str(tmp_path / "state" / f"v{v}"))
    assert served.count() == _TOTAL_GROUPS
    assert final is not None and final.count() > 0
