"""SparkSession factory with scale-appropriate defaults.

Tuned for local[N] testing but configured the way a 1000-executor
cluster job would be: AQE on (runtime coalescing + skew-join handling),
UTC session timezone (determinism across machines), Arrow enabled for
the few Pandas-UDF paths, and shuffle partitions sized from the
environment rather than hardcoded.

Stream state defaults. Every state store instance costs a fixed load
and commit per micro-batch, whatever rows it holds, so a small stream's
batch latency is set by how many instances it touches. A stream-stream
join keeps 4 stores per shuffle partition (keys and key-to-row-number,
per side); join state format 3 keeps them as column families of one
RocksDB store, so each join touches one store per partition (format 3
is supported only on the RocksDB provider, so the two are set
together; changelog checkpointing uploads only the batch's changes at
commit). The shuffle width is the core count, so a stream's state
stages — which run without AQE coalescing — take one wave of tasks.
The provider, the join state format and the shuffle width are all
written into each checkpoint's offset log at its first batch, so a
query restarted from an existing checkpoint keeps the settings it was
created with; these defaults only shape fresh checkpoints.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "dbt-project-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Return the active SparkSession, or build one with engine defaults.

    If a session already exists (e.g. the driver passed one in), it is
    reused untouched — queries must not depend on these configs being
    set, only benefit from them.

    ``shuffle_partitions`` defaults to the core count: one wave of
    tasks for batch stages before AQE coalescing and for stream state
    stages, where the width is fixed at the query's first batch. Stream
    state goes to one RocksDB store per join partition (join state
    format 3) instead of four HDFS-backed ones — see the module
    docstring for why and for how existing checkpoints keep theirs.
    """
    active = SparkSession.getActiveSession()
    if active is not None:
        return active

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(os.environ.get("SPARK_MASTER", f"local[{cpus}]"))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        .config(
            "spark.sql.streaming.stateStore.rocksdb."
            "changelogCheckpointing.enabled",
            "true",
        )
        .config("spark.sql.streaming.join.stateFormatVersion", "3")
        # Read parquet TIMESTAMP(isAdjustedToUTC=false) as TimestampType
        # (session-TZ) rather than NTZ so window()/unix_timestamp behave
        # uniformly; session TZ is pinned to UTC above so values are
        # identical either way.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Driver hygiene for deep iterative lineages: Spark renders the
        # FULL plan string for every SQL-execution event (explainString
        # → StringConcat), and a loop whose round references the
        # previous frame twice re-prints doubly-referenced subtrees
        # 2^cadence× — unbounded (default ~2 GiB) this OOM'd an 8 g
        # driver rendering a kcore peel's plan (VERDICT r08 §wrong 1b).
        # 64 KiB keeps plans debuggable while capping the allocation on
        # every event; a 1000-executor job wants the same bound.
        .config("spark.sql.maxPlanStringLength", "65536")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.sql.warehouse.dir", "/tmp/spark_graft_warehouse")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
