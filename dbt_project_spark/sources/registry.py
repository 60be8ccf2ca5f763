"""Table registry over the driver's parquet testdata layout.

One parquet file (or directory) per table under an sf dir. At cluster
scale the same code points at partitioned parquet/warehouse paths — the
reader is format-driven, not row-count-driven, so nothing changes.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

def ensure_runtime_confs(spark: SparkSession) -> None:
    """Set the non-static confs the engine depends on.

    Safe to call on a session we didn't create (e.g. the driver's):
    these are runtime SQL confs, not static ones. Spark 4 rejects
    parquet TIMESTAMP(NANOS) columns unless nanosAsLong is set; the
    UTC timezone pins timestamp rendering for oracle parity.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Parquet micros with isAdjustedToUTC=false read as TIMESTAMP_NTZ
    # under Spark 4 defaults; type-strict functions (unix_micros) then
    # fail to resolve. Read them as session-TZ TIMESTAMP (we pin UTC
    # above, so the instant is identical) — the driver's vanilla
    # session relies on getting this conf HERE, not from session.py.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")


def ts_as_micros(df: DataFrame) -> DataFrame:
    """``df`` with a nanos-as-long ``ts`` as a µs timestamp.

    The driver's events.ts is parquet TIMESTAMP(NANOS), read as int64
    ns under nanosAsLong (integer div: double division would lose
    precision at 1e18 ns magnitudes). Re-written copies (sfgen bench
    data) already carry a µs timestamp and pass through unchanged."""
    if dict(df.dtypes).get("ts") != "bigint":
        return df
    return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one registry table from an sf dir (parquet)."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    ensure_runtime_confs(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    return ts_as_micros(df) if name == "events" else df


def load_tables(spark: SparkSession, sf_dir: str, names=TABLES) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in names}


def register_views(spark: SparkSession, sf_dir: str, names=TABLES) -> None:
    """Register registry tables as temp views for spark.sql() plans."""
    for n in names:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)
