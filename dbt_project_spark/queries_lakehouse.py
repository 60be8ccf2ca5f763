"""Lakehouse MERGE as an oracled catalog row (r07).

The merge materialization (plans/project.py — dbt's incremental
`merge` strategy: upsert by unique_key, dynamic partition overwrite of
only the touched partitions) had test-only coverage
(tests/test_plans.py). This query runs the REAL two-run lifecycle
inside the catalog entry — first run writes the base snapshot, second
run merges a CDC-style batch (the table_diff_cdc transform family:
status flips %29, price bumps %13, plus genuinely new keys) — then
summarizes the merged table. The oracle restates MERGE INTO semantics
in ANSI SQL (batch ∪ base-survivors, anti-joined only within the
batch's partitions), so a dropped partition, double-applied update, or
resurrected stale row changes the checksum and fails the hash gate.

Reference parity: the reference loads MySQL tables and re-loads them
on schedule (data_input.py's CREATE-then-INSERT refresh); the merge
row is that refresh expressed as an idempotent upsert — the lakehouse
way to run it at 100 TB, where the write cost must be O(affected
partitions), not O(table).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbt_project_spark.caching import scratch_dir
from dbt_project_spark.catalog import register
from dbt_project_spark.sources import load_table

_P100 = "CAST(round(o_totalprice * 100, 0) AS BIGINT)"

_BASE_CUT = "1997-07-01"  # base snapshot: orders strictly before
_BATCH_LO = "1997-04-01"  # batch window: updates (Apr–Jun overlap
_BATCH_HI = "1998-01-01"  # with base) + inserts (Jul–Dec)


def _order_snapshots(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(base, batch) order states with the CDC transform family."""
    orders = load_table(spark, sf_dir, "orders")
    price100 = F.round(F.col("o_totalprice") * 100, 0).cast("bigint")
    ym = F.date_format("o_orderdate", "yyyy-MM")
    base = orders.filter(
        F.col("o_orderdate") < F.lit(_BASE_CUT).cast("timestamp")
    ).select(
        F.col("o_orderkey").alias("order_id"),
        F.col("o_orderstatus").alias("status"),
        price100.alias("price100"),
        ym.alias("ym"),
    )
    batch = (
        orders.filter(
            (F.col("o_orderdate") >= F.lit(_BATCH_LO).cast("timestamp"))
            & (F.col("o_orderdate") < F.lit(_BATCH_HI).cast("timestamp"))
        )
        .select(
            F.col("o_orderkey").alias("order_id"),
            F.when(F.col("o_orderkey") % 29 == 0, F.lit("P"))
            .otherwise(F.col("o_orderstatus"))
            .alias("status"),
            F.when(
                F.col("o_orderkey") % 13 == 0,
                F.expr(
                    "(cast(round(o_totalprice * 100, 0) as bigint) * 11)"
                    " div 10"
                ),
            )
            .otherwise(price100)
            .alias("price100"),
            ym.alias("ym"),
        )
    )
    return base, batch


@register(
    "merge_upsert_orders",
    oracle=f"""
    WITH base AS (
      SELECT o_orderkey AS order_id, o_orderstatus AS status,
             {_P100} AS price100, strftime(o_orderdate, '%Y-%m') AS ym
      FROM orders WHERE o_orderdate < TIMESTAMP '{_BASE_CUT}'),
    batch AS (
      SELECT o_orderkey AS order_id,
             CASE WHEN o_orderkey % 29 = 0 THEN 'P'
                  ELSE o_orderstatus END AS status,
             CASE WHEN o_orderkey % 13 = 0 THEN {_P100} * 11 // 10
                  ELSE {_P100} END AS price100,
             strftime(o_orderdate, '%Y-%m') AS ym
      FROM orders WHERE o_orderdate >= TIMESTAMP '{_BATCH_LO}'
                    AND o_orderdate <  TIMESTAMP '{_BATCH_HI}'),
    aff AS (SELECT DISTINCT ym FROM batch),
    merged AS (
      SELECT * FROM base WHERE ym NOT IN (SELECT ym FROM aff)
      UNION ALL
      SELECT * FROM base WHERE ym IN (SELECT ym FROM aff)
        AND order_id NOT IN (SELECT order_id FROM batch)
      UNION ALL
      SELECT * FROM batch)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT ym) AS BIGINT) AS n_partitions,
           CAST(SUM(price100) AS BIGINT) AS sum_price100,
           CAST(SUM(('0x' || substr(md5(
                CAST(order_id AS VARCHAR) || '|' || status || '|'
                || CAST(price100 AS VARCHAR)), 1, 8))::BIGINT) AS BIGINT)
               AS row_checksum,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM batch b
            JOIN base ON base.order_id = b.order_id) AS n_updated,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM batch b
            LEFT JOIN base ON base.order_id = b.order_id
            WHERE base.order_id IS NULL) AS n_inserted
    FROM merged
    """,
)
def merge_upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO lifecycle as an oracled row: materialize the base
    order snapshot with the real merge materialization (first run =
    partitioned write), apply a CDC batch through the SAME model
    (second run = partition-scoped anti-join ∪ batch under dynamic
    partition overwrite), then checksum the merged table. n_updated /
    n_inserted split the batch by whether the key pre-existed.

    Scale shape: the merge run's write cost is O(affected partitions)
    — base months before the batch window are never read or written
    (the merge path filters survivors to the batch's partition list).
    The summary is one scan of the merged table with map-side
    combinable aggregates; the checksum uses the md5-prefix integer
    convention shared with the roundtrip-integrity gates.
    """
    from dbt_project_spark.functions.expressions import md5_int
    from dbt_project_spark.plans.project import Project

    base, batch = _order_snapshots(spark, sf_dir)
    tmp = scratch_dir("merge_upsert_")
    for snap in (base, batch):
        proj = Project(spark, sources={}, target_dir=tmp)

        @proj.model(
            "orders_current",
            materialized="merge",
            partition_by="ym",
            unique_key="order_id",
        )
        def _orders_current(p, _df=snap):
            return _df

        final = proj.run(["orders_current"])["orders_current"]
    key = F.concat_ws(
        "|",
        F.col("order_id").cast("string"),
        F.col("status"),
        F.col("price100").cast("string"),
    )
    summary = final.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.countDistinct("ym").cast("bigint").alias("n_partitions"),
        F.sum("price100").cast("bigint").alias("sum_price100"),
        F.sum(md5_int(key)).cast("bigint").alias("row_checksum"),
    )
    delta = (
        batch.join(
            base.select("order_id", F.lit(1).alias("__in_base")),
            on="order_id",
            how="left",
        )
        .agg(
            F.sum(F.when(F.col("__in_base").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_updated"),
            F.sum(F.when(F.col("__in_base").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_inserted"),
        )
    )
    return summary.crossJoin(delta)


_EVO_CUT = "1996-01-01"  # run-2 batches (with the new column) start here


@register(
    "schema_evolution_backfill",
    oracle=f"""
    WITH unioned AS (
      SELECT o_orderkey AS order_id, o_orderstatus AS status,
             {_P100} AS price100,
             strftime(o_orderdate, '%Y') AS yr,
             CASE WHEN o_orderdate >= TIMESTAMP '{_EVO_CUT}'
                  THEN o_orderpriority END AS prio
      FROM orders)
    SELECT yr, coalesce(prio, 'UNKNOWN') AS prio,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(price100) AS BIGINT) AS sum_price100,
           CAST(SUM(('0x' || substr(md5(
                CAST(order_id AS VARCHAR) || '|' || status || '|'
                || CAST(price100 AS VARCHAR) || '|'
                || coalesce(prio, 'UNKNOWN')), 1, 8))::BIGINT) AS BIGINT)
               AS row_checksum
    FROM unioned GROUP BY 1, 2
    """,
)
def schema_evolution_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution lifecycle as an oracled row, completing the
    lakehouse trio's drift case next to [[merge_upsert_orders]] and
    [[incremental_daily_rollup]]: run 1 writes the year-partitioned
    order table WITHOUT the ``prio`` column (the pre-drift producer);
    run 2 appends later years WITH it (a new column arrives
    mid-stream). The read side must mergeSchema the footers (old files
    simply lack the column) and apply the documented backfill —
    ``coalesce(prio, 'UNKNOWN')`` — before any aggregate. The oracle
    restates exactly that: pre-cut rows have no priority, post-cut
    rows carry the real one; a read that drops the column (no
    mergeSchema), mis-assigns it across the cut, or skips the backfill
    flips the per-(yr, prio) checksum.

    Reference parity: data_input.py re-loads the WHOLE CSV into MySQL
    on every refresh (data_input.py:21-33) — the shape schema drift
    breaks first, since one new CSV column fails the fixed-DDL INSERT.
    This row is the lakehouse answer: additive columns land as new
    parquet footers, old partitions are never rewritten, and the
    backfill is a read-side projection.

    Scale shape: both writes are one map-side projection each, append
    never touches existing files (O(new batch), not O(table)), and
    mergeSchema costs footer reads only — at 100 TB the alternative
    (rewriting history to add a column) is the thing this pattern
    exists to avoid. The summary is one scan with map-side combinable
    aggregates over ≤ years×priorities groups.
    """
    from dbt_project_spark.functions.expressions import md5_int

    orders = load_table(spark, sf_dir, "orders")
    price100 = F.round(F.col("o_totalprice") * 100, 0).cast("bigint")
    yr = F.date_format("o_orderdate", "yyyy")
    cut = F.lit(_EVO_CUT).cast("timestamp")
    early = orders.filter(F.col("o_orderdate") < cut).select(
        F.col("o_orderkey").alias("order_id"),
        F.col("o_orderstatus").alias("status"),
        price100.alias("price100"),
        yr.alias("yr"),
    )
    late = orders.filter(F.col("o_orderdate") >= cut).select(
        F.col("o_orderkey").alias("order_id"),
        F.col("o_orderstatus").alias("status"),
        price100.alias("price100"),
        F.col("o_orderpriority").alias("prio"),  # the drifted-in column
        yr.alias("yr"),
    )
    path = os.path.join(scratch_dir("schema_evo_"), "orders_evolved")
    early.write.mode("overwrite").partitionBy("yr").parquet(path)
    late.write.mode("append").partitionBy("yr").parquet(path)
    merged = spark.read.option("mergeSchema", "true").parquet(path)
    key = F.concat_ws(
        "|",
        F.col("order_id").cast("string"),
        F.col("status"),
        F.col("price100").cast("string"),
        F.col("prio"),
    )
    return (
        merged.withColumn("prio", F.coalesce("prio", F.lit("UNKNOWN")))
        .groupBy(F.col("yr").cast("string").alias("yr"), "prio")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("price100").cast("bigint").alias("sum_price100"),
            F.sum(md5_int(key)).cast("bigint").alias("row_checksum"),
        )
    )


_INC_CUT = "2024-01-20"  # run-1 high-water mark (events span Jan 1-30)


@register(
    "incremental_daily_rollup",
    oracle="""
    SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
               AS sum_v100
    FROM events GROUP BY 1, 2
    """,
)
def incremental_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (high-water-mark) materialization as an oracled
    row, completing the lakehouse lifecycle trio next to
    [[merge_upsert_orders]] and time_travel_asof: run 1 materializes
    the daily (day, event_type) rollup through the days up to
    _INC_CUT; run 2 re-runs the SAME model over the full source —
    with the ALREADY-LOADED days' values deliberately TAMPERED
    (doubled) — and must append only days past the stored high-water
    mark. The oracle is the plain full-range rollup of the ORIGINAL
    events: a rebuild-instead-of-append (tampered history leaks in) or
    a filterless append (old days double-count) both flip the hash.

    Scale shape: each run aggregates only its source slice map-side
    and writes O(new days) partitions; the high-water mark is one
    MAX over the target's partition column. This is how a 100 TB
    daily pipeline stays O(day), not O(history).
    """
    from dbt_project_spark.plans.project import Project

    ev = load_table(spark, sf_dir, "events").select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        "event_type",
        F.round(F.col("value") * 100, 0).cast("bigint").alias("v100"),
    )

    def _rollup(src: DataFrame) -> DataFrame:
        return src.groupBy("day", "event_type").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum("v100").cast("bigint").alias("sum_v100"),
        )

    cut = F.lit(_INC_CUT)
    first = ev.filter(F.col("day") <= cut)
    tampered = ev.withColumn(
        "v100",
        F.when(F.col("day") <= cut, F.col("v100") * 2).otherwise(
            F.col("v100")
        ),
    )
    tmp = scratch_dir("incremental_rollup_")
    for src in (first, tampered):
        proj = Project(spark, sources={}, target_dir=tmp)

        @proj.model(
            "events_daily", materialized="incremental", partition_by="day",
        )
        def _events_daily(p, _df=_rollup(src)):
            return _df

        final = proj.run(["events_daily"])["events_daily"]
    return final
