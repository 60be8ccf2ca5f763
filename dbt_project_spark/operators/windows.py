"""Tumbling-window aggregation operators.

Scale notes (verified via ``.explain("formatted")``): a tumbling-
window groupBy is one exchange on (window_start, *keys) with map-side
partial aggregation, so shuffled bytes scale with the number of
distinct (window, key) groups, not input rows. The pct-of-window
window-function adds a second exchange on window_start — deliberately
kept: it moves only the already-aggregated groups (tiny), whereas the
single-exchange alternative (repartition raw rows by window_start
first) would shuffle the full input and forfeit map-side combine.
At 100 TB the two-exchange plan shuffles ~|groups| rows; the
one-exchange plan shuffles ~|events|.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from dbt_project_spark.functions.expressions import window_bounds


def with_tumbling_window(df: DataFrame, ts_col: str, width_sec: int) -> DataFrame:
    """Add window_start / window_end string columns (epoch-floor)."""
    start, end = window_bounds(ts_col, width_sec)
    return df.withColumn("window_start", start).withColumn("window_end", end)


def windowed_count_distribution(
    df: DataFrame,
    ts_col: str,
    width_sec: int,
    key_cols: Sequence[str],
    pct_decimals: int = 2,
) -> DataFrame:
    """Per-window key distribution with percentage-of-window.

    Reference parity: batch_stream.sql:6-21 (page_views_distribution) /
    spark_streaming_new.py:142-153.
    """
    keys = list(key_cols)
    counted = (
        with_tumbling_window(df, ts_col, width_sec)
        .groupBy("window_start", "window_end", *keys)
        .agg(F.count(F.lit(1)).alias("count"))
    )
    w = Window.partitionBy("window_start")
    return counted.withColumn(
        "percentage",
        F.round(F.lit(100.0) * F.col("count") / F.sum("count").over(w), pct_decimals),
    )


def windowed_stats(
    df: DataFrame,
    ts_col: str,
    width_sec: int,
    aggs: Sequence[Column],
    key_cols: Sequence[str] = (),
) -> DataFrame:
    """Generic tumbling-window aggregate (avg/min/max/sum/...)."""
    return (
        with_tumbling_window(df, ts_col, width_sec)
        .groupBy("window_start", "window_end", *key_cols)
        .agg(*aggs)
    )


def two_level_rollup(
    df: DataFrame,
    ts_col: str,
    fine_sec: int,
    coarse_sec: int,
    value_col: str,
    key_cols: Sequence[str] = (),
) -> DataFrame:
    """Roll a fine pre-aggregation up into a coarse window.

    The scale pattern behind streaming/batch parity: sums and counts
    reassociate exactly, so a 1-min partial aggregate (cheap,
    incremental) rolls up to the 5-min answer bit-for-bit. Avg at the
    coarse level is recomputed as sum/count, never avg-of-avgs.
    """
    if coarse_sec % fine_sec != 0:
        raise ValueError("coarse window must be a multiple of the fine window")
    keys = list(key_cols)
    fine = (
        with_tumbling_window(df, ts_col, fine_sec)
        .groupBy("window_start", "window_end", *keys)
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(value_col).alias("val_sum"),
        )
        .withColumnRenamed("window_start", "fine_start")
        .drop("window_end")
    )
    start, end = window_bounds(F.to_timestamp("fine_start"), coarse_sec)
    return (
        fine.withColumn("window_start", start)
        .withColumn("window_end", end)
        .groupBy("window_start", "window_end", *keys)
        .agg(
            F.sum("cnt").alias("n_events"),
            F.sum("val_sum").alias("value_sum"),
        )
    )


def distributed_ntile(
    df: DataFrame,
    n_tiles: int,
    bucket: Column,
    order_cols: Sequence[Column],
    out_col: str,
) -> DataFrame:
    """NTILE(n) over a GLOBAL ordering without a single-partition
    window over the data.

    A bare ``ntile(n) over (order by ...)`` pulls every row into ONE
    task — the classic global-window scale killer. This is the
    two-phase form (same shape as seq_pack's distributed prefix sum):

    1. ``bucket`` must be a coarse integer expression MONOTONE in the
       sort order (e.g. the leading sort key, or its negation for a
       descending sort). Per-bucket row counts (tiny: one row per
       distinct bucket value) get a driver-free cumulative sum and are
       broadcast back as rank offsets.
    2. The data needs only a bucket-PARTITIONED row_number; the global
       rank is offset + local rank, and the tile comes from the exact
       NTILE formula (first n%k tiles get one extra row).

    Caller contract: bucket(a) <= bucket(b) whenever a precedes b in
    ``order_cols`` order, and the bucket domain is bounded (dates,
    small counts, coarse value ranges). Result matches
    ``NTILE(n) OVER (ORDER BY ...)`` bit-for-bit.
    """
    from dbt_project_spark.caching import persist_tracked

    k = n_tiles
    # Three branches (bucket counts, total, the ranked join) read the
    # tagged input, and Spark does not dedup subtrees — uncached, a
    # chained-ntile caller (RFM scores three metrics) would recompute
    # the whole upstream aggregate once per branch per stage.
    tagged = persist_tracked(df.withColumn("__bkt", bucket.cast("bigint")))
    counts = tagged.groupBy("__bkt").agg(F.count(F.lit(1)).alias("__bn"))
    wb = Window.orderBy("__bkt").rowsBetween(Window.unboundedPreceding, -1)
    offs = counts.withColumn(
        "__off", F.coalesce(F.sum("__bn").over(wb), F.lit(0))
    ).select("__bkt", "__off")
    total = counts.agg(F.sum("__bn").cast("bigint").alias("__n"))
    wr = Window.partitionBy("__bkt").orderBy(*order_cols)
    ranked = (
        tagged.join(offs, "__bkt")
        .crossJoin(total)
        .withColumn("__r", (F.col("__off") + F.row_number().over(wr)).cast("bigint"))
    )
    # NTILE semantics: q = n div k rows per tile, the first n % k
    # tiles hold q+1. (q+1 is never 0, and the q==0 branch is fully
    # covered by the first arm, so the div-by-zero arm is dead.)
    tile = F.when(
        F.col("__r") <= (F.col("__n") % k) * (F.expr(f"__n div {k}") + 1),
        F.expr(f"(__r - 1) div (__n div {k} + 1) + 1"),
    ).otherwise(
        F.col("__n") % k
        + F.expr(f"(__r - 1 - (__n % {k}) * (__n div {k} + 1)) div (__n div {k}) + 1")
    )
    return ranked.withColumn(out_col, tile.cast("int")).drop(
        "__bkt", "__off", "__n", "__r"
    )
