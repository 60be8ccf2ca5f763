"""Time-series family over `events` (round 2, session 2): OHLC
downsampling, duration-weighted averages, and time-RANGE trailing
windows — the resample/rollup primitives of a metrics store.

Determinism notes: `value` carries exactly 2 decimals, so all sums
run in ×100 fixed point (`CAST(round(value*100, 0) AS BIGINT)`) with
one final double division. Row identity inside a window is ordered by
(ts, event_id); the oracle encodes that composite as a zero-padded
string key because DuckDB's arg_min/arg_max take no struct ordering
(Spark's min_by/max_by order structs natively).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dbt_project_spark.catalog import register
from dbt_project_spark.operators.joins import literal_table
from dbt_project_spark.sources import load_table

_V100 = "CAST(round(value * 100, 0) AS BIGINT)"
# Zero-padded lexicographic == (ts, event_id) numeric order.
_OKEY = (
    "strftime(CAST(ts AS TIMESTAMP), '%Y%m%d%H%M%S%f')"
    " || lpad(CAST(event_id AS VARCHAR), 12, '0')"
)
OHLC_BUCKET_S = 900  # 15-minute bars


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events").withColumn(
        "value100", F.round(F.col("value") * 100, 0).cast("bigint")
    )


@register(
    "ohlc_resample",
    oracle=f"""
    WITH e AS (SELECT event_type,
                      CAST(floor(epoch(CAST(ts AS TIMESTAMP))/{OHLC_BUCKET_S})
                           * {OHLC_BUCKET_S} AS BIGINT) AS bar_epoch,
                      {_V100} AS v100, {_OKEY} AS okey
               FROM events)
    SELECT event_type, bar_epoch,
           arg_min(v100, okey) / 100.0 AS open,
           MAX(v100) / 100.0 AS high,
           MIN(v100) / 100.0 AS low,
           arg_max(v100, okey) / 100.0 AS close,
           COUNT(*) AS n_events,
           CAST(SUM(v100) AS BIGINT) / 100.0 AS total_value
    FROM e GROUP BY event_type, bar_epoch
    """,
)
def ohlc_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC bar downsampling: per (event_type, 15-min bar) the first /
    max / min / last value plus volume — the classic metrics-store
    resample.

    Scale shape: ONE hash aggregation. open/close use min_by/max_by
    over a (ts, event_id) struct — unlike a row_number window, these
    get map-side partial aggregation (each task keeps one candidate
    row per (type, bar) before the shuffle), so shuffle volume is
    bars×types, independent of event count.
    """
    e = _events(spark, sf_dir).select(
        "event_type",
        (F.floor(F.unix_timestamp("ts") / OHLC_BUCKET_S) * OHLC_BUCKET_S)
        .cast("bigint")
        .alias("bar_epoch"),
        "value100",
        F.struct(F.col("ts"), F.col("event_id")).alias("okey"),
    )
    return e.groupBy("event_type", "bar_epoch").agg(
        (F.min_by("value100", "okey") / 100.0).alias("open"),
        (F.max("value100") / 100.0).alias("high"),
        (F.min("value100") / 100.0).alias("low"),
        (F.max_by("value100", "okey") / 100.0).alias("close"),
        F.count(F.lit(1)).alias("n_events"),
        (F.sum("value100") / 100.0).alias("total_value"),
    )


@register(
    "twa_by_type_day",
    oracle=f"""
    WITH e AS (SELECT event_type,
                      CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
                      epoch_us(CAST(ts AS TIMESTAMP)) AS eu,
                      {_V100} AS v100, {_OKEY} AS okey
               FROM events),
    w AS (SELECT event_type, day, v100,
                 lead(eu) OVER (PARTITION BY event_type, day ORDER BY okey)
                     - eu AS dur_us
          FROM e)
    SELECT event_type, day,
           COUNT(*) AS n_intervals,
           CAST(SUM(v100 * dur_us) AS BIGINT)
               / (100.0 * CAST(SUM(dur_us) AS BIGINT)) AS twa_value
    FROM w WHERE dur_us IS NOT NULL
    GROUP BY event_type, day
    """,
)
def twa_by_type_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per (event_type, day): each sample
    holds until the next one, so it is weighted by its duration —
    the correct average for irregularly-sampled gauges (a plain AVG
    over-weights bursts). The day's last sample has no successor and
    contributes no interval.

    Scale shape: the lead() window partitions by (type, day) — state
    per window is one row, and the partition key is bounded (types ×
    days), so no executor ever holds more than a day of one type.
    All math is exact int64 (µs durations × fixed-point values); the
    single double division happens after both sums close.
    """
    e = _events(spark, sf_dir).select(
        "event_type",
        F.to_date("ts").alias("day"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("eu"),
        "value100",
        "ts",
        "event_id",
    )
    w = Window.partitionBy("event_type", "day").orderBy("ts", "event_id")
    d = e.withColumn("dur_us", F.lead("eu").over(w) - F.col("eu")).filter(
        F.col("dur_us").isNotNull()
    )
    return d.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).alias("n_intervals"),
        (
            F.sum(F.col("value100") * F.col("dur_us")).cast("bigint")
            / (F.lit(100.0) * F.sum("dur_us").cast("bigint"))
        ).alias("twa_value"),
    )


@register(
    "win_time_range_avg",
    oracle=f"""
    WITH e AS (SELECT event_id, user_id,
                      epoch_us(CAST(ts AS TIMESTAMP)) AS eu,
                      {_V100} AS v100
               FROM events)
    SELECT event_id,
           CAST(COUNT(*) OVER tw AS BIGINT) AS n_in_window,
           CAST(SUM(v100) OVER tw AS BIGINT)
               / (100.0 * COUNT(*) OVER tw) AS avg_10min
    FROM e
    WINDOW tw AS (PARTITION BY user_id ORDER BY eu
                  RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW)
    """,
)
def win_time_range_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event trailing 10-minute average of the user's values — a
    time-RANGE frame (value-based, in µs), not a row-count frame: the
    window widens and narrows with event density, which ROWS BETWEEN
    cannot express.

    Tie semantics make this deterministic without a tie-break column:
    a RANGE frame includes ALL peers of the current order key, so
    events sharing a timestamp see identical frames in both engines.
    Partitioned by user_id — bounded state per user, no global sort.
    """
    e = _events(spark, sf_dir).select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("eu"),
        "value100",
    )
    tw = (
        Window.partitionBy("user_id")
        .orderBy("eu")
        .rangeBetween(-600_000_000, Window.currentRow)
    )
    return e.select(
        "event_id",
        F.count(F.lit(1)).over(tw).cast("bigint").alias("n_in_window"),
        (
            F.sum("value100").over(tw).cast("bigint")
            / (F.lit(100.0) * F.count(F.lit(1)).over(tw))
        ).alias("avg_10min"),
    )


GRID_STEP_S = 900  # 15-minute interpolation grid


@register(
    "resample_interpolate",
    oracle=f"""
    WITH obs AS (SELECT event_type,
                        CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS ep,
                        {_V100} AS v100, event_id
                 FROM events),
    bounds AS (SELECT event_type,
                      (MIN(ep) + {GRID_STEP_S} - 1) // {GRID_STEP_S}
                          * {GRID_STEP_S} AS gmin,
                      MAX(ep) // {GRID_STEP_S} * {GRID_STEP_S} AS gmax
               FROM obs GROUP BY event_type),
    grid AS (SELECT event_type,
                    unnest(generate_series(gmin, gmax, {GRID_STEP_S})) AS ep
             FROM bounds),
    u AS (SELECT event_type, ep, v100, 0 AS is_grid, event_id FROM obs
          UNION ALL
          SELECT event_type, ep, NULL, 1, NULL FROM grid),
    filled AS (
      SELECT event_type, ep, is_grid,
             last_value(v100 IGNORE NULLS) OVER wb AS prev_v,
             last_value(CASE WHEN is_grid = 0 THEN ep END IGNORE NULLS)
                 OVER wb AS prev_t,
             first_value(v100 IGNORE NULLS) OVER wf AS next_v,
             first_value(CASE WHEN is_grid = 0 THEN ep END IGNORE NULLS)
                 OVER wf AS next_t
      FROM u
      WINDOW wb AS (PARTITION BY event_type
                    ORDER BY ep, is_grid, COALESCE(event_id, -1)
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wf AS (PARTITION BY event_type
                    ORDER BY ep, is_grid, COALESCE(event_id, -1)
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
    SELECT event_type, ep AS grid_epoch,
           CAST(CASE WHEN next_t = prev_t THEN prev_v
                     ELSE prev_v + (next_v - prev_v) * (ep - prev_t)
                          // (next_t - prev_t)
                END AS BIGINT) / 100.0 AS value
    FROM filled
    WHERE is_grid = 1 AND prev_v IS NOT NULL AND next_v IS NOT NULL
    """,
)
def resample_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation onto a regular 15-min grid per event_type
    (the metrics-store resample that gap_filled zero-filling can't do):
    union the grid points into the sample stream, forward-fill the
    last observation and backward-fill the next with IGNORE NULLS
    window frames, interpolate in ×100 fixed point with integer
    division (Spark `div` and DuckDB `//` both truncate — verified
    including negative deltas).

    One event_type partitioning carries both fill directions (two
    frames over the SAME sort — one exchange, one sort). Scale note:
    partitioning by bare event_type is fine at 5 types × month; at
    100 TB you'd composite-key to (type, day) and overlap one
    observation either side of each day boundary.
    """
    ev = _events(spark, sf_dir).withColumn(
        "ep", F.unix_timestamp("ts")
    )
    obs = ev.select(
        "event_type", "ep", F.col("value100").alias("v100"), "event_id"
    )
    step = GRID_STEP_S
    bounds = obs.groupBy("event_type").agg(
        (F.expr(f"(min(ep) + {step} - 1) div {step}") * step).alias("gmin"),
        (F.expr(f"max(ep) div {step}") * step).alias("gmax"),
    )
    grid = bounds.select(
        "event_type",
        F.explode(F.sequence("gmin", "gmax", F.lit(step))).alias("ep"),
    )
    u = obs.select(
        "event_type", "ep", "v100", F.lit(0).alias("is_grid"), "event_id"
    ).unionByName(
        grid.select(
            "event_type",
            "ep",
            F.lit(None).cast("bigint").alias("v100"),
            F.lit(1).alias("is_grid"),
            F.lit(None).cast("bigint").alias("event_id"),
        )
    )
    # Backward fill via the REVERSED sort with a running
    # [unboundedPreceding, current] frame: Spark evaluates running
    # frames in O(n) with incremental state, but a literal
    # [current, unboundedFollowing] frame with ignoreNulls re-scans
    # the tail per row — measured O(n²): 73 s vs ~2 s at sf0.1.
    # The reversed running `last` is element-for-element identical to
    # the forward `first` over the following frame (the oracle keeps
    # the forward formulation; DuckDB evaluates it efficiently).
    fwd = [F.col("ep"), F.col("is_grid"), F.coalesce("event_id", F.lit(-1))]
    rev = [c.desc() for c in fwd]
    wb = (
        Window.partitionBy("event_type")
        .orderBy(*fwd)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("event_type")
        .orderBy(*rev)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    obs_ep = F.when(F.col("is_grid") == 0, F.col("ep"))
    filled = u.select(
        "event_type",
        "ep",
        "is_grid",
        F.last("v100", ignorenulls=True).over(wb).alias("prev_v"),
        F.last(obs_ep, ignorenulls=True).over(wb).alias("prev_t"),
        F.last("v100", ignorenulls=True).over(wf).alias("next_v"),
        F.last(obs_ep, ignorenulls=True).over(wf).alias("next_t"),
    )
    return (
        filled.filter(
            (F.col("is_grid") == 1)
            & F.col("prev_v").isNotNull()
            & F.col("next_v").isNotNull()
        )
        .select(
            "event_type",
            F.col("ep").alias("grid_epoch"),
            (
                F.when(F.col("next_t") == F.col("prev_t"), F.col("prev_v"))
                .otherwise(
                    F.col("prev_v")
                    + F.expr(
                        "(next_v - prev_v) * (ep - prev_t) div (next_t - prev_t)"
                    )
                )
                .cast("bigint")
                / F.lit(100.0)
            ).alias("value"),
        )
    )


EWMA_K = 8  # trailing points in the dyadic EWMA kernel


def _ewma_oracle() -> str:
    # weight of lag k is 2^(K-1-k): newest point heaviest; integer
    # numerator/denominator, one final double division.
    num = " + ".join(
        f"COALESCE(lag(v100, {k}) OVER w * {2 ** (EWMA_K - 1 - k)}, 0)"
        for k in range(EWMA_K)
    )
    den = " + ".join(
        f"(CASE WHEN lag(v100, {k}) OVER w IS NOT NULL"
        f" THEN {2 ** (EWMA_K - 1 - k)} ELSE 0 END)"
        for k in range(EWMA_K)
    )
    return f"""
    WITH e AS (SELECT event_id, user_id, {_V100} AS v100, {_OKEY} AS okey
               FROM events)
    SELECT event_id, user_id,
           ROUND(({num}) / (({den}) * 100.0), 6) AS ewma
    FROM e
    WINDOW w AS (PARTITION BY user_id ORDER BY okey)
    """


@register("ts_ewma_dyadic", oracle=_ewma_oracle())
def ts_ewma_dyadic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average with EXACT dyadic
    weights: an 8-point truncated EWMA kernel (α=1/2) whose weights
    2^(K-1-k) are integers, so the running state is an integer
    (numerator, denominator) pair and the only float op is the final
    division — bit-identical across engines, unlike a recursive
    s=αx+(1-α)s whose float error accumulates order-dependently.

    Scale shape: one window (partition by user, order by time) with 8
    lags — single shuffle, codegen'd, no self-joins. The truncation is
    principled: with α=1/2 the dropped tail weight is 2^-8 < 0.4%."""
    e = _events(spark, sf_dir).select(
        "event_id",
        "user_id",
        "value100",
        F.expr(
            "concat(date_format(ts, 'yyyyMMddHHmmssSSS'), '000',"
            " lpad(cast(event_id as string), 12, '0'))"
        ).alias("okey"),
    )
    w = Window.partitionBy("user_id").orderBy("okey")
    num = sum(
        (
            F.coalesce(
                F.lag("value100", k).over(w) * F.lit(2 ** (EWMA_K - 1 - k)),
                F.lit(0),
            )
            for k in range(EWMA_K)
        ),
        F.lit(0),
    )
    den = sum(
        (
            F.when(
                F.lag("value100", k).over(w).isNotNull(),
                F.lit(2 ** (EWMA_K - 1 - k)),
            ).otherwise(F.lit(0))
            for k in range(EWMA_K)
        ),
        F.lit(0),
    )
    return e.select(
        "event_id",
        "user_id",
        F.round(num / (den * F.lit(100.0)), 6).alias("ewma"),
    )


ANOM_WIN = 16  # trailing window (excluding current row)
ANOM_MIN_N = 8  # minimum history before flagging
ANOM_SIGMA2 = 4  # threshold: |x - mean| > 2*sigma, squared


@register(
    "ts_anomaly_sigma",
    oracle=f"""
    WITH e AS (SELECT event_id, user_id, {_V100} AS v100, {_OKEY} AS okey
               FROM events),
    stats AS (
      SELECT event_id, user_id, v100,
             COUNT(v100) OVER tw AS n,
             CAST(SUM(v100) OVER tw AS BIGINT) AS sx,
             CAST(SUM(v100 * v100) OVER tw AS BIGINT) AS sxx
      FROM e
      WINDOW tw AS (PARTITION BY user_id ORDER BY okey
                    ROWS BETWEEN {ANOM_WIN} PRECEDING AND 1 PRECEDING))
    SELECT event_id, user_id, v100 AS value100, n AS n_window,
           (n >= {ANOM_MIN_N} AND
            (v100 * n - sx) * (v100 * n - sx) >
              {ANOM_SIGMA2} * (n * sxx - sx * sx)) AS is_anomaly
    FROM stats
    """,
)
def ts_anomaly_sigma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly flag with ZERO floating point: the
    classic |x−μ| > 2σ test over a trailing window, algebraically
    cleared of divisions — (x·n − Σx)² > 4(n·Σx² − (Σx)²) is a pure
    BIGINT inequality, so the flag is exact on every engine (no ulp
    tie risk at the threshold, unlike a float z-score).

    Scale shape: one window computes n/Σx/Σx² in a single pass
    (running-frame aggregates, map-side sorted within user
    partitions); the trailing frame EXCLUDES the current row so a
    spike can't mask itself. Overflow-safe: |v100|≤~3e6 and n≤16
    keep every term < 2^63."""
    e = _events(spark, sf_dir).select(
        "event_id",
        "user_id",
        "value100",
        F.expr(
            "concat(date_format(ts, 'yyyyMMddHHmmssSSS'), '000',"
            " lpad(cast(event_id as string), 12, '0'))"
        ).alias("okey"),
    )
    tw = (
        Window.partitionBy("user_id")
        .orderBy("okey")
        .rowsBetween(-ANOM_WIN, -1)
    )
    x, n = F.col("value100"), F.col("n")
    sx, sxx = F.col("sx"), F.col("sxx")
    return (
        e.withColumn("n", F.count("value100").over(tw))
        .withColumn("sx", F.sum("value100").over(tw))
        .withColumn("sxx", F.sum(x * x).over(tw))
        .select(
            "event_id",
            "user_id",
            "value100",
            n.alias("n_window"),
            (
                (n >= ANOM_MIN_N)
                & (
                    (x * n - sx) * (x * n - sx)
                    > F.lit(ANOM_SIGMA2) * (n * sxx - sx * sx)
                )
            ).alias("is_anomaly"),
        )
    )


ACF_MAX_LAG = 6  # hourly autocorrelation lags 1..6


@register(
    "ts_acf_hourly",
    oracle=f"""
    WITH bounds AS (
      SELECT CAST(floor(min(epoch(CAST(ts AS TIMESTAMP))) / 3600) AS BIGINT)
                 AS lo,
             CAST(floor(max(epoch(CAST(ts AS TIMESTAMP))) / 3600) AS BIGINT)
                 AS hi
      FROM events),
    grid AS (SELECT unnest(range(lo, hi + 1)) AS h FROM bounds),
    agg AS (SELECT CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 3600) AS BIGINT)
                       AS h,
                   CAST(SUM({_V100}) AS BIGINT) AS x
            FROM events GROUP BY 1),
    s AS MATERIALIZED (SELECT g.h, CAST(COALESCE(a.x, 0) AS BIGINT) AS x
          FROM grid g LEFT JOIN agg a ON a.h = g.h),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS sx
            FROM s),
    d AS MATERIALIZED (SELECT s.h, CAST(tot.n * s.x - tot.sx AS HUGEINT) AS dev
         FROM s CROSS JOIN tot),
    den AS (SELECT SUM(dev * dev) AS den FROM d),
    lags AS (SELECT * FROM (VALUES (1),(2),(3),(4),(5),(6)) l(k)),
    num AS (SELECT l.k, SUM(d1.dev * d2.dev) AS num,
                   CAST(COUNT(*) AS BIGINT) AS n_pairs
            FROM lags l JOIN d d1 ON 1 = 1
                        JOIN d d2 ON d2.h = d1.h + l.k
            GROUP BY l.k)
    SELECT CAST(num.k AS BIGINT) AS lag, num.n_pairs,
           CAST(CASE WHEN num.num < 0 THEN -1 ELSE 1 END
                * ((abs(num.num) * 1000000) // den.den) AS BIGINT) AS acf_micro
    FROM num CROSS JOIN den
    """,
)
def ts_acf_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of the hourly total-value series at
    lags 1..ACF_MAX_LAG — the seasonality/persistence diagnostic a
    forecasting pipeline runs before choosing model order (a daily
    cycle shows as a lag-24 peak; here 1..6 capture short-range
    persistence). The series is the gap-filled hourly grid (missing
    hours are real zeros — skipping them would splice non-adjacent
    hours together and corrupt every lag).

    Exactness: deviations are n-scaled (dev = n·x − Σx, an exact
    BIGINT), products and sums run in HUGEINT/DECIMAL(38,0), and the
    ratio is emitted as truncating integer micro-units
    (sign·(|num|·1e6 div den)) — verified both engines truncate
    toward zero at these magnitudes, so the statistic hash-gates
    bit-for-bit with no float summation anywhere.

    Scale shape: the events-sized work is ONE hourly aggregation; the
    grid/deviation/lag-join stages run over the hours table, whose
    size is bounded by the time range (~10^4 rows for a year), not
    the corpus. The lag join is an equi-join on hour+k fanned out by
    a 6-row lag dimension.
    """
    from dbt_project_spark.caching import persist_tracked

    ev = _events(spark, sf_dir).withColumn(
        "h", F.expr("unix_timestamp(ts) div 3600").cast("bigint")
    )
    bounds = ev.agg(
        F.min("h").alias("lo"), F.max("h").alias("hi")
    )
    grid = bounds.select(F.explode(F.sequence("lo", "hi")).alias("h"))
    agg = ev.groupBy("h").agg(F.sum("value100").cast("bigint").alias("x"))
    s = grid.join(agg, on="h", how="left").select(
        "h", F.coalesce("x", F.lit(0)).cast("bigint").alias("x")
    )
    tot = s.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
    )
    d = persist_tracked(
        s.crossJoin(tot).select(
            "h",
            (F.col("n") * F.col("x") - F.col("sx"))
            .cast("decimal(38,0)")
            .alias("dev"),
        )
    )
    den = d.agg(F.sum(F.col("dev") * F.col("dev")).alias("den"))
    lags = spark.range(1, ACF_MAX_LAG + 1).select(F.col("id").alias("k"))
    d2 = d.select(F.col("h").alias("h2"), F.col("dev").alias("dev2"))
    num = (
        d.crossJoin(lags)
        .join(d2, F.col("h2") == F.col("h") + F.col("k"))
        .groupBy("k")
        .agg(
            F.sum(F.col("dev") * F.col("dev2")).alias("num"),
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        )
    )
    return num.crossJoin(den).select(
        F.col("k").cast("bigint").alias("lag"),
        "n_pairs",
        F.expr(
            "CAST(IF(num < 0, -1, 1)"
            " * ((abs(num) * 1000000) div den) AS BIGINT)"
        ).alias("acf_micro"),
    )


@register(
    "ts_cusum_changepoint",
    oracle=f"""
    WITH bounds AS (
      SELECT CAST(floor(min(epoch(CAST(ts AS TIMESTAMP))) / 86400) AS BIGINT)
                 AS lo,
             CAST(floor(max(epoch(CAST(ts AS TIMESTAMP))) / 86400) AS BIGINT)
                 AS hi
      FROM events),
    grid AS (SELECT unnest(range(lo, hi + 1)) AS ed FROM bounds),
    agg AS (SELECT CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 86400) AS BIGINT)
                       AS ed,
                   CAST(SUM({_V100}) AS BIGINT) AS x
            FROM events GROUP BY 1),
    s AS MATERIALIZED (SELECT g.ed, CAST(COALESCE(a.x, 0) AS BIGINT) AS x
          FROM grid g LEFT JOIN agg a ON a.ed = g.ed),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS sx
            FROM s),
    c AS (SELECT s.ed, s.x, tot.n, tot.sx,
                 SUM(tot.n * s.x - tot.sx)
                     OVER (ORDER BY s.ed ROWS UNBOUNDED PRECEDING) AS cum
          FROM s CROSS JOIN tot),
    r AS (SELECT *, ROW_NUMBER() OVER (ORDER BY abs(cum) DESC, ed) AS rk
          FROM c),
    cp AS (SELECT ed, n, abs(cum) AS peak FROM r WHERE rk = 1),
    sides AS (SELECT CAST(SUM(CASE WHEN s.ed <= cp.ed THEN s.x END) AS BIGINT)
                         AS xb,
                     CAST(SUM(CASE WHEN s.ed <= cp.ed THEN 1 END) AS BIGINT)
                         AS nb,
                     CAST(SUM(CASE WHEN s.ed > cp.ed THEN s.x END) AS BIGINT)
                         AS xa,
                     CAST(SUM(CASE WHEN s.ed > cp.ed THEN 1 END) AS BIGINT)
                         AS na
              FROM s CROSS JOIN cp)
    SELECT strftime(make_timestamp(cp.ed * 86400 * 1000000), '%Y-%m-%d')
               AS cp_day,
           cp.n AS n_days,
           CAST(cp.peak AS BIGINT) AS peak_x_n,
           ROUND(sides.xb * 1.0 / (100.0 * sides.nb), 6) AS mean_before,
           ROUND(sides.xa * 1.0 / (100.0 * sides.na), 6) AS mean_after
    FROM cp CROSS JOIN sides
    """,
)
def ts_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection on the daily total-value series:
    the cumulative sum of mean-deviations peaks (in absolute value)
    at the most likely single shift point in the series mean — the
    standard offline CUSUM estimator. Emits the changepoint day, the
    peak statistic, and the before/after daily means.

    Exactness: deviations are n-scaled (n·x − Σx) so the prefix sums
    are exact BIGINTs (days × daily cents·n stays far under 2^63 for
    any calendar span) and the argmax (tie → earliest day) is an
    integer comparison; the two final mean divisions are single
    double ops of identical shape in both engines.

    Scale shape: one events-sized daily aggregation; everything after
    runs on the days table (365 rows/year — bounded by the calendar,
    so the unpartitioned prefix-sum window is over a provably tiny
    series, not a data-sized one). The last-touch is two broadcast
    1-row joins.
    """
    ev = _events(spark, sf_dir).withColumn(
        "ed", F.expr("unix_timestamp(ts) div 86400").cast("bigint")
    )
    bounds = ev.agg(F.min("ed").alias("lo"), F.max("ed").alias("hi"))
    grid = bounds.select(F.explode(F.sequence("lo", "hi")).alias("ed"))
    agg = ev.groupBy("ed").agg(F.sum("value100").cast("bigint").alias("x"))
    s = grid.join(agg, on="ed", how="left").select(
        "ed", F.coalesce("x", F.lit(0)).cast("bigint").alias("x")
    )
    tot = s.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
    )
    wcum = Window.orderBy("ed").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    c = s.crossJoin(tot).withColumn(
        "cum",
        F.sum(F.col("n") * F.col("x") - F.col("sx")).over(wcum),
    )
    rk = Window.orderBy(F.desc(F.abs(F.col("cum"))), F.asc("ed"))
    cp = (
        c.withColumn("rk", F.row_number().over(rk))
        .filter(F.col("rk") == 1)
        .select("ed", "n", F.abs("cum").alias("peak"))
    )
    cp_b = cp.select(F.col("ed").alias("cp_ed"), "n", "peak")
    sides = s.crossJoin(cp_b.select("cp_ed")).agg(
        F.sum(F.when(F.col("ed") <= F.col("cp_ed"), F.col("x")))
        .cast("bigint")
        .alias("xb"),
        F.sum(F.when(F.col("ed") <= F.col("cp_ed"), 1))
        .cast("bigint")
        .alias("nb"),
        F.sum(F.when(F.col("ed") > F.col("cp_ed"), F.col("x")))
        .cast("bigint")
        .alias("xa"),
        F.sum(F.when(F.col("ed") > F.col("cp_ed"), 1))
        .cast("bigint")
        .alias("na"),
    )
    return cp_b.crossJoin(sides).select(
        F.date_format(
            F.timestamp_seconds(F.col("cp_ed") * 86400), "yyyy-MM-dd"
        ).alias("cp_day"),
        F.col("n").alias("n_days"),
        F.col("peak").cast("bigint").alias("peak_x_n"),
        F.round(F.col("xb") * 1.0 / (100.0 * F.col("nb")), 6).alias(
            "mean_before"
        ),
        F.round(F.col("xa") * 1.0 / (100.0 * F.col("na")), 6).alias(
            "mean_after"
        ),
    )


# --- STL-lite additive decomposition of the daily series (r4s3) ---


@register(
    "ts_decompose_daily",
    oracle=f"""
    WITH d AS (SELECT CAST(ts AS DATE) AS day,
                      CAST(SUM({_V100}) AS BIGINT) AS total
               FROM events GROUP BY 1),
    t AS (SELECT day, total,
                 CAST(SUM(total) OVER w AS BIGINT) AS s7,
                 CAST(COUNT(*) OVER w AS BIGINT) AS n7,
                 CAST(isodow(day) AS BIGINT) AS wd
          FROM d WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING
                              AND 3 FOLLOWING)),
    tr AS (SELECT day, total, wd, CAST(s7 // 7 AS BIGINT) AS trend
           FROM t WHERE n7 = 7),
    se AS (SELECT wd, CAST(CASE WHEN SUM(total - trend) < 0
                                THEN -(abs(SUM(total - trend)) // COUNT(*))
                                ELSE SUM(total - trend) // COUNT(*) END
                           AS BIGINT) AS seasonal
           FROM tr GROUP BY wd)
    SELECT strftime(tr.day, '%Y-%m-%d') AS day, tr.total AS total_cents,
           tr.trend AS trend_cents, se.seasonal AS seasonal_cents,
           CAST(tr.total - tr.trend - se.seasonal AS BIGINT)
               AS residual_cents
    FROM tr JOIN se ON se.wd = tr.wd
    """,
)
def ts_decompose_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STL-lite additive decomposition of the daily revenue series:
    trend = centered 7-day moving average (only days with the full
    window), seasonal = mean detrended value per ISO weekday,
    residual = total − trend − seasonal. The additive identity holds
    EXACTLY by construction (residual is defined as the difference),
    and every component is truncating integer cents — the
    monitoring-friendly cousin of full STL (which needs loess).

    Scale shape: events collapse to the days-sized daily series
    first; the single-partition trend window and the 7-row weekday
    aggregate both run on that aggregate, never on events — the
    'window over the aggregate, not the data' rule this repo's
    timeseries family follows throughout.
    """
    d = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.sum(F.expr(_V100)).cast("bigint").alias("total"))
    )
    w = Window.orderBy("day").rowsBetween(-3, 3)
    t = d.select(
        "day",
        "total",
        F.sum("total").over(w).cast("bigint").alias("s7"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("n7"),
        F.expr("CAST(dayofweek(day) AS BIGINT)").alias("__dow"),
    ).withColumn(
        # ISO weekday (Mon=1..Sun=7) from Spark's dayofweek (Sun=1..Sat=7)
        "wd",
        F.expr("CAST(CASE WHEN __dow = 1 THEN 7 ELSE __dow - 1 END AS BIGINT)"),
    )
    tr = t.filter(F.col("n7") == 7).select(
        "day", "total", "wd", F.expr("CAST(s7 div 7 AS BIGINT)").alias("trend")
    )
    from dbt_project_spark.caching import persist_tracked

    tr = persist_tracked(tr)  # days-sized; feeds the seasonal agg AND output
    # abs/sign split: detrended sums can be negative, and Spark div
    # truncates toward zero while DuckDB // floors — the split makes
    # both engines truncate identically (repo convention).
    se = tr.groupBy("wd").agg(
        F.expr(
            "CAST(CASE WHEN SUM(total - trend) < 0"
            " THEN -(abs(SUM(total - trend)) div COUNT(*))"
            " ELSE SUM(total - trend) div COUNT(*) END AS BIGINT)"
        ).alias("seasonal")
    )
    return tr.join(se, "wd").select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("total").alias("total_cents"),
        F.col("trend").alias("trend_cents"),
        F.col("seasonal").alias("seasonal_cents"),
        F.expr("CAST(total - trend - seasonal AS BIGINT)").alias(
            "residual_cents"
        ),
    )


# ---------------------------------------------------------------------------
# error_burst_detect — CEP-style burst pattern detection (r4s4)
# ---------------------------------------------------------------------------

# Sized to the synthetic corpus's error rate (errors are ~5% of
# events, spread thin): 2 errors within an hour is the detectable
# anomaly here; a production SRE feed would use e.g. >=3 in 5 min.
# The planted test pins the pattern semantics at those tighter
# thresholds via the operator's constants being pure parameters.
BURST_WINDOW_S = 3600  # trailing range window
BURST_N = 2  # errors within the window that constitute a burst


@register(
    "error_burst_detect",
    oracle=f"""
    WITH e AS (SELECT user_id, event_id,
                      CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS ep
               FROM events
               WHERE event_type = 'error' AND user_id IS NOT NULL),
    c AS (SELECT user_id, event_id, ep,
                 COUNT(*) OVER (PARTITION BY user_id ORDER BY ep
                                RANGE BETWEEN {BURST_WINDOW_S} PRECEDING
                                AND CURRENT ROW) AS cnt
          FROM e),
    t AS (SELECT user_id, ep, cnt,
                 LAG(cnt) OVER (PARTITION BY user_id
                                ORDER BY ep, event_id) AS prev_cnt
          FROM c)
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_errors,
           CAST(SUM(CASE WHEN cnt >= {BURST_N}
                          AND COALESCE(prev_cnt, 0) < {BURST_N}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_bursts,
           CAST(MAX(cnt) AS BIGINT) AS max_burst_size
    FROM t GROUP BY user_id
    HAVING SUM(CASE WHEN cnt >= {BURST_N}
                     AND COALESCE(prev_cnt, 0) < {BURST_N}
               THEN 1 ELSE 0 END) > 0
    """,
)
def error_burst_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Complex-event-processing pattern: an 'error burst' fires when a
    user accumulates ≥ BURST_N errors within a trailing
    BURST_WINDOW_S-second window — the MATCH_RECOGNIZE / CEP shape
    (alert on the FIRST event crossing the threshold, not on every
    event inside the burst) expressed as a value-RANGE count window
    plus a lag-crossing detector. Emits, per affected user, error
    totals, burst-trigger counts, and the peak in-window error count
    — the alerting feed an SRE pipeline would sink to a pager.

    Determinism: the RANGE frame is keyed on integer epoch seconds
    (peers included identically in both engines); the crossing
    detector orders by (ep, event_id) so tied timestamps trigger
    exactly once.

    Scale shape: errors filter FIRST (predicate pushdown to the
    scan), then ONE user-partitioned exchange carries both windows
    and the final per-user aggregate — the sessionization family's
    single-exchange discipline.
    """
    e = (
        load_table(spark, sf_dir, "events")
        .where((F.col("event_type") == "error") & F.col("user_id").isNotNull())
        .select("user_id", "event_id", F.unix_timestamp("ts").alias("ep"))
    )
    wr = (
        Window.partitionBy("user_id")
        .orderBy("ep")
        .rangeBetween(-BURST_WINDOW_S, 0)
    )
    c = e.withColumn("cnt", F.count(F.lit(1)).over(wr))
    wl = Window.partitionBy("user_id").orderBy("ep", "event_id")
    t = c.withColumn("prev_cnt", F.lag("cnt").over(wl))
    trigger = F.when(
        (F.col("cnt") >= BURST_N)
        & (F.coalesce(F.col("prev_cnt"), F.lit(0)) < BURST_N),
        1,
    ).otherwise(0)
    return (
        t.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_errors"),
            F.sum(trigger).cast("bigint").alias("n_bursts"),
            F.max("cnt").cast("bigint").alias("max_burst_size"),
        )
        .where(F.col("n_bursts") > 0)
    )


# ---------------------------------------------------------------------------
# interarrival_stats — arrival-process burstiness diagnostic (r4s4)
# ---------------------------------------------------------------------------


@register(
    "interarrival_stats",
    oracle="""
    WITH e AS (SELECT event_type, event_id,
                      CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS ep
               FROM events),
    g AS (SELECT event_type,
                 ep - LAG(ep) OVER (PARTITION BY event_type
                                    ORDER BY ep, event_id) AS gap
          FROM e),
    s AS (SELECT event_type, CAST(COUNT(gap) AS BIGINT) AS n,
                 CAST(SUM(gap) AS BIGINT) AS sg,
                 CAST(SUM(gap * gap) AS BIGINT) AS sgg
          FROM g GROUP BY event_type)
    SELECT event_type, n,
           CAST(sg * 1000000 // n AS BIGINT) AS mean_gap_micro_s,
           CAST((CAST(n AS HUGEINT) * sgg - CAST(sg AS HUGEINT) * sg)
                * 1000000 // (CAST(sg AS HUGEINT) * sg) AS BIGINT)
               AS cv2_micro
    FROM s
    """,
)
def interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrival-process diagnostic per event type: mean inter-arrival
    gap and the squared coefficient of variation cv² = var/mean² of
    the gaps — the one-number burstiness test (a Poisson process has
    cv² = 1; cv² ≫ 1 means bursty arrivals that size streaming state
    and autoscaling very differently from the mean rate; cv² ≪ 1
    means metronome traffic, usually a bot). Pairs with
    error_burst_detect: this says WHETHER arrivals are bursty, that
    one finds the bursts.

    Exactness: gaps are integer seconds off one lag window;
    cv² = (n·Σg² − (Σg)²) / (Σg)² is emitted as a truncating integer
    micro-unit from exact sums (population variance, cleared
    denominator — numerator and denominator are both ≥ 0, so Spark
    div ≡ DuckDB //); the moment products run in DECIMAL(38,0)/
    HUGEINT because n·Σg²·1e6 clears BIGINT already at sf0.1 gap
    sums (the linreg convention).

    Scale shape: ONE exchange on event_type carries the lag window
    and the moment aggregate (map-side combinable partials).
    """
    e = load_table(spark, sf_dir, "events").select(
        "event_type", "event_id", F.unix_timestamp("ts").alias("ep")
    )
    w = Window.partitionBy("event_type").orderBy("ep", "event_id")
    g = e.select(
        "event_type", (F.col("ep") - F.lag("ep").over(w)).alias("gap")
    )
    s = g.groupBy("event_type").agg(
        F.count("gap").cast("bigint").alias("n"),
        F.sum("gap").cast("bigint").alias("sg"),
        F.sum(F.col("gap") * F.col("gap")).cast("bigint").alias("sgg"),
    )
    return s.select(
        "event_type",
        "n",
        F.expr("CAST(sg * 1000000 div n AS BIGINT)").alias(
            "mean_gap_micro_s"
        ),
        # DECIMAL(38,0)/HUGEINT: n·Σg²·1e6 clears BIGINT already at
        # sf0.1-scale gap sums (measured ~1.4e19) — the linreg
        # convention applied preemptively.
        F.expr(
            "CAST((CAST(n AS DECIMAL(38,0)) * sgg"
            " - CAST(sg AS DECIMAL(38,0)) * sg)"
            " * 1000000 div (CAST(sg AS DECIMAL(38,0)) * sg) AS BIGINT)"
        ).alias("cv2_micro"),
    )


# ---------------------------------------------------------------------------
# mk_trend_sen_slope — nonparametric trend test + robust slope (r4s4)
# ---------------------------------------------------------------------------


@register(
    "mk_trend_sen_slope",
    oracle=f"""
    WITH s AS (SELECT CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT)
                        // 86400 AS d,
                      CAST(SUM({_V100}) AS BIGINT) AS x
               FROM events GROUP BY 1),
    p AS (SELECT b.d - a.d AS dd, b.x - a.x AS dx
          FROM s a JOIN s b ON b.d > a.d),
    mk AS (SELECT CAST(SUM(CASE WHEN dx > 0 THEN 1
                               WHEN dx < 0 THEN -1 ELSE 0 END) AS BIGINT)
                      AS s_stat,
                  CAST(COUNT(*) AS BIGINT) AS n_pairs
           FROM p),
    ties AS (SELECT CAST(COALESCE(SUM(c * (c - 1) * (2 * c + 5)), 0)
                         AS BIGINT) AS tie18
             FROM (SELECT x, COUNT(*) AS c FROM s GROUP BY x
                   HAVING COUNT(*) > 1)),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM s),
    sen AS (SELECT CAST(round(quantile_cont(
                2 * (CASE WHEN dx < 0 THEN -(abs(dx) * 1000000 // dd)
                          ELSE dx * 1000000 // dd END), 0.5)) AS BIGINT)
                AS med2
            FROM p)
    SELECT nn.n AS n_days, mk.n_pairs, mk.s_stat,
           CAST(nn.n * (nn.n - 1) * (2 * nn.n + 5) - ties.tie18 AS BIGINT)
               AS var18,
           ROUND(sen.med2 / 2000000.0, 6) AS sen_slope_per_day
    FROM nn CROSS JOIN mk CROSS JOIN ties CROSS JOIN sen
    """,
)
def mk_trend_sen_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Kendall trend test + Theil–Sen slope on the daily
    total-value series — the standard nonparametric pair for 'is this
    metric drifting' when you refuse normality assumptions (the
    monitoring twin of ts_cusum's changepoint and linreg's parametric
    slope): S = Σ sign(x_j − x_i) over ordered day pairs, its
    tie-corrected variance ×18 (kept integer — the z-score's sqrt is
    the caller's one irrational step), and the median of pairwise
    slopes (robust to any single outlier day).

    Exactness: S, n, and the ×18 variance are pure BIGINTs; each
    pairwise slope is one sign-split truncating micro-division, and
    the Sen median uses the ×2 interpolated-median-of-integers trick
    — everything hash-gates.

    Scale shape: events collapse to the daily series FIRST; the pair
    join is O(days²) over a table bounded by the TIME RANGE (~30 here,
    ~365² at a year — still trivial), never over events. At decades of
    daily data you'd sample pairs; noted.
    """
    s = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.expr("unix_timestamp(ts) div 86400").alias("d"))
        .agg(F.sum(F.expr(_V100)).cast("bigint").alias("x"))
    )
    from dbt_project_spark.caching import persist_tracked

    s = persist_tracked(s)
    # counted: a filled cache carries its measured size, so the planner
    # broadcasts the days side of the pair join (a range join, which
    # can only broadcast or rescan)
    s.count()
    a = s.select(F.col("d").alias("da"), F.col("x").alias("xa"))
    b = s.select(F.col("d").alias("db"), F.col("x").alias("xb"))
    p = a.join(b, F.col("db") > F.col("da")).select(
        (F.col("db") - F.col("da")).alias("dd"),
        (F.col("xb") - F.col("xa")).alias("dx"),
    )
    # one aggregate over the pairs: a percentile's partial buffer is
    # sized by its input, and a cross join against that side alone
    # plans a CartesianProduct once measured
    mk = p.agg(
        F.sum(
            F.when(F.col("dx") > 0, 1).when(F.col("dx") < 0, -1).otherwise(0)
        )
        .cast("bigint")
        .alias("s_stat"),
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.expr(
            "CAST(round(percentile(2 * CASE WHEN dx < 0"
            " THEN -(abs(dx) * 1000000 div dd)"
            " ELSE dx * 1000000 div dd END, 0.5)) AS BIGINT)"
        ).alias("med2"),
    )
    ties = (
        s.groupBy("x")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") > 1)
        .agg(
            F.coalesce(
                F.sum(
                    F.col("c") * (F.col("c") - 1) * (2 * F.col("c") + 5)
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("tie18")
        )
    )
    nn = s.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    return (
        mk.crossJoin(nn)
        .crossJoin(ties)
        .select(
            F.col("n").alias("n_days"),
            "n_pairs",
            "s_stat",
            (
                F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
                - F.col("tie18")
            )
            .cast("bigint")
            .alias("var18"),
            F.round(F.col("med2") / 2_000_000.0, 6).alias(
                "sen_slope_per_day"
            ),
        )
    )


# ---------------------------------------------------------------------------
# ks_exponential_interarrival — Poisson-process goodness of fit (r4s4)
# ---------------------------------------------------------------------------


@register(
    "ks_exponential_interarrival",
    oracle="""
    WITH e AS (SELECT event_type, event_id,
                      CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS ep
               FROM events),
    g AS (SELECT event_type,
                 ep - LAG(ep) OVER (PARTITION BY event_type
                                    ORDER BY ep, event_id) AS gap
          FROM e),
    c AS (SELECT event_type, gap, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM g WHERE gap IS NOT NULL GROUP BY event_type, gap),
    t AS (SELECT event_type, CAST(SUM(cnt) AS BIGINT) AS n,
                 CAST(SUM(gap * cnt) AS BIGINT) AS sg
          FROM c GROUP BY event_type),
    w AS (SELECT c.event_type, c.gap, t.n, t.sg,
                 SUM(c.cnt) OVER (PARTITION BY c.event_type ORDER BY c.gap
                                  ROWS UNBOUNDED PRECEDING) AS cum
          FROM c JOIN t ON t.event_type = c.event_type),
    d AS (SELECT event_type, gap, n,
                 CAST(round(abs((CAST(cum AS DOUBLE) / n)
                      - (1.0 - exp(-(CAST(gap AS DOUBLE) * n) / sg)))
                      * 1000000000) AS BIGINT) AS dev9
          FROM w),
    r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                                       ORDER BY dev9 DESC, gap) AS rk
          FROM d)
    SELECT event_type, n AS n_gaps,
           CAST(dev9 // 1000 AS BIGINT) AS ks_d_micro,
           CAST(gap AS BIGINT) AS at_gap_s
    FROM r WHERE rk = 1
    """,
)
def ks_exponential_interarrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sample Kolmogorov–Smirnov goodness-of-fit of inter-arrival
    gaps against the FITTED exponential (rate = 1/mean gap) per event
    type — the distribution-level Poisson-process test on top of
    interarrival_stats' cv² moment check (a distribution can pass
    cv² ≈ 1 and still be bimodal; KS sees that). D is evaluated at
    the empirical CDF step points (the right-limit convention — the
    sup over each step's right edge, the standard one-sided form).

    Determinism: gaps collapse to (type, gap, count) first; each
    deviation is ONE double expression — cum/n − (1 − exp(−gap·n/Σg))
    — written with the identical shape in both engines and scaled
    ×1e9 → BIGINT, so the argmax row (tie → smallest gap) and the
    truncating micro-unit D are engine-independent (the ln-convention
    extended to exp).

    Scale shape: one type exchange for the lag window, one
    (type, gap) aggregate (bounded by the distinct-gap domain, not
    events), then windows over that bounded table — the
    ks_test_value dataflow with a parametric reference CDF.
    """
    e = load_table(spark, sf_dir, "events").select(
        "event_type", "event_id", F.unix_timestamp("ts").alias("ep")
    )
    w0 = Window.partitionBy("event_type").orderBy("ep", "event_id")
    g = e.select(
        "event_type", (F.col("ep") - F.lag("ep").over(w0)).alias("gap")
    )
    c = (
        g.where(F.col("gap").isNotNull())
        .groupBy("event_type", "gap")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    t = c.groupBy("event_type").agg(
        F.sum("cnt").cast("bigint").alias("n"),
        F.sum(F.col("gap") * F.col("cnt")).cast("bigint").alias("sg"),
    )
    wc = (
        Window.partitionBy("event_type")
        .orderBy("gap")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w = c.join(t, "event_type").select(
        "event_type",
        "gap",
        "n",
        "sg",
        F.sum("cnt").over(wc).alias("cum"),
    )
    d = w.select(
        "event_type",
        "gap",
        "n",
        F.expr(
            "CAST(round(abs((CAST(cum AS DOUBLE) / n)"
            " - (1.0 - exp(-(CAST(gap AS DOUBLE) * n) / sg)))"
            " * 1000000000) AS BIGINT)"
        ).alias("dev9"),
    )
    rw = Window.partitionBy("event_type").orderBy(F.desc("dev9"), F.asc("gap"))
    return (
        d.withColumn("rk", F.row_number().over(rw))
        .filter(F.col("rk") == 1)
        .select(
            "event_type",
            F.col("n").alias("n_gaps"),
            F.expr("CAST(dev9 div 1000 AS BIGINT)").alias("ks_d_micro"),
            F.col("gap").cast("bigint").alias("at_gap_s"),
        )
    )


# ---------------------------------------------------------------------------
# dft_weekly_power — spectral power at the weekly frequency (r4s4)
# ---------------------------------------------------------------------------

# cos/sin(2πk/7) pre-rounded to ×1e6 INTEGER micro-units: the DFT
# projection becomes pure integer arithmetic — no float multiply
# exists anywhere, so there is nothing to diverge cross-engine.
_COS6 = (1000000, 623490, -222521, -900969, -900969, -222521, 623490)
_SIN6 = (0, 781831, 974928, 433884, -433884, -974928, -781831)


def _phase_case(table: tuple, var: str) -> str:
    return (
        "CASE "
        + " ".join(f"WHEN {var} = {k} THEN {v}" for k, v in enumerate(table))
        + " END"
    )


@register(
    "dft_weekly_power",
    oracle=f"""
    WITH s AS (SELECT CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT)
                        // 86400 AS d,
                      CAST(SUM({_V100}) AS BIGINT) AS x
               FROM events GROUP BY 1),
    t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS sx
          FROM s),
    dev AS (SELECT s.d % 7 AS k, t.n * s.x - t.sx AS dv
            FROM s CROSS JOIN t),
    proj AS (SELECT
               CAST(SUM(dv * {_phase_case(_COS6, 'k')}) AS BIGINT) AS fc,
               CAST(SUM(dv * {_phase_case(_SIN6, 'k')}) AS BIGINT) AS fs
             FROM dev)
    SELECT t.n AS n_days, proj.fc, proj.fs,
           CAST(CAST(proj.fc AS HUGEINT) * proj.fc
                + CAST(proj.fs AS HUGEINT) * proj.fs AS VARCHAR)
               AS weekly_power
    FROM t CROSS JOIN proj
    """,
)
def dft_weekly_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spectral power of the daily total-value series at the weekly
    frequency (the 1/7 DFT bin, Goertzel-style single-bin projection)
    — the frequency-domain seasonality detector next to the
    time-domain ACF and the STL decomposition: a strong weekly cycle
    concentrates power here regardless of its phase, which a
    weekday-mean table can smear when the cycle drifts.

    Exactness: the series is n-scaled mean-deviated (dv = n·x − Σx,
    exact BIGINT — complete-week leakage of the DC term is removed by
    construction), and the cos/sin basis is PRE-ROUNDED to ×1e6
    integer micro-units, so the projection is pure integer
    multiply-accumulate — no float exists in the query at all. The
    power c² + s² runs in DECIMAL(38,0)/HUGEINT and is emitted as the
    exact decimal string (the rational-output contract).

    Scale shape: one events-sized daily aggregate; everything after
    is arithmetic over the days table. The phase index is the
    absolute epoch-day mod 7 — identical in both engines.
    """
    s = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.expr("unix_timestamp(ts) div 86400").alias("d"))
        .agg(F.sum(F.expr(_V100)).cast("bigint").alias("x"))
    )
    t = s.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
    )
    dev = s.crossJoin(t).select(
        (F.col("d") % 7).alias("k"),
        (F.col("n") * F.col("x") - F.col("sx")).alias("dv"),
        "n",
    )
    proj = dev.agg(
        F.sum(F.col("dv") * F.expr(_phase_case(_COS6, "k")))
        .cast("bigint")
        .alias("fc"),
        F.sum(F.col("dv") * F.expr(_phase_case(_SIN6, "k")))
        .cast("bigint")
        .alias("fs"),
    )
    return t.crossJoin(proj).select(
        F.col("n").alias("n_days"),
        "fc",
        "fs",
        F.expr(
            "CAST(CAST(fc AS DECIMAL(38,0)) * fc"
            " + CAST(fs AS DECIMAL(38,0)) * fs AS STRING)"
        ).alias("weekly_power"),
    )


# ---------------------------------------------------------------------------
# Brown's double exponential smoothing, exact dyadic kernel (r5s4)
# ---------------------------------------------------------------------------

LES_K = 8  # single-smoothing kernel length (α = 1/2, truncated)
_LES_W = [2 ** (LES_K - 1 - k) for k in range(LES_K)]
_LES_D = 2**LES_K - 1
# combined kernel for the SECOND smoothing pass: EWMA∘EWMA is one
# convolution c[m] = Σ_{j+k=m} w[j]·w[k], length 2K-1, denominator D²
_LES_C = [
    sum(
        _LES_W[j] * _LES_W[m - j]
        for j in range(max(0, m - LES_K + 1), min(LES_K, m + 1))
    )
    for m in range(2 * LES_K - 1)
]


def _les_oracle() -> str:
    n1 = " + ".join(
        f"{w} * lag(v100, {k}) OVER win" if k else f"{w} * v100"
        for k, w in enumerate(_LES_W)
    )
    n2 = " + ".join(
        f"{c} * lag(v100, {m}) OVER win" if m else f"{c} * v100"
        for m, c in enumerate(_LES_C)
    )
    full = f"lag(v100, {2 * LES_K - 2}) OVER win IS NOT NULL"
    return f"""
    WITH d AS (SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
                      CAST(SUM({_V100}) AS BIGINT) AS v100
               FROM events GROUP BY 1, 2),
    l AS (SELECT event_type, day,
                 {n1} AS n1, {n2} AS n2,
                 {full} AS full_win
          FROM d
          WINDOW win AS (PARTITION BY event_type ORDER BY day))
    SELECT event_type, CAST(day AS DATE) AS day,
           ROUND((2 * n1 * {_LES_D} - n2)
                 / ({_LES_D * _LES_D} * 100.0), 6) AS level,
           ROUND((n1 * {_LES_D} - n2)
                 / ({_LES_D * _LES_D} * 100.0), 6) AS trend,
           ROUND((3 * n1 * {_LES_D} - 2 * n2)
                 / ({_LES_D * _LES_D} * 100.0), 6) AS forecast_next
    FROM l WHERE full_win
    """


@register("ts_double_exp_smoothing", oracle=_les_oracle())
def ts_double_exp_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown's double exponential smoothing (linear-trend forecast)
    over the per-type daily value series, with EXACT dyadic
    arithmetic: s1 is the truncated α=1/2 EWMA kernel (integer
    weights 2^(K-1-k), the `ts_ewma_dyadic` convention) and s2 = 
    EWMA(s1) collapses into ONE integer convolution — the composition
    of two length-K kernels is a single length-(2K-1) kernel
    c[m] = Σ w[j]·w[m-j] over the raw series. Level = 2·s1 − s2,
    trend = s1 − s2 (α = 1/2 makes α/(1−α) = 1), one-step forecast =
    level + trend; every numerator is an exact BIGINT dot product and
    the only float op is the final division — bit-identical across
    engines where a recursive Holt update would accumulate
    order-dependent float error.

    Rows are emitted once the full 2K−1-day window exists (the
    truncation drops 2^-8 < 0.4% of kernel mass; the warmup rows
    where the two engines would need partial-window rational
    arithmetic with varying denominators are excluded by contract).

    Scale shape: one daily pre-aggregate (map-side combinable), one
    window with 2K−2 lags per type — single shuffle, whole-stage
    codegen, no self-joins."""
    d = (
        _events(spark, sf_dir)
        .groupBy(
            "event_type", F.col("ts").cast("date").alias("day")
        )
        .agg(F.sum("value100").cast("bigint").alias("v100"))
    )
    w = Window.partitionBy("event_type").orderBy("day")
    n1 = sum(
        (
            (F.lag("v100", k).over(w) if k else F.col("v100")) * F.lit(wt)
            for k, wt in enumerate(_LES_W)
        ),
        F.lit(0),
    )
    n2 = sum(
        (
            (F.lag("v100", m).over(w) if m else F.col("v100")) * F.lit(c)
            for m, c in enumerate(_LES_C)
        ),
        F.lit(0),
    )
    full = F.lag("v100", 2 * LES_K - 2).over(w).isNotNull()
    dd = _LES_D * _LES_D * 100.0
    l = d.select(
        "event_type",
        "day",
        n1.alias("n1"),
        n2.alias("n2"),
        full.alias("full_win"),
    )
    return l.filter(F.col("full_win")).select(
        "event_type",
        "day",
        F.round(
            (2 * F.col("n1") * _LES_D - F.col("n2")) / F.lit(dd), 6
        ).alias("level"),
        F.round(
            (F.col("n1") * _LES_D - F.col("n2")) / F.lit(dd), 6
        ).alias("trend"),
        F.round(
            (3 * F.col("n1") * _LES_D - 2 * F.col("n2")) / F.lit(dd), 6
        ).alias("forecast_next"),
    )


# ---------------------------------------------------------------------------
# xcorr_lead_lag — error-vs-purchase daily cross-correlation (r5s6)
# ---------------------------------------------------------------------------

XC_MAXLAG = 3  # lags examined: -3..+3 days


@register(
    "xcorr_lead_lag",
    oracle=f"""
    WITH d AS (SELECT datediff('day', DATE '1970-01-01',
                               CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS dd,
                      CAST(SUM(CASE WHEN event_type = 'error'
                                    THEN 1 ELSE 0 END) AS BIGINT) AS x,
                      CAST(SUM(CASE WHEN event_type = 'purchase'
                                    THEN 1 ELSE 0 END) AS BIGINT) AS y
               FROM events GROUP BY 1),
    lags AS (SELECT unnest(range(-{XC_MAXLAG}, {XC_MAXLAG} + 1)) AS lag),
    p AS (SELECT l.lag, a.x, b.y
          FROM lags l
          JOIN d a ON TRUE
          JOIN d b ON b.dd = a.dd + l.lag),
    m AS (SELECT lag,
                 CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(x) AS BIGINT) AS sx,
                 CAST(SUM(y) AS BIGINT) AS sy,
                 CAST(SUM(x * y) AS BIGINT) AS sxy,
                 CAST(SUM(x * x) AS BIGINT) AS sxx,
                 CAST(SUM(y * y) AS BIGINT) AS syy
          FROM p GROUP BY lag),
    dn AS (SELECT lag, n, sx, sy, sxy,
                  n * sxx - sx * sx AS dx,
                  n * syy - sy * sy AS dy
           FROM m)
    SELECT lag, n,
           CASE WHEN dx = 0 OR dy = 0 THEN NULL
                ELSE ROUND((n * 1.0 * sxy - sx * 1.0 * sy)
                           / sqrt((dx * 1.0) * (dy * 1.0)), 6)
           END AS r
    FROM dn
    """,
)
def xcorr_lead_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead-lag cross-correlation between the daily ERROR count and
    the daily PURCHASE count at lags −3..+3 days: does an error spike
    precede a purchase dip (positive lag = errors lead)? The
    two-series companion to ts_acf_hourly — the table an on-call
    analyst reads to decide whether reliability incidents cost
    revenue and with what delay.

    Exactness: daily counts are exact integers, so all six moments
    per lag are exact BIGINTs; the Pearson r per lag is a fixed
    scalar double expression over them with ONE sqrt, ROUND 6 (the
    welch_ttest convention). Zero-variance overlaps (an extreme lag
    with one surviving pair) emit NULL rather than a fabricated r.
    Day alignment joins on integer epoch-day — no timezone or
    interval arithmetic to diverge on. (At 10⁹-events/day scale the
    n·Σx² products outgrow BIGINT — shift the dx/dy assembly into
    DECIMAL(38,0), the linreg convention.)

    Scale shape: events collapse to a days-sized series first; the
    7-lag fan-out and self-join run on that tiny table. At any scale
    the only events-sized work is the first aggregate."""
    ev = load_table(spark, sf_dir, "events")
    d = (
        ev.select(
            F.datediff(F.to_date("ts"), F.lit("1970-01-01")).alias("dd"),
            "event_type",
        )
        .groupBy("dd")
        .agg(
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
            .cast("bigint")
            .alias("x"),
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            )
            .cast("bigint")
            .alias("y"),
        )
    )
    lags = spark.range(-XC_MAXLAG, XC_MAXLAG + 1).select(
        F.col("id").alias("lag")
    )
    a = d.select("dd", "x")
    b = d.select(F.col("dd").alias("bdd"), "y")
    p = (
        lags.crossJoin(a)
        .join(b, F.col("bdd") == F.col("dd") + F.col("lag"))
        .select("lag", "x", "y")
    )
    m = p.groupBy("lag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )
    dn = m.select(
        "lag",
        "n",
        "sx",
        "sy",
        "sxy",
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).alias("dx"),
        (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).alias("dy"),
    )
    return dn.select(
        "lag",
        "n",
        F.when(
            (F.col("dx") == 0) | (F.col("dy") == 0), F.lit(None)
        )
        .otherwise(
            F.round(
                (
                    F.col("n") * 1.0 * F.col("sxy")
                    - F.col("sx") * 1.0 * F.col("sy")
                )
                / F.sqrt((F.col("dx") * 1.0) * (F.col("dy") * 1.0)),
                6,
            )
        )
        .alias("r"),
    )


# ---------------------------------------------------------------------------
# dft_power_spectrum — harmonics 1-3 of the weekly cycle (r5s10)
# ---------------------------------------------------------------------------

DFT_HARMONICS = 3


@register(
    "dft_power_spectrum",
    oracle=f"""
    WITH s AS (SELECT CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT)
                        // 86400 AS d,
                      CAST(SUM({_V100}) AS BIGINT) AS x
               FROM events GROUP BY 1),
    t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS sx
          FROM s),
    fr AS (SELECT unnest(range(1, {DFT_HARMONICS} + 1)) AS f),
    dev AS (SELECT fr.f, (fr.f * s.d) % 7 AS k, t.n * s.x - t.sx AS dv
            FROM s CROSS JOIN t CROSS JOIN fr),
    proj AS (SELECT f,
               CAST(SUM(dv * {_phase_case(_COS6, 'k')}) AS BIGINT) AS fc,
               CAST(SUM(dv * {_phase_case(_SIN6, 'k')}) AS BIGINT) AS fs
             FROM dev GROUP BY f)
    SELECT CAST(proj.f AS BIGINT) AS f, t.n AS n_days, proj.fc, proj.fs,
           CAST(CAST(proj.fc AS HUGEINT) * proj.fc
                + CAST(proj.fs AS HUGEINT) * proj.fs AS VARCHAR)
               AS power
    FROM proj CROSS JOIN t
    """,
)
def dft_power_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power spectrum of the daily total-value series at the first
    three harmonics of the weekly cycle (1, 2, 3 cycles/week) —
    dft_weekly_power generalized from one Goertzel bin to the short
    spectrum an analyst reads to tell a clean weekly rhythm (power
    concentrated at f=1) from a twice-weekly payday pattern (f=2) or
    near-aliased noise (flat).

    Exactness: identical machinery to dft_weekly_power — the basis
    for harmonic f at epoch-day d is the SAME ×1e6 integer table
    indexed at (f·d) mod 7 (cos(2πfd/7) = cos(2π((fd) mod 7)/7)), so
    the whole spectrum shares one 7-entry table and the projection
    stays pure integer multiply-accumulate; powers ship as exact
    HUGEINT/DECIMAL(38,0) strings.

    Scale shape: one events-sized daily aggregate; the 3-way harmonic
    fan-out multiplies only the days table."""
    s = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.expr("unix_timestamp(ts) div 86400").alias("d"))
        .agg(F.sum(F.expr(_V100)).cast("bigint").alias("x"))
    )
    t = s.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
    )
    fr = spark.range(1, DFT_HARMONICS + 1).select(F.col("id").alias("f"))
    dev = (
        s.crossJoin(t)
        .crossJoin(fr)
        .select(
            "f",
            ((F.col("f") * F.col("d")) % 7).alias("k"),
            (F.col("n") * F.col("x") - F.col("sx")).alias("dv"),
        )
    )
    proj = dev.groupBy("f").agg(
        F.sum(F.col("dv") * F.expr(_phase_case(_COS6, "k")))
        .cast("bigint")
        .alias("fc"),
        F.sum(F.col("dv") * F.expr(_phase_case(_SIN6, "k")))
        .cast("bigint")
        .alias("fs"),
    )
    return proj.crossJoin(t).select(
        F.col("f").cast("bigint").alias("f"),
        F.col("n").alias("n_days"),
        "fc",
        "fs",
        F.expr(
            "CAST(CAST(fc AS DECIMAL(38,0)) * fc"
            " + CAST(fs AS DECIMAL(38,0)) * fs AS STRING)"
        ).alias("power"),
    )


# ---------------------------------------------------------------------------
# gumbel_block_maxima — extreme-value fit of daily peaks (r5s13)
# ---------------------------------------------------------------------------

# Python-precomputed double constants (full repr precision — both
# engines parse the identical literal): sqrt(6)/pi, Euler-Mascheroni,
# and the 1-in-365 Gumbel return-level quantile -ln(-ln(1 - 1/365)).
GUM_S6PI = "0.779696801233676"
GUM_GAMMA = "0.5772156649015329"
GUM_C365 = "5.8985259242227315"


@register(
    "gumbel_block_maxima",
    oracle=f"""
    WITH d AS (SELECT CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT)
                        // 86400 AS day,
                      CAST(MAX({_V100}) AS BIGINT) AS mx
               FROM events GROUP BY 1),
    m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(mx) AS BIGINT) AS s,
                 CAST(SUM(mx * mx) AS BIGINT) AS q
          FROM d),
    st AS (SELECT n,
                  CAST(s AS DOUBLE) / n AS mean,
                  sqrt((CAST(q AS DOUBLE) - (CAST(s AS DOUBLE) / n) * s)
                       / (n - 1.0)) AS sd
           FROM m),
    fit AS (SELECT n, mean, sd,
                   sd * {GUM_S6PI} AS sigma
            FROM st)
    SELECT n AS n_days,
           ROUND(mean, 6) AS mean100,
           ROUND(sigma, 6) AS sigma100,
           ROUND(mean - {GUM_GAMMA} * sigma, 6) AS mu100,
           ROUND(mean - {GUM_GAMMA} * sigma + sigma * {GUM_C365}, 6)
               AS return_level_365_100
    FROM fit
    """,
)
def gumbel_block_maxima(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extreme-value analysis of daily peak values: fit a Gumbel
    distribution to the block maxima (one max per day) by method of
    moments — σ = s·√6/π, μ = m − γσ — and report the 1-in-365-day
    return level μ + σ·5.8985… . This is the capacity-planning
    number percentiles can't give: p99.9 of the OBSERVED days says
    nothing about the once-a-year spike; EVT extrapolates the tail
    law the maxima actually follow (Fisher–Tippett). Pairs with
    ts_anomaly_sigma (which flags today) by pricing how bad 'bad'
    gets over a horizon.

    Exactness: block maxima and their two moments are exact BIGINTs;
    the fit is a fixed scalar double expression over them with ONE
    sqrt and three full-precision Python-precomputed constants —
    identical literals parse to identical doubles in both engines —
    ROUND 6 (the welch convention).

    Scale shape: one map-side-combinable per-day MAX, a 1-row moment
    reduce, scalar math."""
    d = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.expr("unix_timestamp(ts) div 86400").alias("day"))
        .agg(F.max(F.expr(_V100)).cast("bigint").alias("mx"))
    )
    m = d.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("mx").cast("bigint").alias("s"),
        F.sum(F.col("mx") * F.col("mx")).cast("bigint").alias("q"),
    )
    st = m.select(
        "n",
        (F.col("s").cast("double") / F.col("n")).alias("mean"),
        F.sqrt(
            (
                F.col("q").cast("double")
                - (F.col("s").cast("double") / F.col("n")) * F.col("s")
            )
            / (F.col("n") - 1.0)
        ).alias("sd"),
    )
    fit = st.select(
        "n", "mean", "sd", (F.col("sd") * float(GUM_S6PI)).alias("sigma")
    )
    return fit.select(
        F.col("n").alias("n_days"),
        F.round("mean", 6).alias("mean100"),
        F.round("sigma", 6).alias("sigma100"),
        F.round(
            F.col("mean") - float(GUM_GAMMA) * F.col("sigma"), 6
        ).alias("mu100"),
        F.round(
            F.col("mean")
            - float(GUM_GAMMA) * F.col("sigma")
            + F.col("sigma") * float(GUM_C365),
            6,
        ).alias("return_level_365_100"),
    )


# ---------------------------------------------------------------------------
# forecast_backtest_coverage — does the naive band hold up? (r5s18)
# ---------------------------------------------------------------------------


@register(
    "forecast_backtest_coverage",
    oracle=f"""
    WITH d AS (SELECT CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT)
                        // 86400 AS day,
                      CAST(SUM({_V100}) AS BIGINT) AS y
               FROM events GROUP BY 1),
    r AS (SELECT a.day, a.y - b.y AS resid
          FROM d a JOIN d b ON b.day = a.day - 7),
    mid AS (SELECT (MIN(day) + MAX(day)) // 2 AS m FROM r),
    trn AS (SELECT resid FROM r WHERE day < (SELECT m FROM mid)),
    tc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM trn),
    cum AS (SELECT resid,
                   ROW_NUMBER() OVER (ORDER BY resid) AS rk
            FROM trn),
    band AS (SELECT
               (SELECT MIN(resid) FROM cum CROSS JOIN tc
                WHERE rk * 10 >= tc.n) AS lo,
               (SELECT MIN(resid) FROM cum CROSS JOIN tc
                WHERE rk * 10 >= tc.n * 9) AS hi),
    tst AS (SELECT resid FROM r WHERE day >= (SELECT m FROM mid))
    SELECT tc.n AS n_train,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM tst) AS n_test,
           CAST(band.lo AS BIGINT) AS band_lo_cents,
           CAST(band.hi AS BIGINT) AS band_hi_cents,
           (SELECT CAST(SUM(CASE WHEN resid BETWEEN band.lo AND band.hi
                                 THEN 1 ELSE 0 END) AS BIGINT)
            FROM tst) AS n_covered,
           (SELECT CAST(SUM(CASE WHEN resid BETWEEN band.lo AND band.hi
                                 THEN 1 ELSE 0 END) * 1000000 // COUNT(*)
                    AS BIGINT)
            FROM tst) AS coverage_micro
    FROM tc CROSS JOIN band
    """,
)
def forecast_backtest_coverage(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Backtest of the seasonal-naive forecast's prediction interval:
    one-step residuals y_d − y_{d−7} over the daily total-value
    series, the [p10, p90] residual band estimated on the FIRST half
    of the backtest window, and the fraction of SECOND-half residuals
    the band actually covers. A well-calibrated band covers ≈ 80%;
    materially less means the series drifted and every alert
    threshold derived from historical residuals (ts_anomaly_sigma's
    sigma, spc limits) is stale. This is the eval
    seasonal_naive_forecast ships without.

    Exactness: residuals are exact integer cents; the band edges are
    pure order statistics (10·rank ≥ n and 10·rank ≥ 9n — the QQ
    convention, no interpolation); coverage a truncating micro
    division.

    Scale shape: one daily aggregate, a days-sized lag-7 self-join,
    rank/coverage work on the residual table (hundreds of rows at
    any corpus size)."""
    d = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.expr("unix_timestamp(ts) div 86400").alias("day"))
        .agg(F.sum(F.expr(_V100)).cast("bigint").alias("y"))
    )
    a = d.select("day", "y")
    b = d.select((F.col("day") + 7).alias("day"), F.col("y").alias("yprev"))
    r = a.join(b, "day").select(
        "day", (F.col("y") - F.col("yprev")).alias("resid")
    )
    from dbt_project_spark.caching import persist_tracked

    r = persist_tracked(r)
    mid = r.agg(
        F.expr("(min(day) + max(day)) div 2").cast("bigint").alias("m")
    )
    rm = r.crossJoin(mid)
    trn = rm.filter(F.col("day") < F.col("m")).select("resid")
    trn = persist_tracked(trn)
    tc = trn.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    cum = trn.select(
        "resid", F.row_number().over(Window.orderBy("resid")).alias("rk")
    ).crossJoin(tc)
    lo = cum.filter(F.col("rk") * 10 >= F.col("n")).agg(
        F.min("resid").alias("lo")
    )
    hi = cum.filter(F.col("rk") * 10 >= F.col("n") * 9).agg(
        F.min("resid").alias("hi")
    )
    tst = rm.filter(F.col("day") >= F.col("m")).select("resid")
    cov = (
        tst.crossJoin(lo)
        .crossJoin(hi)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_test"),
            F.sum(
                F.when(
                    F.col("resid").between(F.col("lo"), F.col("hi")), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_covered"),
            F.expr(
                "CAST(SUM(CASE WHEN resid BETWEEN lo AND hi"
                " THEN 1 ELSE 0 END) * 1000000 div COUNT(*) AS BIGINT)"
            ).alias("coverage_micro"),
            F.min("lo").cast("bigint").alias("band_lo_cents"),
            F.min("hi").cast("bigint").alias("band_hi_cents"),
        )
    )
    return tc.crossJoin(cov).select(
        F.col("n").alias("n_train"),
        "n_test",
        "band_lo_cents",
        "band_hi_cents",
        "n_covered",
        "coverage_micro",
    )


# ---------------------------------------------------------------------------
# ts_variance_ratio — random walk or mean reversion? (r5s21)
# ---------------------------------------------------------------------------

VR_LAGS = (1, 2, 4, 8)


@register(
    "ts_variance_ratio",
    oracle=f"""
    WITH d AS (SELECT CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT)
                        // 86400 AS day,
                      CAST(SUM({_V100}) AS BIGINT) AS y
               FROM events GROUP BY 1),
    lg AS (SELECT unnest([{", ".join(str(q) for q in VR_LAGS)}]) AS q),
    df AS (SELECT lg.q, a.y - b.y AS dv
           FROM lg JOIN d a ON TRUE
           JOIN d b ON b.day = a.day - lg.q),
    m AS (SELECT q, CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(dv) AS BIGINT) AS s,
                 CAST(SUM(CAST(dv AS HUGEINT) * dv) AS HUGEINT) AS ss
          FROM df GROUP BY q),
    v AS (SELECT q, n,
                 (CAST(ss AS DOUBLE) - (CAST(s AS DOUBLE) / n) * s)
                     / (n - 1.0) AS var
          FROM m),
    base AS (SELECT var AS v1 FROM v WHERE q = 1)
    SELECT CAST(v.q AS BIGINT) AS q, v.n AS n_diffs,
           CASE WHEN base.v1 = 0 THEN NULL
                ELSE ROUND(v.var / (v.q * base.v1), 6) END AS vr
    FROM v CROSS JOIN base
    """,
)
def ts_variance_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lo-MacKinlay variance-ratio table of the daily total-value
    series: VR(q) = Var(q-day difference)/(q·Var(1-day difference))
    at q = 1, 2, 4, 8 — a random walk holds VR ≈ 1 at every horizon,
    mean reversion pulls it below 1, trending pushes above. The
    one-table answer to 'is this series forecastable at all?' that
    decides whether the smoothing/forecast family (ts_ewma,
    seasonal_naive, Brown) can beat a naive carry-forward.

    Exactness: q-day differences are exact integer cents; per-q
    moments are exact DECIMAL(38,0)/HUGEINT sums; each variance and
    the ratio are one fixed scalar double expression, ROUND 6; a
    degenerate zero base variance emits NULL.

    Scale shape: one daily aggregate; the 4-lag fan-out self-joins
    only the days table."""
    d = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.expr("unix_timestamp(ts) div 86400").alias("day"))
        .agg(F.sum(F.expr(_V100)).cast("bigint").alias("y"))
    )
    from dbt_project_spark.caching import persist_tracked

    d = persist_tracked(d)
    lg = literal_table(spark, [(q,) for q in VR_LAGS], "q bigint")
    a = d.select("day", "y")
    b = d.select(F.col("day").alias("bday"), F.col("y").alias("by"))
    df = (
        lg.crossJoin(a)
        .join(b, F.col("bday") == F.col("day") - F.col("q"))
        .select("q", (F.col("y") - F.col("by")).alias("dv"))
    )
    m = df.groupBy("q").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("dv").cast("bigint").alias("s"),
        F.expr("SUM(CAST(dv AS DECIMAL(38,0)) * dv)").alias("ss"),
    )
    v = m.select(
        "q",
        "n",
        (
            (
                F.col("ss").cast("double")
                - (F.col("s").cast("double") / F.col("n")) * F.col("s")
            )
            / (F.col("n") - 1.0)
        ).alias("var"),
    )
    # An ungrouped aggregate, so the planner sees the 1-row side.
    base = v.agg(F.max(F.when(F.col("q") == 1, F.col("var"))).alias("v1"))
    return v.crossJoin(base).select(
        F.col("q").cast("bigint").alias("q"),
        F.col("n").alias("n_diffs"),
        F.when(F.col("v1") == 0, F.lit(None))
        .otherwise(F.round(F.col("var") / (F.col("q") * F.col("v1")), 6))
        .alias("vr"),
    )


# ---------------------------------------------------------------------------
# seasonal_strength — STL-style seasonal-strength diagnostic (r6)
# ---------------------------------------------------------------------------


@register(
    "seasonal_strength",
    oracle="""
    WITH x AS (SELECT strftime(ts, '%Y-%m-%d') AS day,
                      CAST(COUNT(*) AS BIGINT) AS n FROM events GROUP BY 1),
    o AS (SELECT day, n,
                 CAST(SUM(n * 1000000) OVER w AS BIGINT) AS s7,
                 COUNT(*) OVER w AS c7
          FROM x
          WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING
                       AND 3 FOLLOWING)),
    det AS (SELECT day, isodow(CAST(day AS DATE)) AS dow,
                   n * 1000000 - (s7 // 7) AS det
            FROM o WHERE c7 = 7),
    seam AS (SELECT dow,
                    CAST(SUM(det) AS BIGINT) AS sd,
                    CAST(COUNT(*) AS BIGINT) AS cd
             FROM det GROUP BY dow),
    sea AS (SELECT dow,
                   CASE WHEN sd < 0 THEN -(abs(sd) // cd)
                        ELSE sd // cd END AS sea
            FROM seam),
    r AS (SELECT d.det, d.det - s.sea AS resid
          FROM det d JOIN sea s ON s.dow = d.dow),
    v AS (SELECT CAST(COUNT(*) AS HUGEINT) AS m,
                 CAST(SUM(det::HUGEINT * det) AS HUGEINT) AS sdd,
                 CAST(SUM(det) AS HUGEINT) AS sd1,
                 CAST(SUM(resid::HUGEINT * resid) AS HUGEINT) AS srr,
                 CAST(SUM(resid) AS HUGEINT) AS sr1
          FROM r)
    SELECT CAST(m AS BIGINT) AS n_days_interior,
           CAST(m * sdd - sd1 * sd1 AS VARCHAR) AS var_detrended_num,
           CAST(m * srr - sr1 * sr1 AS VARCHAR) AS var_resid_num,
           CASE WHEN m * sdd - sd1 * sd1 = 0 THEN NULL
                ELSE CAST(GREATEST(CAST(0 AS HUGEINT),
                          (m * sdd - sd1 * sd1) - (m * srr - sr1 * sr1))
                          * 1000000 // (m * sdd - sd1 * sd1) AS BIGINT)
           END AS strength_micro
    FROM v
    """,
)
def seasonal_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal strength of the daily event-rate series (Hyndman &
    Athanasopoulos FPP: F_s = max(0, 1 − Var(remainder)/Var(detrended))
    for a weekly period): the one number that says whether weekday
    seasonality is real enough to adjust for — ~0 means weekday means
    explain nothing, → 1 means the weekly profile dominates. The
    one-number summary ON TOP of the ts_decompose_daily machinery
    (which emits the full trend/seasonal/residual component table):
    same centered-MA trend and weekday means, reduced to Hyndman's
    variance ratio so a pipeline can threshold it; weekday_seasonality
    reports the per-day indices and dft_weekly_power the spectrum
    form.

    STL-lite, exact: trend = centered 7-day moving average over FULL
    windows only (edges drop — a partial window would bias the level);
    detrended values are micro-units with a floor trend; the weekly
    component is the per-ISO-weekday mean with sign-safe truncating
    division (Spark div truncates toward zero, DuckDB // floors — the
    CASE makes both truncate); both variance numerators are exact
    DECIMAL(38,0)/HUGEINT moments over the SAME row count, so the
    ratio needs no separate denominators and ships as exact decimal
    strings next to the clamped micro strength.

    Scale shape: one corpus-sized daily aggregate, then everything
    runs on the days-sized table (a 7-row frame, a ≤7-row weekday
    aggregate, one 1-row moment reduce)."""
    x = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    w7 = Window.orderBy("day").rowsBetween(-3, 3)
    o = x.select(
        "day",
        "n",
        F.sum(F.col("n") * 1_000_000).over(w7).cast("bigint").alias("s7"),
        F.count(F.lit(1)).over(w7).alias("c7"),
    )
    det = o.filter(F.col("c7") == 7).select(
        F.expr("weekday(to_date(day)) + 1").alias("dow"),
        (F.col("n") * 1_000_000 - F.expr("s7 div 7")).alias("det"),
    )
    from dbt_project_spark.caching import persist_tracked

    det = persist_tracked(det)
    sea = (
        det.groupBy("dow")
        .agg(
            F.sum("det").cast("bigint").alias("sd"),
            F.count(F.lit(1)).cast("bigint").alias("cd"),
        )
        .select(
            "dow",
            F.expr(
                "CASE WHEN sd < 0 THEN -(abs(sd) div cd)"
                " ELSE sd div cd END"
            ).alias("sea"),
        )
    )
    r = det.join(sea, "dow").select(
        "det", (F.col("det") - F.col("sea")).alias("resid")
    )
    v = r.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("m"),
        F.sum(F.col("det").cast("decimal(38,0)") * F.col("det")).alias("sdd"),
        F.sum("det").cast("decimal(38,0)").alias("sd1"),
        F.sum(F.col("resid").cast("decimal(38,0)") * F.col("resid")).alias(
            "srr"
        ),
        F.sum("resid").cast("decimal(38,0)").alias("sr1"),
    )
    return v.select(
        F.col("m").cast("bigint").alias("n_days_interior"),
        F.expr("CAST(m * sdd - sd1 * sd1 AS STRING)").alias(
            "var_detrended_num"
        ),
        F.expr("CAST(m * srr - sr1 * sr1 AS STRING)").alias("var_resid_num"),
        F.expr(
            "CASE WHEN m * sdd - sd1 * sd1 = 0 THEN NULL"
            " ELSE CAST(GREATEST(CAST(0 AS DECIMAL(38,0)),"
            " (m * sdd - sd1 * sd1) - (m * srr - sr1 * sr1))"
            " * 1000000 div (m * sdd - sd1 * sd1) AS BIGINT) END"
        ).alias("strength_micro"),
    )
