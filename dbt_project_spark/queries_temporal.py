"""Temporal-join family (round 3): last-touch attribution, interval
merge/coverage, and a point-in-time join against the SCD2 tier
history — the event-time operations between plain windows and a full
bitemporal store.

Determinism: all interval math is integer µs / epoch-day; windows
have total orders via the (ts, event_id) composite key; the single
float op anywhere is a final division.

Scale shapes: every window partitions by user_id (bounded per-user
state); the point-in-time join is an equi-join on user_id with an
interval filter — per-user version counts are small, so the filter
prunes a few rows per key, never a cross product.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dbt_project_spark.catalog import register
from dbt_project_spark.operators.joins import literal_table
from dbt_project_spark.queries_product import TIER_LOW_MAX, TIER_MID_MAX
from dbt_project_spark.sources import load_table

_EU = "CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT)"
_EP = "CAST(floor(epoch(ts)) AS BIGINT)"
_V100 = "CAST(round(value * 100, 0) AS BIGINT)"
# Zero-padded lexicographic == (ts, event_id) numeric order.
_OKEY_DUCK = (
    "strftime(CAST(ts AS TIMESTAMP), '%Y%m%d%H%M%S%f')"
    " || lpad(CAST(event_id AS VARCHAR), 12, '0')"
)
_OKEY_SPARK = (
    "concat(date_format(ts, 'yyyyMMddHHmmssSSS'), '000',"
    " lpad(cast(event_id as string), 12, '0'))"
)

COVER_SPAN_S = 300  # engagement half-open interval per event: 5 min


@register(
    "attribution_last_touch",
    oracle=f"""
    WITH e AS (SELECT event_id, user_id, event_type, {_EU} AS eu,
                      {_OKEY_DUCK} AS okey
               FROM events),
    a AS (SELECT event_id, user_id, event_type, eu,
                 last_value(CASE WHEN event_type <> 'purchase'
                                 THEN event_type END IGNORE NULLS) OVER w
                     AS touch_type,
                 last_value(CASE WHEN event_type <> 'purchase'
                                 THEN eu END IGNORE NULLS) OVER w AS touch_eu
          FROM e
          WINDOW w AS (PARTITION BY user_id ORDER BY okey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
    SELECT event_id, user_id,
           COALESCE(touch_type, 'none') AS attributed_type,
           CAST((eu - touch_eu) // 1000000 AS BIGINT) AS seconds_since_touch
    FROM a WHERE event_type = 'purchase'
    """,
)
def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase is credited to the user's
    most recent non-purchase event strictly before it (the marketing
    'what drove this conversion' question), with the touch→purchase
    latency in whole seconds. First-session purchases attribute to
    'none'.

    Scale shape: ONE user-partitioned window pass computes both the
    attributed type and its timestamp (two IGNORE NULLS running lasts
    over the same sort — one exchange, one sort); the purchase filter
    happens after, so no self-join and no per-purchase lookback scan.
    """
    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("eu"),
        F.expr(_OKEY_SPARK).alias("okey"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("okey")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.when(F.col("event_type") != "purchase", F.col("event_type"))
    touch_eu = F.when(F.col("event_type") != "purchase", F.col("eu"))
    a = e.select(
        "event_id",
        "user_id",
        "event_type",
        "eu",
        F.last(touch, ignorenulls=True).over(w).alias("touch_type"),
        F.last(touch_eu, ignorenulls=True).over(w).alias("touch_eu"),
    )
    return a.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        F.coalesce("touch_type", F.lit("none")).alias("attributed_type"),
        F.expr("(eu - touch_eu) div 1000000")
        .cast("bigint")
        .alias("seconds_since_touch"),
    )


@register(
    "interval_coverage",
    oracle=f"""
    WITH e AS (SELECT user_id, {_EU} AS s,
                      {_EU} + {COVER_SPAN_S} * 1000000 AS f,
                      {_OKEY_DUCK} AS okey
               FROM events),
    g AS (SELECT user_id, s, f, okey,
                 CASE WHEN max(f) OVER wp IS NULL
                        OR s > max(f) OVER wp THEN 1 ELSE 0 END AS new_island
          FROM e
          WINDOW wp AS (PARTITION BY user_id ORDER BY okey
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
    i AS (SELECT user_id, s, f,
                 SUM(new_island) OVER (PARTITION BY user_id ORDER BY okey
                     ROWS UNBOUNDED PRECEDING) AS island
          FROM g),
    m AS (SELECT user_id, island,
                 CAST(MAX(f) - MIN(s) AS BIGINT) AS span_us
          FROM i GROUP BY user_id, island)
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_islands,
           CAST(SUM(span_us) // 1000000 AS BIGINT) AS covered_sec
    FROM m GROUP BY user_id
    """,
)
def interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval union per user: every event opens a COVER_SPAN_S
    engagement interval; overlapping/touching intervals merge, and
    the query reports merged-island count and total covered seconds —
    the classic 'union of intervals' problem (naive per-second
    explode would be 300× the rows; a self-join would be quadratic).

    Scale shape: the merged islands come from the gaps-and-islands
    pattern — running max(end) over everything strictly before flags
    island starts, a prefix sum numbers them — two window passes over
    ONE user_id partitioning, then a users×islands aggregate. Sorting
    by event time makes starts monotone, so running-max-of-end is
    exactly interval merging.
    """
    span_us = COVER_SPAN_S * 1_000_000
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("s"),
        (F.unix_micros(F.col("ts").cast("timestamp")) + span_us).alias("f"),
        F.expr(_OKEY_SPARK).alias("okey"),
    )
    wp = (
        Window.partitionBy("user_id")
        .orderBy("okey")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev_max_f = F.max("f").over(wp)
    g = e.withColumn(
        "new_island",
        F.when(prev_max_f.isNull() | (F.col("s") > prev_max_f), 1).otherwise(0),
    )
    wi = (
        Window.partitionBy("user_id")
        .orderBy("okey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    i = g.withColumn("island", F.sum("new_island").over(wi))
    m = i.groupBy("user_id", "island").agg(
        (F.max("f") - F.min("s")).cast("bigint").alias("span_us")
    )
    return m.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_islands"),
        F.expr("sum(span_us) div 1000000").cast("bigint").alias("covered_sec"),
    )


@register(
    "scd2_point_in_time",
    oracle=f"""
    WITH d AS (SELECT user_id, {_EP} // 86400 AS ed, SUM({_V100}) AS v100
               FROM events GROUP BY 1, 2),
    t AS (SELECT user_id, ed,
                 CASE WHEN v100 < {TIER_LOW_MAX} THEN 'Low'
                      WHEN v100 < {TIER_MID_MAX} THEN 'Mid'
                      ELSE 'High' END AS tier
          FROM d),
    g AS (SELECT user_id, ed, tier,
                 CASE WHEN tier = LAG(tier) OVER w THEN 0 ELSE 1 END AS chg
          FROM t WINDOW w AS (PARTITION BY user_id ORDER BY ed)),
    i AS (SELECT user_id, ed, tier,
                 SUM(chg) OVER (PARTITION BY user_id ORDER BY ed
                                ROWS UNBOUNDED PRECEDING) AS island
          FROM g),
    iv AS (SELECT user_id, tier, CAST(island AS BIGINT) AS version,
                  MIN(ed) AS ed_from, MAX(ed) AS ed_to
           FROM i GROUP BY user_id, tier, island),
    e AS (SELECT user_id, {_EP} // 86400 AS ed, {_V100} AS v100 FROM events)
    SELECT e.user_id, iv.version, iv.tier,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(e.v100) AS BIGINT) / 100.0 AS total_value
    FROM e JOIN iv ON iv.user_id = e.user_id
                  AND e.ed BETWEEN iv.ed_from AND iv.ed_to
    GROUP BY e.user_id, iv.version, iv.tier
    """,
)
def scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join against the SCD2 tier history
    (scd2_user_tier's islands, kept in epoch-day space): every event
    joins to the tier version VALID AT its event day — the 'which
    dimension version was true then' join that makes type-2
    dimensions useful — then rolls up to (user, version, tier).

    Scale shape: the interval table is users×versions (small); the
    join is an equi-join on user_id with an interval filter, so each
    event compares against only its own user's few versions — never a
    range cross product. The SCD2 build itself reuses the one-
    partitioning islands pass (see queries_product.scd2_user_tier).
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .withColumn("ed", F.expr("unix_timestamp(ts) div 86400").cast("bigint"))
        .withColumn("v100", F.round(F.col("value") * 100, 0).cast("bigint"))
    )
    d = ev.groupBy("user_id", "ed").agg(F.sum("v100").alias("dv100"))
    t = d.withColumn(
        "tier",
        F.when(F.col("dv100") < TIER_LOW_MAX, "Low")
        .when(F.col("dv100") < TIER_MID_MAX, "Mid")
        .otherwise("High"),
    )
    w = Window.partitionBy("user_id").orderBy("ed")
    g = t.withColumn(
        "chg", F.when(F.col("tier") == F.lag("tier").over(w), 0).otherwise(1)
    )
    i = g.withColumn(
        "island",
        F.sum("chg").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    iv = i.groupBy("user_id", "tier", "island").agg(
        F.min("ed").alias("ed_from"), F.max("ed").alias("ed_to")
    )
    e = ev.select("user_id", "ed", "v100")
    joined = e.join(
        iv,
        on=[
            e.user_id == iv.user_id,
            e.ed >= iv.ed_from,
            e.ed <= iv.ed_to,
        ],
    )
    return joined.groupBy(
        e.user_id, F.col("island").cast("bigint").alias("version"), "tier"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.sum("v100").cast("bigint") / 100.0).alias("total_value"),
    )


ASOF_TOL_S = 600  # nearest-neighbor tolerance: ±10 min


@register(
    "asof_nearest_error",
    oracle=f"""
    WITH e AS (SELECT event_id, user_id, event_type, {_EU} AS eu,
                      {_OKEY_DUCK} AS okey
               FROM events WHERE event_type IN ('purchase', 'error')),
    m AS (SELECT event_id, user_id, event_type, eu,
                 last_value(CASE WHEN event_type = 'error'
                                 THEN event_id END IGNORE NULLS) OVER wb
                     AS b_id,
                 last_value(CASE WHEN event_type = 'error'
                                 THEN eu END IGNORE NULLS) OVER wb AS b_eu,
                 first_value(CASE WHEN event_type = 'error'
                                  THEN event_id END IGNORE NULLS) OVER wf
                     AS f_id,
                 first_value(CASE WHEN event_type = 'error'
                                  THEN eu END IGNORE NULLS) OVER wf AS f_eu
          FROM e
          WINDOW wb AS (PARTITION BY user_id ORDER BY okey
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                 wf AS (PARTITION BY user_id ORDER BY okey
                        ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)),
    p AS (SELECT event_id, user_id,
                 CASE WHEN b_eu IS NOT NULL
                           AND eu - b_eu <= {ASOF_TOL_S} * 1000000
                           AND (f_eu IS NULL
                                OR f_eu - eu > {ASOF_TOL_S} * 1000000
                                OR eu - b_eu <= f_eu - eu)
                      THEN 'before'
                      WHEN f_eu IS NOT NULL
                           AND f_eu - eu <= {ASOF_TOL_S} * 1000000
                      THEN 'after'
                      ELSE 'none' END AS side,
                 b_id, b_eu, f_id, f_eu, eu
          FROM m WHERE event_type = 'purchase')
    SELECT event_id, user_id, side,
           CASE side WHEN 'before' THEN b_id WHEN 'after' THEN f_id
                     ELSE -1 END AS nearest_error_id,
           CASE side WHEN 'before' THEN CAST((eu - b_eu) // 1000000 AS BIGINT)
                     WHEN 'after' THEN CAST((f_eu - eu) // 1000000 AS BIGINT)
                     ELSE CAST(-1 AS BIGINT) END AS delta_s
    FROM p
    """,
)
def asof_nearest_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-neighbor as-of join between two event streams: each
    purchase finds the same user's NEAREST 'error' event within
    ±ASOF_TOL_S (the 'did a failure surround this conversion'
    diagnostic) — the merge_asof(direction='nearest', tolerance=...)
    surface, completing the as-of ladder (asof_last_signup is
    direction='backward').

    Ties (equidistant before/after) resolve to 'before'; purchases
    with no error in tolerance emit side='none' with -1 sentinels
    (scalar schema, no nulls). Total order: the zero-padded
    (ts, event_id) okey shared with the attribution queries.

    Scale shape: ONE user-partitioned sort computes both directions —
    a running IGNORE NULLS last over the preceding frame and first
    over the following frame (one exchange, one sort, two frame
    passes); the nearest choice is per-row arithmetic. No self-join,
    no per-purchase lookback scan, bounded per-user state.
    """
    tol_us = ASOF_TOL_S * 1_000_000
    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("purchase", "error"))
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("eu"),
            F.expr(_OKEY_SPARK).alias("okey"),
        )
    )
    err_id = F.when(F.col("event_type") == "error", F.col("event_id"))
    err_eu = F.when(F.col("event_type") == "error", F.col("eu"))
    wb = (
        Window.partitionBy("user_id")
        .orderBy("okey")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy("okey")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    m = e.select(
        "event_id",
        "user_id",
        "event_type",
        "eu",
        F.last(err_id, ignorenulls=True).over(wb).alias("b_id"),
        F.last(err_eu, ignorenulls=True).over(wb).alias("b_eu"),
        F.first(err_id, ignorenulls=True).over(wf).alias("f_id"),
        F.first(err_eu, ignorenulls=True).over(wf).alias("f_eu"),
    ).filter(F.col("event_type") == "purchase")
    b_ok = F.col("b_eu").isNotNull() & (
        (F.col("eu") - F.col("b_eu")) <= tol_us
    )
    f_ok = F.col("f_eu").isNotNull() & (
        (F.col("f_eu") - F.col("eu")) <= tol_us
    )
    side = (
        F.when(
            b_ok
            & (
                ~f_ok
                | ((F.col("eu") - F.col("b_eu")) <= (F.col("f_eu") - F.col("eu")))
            ),
            "before",
        )
        .when(f_ok, "after")
        .otherwise("none")
    )
    p = m.withColumn("side", side)
    return p.select(
        "event_id",
        "user_id",
        "side",
        F.when(F.col("side") == "before", F.col("b_id"))
        .when(F.col("side") == "after", F.col("f_id"))
        .otherwise(-1)
        .alias("nearest_error_id"),
        F.when(
            F.col("side") == "before",
            F.expr("(eu - b_eu) div 1000000"),
        )
        .when(F.col("side") == "after", F.expr("(f_eu - eu) div 1000000"))
        .otherwise(-1)
        .cast("bigint")
        .alias("delta_s"),
    )


TT_CUTOFF = "1998-07-01"  # AS OF reconstruction point
TT_UPD_MOD = 7  # orders getting a price correction (+$100, day +10)
TT_DEL_MOD = 13  # orders cancelled (delete op, day +20)
_P100 = "CAST(round(o_totalprice * 100, 0) AS BIGINT)"


@register(
    "time_travel_asof",
    oracle=f"""
    WITH log AS (
      SELECT o_orderkey AS k, 'I' AS op, o_orderdate AS od,
             {_P100} AS p100, o_orderstatus AS st
      FROM orders
      UNION ALL
      SELECT o_orderkey, 'U', o_orderdate + INTERVAL 10 DAY,
             {_P100} + 10000, o_orderstatus
      FROM orders WHERE o_orderkey % {TT_UPD_MOD} = 0
      UNION ALL
      SELECT o_orderkey, 'D', o_orderdate + INTERVAL 20 DAY,
             NULL, o_orderstatus
      FROM orders WHERE o_orderkey % {TT_DEL_MOD} = 0),
    vis AS (SELECT * FROM log
            WHERE od <= TIMESTAMP '{TT_CUTOFF} 00:00:00'),
    latest AS (SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY k
                      ORDER BY od DESC, op DESC) AS rn
        FROM vis) WHERE rn = 1),
    state AS (SELECT * FROM latest WHERE op <> 'D')
    SELECT st AS o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(p100) AS BIGINT) / 100.0 AS total_price
    FROM state GROUP BY st
    """,
)
def time_travel_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lakehouse-style time travel WITHOUT a lakehouse: reconstruct
    the orders table AS OF TT_CUTOFF from an append-only change log
    (insert at order date; a deterministic slice of orders receives a
    later price-correction UPDATE and another a cancelling DELETE),
    by taking each key's LATEST visible operation — the general
    latest-op-wins replay that backs CDC consumers, snapshot rollback,
    and incremental MERGE sources (see table_diff_cdc for producing
    such a log, plans/project.py merge for applying one forward).

    Scale shape: the log union is three scans of the same table
    (in production: one log scan); the replay is ONE key-partitioned
    window over ops visible at the cutoff — state size is keys×ops,
    and the cutoff filter prunes before the shuffle. The rollup is a
    statuses-sized aggregate. No join against the base table at all:
    the log is self-sufficient, which is exactly why CDC logs enable
    time travel.
    """
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderdate").alias("od"),
        F.expr(_P100).alias("p100"),
        F.col("o_orderstatus").alias("st"),
    )
    ins = o.select("k", F.lit("I").alias("op"), "od", "p100", "st")
    upd = (
        o.filter(F.col("k") % TT_UPD_MOD == 0)
        .select(
            "k",
            F.lit("U").alias("op"),
            F.expr("od + INTERVAL 10 DAY").alias("od"),
            (F.col("p100") + 10000).alias("p100"),
            "st",
        )
    )
    dele = (
        o.filter(F.col("k") % TT_DEL_MOD == 0)
        .select(
            "k",
            F.lit("D").alias("op"),
            F.expr("od + INTERVAL 20 DAY").alias("od"),
            F.lit(None).cast("bigint").alias("p100"),
            "st",
        )
    )
    vis = (
        ins.unionByName(upd)
        .unionByName(dele)
        .filter(F.col("od") <= F.lit(f"{TT_CUTOFF} 00:00:00").cast("timestamp"))
    )
    w = Window.partitionBy("k").orderBy(F.desc("od"), F.desc("op"))
    state = (
        vis.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("op") != "D"))
    )
    return state.groupBy(F.col("st").alias("o_orderstatus")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        (F.sum("p100").cast("bigint") / 100.0).alias("total_price"),
    )


# --- U-shaped multi-touch attribution (r4s3) ---


@register(
    "attribution_u_shape",
    oracle=f"""
    WITH e AS (SELECT user_id, event_type, {_OKEY_DUCK} AS okey,
                      CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_p
               FROM events),
    j AS (SELECT user_id, event_type, okey, is_p,
                 COALESCE(SUM(is_p) OVER (PARTITION BY user_id ORDER BY okey
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                     AS jid
          FROM e),
    t AS (SELECT user_id, jid, event_type, okey FROM j WHERE is_p = 0),
    p AS (SELECT DISTINCT user_id, jid FROM j WHERE is_p = 1),
    s AS (SELECT user_id, jid, CAST(COUNT(*) AS BIGINT) AS n,
                 MIN(okey) AS fk, MAX(okey) AS lk
          FROM t GROUP BY 1, 2),
    c AS (SELECT t.event_type,
                 CASE WHEN s.n = 1 THEN 10000
                      WHEN t.okey = s.fk THEN
                        CASE WHEN s.n = 2 THEN 5000 ELSE 4000 END
                      WHEN t.okey = s.lk THEN
                        CASE WHEN s.n = 2 THEN 5000
                             ELSE 4000 + 2000 - (2000 // (s.n - 2)) * (s.n - 2)
                        END
                      ELSE 2000 // (s.n - 2) END AS bp
          FROM t
          JOIN s ON s.user_id = t.user_id AND s.jid = t.jid
          JOIN p ON p.user_id = t.user_id AND p.jid = t.jid)
    SELECT event_type AS touch_type,
           CAST(COUNT(*) AS BIGINT) AS n_touches,
           CAST(SUM(bp) AS BIGINT) AS credit_bp
    FROM c GROUP BY event_type
    """,
)
def attribution_u_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based (U-shaped) MULTI-touch attribution, the
    fractional-credit companion to attribution_last_touch: each
    purchase closes a journey (the touches since the previous
    purchase), and its 10000 basis points split 40/20/40 — 4000 to
    the first touch, 4000 to the last, 2000 spread over the middles
    (1 touch → 10000, 2 touches → 5000/5000). Credits are exact
    integers; the middle split's truncation remainder goes to the
    last touch, so every journey's credits sum to exactly 10000 —
    the auditability property float credit splits can't give.
    Journeys with no closing purchase (touches after the user's last
    purchase) earn nothing.

    Scale shape: journey ids are a prefix sum over the ONE user
    partitioning every attribution query here shares; journey stats
    (n/first/last) are journey-sized aggregates equi-joined back on
    (user, journey) — no per-purchase lookback scan, no self-join on
    ranges.
    """
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.expr(_OKEY_SPARK).alias("okey"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("is_p"),
    )
    wj = (
        Window.partitionBy("user_id")
        .orderBy("okey")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    j = e.withColumn("jid", F.coalesce(F.sum("is_p").over(wj), F.lit(0)))
    t = j.filter(F.col("is_p") == 0).select("user_id", "jid", "event_type", "okey")
    p = j.filter(F.col("is_p") == 1).select("user_id", "jid").distinct()
    s = t.groupBy("user_id", "jid").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.min("okey").alias("fk"),
        F.max("okey").alias("lk"),
    )
    c = (
        t.join(s, ["user_id", "jid"])
        .join(p, ["user_id", "jid"], "left_semi")
        .withColumn(
            "bp",
            F.expr(
                "CASE WHEN n = 1 THEN 10000"
                " WHEN okey = fk THEN CASE WHEN n = 2 THEN 5000 ELSE 4000 END"
                " WHEN okey = lk THEN CASE WHEN n = 2 THEN 5000"
                "   ELSE 4000 + 2000 - (2000 div (n - 2)) * (n - 2) END"
                " ELSE 2000 div (n - 2) END"
            ),
        )
    )
    return c.groupBy(F.col("event_type").alias("touch_type")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_touches"),
        F.sum("bp").cast("bigint").alias("credit_bp"),
    )


# ---------------------------------------------------------------------------
# attribution_markov_removal — Markov removal-effect attribution (r05)
# ---------------------------------------------------------------------------

MK_CHANNELS = ["click", "view", "signup", "error"]  # purchase = conversion
MK_ITERS = 24  # fixed absorption iterations (unrolled in the oracle)
# transition-table bound for the driver fixed point: states² rows with
# states = distinct event_type + START/CONV/NULL — single-digit on any
# real event log; 4096 rows ≈ a 60-state chain, far past plausible
_MK_DRIVER_MAX = 4096


def _markov_removal_driver(spark: SparkSession, prows) -> DataFrame:
    """Exact Python-int replay of the distributed removal-effect loop
    over a collected (src, dst, p_micro) transition table: same
    variant construction, same states = {src} ∪ {CONV, NULL} (a dst
    that never occurs as src joins nothing — skipped, as the
    distributed join drops it), same 24 rounds of
    Σ(p_micro·vm) div 1e6 with CONV/NULL pinned (all quantities
    non-negative, so // is Spark's truncating div), same
    removal-effect and attribution arithmetic. Bit-identity is pinned
    by tests/test_markov_driver_kernel.py against the distributed
    path."""
    base_p = [(r["src"], r["dst"], int(r["p_micro"])) for r in prows]
    schema = (
        "channel string, base_conv_micro bigint, removed_conv_micro bigint,"
        " removal_effect_micro bigint, attribution_micro bigint"
    )

    def absorb(variant: str):
        tp = []
        for src, dst, pm in base_p:
            if variant != "base" and src == variant:
                continue
            d = "NULL" if (variant != "base" and dst == variant) else dst
            tp.append((src, d, pm))
        states = {s for s, _, _ in tp} | {"CONV", "NULL"}
        v = {st: (1_000_000 if st == "CONV" else 0) for st in states}
        for _ in range(MK_ITERS):
            s: dict[str, int] = {}
            for src, dst, pm in tp:
                if dst in v:
                    s[src] = s.get(src, 0) + pm * v[dst]
            v = {
                st: (
                    1_000_000
                    if st == "CONV"
                    else 0
                    if st == "NULL"
                    else s.get(st, 0) // 1_000_000
                )
                for st in states
            }
        return v.get("START")

    rows = []
    bv = absorb("base")
    if bv is not None:
        chans = [(c, absorb(c)) for c in MK_CHANNELS]
        chans = [(c, rv) for c, rv in chans if rv is not None]
        s_tot = sum(max(bv - rv, 0) for _, rv in chans)
        for c, rv in chans:
            re_ = max(bv - rv, 0)
            attr = (re_ * 1_000_000) // s_tot if s_tot > 0 else 0
            rows.append((c, bv, rv, re_, attr))
    return spark.createDataFrame(rows, schema)


def _markov_oracle() -> str:
    channels = ", ".join(f"'{c}'" for c in MK_CHANNELS)
    head = f"""
    WITH ev AS (SELECT user_id, event_type,
                       ROW_NUMBER() OVER (PARTITION BY user_id
                                          ORDER BY {_OKEY_DUCK}) AS rn
                FROM events),
    firstp AS (SELECT user_id,
                      COALESCE(MIN(CASE WHEN event_type = 'purchase'
                                        THEN rn END), 1 << 40) AS fp,
                      MAX(rn) AS mx
               FROM ev GROUP BY user_id),
    j AS (SELECT e.user_id,
                 CASE WHEN e.event_type = 'purchase' THEN 'CONV'
                      ELSE e.event_type END AS st,
                 e.rn, f.fp, f.mx
          FROM ev e JOIN firstp f ON f.user_id = e.user_id
          WHERE e.rn <= f.fp),
    steps AS (
      SELECT user_id, 'START' AS src, st AS dst FROM j WHERE rn = 1
      UNION ALL
      SELECT a.user_id, a.st AS src, b.st AS dst
      FROM j a JOIN j b ON b.user_id = a.user_id AND b.rn = a.rn + 1
      UNION ALL
      SELECT user_id, st AS src, 'NULL' AS dst
      FROM j WHERE rn = mx AND fp > mx),
    cnt AS (SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS c
            FROM steps GROUP BY src, dst),
    tot AS (SELECT src, CAST(SUM(c) AS BIGINT) AS t FROM cnt GROUP BY src),
    p AS MATERIALIZED (SELECT cnt.src, cnt.dst,
                 CAST(cnt.c * 1000000 // tot.t AS BIGINT) AS p_micro
          FROM cnt JOIN tot ON tot.src = cnt.src),
    vars AS (SELECT unnest(['base', {channels}]) AS variant),
    tp AS MATERIALIZED (SELECT v.variant, p.src,
                  CASE WHEN v.variant != 'base' AND p.dst = v.variant
                       THEN 'NULL' ELSE p.dst END AS dst,
                  p.p_micro
           FROM p CROSS JOIN vars v
           WHERE NOT (v.variant != 'base' AND p.src = v.variant)),
    states AS MATERIALIZED (SELECT DISTINCT variant, src AS st FROM tp
               UNION SELECT variant, 'CONV' FROM vars
               UNION SELECT variant, 'NULL' FROM vars),
    v0 AS MATERIALIZED (SELECT variant, st,
                  CAST(CASE WHEN st = 'CONV' THEN 1000000 ELSE 0 END
                       AS BIGINT) AS vm
           FROM states)"""
    its = []
    for i in range(1, MK_ITERS + 1):
        its.append(f"""
    s{i} AS (SELECT t.variant, t.src AS st,
                    CAST(SUM(t.p_micro * v.vm) // 1000000 AS BIGINT) AS vm
             FROM tp t JOIN v{i - 1} v
               ON v.variant = t.variant AND v.st = t.dst
             GROUP BY t.variant, t.src),
    v{i} AS MATERIALIZED (SELECT st.variant, st.st,
                    CAST(CASE WHEN st.st = 'CONV' THEN 1000000
                              WHEN st.st = 'NULL' THEN 0
                              ELSE COALESCE(s.vm, 0) END AS BIGINT) AS vm
             FROM states st LEFT JOIN s{i} s
               ON s.variant = st.variant AND s.st = st.st)""")
    tail = f""",
    res AS (SELECT variant, vm FROM v{MK_ITERS} WHERE st = 'START'),
    base AS (SELECT vm AS bv FROM res WHERE variant = 'base'),
    re AS (SELECT r.variant AS channel,
                  b.bv AS base_conv_micro,
                  r.vm AS removed_conv_micro,
                  GREATEST(b.bv - r.vm, 0) AS removal_effect_micro
           FROM res r CROSS JOIN base b WHERE r.variant != 'base'),
    tot_re AS (SELECT CAST(SUM(removal_effect_micro) AS BIGINT) AS s FROM re)
    SELECT re.channel, re.base_conv_micro, re.removed_conv_micro,
           re.removal_effect_micro,
           CAST(CASE WHEN t.s > 0
                THEN re.removal_effect_micro * 1000000 // t.s
                ELSE 0 END AS BIGINT) AS attribution_micro
    FROM re CROSS JOIN tot_re t
    """
    return head + "," + ",".join(its) + tail


@register("attribution_markov_removal", oracle=_markov_oracle())
def attribution_markov_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov removal-effect attribution (the data-driven alternative
    to last-touch/U-shape heuristics, standard in marketing science):
    user journeys become a first-order Markov chain over channels with
    START/CONV/NULL absorbing structure (journeys truncate at the
    first purchase); a channel's credit is how much the START→CONV
    absorption probability DROPS when that channel's inbound edges are
    redirected to NULL — channels whose removal doesn't hurt get no
    credit, however often they appear.

    Exactness: transition probabilities are truncating integer
    micro-units of BASE counts; absorption runs MK_ITERS fixed
    synchronous iterations of v ← T·v where each update is
    Σ(p_micro·v_micro) // 1e6 — exact BIGINT products summed before
    ONE floor, bit-identical across engines (a float power-iteration
    could never hash-gate). 24 iterations ≈ the longest plausible
    journey; absorbing states are pinned each round.

    Scale shape: journeys need one user-partitioned window over
    events; everything after is (channels+3)²-sized — the variant
    dimension rides as a COLUMN (one dataflow, not one plan per
    variant), and each tiny iteration persists so the 24-round chain
    stays shallow. At 100 TB the events window is the only real cost.
    """
    from dbt_project_spark.caching import bounded_collect, persist_tracked

    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.expr(_OKEY_SPARK).alias("ok")
    )
    w = Window.partitionBy("user_id").orderBy("ok")
    ev = e.withColumn("rn", F.row_number().over(w)).select(
        "user_id", "event_type", "rn"
    )
    firstp = ev.groupBy("user_id").agg(
        F.coalesce(
            F.min(F.when(F.col("event_type") == "purchase", F.col("rn"))),
            F.lit(1 << 40),
        ).alias("fp"),
        F.max("rn").alias("mx"),
    )
    j = persist_tracked(
        ev.join(firstp, "user_id")
        .filter(F.col("rn") <= F.col("fp"))
        .select(
            "user_id",
            F.when(F.col("event_type") == "purchase", F.lit("CONV"))
            .otherwise(F.col("event_type"))
            .alias("st"),
            "rn",
            "fp",
            "mx",
        )
    )
    start = j.filter(F.col("rn") == 1).select(
        F.lit("START").alias("src"), F.col("st").alias("dst")
    )
    # r13 (guide §2.4): consecutive-step pairs via lead() over the SAME
    # (user_id, rn) partitioning the journey window already
    # established, instead of a rn+1 equi-self-join that shuffled j
    # twice. rn is row_number (dense, unique per user) and j keeps the
    # full prefix rn ≤ fp, so lead(st) is exactly the old join's st2.
    wl = Window.partitionBy("user_id").orderBy("rn")
    mid = (
        j.withColumn("st2", F.lead("st").over(wl))
        .filter(F.col("st2").isNotNull())
        .select(F.col("st").alias("src"), F.col("st2").alias("dst"))
    )
    end = j.filter((F.col("rn") == F.col("mx")) & (F.col("fp") > F.col("mx"))).select(
        F.col("st").alias("src"), F.lit("NULL").alias("dst")
    )
    steps = start.unionByName(mid).unionByName(end)
    cnt = steps.groupBy("src", "dst").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    tot = cnt.groupBy("src").agg(F.sum("c").cast("bigint").alias("t"))
    p = cnt.join(tot, "src").select(
        "src", "dst", F.expr("CAST(c * 1000000 div t AS BIGINT)").alias("p_micro")
    )
    # r13 (the graph-family driver fixed-point pattern, VERDICT r12
    # task 1's sibling): after the one events window, everything is
    # (states+3)²-sized — 24 rounds of tiny Spark jobs were pure
    # scheduling overhead (sweep: 20.4 s at sf0.1, ~15 s of it the
    # loop). When the transition table is bounded, collect it once and
    # run the identical truncating-integer recurrence in Python ints;
    # the distributed loop below remains for a pathological
    # high-cardinality event_type corpus.
    prows = bounded_collect(p, _MK_DRIVER_MAX)
    if prows is not None:
        return _markov_removal_driver(spark, prows)
    variants = literal_table(
        spark, [("base",)] + [(c,) for c in MK_CHANNELS], "variant string"
    )
    tp = persist_tracked(
        p.crossJoin(variants)
        .filter(~((F.col("variant") != "base") & (F.col("src") == F.col("variant"))))
        .select(
            "variant",
            "src",
            F.when(
                (F.col("variant") != "base") & (F.col("dst") == F.col("variant")),
                F.lit("NULL"),
            )
            .otherwise(F.col("dst"))
            .alias("dst"),
            "p_micro",
        )
    )
    states = persist_tracked(
        tp.select("variant", F.col("src").alias("st"))
        .union(variants.select("variant", F.lit("CONV").alias("st")))
        .union(variants.select("variant", F.lit("NULL").alias("st")))
        .distinct()
    )
    v = persist_tracked(
        states.select(
            "variant",
            "st",
            F.when(F.col("st") == "CONV", F.lit(1000000))
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("vm"),
        )
    )
    v.count()
    from dbt_project_spark.caching import RoundCache

    rounds = RoundCache(1)
    for _ in range(MK_ITERS):
        s = (
            tp.join(
                v.select(
                    "variant", F.col("st").alias("dst"), F.col("vm").alias("dvm")
                ),
                on=["variant", "dst"],
            )
            .groupBy("variant", "src")
            .agg(
                F.expr("CAST(SUM(p_micro * dvm) div 1000000 AS BIGINT)").alias(
                    "svm"
                )
            )
            .select("variant", F.col("src").alias("st"), "svm")
        )
        nv = states.join(s, on=["variant", "st"], how="left").select(
            "variant",
            "st",
            F.when(F.col("st") == "CONV", F.lit(1000000))
            .when(F.col("st") == "NULL", F.lit(0))
            .otherwise(F.coalesce("svm", F.lit(0)))
            .cast("bigint")
            .alias("vm"),
        )
        # lineage truncation every round: persistence bounds EXECUTION
        # but the logical plan still nests per iteration — 24 rounds
        # of joins OOM the driver at planning time without a
        # checkpoint (the bfs_hops discipline; tables here are tiny
        # so every-round truncation is free). RoundCache(1): each
        # round's checkpoint supersedes the last, so blocks are freed
        # per round instead of accumulating 24 rounds until a GC.
        v = rounds.advance(nv)
    res = v.filter(F.col("st") == "START").select("variant", "vm")
    base = res.filter(F.col("variant") == "base").select(
        F.col("vm").alias("bv")
    )
    re = (
        res.filter(F.col("variant") != "base")
        .crossJoin(base)
        .select(
            F.col("variant").alias("channel"),
            F.col("bv").alias("base_conv_micro"),
            F.col("vm").alias("removed_conv_micro"),
            F.greatest(F.col("bv") - F.col("vm"), F.lit(0))
            .cast("bigint")
            .alias("removal_effect_micro"),
        )
    )
    tot_re = re.agg(
        F.sum("removal_effect_micro").cast("bigint").alias("s")
    )
    return re.crossJoin(tot_re).select(
        "channel",
        "base_conv_micro",
        "removed_conv_micro",
        "removal_effect_micro",
        F.expr(
            "CAST(CASE WHEN s > 0 THEN removal_effect_micro * 1000000 div s"
            " ELSE 0 END AS BIGINT)"
        ).alias("attribution_micro"),
    )


# ---------------------------------------------------------------------------
# attribution_time_decay (r5s4) — completes the attribution quartet
# ---------------------------------------------------------------------------

TD_HALFLIFE_DAYS = 7  # credit halves every 7 days before the purchase


@register(
    "attribution_time_decay",
    oracle=f"""
    WITH e AS (SELECT event_id, user_id, event_type, {_EU} AS eu,
                      {_OKEY_DUCK} AS okey
               FROM events WHERE user_id IS NOT NULL),
    j AS (SELECT event_id, user_id, event_type, eu,
                 COALESCE(SUM(CASE WHEN event_type = 'purchase'
                              THEN 1 ELSE 0 END)
                     OVER (PARTITION BY user_id ORDER BY okey
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND 1 PRECEDING), 0) AS jid
          FROM e),
    p AS (SELECT user_id, jid, event_id AS pid, eu AS peu
          FROM j WHERE event_type = 'purchase'),
    t AS (SELECT user_id, jid, event_type, eu
          FROM j WHERE event_type <> 'purchase'),
    tw AS (SELECT p.pid, t.event_type,
                  CAST(1000000 // (1::BIGINT << LEAST(
                       (p.peu - t.eu) // 604800000000, 40)) AS BIGINT) AS w
           FROM t JOIN p ON p.user_id = t.user_id AND p.jid = t.jid),
    sw AS (SELECT pid, CAST(SUM(w) AS BIGINT) AS tot FROM tw GROUP BY pid),
    cr AS (SELECT tw.event_type,
                  CAST(tw.w * 1000000 // sw.tot AS BIGINT) AS credit
           FROM tw JOIN sw ON sw.pid = tw.pid)
    SELECT event_type AS touch_type,
           CAST(COUNT(*) AS BIGINT) AS n_touches,
           CAST(SUM(credit) AS BIGINT) AS credit_micro
    FROM cr GROUP BY 1
    """,
)
def attribution_time_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decay attribution — the fourth member of the standard
    quartet (last-touch / U-shape / Markov removal / here): every
    touch in a purchase's journey (the touches since the user's
    previous purchase) gets credit ∝ 2^-weeks(Δ) — recent touches
    weigh more, halving every {TD_HALFLIFE_DAYS} days in whole-week
    steps — normalized per journey so each purchase distributes
    exactly 1.0 of credit (up to truncation), aggregated per touch
    channel.

    Determinism: the decay is PURE INTEGER — Δ truncates to whole
    weeks and the weight is 10⁶ >> weeks (capped at 2⁴⁰). The first
    draft used round(pow(0.5, days/7)·10⁶) and measurably diverged:
    JVM Math.pow and DuckDB's libm pow disagree at 1 ulp for
    fractional exponents, which the ×1e6 rounding then amplifies
    into off-by-one weights. The dyadic step function is the
    portable form; journey normalization stays an exact integer
    division.

    Scale shape: journey segmentation is one user-partitioned
    running sum (the attribution family's shared window shape);
    touch→purchase matching is an equi-join on (user, journey_id) —
    never a time-range join; the rest is two grouped aggregates."""
    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("eu"),
            F.expr(_OKEY_SPARK).alias("okey"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("okey")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    j = e.withColumn(
        "jid",
        F.coalesce(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).over(w),
            F.lit(0),
        ),
    )
    from dbt_project_spark.caching import persist_tracked

    j = persist_tracked(j)
    p = j.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "jid",
        F.col("event_id").alias("pid"),
        F.col("eu").alias("peu"),
    )
    t = j.filter(F.col("event_type") != "purchase").select(
        "user_id", "jid", "event_type", "eu"
    )
    tw = t.join(p, ["user_id", "jid"]).select(
        "pid",
        "event_type",
        F.expr(
            "CAST(1000000 div shiftleft(CAST(1 AS BIGINT),"
            " CAST(least((peu - eu) div 604800000000, 40) AS INT))"
            " AS BIGINT)"
        ).alias("w"),
    )
    tw = persist_tracked(tw)
    sw = tw.groupBy("pid").agg(F.sum("w").cast("bigint").alias("tot"))
    cr = tw.join(sw, "pid").select(
        "event_type",
        F.expr("CAST(w * 1000000 div tot AS BIGINT)").alias("credit"),
    )
    return cr.groupBy(F.col("event_type").alias("touch_type")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_touches"),
        F.sum("credit").cast("bigint").alias("credit_micro"),
    )
