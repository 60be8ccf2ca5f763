"""Governance / feature-engineering family (round 4, session 3):
the checks and derived signals a warehouse team runs AROUND the
analytics — a dbt-style data-quality audit (the "Dbt-project" in the
reference's name ships schema tests; reference: Dbt-project README /
models' schema.yml pattern), credit-scoring WOE/IV feature binning,
a seasonal-naive forecast backtest, frequent event-sequence mining,
and a mergeable bottom-k quantile sample rollup.

Float determinism follows the repo conventions: money as ×100
BIGINT fixed-point, irrational (ln / ratio) terms computed as ONE
double expression scaled to ×1e9 BIGINT and summed in integer space,
final division ROUNDed at 6.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dbt_project_spark.catalog import register
from dbt_project_spark.sources import load_table

_V100 = "CAST(round(value * 100, 0) AS BIGINT)"

# ---------------------------------------------------------------------------
# dq_audit — dbt-style expectation suite as one auditable result set
# ---------------------------------------------------------------------------

_EVENT_TYPES = ("view", "click", "purchase", "error", "signup")
_ORDER_STATUSES = ("O", "F", "P")


@register(
    "dq_audit",
    oracle=f"""
    WITH o AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                      CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_keys,
                      CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O','F','P')
                                      OR o_orderstatus IS NULL
                                    THEN 1 ELSE 0 END) AS BIGINT) AS status_viol,
                      CAST(SUM(CASE WHEN o_totalprice IS NULL OR o_totalprice <= 0
                                    THEN 1 ELSE 0 END) AS BIGINT) AS price_viol
               FROM orders),
    ri AS (SELECT CAST(COUNT(*) AS BIGINT) AS orphans
           FROM orders WHERE o_custkey NOT IN
                (SELECT c_custkey FROM customer WHERE c_custkey IS NOT NULL)),
    l AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(CASE WHEN l_quantity IS NULL OR l_quantity < 1
                                 OR l_quantity > 50
                               THEN 1 ELSE 0 END) AS BIGINT) AS qty_viol
          FROM lineitem),
    e AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(CASE WHEN event_type NOT IN
                               ('view','click','purchase','error','signup')
                                 OR event_type IS NULL
                               THEN 1 ELSE 0 END) AS BIGINT) AS type_viol,
                 CAST(SUM(CASE WHEN value IS NULL OR value < 0
                               THEN 1 ELSE 0 END) AS BIGINT) AS value_viol,
                 CAST(SUM(CASE WHEN user_id IS NULL
                               THEN 1 ELSE 0 END) AS BIGINT) AS user_viol
          FROM events),
    d AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(CASE WHEN text IS NULL OR length(text) = 0
                               THEN 1 ELSE 0 END) AS BIGINT) AS text_viol
          FROM documents)
    SELECT check_name, tbl, rows_checked, violations,
           violations = 0 AS passed
    FROM (
      SELECT 'orders_orderkey_unique' AS check_name, 'orders' AS tbl,
             n AS rows_checked, n - n_keys AS violations FROM o
      UNION ALL
      SELECT 'orders_custkey_ri_customer', 'orders', o.n, ri.orphans
      FROM o, ri
      UNION ALL
      SELECT 'orders_status_accepted', 'orders', n, status_viol FROM o
      UNION ALL
      SELECT 'orders_totalprice_positive', 'orders', n, price_viol FROM o
      UNION ALL
      SELECT 'lineitem_quantity_range', 'lineitem', n, qty_viol FROM l
      UNION ALL
      SELECT 'events_type_accepted', 'events', n, type_viol FROM e
      UNION ALL
      SELECT 'events_value_nonnegative', 'events', n, value_viol FROM e
      UNION ALL
      SELECT 'events_user_not_null', 'events', n, user_viol FROM e
      UNION ALL
      SELECT 'documents_text_nonempty', 'documents', n, text_viol FROM d
    ) checks
    """,
)
def dq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dbt-style data-quality expectation suite over four tables:
    uniqueness (orders.o_orderkey), referential integrity
    (orders.o_custkey → customer), accepted-values (order status /
    event type), range (l_quantity ∈ [1,50], value ≥ 0,
    o_totalprice > 0), not-null (user_id), and non-empty text —
    one auditable row per check with violation counts. This is the
    reference's dbt schema-test surface re-expressed as a single
    result set the warehouse can alert on per ingest batch.

    Scale shape: ONE conditional-aggregate pass per table (map-side
    combined — no per-check rescans), plus the RI check's left-anti
    join on the key (shuffle hash join; at 100 TB neither side is
    broadcastable and anti-join is the only shape that doesn't
    materialize matches). The check rows themselves are 1-row
    aggregates unioned driver-light.
    """
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    lineitem = load_table(spark, sf_dir, "lineitem")
    events = load_table(spark, sf_dir, "events")
    documents = load_table(spark, sf_dir, "documents")

    o = orders.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("o_orderkey").alias("n_keys"),
        F.sum(
            F.when(
                ~F.col("o_orderstatus").isin(*_ORDER_STATUSES)
                | F.col("o_orderstatus").isNull(),
                1,
            ).otherwise(0)
        ).alias("status_viol"),
        F.sum(
            F.when(
                F.col("o_totalprice").isNull() | (F.col("o_totalprice") <= 0), 1
            ).otherwise(0)
        ).alias("price_viol"),
    )
    ri = (
        orders.join(
            customer.select(F.col("c_custkey")).where(
                F.col("c_custkey").isNotNull()
            ),
            orders.o_custkey == F.col("c_custkey"),
            "left_anti",
        )
        .agg(F.count(F.lit(1)).alias("orphans"))
    )
    l = lineitem.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when(
                F.col("l_quantity").isNull()
                | (F.col("l_quantity") < 1)
                | (F.col("l_quantity") > 50),
                1,
            ).otherwise(0)
        ).alias("qty_viol"),
    )
    e = events.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when(
                ~F.col("event_type").isin(*_EVENT_TYPES)
                | F.col("event_type").isNull(),
                1,
            ).otherwise(0)
        ).alias("type_viol"),
        F.sum(
            F.when(F.col("value").isNull() | (F.col("value") < 0), 1).otherwise(0)
        ).alias("value_viol"),
        F.sum(F.when(F.col("user_id").isNull(), 1).otherwise(0)).alias(
            "user_viol"
        ),
    )
    d = documents.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when(F.col("text").isNull() | (F.length("text") == 0), 1).otherwise(
                0
            )
        ).alias("text_viol"),
    )

    def row(src: DataFrame, check: str, tbl: str, viol):
        return src.select(
            F.lit(check).alias("check_name"),
            F.lit(tbl).alias("tbl"),
            F.col("n").cast("bigint").alias("rows_checked"),
            viol.cast("bigint").alias("violations"),
        )

    checks = (
        row(o, "orders_orderkey_unique", "orders", F.col("n") - F.col("n_keys"))
        .unionByName(
            row(
                o.crossJoin(ri),
                "orders_custkey_ri_customer",
                "orders",
                F.col("orphans"),
            )
        )
        .unionByName(row(o, "orders_status_accepted", "orders", F.col("status_viol")))
        .unionByName(
            row(o, "orders_totalprice_positive", "orders", F.col("price_viol"))
        )
        .unionByName(row(l, "lineitem_quantity_range", "lineitem", F.col("qty_viol")))
        .unionByName(row(e, "events_type_accepted", "events", F.col("type_viol")))
        .unionByName(
            row(e, "events_value_nonnegative", "events", F.col("value_viol"))
        )
        .unionByName(row(e, "events_user_not_null", "events", F.col("user_viol")))
        .unionByName(
            row(d, "documents_text_nonempty", "documents", F.col("text_viol"))
        )
    )
    return checks.withColumn("passed", F.col("violations") == 0)


# ---------------------------------------------------------------------------
# woe_iv_value — WOE / Information Value feature binning
# ---------------------------------------------------------------------------

WOE_BUCKET = 5_000  # $50 fixed-width value buckets (same as PSI)


@register(
    "woe_iv_value",
    oracle=f"""
    WITH e AS (SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS conv,
                      {_V100} // {WOE_BUCKET} AS bkt
               FROM events),
    c AS (SELECT bkt, CAST(SUM(conv) AS BIGINT) AS g,
                 CAST(SUM(1 - conv) AS BIGINT) AS b
          FROM e GROUP BY bkt),
    t AS (SELECT CAST(SUM(g) AS BIGINT) AS gt, CAST(SUM(b) AS BIGINT) AS bt
          FROM c),
    terms AS (
      SELECT c.bkt, c.g, c.b,
             CAST(round(ln((c.g * 1.0 / t.gt) / (c.b * 1.0 / t.bt))
                        * 1000000000) AS BIGINT) AS woe9,
             CAST(round(((c.g * 1.0 / t.gt) - (c.b * 1.0 / t.bt))
                        * ln((c.g * 1.0 / t.gt) / (c.b * 1.0 / t.bt))
                        * 1000000000) AS BIGINT) AS term9
      FROM c, t WHERE c.g > 0 AND c.b > 0)
    SELECT bkt, g AS n_conv, b AS n_nonconv,
           CAST(CASE WHEN woe9 < 0 THEN -(abs(woe9) // 1000)
                     ELSE woe9 // 1000 END AS BIGINT) AS woe_micro,
           CAST(SUM(term9) OVER () // 1000 AS BIGINT) AS iv_micro
    FROM terms
    """,
)
def woe_iv_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-Evidence / Information Value of the value column
    against purchase conversion (the credit-scoring feature-binning
    classic): per $50 bucket, WOE = ln(share-of-converters /
    share-of-non-converters); IV = Σ (g−b)·WOE quantifies the
    feature's predictive power. Buckets with a zero class are skipped
    (standard practice — WOE is undefined there).

    Scale shape: one events pass → bucket aggregate (map-side
    combined, bucket-count-sized shuffle); totals as a 1-row
    broadcast; WOE/IV terms follow the ×1e9 integer-fixed-point sum
    convention (see module docstring) so the statistic is bit-stable
    across engines and partitionings. The IV window runs over the
    bucket table (≤ value-domain/50 rows), not events.
    """
    e = load_table(spark, sf_dir, "events").select(
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("conv"),
        F.expr(f"{_V100} div {WOE_BUCKET}").alias("bkt"),
    )
    c = e.groupBy("bkt").agg(
        F.sum("conv").cast("bigint").alias("g"),
        F.sum(F.lit(1) - F.col("conv")).cast("bigint").alias("b"),
    )
    t = c.agg(
        F.sum("g").cast("bigint").alias("gt"),
        F.sum("b").cast("bigint").alias("bt"),
    )
    terms = (
        c.crossJoin(t)
        .where((F.col("g") > 0) & (F.col("b") > 0))
        .select(
            "bkt",
            "g",
            "b",
            # CAST AS DOUBLE, not `* 1.0`: Spark parses bare decimal
            # literals as DECIMAL and the decimal division truncates at
            # ~1e-7 (measured — same pitfall benford_first_digit hit).
            F.expr(
                "CAST(round(ln((CAST(g AS DOUBLE) / gt)"
                " / (CAST(b AS DOUBLE) / bt))"
                " * 1000000000) AS BIGINT)"
            ).alias("woe9"),
            F.expr(
                "CAST(round(((CAST(g AS DOUBLE) / gt)"
                " - (CAST(b AS DOUBLE) / bt))"
                " * ln((CAST(g AS DOUBLE) / gt)"
                " / (CAST(b AS DOUBLE) / bt))"
                " * 1000000000) AS BIGINT)"
            ).alias("term9"),
        )
    )
    w = Window.partitionBy()
    # Truncating micro-unit output (woe9//1000 via an abs/sign split so
    # Spark's toward-zero div and DuckDB's flooring // agree on negative
    # WOE): a measured ROUND(.,6) half-boundary mismatch — same failure
    # mode benford_first_digit hit — pushed this family onto the repo's
    # truncation convention. IV terms are ≥0, so plain div suffices.
    return terms.select(
        "bkt",
        F.col("g").alias("n_conv"),
        F.col("b").alias("n_nonconv"),
        F.expr(
            "CAST(CASE WHEN woe9 < 0 THEN -(abs(woe9) div 1000)"
            " ELSE woe9 div 1000 END AS BIGINT)"
        ).alias("woe_micro"),
        F.sum("term9").over(w).cast("bigint").alias("__iv9"),
    ).select(
        "bkt",
        "n_conv",
        "n_nonconv",
        "woe_micro",
        F.expr("CAST(__iv9 div 1000 AS BIGINT)").alias("iv_micro"),
    )


# ---------------------------------------------------------------------------
# seasonal_naive_forecast — 7-day seasonal-naive backtest
# ---------------------------------------------------------------------------

SEASON_LAG_DAYS = 7


@register(
    "seasonal_naive_forecast",
    oracle=f"""
    WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d,
                          CAST(SUM({_V100}) AS BIGINT) AS tot
                   FROM events GROUP BY 1, 2),
    j AS (SELECT a.event_type, a.tot AS actual, b.tot AS fc
          FROM daily a JOIN daily b
            ON b.event_type = a.event_type
           AND b.d = a.d - {SEASON_LAG_DAYS}),
    terms AS (SELECT event_type, actual, fc,
                     CAST(round(2000000000.0 * abs(actual - fc)
                                / (actual + fc)) AS BIGINT) AS smape9
              FROM j WHERE actual + fc > 0)
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(abs(actual - fc)) AS BIGINT) AS mae_cents,
           CAST(SUM(actual - fc) AS BIGINT) AS bias_cents,
           ROUND((SUM(smape9) * 1.0 / COUNT(*)) / 1000000000.0, 6) AS smape
    FROM terms GROUP BY event_type
    """,
)
def seasonal_naive_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast backtest: predict each day's per-type
    revenue as the value exactly 7 days earlier (the baseline every
    real forecasting system must beat), then score MAE, bias, and
    sMAPE over the days where the lag exists. Joining on calendar
    arithmetic (d−7), not LAG(7 rows), keeps the semantics correct on
    sparse series — a missing day yields no forecast rather than a
    silently shifted one.

    Scale shape: events collapse to a (type × day) aggregate FIRST
    (map-side combined), so the self-join and scoring run on a
    days-sized table regardless of event volume. Daily totals are
    exact ×100 BIGINTs; each sMAPE term is one double expression
    ×2e9 → BIGINT, summed in integer space (module convention).
    """
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            "event_type", F.to_date("ts").alias("d")
        )
        .agg(F.sum(F.expr(_V100)).cast("bigint").alias("tot"))
    )
    a = daily.alias("a")
    b = daily.alias("b")
    j = a.join(
        b,
        (F.col("b.event_type") == F.col("a.event_type"))
        & (F.col("b.d") == F.date_sub(F.col("a.d"), SEASON_LAG_DAYS)),
    ).select(
        F.col("a.event_type").alias("event_type"),
        F.col("a.tot").alias("actual"),
        F.col("b.tot").alias("fc"),
    )
    terms = j.where(F.col("actual") + F.col("fc") > 0).withColumn(
        "smape9",
        # CAST AS DOUBLE: a bare 2000000000.0 literal would be DECIMAL
        # in Spark SQL and silently change the division's precision.
        F.expr(
            "CAST(round(CAST(2000000000 AS DOUBLE) * abs(actual - fc)"
            " / (actual + fc)) AS BIGINT)"
        ),
    )
    return terms.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum(F.abs(F.col("actual") - F.col("fc")))
        .cast("bigint")
        .alias("mae_cents"),
        F.sum(F.col("actual") - F.col("fc")).cast("bigint").alias("bias_cents"),
        F.round(
            (F.sum("smape9") * F.lit(1.0) / F.count(F.lit(1)))
            / 1000000000.0,
            6,
        ).alias("smape"),
    )


# ---------------------------------------------------------------------------
# seq_trigram_support — frequent event-sequence (trigram) mining
# ---------------------------------------------------------------------------

SEQ_TOP_K = 20

_OKEY_SPARK = (
    "concat(date_format(ts, 'yyyyMMddHHmmssSSS'), '000',"
    " lpad(cast(event_id as string), 12, '0'))"
)
_OKEY_DUCK = (
    "strftime(CAST(ts AS TIMESTAMP), '%Y%m%d%H%M%S%f')"
    " || lpad(CAST(event_id AS VARCHAR), 12, '0')"
)


@register(
    "seq_trigram_support",
    oracle=f"""
    WITH e AS (SELECT user_id, strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
                      event_type, {_OKEY_DUCK} AS okey
               FROM events),
    g AS (SELECT event_type AS t1,
                 lead(event_type, 1) OVER w AS t2,
                 lead(event_type, 2) OVER w AS t3
          FROM e WINDOW w AS (PARTITION BY user_id, day ORDER BY okey)),
    tri AS (SELECT t1 || '>' || t2 || '>' || t3 AS trigram
            FROM g WHERE t3 IS NOT NULL)
    SELECT trigram, CAST(COUNT(*) AS BIGINT) AS support
    FROM tri GROUP BY trigram
    ORDER BY support DESC, trigram
    LIMIT {SEQ_TOP_K}
    """,
)
def seq_trigram_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent behavioral sequences: the top-{K} most common
    3-event-type subsequences within per-(user, day) ordered paths —
    the first iteration of sequential-pattern mining (PrefixSpan-
    style support counting restricted to contiguous trigrams, which
    is what funnels/recommenders actually consume). Trigrams never
    span a day boundary (same rule both engines).

    Scale shape: the lead() windows ride ONE (user, day)
    partitioning (same exchange as the journey/sessionization
    family); the trigram alphabet is |types|³ ≤ 125, so the support
    aggregate is map-side combined into a tiny table and top-k is a
    TakeOrderedAndProject (no global sort of data rows). Deterministic
    tie-break: (support DESC, trigram ASC).
    """
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        "event_type",
        F.expr(_OKEY_SPARK).alias("okey"),
    )
    w = Window.partitionBy("user_id", "day").orderBy("okey")
    g = e.select(
        F.col("event_type").alias("t1"),
        F.lead("event_type", 1).over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"),
    )
    tri = g.where(F.col("t3").isNotNull()).select(
        F.concat_ws(">", "t1", "t2", "t3").alias("trigram")
    )
    return (
        tri.groupBy("trigram")
        .agg(F.count(F.lit(1)).cast("bigint").alias("support"))
        .orderBy(F.desc("support"), F.asc("trigram"))
        .limit(SEQ_TOP_K)
    )


# ---------------------------------------------------------------------------
# quantile_sketch_rollup — mergeable bottom-k quantile sample
# ---------------------------------------------------------------------------

QSK_K = 1024  # bottom-k sample size (rank se at p50 ≈ 1.6%)
QSK_SALTS = 16


@register(
    "quantile_sketch_rollup",
    oracle=f"""
    WITH s AS (SELECT {_V100} AS v100
               FROM events
               ORDER BY md5('qsk|' || CAST(event_id AS VARCHAR)), event_id
               LIMIT {QSK_K}),
    est AS (SELECT CAST(COUNT(*) AS BIGINT) AS sample_k,
                   ROUND(quantile_cont(v100, 0.5) / 100.0, 6) AS est_p50,
                   ROUND(quantile_cont(v100, 0.9) / 100.0, 6) AS est_p90
            FROM s)
    SELECT sample_k, est_p50, est_p90,
           TRUE AS p50_in_rank_tol, TRUE AS p90_in_rank_tol
    FROM est
    """,
)
def quantile_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable QUANTILE sample columns, the percentile twin of
    hll_sketch_rollup: each day keeps the K events with the smallest
    md5(event_id) — a deterministic uniform sample that MERGES by
    'bottom-k of the union of bottom-ks' (every global bottom-k
    element is in its own day's bottom-k, so the month sample equals
    the global bottom-k with no second pass over raw events). Month
    p50/p90 estimates come from the merged sample and are gated in
    RANK space (must land inside exact p45..p55 / p86..p94 — ±5%/±4%
    rank windows ≈ 3σ at K={QSK_K}; the sample is hash-deterministic,
    so the gate is stable per dataset, not a per-run coin flip).

    Scale shape: per-day bottom-k via two-phase windows — (day, salt)
    partial bottom-k bounds every sort to a partition shard, then the
    day-level pass sorts ≤ SALTS·K survivors, and the month merge
    sorts ≤ days·K rows (sketch-sized, not data-sized). The estimate
    itself hash-gates exactly: both engines interpolate the same
    integer multiset. Oracle emits literal TRUE for the rank gates
    (drift flips the boolean and fails the value hash), matching the
    hll/approx sketch-entry convention.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        F.expr(_V100).alias("v100"),
        # 'qsk|' salt: the synthetic generator derives `value` from a
        # hash of event_id, so UNSALTED md5(event_id) correlates with
        # value (measured: sample p50 at true rank 0.447, a 3.4σ bias).
        # Salting re-keys the sample independently of the generator.
        F.md5(F.concat(F.lit("qsk|"), F.col("event_id").cast("string"))).alias(
            "h"
        ),
        F.pmod(F.col("event_id"), F.lit(QSK_SALTS)).alias("salt"),
    )
    w1 = Window.partitionBy("day", "salt").orderBy("h", "event_id")
    w2 = Window.partitionBy("day").orderBy("h", "event_id")
    w3 = Window.partitionBy().orderBy("h", "event_id")
    daily = (
        ev.withColumn("rn", F.row_number().over(w1))
        .where(F.col("rn") <= QSK_K)
        .withColumn("rn2", F.row_number().over(w2))
        .where(F.col("rn2") <= QSK_K)
    )
    sample = daily.withColumn("rn3", F.row_number().over(w3)).where(
        F.col("rn3") <= QSK_K
    )
    est = sample.agg(
        F.count(F.lit(1)).cast("bigint").alias("sample_k"),
        F.round(F.expr("percentile(v100, 0.5)") / 100.0, 6).alias("est_p50"),
        F.round(F.expr("percentile(v100, 0.9)") / 100.0, 6).alias("est_p90"),
        F.expr("percentile(v100, 0.5)").alias("__a50"),
        F.expr("percentile(v100, 0.9)").alias("__a90"),
    )
    exact = load_table(spark, sf_dir, "events").agg(
        F.expr(f"percentile({_V100}, 0.45)").alias("__lo50"),
        F.expr(f"percentile({_V100}, 0.55)").alias("__hi50"),
        F.expr(f"percentile({_V100}, 0.86)").alias("__lo90"),
        F.expr(f"percentile({_V100}, 0.94)").alias("__hi90"),
    )
    return est.crossJoin(exact).select(
        "sample_k",
        "est_p50",
        "est_p90",
        (
            (F.col("__a50") >= F.col("__lo50"))
            & (F.col("__a50") <= F.col("__hi50"))
        ).alias("p50_in_rank_tol"),
        (
            (F.col("__a90") >= F.col("__lo90"))
            & (F.col("__a90") <= F.col("__hi90"))
        ).alias("p90_in_rank_tol"),
    )


# ---------------------------------------------------------------------------
# join_size_sample_estimate — optimizer-style join cardinality estimation
# ---------------------------------------------------------------------------

JSE_K = 512  # key-domain sample size


@register(
    "join_size_sample_estimate",
    oracle=f"""
    WITH fo AS (SELECT o_custkey AS k, CAST(COUNT(*) AS BIGINT) AS f
                FROM orders GROUP BY 1),
    fe AS (SELECT user_id AS k, CAST(COUNT(*) AS BIGINT) AS f
           FROM events WHERE user_id IS NOT NULL GROUP BY 1),
    dom AS (SELECT DISTINCT k FROM (SELECT k FROM fo UNION ALL SELECT k FROM fe)),
    d AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_keys FROM dom),
    samp AS (SELECT k FROM dom
             ORDER BY md5('jse|' || CAST(k AS VARCHAR)), k
             LIMIT {JSE_K}),
    exact AS (SELECT CAST(COALESCE(SUM(fo.f * fe.f), 0) AS BIGINT) AS exact_rows
              FROM fo JOIN fe ON fe.k = fo.k),
    est AS (SELECT CAST(COUNT(*) AS BIGINT) AS sample_k,
                   CAST(COALESCE(SUM(fo.f * fe.f), 0) AS BIGINT) AS s
            FROM samp LEFT JOIN fo ON fo.k = samp.k
                      LEFT JOIN fe ON fe.k = samp.k)
    SELECT exact.exact_rows,
           CAST(est.s * d.n_keys // est.sample_k AS BIGINT) AS est_rows,
           d.n_keys, est.sample_k,
           abs(est.s * d.n_keys // est.sample_k - exact.exact_rows) * 10
             <= exact.exact_rows * 3 AS within_30pct
    FROM exact, est, d
    """,
)
def join_size_sample_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality estimation WITHOUT running the join — the
    optimizer-statistics primitive: |orders ⋈ events ON custkey =
    user_id| = Σ_k f_orders(k)·f_events(k), estimated from a
    deterministic bottom-k-by-salted-md5 sample of the joint KEY
    domain, scaled by domain-size/sample-size. The exact count (for
    the gate) also comes from the frequency vectors — a keys-sized
    aggregate join, never the row-level join itself.

    Scale shape: each side collapses to its per-key frequency vector
    first (map-side combined); the domain, sample, and estimate are
    all keys-sized. The bottom-k sort rides the same two-phase
    pattern as quantile_sketch_rollup at scale (here the domain is
    small enough for TakeOrdered). All arithmetic is exact BIGINT
    (truncating div), so the estimate itself hash-gates cross-engine;
    the ±30% boolean is decided in integer space (×10 vs ×3).
    """
    from dbt_project_spark.caching import persist_tracked

    orders = load_table(spark, sf_dir, "orders")
    events = load_table(spark, sf_dir, "events")
    # The keys-sized frequency vectors feed THREE consumers each
    # (domain, exact, estimate) — persist them so the base tables are
    # scanned exactly once (measured: uncached, orders and events are
    # each scanned twice).
    fo = persist_tracked(
        orders.groupBy(F.col("o_custkey").alias("k")).agg(
            F.count(F.lit(1)).cast("bigint").alias("f")
        )
    )
    fe = persist_tracked(
        events.where(F.col("user_id").isNotNull())
        .groupBy(F.col("user_id").alias("k"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("f"))
    )
    dom = (
        fo.select("k").unionAll(fe.select("k")).distinct()
    )
    d = dom.agg(F.count(F.lit(1)).cast("bigint").alias("n_keys"))
    samp = (
        dom.withColumn(
            "h", F.md5(F.concat(F.lit("jse|"), F.col("k").cast("string")))
        )
        .orderBy("h", "k")
        .limit(JSE_K)
        .select("k")
    )
    exact = (
        fo.join(fe, "k")
        .agg(
            F.coalesce(F.sum(fo.f * fe.f), F.lit(0))
            .cast("bigint")
            .alias("exact_rows")
        )
    )
    est = (
        samp.join(fo, "k", "left")
        .withColumnRenamed("f", "fo_f")
        .join(fe, "k", "left")
        .withColumnRenamed("f", "fe_f")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("sample_k"),
            F.coalesce(F.sum(F.col("fo_f") * F.col("fe_f")), F.lit(0))
            .cast("bigint")
            .alias("s"),
        )
    )
    return (
        exact.crossJoin(est)
        .crossJoin(d)
        .select(
            "exact_rows",
            F.expr("CAST(s * n_keys div sample_k AS BIGINT)").alias("est_rows"),
            "n_keys",
            "sample_k",
            F.expr(
                "abs(s * n_keys div sample_k - exact_rows) * 10"
                " <= exact_rows * 3"
            ).alias("within_30pct"),
        )
    )


# ---------------------------------------------------------------------------
# incremental_rollup_merge — algebraic partial-aggregate maintenance
# ---------------------------------------------------------------------------

ROLLUP_INCR_DAYS = 5  # trailing days treated as the "new" batch


@register(
    "incremental_rollup_merge",
    oracle=f"""
    SELECT user_id, event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM({_V100}) AS BIGINT) AS total_cents
    FROM events WHERE user_id IS NOT NULL
    GROUP BY user_id, event_type
    """,
)
def incremental_rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-rollup maintenance: the per-(user,
    type) count/sum rollup is 'materialized' from all events older
    than the trailing {ROLLUP_INCR_DAYS}-day batch, then the batch's
    PARTIAL aggregate is MERGED in (union + re-aggregate of two
    rollup-sized tables) — the algebraic-MV/dbt-incremental update
    path. The oracle is the full recompute: the gate asserts the
    incremental result is indistinguishable from rebuilding, which is
    the entire contract of incremental materialization.

    Scale shape: count/sum are algebraic, so the merge never touches
    base rows — the daily job aggregates ONLY the new batch (O(batch))
    and combines with the stored rollup (O(groups)). The split point
    is data-derived (max ts − {ROLLUP_INCR_DAYS} days), mirroring a
    watermark-driven incremental model.
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull())
        .select(
            "user_id",
            "event_type",
            F.unix_timestamp("ts").alias("ep"),
            F.expr(_V100).alias("v100"),
        )
    )
    cutoff = ev.agg(
        (F.max("ep") - F.lit(ROLLUP_INCR_DAYS * 86400)).alias("cut")
    )
    ev = ev.crossJoin(cutoff)

    def rollup(df: DataFrame) -> DataFrame:
        return df.groupBy("user_id", "event_type").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum("v100").cast("bigint").alias("total_cents"),
        )

    base = rollup(ev.where(F.col("ep") < F.col("cut")))  # the "stored" MV
    delta = rollup(ev.where(F.col("ep") >= F.col("cut")))  # the new batch
    return (
        base.unionByName(delta)
        .groupBy("user_id", "event_type")
        .agg(
            F.sum("n_events").cast("bigint").alias("n_events"),
            F.sum("total_cents").cast("bigint").alias("total_cents"),
        )
    )


# ---------------------------------------------------------------------------
# k_anonymity_audit — privacy/compliance risk profile
# ---------------------------------------------------------------------------

KANON_K = 5  # the standard "safe harbor" group-size floor
KANON_VBUCKET = 500  # $5 quasi-identifier value buckets


@register(
    "k_anonymity_audit",
    oracle=f"""
    WITH q AS (SELECT event_type,
                      {_V100} // {KANON_VBUCKET} AS vb,
                      strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day
               FROM events),
    g AS (SELECT CAST(COUNT(*) AS BIGINT) AS sz
          FROM q GROUP BY event_type, vb, day)
    SELECT CAST(SUM(sz) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(MIN(sz) AS BIGINT) AS k_min,
           CAST(SUM(CASE WHEN sz < {KANON_K} THEN 1 ELSE 0 END) AS BIGINT)
               AS groups_lt_k,
           CAST(SUM(CASE WHEN sz < {KANON_K} THEN sz ELSE 0 END) AS BIGINT)
               AS rows_lt_k,
           CAST(SUM(CASE WHEN sz < {KANON_K} THEN sz ELSE 0 END) * 1000000
                // SUM(sz) AS BIGINT) AS risky_micro
    FROM g
    """,
)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity risk profile over the quasi-identifier tuple
    (event_type, $5 value bucket, day): the minimum equivalence-class
    size, how many classes fall below k=5 (KANON_K), and what fraction
    of ROWS sit in those re-identifiable classes — the number a
    privacy review needs before a dataset (or a training corpus with
    user-derived features) ships. Release decisions key off
    risky_micro, not k_min alone: one singleton in a billion rows is
    a different situation than 10% of rows in small classes.

    Scale shape: one map-side-combined aggregate to class sizes
    (classes ≪ rows), then a classes-sized summary — the same
    two-level aggregate any GROUP BY runs; nothing row-wise leaves
    the first exchange. Exact integer output end-to-end.
    """
    q = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr(f"{_V100} div {KANON_VBUCKET}").alias("vb"),
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
    )
    g = q.groupBy("event_type", "vb", "day").agg(
        F.count(F.lit(1)).cast("bigint").alias("sz")
    )
    return g.agg(
        F.sum("sz").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.min("sz").cast("bigint").alias("k_min"),
        F.sum(F.when(F.col("sz") < KANON_K, 1).otherwise(0))
        .cast("bigint")
        .alias("groups_lt_k"),
        F.sum(F.when(F.col("sz") < KANON_K, F.col("sz")).otherwise(0))
        .cast("bigint")
        .alias("rows_lt_k"),
        F.expr(
            f"CAST(SUM(CASE WHEN sz < {KANON_K} THEN sz ELSE 0 END) * 1000000"
            " div SUM(sz) AS BIGINT)"
        ).alias("risky_micro"),
    )


# ---------------------------------------------------------------------------
# dp_noisy_daily_counts — differential-privacy release with seeded noise (r05)
# ---------------------------------------------------------------------------

DP_EPS_MICRO = 500_000  # ε = 0.5 (Laplace scale 1/ε = 2 for count queries)


@register(
    "dp_noisy_daily_counts",
    oracle=f"""
    WITH c AS (SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
                      event_type,
                      CAST(COUNT(*) AS BIGINT) AS n
               FROM events GROUP BY 1, 2),
    u AS (SELECT day, event_type, n,
                 ('0x' || substr(md5(day || '|' || event_type), 1, 8))::BIGINT
                     % 999999 + 1 AS u_micro
          FROM c),
    lap AS (SELECT day, event_type, n, u_micro,
                   CASE WHEN u_micro >= 500000 THEN 1 ELSE -1 END AS s,
                   1000000 - 2 * ABS(u_micro - 500000) AS mag_micro
            FROM u),
    nz AS (SELECT day, event_type, n,
                  CAST(-s * 2 * CAST(round(ln(mag_micro / 1000000.0)
                       * 1000000000) AS BIGINT) AS BIGINT) AS noise_nano
           FROM lap)
    SELECT day, event_type, n AS true_n, noise_nano,
           n + noise_nano // 1000000000 AS noisy_n
    FROM nz
    """,
)
def dp_noisy_daily_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differential-privacy count release: per-(day, type) event
    counts plus Laplace(1/ε) noise, ε = 0.5 — the governance
    primitive for publishing usage aggregates without exposing any
    single user's contribution (sensitivity 1 for counts). Noise is
    SEEDED from the group key (md5 → uniform → inverse-CDF Laplace),
    which is what makes the query re-runnable and testable: a given
    release is one fixed draw, and the oracle replays it exactly.
    true_n rides along for the utility-error audit — a production
    release would project it away (and rotate the seed per release).

    Exactness: the uniform is an integer in (0,1) micro-units; the
    one irrational op, ln(mag), goes through the round-to-nano
    convention (woe_iv/kaplan_meier precedent); the noisy count uses
    a truncating integer division of nano-units.

    Scale shape: one events-sized aggregate, then per-group scalar
    arithmetic. Nothing else moves.
    """
    c = load_table(spark, sf_dir, "events").groupBy(
        F.date_format("ts", "yyyy-MM-dd").alias("day"), "event_type"
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    from dbt_project_spark.functions.expressions import md5_int

    u = c.withColumn(
        "u_micro",
        md5_int(F.concat_ws("|", "day", "event_type")) % 999999 + 1,
    )
    lap = u.select(
        "day",
        "event_type",
        "n",
        F.when(F.col("u_micro") >= 500000, F.lit(1))
        .otherwise(F.lit(-1))
        .alias("s"),
        (F.lit(1000000) - 2 * F.abs(F.col("u_micro") - 500000)).alias(
            "mag_micro"
        ),
    )
    nz = lap.select(
        "day",
        "event_type",
        "n",
        (
            -F.col("s")
            * 2
            * F.round(F.log(F.col("mag_micro") / 1000000.0) * 1000000000)
            .cast("bigint")
        )
        .cast("bigint")
        .alias("noise_nano"),
    )
    return nz.select(
        "day",
        "event_type",
        F.col("n").alias("true_n"),
        "noise_nano",
        (F.col("n") + F.expr("noise_nano div 1000000000"))
        .cast("bigint")
        .alias("noisy_n"),
    )


# ---------------------------------------------------------------------------
# l_diversity_audit — sensitive-attribute diversity per QI class (r5s6)
# ---------------------------------------------------------------------------

LDIV_L = 3  # distinct-l-diversity floor


@register(
    "l_diversity_audit",
    oracle=f"""
    WITH q AS (SELECT event_type,
                      {_V100} // {KANON_VBUCKET} AS vb,
                      strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day
               FROM events),
    g AS (SELECT vb, day,
                 CAST(COUNT(*) AS BIGINT) AS sz,
                 CAST(COUNT(DISTINCT event_type) AS BIGINT) AS l
          FROM q GROUP BY vb, day)
    SELECT CAST(SUM(sz) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(MIN(l) AS BIGINT) AS l_min,
           CAST(SUM(CASE WHEN l = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS classes_l1,
           CAST(SUM(CASE WHEN l = 1 THEN sz ELSE 0 END) AS BIGINT)
               AS rows_l1,
           CAST(SUM(CASE WHEN l < {LDIV_L} THEN 1 ELSE 0 END) AS BIGINT)
               AS classes_lt_l,
           CAST(SUM(CASE WHEN l < {LDIV_L} THEN sz ELSE 0 END) AS BIGINT)
               AS rows_lt_l,
           CAST(SUM(CASE WHEN l < {LDIV_L} THEN sz ELSE 0 END) * 1000000
                // SUM(sz) AS BIGINT) AS risky_micro
    FROM g
    """,
)
def l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct l-diversity audit — k-anonymity's necessary companion
    (k_anonymity_audit): a quasi-identifier class can be large (k-safe)
    yet still leak if every row in it shares the SAME sensitive value.
    QI = ($5 value bucket, day) — the k-anonymity tuple minus the
    sensitive attribute (event_type), whose within-class distinct
    count is l. Homogeneous classes (l=1) are full attribute
    disclosure regardless of size; the release gate keys off
    rows_lt_l at l=3.

    Scale shape: one aggregate to QI-class rows carrying both COUNT(*)
    and COUNT(DISTINCT sensitive) — Spark runs the distinct via the
    standard expand + two-phase aggregate, partial in the map stage;
    then a classes-sized summary. Exact integer output end-to-end."""
    q = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr(f"{_V100} div {KANON_VBUCKET}").alias("vb"),
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
    )
    g = q.groupBy("vb", "day").agg(
        F.count(F.lit(1)).cast("bigint").alias("sz"),
        F.countDistinct("event_type").cast("bigint").alias("l"),
    )
    return g.agg(
        F.sum("sz").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_classes"),
        F.min("l").cast("bigint").alias("l_min"),
        F.sum(F.when(F.col("l") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("classes_l1"),
        F.sum(F.when(F.col("l") == 1, F.col("sz")).otherwise(0))
        .cast("bigint")
        .alias("rows_l1"),
        F.sum(F.when(F.col("l") < LDIV_L, 1).otherwise(0))
        .cast("bigint")
        .alias("classes_lt_l"),
        F.sum(F.when(F.col("l") < LDIV_L, F.col("sz")).otherwise(0))
        .cast("bigint")
        .alias("rows_lt_l"),
        F.expr(
            f"CAST(SUM(CASE WHEN l < {LDIV_L} THEN sz ELSE 0 END) * 1000000"
            " div SUM(sz) AS BIGINT)"
        ).alias("risky_micro"),
    )


# ---------------------------------------------------------------------------
# pii_density_report — PII exposure profile per source (r5s7)
# ---------------------------------------------------------------------------


def _pii_oracle_sql() -> str:
    """Chained progressive-redaction mirror of operators/text_clean.py
    redact_pii: each pattern counts matches against the text AFTER all
    earlier patterns were replaced, in the same order."""
    from dbt_project_spark.operators.text_clean import PII_PATTERNS

    names = list(PII_PATTERNS)
    ctes = ["t0 AS (SELECT doc_id, source, length(text) AS n_chars,"
            " text AS r0 FROM documents)"]
    for i, name in enumerate(names):
        pat = PII_PATTERNS[name].replace("'", "''")
        carry = "".join(f" n_{n}," for n in names[:i])
        ctes.append(
            f"""t{i + 1} AS (SELECT doc_id, source, n_chars,{carry}
                 CAST(len(regexp_extract_all(r{i}, '{pat}')) AS BIGINT)
                     AS n_{name},
                 regexp_replace(r{i}, '{pat}', '[REDACTED]', 'g') AS r{i + 1}
             FROM t{i})"""
        )
    total = " + ".join(f"n_{n}" for n in names)
    sums = ",\n           ".join(
        f"CAST(SUM(n_{n}) AS BIGINT) AS {n}_matches" for n in names
    )
    joined = ",\n    ".join(ctes)
    return f"""
    WITH {joined}
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN {total} > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS docs_with_pii,
           {sums},
           CAST(SUM({total}) * 1000000 // SUM(n_chars) AS BIGINT)
               AS pii_per_mchar
    FROM t{len(names)} GROUP BY source
    """


@register("pii_density_report", oracle=_pii_oracle_sql())
def pii_density_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII exposure profile per corpus source: match counts for the
    standard training-data PII set (URL, email, IPv4, phone — the
    redact_pii operator's patterns, applied in its progressive order
    so a digit run inside a URL is counted once as the URL), the
    fraction of documents carrying any PII, and matches per million
    characters. The report a privacy review reads to decide which
    SOURCES need redaction before training — the corpus-level
    companion to the row-level k_anonymity/l_diversity audits.

    Determinism: the patterns live in ONE place
    (operators/text_clean.py PII_PATTERNS — conservative forms whose
    semantics agree between Java regex and RE2) and the oracle chain
    is generated from them; counts are integers, the density a
    truncating micro division.

    Scale shape: redaction is a single projection (regexp codegen, no
    UDF, no shuffle); the report is one map-side-combinable aggregate
    to |sources| rows."""
    from dbt_project_spark.operators.text_clean import (
        PII_PATTERNS,
        redact_pii,
    )

    docs = load_table(spark, sf_dir, "documents")
    red = redact_pii(docs)
    names = list(PII_PATTERNS)
    total = " + ".join(f"n_{n}" for n in names)
    aggs = [
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.when(F.expr(f"{total} > 0"), 1).otherwise(0))
        .cast("bigint")
        .alias("docs_with_pii"),
    ]
    for n in names:
        aggs.append(F.sum(f"n_{n}").cast("bigint").alias(f"{n}_matches"))
    aggs.append(
        F.expr(
            f"CAST(SUM({total}) * 1000000 div SUM(length(text)) AS BIGINT)"
        ).alias("pii_per_mchar")
    )
    return red.groupBy("source").agg(*aggs)


# ---------------------------------------------------------------------------
# hash_uniformity_audit — chi2 check of the md5 assignment fabric (r5s9)
# ---------------------------------------------------------------------------

HU_K = 16  # buckets audited
# chi2(15 df) 95th percentile x1000, Python-precomputed constant
HU_CRIT_MILLI = 24996


@register(
    "hash_uniformity_audit",
    oracle=f"""
    WITH u AS (SELECT DISTINCT user_id FROM events
               WHERE user_id IS NOT NULL),
    b AS (SELECT ('0x' || substr(md5(CAST(user_id AS VARCHAR) || ':unif'),
                                 1, 8))::BIGINT % {HU_K} AS bkt
          FROM u),
    c AS (SELECT bkt, CAST(COUNT(*) AS BIGINT) AS o FROM b GROUP BY bkt),
    t AS (SELECT CAST(SUM(o) AS BIGINT) AS n,
                 CAST(SUM(({HU_K} * o) * ({HU_K} * o)) AS BIGINT) AS kk,
                 CAST(MIN(o) AS BIGINT) AS min_bucket,
                 CAST(MAX(o) AS BIGINT) AS max_bucket
          FROM c),
    s AS (SELECT n, min_bucket, max_bucket,
                 kk - 2 * {HU_K} * n * n + {HU_K} * n * n AS ss
          FROM t)
    SELECT n AS n_users, CAST({HU_K} AS BIGINT) AS k,
           min_bucket, max_bucket,
           CAST(CAST(ss AS HUGEINT) * 1000000 // ({HU_K} * n) AS BIGINT)
               AS chi2_micro,
           CAST(CASE WHEN CAST(ss AS HUGEINT) * 1000
                          > {HU_CRIT_MILLI} * CAST({HU_K} AS HUGEINT) * n
                     THEN 0 ELSE 1 END AS BIGINT) AS uniform_ok
    FROM s
    """,
)
def hash_uniformity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square uniformity audit of the md5 assignment fabric the
    engine itself leans on (A/B arms, k-fold deals, bootstrap draws,
    shard shuffles all key off md5 prefixes): bucket the distinct
    users into HU_K hash bins and test the observed counts against
    uniform at 95%. The meta-quality check run whenever an SRM alarm
    (ab_srm_check) fires — it separates 'the hash is fine, the
    population moved' from 'the assignment itself is skewed'.

    Exactness: χ² = Σ(K·o − n)² / (K·n) in cleared integer form —
    Σ(Ko)² − 2Kn·n + Kn² expanded so every term is an exact
    BIGINT/HUGEINT; the verdict is the exact inequality
    1000·SS > crit·K·n against the Python-precomputed ×1000 quantile
    (the ab_srm convention). No floats anywhere.

    Scale shape: one distinct on user_id, one K-row count, scalar
    assembly."""
    u = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .select("user_id")
        .distinct()
    )
    b = u.select(
        F.expr(
            "CAST(conv(substr(md5(concat(CAST(user_id AS STRING),"
            f" ':unif')), 1, 8), 16, 10) AS BIGINT) % {HU_K}"
        ).alias("bkt")
    )
    c = b.groupBy("bkt").agg(F.count(F.lit(1)).cast("bigint").alias("o"))
    t = c.agg(
        F.sum("o").cast("bigint").alias("n"),
        F.sum((F.col("o") * HU_K) * (F.col("o") * HU_K))
        .cast("bigint")
        .alias("kk"),
        F.min("o").cast("bigint").alias("min_bucket"),
        F.max("o").cast("bigint").alias("max_bucket"),
    )
    s = t.select(
        "n",
        "min_bucket",
        "max_bucket",
        F.expr(f"kk - 2 * {HU_K} * n * n + {HU_K} * n * n").alias("ss"),
    )
    return s.select(
        F.col("n").alias("n_users"),
        F.lit(HU_K).cast("bigint").alias("k"),
        "min_bucket",
        "max_bucket",
        F.expr(
            f"CAST(CAST(ss AS DECIMAL(38,0)) * 1000000 div ({HU_K} * n)"
            " AS BIGINT)"
        ).alias("chi2_micro"),
        F.expr(
            f"CAST(CASE WHEN CAST(ss AS DECIMAL(38,0)) * 1000"
            f" > {HU_CRIT_MILLI} * CAST({HU_K} AS DECIMAL(38,0)) * n"
            " THEN 0 ELSE 1 END AS BIGINT)"
        ).alias("uniform_ok"),
    )
