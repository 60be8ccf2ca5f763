"""Retail / merchandising analytics family (round 3): RFM customer
segmentation, ABC (Pareto) classification per brand, market-basket
association rules, and a price/size skyline — the canonical
merchandising questions a warehouse answers over the TPC-H-ish
orders/lineitem/part tables.

Determinism: money runs in ×100 fixed point; the only float ops are
single final divisions (ROUND(...,6) on both sides). Quantile scores
use exact NTILE semantics via the two-phase distributed rank
(operators/windows.py:distributed_ntile), so no global single-
partition window touches customer-sized data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dbt_project_spark.catalog import register
from dbt_project_spark.operators.windows import distributed_ntile
from dbt_project_spark.sources import load_table

_TP100 = "CAST(round(o_totalprice * 100, 0) AS BIGINT)"
_EP100 = "CAST(round(l_extendedprice * 100, 0) AS BIGINT)"
_Q100 = "CAST(round(l_quantity * 100, 0) AS BIGINT)"
_PP100 = "CAST(round(p_retailprice * 100, 0) AS BIGINT)"

RFM_TILES = 5
# Coarse monetary bucket for the distributed-ntile phase-1 key:
# $1000 buckets bound the offset table by the price domain, not the
# customer count.
RFM_MON_BUCKET = 100_000
ABC_A_PCT = 70  # cumulative-revenue cutoffs for class A / B
ABC_B_PCT = 90
MB_MAX_BASKET = 8  # per-order basket cap (same bound as copurchase)
MB_MIN_PAIR = 3  # minimum co-occurrence support for a rule


@register(
    "rfm_segmentation",
    oracle=f"""
    WITH cust AS (
      SELECT o_custkey,
             date_diff('day', MAX(o_orderdate),
                       (SELECT MAX(o_orderdate) FROM orders)) AS rec_days,
             CAST(COUNT(*) AS BIGINT) AS freq,
             CAST(SUM({_TP100}) AS BIGINT) AS mon100
      FROM orders GROUP BY o_custkey),
    s AS (
      SELECT o_custkey, rec_days, freq, mon100,
             NTILE({RFM_TILES}) OVER (ORDER BY rec_days, o_custkey) AS r_q,
             NTILE({RFM_TILES}) OVER (ORDER BY freq DESC, o_custkey) AS f_q,
             NTILE({RFM_TILES}) OVER (ORDER BY mon100 DESC, o_custkey) AS m_q
      FROM cust)
    SELECT o_custkey, CAST(rec_days AS BIGINT) AS rec_days, freq,
           mon100 / 100.0 AS monetary, r_q, f_q, m_q,
           CAST(r_q AS VARCHAR) || CAST(f_q AS VARCHAR)
               || CAST(m_q AS VARCHAR) AS segment
    FROM s
    """,
)
def rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per customer, days since last order
    (recency), order count (frequency), and lifetime spend (monetary),
    each quintile-scored; the three digits concatenate into the
    classic segment code ("111" = best on all axes ... note r_q=1
    means MOST recent here, matching NTILE ascending on rec_days).

    Scale shape: one shuffle aggregates orders per customer; the three
    quintile scores use ``distributed_ntile`` — NO global
    single-partition window over the customer table. Each score's
    phase-1 offset table is bounded by its bucket domain (distinct
    recency days / distinct order counts / $1000 spend buckets), and
    the big table only ever sees bucket-partitioned windows.
    """
    o = load_table(spark, sf_dir, "orders")
    ref = o.agg(F.max("o_orderdate").alias("__ref"))
    cust = (
        o.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("__last"),
            F.count(F.lit(1)).alias("freq"),
            F.sum(F.expr(_TP100)).alias("mon100"),
        )
        .crossJoin(ref)
        .withColumn("rec_days", F.datediff("__ref", "__last").cast("bigint"))
        .drop("__ref", "__last")
    )
    cust = distributed_ntile(
        cust, RFM_TILES, F.col("rec_days"),
        [F.col("rec_days").asc(), F.col("o_custkey").asc()], "r_q",
    )
    cust = distributed_ntile(
        cust, RFM_TILES, -F.col("freq"),
        [F.col("freq").desc(), F.col("o_custkey").asc()], "f_q",
    )
    cust = distributed_ntile(
        cust, RFM_TILES, -F.expr(f"mon100 div {RFM_MON_BUCKET}"),
        [F.col("mon100").desc(), F.col("o_custkey").asc()], "m_q",
    )
    return cust.select(
        "o_custkey",
        "rec_days",
        "freq",
        (F.col("mon100") / 100.0).alias("monetary"),
        "r_q",
        "f_q",
        "m_q",
        F.concat_ws("", "r_q", "f_q", "m_q").alias("segment"),
    )


@register(
    "abc_parts_by_brand",
    oracle=f"""
    WITH pr AS (
      SELECT p.p_brand, p.p_partkey, CAST(SUM({_EP100}) AS BIGINT) AS rev100
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY p.p_brand, p.p_partkey),
    c AS (
      SELECT p_brand, p_partkey, rev100,
             CAST(SUM(rev100) OVER (PARTITION BY p_brand
                  ORDER BY rev100 DESC, p_partkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum100,
             CAST(SUM(rev100) OVER (PARTITION BY p_brand) AS BIGINT) AS tot100,
             ROW_NUMBER() OVER (PARTITION BY p_brand
                                ORDER BY rev100 DESC, p_partkey) AS brand_rank
      FROM pr)
    SELECT p_brand, p_partkey, rev100 / 100.0 AS revenue,
           CAST(brand_rank AS BIGINT) AS brand_rank,
           CASE WHEN cum100 * 100 <= tot100 * {ABC_A_PCT} THEN 'A'
                WHEN cum100 * 100 <= tot100 * {ABC_B_PCT} THEN 'B'
                ELSE 'C' END AS abc_class
    FROM c
    """,
)
def abc_parts_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto classification within each brand: rank parts by
    revenue, classify the head covering ≤70% of cumulative brand
    revenue as A, ≤90% as B, the tail as C. The 80/20 question every
    merchandiser asks, answered with exact integer share comparisons
    (cum*100 ≤ tot*pct — no float thresholds to tie-break).

    Scale shape: one shuffle aggregates (brand, part) revenue; both
    windows (running sum + brand total) share the SAME brand
    partitioning — one window exchange, bounded per-brand state. No
    global ordering anywhere.
    """
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    pr = (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_partkey")
        .agg(F.sum(F.expr(_EP100)).alias("rev100"))
    )
    wo = Window.partitionBy("p_brand").orderBy(
        F.desc("rev100"), F.asc("p_partkey")
    )
    wt = Window.partitionBy("p_brand")
    c = (
        pr.withColumn(
            "cum100",
            F.sum("rev100").over(
                wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .withColumn("tot100", F.sum("rev100").over(wt))
        .withColumn("brand_rank", F.row_number().over(wo).cast("bigint"))
    )
    return c.select(
        "p_brand",
        "p_partkey",
        (F.col("rev100") / 100.0).alias("revenue"),
        "brand_rank",
        F.when(F.col("cum100") * 100 <= F.col("tot100") * ABC_A_PCT, "A")
        .when(F.col("cum100") * 100 <= F.col("tot100") * ABC_B_PCT, "B")
        .otherwise("C")
        .alias("abc_class"),
    )


@register(
    "basket_rules",
    oracle=f"""
    WITH bp AS MATERIALIZED (
      SELECT l_orderkey, l_partkey FROM (
        SELECT l_orderkey, l_partkey,
               ROW_NUMBER() OVER (PARTITION BY l_orderkey
                                  ORDER BY SUM({_Q100}) DESC, l_partkey) AS rk
        FROM lineitem GROUP BY l_orderkey, l_partkey)
      WHERE rk <= {MB_MAX_BASKET}),
    n AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM bp),
    item AS MATERIALIZED (
      SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS cnt FROM bp GROUP BY l_partkey),
    pair AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v, CAST(COUNT(*) AS BIGINT) AS pc
      FROM bp a JOIN bp b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING COUNT(*) >= {MB_MIN_PAIR}),
    rules AS (
      SELECT u AS antecedent, v AS consequent, pc FROM pair
      UNION ALL
      SELECT v, u, pc FROM pair)
    SELECT r.antecedent, r.consequent, r.pc AS support_n,
           ROUND(r.pc / (ia.cnt * 1.0), 6) AS confidence,
           ROUND((r.pc * (SELECT n_orders FROM n))
                 / (ia.cnt * 1.0 * ic.cnt), 6) AS lift
    FROM rules r
    JOIN item ia ON ia.l_partkey = r.antecedent
    JOIN item ic ON ic.l_partkey = r.consequent
    """,
)
def basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over order baskets: for part
    pairs co-occurring in ≥ MB_MIN_PAIR orders, emit both directed
    rules with support, confidence = P(consequent|antecedent), and
    lift = P(pair)/(P(a)·P(b)). All counts are exact integers; the
    two ratios are single double divisions ROUNDed on both sides.

    Scale shape: baskets are capped at MB_MAX_BASKET parts per order
    (top-quantity, deterministic tiebreak) BEFORE the self-join, so
    per-order pair generation is O(cap²) regardless of input — the
    same bound the co-purchase graph uses. The pair aggregate is one
    shuffle on (u, v); item counts broadcast onto the rule list.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    per_part = li.groupBy("l_orderkey", "l_partkey").agg(
        F.sum(F.expr(_Q100)).alias("q100")
    )
    wq = Window.partitionBy("l_orderkey").orderBy(
        F.desc("q100"), F.asc("l_partkey")
    )
    bp = (
        per_part.withColumn("rk", F.row_number().over(wq))
        .filter(F.col("rk") <= MB_MAX_BASKET)
        .select("l_orderkey", "l_partkey")
    )
    from dbt_project_spark.caching import persist_tracked

    bp = persist_tracked(bp)
    n_orders = bp.agg(
        F.count_distinct("l_orderkey").cast("bigint").alias("n_orders")
    )
    item = bp.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("cnt"))
    a, b = bp.alias("a"), bp.alias("b")
    pair = (
        a.join(
            b,
            on=(F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v")
        )
        .agg(F.count(F.lit(1)).alias("pc"))
        .filter(F.col("pc") >= MB_MIN_PAIR)
    )
    rules = pair.select(
        F.col("u").alias("antecedent"), F.col("v").alias("consequent"), "pc"
    ).unionAll(
        pair.select(
            F.col("v").alias("antecedent"), F.col("u").alias("consequent"), "pc"
        )
    )
    ia = item.select(
        F.col("l_partkey").alias("antecedent"), F.col("cnt").alias("cnt_a")
    )
    ic = item.select(
        F.col("l_partkey").alias("consequent"), F.col("cnt").alias("cnt_c")
    )
    return (
        rules.join(ia, "antecedent")
        .join(ic, "consequent")
        .crossJoin(n_orders)
        .select(
            "antecedent",
            "consequent",
            F.col("pc").alias("support_n"),
            F.round(F.col("pc") / (F.col("cnt_a") * 1.0), 6).alias("confidence"),
            F.round(
                (F.col("pc") * F.col("n_orders"))
                / (F.col("cnt_a") * 1.0 * F.col("cnt_c")),
                6,
            ).alias("lift"),
        )
    )


@register(
    "part_skyline",
    oracle=f"""
    WITH p AS (SELECT p_partkey, {_PP100} AS price100, p_size FROM part)
    SELECT a.p_partkey, a.price100 / 100.0 AS retail_price,
           CAST(a.p_size AS BIGINT) AS p_size
    FROM p a
    WHERE NOT EXISTS (
      SELECT 1 FROM p b
      WHERE b.price100 <= a.price100 AND b.p_size <= a.p_size
        AND (b.price100 < a.price100 OR b.p_size < a.p_size))
    """,
)
def part_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto-front) of parts on (retail price ↓, size ↓):
    a part survives iff no other part is at least as cheap AND at
    least as small with one strict improvement. The oracle states the
    textbook NOT EXISTS definition; the Spark plan computes it
    without any all-pairs comparison:

    1. hash-aggregate min size per distinct price point (distributed,
       the only pass over the part table),
    2. one tiny window over the DISTINCT-PRICE table (bounded by the
       price domain, not the part count) keeps prices whose min size
       undercuts every cheaper price's running min,
    3. equi-join winners back to parts (ties at the same (price, min
       size) are all skyline points — duplicates dominate nothing).
    """
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey", F.expr(_PP100).alias("price100"), "p_size"
    )
    pm = p.groupBy("price100").agg(F.min("p_size").alias("msize"))
    w = Window.orderBy("price100").rowsBetween(Window.unboundedPreceding, -1)
    sky = (
        pm.withColumn("prev_min", F.min("msize").over(w))
        .filter(F.col("prev_min").isNull() | (F.col("msize") < F.col("prev_min")))
        .select("price100", F.col("msize").alias("p_size"))
    )
    return p.join(sky, ["price100", "p_size"]).select(
        "p_partkey",
        (F.col("price100") / 100.0).alias("retail_price"),
        F.col("p_size").cast("bigint"),
    )


BLOOM_M = 131_072  # bitmap bits (2048 longs = 16 KB — broadcast-trivial)
BLOOM_K = 3  # hashes per key
BLOOM_MIN_TOTAL = 450_000  # build-side predicate: high-value orders

_BLOOM_POS = (
    "(('0x' || substr(md5(CAST(i AS VARCHAR) || ':' ||"
    " CAST({key} AS VARCHAR)), 1, 8))::BIGINT) % " + str(BLOOM_M)
)


@register(
    "bloom_semijoin_orders",
    oracle=f"""
    WITH keys AS (SELECT o_orderkey AS okey FROM orders
                  WHERE o_totalprice > {BLOOM_MIN_TOTAL}),
    hs AS (SELECT unnest(range(0, {BLOOM_K})) AS i),
    bpos AS (SELECT DISTINCT {_BLOOM_POS.format(key="okey")} AS pos
             FROM keys, hs),
    probe AS (SELECT DISTINCT l_orderkey AS pk FROM lineitem),
    ppos AS (SELECT pk, i, {_BLOOM_POS.format(key="pk")} AS pos
             FROM probe, hs),
    cand AS (SELECT pk FROM ppos JOIN bpos USING (pos)
             GROUP BY pk HAVING COUNT(*) = {BLOOM_K}),
    cand_rows AS (SELECT l.l_orderkey FROM lineitem l
                  JOIN cand ON cand.pk = l.l_orderkey),
    exact_rows AS (SELECT l.l_orderkey,
                          CAST(round(l.l_extendedprice * 100, 0) AS BIGINT)
                              AS ep100
                   FROM lineitem l
                   WHERE l.l_orderkey IN (SELECT okey FROM keys))
    SELECT CAST((SELECT COUNT(*) FROM keys) AS BIGINT) AS n_build_keys,
           CAST((SELECT COUNT(*) FROM cand_rows) AS BIGINT) AS n_candidate_rows,
           CAST((SELECT COUNT(*) FROM exact_rows) AS BIGINT) AS n_exact_rows,
           CAST((SELECT SUM(ep100) FROM exact_rows) AS BIGINT) / 100.0
               AS exact_revenue
    """,
)
def bloom_semijoin_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter runtime semi-join: high-value order keys condense
    into a BLOOM_M-bit bitmap (one broadcastable row of longs);
    lineitem is pre-filtered by pure bit arithmetic in its scan
    stage, and the exact semi-join then removes the false positives.
    Emits build/candidate/exact counts so the FP rate is part of the
    verified result — and the oracle reproduces the EXACT bitmap
    semantics as position-set containment (same md5 hash family), so
    even the false-positive count hash-gates.

    Scale shape: this is Spark's own runtime-filter/DPP pattern made
    explicit — at 100 TB the probe side never shuffles non-candidate
    rows; the bitmap is KBs regardless of build-side row count (size
    m/n/k for the FP budget; 16 KB here holds ~10% fill at sf0.1).
    """
    from dbt_project_spark.caching import persist_tracked
    from dbt_project_spark.operators.joins import (
        bloom_filter_build,
        bloom_might_contain,
    )

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.expr(_EP100).alias("ep100")
    )
    keys = persist_tracked(
        o.filter(F.col("o_totalprice") > BLOOM_MIN_TOTAL).select("o_orderkey")
    )
    bitmap = bloom_filter_build(keys, "o_orderkey", BLOOM_M, BLOOM_K)
    cand = persist_tracked(
        bloom_might_contain(li, "l_orderkey", bitmap, BLOOM_M, BLOOM_K)
    )
    exact = persist_tracked(
        cand.join(
            keys.withColumnRenamed("o_orderkey", "l_orderkey"),
            "l_orderkey",
            "leftsemi",
        )
    )
    n_keys = keys.agg(F.count(F.lit(1)).alias("n_build_keys"))
    n_cand = cand.agg(F.count(F.lit(1)).alias("n_candidate_rows"))
    n_exact = exact.agg(
        F.count(F.lit(1)).alias("n_exact_rows"),
        (F.sum("ep100").cast("bigint") / 100.0).alias("exact_revenue"),
    )
    return (
        n_keys.crossJoin(n_cand)
        .crossJoin(n_exact)
        .select("n_build_keys", "n_candidate_rows", "n_exact_rows", "exact_revenue")
    )


@register(
    "pct_of_parent_revenue",
    oracle=f"""
    WITH nr AS (
      SELECT r.r_name AS region, n.n_name AS nation,
             CAST(SUM({_EP100}) AS BIGINT) AS rev100
      FROM lineitem l
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      GROUP BY 1, 2)
    SELECT region, nation, rev100 / 100.0 AS revenue,
           ROUND(rev100 / (1.0 * CAST(SUM(rev100) OVER
               (PARTITION BY region) AS BIGINT)), 6) AS pct_of_region,
           ROUND(rev100 / (1.0 * CAST(SUM(rev100) OVER () AS BIGINT)), 6)
               AS pct_of_total
    FROM nr
    """,
)
def pct_of_parent_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical percent-of-parent: supplier-nation revenue with
    each nation's share of its region and of the world — the drill-
    down ratio every BI hierarchy needs, computed as two window
    shares over the 25-row nation aggregate (the events-sized scan
    aggregates FIRST; the unpartitioned total window touches only the
    tiny aggregate, never the fact table).
    """
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    nr = (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(n, s.s_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(F.sum(F.expr(_EP100)).alias("rev100"))
    )
    wr = Window.partitionBy("region")
    wt = Window.partitionBy()
    return nr.select(
        "region",
        "nation",
        (F.col("rev100") / 100.0).alias("revenue"),
        F.round(
            F.col("rev100") / (1.0 * F.sum("rev100").over(wr).cast("bigint")), 6
        ).alias("pct_of_region"),
        F.round(
            F.col("rev100") / (1.0 * F.sum("rev100").over(wt).cast("bigint")), 6
        ).alias("pct_of_total"),
    )


# --- XYZ demand-variability classification (r4s3) ---

# cv² thresholds in micro-units: X ≤ 0.25 (cv ≤ 0.5), Y ≤ 1.0 (cv ≤ 1).
XYZ_X_MAX = 250_000
XYZ_Y_MAX = 1_000_000
_QTY1 = "CAST(round(l_quantity, 0) AS BIGINT)"  # integral units: keeps (Σq)²·1e6 in BIGINT


@register(
    "part_demand_xyz",
    oracle=f"""
    WITH d AS (SELECT l_partkey,
                      CAST(floor(epoch(o_orderdate)) AS BIGINT) // 604800 AS wk,
                      CAST(SUM({_QTY1}) AS BIGINT) AS q
               FROM lineitem JOIN orders ON o_orderkey = l_orderkey
               GROUP BY 1, 2),
    w AS (SELECT CAST(COUNT(DISTINCT wk) AS BIGINT) AS nw FROM d),
    s AS (SELECT l_partkey,
                 CAST(COUNT(*) AS BIGINT) AS weeks_active,
                 CAST(SUM(q) AS BIGINT) AS sx,
                 CAST(SUM(q * q) AS BIGINT) AS sxx
          FROM d GROUP BY 1),
    c AS (SELECT l_partkey, weeks_active,
                 CAST((w.nw * s.sxx - s.sx * s.sx) * 1000000
                      // (s.sx * s.sx) AS BIGINT) AS cv2_micro
          FROM s, w)
    SELECT l_partkey, weeks_active, cv2_micro,
           CASE WHEN cv2_micro <= {XYZ_X_MAX} THEN 'X'
                WHEN cv2_micro <= {XYZ_Y_MAX} THEN 'Y'
                ELSE 'Z' END AS xyz_class
    FROM c
    """,
)
def part_demand_xyz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XYZ demand-variability classification (the inventory-planning
    companion to ABC value ranking): per part, the squared
    coefficient of variation of WEEKLY demand — steady movers (X,
    cv ≤ 0.5) can run lean safety stock, erratic ones (Z) can't.
    Weeks with zero demand count: n is the GLOBAL week count, so
    absent weeks depress the mean and raise variance without any
    zero-fill grid (their sums contribute nothing — the algebra does
    the filling). cv² = (n·Σq² − (Σq)²)/(Σq)² in exact BIGINT
    micro-units (truncating div), classified on integer thresholds.

    Scale shape: lineitem⋈orders collapses to (part, week) partials
    first (map-side combined); the stats and the 1-row week count
    broadcast are parts-sized. Pairs with abc_parts_by_brand to give
    the full ABC-XYZ planning matrix.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    d = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            "l_partkey",
            F.expr(
                "CAST(floor(unix_timestamp(o_orderdate)) AS BIGINT) div 604800"
            ).alias("wk"),
        )
        .agg(F.sum(F.expr(_QTY1)).cast("bigint").alias("q"))
    )
    from dbt_project_spark.caching import persist_tracked

    d = persist_tracked(d)  # feeds the global week count AND the stats
    w = d.agg(F.countDistinct("wk").cast("bigint").alias("nw"))
    s = d.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("weeks_active"),
        F.sum("q").cast("bigint").alias("sx"),
        F.sum(F.col("q") * F.col("q")).cast("bigint").alias("sxx"),
    )
    c = s.crossJoin(w).select(
        "l_partkey",
        "weeks_active",
        F.expr(
            "CAST((nw * sxx - sx * sx) * 1000000 div (sx * sx) AS BIGINT)"
        ).alias("cv2_micro"),
    )
    return c.select(
        "l_partkey",
        "weeks_active",
        "cv2_micro",
        F.when(F.col("cv2_micro") <= XYZ_X_MAX, "X")
        .when(F.col("cv2_micro") <= XYZ_Y_MAX, "Y")
        .otherwise("Z")
        .alias("xyz_class"),
    )


# --- market concentration (HHI) of nation revenue (r4s3) ---


@register(
    "revenue_hhi_nation",
    oracle=f"""
    WITH r AS (SELECT c.c_nationkey AS nationkey,
                      CAST(SUM({_EP100}) AS BIGINT) AS rev
               FROM lineitem l
               JOIN orders o ON o.o_orderkey = l.l_orderkey
               JOIN customer c ON c.c_custkey = o.o_custkey
               GROUP BY 1),
    t AS (SELECT CAST(SUM(rev) AS BIGINT) AS total,
                 CAST(COUNT(*) AS BIGINT) AS n_groups,
                 CAST(MAX(rev) AS BIGINT) AS max_rev
          FROM r),
    s AS (SELECT CAST(r.rev * 1000 // t.total AS BIGINT) AS share_milli
          FROM r, t)
    SELECT t.n_groups,
           t.total AS total_cents,
           CAST(t.max_rev * 1000000 // t.total AS BIGINT) AS top_share_micro,
           (SELECT CAST(SUM(share_milli * share_milli) AS BIGINT) FROM s)
               AS hhi_permille_sq
    FROM t
    """,
)
def revenue_hhi_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman concentration index of revenue across
    customer nations — the market-concentration number (10 000 ×
    Σ share²; here in truncated permille² units, 0..1 000 000) an
    antitrust or portfolio review asks of any segmented revenue
    table. Shares are truncated to integer permille FIRST, so every
    squared term is an exact bounded integer regardless of revenue
    magnitude — squaring raw cent totals would overflow BIGINT at
    warehouse scale (measured risk: nation revenue at sf0.1 is
    already ~1e10 cents; its square is past 2^63).

    Scale shape: lineitem⋈orders⋈customer collapses to a
    nations-sized revenue table (map-side combined); the total is a
    1-row broadcast and the HHI a 25-row aggregate.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    r = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.sum(F.expr(_EP100)).cast("bigint").alias("rev"))
    )
    from dbt_project_spark.caching import persist_tracked

    r = persist_tracked(r)  # totals AND share terms consume it
    t = r.agg(
        F.sum("rev").cast("bigint").alias("total"),
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.max("rev").cast("bigint").alias("max_rev"),
    )
    s = r.crossJoin(t).select(
        F.expr("CAST(rev * 1000 div total AS BIGINT)").alias("share_milli")
    )
    hhi = s.agg(
        F.sum(F.col("share_milli") * F.col("share_milli"))
        .cast("bigint")
        .alias("hhi_permille_sq")
    )
    return t.crossJoin(hhi).select(
        "n_groups",
        F.col("total").alias("total_cents"),
        F.expr("CAST(max_rev * 1000000 div total AS BIGINT)").alias(
            "top_share_micro"
        ),
        "hhi_permille_sq",
    )


# ---------------------------------------------------------------------------
# repurchase_intervals — inter-purchase time distribution (r4s4)
# ---------------------------------------------------------------------------


@register(
    "repurchase_intervals",
    oracle="""
    WITH o AS (SELECT o_custkey AS c,
                      CAST(floor(epoch(o_orderdate)) AS BIGINT) AS ep,
                      o_orderkey AS k
               FROM orders),
    g AS (SELECT c, (ep - LAG(ep) OVER (PARTITION BY c ORDER BY ep, k))
                      // 86400 AS gap
          FROM o)
    SELECT CAST(COUNT(DISTINCT c) AS BIGINT) AS n_customers,
           CAST(COUNT(DISTINCT CASE WHEN gap IS NOT NULL THEN c END)
                AS BIGINT) AS n_repeat_customers,
           CAST(COUNT(gap) AS BIGINT) AS n_gaps,
           CAST(SUM(gap) * 1000000 // COUNT(gap) AS BIGINT)
               AS mean_gap_micro,
           ROUND(CAST(round(quantile_cont(20 * gap, 0.5)) AS BIGINT)
                 / 20.0, 6) AS p50_gap_days,
           ROUND(CAST(round(quantile_cont(20 * gap, 0.9)) AS BIGINT)
                 / 20.0, 6) AS p90_gap_days
    FROM g
    """,
)
def repurchase_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-purchase interval distribution: days between a customer's
    consecutive orders — the replenishment-cycle number behind
    reorder reminders, churn-risk windows ('2× the p90 gap with no
    order' = at risk), and inventory cadence. Emits repeat-customer
    counts, the mean gap in micro-days (truncating integer division),
    and exact interpolated p50/p90 via the ×20 quantile-exactness
    trick (interpolation fractions at k/20 are exact in 20× integer
    space — the winsorized_stats convention).

    Scale shape: ONE exchange on o_custkey carries the LAG window
    (per-customer order chains are short); the summary is a 1-row
    aggregate with map-side percentile partials. No self-join of
    orders against its own history.
    """
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c"),
        F.unix_timestamp("o_orderdate").alias("ep"),
        F.col("o_orderkey").alias("k"),
    )
    w = Window.partitionBy("c").orderBy("ep", "k")
    g = o.select(
        "c",
        F.expr(
            "CAST((ep - lag(ep) OVER (PARTITION BY c ORDER BY ep, k))"
            " div 86400 AS BIGINT)"
        ).alias("gap"),
    )
    return g.agg(
        F.countDistinct("c").cast("bigint").alias("n_customers"),
        F.countDistinct(
            F.when(F.col("gap").isNotNull(), F.col("c"))
        )
        .cast("bigint")
        .alias("n_repeat_customers"),
        F.count("gap").cast("bigint").alias("n_gaps"),
        F.expr("CAST(SUM(gap) * 1000000 div COUNT(gap) AS BIGINT)").alias(
            "mean_gap_micro"
        ),
        F.round(
            F.expr("CAST(round(percentile(20 * gap, 0.5)) AS BIGINT)") / 20.0,
            6,
        ).alias("p50_gap_days"),
        F.round(
            F.expr("CAST(round(percentile(20 * gap, 0.9)) AS BIGINT)") / 20.0,
            6,
        ).alias("p90_gap_days"),
    )


# ---------------------------------------------------------------------------
# price_elasticity_parts — log-log demand regression (r4s4)
# ---------------------------------------------------------------------------


@register(
    "price_elasticity_parts",
    oracle=f"""
    WITH d AS (SELECT l.l_partkey,
                      CAST(round(SUM(l.l_quantity)) AS BIGINT) AS qty,
                      {_PP100.replace('p_retailprice', 'MAX(p.p_retailprice)')}
                          AS price100
               FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
               GROUP BY l.l_partkey),
    xy AS (SELECT CAST(round(ln(price100) * 1000000) AS BIGINT) AS x6,
                  CAST(round(ln(qty) * 1000000) AS BIGINT) AS y6
           FROM d WHERE qty > 0),
    m AS (SELECT MIN(x6) AS x0, MIN(y6) AS y0 FROM xy),
    s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(xy.x6 - m.x0) AS BIGINT) AS sx,
                 CAST(SUM(xy.y6 - m.y0) AS BIGINT) AS sy,
                 CAST(SUM((xy.x6 - m.x0) * (xy.y6 - m.y0)) AS BIGINT) AS sxy,
                 CAST(SUM((xy.x6 - m.x0) * (xy.x6 - m.x0)) AS BIGINT) AS sxx
          FROM xy CROSS JOIN m)
    SELECT n AS n_parts,
           CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy
                AS VARCHAR) AS elasticity_num,
           CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx
                AS VARCHAR) AS elasticity_den
    FROM s
    """,
)
def price_elasticity_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price elasticity of demand across parts: OLS slope of
    ln(total quantity) on ln(retail price) — the log-log regression
    whose slope IS the elasticity (−1 = unit-elastic; pricing teams
    key markdown decisions off this). Per part, demand is the summed
    order quantity and price the catalog retail price in cents.

    Determinism: each ln is ONE double expression rounded to ×1e6
    BIGINT (micro-log units — ×1e9 would overflow the per-row
    products that the shifted-sum OLS needs in BIGINT); x/y are
    shifted by their minima (linreg_value_trend convention) so row
    products stay in BIGINT at any parts count, the combination runs
    in DECIMAL(38,0)/HUGEINT, and the slope is emitted as an EXACT
    rational string pair — the established cross-engine contract for
    regression outputs.

    Scale shape: one lineitem-sized aggregate to parts (map-side
    combined) with the part table joined in (broadcast — dims stay
    small), then 1-row min and sum aggregates. Nothing bigger than
    the parts table after the first exchange.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity"
    )
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey", F.expr(_PP100).alias("price100")
    )
    d = (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy("l_partkey")
        .agg(
            F.expr("CAST(round(SUM(l_quantity)) AS BIGINT)").alias("qty"),
            F.max("price100").alias("price100"),
        )
    )
    xy = d.where(F.col("qty") > 0).select(
        F.expr("CAST(round(ln(price100) * 1000000) AS BIGINT)").alias("x6"),
        F.expr("CAST(round(ln(qty) * 1000000) AS BIGINT)").alias("y6"),
    )
    m = xy.agg(F.min("x6").alias("x0"), F.min("y6").alias("y0"))
    s = xy.crossJoin(m).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("x6") - F.col("x0")).cast("bigint").alias("sx"),
        F.sum(F.col("y6") - F.col("y0")).cast("bigint").alias("sy"),
        F.sum((F.col("x6") - F.col("x0")) * (F.col("y6") - F.col("y0")))
        .cast("bigint")
        .alias("sxy"),
        F.sum((F.col("x6") - F.col("x0")) * (F.col("x6") - F.col("x0")))
        .cast("bigint")
        .alias("sxx"),
    )
    dec = "CAST(n AS DECIMAL(38,0))"
    sxdec = "CAST(sx AS DECIMAL(38,0))"
    return s.select(
        F.col("n").alias("n_parts"),
        F.expr(f"CAST({dec} * sxy - {sxdec} * sy AS STRING)").alias(
            "elasticity_num"
        ),
        F.expr(f"CAST({dec} * sxx - {sxdec} * sx AS STRING)").alias(
            "elasticity_den"
        ),
    )


# ---------------------------------------------------------------------------
# segment_migration_matrix — period-over-period CRM segment flow (r4s4)
# ---------------------------------------------------------------------------


@register(
    "segment_migration_matrix",
    oracle=f"""
    WITH o AS (SELECT o_custkey AS c, {_TP100} AS cents,
                      CAST(floor(epoch(o_orderdate)) AS BIGINT) AS ep
               FROM orders),
    mid AS (SELECT (MIN(ep) + MAX(ep)) // 2 AS m FROM o),
    u AS (SELECT c,
                 CAST(SUM(CASE WHEN ep < (SELECT m FROM mid)
                               THEN cents ELSE 0 END) AS BIGINT) AS s1,
                 CAST(SUM(CASE WHEN ep >= (SELECT m FROM mid)
                               THEN cents ELSE 0 END) AS BIGINT) AS s2
          FROM o GROUP BY c),
    r1 AS (SELECT s1, ROW_NUMBER() OVER (ORDER BY s1, c) AS rk,
                  COUNT(*) OVER () AS n
           FROM u WHERE s1 > 0),
    c1 AS (SELECT MAX(CASE WHEN rk = (n + 2) // 3 THEN s1 END) AS lo,
                  MAX(CASE WHEN rk = (2 * n + 2) // 3 THEN s1 END) AS hi
           FROM r1),
    r2 AS (SELECT s2, ROW_NUMBER() OVER (ORDER BY s2, c) AS rk,
                  COUNT(*) OVER () AS n
           FROM u WHERE s2 > 0),
    c2 AS (SELECT MAX(CASE WHEN rk = (n + 2) // 3 THEN s2 END) AS lo,
                  MAX(CASE WHEN rk = (2 * n + 2) // 3 THEN s2 END) AS hi
           FROM r2),
    seg AS (SELECT
              CASE WHEN u.s1 = 0 THEN 'none'
                   WHEN u.s1 <= c1.lo THEN 'low'
                   WHEN u.s1 <= c1.hi THEN 'mid'
                   ELSE 'high' END AS seg_from,
              CASE WHEN u.s2 = 0 THEN 'none'
                   WHEN u.s2 <= c2.lo THEN 'low'
                   WHEN u.s2 <= c2.hi THEN 'mid'
                   ELSE 'high' END AS seg_to
            FROM u CROSS JOIN c1 CROSS JOIN c2),
    t AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM seg)
    SELECT seg_from, seg_to, CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(COUNT(*) * 1000000 // t.total AS BIGINT) AS share_micro
    FROM seg CROSS JOIN t GROUP BY seg_from, seg_to, t.total
    """,
)
def segment_migration_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CRM segment-migration matrix: each customer's spend tercile
    (low/mid/high, or 'none' for no orders) in the first half of the
    time range vs the second — the period-over-period flow table
    behind 'are high-value customers downgrading?'. Terciles are
    period-local (each half gets its own cutoffs over its active
    customers), which is the standard relative-segmentation choice.

    Exactness: cutoffs are the values at the EXACT integer ranks
    ceil(n/3) and ceil(2n/3) of the (spend, customer)-ordered active
    set — no quantile interpolation at all, because q = 1/3 is not a
    representable double and the (n−1)·q position can land on either
    side of an integer per engine (measured: one boundary customer
    flipped). Segment assignment is a pure integer comparison (ties
    inclusive on the low side); both half-spends come from ONE
    conditional-sum pass (the drift_psi convention).

    Scale shape: one orders-sized aggregate to customers; cutoffs are
    1-row broadcasts; the matrix is ≤ 4×4 rows from one customers-
    sized aggregate.
    """
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c"),
        F.expr(_TP100).alias("cents"),
        F.unix_timestamp("o_orderdate").alias("ep"),
    )
    mid = o.agg(F.expr("(min(ep) + max(ep)) div 2").cast("bigint").alias("m"))
    u = (
        o.crossJoin(mid)
        .groupBy("c")
        .agg(
            F.sum(F.when(F.col("ep") < F.col("m"), F.col("cents")).otherwise(0))
            .cast("bigint")
            .alias("s1"),
            F.sum(
                F.when(F.col("ep") >= F.col("m"), F.col("cents")).otherwise(0)
            )
            .cast("bigint")
            .alias("s2"),
        )
    )
    from dbt_project_spark.caching import persist_tracked

    u = persist_tracked(u)

    def _cutoffs(col: str, lo_name: str, hi_name: str):
        act = u.where(F.col(col) > 0)
        w = Window.orderBy(F.col(col), F.col("c"))
        r = act.select(
            F.col(col).alias("s"),
            F.row_number().over(w).alias("rk"),
            F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
        )
        return r.agg(
            F.max(
                F.when(F.col("rk") == F.expr("(n + 2) div 3"), F.col("s"))
            ).alias(lo_name),
            F.max(
                F.when(F.col("rk") == F.expr("(2 * n + 2) div 3"), F.col("s"))
            ).alias(hi_name),
        )

    # The rank windows run over the ACTIVE-customer table (bounded by
    # customers, here ~10^3-10^5); at larger scale the cutoff would
    # come from operators/windows.distributed_ntile instead.
    c1 = _cutoffs("s1", "lo1", "hi1")
    c2 = _cutoffs("s2", "lo2", "hi2")
    seg = (
        u.crossJoin(c1)
        .crossJoin(c2)
        .select(
            F.when(F.col("s1") == 0, "none")
            .when(F.col("s1") <= F.col("lo1"), "low")
            .when(F.col("s1") <= F.col("hi1"), "mid")
            .otherwise("high")
            .alias("seg_from"),
            F.when(F.col("s2") == 0, "none")
            .when(F.col("s2") <= F.col("lo2"), "low")
            .when(F.col("s2") <= F.col("hi2"), "mid")
            .otherwise("high")
            .alias("seg_to"),
        )
    )
    t = seg.agg(F.count(F.lit(1)).cast("bigint").alias("total"))
    return (
        seg.groupBy("seg_from", "seg_to")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_customers"))
        .crossJoin(t)
        .select(
            "seg_from",
            "seg_to",
            "n_customers",
            F.expr("CAST(n_customers * 1000000 div total AS BIGINT)").alias(
                "share_micro"
            ),
        )
    )


# ---------------------------------------------------------------------------
# revenue_bridge_pvm — price/volume/mix revenue decomposition (r4s4)
# ---------------------------------------------------------------------------

# Sign-safe truncating division: Spark's `div` truncates toward zero,
# DuckDB's `//` floors — identical only through this abs/sign split.
_TDIV = (
    "CASE WHEN ({num}) < 0 THEN -(abs({num}) {op} ({den}))"
    " ELSE ({num}) {op} ({den}) END"
)


@register(
    "revenue_bridge_pvm",
    oracle=f"""
    WITH l AS (SELECT l_partkey AS p, {_EP100} AS cents,
                      CAST(round(l_quantity) AS BIGINT) AS q,
                      CAST(floor(epoch(l_shipdate)) AS BIGINT) AS ep
               FROM lineitem),
    mid AS (SELECT (MIN(ep) + MAX(ep)) // 2 AS m FROM l),
    pp AS (SELECT p,
                  CAST(SUM(CASE WHEN ep < (SELECT m FROM mid)
                                THEN cents ELSE 0 END) AS BIGINT) AS r1,
                  CAST(SUM(CASE WHEN ep < (SELECT m FROM mid)
                                THEN q ELSE 0 END) AS BIGINT) AS q1,
                  CAST(SUM(CASE WHEN ep >= (SELECT m FROM mid)
                                THEN cents ELSE 0 END) AS BIGINT) AS r2,
                  CAST(SUM(CASE WHEN ep >= (SELECT m FROM mid)
                                THEN q ELSE 0 END) AS BIGINT) AS q2
           FROM l GROUP BY p),
    eff AS (SELECT
              SUM(r1) AS rev1, SUM(r2) AS rev2,
              CAST(SUM(CASE WHEN q1 > 0 AND q2 > 0 THEN
                {_TDIV.format(num='r1 * (q2 - q1)', den='q1', op='//')}
                ELSE 0 END) AS BIGINT) AS volume_cents,
              CAST(SUM(CASE WHEN q1 > 0 AND q2 > 0 THEN
                r2 - {_TDIV.format(num='q2 * r1', den='q1', op='//')}
                ELSE 0 END) AS BIGINT) AS price_cents,
              CAST(SUM(CASE WHEN q1 = 0 AND q2 > 0 THEN r2 ELSE 0 END)
                   AS BIGINT) AS new_cents,
              CAST(SUM(CASE WHEN q1 > 0 AND q2 = 0 THEN -r1 ELSE 0 END)
                   AS BIGINT) AS discontinued_cents
            FROM pp)
    SELECT CAST(rev1 AS BIGINT) AS rev1_cents,
           CAST(rev2 AS BIGINT) AS rev2_cents,
           CAST(rev2 - rev1 AS BIGINT) AS delta_cents,
           volume_cents, price_cents, new_cents, discontinued_cents,
           CAST(rev2 - rev1 - volume_cents - price_cents - new_cents
                - discontinued_cents AS BIGINT) AS residual_cents
    FROM eff
    """,
)
def revenue_bridge_pvm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price/volume/mix revenue bridge (the FP&A waterfall): the
    first-half → second-half revenue delta decomposed per part into
    volume effect (old unit price × quantity change), price effect
    (new quantity × unit-price change), new-part and discontinued-
    part effects. Per part the rational identity
    p₁(q₂−q₁) + q₂(p₂−p₁) = r₂ − r₁ telescopes exactly; the integer
    emission truncates each part's division once (sign-split so both
    engines truncate toward zero) and reports the accumulated
    truncation as an explicit residual_cents column — the identity
    delta = volume + price + new + discontinued + residual holds
    EXACTLY, with residual bounded by the common-part count in cents.

    Scale shape: one lineitem-sized conditional-sum aggregate to
    parts (both periods in the same pass), then a parts-sized
    1-row effects aggregate. The midpoint rides a broadcast.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("p"),
        F.expr(_EP100).alias("cents"),
        F.expr("CAST(round(l_quantity) AS BIGINT)").alias("q"),
        F.unix_timestamp("l_shipdate").alias("ep"),
    )
    mid = li.agg(F.expr("(min(ep) + max(ep)) div 2").cast("bigint").alias("m"))
    pp = (
        li.crossJoin(mid)
        .groupBy("p")
        .agg(
            F.sum(F.when(F.col("ep") < F.col("m"), F.col("cents")).otherwise(0))
            .cast("bigint")
            .alias("r1"),
            F.sum(F.when(F.col("ep") < F.col("m"), F.col("q")).otherwise(0))
            .cast("bigint")
            .alias("q1"),
            F.sum(
                F.when(F.col("ep") >= F.col("m"), F.col("cents")).otherwise(0)
            )
            .cast("bigint")
            .alias("r2"),
            F.sum(F.when(F.col("ep") >= F.col("m"), F.col("q")).otherwise(0))
            .cast("bigint")
            .alias("q2"),
        )
    )
    vol = _TDIV.format(num="r1 * (q2 - q1)", den="q1", op="div")
    prc = _TDIV.format(num="q2 * r1", den="q1", op="div")
    eff = pp.agg(
        F.sum("r1").cast("bigint").alias("rev1_cents"),
        F.sum("r2").cast("bigint").alias("rev2_cents"),
        F.sum(
            F.expr(f"CASE WHEN q1 > 0 AND q2 > 0 THEN {vol} ELSE 0 END")
        )
        .cast("bigint")
        .alias("volume_cents"),
        F.sum(
            F.expr(f"CASE WHEN q1 > 0 AND q2 > 0 THEN r2 - ({prc}) ELSE 0 END")
        )
        .cast("bigint")
        .alias("price_cents"),
        F.sum(F.expr("CASE WHEN q1 = 0 AND q2 > 0 THEN r2 ELSE 0 END"))
        .cast("bigint")
        .alias("new_cents"),
        F.sum(F.expr("CASE WHEN q1 > 0 AND q2 = 0 THEN -r1 ELSE 0 END"))
        .cast("bigint")
        .alias("discontinued_cents"),
    )
    return eff.select(
        "rev1_cents",
        "rev2_cents",
        (F.col("rev2_cents") - F.col("rev1_cents")).alias("delta_cents"),
        "volume_cents",
        "price_cents",
        "new_cents",
        "discontinued_cents",
        (
            F.col("rev2_cents")
            - F.col("rev1_cents")
            - F.col("volume_cents")
            - F.col("price_cents")
            - F.col("new_cents")
            - F.col("discontinued_cents")
        ).alias("residual_cents"),
    )


# ---------------------------------------------------------------------------
# price_index_laspeyres — Laspeyres & Paasche price indices (r05)
# ---------------------------------------------------------------------------


@register(
    "price_index_laspeyres",
    oracle="""
    WITH py AS (SELECT l_partkey AS pk,
                       CAST(year(l_shipdate) AS BIGINT) AS y,
                       CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
                            AS BIGINT) AS e,
                       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
                FROM lineitem
                GROUP BY 1, 2),
    y0 AS (SELECT MIN(y) AS b FROM py),
    base AS (SELECT pk, e AS e0, q AS q0 FROM py, y0 WHERE py.y = y0.b),
    j AS (SELECT py.y, py.pk, py.e AS et, py.q AS qt, b.e0, b.q0
          FROM py JOIN base b ON b.pk = py.pk
          WHERE py.q > 0 AND b.q0 > 0),
    terms AS (SELECT y,
                     CAST(COUNT(*) AS BIGINT) AS n_parts,
                     CAST(SUM(et * q0 * 10000 // qt) AS BIGINT) AS lnum,
                     CAST(SUM(e0 * 10000) AS BIGINT) AS lden,
                     CAST(SUM(et * 10000) AS BIGINT) AS pnum,
                     CAST(SUM(e0 * qt * 10000 // q0) AS BIGINT) AS pden
              FROM j GROUP BY y)
    SELECT y AS year, n_parts,
           ROUND(lnum / (1.0 * lden), 6) AS laspeyres,
           ROUND(pnum / (1.0 * pden), 6) AS paasche
    FROM terms
    """,
)
def price_index_laspeyres(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laspeyres and Paasche price indices per ship-year over the
    part catalog (base = earliest year): THE retail/economics
    inflation decomposition — Laspeyres weights current prices by
    BASE-year quantities ('what would the old basket cost now'),
    Paasche weights base prices by current quantities; their gap is
    the substitution effect. Restricted per year to parts traded in
    both the base year and that year (the matched-model convention).

    Exactness: revenue is exact cents (per-row round, integer sum);
    per-part price ratios enter as TRUNCATING integer divisions in
    ×10⁴ scale (order-independent int sums — the chi2/PSI
    convention), one double division per (year, index) at the end.
    e·q·10⁴ tops out ~8e13 at this SF (lift to DECIMAL(38,0) at
    extreme scale, the linreg_value_trend precedent).

    Scale shape: one lineitem-sized aggregate into (part, year)
    rows, a broadcast-sized base-year join keyed on part, then a
    years-sized report. The base table is parts-sized — broadcast
    at any realistic catalog; no lineitem self-join.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("pk"),
        F.year("l_shipdate").cast("bigint").alias("y"),
        F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)").alias("ec"),
        F.col("l_quantity").cast("bigint").alias("qi"),
    )
    py = li.groupBy("pk", "y").agg(
        F.sum("ec").cast("bigint").alias("e"),
        F.sum("qi").cast("bigint").alias("q"),
    )
    from dbt_project_spark.caching import persist_tracked

    py = persist_tracked(py)
    y0 = py.agg(F.min("y").alias("b"))
    base = (
        py.crossJoin(y0)
        .filter(F.col("y") == F.col("b"))
        .select(F.col("pk"), F.col("e").alias("e0"), F.col("q").alias("q0"))
    )
    j = py.join(base, "pk").filter(
        (F.col("q") > 0) & (F.col("q0") > 0)
    )
    terms = j.groupBy("y").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_parts"),
        F.sum(F.expr("e * q0 * 10000 div q")).cast("bigint").alias("lnum"),
        F.sum(F.col("e0") * 10000).cast("bigint").alias("lden"),
        F.sum(F.col("e") * 10000).cast("bigint").alias("pnum"),
        F.sum(F.expr("e0 * q * 10000 div q0")).cast("bigint").alias("pden"),
    )
    return terms.select(
        F.col("y").alias("year"),
        "n_parts",
        F.round(F.col("lnum") / (F.col("lden") * 1.0), 6).alias("laspeyres"),
        F.round(F.col("pnum") / (F.col("pden") * 1.0), 6).alias("paasche"),
    )


# ---------------------------------------------------------------------------
# order_backlog_series — open-order backlog timeline (r5s6)
# ---------------------------------------------------------------------------


@register(
    "order_backlog_series",
    oracle="""
    WITH cl AS (SELECT l_orderkey,
                       MAX(CAST(CAST(l_shipdate AS TIMESTAMP) AS DATE))
                           AS closed
                FROM lineitem GROUP BY l_orderkey),
    ev AS (SELECT CAST(CAST(o.o_orderdate AS TIMESTAMP) AS DATE) AS d,
                  CAST(1 AS BIGINT) AS delta
           FROM orders o
           UNION ALL
           SELECT cl.closed + INTERVAL 1 DAY, CAST(-1 AS BIGINT)
           FROM cl),
    dd AS (SELECT CAST(d AS DATE) AS d, CAST(SUM(delta) AS BIGINT) AS delta
           FROM ev GROUP BY 1),
    s AS (SELECT d, SUM(delta) OVER (ORDER BY d) AS open
          FROM dd)
    SELECT strftime(d, '%Y-%m') AS month,
           CAST(MAX(open) AS BIGINT) AS peak_open,
           CAST(max_by(open, d) AS BIGINT) AS eom_open
    FROM s GROUP BY 1
    """,
)
def order_backlog_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order backlog over time: an order opens at o_orderdate and
    closes when its LAST lineitem ships; per month, the peak and
    end-of-month counts of simultaneously open orders. The operations
    dashboard behind TPC-H Q4's 'late orders' — Q4 counts violations,
    this shows the standing work-in-progress level they create
    (the interval-stabbing pattern of concurrent_sessions_timeline
    applied to the order lifecycle).

    Exactness: pure integer +1/−1 deltas and prefix sums; month keys
    via the same strftime pattern both engines format identically.

    Scale shape: lineitem collapses to per-order close dates (one
    shuffle on l_orderkey — the natural key); the +1/−1 event stream
    then collapses to DISTINCT DATES (~2.4k rows for 7 years)
    before the running sum, so the global-order window is over a
    tiny series, not rows. Monthly rollup via max/max_by."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    cl = li.groupBy("l_orderkey").agg(
        F.max(F.to_date("l_shipdate")).alias("closed")
    )
    ev = o.select(
        F.to_date("o_orderdate").alias("d"),
        F.lit(1).cast("bigint").alias("delta"),
    ).unionByName(
        cl.select(
            F.date_add("closed", 1).alias("d"),
            F.lit(-1).cast("bigint").alias("delta"),
        )
    )
    dd = ev.groupBy("d").agg(F.sum("delta").cast("bigint").alias("delta"))
    s = dd.select(
        "d", F.sum("delta").over(Window.orderBy("d")).alias("open")
    )
    return s.groupBy(F.date_format("d", "yyyy-MM").alias("month")).agg(
        F.max("open").cast("bigint").alias("peak_open"),
        F.expr("CAST(max_by(open, d) AS BIGINT)").alias("eom_open"),
    )


# ---------------------------------------------------------------------------
# fulfillment_latency_by_priority — order-to-first-ship SLA (r5s10)
# ---------------------------------------------------------------------------


@register(
    "fulfillment_latency_by_priority",
    oracle="""
    WITH fs AS (SELECT l_orderkey,
                       MIN(CAST(CAST(l_shipdate AS TIMESTAMP) AS DATE))
                           AS first_ship
                FROM lineitem GROUP BY l_orderkey),
    lat AS (SELECT o.o_orderpriority AS priority,
                   CAST(datediff('day',
                        CAST(CAST(o.o_orderdate AS TIMESTAMP) AS DATE),
                        fs.first_ship) AS BIGINT) AS days
            FROM orders o JOIN fs ON fs.l_orderkey = o.o_orderkey),
    c AS (SELECT priority, days, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM lat GROUP BY 1, 2),
    t AS (SELECT priority, CAST(SUM(cnt) AS BIGINT) AS n FROM c GROUP BY 1),
    r AS (SELECT c.priority, c.days,
                 SUM(c.cnt) OVER (PARTITION BY c.priority
                                  ORDER BY c.days) AS cum
          FROM c)
    SELECT t.priority, t.n AS n_orders,
           (SELECT MIN(r.days) FROM r
            WHERE r.priority = t.priority AND r.cum * 2 >= t.n) AS p50_days,
           (SELECT MIN(r.days) FROM r
            WHERE r.priority = t.priority
              AND r.cum * 10 >= t.n * 9) AS p90_days,
           (SELECT CAST(MAX(r.days) AS BIGINT) FROM r
            WHERE r.priority = t.priority) AS max_days
    FROM t
    """,
)
def fulfillment_latency_by_priority(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Order-to-first-shipment latency by order priority: the SLA
    readout behind TPC-H Q4's late-order count — does URGENT actually
    ship faster, and where do the p90 tails sit per class? The
    operations twin of order_backlog_series (backlog measures how
    much is open, this measures how long until movement).

    Exactness: day latencies are integer date arithmetic; p50/p90 are
    pure order statistics on the (priority, days) counts table via
    the integer inequalities 2·cum ≥ n and 10·cum ≥ 9·n (the
    quantile_drift_qq convention) — no interpolation, no division.

    Scale shape: lineitem collapses to first-ship per order (one
    shuffle on the natural key), the counts table is
    (priority × distinct latencies) — tiny; windows and the three
    order-statistic lookups run there."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    fs = li.groupBy("l_orderkey").agg(
        F.min(F.to_date("l_shipdate")).alias("first_ship")
    )
    lat = o.join(fs, o.o_orderkey == fs.l_orderkey).select(
        F.col("o_orderpriority").alias("priority"),
        F.datediff("first_ship", F.to_date("o_orderdate"))
        .cast("bigint")
        .alias("days"),
    )
    c = lat.groupBy("priority", "days").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    from dbt_project_spark.caching import persist_tracked

    c = persist_tracked(c)
    t = c.groupBy("priority").agg(F.sum("cnt").cast("bigint").alias("n"))
    w = Window.partitionBy("priority").orderBy("days")
    r = c.select("priority", "days", F.sum("cnt").over(w).alias("cum"))
    rt = r.join(t, "priority")
    p50 = (
        rt.filter(F.col("cum") * 2 >= F.col("n"))
        .groupBy("priority")
        .agg(F.min("days").alias("p50_days"))
    )
    p90 = (
        rt.filter(F.col("cum") * 10 >= F.col("n") * 9)
        .groupBy("priority")
        .agg(F.min("days").alias("p90_days"))
    )
    mx = r.groupBy("priority").agg(
        F.max("days").cast("bigint").alias("max_days")
    )
    return (
        t.join(p50, "priority")
        .join(p90, "priority")
        .join(mx, "priority")
        .select(
            "priority",
            F.col("n").alias("n_orders"),
            "p50_days",
            "p90_days",
            "max_days",
        )
    )
