"""Data-quality statistics family (round 3): population-stability
(PSI) drift detection and a chi-square independence test — the
monitoring layer a production training-data pipeline runs on every
ingest batch.

Float determinism: both statistics are SUMS of per-bucket float
terms, and float addition is order-dependent — so each term is
computed as ONE double expression (identical shape in both engines →
identical bits), scaled to a ×1e9 BIGINT, and summed in integer
space (associative, partitioning-independent); the final value is a
single division ROUNDed at 6. This is the repo's fixed-point-sum
convention applied to irrational (ln) terms.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dbt_project_spark.catalog import register
from dbt_project_spark.sources import load_table

_V100 = "CAST(round(value * 100, 0) AS BIGINT)"

PSI_BUCKET = 5_000  # $50 fixed-width value buckets (bounded domain)


@register(
    "drift_psi_value",
    oracle=f"""
    WITH e AS (SELECT event_type, {_V100} // {PSI_BUCKET} AS bkt,
                      CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS ep
               FROM events),
    mid AS (SELECT (MIN(ep) + MAX(ep)) // 2 AS m FROM e),
    c AS (SELECT event_type, bkt,
                 CAST(SUM(CASE WHEN ep < (SELECT m FROM mid)
                               THEN 1 ELSE 0 END) AS BIGINT) AS ref_n,
                 CAST(SUM(CASE WHEN ep >= (SELECT m FROM mid)
                               THEN 1 ELSE 0 END) AS BIGINT) AS cur_n
          FROM e GROUP BY 1, 2),
    t AS (SELECT event_type, CAST(SUM(ref_n) AS BIGINT) AS ref_t,
                 CAST(SUM(cur_n) AS BIGINT) AS cur_t
          FROM c GROUP BY 1),
    terms AS (
      SELECT c.event_type,
             CAST(round(
               ((c.ref_n * 1.0 / t.ref_t) - (c.cur_n * 1.0 / t.cur_t))
               * ln((c.ref_n * 1.0 / t.ref_t) / (c.cur_n * 1.0 / t.cur_t))
               * 1000000000) AS BIGINT) AS term9
      FROM c JOIN t ON t.event_type = c.event_type
      WHERE c.ref_n > 0 AND c.cur_n > 0)
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_buckets,
           ROUND(CAST(SUM(term9) AS BIGINT) / 1000000000.0, 6) AS psi
    FROM terms GROUP BY event_type
    """,
)
def drift_psi_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of the value distribution per event
    type, first half of the time range (reference) vs second half
    (current): PSI = Σ (p−q)·ln(p/q) over fixed $50 buckets present
    in both periods (the standard 'ignore empty buckets' form; <0.1
    is stable, >0.25 drifted). One scan builds both period counts as
    conditional sums — no self-join of the two halves.

    Scale shape: one events-sized shuffle on (type, bucket) — the
    bucket domain is bounded by the value range, so everything after
    the first aggregate is tiny. Per-bucket ln terms go through the
    ×1e9 integer-sum convention (see module docstring) so the
    statistic is bit-stable under any partitioning.
    """
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr(f"{_V100} div {PSI_BUCKET}").alias("bkt"),
        F.unix_timestamp("ts").alias("ep"),
    )
    mid = e.agg(
        F.expr("(min(ep) + max(ep)) div 2").cast("bigint").alias("m")
    )
    c = (
        e.crossJoin(mid)
        .groupBy("event_type", "bkt")
        .agg(
            F.sum(F.when(F.col("ep") < F.col("m"), 1).otherwise(0))
            .cast("bigint")
            .alias("ref_n"),
            F.sum(F.when(F.col("ep") >= F.col("m"), 1).otherwise(0))
            .cast("bigint")
            .alias("cur_n"),
        )
    )
    t = c.groupBy("event_type").agg(
        F.sum("ref_n").cast("bigint").alias("ref_t"),
        F.sum("cur_n").cast("bigint").alias("cur_t"),
    )
    terms = (
        c.join(t, "event_type")
        .filter((F.col("ref_n") > 0) & (F.col("cur_n") > 0))
        .select(
            "event_type",
            F.round(
                (
                    (F.col("ref_n") * 1.0 / F.col("ref_t"))
                    - (F.col("cur_n") * 1.0 / F.col("cur_t"))
                )
                * F.log(
                    (F.col("ref_n") * 1.0 / F.col("ref_t"))
                    / (F.col("cur_n") * 1.0 / F.col("cur_t"))
                )
                * 1_000_000_000
            )
            .cast("bigint")
            .alias("term9"),
        )
    )
    return terms.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.round(F.sum("term9").cast("bigint") / 1_000_000_000.0, 6).alias("psi"),
    )


@register(
    "chi2_type_weekday",
    oracle="""
    WITH o AS (SELECT event_type, isodow(CAST(ts AS TIMESTAMP)) AS dow,
                      CAST(COUNT(*) AS BIGINT) AS obs
               FROM events GROUP BY 1, 2),
    r AS (SELECT event_type, CAST(SUM(obs) AS BIGINT) AS rt FROM o GROUP BY 1),
    col AS (SELECT dow, CAST(SUM(obs) AS BIGINT) AS ct FROM o GROUP BY 1),
    n AS (SELECT CAST(SUM(obs) AS BIGINT) AS nt FROM o),
    terms AS (
      SELECT CAST(round(
               ((o.obs * n.nt - r.rt * col.ct) * 1.0
                * (o.obs * n.nt - r.rt * col.ct))
               / (1.0 * n.nt * r.rt * col.ct) * 1000000000) AS BIGINT) AS term9
      FROM o JOIN r ON r.event_type = o.event_type
             JOIN col ON col.dow = o.dow
             CROSS JOIN n)
    SELECT CAST((SELECT COUNT(*) FROM r) AS BIGINT) AS n_rows,
           CAST((SELECT COUNT(*) FROM col) AS BIGINT) AS n_cols,
           CAST(((SELECT COUNT(*) FROM r) - 1)
                * ((SELECT COUNT(*) FROM col) - 1) AS BIGINT) AS dof,
           ROUND(CAST(SUM(term9) AS BIGINT) / 1000000000.0, 6) AS chi2
    FROM terms
    """,
)
def chi2_type_weekday(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test on the event_type × ISO-weekday
    contingency table — 'does traffic mix depend on the weekday'.
    Each cell term uses the algebraically-cleared form
    (O·N − R·C)² / (N·R·C): numerator products stay in exact BIGINT,
    one double division per cell, then the ×1e9 integer-sum
    convention for the order-independent total.

    Scale shape: the contingency table is types×7 rows after one
    events-sized aggregate; everything else is arithmetic on a few
    dozen rows. (O·N and R·C fit BIGINT while total events < ~3e9×
    cell counts — at 100 TB shift both into DECIMAL(38,0) as
    linreg_value_trend does.)
    """
    e = load_table(spark, sf_dir, "events").select(
        "event_type", (F.expr("weekday(ts)") + 1).alias("dow")
    )
    o = e.groupBy("event_type", "dow").agg(
        F.count(F.lit(1)).alias("obs")
    )
    r = o.groupBy("event_type").agg(F.sum("obs").cast("bigint").alias("rt"))
    c = o.groupBy("dow").agg(F.sum("obs").cast("bigint").alias("ct"))
    n = o.agg(F.sum("obs").cast("bigint").alias("nt"))
    num = F.col("obs") * F.col("nt") - F.col("rt") * F.col("ct")
    terms = (
        o.join(r, "event_type")
        .join(c, "dow")
        .crossJoin(n)
        .select(
            F.round(
                (num * 1.0 * num)
                / (1.0 * F.col("nt") * F.col("rt") * F.col("ct"))
                * 1_000_000_000
            )
            .cast("bigint")
            .alias("term9")
        )
    )
    nr = r.agg(F.count(F.lit(1)).alias("n_rows"))
    nc = c.agg(F.count(F.lit(1)).alias("n_cols"))
    tot = terms.agg(
        F.round(F.sum("term9").cast("bigint") / 1_000_000_000.0, 6).alias("chi2")
    )
    return (
        nr.crossJoin(nc)
        .crossJoin(tot)
        .select(
            "n_rows",
            "n_cols",
            ((F.col("n_rows") - 1) * (F.col("n_cols") - 1))
            .cast("bigint")
            .alias("dof"),
            "chi2",
        )
    )


@register(
    "skew_key_histogram",
    oracle="""
    WITH k AS (SELECT o_custkey AS key, CAST(COUNT(*) AS BIGINT) AS cnt
               FROM orders GROUP BY o_custkey),
    b AS (SELECT CAST(length(bin(cnt)) AS INT) AS bucket,
                 CAST(COUNT(*) AS BIGINT) AS n_keys,
                 CAST(SUM(cnt) AS BIGINT) AS n_rows,
                 CAST(MAX(cnt) AS BIGINT) AS max_cnt
          FROM k GROUP BY 1),
    t AS (SELECT CAST(SUM(n_rows) AS BIGINT) AS total FROM b)
    SELECT bucket, n_keys, n_rows, max_cnt,
           ROUND(n_rows * 1.0 / total, 6) AS rows_share
    FROM b CROSS JOIN t
    """,
)
def skew_key_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostic over orders.o_custkey (the
    customer⋈orders join key — the most dispersed key in the corpus,
    5 occupied buckets at sf0.01): the per-key
    frequency distribution collapsed into log2 buckets (bucket =
    bit-length of the key's row count, so bucket b holds keys with
    2^(b-1) ≤ cnt < 2^b), with each bucket's key count, row mass, max
    key, and share of total rows. A heavy tail bucket = the keys that
    will stall a shuffle join — this is the pre-flight check that
    decides between a plain join, AQE skew splitting, and salting
    (see skew_salted_join for the remediation).

    Scale shape: per-key counts are a map-side-combinable aggregate
    (the shuffle carries one (key, partial) pair per map task);
    the histogram is a second tiny aggregate over keys; the total is
    a 1-row broadcast. No global sort, no window — the whole
    diagnostic costs one pass regardless of key cardinality. The
    bucket id uses bit-length (`bin()` string length), NOT
    floor(log2(·)): libm log2 of an exact power of two can land a
    hair below the integer and bucket the key off-by-one differently
    per engine.
    """
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("key")
    )
    k = o.groupBy("key").agg(F.count(F.lit(1)).alias("cnt"))
    b = k.groupBy(
        F.length(F.expr("bin(cnt)")).cast("int").alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("cnt").cast("bigint").alias("n_rows"),
        F.max("cnt").cast("bigint").alias("max_cnt"),
    )
    t = b.agg(F.sum("n_rows").cast("bigint").alias("total"))
    return b.crossJoin(t).select(
        "bucket",
        "n_keys",
        "n_rows",
        "max_cnt",
        F.round(F.col("n_rows") * 1.0 / F.col("total"), 6).alias("rows_share"),
    )


@register(
    "robust_value_stats",
    oracle=f"""
    WITH e AS (SELECT event_type, {_V100} AS v100 FROM events),
    med AS (SELECT event_type,
                   CAST(quantile_cont(2 * v100, 0.5) AS BIGINT) AS med200
            FROM e GROUP BY event_type),
    d AS (SELECT e.event_type, e.v100,
                 ABS(2 * e.v100 - m.med200) AS dev200
          FROM e JOIN med m ON m.event_type = e.event_type),
    md AS (SELECT event_type,
                  CAST(quantile_cont(2 * dev200, 0.5) AS BIGINT) AS mad400
           FROM d GROUP BY event_type),
    mo AS (SELECT event_type,
                  max_by(v100, CAST(cnt AS BIGINT) * 100000 - v100) AS mode100
           FROM (SELECT event_type, v100, COUNT(*) AS cnt
                 FROM e GROUP BY event_type, v100)
           GROUP BY event_type)
    SELECT m.event_type,
           ROUND(m.med200 / 200.0, 6) AS median_value,
           ROUND(md.mad400 / 400.0, 6) AS mad_value,
           ROUND(mo.mode100 / 100.0, 6) AS mode_value,
           CAST((SELECT COUNT(*) FROM e x
                 WHERE x.event_type = m.event_type) AS BIGINT) AS n
    FROM med m JOIN md ON md.event_type = m.event_type
               JOIN mo ON mo.event_type = m.event_type
    """,
)
def robust_value_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-type value statistics: median, MAD (median absolute
    deviation — the robust spread that outliers can't inflate, unlike
    stddev), and mode — the outlier-resistant profile a data-quality
    monitor wants next to PSI/chi-square.

    Exactness trick: the interpolated median of INTEGERS is always a
    multiple of 0.5, so 2·median is an exact BIGINT — deviations
    |2·v − 2·med| stay integer, and the MAD (a median of those) is an
    exact multiple of 0.25 → ×4 BIGINT. Both engines therefore
    compare exact integers until the final rounded divisions. Mode
    ties break toward the LOWEST value via the max_by integer key
    (cnt·1e5 − v100; v100 < 1e5 by the bounded value domain).

    Scale shape: two aggregation passes over (type, ·) — medians via
    percentile partials, mode via a (type, value)-grouped count then
    a types-sized max_by reduce; no windows, no sort, map-side
    combinable throughout.
    """
    e = load_table(spark, sf_dir, "events").select(
        "event_type", F.expr(_V100).alias("v100")
    )
    med = e.groupBy("event_type").agg(
        F.expr("CAST(percentile(2 * v100, 0.5) AS BIGINT)").alias("med200")
    )
    d = e.join(med, "event_type").select(
        "event_type",
        "v100",
        F.abs(2 * F.col("v100") - F.col("med200")).alias("dev200"),
    )
    md = d.groupBy("event_type").agg(
        F.expr("CAST(percentile(2 * dev200, 0.5) AS BIGINT)").alias("mad400")
    )
    mo = (
        e.groupBy("event_type", "v100")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("event_type")
        .agg(
            F.max_by(
                "v100", F.col("cnt").cast("bigint") * 100000 - F.col("v100")
            ).alias("mode100")
        )
    )
    n = e.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    return (
        med.join(md, "event_type")
        .join(mo, "event_type")
        .join(n, "event_type")
        .select(
            "event_type",
            F.round(F.col("med200") / 200.0, 6).alias("median_value"),
            F.round(F.col("mad400") / 400.0, 6).alias("mad_value"),
            F.round(F.col("mode100") / 100.0, 6).alias("mode_value"),
            "n",
        )
    )


_EP = "CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT)"

# Shared CTE: per-(type, value) counts split at the time midpoint —
# the same reference/current halving drift_psi_value uses, reused by
# both two-sample tests so they compare the identical samples.
_HALF_COUNTS_SQL = f"""
    e AS (SELECT event_type, {_V100} AS v100, {_EP} AS ep FROM events),
    mid AS (SELECT (MIN(ep) + MAX(ep)) // 2 AS m FROM e),
    c AS (SELECT event_type, v100,
                 CAST(SUM(CASE WHEN ep < (SELECT m FROM mid)
                               THEN 1 ELSE 0 END) AS BIGINT) AS ref_n,
                 CAST(SUM(CASE WHEN ep >= (SELECT m FROM mid)
                               THEN 1 ELSE 0 END) AS BIGINT) AS cur_n
          FROM e GROUP BY 1, 2),
    t AS (SELECT event_type, CAST(SUM(ref_n) AS BIGINT) AS n1,
                 CAST(SUM(cur_n) AS BIGINT) AS n2
          FROM c GROUP BY 1)"""


def _half_counts(spark: SparkSession, sf_dir: str):
    """Spark twin of ``_HALF_COUNTS_SQL``: per-(type, v100) counts for
    the first (ref) and second (cur) half of the time range, plus the
    per-type totals. Returns (c, t)."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr(_V100).alias("v100"),
        F.unix_timestamp("ts").alias("ep"),
    )
    mid = e.agg(F.expr("(min(ep) + max(ep)) div 2").cast("bigint").alias("m"))
    c = (
        e.crossJoin(mid)
        .groupBy("event_type", "v100")
        .agg(
            F.sum(F.when(F.col("ep") < F.col("m"), 1).otherwise(0))
            .cast("bigint")
            .alias("ref_n"),
            F.sum(F.when(F.col("ep") >= F.col("m"), 1).otherwise(0))
            .cast("bigint")
            .alias("cur_n"),
        )
    )
    t = c.groupBy("event_type").agg(
        F.sum("ref_n").cast("bigint").alias("n1"),
        F.sum("cur_n").cast("bigint").alias("n2"),
    )
    return c, t


@register(
    "ks_test_value",
    oracle=f"""
    WITH {_HALF_COUNTS_SQL},
    w AS (SELECT event_type, v100,
                 SUM(ref_n) OVER (PARTITION BY event_type ORDER BY v100
                                  ROWS UNBOUNDED PRECEDING) AS cum1,
                 SUM(cur_n) OVER (PARTITION BY event_type ORDER BY v100
                                  ROWS UNBOUNDED PRECEDING) AS cum2
          FROM c),
    d AS (SELECT w.event_type, w.v100, t.n1, t.n2,
                 ABS(w.cum1 * t.n2 - w.cum2 * t.n1) AS num
          FROM w JOIN t ON t.event_type = w.event_type),
    r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                                       ORDER BY num DESC, v100) AS rk
          FROM d)
    SELECT event_type, n1 AS n_ref, n2 AS n_cur,
           ROUND(num * 1.0 / (n1 * n2), 6) AS ks_d,
           CAST(v100 AS BIGINT) AS at_value100
    FROM r WHERE rk = 1
    """,
)
def ks_test_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov test of the value distribution,
    first half of the time range vs second half, per event type — the
    distribution-free companion to drift_psi_value (PSI needs a bucket
    width; KS does not, and catches shape drift PSI's $50 buckets can
    smear away). Emits the exact D statistic and the value (cents)
    where the ECDF gap peaks.

    Exactness: D = max |F1 − F2| is evaluated as the INTEGER
    numerator |cum1·n2 − cum2·n1| over the common denominator n1·n2 —
    the max in integer space has no float comparisons, so the argmax
    row (tie → lowest value) is engine-independent; the single
    division happens once on the winning row. (Products stay in
    BIGINT while per-type rows < ~3e9; at extreme scale lift into
    DECIMAL(38,0) as linreg_value_trend does.)

    Scale shape: one events-sized shuffle on (type, v100), then
    windows over the distinct-value table (bounded by the value
    domain, not the corpus) on ONE (type)-partitioning — the
    cumulative counts and the argmax rank share it. No self-join of
    the two halves: both ECDFs come from conditional sums in the same
    pass.
    """
    c, t = _half_counts(spark, sf_dir)
    wv = (
        Window.partitionBy("event_type")
        .orderBy("v100")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w = c.select(
        "event_type",
        "v100",
        F.sum("ref_n").over(wv).alias("cum1"),
        F.sum("cur_n").over(wv).alias("cum2"),
    )
    d = w.join(t, "event_type").select(
        "event_type",
        "v100",
        "n1",
        "n2",
        F.abs(F.col("cum1") * F.col("n2") - F.col("cum2") * F.col("n1")).alias(
            "num"
        ),
    )
    rk = Window.partitionBy("event_type").orderBy(F.desc("num"), F.asc("v100"))
    return (
        d.withColumn("rk", F.row_number().over(rk))
        .filter(F.col("rk") == 1)
        .select(
            "event_type",
            F.col("n1").alias("n_ref"),
            F.col("n2").alias("n_cur"),
            F.round(F.col("num") * 1.0 / (F.col("n1") * F.col("n2")), 6).alias(
                "ks_d"
            ),
            F.col("v100").cast("bigint").alias("at_value100"),
        )
    )


@register(
    "mannwhitney_value",
    oracle=f"""
    WITH {_HALF_COUNTS_SQL},
    g AS (SELECT event_type, v100, ref_n, ref_n + cur_n AS tot FROM c),
    w AS (SELECT event_type, ref_n, tot,
                 COALESCE(SUM(tot) OVER (PARTITION BY event_type
                                         ORDER BY v100
                                         ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND 1 PRECEDING), 0) AS cb
          FROM g),
    s AS (SELECT event_type,
                 CAST(SUM(ref_n * (2 * cb + tot + 1)) AS BIGINT) AS r1x2
          FROM w GROUP BY 1)
    SELECT t.event_type, t.n1 AS n_ref, t.n2 AS n_cur,
           CAST(s.r1x2 - t.n1 * (t.n1 + 1) AS BIGINT) AS u_x2,
           ROUND((s.r1x2 - t.n1 * (t.n1 + 1)) / (2.0 * t.n1 * t.n2), 6)
               AS cl_effect
    FROM s JOIN t ON t.event_type = s.event_type
    """,
)
def mannwhitney_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U (rank-sum) test, first vs second half per event
    type — the rank-based location test next to KS's shape test: did
    values systematically shift up/down, robust to outliers. Emits
    2·U exactly and the common-language effect size U/(n1·n2)
    (0.5 = no shift).

    Exactness: midranks over ties are half-integers, so the whole
    computation runs in DOUBLED rank space — for a tie group spanning
    ranks [cb+1, cb+tot], min_rank+max_rank = 2·cb+tot+1 is the
    doubled midrank, the ref sample's doubled rank sum is one integer
    aggregate, and 2·U = Σ − n1(n1+1) is an exact BIGINT. The effect
    size is one double division, same shape both engines.

    Scale shape: identical to ks_test_value — one (type, v100)
    aggregate then one window over the bounded distinct-value table;
    the rank-sum needs no global sort because ranks come from the
    cumulative count, not row_number over raw events.
    """
    c, t = _half_counts(spark, sf_dir)
    g = c.select(
        "event_type",
        "v100",
        "ref_n",
        (F.col("ref_n") + F.col("cur_n")).alias("tot"),
    )
    wb = (
        Window.partitionBy("event_type")
        .orderBy("v100")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w = g.select(
        "event_type",
        "ref_n",
        "tot",
        F.coalesce(F.sum("tot").over(wb), F.lit(0)).alias("cb"),
    )
    s = w.groupBy("event_type").agg(
        F.sum(
            F.col("ref_n") * (2 * F.col("cb") + F.col("tot") + 1)
        )
        .cast("bigint")
        .alias("r1x2")
    )
    u_x2 = F.col("r1x2") - F.col("n1") * (F.col("n1") + 1)
    return s.join(t, "event_type").select(
        "event_type",
        F.col("n1").alias("n_ref"),
        F.col("n2").alias("n_cur"),
        u_x2.cast("bigint").alias("u_x2"),
        F.round(u_x2 / (2.0 * F.col("n1") * F.col("n2")), 6).alias("cl_effect"),
    )


@register(
    "winsorized_stats",
    oracle=f"""
    WITH e AS (SELECT event_type, {_V100} AS v100 FROM events),
    b AS (SELECT event_type,
                 CAST(round(quantile_cont(20 * v100, 0.05)) AS BIGINT) AS lo20,
                 CAST(round(quantile_cont(20 * v100, 0.95)) AS BIGINT) AS hi20,
                 CAST(COUNT(*) AS BIGINT) AS n
          FROM e GROUP BY event_type),
    c AS (SELECT e.event_type, b.lo20, b.hi20, b.n,
                 CASE WHEN 20 * e.v100 < b.lo20 THEN b.lo20
                      WHEN 20 * e.v100 > b.hi20 THEN b.hi20
                      ELSE 20 * e.v100 END AS w20,
                 CASE WHEN 20 * e.v100 >= b.lo20 AND 20 * e.v100 <= b.hi20
                      THEN 20 * e.v100 END AS t20
          FROM e JOIN b ON b.event_type = e.event_type)
    SELECT event_type, n,
           ROUND(lo20 / 2000.0, 6) AS p05,
           ROUND(hi20 / 2000.0, 6) AS p95,
           ROUND(SUM(w20) / (2000.0 * n), 6) AS winsorized_mean,
           ROUND(SUM(t20) / (2000.0 * COUNT(t20)), 6) AS trimmed_mean,
           CAST(COUNT(t20) AS BIGINT) AS n_kept
    FROM c GROUP BY event_type, n, lo20, hi20
    """,
)
def winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlier-robust means per event type: the 5%-winsorized mean
    (values clipped into [p05, p95]) and the 5%-trimmed mean (values
    outside dropped) — what a metrics pipeline reports when a few
    fat-finger values would otherwise swing the plain mean.

    Exactness: interpolated percentiles of INTEGERS at q = k/20 have
    interpolation fractions that are multiples of 0.05, so
    quantile_cont(20·v, q) is an EXACT integer — the clip bounds,
    clipped values, and their sums all stay in BIGINT; each output is
    one final rounded division (the robust_value_stats ×2 trick,
    generalized to the quantile's denominator).

    Scale shape: one percentile aggregate (GK partials, map-side
    combinable) broadcast back onto the scan, then one conditional-
    sum aggregate — two passes, no window, no sort.
    """
    e = load_table(spark, sf_dir, "events").select(
        "event_type", F.expr(_V100).alias("v100")
    )
    b = e.groupBy("event_type").agg(
        F.expr("CAST(round(percentile(20 * v100, 0.05)) AS BIGINT)").alias(
            "lo20"
        ),
        F.expr("CAST(round(percentile(20 * v100, 0.95)) AS BIGINT)").alias(
            "hi20"
        ),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    x20 = 20 * F.col("v100")
    c = e.join(b, "event_type").select(
        "event_type",
        "lo20",
        "hi20",
        "n",
        F.when(x20 < F.col("lo20"), F.col("lo20"))
        .when(x20 > F.col("hi20"), F.col("hi20"))
        .otherwise(x20)
        .alias("w20"),
        F.when((x20 >= F.col("lo20")) & (x20 <= F.col("hi20")), x20).alias(
            "t20"
        ),
    )
    return c.groupBy("event_type", "n", "lo20", "hi20").agg(
        F.round(F.col("lo20") / 2000.0, 6).alias("p05"),
        F.round(F.col("hi20") / 2000.0, 6).alias("p95"),
        F.round(F.sum("w20") / (2000.0 * F.col("n")), 6).alias(
            "winsorized_mean"
        ),
        F.round(F.sum("t20") / (2000.0 * F.count("t20")), 6).alias(
            "trimmed_mean"
        ),
        F.count("t20").cast("bigint").alias("n_kept"),
    ).select(
        "event_type",
        "n",
        "p05",
        "p95",
        "winsorized_mean",
        "trimmed_mean",
        "n_kept",
    )


@register(
    "gini_user_value",
    oracle=f"""
    WITH u AS (SELECT user_id, CAST(SUM({_V100}) AS BIGINT) AS v
               FROM events GROUP BY user_id),
    g AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS c FROM u GROUP BY v),
    w AS (SELECT v, c,
                 COALESCE(SUM(c) OVER (ORDER BY v
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING), 0) AS cb
          FROM g),
    s AS (SELECT CAST(SUM(c) AS BIGINT) AS n, CAST(SUM(v * c) AS BIGINT) AS sv,
                 CAST(SUM(v * (2 * c * cb + c * (c + 1))) AS BIGINT) AS two_riv
          FROM w)
    SELECT n AS n_users,
           ROUND((two_riv - (n + 1) * sv) * 1.0 / (n * sv), 6) AS gini
    FROM s
    """,
)
def gini_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-user total spend — the concentration
    metric behind 'whale' analysis (0 = everyone equal, →1 = one user
    carries all value). G = (2·Σ i·x_(i) − (n+1)·Σx) / (n·Σx) over
    ascending-sorted user totals.

    Exactness: ties collapse by VALUE first, so the rank-weighted sum
    needs no per-row ranks — a value v holding ranks cb+1..cb+c
    contributes v·(2·c·cb + c(c+1)) to 2Σi·x_(i), an exact BIGINT;
    the statistic is one final double division. (At extreme scale the
    v·rank products move to DECIMAL(38,0), the linreg convention.)

    Scale shape: one events-sized shuffle (per-user totals), one
    users-sized aggregate onto the DISTINCT-total table, one
    cumulative window over that table ordered by value. The distinct-
    total domain is bounded by the value grid (cents), not by user
    count — the same bounded-domain trick as ks_test_value; a truly
    unbounded domain would call for the two-phase distributed rank
    (see operators/ntile.distributed_ntile).
    """
    u = load_table(spark, sf_dir, "events").groupBy("user_id").agg(
        F.sum(F.expr(_V100)).cast("bigint").alias("v")
    )
    g = u.groupBy("v").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    wb = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    w = g.select(
        "v", "c", F.coalesce(F.sum("c").over(wb), F.lit(0)).alias("cb")
    )
    s = w.agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum(F.col("v") * F.col("c")).cast("bigint").alias("sv"),
        F.sum(
            F.col("v")
            * (2 * F.col("c") * F.col("cb") + F.col("c") * (F.col("c") + 1))
        )
        .cast("bigint")
        .alias("two_riv"),
    )
    return s.select(
        F.col("n").alias("n_users"),
        F.round(
            (F.col("two_riv") - (F.col("n") + 1) * F.col("sv"))
            * 1.0
            / (F.col("n") * F.col("sv")),
            6,
        ).alias("gini"),
    )


@register(
    "entropy_type_daily",
    oracle=f"""
    WITH c AS (SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
                      event_type, CAST(COUNT(*) AS BIGINT) AS n
               FROM events GROUP BY 1, 2),
    t AS (SELECT day, CAST(SUM(n) AS BIGINT) AS nt FROM c GROUP BY day),
    terms AS (SELECT c.day,
                     CAST(round((c.n * 1.0 / t.nt)
                                * ln(c.n * 1.0 / t.nt)
                                * -1000000000) AS BIGINT) AS term9
              FROM c JOIN t ON t.day = c.day),
    k AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS n_types FROM c GROUP BY day)
    SELECT terms.day, k.n_types,
           ROUND(SUM(term9) / 1000000000.0, 6) AS entropy_nats
    FROM terms JOIN k ON k.day = terms.day
    GROUP BY terms.day, k.n_types
    """,
)
def entropy_type_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy (nats) of the event-type mix per day — the
    one-number 'is today's traffic composition unusual' monitor (a
    bot flood collapses entropy; uniform mix maximizes it at
    ln(n_types)). Each −p·ln(p) term is one double expression ×1e9 →
    BIGINT via the PSI convention, so the order of the per-day sum
    can't change the result.

    Scale shape: one events-sized (day, type) aggregate; everything
    after runs on days×types rows. The day totals join is
    days-sized — AQE broadcasts it.
    """
    c = load_table(spark, sf_dir, "events").groupBy(
        F.date_format("ts", "yyyy-MM-dd").alias("day"), "event_type"
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    t = c.groupBy("day").agg(F.sum("n").cast("bigint").alias("nt"))
    terms = c.join(t, "day").select(
        "day",
        F.round(
            (F.col("n") * 1.0 / F.col("nt"))
            * F.log(F.col("n") * 1.0 / F.col("nt"))
            * -1_000_000_000
        )
        .cast("bigint")
        .alias("term9"),
    )
    k = c.groupBy("day").agg(F.count(F.lit(1)).cast("bigint").alias("n_types"))
    return (
        terms.groupBy("day")
        .agg(F.round(F.sum("term9") / 1_000_000_000.0, 6).alias("entropy_nats"))
        .join(k, "day")
        .select("day", "n_types", "entropy_nats")
    )


# Benford first-digit probabilities log10(1+1/d), embedded as full-
# precision literals so both engines use bit-identical expected values.
# CAST AS DOUBLE: bare decimal literals parse as DECIMAL in Spark
# (the SCALE.md pitfall) — decimal arithmetic truncates at scale 6
# and diverges from DuckDB's double path.
_BENFORD_CASE = "CAST(CASE digit WHEN 1 THEN 0.3010299956639812 WHEN 2 THEN 0.17609125905568124 WHEN 3 THEN 0.12493873660829992 WHEN 4 THEN 0.09691001300805642 WHEN 5 THEN 0.07918124604762482 WHEN 6 THEN 0.06694678963061322 WHEN 7 THEN 0.05799194697768673 WHEN 8 THEN 0.05115252244738129 WHEN 9 THEN 0.04575749056067514 END AS DOUBLE)"


@register(
    "benford_first_digit",
    oracle=f"""
    WITH e AS (SELECT CAST(substring(CAST({_V100} AS VARCHAR), 1, 1)
                          AS BIGINT) AS digit
               FROM events WHERE {_V100} > 0),
    o AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n_obs
          FROM e GROUP BY digit),
    t AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS n FROM o),
    x AS (SELECT o.digit, o.n_obs, t.n, {_BENFORD_CASE} AS p
          FROM o CROSS JOIN t),
    terms AS (SELECT digit, n_obs, n, p,
                     CAST(round(((n_obs - n * p) * (n_obs - n * p))
                                / (n * p) * 1000000000) AS BIGINT) AS term9
              FROM x),
    c AS (SELECT CAST(SUM(term9) AS BIGINT) AS chi9 FROM terms)
    SELECT terms.digit, terms.n_obs,
           ROUND(terms.n * terms.p, 6) AS expected,
           CAST(c.chi9 // 1000 AS BIGINT) AS chi2_micro
    FROM terms CROSS JOIN c
    """,
)
def benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law conformance of the value column: observed vs
    expected first-significant-digit counts (P(d) = log10(1+1/d)) and
    the chi-square conformance statistic — the classic fabricated-
    data / instrumentation-bug detector for financial-style columns.
    Digits come from the ×100 integer's decimal string (no float log
    for digit extraction); expected probabilities are full-precision
    literals identical in both engines; per-digit chi-square terms go
    through the ×1e9 integer-sum convention.

    Scale shape: one events-sized aggregate onto ≤9 digit rows;
    everything after is constant-size arithmetic.
    """
    e = load_table(spark, sf_dir, "events").select(
        F.expr(f"CAST(substring(CAST({_V100} AS STRING), 1, 1) AS BIGINT)").alias(
            "digit"
        ),
        F.expr(_V100).alias("v100"),
    ).filter(F.col("v100") > 0).select("digit")
    o = e.groupBy("digit").agg(F.count(F.lit(1)).cast("bigint").alias("n_obs"))
    t = o.agg(F.sum("n_obs").cast("bigint").alias("n"))
    x = o.crossJoin(t).withColumn("p", F.expr(_BENFORD_CASE))
    terms = x.withColumn(
        "term9",
        F.round(
            ((F.col("n_obs") - F.col("n") * F.col("p"))
             * (F.col("n_obs") - F.col("n") * F.col("p")))
            / (F.col("n") * F.col("p"))
            * 1_000_000_000
        ).cast("bigint"),
    )
    c = terms.agg(F.sum("term9").cast("bigint").alias("chi9"))
    return terms.crossJoin(c).select(
        "digit",
        "n_obs",
        F.round(F.col("n") * F.col("p"), 6).alias("expected"),
        # chi2 in exact micro-units: ROUND(chi9/1e9, 6) hit a real
        # half-boundary mismatch (Spark rounds the double's SHORTEST
        # STRING repr via BigDecimal HALF_UP; DuckDB rounds the
        # actual binary value) — truncating integer division of the
        # integer term sum is boundary-free in both engines.
        F.expr("CAST(chi9 div 1000 AS BIGINT)").alias("chi2_micro"),
    )


@register(
    "watermark_lateness_stats",
    oracle=f"""
    WITH e AS (SELECT user_id, event_id, {_EP} AS ep FROM events),
    r AS (SELECT user_id, ep,
                 MAX(ep) OVER (PARTITION BY user_id ORDER BY event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING) AS hw
          FROM e),
    l AS (SELECT CASE WHEN hw IS NULL OR ep >= hw THEN 0
                      ELSE hw - ep END AS late_s
          FROM r)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN late_s > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_late,
           ROUND(SUM(CASE WHEN late_s > 0 THEN 1 ELSE 0 END)
                 / (COUNT(*) * 1.0), 6) AS late_frac,
           CAST(MAX(late_s) AS BIGINT) AS max_late_s,
           CAST(round(quantile_cont(20 * late_s, 0.95)) AS BIGINT)
               AS p95_late_s_x20
    FROM l
    """,
)
def watermark_lateness_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-order-ness profile: treating event_id as the ARRIVAL
    order (the generation sequence) and ts as event time, how late do
    events arrive behind their user's event-time high-water mark?
    This is the number that picks a Structured Streaming watermark —
    `withWatermark(ts, H)` drops exactly the events this query counts
    at late_s > H, so H is read off the p95/max here instead of
    guessed (the streaming family's 10-minute horizons came from this
    shape).

    Exactness: lateness is an integer second delta off a per-user
    running max (one user-partitioned window, arrival-ordered); the
    p95 uses the ×20 interpolation-exactness trick (quantile_cont of
    ints at q = k/20 is an exact integer in 20× space).

    Scale shape: ONE events-sized exchange on user_id for the
    running-max window, then a 1-row global aggregate with map-side
    partials. No self-join of events against its own history.
    """
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_timestamp("ts").alias("ep")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    r = e.withColumn("hw", F.max("ep").over(w))
    late = F.when(
        F.col("hw").isNull() | (F.col("ep") >= F.col("hw")), 0
    ).otherwise(F.col("hw") - F.col("ep"))
    l = r.select(late.alias("late_s"))
    return l.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(F.when(F.col("late_s") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_late"),
        F.round(
            F.sum(F.when(F.col("late_s") > 0, 1).otherwise(0))
            / (F.count(F.lit(1)) * 1.0),
            6,
        ).alias("late_frac"),
        F.max("late_s").cast("bigint").alias("max_late_s"),
        F.expr("CAST(round(percentile(20 * late_s, 0.95)) AS BIGINT)").alias(
            "p95_late_s_x20"
        ),
    )


@register(
    "welch_ttest_value",
    oracle=f"""
    WITH {_HALF_COUNTS_SQL},
    s AS (SELECT event_type,
                 CAST(SUM(ref_n) AS BIGINT) AS n1,
                 CAST(SUM(cur_n) AS BIGINT) AS n2,
                 CAST(SUM(v100 * ref_n) AS BIGINT) AS s1,
                 CAST(SUM(v100 * cur_n) AS BIGINT) AS s2,
                 CAST(SUM(v100 * v100 * ref_n) AS BIGINT) AS q1,
                 CAST(SUM(v100 * v100 * cur_n) AS BIGINT) AS q2
          FROM c GROUP BY 1),
    st AS (SELECT event_type, n1, n2,
                  s1 / (1.0 * n1) AS m1,
                  s2 / (1.0 * n2) AS m2,
                  (q1 - (s1 / (1.0 * n1)) * s1) / (n1 - 1.0) AS v1,
                  (q2 - (s2 / (1.0 * n2)) * s2) / (n2 - 1.0) AS v2
           FROM s),
    fin AS (SELECT event_type, n1, n2, m1, m2, v1, v2,
                   v1 / n1 + v2 / n2 AS se2
            FROM st)
    SELECT event_type,
           n1 AS n_ref, n2 AS n_cur,
           ROUND(m1, 6) AS mean_ref100,
           ROUND(m2, 6) AS mean_cur100,
           ROUND((m1 - m2) / SQRT(se2), 6) AS t_welch,
           ROUND((se2 * se2) /
                 ((v1 / n1) * (v1 / n1) / (n1 - 1.0)
                  + (v2 / n2) * (v2 / n2) / (n2 - 1.0)), 6) AS df_welch
    FROM fin
    """,
)
def welch_ttest_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test of the value distribution,
    first half of the time range vs second half, per event type — the
    parametric mean-shift companion to the drift family (PSI buckets,
    KS shape, Mann-Whitney ranks; this one prices the MEAN move in
    standard errors, with the Welch-Satterthwaite df that makes the
    unequal-n halves honest).

    Exactness: per-half n/Σv/Σv² are exact BIGINTs over v100 cents
    (Σv² tops out ~3.6e16 at 100× this SF — inside BIGINT); the
    t/df arithmetic is a fixed SCALAR double expression over those
    six integers — no accumulation, so IEEE determinism carries
    cross-engine and the result hash-gates at 6 dp like ks_test_value.

    Scale shape: one events-sized shuffle into the shared
    (type, v100) counts table (reused verbatim from the KS/MW
    queries), then types-sized arithmetic. Nothing else moves.
    """
    c, t = _half_counts(spark, sf_dir)
    s = c.groupBy("event_type").agg(
        F.sum("ref_n").cast("bigint").alias("n1"),
        F.sum("cur_n").cast("bigint").alias("n2"),
        F.sum(F.col("v100") * F.col("ref_n")).cast("bigint").alias("s1"),
        F.sum(F.col("v100") * F.col("cur_n")).cast("bigint").alias("s2"),
        F.sum(F.col("v100") * F.col("v100") * F.col("ref_n"))
        .cast("bigint")
        .alias("q1"),
        F.sum(F.col("v100") * F.col("v100") * F.col("cur_n"))
        .cast("bigint")
        .alias("q2"),
    )
    st = s.select(
        "event_type",
        "n1",
        "n2",
        (F.col("s1") / (F.col("n1") * 1.0)).alias("m1"),
        (F.col("s2") / (F.col("n2") * 1.0)).alias("m2"),
        (
            (F.col("q1") - (F.col("s1") / (F.col("n1") * 1.0)) * F.col("s1"))
            / (F.col("n1") - 1.0)
        ).alias("v1"),
        (
            (F.col("q2") - (F.col("s2") / (F.col("n2") * 1.0)) * F.col("s2"))
            / (F.col("n2") - 1.0)
        ).alias("v2"),
    )
    fin = st.withColumn("se2", F.col("v1") / F.col("n1") + F.col("v2") / F.col("n2"))
    return fin.select(
        "event_type",
        F.col("n1").alias("n_ref"),
        F.col("n2").alias("n_cur"),
        F.round("m1", 6).alias("mean_ref100"),
        F.round("m2", 6).alias("mean_cur100"),
        F.round((F.col("m1") - F.col("m2")) / F.sqrt("se2"), 6).alias("t_welch"),
        F.round(
            (F.col("se2") * F.col("se2"))
            / (
                (F.col("v1") / F.col("n1")) * (F.col("v1") / F.col("n1"))
                / (F.col("n1") - 1.0)
                + (F.col("v2") / F.col("n2")) * (F.col("v2") / F.col("n2"))
                / (F.col("n2") - 1.0)
            ),
            6,
        ).alias("df_welch"),
    )


# ---------------------------------------------------------------------------
# bootstrap_mean_ci — deterministic Poisson bootstrap (r5s4)
# ---------------------------------------------------------------------------

BOOT_B = 200  # resamples
# Poisson(1) CDF ×1e6, pre-rounded in Python: identical constants on
# both engines decide each (event, resample) weight from one md5.
_BOOT_T = (367879, 735759, 919699, 981012, 996340, 999406)
_BOOT_W_SQL = (
    "CASE WHEN h < 367879 THEN 0 WHEN h < 735759 THEN 1"
    " WHEN h < 919699 THEN 2 WHEN h < 981012 THEN 3"
    " WHEN h < 996340 THEN 4 WHEN h < 999406 THEN 5 ELSE 6 END"
)
BOOT_LO_RANK = 5    # 2.5th percentile of 200 ordered means
BOOT_HI_RANK = 196  # 97.5th percentile


@register(
    "bootstrap_mean_ci",
    oracle=f"""
    WITH ev AS (SELECT event_id, {_V100} AS v FROM events),
    fan AS (SELECT e.event_id, e.v, b.b,
                   ('0x' || substr(md5(CAST(e.event_id AS VARCHAR) || ':'
                                       || CAST(b.b AS VARCHAR)), 1, 8))::BIGINT
                       % 1000000 AS h
            FROM ev e CROSS JOIN (SELECT unnest(range(0, {BOOT_B})) AS b) b),
    wtd AS (SELECT b, v, {_BOOT_W_SQL} AS w FROM fan),
    res AS (SELECT b, CAST(SUM(w * v) AS BIGINT) AS sv,
                   CAST(SUM(w) AS BIGINT) AS sw
            FROM wtd GROUP BY b),
    means AS (SELECT b,
                     CAST(CASE WHEN sv < 0 THEN -(abs(sv) * 10000 // sw)
                          ELSE sv * 10000 // sw END AS BIGINT) AS mean_micro
              FROM res WHERE sw > 0),
    rk AS (SELECT mean_micro,
                  ROW_NUMBER() OVER (ORDER BY mean_micro, b) AS r
           FROM means),
    full_m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_events,
                      CAST(CASE WHEN SUM(v) < 0
                           THEN -(abs(SUM(v)) * 10000 // COUNT(*))
                           ELSE SUM(v) * 10000 // COUNT(*) END AS BIGINT)
                          AS mean_micro
               FROM ev)
    SELECT f.n_events, CAST({BOOT_B} AS BIGINT) AS n_resamples,
           f.mean_micro,
           (SELECT mean_micro FROM rk WHERE r = {BOOT_LO_RANK})
               AS ci_lo_micro,
           (SELECT mean_micro FROM rk WHERE r = {BOOT_HI_RANK})
               AS ci_hi_micro
    FROM full_m f
    """,
)
def bootstrap_mean_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """95% confidence interval for the mean event value by POISSON
    bootstrap — the bootstrap that actually runs at warehouse scale
    (independent Poisson(1) weights per (row, resample) approximate
    multinomial resampling without any global coordination; the
    method behind large-scale uncertainty estimation in production
    metric systems). Fully deterministic: each weight is decided by
    md5(event_id:b) against the Poisson(1) CDF pre-rounded to ×1e6
    integer thresholds (identical constants both engines), resample
    means are exact integer rationals reduced by a sign-safe
    truncating ×1e4 division (value is in cents → micro dollars),
    and the CI bounds are order statistics of the {BOOT_B} means
    with a total (mean, b) ordering.

    Scale shape: the B-fold fan-out never shuffles raw rows — the
    per-resample sums are map-side-combined, so the exchange carries
    {BOOT_B} partial rows per task regardless of corpus size. The
    rank step orders {BOOT_B} rows. At 100 TB the cost is B scans'
    worth of CPU over one scan's IO (Arrow-free, codegen'd CASE)."""
    from dbt_project_spark.functions.expressions import md5_int
    from dbt_project_spark.operators.dedup import spread_small_scan

    # r13 (sweep finding, guide §2.6 idle capacity): events.parquet is
    # ONE file at bench SFs, so the B-fold md5 fan (n×B string hashes,
    # the query's entire cost) ran on a single core — 25.3 s at sf0.1
    # with 31 cores idle. Spread the (by premise small) scan when it
    # has fewer partitions than the session's parallelism; at scale
    # the branch never fires (split count >> cores) and the fan stays
    # shuffle-free.
    ev = spread_small_scan(
        load_table(spark, sf_dir, "events").select(
            "event_id", F.expr(_V100).alias("v")
        )
    )
    bs = spark.range(BOOT_B).select(F.col("id").alias("b"))
    fan = ev.crossJoin(bs).select(
        "b",
        "v",
        (
            md5_int(
                F.concat_ws(
                    ":",
                    F.col("event_id").cast("string"),
                    F.col("b").cast("string"),
                )
            )
            % 1_000_000
        ).alias("h"),
    )
    wtd = fan.select("b", "v", F.expr(_BOOT_W_SQL).alias("w"))
    res = wtd.groupBy("b").agg(
        F.sum(F.col("w") * F.col("v")).cast("bigint").alias("sv"),
        F.sum("w").cast("bigint").alias("sw"),
    )
    means = res.filter(F.col("sw") > 0).select(
        "b",
        F.expr(
            "CAST(CASE WHEN sv < 0 THEN -(abs(sv) * 10000 div sw)"
            " ELSE sv * 10000 div sw END AS BIGINT)"
        ).alias("mean_micro"),
    )
    w = Window.orderBy("mean_micro", "b")
    rk = means.withColumn("r", F.row_number().over(w))
    lo = rk.filter(F.col("r") == BOOT_LO_RANK).select(
        F.col("mean_micro").alias("ci_lo_micro")
    )
    hi = rk.filter(F.col("r") == BOOT_HI_RANK).select(
        F.col("mean_micro").alias("ci_hi_micro")
    )
    full_m = ev.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.expr(
            "CAST(CASE WHEN SUM(v) < 0"
            " THEN -(abs(SUM(v)) * 10000 div COUNT(*))"
            " ELSE SUM(v) * 10000 div COUNT(*) END AS BIGINT)"
        ).alias("mean_micro"),
    )
    return (
        full_m.crossJoin(lo)
        .crossJoin(hi)
        .select(
            "n_events",
            F.lit(BOOT_B).cast("bigint").alias("n_resamples"),
            "mean_micro",
            "ci_lo_micro",
            "ci_hi_micro",
        )
    )


# ---------------------------------------------------------------------------
# simpson_slope_reversal — pooled vs stratified trend check (r5s5)
# ---------------------------------------------------------------------------


@register(
    "simpson_slope_reversal",
    oracle="""
    WITH e AS (SELECT event_type,
                      CAST(hour(ts) AS BIGINT) AS x,
                      CAST(round(value * 100, 0) AS BIGINT) AS y
               FROM events),
    g AS (SELECT event_type,
                 CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(x) AS BIGINT) AS sx,
                 CAST(SUM(y) AS BIGINT) AS sy,
                 CAST(SUM(x * y) AS BIGINT) AS sxy,
                 CAST(SUM(x * x) AS BIGINT) AS sxx
          FROM e GROUP BY event_type),
    tot AS (SELECT 'ALL' AS event_type,
                   CAST(SUM(n) AS BIGINT) AS n,
                   CAST(SUM(sx) AS BIGINT) AS sx,
                   CAST(SUM(sy) AS BIGINT) AS sy,
                   CAST(SUM(sxy) AS BIGINT) AS sxy,
                   CAST(SUM(sxx) AS BIGINT) AS sxx
            FROM g),
    u AS (SELECT * FROM g UNION ALL SELECT * FROM tot),
    s AS (SELECT event_type, n,
                 CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy
                     AS num,
                 CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx
                     AS den
          FROM u),
    sl AS (SELECT event_type, n,
                  CAST(CASE WHEN den = 0 THEN 0
                            WHEN num >= 0 THEN (num * 1000000) // den
                            ELSE -((-num * 1000000) // den)
                       END AS BIGINT) AS slope_micro,
                  CASE WHEN num > 0 THEN 1 WHEN num < 0 THEN -1 ELSE 0 END
                      AS sgn
           FROM s),
    p AS (SELECT sgn AS pooled_sgn,
                 slope_micro AS pooled_slope_micro
          FROM sl WHERE event_type = 'ALL')
    SELECT sl.event_type, sl.n, sl.slope_micro,
           p.pooled_slope_micro,
           CAST(CASE WHEN sl.sgn * p.pooled_sgn < 0 THEN 1 ELSE 0 END
                AS BIGINT) AS sign_flip
    FROM sl CROSS JOIN p
    """,
)
def simpson_slope_reversal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson's-paradox pre-flight: the least-squares slope of event
    value against hour-of-day, computed POOLED and per event_type.
    A stratum whose slope sign opposes the pooled sign (sign_flip=1)
    is the aggregation-reversal warning — the pooled trend is a
    composition artifact and any dashboard reading it as causal is
    wrong. This is the check an analyst runs before trusting a
    corpus-wide trend line.

    Determinism: slope = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²) with all six
    moments exact BIGINTs and the one division a sign-safe truncating
    micro division in DECIMAL(38,0)/HUGEINT (nΣxy overflows BIGINT at
    10¹⁰-event scale). The pooled moments are the SUMS of the stratum
    moments — no second pass over events.

    Scale shape: one map-side-combinable 5-moment aggregate per
    stratum (word-count shape), a |types|-row union, and a 1-row
    broadcast of the pooled slope."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.hour("ts").cast("bigint").alias("x"),
        F.expr("CAST(round(value * 100, 0) AS BIGINT)").alias("y"),
    )
    g = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
    )
    tot = g.agg(
        F.lit("ALL").alias("event_type"),
        F.sum("n").cast("bigint").alias("n"),
        F.sum("sx").cast("bigint").alias("sx"),
        F.sum("sy").cast("bigint").alias("sy"),
        F.sum("sxy").cast("bigint").alias("sxy"),
        F.sum("sxx").cast("bigint").alias("sxx"),
    )
    u = g.select("event_type", "n", "sx", "sy", "sxy", "sxx").unionByName(
        tot
    )
    s = u.select(
        "event_type",
        "n",
        F.expr(
            "CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy"
        ).alias("num"),
        F.expr(
            "CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx"
        ).alias("den"),
    )
    sl = s.select(
        "event_type",
        "n",
        F.expr(
            "CAST(CASE WHEN den = 0 THEN 0"
            " ELSE (num * 1000000) div den END AS BIGINT)"
        ).alias("slope_micro"),
        F.expr(
            "CASE WHEN num > 0 THEN 1 WHEN num < 0 THEN -1 ELSE 0 END"
        ).alias("sgn"),
    )
    # the pooled row's values on every row: an unpartitioned window over
    # the few-row slope table, not a cross join the planner cannot size
    pooled = lambda c: F.max(  # noqa: E731
        F.when(F.col("event_type") == "ALL", F.col(c))
    ).over(Window.partitionBy())
    return sl.select(
        "event_type",
        "n",
        "slope_micro",
        pooled("slope_micro").alias("pooled_slope_micro"),
        F.when(F.col("sgn") * pooled("sgn") < 0, 1)
        .otherwise(0)
        .cast("bigint")
        .alias("sign_flip"),
    )


# ---------------------------------------------------------------------------
# anova_oneway — one-way ANOVA of value across event types (r5s6)
# ---------------------------------------------------------------------------


@register(
    "anova_oneway",
    oracle=f"""
    WITH e AS (SELECT event_type, {_V100} AS v FROM events),
    g AS (SELECT event_type,
                 CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(v) AS BIGINT) AS s,
                 CAST(SUM(v * v) AS BIGINT) AS q
          FROM e GROUP BY event_type),
    t AS (SELECT CAST(COUNT(*) AS BIGINT) AS k,
                 CAST(SUM(n) AS BIGINT) AS nt,
                 CAST(SUM(s) AS BIGINT) AS st,
                 CAST(SUM(q) AS BIGINT) AS qt,
                 CAST(SUM(CAST(s AS HUGEINT) * s * 1000 // n) AS HUGEINT)
                     AS gterm
          FROM g),
    ss AS (SELECT k, nt,
                  CAST(gterm - CAST(st AS HUGEINT) * st * 1000 // nt
                       AS BIGINT) AS ssb_milli,
                  CAST(CAST(qt AS HUGEINT) * 1000 - gterm AS BIGINT)
                      AS ssw_milli
           FROM t)
    SELECT k AS n_groups, nt AS n_total, ssb_milli, ssw_milli,
           CAST(CAST(ssb_milli AS HUGEINT) * 1000000
                // (ssb_milli + ssw_milli) AS BIGINT) AS eta2_micro,
           ROUND((ssb_milli * 1.0 / (k - 1))
                 / (ssw_milli * 1.0 / (nt - k)), 6) AS f_stat
    FROM ss
    """,
)
def anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA of event value across the event-type groups: is
    the between-group mean spread large relative to within-group
    noise? F = MSB/MSW plus the eta-squared effect size — the first
    screen before pairwise tests (welch_ttest_value) are worth
    running.

    Exactness: per-group (n, Σv, Σv²) are exact BIGINTs over v100
    cents; the sum-of-squares identities SSB = Σ s_g²/n_g − S²/N and
    SSW = Q − Σ s_g²/n_g run entirely in DECIMAL(38,0)/HUGEINT at a
    ×1000 fixed-point scale (s_g² overflows BIGINT beyond ~10⁹ rows
    per group), truncating identically in both engines; only the
    final F ratio converts the two milli-integers to double (the
    ×1000 cancels), ROUND 6 — the welch_ttest convention.

    Scale shape: ONE map-side-combinable 3-moment aggregate over
    events (word-count shape) to |types| rows, then 1-row scalar
    arithmetic. Nothing else shuffles."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type", F.expr(_V100).alias("v")
    )
    g = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("v").cast("bigint").alias("s"),
        F.sum(F.col("v") * F.col("v")).cast("bigint").alias("q"),
    )
    t = g.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("n").cast("bigint").alias("nt"),
        F.sum("s").cast("bigint").alias("st"),
        F.sum("q").cast("bigint").alias("qt"),
        F.expr(
            "SUM(CAST(s AS DECIMAL(38,0)) * s * 1000 div n)"
        ).alias("gterm"),
    )
    ss = t.select(
        "k",
        "nt",
        F.expr(
            "CAST(gterm - CAST(st AS DECIMAL(38,0)) * st * 1000 div nt"
            " AS BIGINT)"
        ).alias("ssb_milli"),
        F.expr(
            "CAST(CAST(qt AS DECIMAL(38,0)) * 1000 - gterm AS BIGINT)"
        ).alias("ssw_milli"),
    )
    return ss.select(
        F.col("k").alias("n_groups"),
        F.col("nt").alias("n_total"),
        "ssb_milli",
        "ssw_milli",
        F.expr(
            "CAST(CAST(ssb_milli AS DECIMAL(38,0)) * 1000000"
            " div (ssb_milli + ssw_milli) AS BIGINT)"
        ).alias("eta2_micro"),
        F.round(
            (F.col("ssb_milli") * 1.0 / (F.col("k") - 1))
            / (F.col("ssw_milli") * 1.0 / (F.col("nt") - F.col("k"))),
            6,
        ).alias("f_stat"),
    )


# ---------------------------------------------------------------------------
# jarque_bera_value — normality screen from exact moments (r5s6)
# ---------------------------------------------------------------------------


@register(
    "jarque_bera_value",
    oracle=f"""
    WITH e AS (SELECT event_type, {_V100} AS v FROM events),
    g AS (SELECT event_type,
                 CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(v) AS BIGINT) AS s1,
                 CAST(SUM(v * v) AS BIGINT) AS s2,
                 CAST(SUM(CAST(v AS HUGEINT) * v * v) AS HUGEINT) AS s3,
                 CAST(SUM(CAST(v AS HUGEINT) * v * v * v) AS HUGEINT) AS s4
          FROM e GROUP BY event_type),
    d AS (SELECT event_type, n,
                 CAST(n AS DOUBLE) AS nd,
                 CAST(s1 AS DOUBLE) AS d1,
                 CAST(s2 AS DOUBLE) AS d2,
                 CAST(s3 AS DOUBLE) AS d3,
                 CAST(s4 AS DOUBLE) AS d4
          FROM g),
    m AS (SELECT event_type, n, nd,
                 d1 / nd AS mu,
                 d2 / nd - (d1 / nd) * (d1 / nd) AS m2,
                 d3 / nd - 3.0 * (d1 / nd) * (d2 / nd)
                     + 2.0 * (d1 / nd) * (d1 / nd) * (d1 / nd) AS m3,
                 d4 / nd - 4.0 * (d1 / nd) * (d3 / nd)
                     + 6.0 * (d1 / nd) * (d1 / nd) * (d2 / nd)
                     - 3.0 * (d1 / nd) * (d1 / nd) * (d1 / nd) * (d1 / nd)
                     AS m4
          FROM d),
    st AS (SELECT event_type, n, nd, mu, m2,
                  m3 / (m2 * sqrt(m2)) AS skew,
                  m4 / (m2 * m2) AS kurt
           FROM m)
    SELECT event_type, n,
           ROUND(mu, 6) AS mean100,
           ROUND(skew, 6) AS skewness,
           ROUND(kurt, 6) AS kurtosis,
           ROUND(nd / 6.0 * (skew * skew
                 + (kurt - 3.0) * (kurt - 3.0) / 4.0), 6) AS jb_stat
    FROM st
    """,
)
def jarque_bera_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera normality screen of the value distribution per
    event type: sample skewness and excess-kurtosis assembled from the
    first four raw moments, JB = n/6·(S² + (K−3)²/4). The test a
    pipeline runs before trusting any z-score-based anomaly threshold
    (ts_anomaly_sigma) — heavy tails silently widen sigma.

    Exactness: Σv³/Σv⁴ are exact DECIMAL(38,0)/HUGEINT sums (a single
    v⁴ term is ~5.8e18 — per-ROW it fits BIGINT, any sum does not);
    each engine then converts the five exact integers to double ONCE
    and evaluates the identical central-moment polynomial — fixed
    scalar expressions, no float accumulation, so IEEE determinism
    carries and ROUND 6 hash-gates (the welch_ttest convention, one
    sqrt for the skew denominator).

    Scale shape: one map-side-combinable 4-moment aggregate
    (word-count shape) to |types| rows; scalar math after."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type", F.expr(_V100).alias("v")
    )
    g = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("v").cast("bigint").alias("s1"),
        F.sum(F.col("v") * F.col("v")).cast("bigint").alias("s2"),
        F.expr("SUM(CAST(v AS DECIMAL(38,0)) * v * v)").alias("s3"),
        F.expr("SUM(CAST(v AS DECIMAL(38,0)) * v * v * v)").alias("s4"),
    )
    d = g.select(
        "event_type",
        "n",
        F.col("n").cast("double").alias("nd"),
        F.col("s1").cast("double").alias("d1"),
        F.col("s2").cast("double").alias("d2"),
        F.col("s3").cast("double").alias("d3"),
        F.col("s4").cast("double").alias("d4"),
    )
    m = d.select(
        "event_type",
        "n",
        "nd",
        (F.col("d1") / F.col("nd")).alias("mu"),
        (
            F.col("d2") / F.col("nd")
            - (F.col("d1") / F.col("nd")) * (F.col("d1") / F.col("nd"))
        ).alias("m2"),
        F.expr(
            "d3 / nd - 3.0 * (d1 / nd) * (d2 / nd)"
            " + 2.0 * (d1 / nd) * (d1 / nd) * (d1 / nd)"
        ).alias("m3"),
        F.expr(
            "d4 / nd - 4.0 * (d1 / nd) * (d3 / nd)"
            " + 6.0 * (d1 / nd) * (d1 / nd) * (d2 / nd)"
            " - 3.0 * (d1 / nd) * (d1 / nd) * (d1 / nd) * (d1 / nd)"
        ).alias("m4"),
    )
    st = m.select(
        "event_type",
        "n",
        "nd",
        "mu",
        "m2",
        F.expr("m3 / (m2 * sqrt(m2))").alias("skew"),
        F.expr("m4 / (m2 * m2)").alias("kurt"),
    )
    return st.select(
        "event_type",
        "n",
        F.round("mu", 6).alias("mean100"),
        F.round("skew", 6).alias("skewness"),
        F.round("kurt", 6).alias("kurtosis"),
        F.round(
            F.col("nd")
            / 6.0
            * (
                F.col("skew") * F.col("skew")
                + (F.col("kurt") - 3.0) * (F.col("kurt") - 3.0) / 4.0
            ),
            6,
        ).alias("jb_stat"),
    )


# ---------------------------------------------------------------------------
# spearman_user_value — rank correlation, activity vs spend (r5s6)
# ---------------------------------------------------------------------------


@register(
    "spearman_user_value",
    oracle=f"""
    WITH u AS (SELECT user_id,
                      CAST(COUNT(*) AS BIGINT) AS cnt,
                      CAST(SUM({_V100}) AS BIGINT) AS tot
               FROM events GROUP BY user_id),
    r AS (SELECT user_id,
                 ROW_NUMBER() OVER (ORDER BY cnt, user_id) AS rx,
                 ROW_NUMBER() OVER (ORDER BY tot, user_id) AS ry
          FROM u),
    a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM((rx - ry) * (rx - ry)) AS BIGINT) AS sum_d2
          FROM r)
    SELECT n AS n_users, sum_d2,
           CAST(1000000 - CAST(sum_d2 AS HUGEINT) * 6000000
                // (CAST(n AS HUGEINT) * n * n - n) AS BIGINT)
               AS rho_micro
    FROM a
    """,
)
def spearman_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between per-user event COUNT and
    per-user total spend: do the most active users also spend the
    most, monotonically? The rank-based complement to wt_correlation's
    Pearson — robust to the heavy value tail that benford/jarque_bera
    flag.

    Exactness: ranks are tie-free ROW_NUMBERs (deterministic user_id
    tie-break — the ranker_kendall_tau convention, so no tie
    correction term), and rho = 1 − 6Σd²/(n³−n) is PURE INTEGER to
    the end: 6e6·Σd² runs in DECIMAL(38,0)/HUGEINT (Σd² ~ n³/3
    overflows BIGINT beyond ~10⁶ users), one truncating micro
    division. No floats anywhere.

    Scale shape: events collapse to a users-sized aggregate first;
    the two ROW_NUMBER sorts run on users (thousands-fold smaller).
    At 10⁹ users the global windows become the bottleneck — swap to
    rangepartitioned sort + per-partition offset (the seq_pack
    two-phase prefix-sum pattern) before worrying."""
    u = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt"),
            F.sum(F.expr(_V100)).cast("bigint").alias("tot"),
        )
    )
    r = u.select(
        F.row_number()
        .over(Window.orderBy("cnt", "user_id"))
        .cast("bigint")
        .alias("rx"),
        F.row_number()
        .over(Window.orderBy("tot", "user_id"))
        .cast("bigint")
        .alias("ry"),
    )
    a = r.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum((F.col("rx") - F.col("ry")) * (F.col("rx") - F.col("ry")))
        .cast("bigint")
        .alias("sum_d2"),
    )
    return a.select(
        F.col("n").alias("n_users"),
        "sum_d2",
        F.expr(
            "CAST(1000000 - CAST(sum_d2 AS DECIMAL(38,0)) * 6000000"
            " div (CAST(n AS DECIMAL(38,0)) * n * n - n) AS BIGINT)"
        ).alias("rho_micro"),
    )


# ---------------------------------------------------------------------------
# quantile_drift_qq — decile QQ table, first vs second half (r5s6)
# ---------------------------------------------------------------------------


@register(
    "quantile_drift_qq",
    oracle=f"""
    WITH {_HALF_COUNTS_SQL},
    r AS (SELECT event_type, v100,
                 SUM(ref_n) OVER (PARTITION BY event_type
                                  ORDER BY v100) AS cr,
                 SUM(cur_n) OVER (PARTITION BY event_type
                                  ORDER BY v100) AS cc
          FROM c),
    ks AS (SELECT unnest(range(1, 10)) AS k),
    refq AS (SELECT r.event_type, ks.k,
                    CAST(MIN(r.v100) AS BIGINT) AS ref_v100
             FROM r JOIN t USING (event_type) CROSS JOIN ks
             WHERE r.cr * 10 >= ks.k * t.n1
             GROUP BY 1, 2),
    curq AS (SELECT r.event_type, ks.k,
                    CAST(MIN(r.v100) AS BIGINT) AS cur_v100
             FROM r JOIN t USING (event_type) CROSS JOIN ks
             WHERE r.cc * 10 >= ks.k * t.n2
             GROUP BY 1, 2)
    SELECT refq.event_type, CAST(refq.k AS BIGINT) AS k,
           refq.ref_v100, curq.cur_v100,
           curq.cur_v100 - refq.ref_v100 AS shift_cents
    FROM refq JOIN curq ON curq.event_type = refq.event_type
                       AND curq.k = refq.k
    """,
)
def quantile_drift_qq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile QQ table of the value distribution, first half of the
    time range (reference) vs second half (current), per event type:
    WHERE the distribution moved, not just whether (PSI) or how far in
    aggregate (KS). A drift responder reads shift_cents by decile to
    see if the move is a tail event or a wholesale location shift.

    Exactness: quantiles are pure ORDER STATISTICS on the shared
    (type, v100) counts table — the k-th decile is the smallest v100
    whose cumulative count satisfies 10·cum ≥ k·n (the integer form
    of cum ≥ ceil(k·n/10)); no interpolation, no division at all.

    Scale shape: reuses the KS/MW/Welch counts table (one events-sized
    shuffle); the cumulative window, the 9-row decile fan-out, and the
    min-reduction all run on (type × distinct-v100) rows."""
    c, t = _half_counts(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("v100")
    r = c.select(
        "event_type",
        "v100",
        F.sum("ref_n").over(w).alias("cr"),
        F.sum("cur_n").over(w).alias("cc"),
    )
    ks = spark.range(1, 10).select(F.col("id").alias("k"))
    rt = r.join(t, "event_type").crossJoin(ks)
    refq = (
        rt.filter(F.col("cr") * 10 >= F.col("k") * F.col("n1"))
        .groupBy("event_type", "k")
        .agg(F.min("v100").cast("bigint").alias("ref_v100"))
    )
    curq = (
        rt.filter(F.col("cc") * 10 >= F.col("k") * F.col("n2"))
        .groupBy("event_type", "k")
        .agg(F.min("v100").cast("bigint").alias("cur_v100"))
    )
    return refq.join(curq, ["event_type", "k"]).select(
        "event_type",
        F.col("k").cast("bigint").alias("k"),
        "ref_v100",
        "cur_v100",
        (F.col("cur_v100") - F.col("ref_v100")).alias("shift_cents"),
    )


# ---------------------------------------------------------------------------
# lorenz_curve_deciles — spend-concentration table behind Gini (r5s8)
# ---------------------------------------------------------------------------


@register(
    "lorenz_curve_deciles",
    oracle=f"""
    WITH u AS (SELECT user_id, CAST(SUM({_V100}) AS BIGINT) AS tot
               FROM events GROUP BY user_id),
    r AS (SELECT tot,
                 ROW_NUMBER() OVER (ORDER BY tot, user_id) AS rk
          FROM u),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(tot) AS BIGINT) AS grand
          FROM u),
    d AS (SELECT (r.rk - 1) * 10 // n.n + 1 AS decile, r.tot
          FROM r CROSS JOIN n),
    g AS (SELECT decile,
                 CAST(COUNT(*) AS BIGINT) AS n_users,
                 CAST(SUM(tot) AS BIGINT) AS spend
          FROM d GROUP BY decile),
    c AS (SELECT decile, n_users, spend,
                 SUM(spend) OVER (ORDER BY decile) AS cum_spend
          FROM g)
    SELECT CAST(decile AS BIGINT) AS decile, n_users,
           CAST(spend * 1000000 // n.grand AS BIGINT) AS share_micro,
           CAST(cum_spend * 1000000 // n.grand AS BIGINT)
               AS cum_share_micro
    FROM c CROSS JOIN n
    """,
)
def lorenz_curve_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve of per-user spend at decile resolution: each
    decile's share of total spend and the cumulative share — the
    TABLE behind gini_user_value's single number, read to answer 'how
    much do the top 10% carry?' (concentration risk for revenue, or
    for a training corpus whose token mass one source dominates).

    Exactness: deciles are the exact-rank integer assignment
    (rank−1)·10 div n + 1 (the lift_chart_deciles convention, tie-free
    (tot, user_id) order), shares truncating micro divisions over
    exact BIGINT sums. No floats.

    Scale shape: events collapse to a users-sized aggregate; the
    global ROW_NUMBER runs on users (swap to the seq_pack two-phase
    prefix sum beyond ~10⁹ users), then a 10-row rollup."""
    u = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.sum(F.expr(_V100)).cast("bigint").alias("tot"))
    )
    r = u.select(
        "tot",
        F.row_number().over(Window.orderBy("tot", "user_id")).alias("rk"),
    )
    n = u.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("tot").cast("bigint").alias("grand"),
    )
    d = r.crossJoin(n).select(
        F.expr("(rk - 1) * 10 div n + 1").alias("decile"), "tot"
    )
    g = d.groupBy("decile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("tot").cast("bigint").alias("spend"),
    )
    c = g.select(
        "decile",
        "n_users",
        "spend",
        F.sum("spend").over(Window.orderBy("decile")).alias("cum_spend"),
    )
    return c.crossJoin(n).select(
        F.col("decile").cast("bigint").alias("decile"),
        "n_users",
        F.expr("CAST(spend * 1000000 div grand AS BIGINT)").alias(
            "share_micro"
        ),
        F.expr("CAST(cum_spend * 1000000 div grand AS BIGINT)").alias(
            "cum_share_micro"
        ),
    )


# ---------------------------------------------------------------------------
# hill_tail_index — how heavy is the value tail, really (r5s23)
# ---------------------------------------------------------------------------

HILL_K = 100  # tail order statistics used


@register(
    "hill_tail_index",
    oracle=f"""
    WITH e AS (SELECT event_id, {_V100} AS v FROM events WHERE {_V100} > 0),
    top AS (SELECT v, ROW_NUMBER() OVER (ORDER BY v DESC, event_id) AS rk
            FROM e ORDER BY v DESC, event_id LIMIT {HILL_K} + 1),
    thr AS (SELECT v AS vk FROM top WHERE rk = {HILL_K} + 1),
    terms AS (SELECT CAST(round(ln(CAST(top.v AS DOUBLE) / thr.vk)
                                * 1000000000) AS BIGINT) AS l9
              FROM top CROSS JOIN thr WHERE top.rk <= {HILL_K}),
    s AS (SELECT CAST(SUM(l9) AS BIGINT) AS s9,
                 CAST(COUNT(*) AS BIGINT) AS k
          FROM terms)
    SELECT s.k AS k_tail, thr.vk AS threshold_v100,
           CAST(s.s9 // s.k AS BIGINT) AS hill_gamma_nano,
           CASE WHEN s.s9 = 0 THEN NULL
                ELSE ROUND(CAST(s.k AS DOUBLE) * 1000000000 / s.s9, 6)
           END AS alpha_hat
    FROM s CROSS JOIN thr
    """,
)
def hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator of the value distribution's tail index over the
    top-{K} order statistics: γ̂ = (1/k)·Σ ln(x_(i)/x_(k+1)), α̂ =
    1/γ̂. α below ~2 means infinite variance — every mean-based
    statistic in the stack (welch, CUPED, the delta method) is on
    thin ice and the medians/winsorized family should lead. The
    power-law sibling of gumbel_block_maxima's bounded-tail fit; read
    the two together to pick the EVT regime.

    Exactness: the tail set is a deterministic (value, event_id)
    top-(k+1); each order statistic contributes ONE ×1e9 ln-term
    BIGINT against the exact threshold value (fixed-point-sum
    convention), γ̂ is a truncating nano division and α̂ one scalar
    double, ROUND 6; an all-equal tail (Σ = 0) emits NULL α̂.

    Scale shape: one TakeOrdered heap over the corpus, then
    constant-size arithmetic."""
    e = load_table(spark, sf_dir, "events").select(
        "event_id", F.expr(_V100).alias("v")
    ).filter(F.col("v") > 0)
    top = (
        e.orderBy(F.desc("v"), "event_id")
        .limit(HILL_K + 1)
        .select(
            "v",
            F.row_number()
            .over(Window.orderBy(F.desc("v"), "event_id"))
            .alias("rk"),
        )
    )
    from dbt_project_spark.caching import persist_tracked

    top = persist_tracked(top)
    thr = top.filter(F.col("rk") == HILL_K + 1).select(
        F.col("v").alias("vk")
    )
    terms = (
        top.filter(F.col("rk") <= HILL_K)
        .crossJoin(thr)
        .select(
            F.expr(
                "CAST(round(ln(CAST(v AS DOUBLE) / vk) * 1000000000)"
                " AS BIGINT)"
            ).alias("l9")
        )
    )
    s = terms.agg(
        F.sum("l9").cast("bigint").alias("s9"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    )
    return s.crossJoin(thr).select(
        F.col("k").alias("k_tail"),
        F.col("vk").alias("threshold_v100"),
        F.expr("CAST(s9 div k AS BIGINT)").alias("hill_gamma_nano"),
        F.expr(
            "CASE WHEN s9 = 0 THEN NULL"
            " ELSE ROUND(CAST(k AS DOUBLE) * 1000000000 / s9, 6) END"
        ).alias("alpha_hat"),
    )


# ---------------------------------------------------------------------------
# wasserstein_value_drift — exact W1 distance between time halves (r6)
# ---------------------------------------------------------------------------


@register(
    "wasserstein_value_drift",
    oracle=f"""
    WITH e AS (SELECT {_V100} AS v100,
                      CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS ep
               FROM events),
    mid AS (SELECT (MIN(ep) + MAX(ep)) // 2 AS m FROM e),
    d AS (SELECT v100,
                 CAST(SUM(CASE WHEN ep < (SELECT m FROM mid)
                               THEN 1 ELSE 0 END) AS BIGINT) AS cr,
                 CAST(SUM(CASE WHEN ep >= (SELECT m FROM mid)
                               THEN 1 ELSE 0 END) AS BIGINT) AS cc
          FROM e GROUP BY v100),
    t AS (SELECT CAST(SUM(cr) AS HUGEINT) AS nr,
                 CAST(SUM(cc) AS HUGEINT) AS nc FROM d),
    c AS (SELECT v100,
                 CAST(SUM(cr) OVER w AS HUGEINT) AS cumr,
                 CAST(SUM(cc) OVER w AS HUGEINT) AS cumc,
                 LEAD(v100) OVER (ORDER BY v100) AS nxt
          FROM d WINDOW w AS (ORDER BY v100
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW)),
    s AS (SELECT CAST(SUM(abs(c.cumr * t.nc - c.cumc * t.nr)
                          * (c.nxt - c.v100)) AS HUGEINT) AS w1n
          FROM c CROSS JOIN t WHERE c.nxt IS NOT NULL)
    SELECT CAST(t.nr AS BIGINT) AS n_ref, CAST(t.nc AS BIGINT) AS n_cur,
           CAST(COALESCE(s.w1n, 0) AS VARCHAR) AS w1_num,
           CASE WHEN t.nr = 0 OR t.nc = 0 THEN NULL
                ELSE CAST(COALESCE(s.w1n, 0) * 10000 // (t.nr * t.nc)
                          AS BIGINT) END AS w1_value_micro
    FROM t CROSS JOIN s
    """,
)
def wasserstein_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 1-Wasserstein (earth-mover) distance between the value
    distributions of the first and second time halves — the
    distributional-drift number with UNITS (how far, in value terms,
    did mass move), where PSI (drift_psi_value) is bucket-relative and
    the QQ table (quantile_drift_qq) is rank-relative. W1 is what a
    monitoring threshold in business units wants.

    Exact integer form: W1 = ∫|F_ref − F_cur| dx over the empirical
    CDFs = Σ_gaps |cumr·n_cur − cumc·n_ref| · Δv / (n_ref·n_cur),
    computed on the DISTINCT-value grid (cents) with
    DECIMAL(38,0)/HUGEINT products — no per-row floats anywhere; the
    one floor division to micro value-units happens at the end.

    Scale shape: one corpus-sized (value-cent, half) count aggregate;
    the CDF windows run over the bounded distinct-value grid (the
    value domain in cents — thousands of rows, independent of corpus
    size), one 1-row reduce after."""
    e = load_table(spark, sf_dir, "events").select(
        F.expr(_V100).alias("v100"),
        F.unix_timestamp("ts").alias("ep"),
    )
    from dbt_project_spark.caching import persist_tracked

    e = persist_tracked(e)
    mid = e.agg(
        F.expr("CAST((MIN(ep) + MAX(ep)) div 2 AS BIGINT)").alias("m")
    )
    d = (
        e.crossJoin(mid)
        .groupBy("v100")
        .agg(
            F.sum(F.when(F.col("ep") < F.col("m"), 1).otherwise(0))
            .cast("bigint")
            .alias("cr"),
            F.sum(F.when(F.col("ep") >= F.col("m"), 1).otherwise(0))
            .cast("bigint")
            .alias("cc"),
        )
    )
    d = persist_tracked(d)
    t = d.agg(
        F.sum("cr").cast("decimal(38,0)").alias("nr"),
        F.sum("cc").cast("decimal(38,0)").alias("nc"),
    )
    w = Window.orderBy("v100").rowsBetween(Window.unboundedPreceding, 0)
    c = d.select(
        "v100",
        F.sum("cr").over(w).cast("decimal(38,0)").alias("cumr"),
        F.sum("cc").over(w).cast("decimal(38,0)").alias("cumc"),
        F.lead("v100").over(Window.orderBy("v100")).alias("nxt"),
    )
    s = (
        c.crossJoin(t)
        .filter(F.col("nxt").isNotNull())
        .agg(
            F.sum(
                F.abs(
                    F.col("cumr") * F.col("nc") - F.col("cumc") * F.col("nr")
                )
                * (F.col("nxt") - F.col("v100"))
            ).alias("w1n")
        )
    )
    return (
        t.crossJoin(s)
        .select(
            F.col("nr").cast("bigint").alias("n_ref"),
            F.col("nc").cast("bigint").alias("n_cur"),
            F.expr("CAST(COALESCE(w1n, 0) AS STRING)").alias("w1_num"),
            F.expr(
                "CASE WHEN nr = 0 OR nc = 0 THEN NULL"
                " ELSE CAST(COALESCE(w1n, 0) * 10000 div (nr * nc)"
                " AS BIGINT) END"
            ).alias("w1_value_micro"),
        )
    )
