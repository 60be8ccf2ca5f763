"""Operations / reliability analytics family (round 4, session 4):
the monitoring surfaces an on-call data team runs on a production
pipeline — a statistical-process-control p-chart on the daily error
rate, a two-period data-contract profile diff, a Kaplan–Meier user
survival curve, and a per-table parquet file manifest (the
small-file/compaction trigger next to operators/layout.py).

Float determinism follows the repo conventions: rates and shares as
truncating integer micro-units, control limits compared in EXACT
integer space (squared inequality — no sqrt), irrational (ln) terms
through the ×1e9 integer-sum convention.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dbt_project_spark.catalog import register
from dbt_project_spark.operators.joins import literal_table
from dbt_project_spark.sources import load_table

_V100 = "CAST(round(value * 100, 0) AS BIGINT)"
_EP = "CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT)"


# ---------------------------------------------------------------------------
# spc_pchart_error_rate — 3-sigma control chart on the daily error rate
# ---------------------------------------------------------------------------


@register(
    "spc_pchart_error_rate",
    oracle="""
    WITH d AS (SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
                      CAST(COUNT(*) AS BIGINT) AS n,
                      CAST(SUM(CASE WHEN event_type = 'error'
                                    THEN 1 ELSE 0 END) AS BIGINT) AS x
               FROM events GROUP BY 1),
    t AS (SELECT CAST(SUM(n) AS BIGINT) AS nt, CAST(SUM(x) AS BIGINT) AS et
          FROM d)
    SELECT d.day, d.n AS n_events, d.x AS n_errors,
           CAST(d.x * 1000000 // d.n AS BIGINT) AS rate_micro,
           CAST(t.et * 1000000 // t.nt AS BIGINT) AS center_micro,
           CAST(d.x * t.nt - d.n * t.et AS HUGEINT)
             * CAST(d.x * t.nt - d.n * t.et AS HUGEINT)
             > 9 * CAST(t.et AS HUGEINT) * (t.nt - t.et) * d.n
               AS out_of_control
    FROM d CROSS JOIN t
    """,
)
def spc_pchart_error_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical-process-control p-chart on the daily error rate:
    each day's error proportion p_d = x_d/n_d against 3σ control
    limits around the full-period center line p̄ = E/N, with
    σ_d = sqrt(p̄(1−p̄)/n_d) (per-day limits — sample sizes vary by
    day, so a fixed band would be wrong). A day outside the band is a
    special-cause signal the on-call rotation pages on; inside is
    common-cause noise.

    Exactness: |p_d − p̄| > 3σ_d is squared and cleared to the
    integer inequality (x_d·N − n_d·E)² > 9·E·(N−E)·n_d — the
    ts_anomaly_sigma trick on Bernoulli counts. The square and the
    right side exceed BIGINT at warehouse row counts, so both run in
    DECIMAL(38,0)/HUGEINT (the linreg convention); rates are emitted
    as truncating integer micro-units. No sqrt, no float compare, no
    threshold-tie risk.

    Scale shape: one events-sized map-side-combined aggregate to
    days; the totals are a 1-row broadcast; everything after is
    arithmetic on the days table.
    """
    d = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
            .cast("bigint")
            .alias("x"),
        )
    )
    t = d.agg(
        F.sum("n").cast("bigint").alias("nt"),
        F.sum("x").cast("bigint").alias("et"),
    )
    return d.crossJoin(t).select(
        "day",
        F.col("n").alias("n_events"),
        F.col("x").alias("n_errors"),
        F.expr("CAST(x * 1000000 div n AS BIGINT)").alias("rate_micro"),
        F.expr("CAST(et * 1000000 div nt AS BIGINT)").alias("center_micro"),
        F.expr(
            "CAST(x * nt - n * et AS DECIMAL(38,0))"
            " * CAST(x * nt - n * et AS DECIMAL(38,0))"
            " > 9 * CAST(et AS DECIMAL(38,0)) * (nt - et) * n"
        ).alias("out_of_control"),
    )


# ---------------------------------------------------------------------------
# profile_drift_halves — two-period data-contract profile diff
# ---------------------------------------------------------------------------


@register(
    "profile_drift_halves",
    oracle=f"""
    WITH e AS (SELECT user_id, event_type, {_V100} AS v100, {_EP} AS ep
               FROM events),
    mid AS (SELECT (MIN(ep) + MAX(ep)) // 2 AS m FROM e)
    SELECT CASE WHEN ep < (SELECT m FROM mid) THEN 'ref' ELSE 'cur' END AS half,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS null_users,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types,
           CAST(MIN(v100) AS BIGINT) AS min_v100,
           CAST(MAX(v100) AS BIGINT) AS max_v100,
           CAST(SUM(v100) AS BIGINT) AS sum_v100,
           CAST(SUM(v100) * 10000 // COUNT(*) AS BIGINT) AS mean_value_micro
    FROM e GROUP BY 1
    """,
)
def profile_drift_halves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-contract profile diff: the per-column profile
    (row count, null rate, distinct cardinalities, min/max/sum/mean
    of value) for the first half of the time range vs the second —
    the coarse schema-level drift monitor a pipeline checks BEFORE
    the distributional tests (PSI/KS catch shape drift; this catches
    'user_id suddenly 30% null' and 'a new event_type appeared',
    which no bucket statistic sees). Same midpoint split as
    drift_psi_value so all drift monitors compare identical periods.

    Scale shape: ONE conditional-aggregate pass over events grouped
    by the half label (two groups — map-side combined to two partial
    rows per task; the distinct counts are Spark's standard
    two-phase distinct-aggregate expansion). Exact integer output;
    the mean is a truncating micro-dollar division.
    """
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.expr(_V100).alias("v100"),
        F.unix_timestamp("ts").alias("ep"),
    )
    mid = e.agg(F.expr("(min(ep) + max(ep)) div 2").cast("bigint").alias("m"))
    return (
        e.crossJoin(mid)
        .groupBy(
            F.when(F.col("ep") < F.col("m"), "ref").otherwise("cur").alias(
                "half"
            )
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(F.when(F.col("user_id").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("null_users"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
            F.countDistinct("event_type").cast("bigint").alias("n_types"),
            F.min("v100").cast("bigint").alias("min_v100"),
            F.max("v100").cast("bigint").alias("max_v100"),
            F.sum("v100").cast("bigint").alias("sum_v100"),
            F.expr("CAST(SUM(v100) * 10000 div COUNT(*) AS BIGINT)").alias(
                "mean_value_micro"
            ),
        )
    )


# ---------------------------------------------------------------------------
# kaplan_meier_retention — user survival curve (product-limit estimator)
# ---------------------------------------------------------------------------

# Silent for more than this many full days before the observation end
# = churned. The synthetic users are hyperactive (max silence gap at
# sf0.1 is 3 days), so the horizon is 1 day here; a real product
# would use 7-30. The estimator is horizon-agnostic.
KM_CHURN_HORIZON_DAYS = 1


_KM_ORACLE = f"""
    WITH e AS (SELECT user_id, {_EP} // 86400 AS d FROM events
               WHERE user_id IS NOT NULL),
    u AS (SELECT user_id, MIN(d) AS fd, MAX(d) AS ld FROM e GROUP BY 1),
    endd AS (SELECT MAX(ld) AS ed FROM u),
    lt AS (SELECT CASE WHEN endd.ed - u.ld > {KM_CHURN_HORIZON_DAYS}
                       THEN u.ld - u.fd ELSE endd.ed - u.fd END AS t,
                  CASE WHEN endd.ed - u.ld > {KM_CHURN_HORIZON_DAYS}
                       THEN 1 ELSE 0 END AS is_death
           FROM u CROSS JOIN endd),
    g AS (SELECT t, CAST(SUM(is_death) AS BIGINT) AS deaths,
                 CAST(SUM(1 - is_death) AS BIGINT) AS censored
          FROM lt GROUP BY t),
    tot AS (SELECT CAST(SUM(deaths + censored) AS BIGINT) AS nu FROM g),
    r AS (SELECT g.t, g.deaths, g.censored,
                 tot.nu - COALESCE(SUM(g.deaths + g.censored)
                     OVER (ORDER BY g.t ROWS BETWEEN UNBOUNDED PRECEDING
                           AND 1 PRECEDING), 0) AS n_risk
          FROM g CROSS JOIN tot),
    d AS (SELECT t, n_risk, deaths, censored,
                 CASE WHEN deaths < n_risk THEN
                   CAST(round(ln((n_risk - deaths) * 1.0 / n_risk)
                              * 1000000000) AS BIGINT) END AS term9
          FROM r WHERE deaths > 0)
    SELECT CAST(t AS BIGINT) AS t_day, CAST(n_risk AS BIGINT) AS n_risk,
           deaths, censored,
           CAST(deaths * 1000000 // n_risk AS BIGINT) AS hazard_micro,
           CAST(SUM(term9) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)
                AS BIGINT) AS log_surv_nano
    FROM d
    """


@register("kaplan_meier_retention", oracle=_KM_ORACLE)
def kaplan_meier_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier user survival curve: per-user lifetime = days
    from first to last event; a user silent for more than
    KM_CHURN_HORIZON_DAYS days before the observation end is a
    CHURN event at their lifetime, anyone else is right-CENSORED at
    (end − first day) — the textbook product-limit setup, which a
    naive churn-rate curve gets wrong precisely because it ignores
    censoring (late cohorts haven't had time to churn). Emits, per
    death time t: the at-risk count, deaths, censored-at-t, the
    discrete hazard d/n in micro-units, and the log survival
    ln S(t) = Σ ln((n−d)/n) in nano-units (S(t) = exp(·/1e9);
    the sum stays integer-exact via the ×1e9 ln-term convention —
    a cross-engine float PRODUCT would never hash-gate). If a death
    time exhausts the risk set (n = d, S → 0) its ln term is NULL
    and SUM skips it — identically in both engines.

    Scale shape: events collapse to per-user (first, last) in one
    map-side-combined aggregate; everything after (life table,
    cumulative windows over distinct lifetimes — bounded by the
    observation span in days, not by users) is tiny. The risk set
    comes from total − running-sum, not a per-t rescan.
    """
    e = (
        load_table(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull())
        .select(
            "user_id", F.expr("unix_timestamp(ts) div 86400").alias("d")
        )
    )
    u = e.groupBy("user_id").agg(
        F.min("d").alias("fd"), F.max("d").alias("ld")
    )
    endd = u.agg(F.max("ld").alias("ed"))
    H = KM_CHURN_HORIZON_DAYS
    lt = u.crossJoin(endd).select(
        F.when(
            F.col("ed") - F.col("ld") > H, F.col("ld") - F.col("fd")
        )
        .otherwise(F.col("ed") - F.col("fd"))
        .alias("t"),
        F.when(F.col("ed") - F.col("ld") > H, 1).otherwise(0).alias(
            "is_death"
        ),
    )
    g = lt.groupBy("t").agg(
        F.sum("is_death").cast("bigint").alias("deaths"),
        F.sum(F.lit(1) - F.col("is_death")).cast("bigint").alias("censored"),
    )
    tot = g.agg(
        F.sum(F.col("deaths") + F.col("censored")).cast("bigint").alias("nu")
    )
    wb = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    r = g.crossJoin(tot).select(
        "t",
        "deaths",
        "censored",
        (
            F.col("nu")
            - F.coalesce(
                F.sum(F.col("deaths") + F.col("censored")).over(wb), F.lit(0)
            )
        ).alias("n_risk"),
    )
    d = r.where(F.col("deaths") > 0).select(
        "t",
        "n_risk",
        "deaths",
        "censored",
        F.when(
            F.col("deaths") < F.col("n_risk"),
            F.round(
                F.log(
                    (F.col("n_risk") - F.col("deaths"))
                    * 1.0
                    / F.col("n_risk")
                )
                * 1_000_000_000
            ).cast("bigint"),
        ).alias("term9"),
    )
    wc = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    return d.select(
        F.col("t").cast("bigint").alias("t_day"),
        F.col("n_risk").cast("bigint").alias("n_risk"),
        "deaths",
        "censored",
        F.expr("CAST(deaths * 1000000 div n_risk AS BIGINT)").alias(
            "hazard_micro"
        ),
        F.sum("term9").over(wc).cast("bigint").alias("log_surv_nano"),
    )


# ---------------------------------------------------------------------------
# table_file_stats — parquet file manifest (small-file health check)
# ---------------------------------------------------------------------------

_MANIFEST_TABLES = ("events", "orders", "lineitem", "documents")


def _file_stats_one(spark: SparkSession, sf_dir: str, tbl: str) -> DataFrame:
    per_file = (
        load_table(spark, sf_dir, tbl)
        .groupBy(F.input_file_name().alias("f"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("rows"))
    )
    return per_file.agg(
        F.lit(tbl).alias("tbl"),
        F.count(F.lit(1)).cast("bigint").alias("n_files"),
        F.sum("rows").cast("bigint").alias("total_rows"),
        F.min("rows").cast("bigint").alias("min_file_rows"),
        F.max("rows").cast("bigint").alias("max_file_rows"),
        F.expr("CAST(SUM(rows) div COUNT(*) AS BIGINT)").alias(
            "avg_file_rows"
        ),
    )


def _file_stats_sql(sf_dir: str, tbl: str) -> str:
    return f"""
      SELECT '{tbl}' AS tbl,
             CAST(COUNT(*) AS BIGINT) AS n_files,
             CAST(SUM(rows) AS BIGINT) AS total_rows,
             CAST(MIN(rows) AS BIGINT) AS min_file_rows,
             CAST(MAX(rows) AS BIGINT) AS max_file_rows,
             CAST(SUM(rows) // COUNT(*) AS BIGINT) AS avg_file_rows
      FROM (SELECT filename, CAST(COUNT(*) AS BIGINT) AS rows
            FROM read_parquet('{{sf}}/{tbl}.parquet', filename=true)
            GROUP BY filename)"""


# The oracle must reference the same sf_dir the driver passes to the
# Spark side; the driver substitutes nothing, so the oracle reads the
# registered VIEWS for row data — but file-level stats need the path.
# The driver registers views over '{sf_dir}/{tbl}.parquet', and its
# gate always runs at sf0.01: bake that path in (the local gate
# verifies at other SFs through check_query's oracle rewrite — see
# tests/test_ops_family.py, which formats the path per-SF).
TABLE_FILE_STATS_ORACLE_TMPL = (
    " UNION ALL ".join(
        _file_stats_sql("{sf}", t) for t in _MANIFEST_TABLES
    )
)


@register(
    "table_file_stats",
    oracle=TABLE_FILE_STATS_ORACLE_TMPL.replace(
        "{sf}", "/root/testdata/sf0.01"
    ),
)
def table_file_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet file manifest per table: file count, total rows, and
    the min/max/avg rows-per-file spread — the metadata health check
    that triggers compaction (see operators/layout.compact_files) and
    sizes `spark.sql.files.maxPartitionBytes`. A table whose
    min_file_rows is tiny while n_files is large is the classic
    small-file problem; one giant file caps scan parallelism at 1
    unless row groups split.

    Scale shape: rows-per-file is a metadata-shaped aggregate on
    input_file_name() — one map-side-combined pass per table, output
    bounded by file count. (The oracle's path is baked at the
    driver's sf0.01; the pytest gate re-formats it per-SF.)
    """
    out = None
    for t in _MANIFEST_TABLES:
        part = _file_stats_one(spark, sf_dir, t)
        out = part if out is None else out.unionByName(part)
    return out


# ---------------------------------------------------------------------------
# slo_burn_rate — multi-window error-budget burn (r05)
# ---------------------------------------------------------------------------

SLO_BUDGET_MICRO = 250_000  # SLO: error share ≤ 25% (micro-units)
SLO_WINDOWS_H = [1, 6, 24, 72]


@register(
    "slo_burn_rate",
    oracle=f"""
    WITH e AS (SELECT {_EP} AS ep, event_type FROM events),
    mx AS (SELECT MAX(ep) AS m FROM e),
    w AS (SELECT unnest([{", ".join(str(h) for h in SLO_WINDOWS_H)}]) AS h),
    c AS (SELECT w.h,
                 CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(CASE WHEN e.event_type = 'error'
                               THEN 1 ELSE 0 END) AS BIGINT) AS x
          FROM e, w, mx
          WHERE e.ep > mx.m - w.h * 3600
          GROUP BY w.h)
    SELECT CAST(h AS BIGINT) AS window_h, n AS n_events, x AS n_errors,
           CAST(x * 1000000 // n AS BIGINT) AS rate_micro,
           CAST(x * 1000000 * 1000000 // (n * {SLO_BUDGET_MICRO}) AS BIGINT)
               AS burn_micro
    FROM c
    """,
)
def slo_burn_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-window error-budget burn rate — the SRE paging signal
    (Google SRE workbook shape): the error share over trailing 1h/6h/
    24h/72h windows ending at the newest event, each divided by the
    SLO budget. burn > 1 in the short window AND the long window is
    the standard page condition (fast burn that is not just noise);
    this query emits the per-window burns so the alert rule is a
    comparison over its output.

    Exactness: counts are integers, rate and burn are truncating
    integer micro-units (the spc_pchart convention) — zero float ops.

    Scale shape: ONE pass over events (the windows ride a 4-row
    broadcast joined against the epoch column — conditional
    aggregation, no per-window rescan), map-side combinable.
    """
    e = load_table(spark, sf_dir, "events").select(
        F.unix_timestamp("ts").alias("ep"), "event_type"
    )
    mx = e.agg(F.max("ep").alias("m"))
    w = literal_table(spark, [(h,) for h in SLO_WINDOWS_H], "h int")
    c = (
        e.crossJoin(mx)
        .crossJoin(w)
        .filter(F.col("ep") > F.col("m") - F.col("h") * 3600)
        .groupBy("h")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
            .cast("bigint")
            .alias("x"),
        )
    )
    return c.select(
        F.col("h").cast("bigint").alias("window_h"),
        F.col("n").alias("n_events"),
        F.col("x").alias("n_errors"),
        F.expr("CAST(x * 1000000 div n AS BIGINT)").alias("rate_micro"),
        F.expr(
            f"CAST(x * 1000000 * 1000000 div (n * {SLO_BUDGET_MICRO}) AS BIGINT)"
        ).alias("burn_micro"),
    )


# ---------------------------------------------------------------------------
# weibull_survival_fit — parametric shape on the KM curve (r5s8)
# ---------------------------------------------------------------------------


@register(
    "weibull_survival_fit",
    oracle=f"""
    WITH km AS ({_KM_ORACLE}),
    xy AS (SELECT CAST(round(ln(t_day) * 1000000) AS BIGINT) AS x6,
                  CAST(round(ln(-log_surv_nano / 1000000000.0) * 1000000)
                       AS BIGINT) AS y6,
                  t_day
           FROM km WHERE t_day > 0 AND log_surv_nano < 0),
    m AS (SELECT MIN(x6) AS x0, MIN(y6) AS y0 FROM xy),
    s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(xy.x6 - m.x0) AS BIGINT) AS sx,
                 CAST(SUM(xy.y6 - m.y0) AS BIGINT) AS sy,
                 CAST(SUM((xy.x6 - m.x0) * (xy.y6 - m.y0)) AS BIGINT) AS sxy,
                 CAST(SUM((xy.x6 - m.x0) * (xy.x6 - m.x0)) AS BIGINT) AS sxx
          FROM xy CROSS JOIN m),
    rng AS (SELECT CAST(MIN(t_day) AS BIGINT) AS min_t,
                   CAST(MAX(t_day) AS BIGINT) AS max_t
            FROM xy)
    SELECT s.n AS n_points, rng.min_t, rng.max_t,
           CAST(CAST(s.n AS HUGEINT) * s.sxy - CAST(s.sx AS HUGEINT) * s.sy
                AS VARCHAR) AS shape_num,
           CAST(CAST(s.n AS HUGEINT) * s.sxx - CAST(s.sx AS HUGEINT) * s.sx
                AS VARCHAR) AS shape_den
    FROM s CROSS JOIN rng
    """,
)
def weibull_survival_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weibull shape parameter fitted on the Kaplan-Meier curve:
    under Weibull survival, ln(−ln S(t)) is linear in ln t with slope
    k — k<1 means churn hazard FALLS with tenure (early-life risk,
    retention improves once users settle), k>1 means wear-out. The
    parametric readout on top of kaplan_meier_retention that turns
    the curve into one planning number.

    Determinism: reuses the KM oracle verbatim as a CTE (one shared
    SQL constant) and the KM Spark callable, whose log-survival is
    already an exact ×1e9 integer; the two lns per point are single
    scalar expressions rounded to ×1e6 BIGINTs, then the shifted OLS
    runs pure-integer and the slope ships as exact
    HUGEINT/DECIMAL(38,0) num/den strings (the zipf convention).

    Scale shape: everything after the KM aggregate operates on
    distinct event times (days) — tens of rows at any corpus size."""
    km = kaplan_meier_retention(spark, sf_dir)
    xy = km.filter(
        (F.col("t_day") > 0) & (F.col("log_surv_nano") < 0)
    ).select(
        F.expr("CAST(round(ln(t_day) * 1000000) AS BIGINT)").alias("x6"),
        F.expr(
            "CAST(round(ln(-log_surv_nano / 1000000000.0) * 1000000)"
            " AS BIGINT)"
        ).alias("y6"),
        "t_day",
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
    rng = xy.agg(
        F.min("t_day").cast("bigint").alias("min_t"),
        F.max("t_day").cast("bigint").alias("max_t"),
    )
    return s.crossJoin(rng).select(
        F.col("n").alias("n_points"),
        "min_t",
        "max_t",
        F.expr(
            "CAST(CAST(n AS DECIMAL(38,0)) * sxy"
            " - CAST(sx AS DECIMAL(38,0)) * sy AS STRING)"
        ).alias("shape_num"),
        F.expr(
            "CAST(CAST(n AS DECIMAL(38,0)) * sxx"
            " - CAST(sx AS DECIMAL(38,0)) * sx AS STRING)"
        ).alias("shape_den"),
    )


# ---------------------------------------------------------------------------
# count_overdispersion — Poisson adequacy of daily volumes (r5s9)
# ---------------------------------------------------------------------------


def _daily_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, n, s, q): per event type, the count n, sum s and
    sum of squares q of its daily event counts over every day that has
    any event — the oracles' types × days spine, zero-filled. A zero
    day adds nothing to s or q, so only n needs the spine: it is the
    number of distinct days (a NULL day included, as in the spine),
    the same for every type. A NULL type or day never matches the
    spine's equi-join, so their events add nothing either."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type", F.expr("unix_timestamp(ts) div 86400").alias("d")
    )
    x = e.groupBy("event_type", "d").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    n = (
        x.select("d")
        .distinct()
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    on_spine = F.col("event_type").isNotNull() & F.col("d").isNotNull()
    c = F.when(on_spine, F.col("c")).otherwise(F.lit(0))
    return (
        x.groupBy("event_type")
        .agg(
            F.sum(c).cast("bigint").alias("s"),
            F.sum(c * c).cast("bigint").alias("q"),
        )
        .crossJoin(n)  # one row: a global aggregate
        .select("event_type", "n", "s", "q")
    )


@register(
    "count_overdispersion",
    oracle=f"""
    WITH e AS (SELECT event_type, {_EP} // 86400 AS d FROM events),
    days AS (SELECT DISTINCT d FROM e),
    types AS (SELECT DISTINCT event_type FROM e),
    c AS (SELECT t.event_type, dy.d,
                 CAST(COALESCE(x.c, 0) AS BIGINT) AS c
          FROM types t CROSS JOIN days dy
          LEFT JOIN (SELECT event_type, d, COUNT(*) AS c
                     FROM e GROUP BY 1, 2) x
            ON x.event_type = t.event_type AND x.d = dy.d),
    m AS (SELECT event_type,
                 CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(c) AS BIGINT) AS s,
                 CAST(SUM(c * c) AS BIGINT) AS q
          FROM c GROUP BY event_type)
    SELECT event_type, n AS n_days,
           CAST(s * 1000000 // n AS BIGINT) AS mean_micro,
           CAST((CAST(n AS HUGEINT) * q - CAST(s AS HUGEINT) * s)
                * 1000000 // (CAST(n AS HUGEINT) - 1) // s AS BIGINT)
               AS dispersion_micro,
           CAST(CASE WHEN CAST(n AS HUGEINT) * q - CAST(s AS HUGEINT) * s
                          > (CAST(n AS HUGEINT) - 1) * s
                     THEN 1 ELSE 0 END AS BIGINT) AS overdispersed
    FROM m
    """,
)
def count_overdispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson adequacy check of daily event volumes per type: the
    dispersion index Var/Mean over the zero-filled daily-count series.
    D ≈ 1 licenses Poisson alerting thresholds (spc_pchart,
    error_burst); D ≫ 1 (clumped traffic) means those thresholds
    under-alarm and a negative-binomial model is due. The one-table
    answer to 'can I trust my rate alerts?'.

    Exactness: zero-days count in n and add nothing to the sums (see
    ``_daily_moments``); moments are exact BIGINTs, the dispersion
    the cleared-form (n·q − s²)·1e6 // ((n−1)·s) in
    DECIMAL(38,0)/HUGEINT (n·q outgrows BIGINT at 10⁹-event days),
    and the overdispersion verdict is the EXACT integer inequality
    n·q − s² > (n−1)·s — never a float.

    Scale shape: one map-side-combinable (type, day) count, a
    |types|-row moment rollup."""
    m = _daily_moments(spark, sf_dir)
    return m.select(
        "event_type",
        F.col("n").alias("n_days"),
        F.expr("CAST(s * 1000000 div n AS BIGINT)").alias("mean_micro"),
        F.expr(
            "CAST((CAST(n AS DECIMAL(38,0)) * q - CAST(s AS DECIMAL(38,0))"
            " * s) * 1000000 div (CAST(n AS DECIMAL(38,0)) - 1) div s"
            " AS BIGINT)"
        ).alias("dispersion_micro"),
        F.expr(
            "CAST(CASE WHEN CAST(n AS DECIMAL(38,0)) * q"
            " - CAST(s AS DECIMAL(38,0)) * s"
            " > (CAST(n AS DECIMAL(38,0)) - 1) * s"
            " THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("overdispersed"),
    )


# ---------------------------------------------------------------------------
# ingest_gap_report — empty-hour outage islands (r5s15)
# ---------------------------------------------------------------------------


@register(
    "ingest_gap_report",
    oracle=f"""
    WITH h AS (SELECT DISTINCT {_EP} // 3600 AS hr FROM events),
    rng AS (SELECT MIN(hr) AS h0, MAX(hr) AS h1,
                   CAST(COUNT(*) AS BIGINT) AS n_present
            FROM h),
    isl AS (SELECT hr, hr - ROW_NUMBER() OVER (ORDER BY hr) AS grp
            FROM h),
    runs AS (SELECT grp, MIN(hr) AS lo, MAX(hr) AS hi
             FROM isl GROUP BY grp),
    gaps AS (SELECT hi + 1 AS gap_start,
                    LEAD(lo) OVER (ORDER BY lo) - 1 AS gap_end
             FROM runs),
    gg AS (SELECT gap_start, gap_end, gap_end - gap_start + 1 AS len
           FROM gaps WHERE gap_end IS NOT NULL)
    SELECT rng.n_present AS n_hours_present,
           CAST(rng.h1 - rng.h0 + 1 AS BIGINT) AS n_hours_span,
           CAST(COALESCE((SELECT SUM(len) FROM gg), 0) AS BIGINT)
               AS n_hours_missing,
           CAST(COALESCE((SELECT COUNT(*) FROM gg), 0) AS BIGINT)
               AS n_gaps,
           CAST(COALESCE((SELECT MAX(len) FROM gg), 0) AS BIGINT)
               AS longest_gap_hours,
           CAST(COALESCE((SELECT MIN(gap_start) FROM gg
                          WHERE len = (SELECT MAX(len) FROM gg)), -1)
                AS BIGINT) AS longest_gap_start_hr
    FROM rng
    """,
)
def ingest_gap_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-outage report: the hours between the first and last
    event that contain ZERO events, merged into contiguous gap
    islands — count, total missing hours, and the longest outage
    with its start hour. wt_gap_filled_series interpolates over these
    for analytics; THIS query is what the on-call reads to know the
    pipeline was down (and error_burst_detect's inverse — silence is
    also a failure mode). On a healthy stream the report is all
    zeros, which is the assertion a freshness SLO monitors.

    Exactness: pure integer epoch-hour arithmetic; islands via the
    classic hr − ROW_NUMBER grouping, gaps via LEAD over the
    present-islands — no calendar functions, no floats; -1 marks
    'no gaps' identically in both engines.

    Scale shape: events collapse to DISTINCT hours first (the only
    corpus-sized work, a map-side-combinable distinct); islands,
    gaps, and the report run on the hours table."""
    h = (
        load_table(spark, sf_dir, "events")
        .select(F.expr("unix_timestamp(ts) div 3600").alias("hr"))
        .distinct()
    )
    from dbt_project_spark.caching import persist_tracked

    h = persist_tracked(h)
    rng = h.agg(
        F.min("hr").alias("h0"),
        F.max("hr").alias("h1"),
        F.count(F.lit(1)).cast("bigint").alias("n_present"),
    )
    isl = h.select(
        "hr",
        (F.col("hr") - F.row_number().over(Window.orderBy("hr"))).alias(
            "grp"
        ),
    )
    runs = isl.groupBy("grp").agg(
        F.min("hr").alias("lo"), F.max("hr").alias("hi")
    )
    gaps = runs.select(
        (F.col("hi") + 1).alias("gap_start"),
        (F.lead("lo").over(Window.orderBy("lo")) - 1).alias("gap_end"),
    )
    gg = gaps.filter(F.col("gap_end").isNotNull()).select(
        "gap_start",
        "gap_end",
        (F.col("gap_end") - F.col("gap_start") + 1).alias("len"),
    )
    gsum = gg.agg(
        F.coalesce(F.sum("len"), F.lit(0))
        .cast("bigint")
        .alias("n_hours_missing"),
        F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
        F.coalesce(F.max("len"), F.lit(0))
        .cast("bigint")
        .alias("longest_gap_hours"),
        F.coalesce(
            F.expr("min_by(gap_start, struct(-len, gap_start))"), F.lit(-1)
        )
        .cast("bigint")
        .alias("longest_gap_start_hr"),
    )
    return rng.crossJoin(gsum).select(
        F.col("n_present").alias("n_hours_present"),
        (F.col("h1") - F.col("h0") + 1)
        .cast("bigint")
        .alias("n_hours_span"),
        "n_hours_missing",
        "n_gaps",
        "longest_gap_hours",
        "longest_gap_start_hr",
    )


# ---------------------------------------------------------------------------
# negbin_moment_fit — the model overdispersion demands (r5s16)
# ---------------------------------------------------------------------------


@register(
    "negbin_moment_fit",
    oracle=f"""
    WITH e AS (SELECT event_type, {_EP} // 86400 AS d FROM events),
    days AS (SELECT DISTINCT d FROM e),
    types AS (SELECT DISTINCT event_type FROM e),
    c AS (SELECT t.event_type, dy.d,
                 CAST(COALESCE(x.c, 0) AS BIGINT) AS c
          FROM types t CROSS JOIN days dy
          LEFT JOIN (SELECT event_type, d, COUNT(*) AS c
                     FROM e GROUP BY 1, 2) x
            ON x.event_type = t.event_type AND x.d = dy.d),
    m AS (SELECT event_type,
                 CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(c) AS BIGINT) AS s,
                 CAST(SUM(c * c) AS BIGINT) AS q
          FROM c GROUP BY event_type),
    f AS (SELECT event_type, n, s,
                 CAST(n AS HUGEINT) * q - CAST(s AS HUGEINT) * s AS vnum,
                 (CAST(n AS HUGEINT) - 1) * s AS vden
          FROM m)
    SELECT event_type, n AS n_days,
           CAST(s * 1000000 // n AS BIGINT) AS mean_micro,
           CASE WHEN vnum > vden
                THEN CAST(CAST(s AS HUGEINT) * s * (n - 1) AS VARCHAR)
                ELSE NULL END AS r_num,
           CASE WHEN vnum > vden
                THEN CAST(CAST(n AS HUGEINT) * (vnum - vden) AS VARCHAR)
                ELSE NULL END AS r_den,
           CASE WHEN vnum > vden
                THEN CAST(vden * 1000000 // vnum AS BIGINT)
                ELSE NULL END AS p_micro
    FROM f
    """,
)
def negbin_moment_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negative-binomial fit of the daily count series by method of
    moments — the model count_overdispersion says you need when
    Var/Mean > 1: r = m²/(v − m), p = m/v. r prices HOW clumped the
    traffic is (small r = heavy bursts); the NB(r, p) quantiles then
    replace the Poisson thresholds in the alerting stack. Types whose
    variance does not exceed the mean emit NULLs — Poisson is fine
    there, and the NULL is the verdict.

    Exactness: same zero-filled daily series and exact moments as
    count_overdispersion; r ships as an exact
    HUGEINT/DECIMAL(38,0) num/den PAIR — r = s²(n−1) / (n·(vnum −
    vden)) with vnum = n·q − s², vden = (n−1)·s, all integer — and
    p = vden/vnum as a truncating micro ratio. No floats.

    Scale shape: identical to count_overdispersion (one counts pass,
    |types|-row rollup)."""
    m = _daily_moments(spark, sf_dir)
    f = m.select(
        "event_type",
        "n",
        "s",
        F.expr(
            "CAST(n AS DECIMAL(38,0)) * q - CAST(s AS DECIMAL(38,0)) * s"
        ).alias("vnum"),
        F.expr("(CAST(n AS DECIMAL(38,0)) - 1) * s").alias("vden"),
    )
    return f.select(
        "event_type",
        F.col("n").alias("n_days"),
        F.expr("CAST(s * 1000000 div n AS BIGINT)").alias("mean_micro"),
        F.expr(
            "CASE WHEN vnum > vden"
            " THEN CAST(CAST(s AS DECIMAL(38,0)) * s * (n - 1) AS STRING)"
            " ELSE NULL END"
        ).alias("r_num"),
        F.expr(
            "CASE WHEN vnum > vden"
            " THEN CAST(CAST(n AS DECIMAL(38,0)) * (vnum - vden) AS STRING)"
            " ELSE NULL END"
        ).alias("r_den"),
        F.expr(
            "CASE WHEN vnum > vden"
            " THEN CAST(vden * 1000000 div vnum AS BIGINT)"
            " ELSE NULL END"
        ).alias("p_micro"),
    )


# ---------------------------------------------------------------------------
# cusum_changepoint — tabular CUSUM level-shift detector (r6)
# ---------------------------------------------------------------------------

CUSUM_H_SD = 4  # alarm threshold: 4 standard deviations of the daily count


@register(
    "cusum_changepoint",
    oracle=f"""
    WITH x AS (SELECT strftime(ts, '%Y-%m-%d') AS day,
                      CAST(COUNT(*) AS BIGINT) AS n FROM events GROUP BY 1),
    s AS (SELECT CAST(COUNT(*) AS BIGINT) AS d,
                 CAST(SUM(n) AS BIGINT) AS sx,
                 CAST(SUM(n::HUGEINT * n) AS HUGEINT) AS sxx
          FROM x),
    m AS (SELECT d, sx * 1000000 // d AS mean_micro,
                 CAST(round(sqrt((d * sxx - sx::HUGEINT * sx)::DOUBLE)
                            / d * 1000000) AS BIGINT) AS sd_micro
          FROM s),
    p AS (SELECT x.day, x.n,
                 CAST(SUM(x.n * 1000000 - m.mean_micro)
                      OVER (ORDER BY x.day) AS BIGINT) AS pf,
                 m.sd_micro
          FROM x CROSS JOIN m),
    c AS (SELECT day, n, sd_micro,
                 pf - LEAST(CAST(0 AS BIGINT),
                            MIN(pf) OVER (ORDER BY day)) AS cpos,
                 GREATEST(CAST(0 AS BIGINT),
                          MAX(pf) OVER (ORDER BY day)) - pf AS cneg
          FROM p)
    SELECT day, n AS n_events,
           CAST(cpos AS BIGINT) AS cusum_pos_micro,
           CAST(cneg AS BIGINT) AS cusum_neg_micro,
           cpos > {CUSUM_H_SD} * sd_micro AS alarm_pos,
           cneg > {CUSUM_H_SD} * sd_micro AS alarm_neg
    FROM c
    """,
)
def cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tabular CUSUM monitor over the daily event-rate series (Page
    1954): the SEQUENTIAL alarm form — per-day one-sided cumulative
    sums with a 4σ decision threshold, i.e. what an SPC dashboard
    evaluates every morning. Distinct from its retrospective sibling
    ts_cusum_changepoint (which locates the single best split point
    by argmax of the n-scaled prefix deviation, after the fact): this
    one answers "has a sustained shift emerged as of day d, and on
    which side", which the p-chart's single-day limits
    (spc_pchart_error_rate) miss when the shift is small but
    persistent.

    The one-sided recursions S+_d = max(0, S+_{d-1} + dev_d) and
    S-_d = max(0, S-_{d-1} - dev_d) look sequential but are exactly
    window-expressible: with P the prefix sum of deviations,
    S+ = P - min(0, running_min(P)) and S- = max(0, running_max(P)) -
    P — two frames over ONE day-ordered sort. Deviations are exact
    micro-units around the floor-mean; the only irrational step is
    one sqrt for the alarm threshold (4·sd), written as the
    textually identical IEEE expression in both engines. Moment sums
    run in DECIMAL(38,0)/HUGEINT so 10⁹-events/day counts can't
    overflow the x² sum.

    Scale shape: events collapse to the days-sized count table first
    (one map-side-combinable aggregate — the only corpus-sized work);
    the windows run over days, so the unpartitioned sort is bounded
    by the calendar, not the data."""
    x = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    from dbt_project_spark.caching import persist_tracked

    x = persist_tracked(x)
    s = x.agg(
        F.count(F.lit(1)).cast("bigint").alias("d"),
        F.sum("n").cast("bigint").alias("sx"),
        F.sum(F.col("n").cast("decimal(38,0)") * F.col("n")).alias("sxx"),
    )
    m = s.select(
        F.expr("CAST(sx * 1000000 div d AS BIGINT)").alias("mean_micro"),
        F.expr(
            "CAST(round(sqrt(CAST(d * sxx - CAST(sx AS DECIMAL(38,0)) * sx"
            " AS DOUBLE)) / d * 1000000) AS BIGINT)"
        ).alias("sd_micro"),
    )
    wp = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    p = x.crossJoin(m).withColumn(
        "pf",
        F.sum(F.col("n") * 1_000_000 - F.col("mean_micro")).over(wp)
        .cast("bigint"),
    )
    c = p.select(
        "day",
        "n",
        "sd_micro",
        (F.col("pf") - F.least(F.lit(0).cast("bigint"),
                               F.min("pf").over(wp))).alias("cpos"),
        (F.greatest(F.lit(0).cast("bigint"), F.max("pf").over(wp))
         - F.col("pf")).alias("cneg"),
    )
    return c.select(
        "day",
        F.col("n").alias("n_events"),
        F.col("cpos").cast("bigint").alias("cusum_pos_micro"),
        F.col("cneg").cast("bigint").alias("cusum_neg_micro"),
        (F.col("cpos") > CUSUM_H_SD * F.col("sd_micro")).alias("alarm_pos"),
        (F.col("cneg") > CUSUM_H_SD * F.col("sd_micro")).alias("alarm_neg"),
    )
