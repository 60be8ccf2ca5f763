"""Data-mining & semi-structured family (round 3): inverted-index
construction, count-min-sketch heavy hitters with full cross-engine
parity, weekday seasonality indices, ordered-path aggregation
(listagg), and a VARIANT construct→parse→navigate pipeline over
Spark 4's semi-structured type.

Determinism: the count-min hash is the repo's md5-prefix integer
hash (functions/expressions.py) so DuckDB reproduces the EXACT same
sketch — the rare case where an approximate structure hash-gates
bit-for-bit. Ratios are single double divisions ROUNDed on both
sides; list outputs are sorted before emission.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dbt_project_spark.catalog import register
from dbt_project_spark.functions.expressions import md5_int
from dbt_project_spark.operators.dedup import tokens_col
from dbt_project_spark.sources import load_table

_TOKS = "regexp_extract_all(lower(text), '[a-z0-9]+')"
_V100 = "CAST(round(value * 100, 0) AS BIGINT)"
# Zero-padded lexicographic == (ts, event_id) numeric order (see
# queries_timeseries.py — same composite key convention).
_OKEY_DUCK = (
    "strftime(CAST(ts AS TIMESTAMP), '%Y%m%d%H%M%S%f')"
    " || lpad(CAST(event_id AS VARCHAR), 12, '0')"
)
_OKEY_SPARK = (
    "concat(date_format(ts, 'yyyyMMddHHmmssSSS'), '000',"
    " lpad(cast(event_id as string), 12, '0'))"
)

POST_HEAD = 10  # postings-head length kept per term
CMS_D = 4  # count-min sketch depth (hash rows)
CMS_W = 1024  # count-min sketch width (counters per row)
CMS_TOPK = 20  # heavy hitters reported


@register(
    "inverted_index",
    oracle=f"""
    WITH tok AS (SELECT doc_id, unnest({_TOKS}) AS term FROM documents),
    tf AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS tf FROM tok GROUP BY term),
    dp AS (SELECT DISTINCT doc_id, term FROM tok),
    s AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
                 MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc,
                 array_to_string((list_sort(list(doc_id)))[1:{POST_HEAD}], ',')
                     AS postings_head
          FROM dp GROUP BY term)
    SELECT s.term, tf.tf, s.df, s.min_doc, s.max_doc, s.postings_head
    FROM s JOIN tf ON tf.term = s.term
    """,
)
def inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build: per term, corpus frequency (tf), document
    frequency (df), doc-id range, and the first POST_HEAD postings.

    Scale shape: production postings lists for common terms are
    unbounded — materializing them as one array per term is the OOM.
    So the full list is never built: df/min/max are plain map-side-
    combinable aggregates, and the postings HEAD comes from a
    row_number window over the same term partitioning (one sort, no
    extra exchange after the distinct) — per-term state is bounded at
    POST_HEAD everywhere. The oracle materializes full lists and
    slices, affordable at oracle scale, identical by construction.
    """
    docs = load_table(spark, sf_dir, "documents")
    pairs = docs.select(
        "doc_id", F.explode(tokens_col("text")).alias("term")
    )
    tf = pairs.groupBy("term").agg(F.count(F.lit(1)).alias("tf"))
    dp = pairs.distinct()
    stats = dp.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )
    wr = Window.partitionBy("term").orderBy("doc_id")
    head = (
        dp.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= POST_HEAD)
        .groupBy("term")
        # String-encoded: the driver's hash gate canonicalizes rows in
        # pandas, where array cells are unhashable — every catalog
        # query must emit scalar columns only (see test_catalog.py's
        # scalar-schema contract test).
        .agg(
            F.concat_ws(
                ",", F.array_sort(F.collect_list("doc_id"))
            ).alias("postings_head")
        )
    )
    return stats.join(head, "term").join(tf, "term").select(
        "term", "tf", "df", "min_doc", "max_doc", "postings_head"
    )


def _cms_pos_duck(d: str) -> str:
    return (
        f"(('0x' || substr(md5(CAST({d} AS VARCHAR) || ':' ||"
        f" CAST(user_id AS VARCHAR)), 1, 8))::BIGINT) % {CMS_W}"
    )


@register(
    "cms_heavy_hitters",
    oracle=f"""
    WITH exact AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS exact_n
                   FROM events GROUP BY user_id),
    pos AS (SELECT user_id, exact_n, d, {_cms_pos_duck("d")} AS pos
            FROM exact, (SELECT unnest(range(0, {CMS_D})) AS d)),
    counters AS (SELECT d, pos, CAST(SUM(exact_n) AS BIGINT) AS c
                 FROM pos GROUP BY d, pos),
    est AS (SELECT p.user_id, p.exact_n, MIN(c.c) AS est_n
            FROM pos p JOIN counters c ON c.d = p.d AND c.pos = p.pos
            GROUP BY p.user_id, p.exact_n)
    SELECT user_id, exact_n, CAST(est_n AS BIGINT) AS est_n,
           CAST(est_n - exact_n AS BIGINT) AS overcount
    FROM est ORDER BY exact_n DESC, user_id LIMIT {CMS_TOPK}
    """,
)
def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch heavy hitters with EXACT cross-engine parity:
    a CMS_D×CMS_W sketch of per-user event counts built on the
    md5-prefix hash both engines share, so estimate, exact count, and
    the (always ≥0) overcount hash-gate bit-for-bit — the sketch
    error itself is verified, not tolerance-waved.

    Scale shape: the raw stream is aggregated per user FIRST (the
    only events-sized shuffle); sketch rows are built from the
    users-sized table weighted by exact counts — equivalent counters
    to streaming row-at-a-time increments, at 1/CMS_D of the shuffle.
    At 100 TB the sketch itself stays CMS_D×CMS_W counters; the
    users-sized exact table here exists only because the query also
    REPORTS the true error per heavy hitter.
    """
    e = load_table(spark, sf_dir, "events").select("user_id")
    exact = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_n"))
    from dbt_project_spark.caching import persist_tracked

    exact = persist_tracked(exact)
    pos_structs = F.array(
        *[
            F.struct(
                F.lit(d).alias("d"),
                (
                    md5_int(
                        F.concat(
                            F.lit(f"{d}:"), F.col("user_id").cast("string")
                        )
                    )
                    % CMS_W
                ).alias("pos"),
            )
            for d in range(CMS_D)
        ]
    )
    pos = exact.select(
        "user_id", "exact_n", F.explode(pos_structs).alias("x")
    ).select("user_id", "exact_n", "x.d", "x.pos")
    counters = pos.groupBy("d", "pos").agg(F.sum("exact_n").alias("c"))
    est = (
        pos.join(counters, ["d", "pos"])
        .groupBy("user_id", "exact_n")
        .agg(F.min("c").alias("est_n"))
    )
    return (
        est.orderBy(F.desc("exact_n"), F.asc("user_id"))
        .limit(CMS_TOPK)
        .select(
            "user_id",
            "exact_n",
            F.col("est_n").cast("bigint"),
            (F.col("est_n") - F.col("exact_n")).cast("bigint").alias("overcount"),
        )
    )


@register(
    "weekday_seasonality",
    oracle=f"""
    WITH e AS (SELECT event_type, isodow(CAST(ts AS TIMESTAMP)) AS dow,
                      {_V100} AS v100
               FROM events),
    d AS (SELECT event_type, dow, CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(v100) AS BIGINT) AS s
          FROM e GROUP BY 1, 2),
    t AS (SELECT event_type, CAST(SUM(n) AS BIGINT) AS nt,
                 CAST(SUM(s) AS BIGINT) AS st
          FROM d GROUP BY 1)
    SELECT d.event_type, CAST(d.dow AS INT) AS dow, d.n,
           d.s / 100.0 AS total_value,
           ROUND((d.s * 1.0 * t.nt) / (d.n * 1.0 * t.st), 6) AS seasonality_idx
    FROM d JOIN t ON t.event_type = d.event_type
    """,
)
def weekday_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekday seasonality index per event type: average value on each
    ISO weekday relative to the type's overall average —
    (Σ_dow · n_type)/(n_dow · Σ_type), the ratio form that avoids
    avg-of-avgs. >1 means the weekday runs hot.

    Scale shape: two cascaded aggregations (the second over ≤ 7×types
    rows) and a broadcast join back — map-side combine end to end; the
    index is one double expression ROUNDed identically both sides.
    """
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        (F.expr("weekday(ts)") + 1).alias("dow"),
        F.expr(_V100).alias("v100"),
    )
    d = e.groupBy("event_type", "dow").agg(
        F.count(F.lit(1)).alias("n"), F.sum("v100").alias("s")
    )
    t = d.groupBy("event_type").agg(
        F.sum("n").alias("nt"), F.sum("s").alias("st")
    )
    return d.join(t, "event_type").select(
        "event_type",
        F.col("dow").cast("int"),
        "n",
        (F.col("s") / 100.0).alias("total_value"),
        F.round(
            (F.col("s") * 1.0 * F.col("nt")) / (F.col("n") * 1.0 * F.col("st")),
            6,
        ).alias("seasonality_idx"),
    )


@register(
    "user_journey_path",
    oracle=f"""
    WITH e AS (SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
                      event_type, {_OKEY_DUCK} AS okey
               FROM events)
    SELECT user_id, day, CAST(COUNT(*) AS BIGINT) AS n_steps,
           CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types,
           string_agg(event_type, '>' ORDER BY okey) AS path
    FROM e GROUP BY user_id, day
    """,
)
def user_journey_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (user, day) journey string: the ordered sequence of event
    types joined with '>' — the raw material of path analysis, built
    with Spark 4's ordered LISTAGG (SQL-standard WITHIN GROUP), the
    aggregate DuckDB spells string_agg(... ORDER BY).

    Scale shape: one shuffle on (user, day); groups are one user-day
    (bounded), and the ordered aggregate sorts within the group — no
    window pass, no collect_list detour. The order key is the same
    zero-padded (ts, event_id) composite the time-series family uses.
    """
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.to_date("ts").alias("day"),
        "event_type",
        F.expr(_OKEY_SPARK).alias("okey"),
    )
    return e.groupBy("user_id", "day").agg(
        F.count(F.lit(1)).alias("n_steps"),
        F.count_distinct("event_type").alias("n_types"),
        F.expr("listagg(event_type, '>') WITHIN GROUP (ORDER BY okey)").alias(
            "path"
        ),
    )


@register(
    "user_profile_variant",
    oracle="""
    WITH pt AS (SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n
                FROM events GROUP BY 1, 2),
    f AS (SELECT user_id, MIN(event_type) AS first_type,
                 CAST(COUNT(*) AS INT) AS n_types
          FROM pt GROUP BY 1)
    SELECT f.user_id, f.n_types, f.first_type, pt.n AS first_n
    FROM f JOIN pt ON pt.user_id = f.user_id
                  AND pt.event_type = f.first_type
    """,
)
def user_profile_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured round trip through Spark 4's VARIANT type:
    aggregate each user's per-type counts, serialize to a JSON
    profile document, parse_json into VARIANT, then navigate typed
    paths back out (variant_get with array indexing and casts). The
    oracle states the same facts relationally — what must survive the
    construct→parse→extract trip.

    Scale shape: the JSON/VARIANT hop is all JVM expressions
    (to_json/parse_json/variant_get are codegen'd — no Python); one
    shuffle per aggregation level. The per-user type array is bounded
    by the event-type domain, and array_sort fixes element order
    before serialization so paths are deterministic.
    """
    ev = load_table(spark, sf_dir, "events")
    per_type = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    prof = per_type.groupBy("user_id").agg(
        F.array_sort(
            F.collect_list(
                F.struct(F.col("event_type").alias("t"), F.col("n"))
            )
        ).alias("types")
    )
    v = prof.select(
        "user_id",
        F.parse_json(
            F.to_json(F.struct(F.col("user_id").alias("u"), F.col("types")))
        ).alias("v"),
    )
    return v.select(
        "user_id",
        F.expr("size(variant_get(v, '$.types', 'array<variant>'))").alias(
            "n_types"
        ),
        F.expr("variant_get(v, '$.types[0].t', 'string')").alias("first_type"),
        F.expr("variant_get(v, '$.types[0].n', 'bigint')").alias("first_n"),
    )


EQD_TILES = 10  # equi-depth histogram buckets
# $10 value buckets bound the distributed-ntile offset table by the
# value domain (value <= ~500), not the event count.
EQD_BUCKET = 1000


@register(
    "equidepth_histogram",
    oracle=f"""
    WITH e AS (SELECT event_id, {_V100} AS v100 FROM events),
    t AS (SELECT v100,
                 NTILE({EQD_TILES}) OVER (ORDER BY v100, event_id) AS tile
          FROM e)
    SELECT tile, CAST(COUNT(*) AS BIGINT) AS n,
           MIN(v100) / 100.0 AS lo, MAX(v100) / 100.0 AS hi,
           CAST(SUM(v100) AS BIGINT) / 100.0 AS total
    FROM t GROUP BY tile
    """,
)
def equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH histogram of event values: EQD_TILES buckets with
    equal row counts and data-driven boundaries — the histogram an
    optimizer keeps (equi-WIDTH is wt_value_histogram). Exact NTILE
    semantics, bucket edges emitted as [lo, hi].

    Scale shape: ``distributed_ntile`` again — the global rank comes
    from $10-coarse value-bucket offsets (bounded by the value
    domain), the data only sees bucket-partitioned windows, and the
    final aggregate is EQD_TILES rows.
    """
    from dbt_project_spark.operators.windows import distributed_ntile

    e = load_table(spark, sf_dir, "events").select(
        "event_id", F.expr(_V100).alias("v100")
    )
    t = distributed_ntile(
        e,
        EQD_TILES,
        F.expr(f"v100 div {EQD_BUCKET}"),
        [F.col("v100").asc(), F.col("event_id").asc()],
        "tile",
    )
    return t.groupBy("tile").agg(
        F.count(F.lit(1)).alias("n"),
        (F.min("v100") / 100.0).alias("lo"),
        (F.max("v100") / 100.0).alias("hi"),
        (F.sum("v100").cast("bigint") / 100.0).alias("total"),
    )


# ---------------------------------------------------------------------------
# activity_bitmask_stats — bitmap-index activity analytics (r4s4)
# ---------------------------------------------------------------------------


@register(
    "activity_bitmask_stats",
    oracle="""
    WITH e AS (SELECT user_id,
                      CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT)
                        // 86400 AS d
               FROM events WHERE user_id IS NOT NULL),
    base AS (SELECT MIN(d) AS d0 FROM e),
    ud AS (SELECT DISTINCT user_id, d - (SELECT d0 FROM base) AS off
           FROM e),
    m AS (SELECT user_id,
                 CAST(bit_or(CAST(1 AS BIGINT) << off) AS BIGINT) AS mask,
                 CAST(COUNT(*) AS BIGINT) AS active_days
          FROM ud WHERE off BETWEEN 0 AND 62 GROUP BY user_id),
    isl AS (SELECT user_id,
                   off - ROW_NUMBER() OVER (PARTITION BY user_id
                                            ORDER BY off) AS grp
            FROM ud WHERE off BETWEEN 0 AND 62),
    runs AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS run_len
             FROM isl GROUP BY user_id, grp),
    s AS (SELECT user_id, CAST(MAX(run_len) AS BIGINT) AS longest_streak
          FROM runs GROUP BY user_id)
    SELECT m.user_id, m.mask, m.active_days,
           CAST(bit_count(m.mask) AS BIGINT) AS active_days_bits,
           s.longest_streak
    FROM m JOIN s ON s.user_id = m.user_id
    """,
)
def activity_bitmask_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitmap-index activity analytics: each user's month of activity
    packed into ONE BIGINT (bit k = active on day k from the corpus
    start, bit_or-aggregated) — the roaring-bitmap/audience-engine
    representation that makes segment intersections single AND
    instructions at serving time. Emits the mask, the day count both
    ways (COUNT over distinct days and bit_count over the mask — the
    gate proves the bitmap encodes exactly the activity set), and the
    longest consecutive-day streak via the gaps-and-islands
    (day − row_number) trick on the same user partitioning.

    Exactness: pure integer bit arithmetic; offsets are clamped to
    [0, 62] so the shift never touches the sign bit (a >63-day range
    would shard into multiple mask words — the roaring container
    structure — noted for scale).

    Scale shape: events collapse to distinct (user, day) first (one
    map-side-combined aggregate); the bit_or aggregate and the
    islands window both ride the user partitioning; output is
    users-sized.
    """
    e = (
        load_table(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull())
        .select(
            "user_id", F.expr("unix_timestamp(ts) div 86400").alias("d")
        )
    )
    base = e.agg(F.min("d").alias("d0"))
    ud = (
        e.crossJoin(base)
        .select("user_id", (F.col("d") - F.col("d0")).alias("off"))
        .distinct()
        .where((F.col("off") >= 0) & (F.col("off") <= 62))
    )
    from dbt_project_spark.caching import persist_tracked

    ud = persist_tracked(ud)
    m = ud.groupBy("user_id").agg(
        F.expr("CAST(bit_or(shiftleft(CAST(1 AS BIGINT), off)) AS BIGINT)")
        .alias("mask"),
        F.count(F.lit(1)).cast("bigint").alias("active_days"),
    )
    wi = Window.partitionBy("user_id").orderBy("off")
    isl = ud.select(
        "user_id", (F.col("off") - F.row_number().over(wi)).alias("grp")
    )
    runs = isl.groupBy("user_id", "grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("run_len")
    )
    s = runs.groupBy("user_id").agg(
        F.max("run_len").cast("bigint").alias("longest_streak")
    )
    return m.join(s, "user_id").select(
        "user_id",
        "mask",
        "active_days",
        F.expr("CAST(bit_count(mask) AS BIGINT)").alias("active_days_bits"),
        "longest_streak",
    )
