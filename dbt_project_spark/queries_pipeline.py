"""Warehouse-pipeline family: a staging→marts dbt-style DAG whose
final mart is the query result; the oracle is the composed SQL.

DAG (all 'view' materialization — Catalyst inlines the whole chain
into one optimized plan, so the model boundaries cost nothing):

    source(orders)    → stg_orders    (filter open+completed)
    source(lineitem)  → stg_lineitem  (fixed-point revenue col)
    stg_*             → fct_order_revenue (join + per-order agg)
    fct + customer+nation → mart_nation_revenue (enrich + rollup)
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbt_project_spark.caching import scratch_dir
from dbt_project_spark.catalog import register
from dbt_project_spark.plans import Project
from dbt_project_spark.plans.project import accepted_values, not_null, unique
from dbt_project_spark.sources import load_table


def build_revenue_project(spark: SparkSession, sf_dir: str) -> Project:
    proj = Project(
        spark,
        sources={
            n: load_table(spark, sf_dir, n)
            for n in ("orders", "lineitem", "customer", "nation")
        },
    )

    proj.sql_model(
        "stg_orders",
        """
        SELECT o_orderkey, o_custkey, o_orderstatus,
               date_format(o_orderdate, 'yyyy-MM') AS order_month
        FROM {{ source('orders') }}
        WHERE o_orderstatus IN ('O', 'F')
        """,
    )

    proj.sql_model(
        "stg_lineitem",
        """
        SELECT l_orderkey,
               CAST(round(l_extendedprice * 100, 0) AS BIGINT)
                 * (100 - CAST(round(l_discount * 100, 0) AS BIGINT)) AS rev10000
        FROM {{ source('lineitem') }}
        """,
    )

    proj.sql_model(
        "fct_order_revenue",
        """
        SELECT o.o_orderkey, o.o_custkey, o.order_month,
               SUM(l.rev10000) AS rev10000
        FROM {{ ref('stg_orders') }} o
        JOIN {{ ref('stg_lineitem') }} l ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderkey, o.o_custkey, o.order_month
        """,
    )

    proj.sql_model(
        "mart_nation_revenue",
        """
        SELECT n.n_name AS nation, f.order_month,
               COUNT(*) AS n_orders,
               SUM(f.rev10000) / CAST(10000 AS DOUBLE) AS revenue
        FROM {{ ref('fct_order_revenue') }} f
        JOIN {{ source('customer') }} c ON c.c_custkey = f.o_custkey
        JOIN {{ source('nation') }} n ON n.n_nationkey = c.c_nationkey
        GROUP BY nation, f.order_month
        """,
    )

    proj.add_test("stg_orders", not_null("o_orderkey"), "not_null_orderkey")
    proj.add_test("stg_orders", unique("o_orderkey"), "unique_orderkey")
    proj.add_test(
        "stg_orders", accepted_values("o_orderstatus", ["O", "F"]), "accepted_status"
    )
    proj.add_test("mart_nation_revenue", not_null("nation"), "not_null_nation")
    return proj


@register(
    "pipeline_nation_revenue",
    oracle="""
    WITH stg_orders AS (
      SELECT o_orderkey, o_custkey, strftime(o_orderdate, '%Y-%m') AS order_month
      FROM orders WHERE o_orderstatus IN ('O', 'F')),
    stg_lineitem AS (
      SELECT l_orderkey,
             CAST(round(l_extendedprice * 100, 0) AS BIGINT)
               * (100 - CAST(round(l_discount * 100, 0) AS BIGINT)) AS rev10000
      FROM lineitem),
    fct AS (
      SELECT o.o_orderkey, o.o_custkey, o.order_month, SUM(l.rev10000) AS rev10000
      FROM stg_orders o JOIN stg_lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_orderkey, o.o_custkey, o.order_month)
    SELECT n.n_name AS nation, f.order_month,
           COUNT(*) AS n_orders,
           SUM(f.rev10000) / CAST(10000 AS DOUBLE) AS revenue
    FROM fct f JOIN customer c ON c.c_custkey = f.o_custkey
               JOIN nation n ON n.n_nationkey = c.c_nationkey
    GROUP BY nation, f.order_month
    """,
)
def pipeline_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the staging→marts DAG; result is the final mart."""
    proj = build_revenue_project(spark, sf_dir)
    proj.test(["stg_orders"])  # dbt-style gate before shipping the mart
    return proj.ref("mart_nation_revenue")


@register(
    "table_diff_cdc",
    oracle="""
    WITH old_snap AS (
      SELECT o_orderkey AS order_id, o_orderstatus AS status,
             CAST(round(o_totalprice * 100, 0) AS BIGINT) AS price100
      FROM orders WHERE o_orderdate < TIMESTAMP '1997-07-01'),
    new_snap AS (
      SELECT o_orderkey AS order_id,
             CASE WHEN o_orderkey % 29 = 0 THEN 'P' ELSE o_orderstatus END
               AS status,
             CASE WHEN o_orderkey % 13 = 0
                  THEN (CAST(round(o_totalprice * 100, 0) AS BIGINT) * 11) // 10
                  ELSE CAST(round(o_totalprice * 100, 0) AS BIGINT)
             END AS price100
      FROM orders
      WHERE o_orderdate < TIMESTAMP '1998-01-01' AND o_orderkey % 97 <> 0),
    j AS (
      SELECT COALESCE(o.order_id, n.order_id) AS order_id,
             CASE WHEN o.order_id IS NULL THEN 'I'
                  WHEN n.order_id IS NULL THEN 'D' ELSE 'U' END AS op,
             o.status AS status_old, n.status AS status_new,
             o.price100 AS price100_old, n.price100 AS price100_new
      FROM old_snap o FULL OUTER JOIN new_snap n ON o.order_id = n.order_id),
    d AS (
      SELECT order_id, op,
             CASE WHEN op = 'U' THEN concat_ws(',',
                  CASE WHEN status_old IS DISTINCT FROM status_new
                       THEN 'status' END,
                  CASE WHEN price100_old IS DISTINCT FROM price100_new
                       THEN 'price100' END)
             ELSE '' END AS changed,
             status_old, status_new, price100_old, price100_new
      FROM j)
    SELECT order_id, op, changed,
           status_old, status_new, price100_old, price100_new
    FROM d WHERE op <> 'U' OR changed <> ''
    """,
)
def table_diff_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff (CDC): the dbt-snapshot / MERGE-source shape.

    Two deterministic snapshots of `orders` (old = H1-1997 cutoff;
    new = FY-1997 cutoff with planted deletes `%97`, price updates
    `%13` in exact cents via integer `div`, and status updates `%29`)
    are diffed by `operators/cdc.table_diff`: one full-outer shuffle
    join on the key, null-safe column compares in codegen, changed-
    column list via NULL-skipping concat_ws — identical semantics in
    the DuckDB oracle. At 100 TB this is the incremental-load
    contract: both sides hash-partition on the key; no broadcast, no
    driver state."""
    from dbt_project_spark.operators.cdc import table_diff

    orders = load_table(spark, sf_dir, "orders")
    price100 = F.round(F.col("o_totalprice") * 100, 0).cast("bigint")
    old = orders.filter(
        F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp")
    ).select(
        F.col("o_orderkey").alias("order_id"),
        F.col("o_orderstatus").alias("status"),
        price100.alias("price100"),
    )
    new = (
        orders.filter(
            (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
            & (F.col("o_orderkey") % 97 != 0)
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
        )
    )
    return table_diff(old, new, ["order_id"], ["status", "price100"])


_PROFILE_COLS = ["okey", "qty100", "ep100", "rflag", "ship_ym", "qty_sparse"]


def _profile_oracle() -> str:
    m_aggs, selects = [], []
    for i, c in enumerate(_PROFILE_COLS):
        m_aggs.append(
            f"COUNT({c}) AS nn{i}, COUNT(DISTINCT {c}) AS nd{i}, "
            f"MIN({c}) AS mn{i}, MAX({c}) AS mx{i}"
        )
        selects.append(
            f"SELECT '{c}' AS col_name, n AS n_rows, n - nn{i} AS n_null, "
            f"nd{i} AS n_distinct, CAST(mn{i} AS VARCHAR) AS min_value, "
            f"CAST(mx{i} AS VARCHAR) AS max_value FROM m"
        )
    return f"""
    WITH src AS (
      SELECT l_orderkey AS okey,
             CAST(round(l_quantity * 100, 0) AS BIGINT) AS qty100,
             CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS ep100,
             l_returnflag AS rflag,
             strftime(l_shipdate, '%Y-%m') AS ship_ym,
             CASE WHEN l_linenumber % 7 = 0 THEN NULL
                  ELSE CAST(round(l_quantity * 100, 0) AS BIGINT)
             END AS qty_sparse
      FROM lineitem),
    m AS (SELECT COUNT(*) AS n, {", ".join(m_aggs)} FROM src)
    {" UNION ALL ".join(selects)}
    """


@register("profile_table", oracle=_profile_oracle())
def profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality profile of lineitem in ONE pass (dbt-docs /
    expectation-suite shape): per column row count, null count, exact
    distinct count, min/max. All 24 aggregates + COUNT(*) run in a
    single aggregation (one scan, one shuffle; see
    operators/stats.profile_columns for the 100 TB approx swap).
    Null density is planted deterministically (`l_linenumber % 7`) —
    TPC-H data has no natural NULLs to count."""
    from dbt_project_spark.operators.dedup import spread_small_scan
    from dbt_project_spark.operators.stats import profile_columns

    # r13 (sweep finding): lineitem.parquet is one file at bench SFs —
    # the 24-aggregate partial pass (incl. exact count_distinct
    # expands) ran in a single scan task (10.2 s at sf0.1 with 31
    # cores idle). Spread the small scan; no-op once split count
    # exceeds cores.
    li = spread_small_scan(load_table(spark, sf_dir, "lineitem"))
    qty100 = F.round(F.col("l_quantity") * 100, 0).cast("bigint")
    src = li.select(
        F.col("l_orderkey").alias("okey"),
        qty100.alias("qty100"),
        F.round(F.col("l_extendedprice") * 100, 0)
        .cast("bigint")
        .alias("ep100"),
        F.col("l_returnflag").alias("rflag"),
        F.date_format("l_shipdate", "yyyy-MM").alias("ship_ym"),
        F.when(F.col("l_linenumber") % 7 == 0, F.lit(None).cast("bigint"))
        .otherwise(qty100)
        .alias("qty_sparse"),
    )
    return profile_columns(src, _PROFILE_COLS)


# ---------------------------------------------------------------------------
# fd_profile — functional-dependency discovery profile (r4s4)
# ---------------------------------------------------------------------------

# Candidate dependencies lhs -> rhs probed per table. The profiler
# REPORTS holds/violations — it does not assume; the list is the
# probe set a schema-inference tool would enumerate.
FD_CANDIDATES = (
    ("lineitem", "l_orderkey", "l_returnflag"),
    ("lineitem", "l_partkey", "l_suppkey"),
    ("orders", "o_custkey", "o_orderpriority"),
    ("events", "user_id", "event_type"),
)


def _fd_sql(tbl: str, lhs: str, rhs: str) -> str:
    return f"""
      SELECT '{tbl}' AS tbl, '{lhs}' AS lhs, '{rhs}' AS rhs,
             CAST(COUNT(*) AS BIGINT) AS n_keys,
             CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS viol_keys,
             CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) * 1000000
                  // COUNT(*) AS BIGINT) AS viol_micro,
             CAST(MAX(nd) AS BIGINT) AS max_distinct_rhs
      FROM (SELECT {lhs}, CAST(COUNT(DISTINCT {rhs}) AS BIGINT) AS nd
            FROM {tbl} WHERE {lhs} IS NOT NULL GROUP BY {lhs})"""


@register(
    "fd_profile",
    oracle=" UNION ALL ".join(_fd_sql(t, l, r) for t, l, r in FD_CANDIDATES),
)
def fd_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency discovery (Metanome/profiling shape):
    for each candidate lhs → rhs, how many lhs keys map to more than
    one rhs value — viol_micro = 0 means the FD HOLDS on this data
    (a normalization / data-contract fact worth enforcing), large
    values mean the column pair is independent. Schema-inference and
    dbt-test-suggestion tools enumerate exactly this probe per
    column pair; the candidate list here keeps the catalog entry
    bounded.

    Scale shape: each probe is one (lhs, rhs)-distinct aggregate
    collapsed to per-key distinct counts, then a keys-sized summary
    — two map-side-combinable exchanges per probe, unioned into one
    result set. No joins, no windows.
    """
    out = None
    for tbl, lhs, rhs in FD_CANDIDATES:
        keyed = (
            load_table(spark, sf_dir, tbl)
            .where(F.col(lhs).isNotNull())
            .groupBy(lhs)
            .agg(F.countDistinct(rhs).cast("bigint").alias("nd"))
        )
        part = keyed.agg(
            F.lit(tbl).alias("tbl"),
            F.lit(lhs).alias("lhs"),
            F.lit(rhs).alias("rhs"),
            F.count(F.lit(1)).cast("bigint").alias("n_keys"),
            F.sum(F.when(F.col("nd") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("viol_keys"),
            F.expr(
                "CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) * 1000000"
                " div COUNT(*) AS BIGINT)"
            ).alias("viol_micro"),
            F.max("nd").cast("bigint").alias("max_distinct_rhs"),
        )
        out = part if out is None else out.unionByName(part)
    return out


# ---------------------------------------------------------------------------
# rapid_repeat_orders — structured near-duplicate / double-submit check (r4s4)
# ---------------------------------------------------------------------------


@register(
    "rapid_repeat_orders",
    oracle="""
    WITH o AS (SELECT o_orderkey AS k, o_custkey AS c,
                      CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents,
                      CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400 AS d
               FROM orders)
    SELECT a.c AS custkey, a.k AS key_a, b.k AS key_b,
           a.cents AS amount_a_cents, b.cents AS amount_b_cents,
           CAST(CASE WHEN b.cents >= a.cents THEN b.cents - a.cents
                     ELSE a.cents - b.cents END AS BIGINT)
               AS amount_diff_cents,
           a.cents = b.cents AS exact_amount_match
    FROM o a JOIN o b ON b.c = a.c AND b.d = a.d AND a.k < b.k
    """,
)
def rapid_repeat_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured near-duplicate detection — the payments/ops twin of
    text dedup: order PAIRS from the same customer on the same
    calendar day, with the amount delta and an exact-amount flag (an
    exact match is the double-submit signature; a near match is a
    split or amended order). Each pair carries both keys for the
    review queue.

    Scale shape: the self-join is an EQUI-join on the
    (customer, day) blocking key — pair generation is bucket-local
    exactly like dedup blocking on shingles or name prefixes, and a
    customer places O(1) orders per day, so fan-out is bounded. A
    pathological hot bucket would be capped the way editdistance
    blocks are (not needed on order data, noted).
    """
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_custkey").alias("c"),
        F.expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)").alias("cents"),
        F.expr("unix_timestamp(o_orderdate) div 86400").alias("d"),
    )
    a = o.select(
        "c", "d", F.col("k").alias("key_a"), F.col("cents").alias("ca")
    )
    b = o.select(
        F.col("c").alias("c2"),
        F.col("d").alias("d2"),
        F.col("k").alias("key_b"),
        F.col("cents").alias("cb"),
    )
    return (
        a.join(
            b,
            (F.col("c2") == F.col("c"))
            & (F.col("d2") == F.col("d"))
            & (F.col("key_a") < F.col("key_b")),
        )
        .select(
            F.col("c").alias("custkey"),
            "key_a",
            "key_b",
            F.col("ca").alias("amount_a_cents"),
            F.col("cb").alias("amount_b_cents"),
            F.abs(F.col("cb") - F.col("ca")).cast("bigint").alias(
                "amount_diff_cents"
            ),
            (F.col("ca") == F.col("cb")).alias("exact_amount_match"),
        )
    )


# ---------------------------------------------------------------------------
# csv_roundtrip_integrity — connector-fidelity gate as an oracled row (r6)
# ---------------------------------------------------------------------------


def _roundtrip_integrity(
    spark: SparkSession, sf_dir: str, fmt: str, options: dict
) -> DataFrame:
    """The events table written in ``fmt`` (with ``options`` on both
    the writer and the reader) and read back with an explicit schema,
    as one row: checksums over the round-tripped rows, and the
    exceptAll diff against the original as rows_lost/rows_gained."""
    from dbt_project_spark.functions.expressions import md5_int

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    path = os.path.join(scratch_dir(f"{fmt}_roundtrip_"), "events")
    ts_fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    opts = {**options, "timestampFormat": ts_fmt}
    ev.write.format(fmt).options(**opts).save(path)
    back = spark.read.schema(ev.schema).format(fmt).options(**opts).load(path)
    # Coalesce each component to an explicit sentinel BEFORE
    # concatenating (ADVICE r06): concat_ws silently skips NULL
    # fields while the oracle's || would NULL the whole key, so a
    # NULL event_type/props would checksum different row sets on
    # the two engines. With sentinels both sides hash the same key.
    key = F.concat_ws(
        "|",
        F.coalesce(F.col("event_id").cast("string"), F.lit("<NULL>")),
        F.coalesce(F.col("event_type"), F.lit("<NULL>")),
        F.coalesce(F.date_format("ts", ts_fmt), F.lit("<NULL>")),
        F.coalesce(F.col("props"), F.lit("<NULL>")),
    )
    chk = back.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.round(F.col("value") * 100, 0).cast("bigint"))
        .cast("bigint")
        .alias("sum_v100"),
        F.sum("user_id").cast("bigint").alias("sum_user"),
        F.sum(md5_int(key)).cast("bigint").alias("row_checksum"),
    )
    lost = ev.exceptAll(back).agg(F.count(F.lit(1)).alias("rows_lost"))
    gained = back.exceptAll(ev).agg(F.count(F.lit(1)).alias("rows_gained"))
    return chk.crossJoin(lost).crossJoin(gained)


@register(
    "csv_roundtrip_integrity",
    oracle="""
    WITH x AS (SELECT event_id, ts, user_id, event_type, value, props
               FROM events),
    chk AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                       AS sum_v100,
                   CAST(SUM(user_id) AS BIGINT) AS sum_user,
                   CAST(SUM(('0x' || substr(md5(
                        COALESCE(CAST(event_id AS VARCHAR), '<NULL>')
                        || '|' || COALESCE(event_type, '<NULL>')
                        || '|' || COALESCE(
                             strftime(ts, '%Y-%m-%d %H:%M:%S.%f'), '<NULL>')
                        || '|' || COALESCE(props, '<NULL>')), 1, 8))::BIGINT)
                       AS BIGINT) AS row_checksum
            FROM x)
    SELECT n_rows, sum_v100, sum_user, row_checksum,
           CAST(0 AS BIGINT) AS rows_lost,
           CAST(0 AS BIGINT) AS rows_gained
    FROM chk
    """,
)
def csv_roundtrip_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV connector fidelity gate (data_input.py parity, upgraded
    from test-only to an oracled row): the events table is written to
    CSV with explicit micro-precision timestamp formatting and read
    back with an explicit schema; the row is computed over the
    ROUND-TRIPPED data, while the oracle computes the same aggregates
    from the parquet directly — any CSV loss surface (timestamp
    truncation, float formatting drift, quoting damage to the JSON
    props column) changes a checksum and fails the hash gate. The
    exceptAll diff against the original ships as rows_lost/rows_gained
    so the gate pins exact multiset equality, not just aggregate
    collisions.

    Scale shape: one write + one read of the corpus (both fully
    parallel, CSV splits by 128 MB chunks), two map-side-combinable
    checksum aggregates, and a distributed anti-diff; no windows, no
    driver state beyond the 1-row summary."""
    return _roundtrip_integrity(spark, sf_dir, "csv", {"header": "true"})


@register(
    "jsonl_roundtrip_integrity",
    oracle="""
    WITH x AS (SELECT event_id, ts, user_id, event_type, value, props
               FROM events),
    chk AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                       AS sum_v100,
                   CAST(SUM(user_id) AS BIGINT) AS sum_user,
                   CAST(SUM(('0x' || substr(md5(
                        COALESCE(CAST(event_id AS VARCHAR), '<NULL>')
                        || '|' || COALESCE(event_type, '<NULL>')
                        || '|' || COALESCE(
                             strftime(ts, '%Y-%m-%d %H:%M:%S.%f'), '<NULL>')
                        || '|' || COALESCE(props, '<NULL>')), 1, 8))::BIGINT)
                       AS BIGINT) AS row_checksum
            FROM x)
    SELECT n_rows, sum_v100, sum_user, row_checksum,
           CAST(0 AS BIGINT) AS rows_lost,
           CAST(0 AS BIGINT) AS rows_gained
    FROM chk
    """,
)
def jsonl_roundtrip_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines connector fidelity gate — the reference's actual
    wire format (kafka_producer.py ships each event as one JSON
    object; the JSON-lines source is the broker-less twin). Same
    contract as [[csv_roundtrip_integrity]]: events round-trip
    through .json files (the props column is itself a JSON string, so
    this exercises nested escaping), checksums run over the
    round-tripped rows against the oracle's parquet-direct aggregates,
    and exceptAll lost/gained counts pin exact multiset equality."""
    return _roundtrip_integrity(spark, sf_dir, "json", {})
