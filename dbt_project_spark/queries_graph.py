"""Graph-analytics family: triangle counting over the part co-purchase
graph and fixed-point PageRank over a nation trade graph, both derived
from the TPC-H-ish tables. Complements `dedup_clusters` (connected
components in queries_corpus.py) — together these are the three graph
primitives a relational engine is usually asked for before anyone
reaches for a graph system.

Determinism: graphs are built with integer keys and fixed-point
weights; PageRank runs in scaled-integer arithmetic (BIGINT
micro-units, floor division) so iteration results are bit-identical
across engines — summing doubles would be order-dependent and could
never hash-gate.

Scale shapes:
- triangle_count uses the degree-orientation trick: each undirected
  edge is directed from its (degree, id)-smaller endpoint, bounding
  per-node wedge fan-out by sqrt(m) on any graph — the difference
  between O(Σdeg²) and O(m^1.5) at 100 TB. All stages are equi-joins.
- pagerank: ranks are nodes-sized, edges are the big side; every
  iteration is one broadcast-ranks join + one dst aggregation. The
  unrolled-loop pattern is exactly how you'd run it on a cluster until
  graph size forces Pregel-style message batching.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dbt_project_spark.catalog import register
from dbt_project_spark.sources import load_table

# PageRank parameters: scaled-integer rank units, 85/100 damping,
# fixed iteration count (unrolled in both engines).
PR_SCALE = 1_000_000_000_000
PR_ITERS = 5
# Top partner nations kept per source nation (the full trade graph is
# complete at 25 nations — thresholding makes the structure visible).
PR_TOP_PARTNERS = 3

_W100 = "CAST(round(l_extendedprice * 100, 0) AS BIGINT)"
# Per-order basket cap for the co-purchase edge build: pair generation
# inside an order is O(basket²), so a pathological basket (one order
# holding thousands of items — co-occurrence graphs outside TPC-H do
# this) would go quadratic. Keep the top TC_MAX_BASKET parts per order
# by total quantity (fixed-point, partkey tiebreak — deterministic in
# both engines). TPC-H orders have ≤7 lineitems, so 8 changes nothing
# at test scale while bounding any input.
TC_MAX_BASKET = 8
_Q100 = "CAST(round(l_quantity * 100, 0) AS BIGINT)"


def copurchase_edges(li: DataFrame, max_basket: int = TC_MAX_BASKET) -> DataFrame:
    """Undirected co-purchase edges (u, v), u < v: parts linked when
    they appear in the same order, each order's basket capped to its
    top ``max_basket`` parts by summed quantity. The basket ranking
    window runs over the same l_orderkey partitioning the self-join
    shuffles on, so the cap adds a sort but no extra exchange."""
    per_part = li.groupBy("l_orderkey", "l_partkey").agg(
        F.sum(F.expr(_Q100)).alias("q100")
    )
    wq = Window.partitionBy("l_orderkey").orderBy(
        F.desc("q100"), F.asc("l_partkey")
    )
    basket = (
        per_part.withColumn("rk", F.row_number().over(wq))
        .filter(F.col("rk") <= max_basket)
        .select("l_orderkey", "l_partkey")
    )
    a = basket.alias("a")
    b = basket.alias("b")
    return (
        a.join(
            b,
            on=(F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
        .distinct()
    )


@register(
    "triangle_count",
    oracle=f"""
    WITH bp AS MATERIALIZED (
      SELECT l_orderkey, l_partkey FROM (
        SELECT l_orderkey, l_partkey,
               ROW_NUMBER() OVER (PARTITION BY l_orderkey
                                  ORDER BY SUM({_Q100}) DESC, l_partkey) AS rk
        FROM lineitem GROUP BY l_orderkey, l_partkey)
      WHERE rk <= {TC_MAX_BASKET}),
    e AS MATERIALIZED (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
               FROM bp a JOIN bp b
                 ON a.l_orderkey = b.l_orderkey
                AND a.l_partkey < b.l_partkey),
    deg AS MATERIALIZED (SELECT node, COUNT(*) AS d FROM (
              SELECT u AS node FROM e UNION ALL SELECT v FROM e)
            GROUP BY node),
    o AS MATERIALIZED (SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS src,
                 CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS dst
          FROM e JOIN deg du ON du.node = e.u
                 JOIN deg dv ON dv.node = e.v),
    wedge AS (SELECT e1.dst AS a, e2.dst AS b
              FROM o e1 JOIN o e2
                ON e1.src = e2.src AND e1.dst < e2.dst),
    closing AS MATERIALIZED (SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b FROM o),
    tri AS (SELECT COUNT(*) AS n_triangles
            FROM wedge w
            WHERE EXISTS (SELECT 1 FROM closing c
                          WHERE c.a = w.a AND c.b = w.b))
    SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
           (SELECT COUNT(*) FROM e) AS n_edges,
           CAST(n_triangles AS BIGINT) AS n_triangles
    FROM tri
    """,
)
def triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count over the part co-purchase graph (parts linked
    when they appear in the same order), using degree orientation:
    direct each edge toward its higher-(degree, id) endpoint, fan out
    wedges only along out-edges, close them against the oriented edge
    set. Oriented out-degree is bounded by O(sqrt(m)), so the wedge
    stage can't blow up on a hub part the way naive Σdeg² does.

    The edge build caps each order's basket at TC_MAX_BASKET parts
    (see ``copurchase_edges``) so a pathological basket can't make
    per-order pair generation quadratic — mirrored in the oracle.
    """
    from dbt_project_spark.operators.graph import triangle_count as tc

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    return tc(copurchase_edges(li))


# Shared CTE prefix: the weighted nation trade graph, thresholded to
# each source's top partners — used verbatim by the PageRank and BFS
# oracles so both verify against the identical edge list.
_TRADE_GRAPH_SQL = f"""
    WITH w AS MATERIALIZED (SELECT s.s_nationkey AS src, c.c_nationkey AS dst,
                      SUM({_W100}) AS w100
               FROM lineitem l
               JOIN orders o ON l.l_orderkey = o.o_orderkey
               JOIN customer c ON o.o_custkey = c.c_custkey
               JOIN supplier s ON l.l_suppkey = s.s_suppkey
               WHERE s.s_nationkey <> c.c_nationkey
               GROUP BY 1, 2),
    edges AS MATERIALIZED (SELECT src, dst FROM (
                SELECT src, dst,
                       ROW_NUMBER() OVER (PARTITION BY src
                                          ORDER BY w100 DESC, dst) AS rk
                FROM w)
              WHERE rk <= {PR_TOP_PARTNERS}),
    nodes AS MATERIALIZED (SELECT DISTINCT node FROM (
                SELECT src AS node FROM edges
                UNION ALL SELECT dst FROM edges))"""


def _trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed nation trade edges (src, dst): supplier nation ships
    to customer nation, each source keeping its top
    ``PR_TOP_PARTNERS`` partners by traded volume. The Spark twin of
    ``_TRADE_GRAPH_SQL``."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    w = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .filter(F.col("s_nationkey") != F.col("c_nationkey"))
        .groupBy(
            F.col("s_nationkey").alias("src"), F.col("c_nationkey").alias("dst")
        )
        .agg(
            F.sum(F.expr(_W100)).alias("w100"),
        )
    )
    wk = Window.partitionBy("src").orderBy(F.desc("w100"), F.asc("dst"))
    return (
        w.withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") <= PR_TOP_PARTNERS)
        .select("src", "dst")
    )


def _pr_oracle() -> str:
    """Unrolled fixed-point PageRank CTE chain (see pagerank_trade)."""
    head = _TRADE_GRAPH_SQL + f""",
    n AS (SELECT COUNT(*) AS n FROM nodes),
    outdeg AS MATERIALIZED (SELECT src, COUNT(*) AS od FROM edges GROUP BY src),
    r0 AS (SELECT node, CAST({PR_SCALE} // (SELECT n FROM n) AS BIGINT) AS r
           FROM nodes)
    """
    iters = []
    for i in range(1, PR_ITERS + 1):
        prev = f"r{i - 1}"
        iters.append(f"""
    c{i} AS (SELECT e.dst AS node, SUM(p.r // od.od) AS contrib
             FROM edges e
             JOIN {prev} p ON p.node = e.src
             JOIN outdeg od ON od.src = e.src
             GROUP BY e.dst),
    r{i} AS (SELECT nodes.node,
                    CAST(({PR_SCALE} // (SELECT n FROM n)) * 15 // 100
                         + COALESCE(c{i}.contrib, 0) * 85 // 100
                         AS BIGINT) AS r
             FROM nodes LEFT JOIN c{i} ON c{i}.node = nodes.node)""")
    return (
        head
        + ","
        + ",".join(iters)
        + f"""
    SELECT node AS nationkey, r AS rank_scaled,
           r / {PR_SCALE}.0 AS rank
    FROM r{PR_ITERS}
    """
    )


@register("pagerank_trade", oracle=_pr_oracle())
def pagerank_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point PageRank over the nation trade graph (supplier
    nation → customer nation, each source keeping its top
    ``PR_TOP_PARTNERS`` partners by traded volume). ``PR_ITERS``
    unrolled iterations in BIGINT micro-units with floor division —
    bit-identical across engines, unlike float PageRank whose sums are
    addition-order-dependent.

    Each iteration: broadcast the nodes-sized rank table onto the
    edge list, aggregate contributions by dst — at 100 TB the edges
    never move, only rank deltas do. (Past ~10^9 nodes you'd switch to
    checkpointed Pregel rounds; the per-iteration dataflow is the
    same join+agg as here.)
    """
    from dbt_project_spark.operators.graph import pagerank_fixedpoint

    ranks = pagerank_fixedpoint(
        _trade_edges(spark, sf_dir), iters=PR_ITERS, scale=PR_SCALE, damping_pct=85
    )
    return ranks.select(
        F.col("node").alias("nationkey"),
        F.col("r").alias("rank_scaled"),
        (F.col("r") / F.lit(float(PR_SCALE))).alias("rank"),
    )


BFS_ITERS = 8  # > trade-graph diameter; unrolled in both engines


def _bfs_oracle() -> str:
    """Unrolled BFS CTE chain over the shared trade graph."""
    parts = [
        _TRADE_GRAPH_SQL,
        """,
    src0 AS (SELECT MIN(node) AS s FROM nodes),
    d0 AS (SELECT (SELECT s FROM src0) AS node, 0 AS hops)""",
    ]
    for i in range(1, BFS_ITERS + 1):
        parts.append(f""",
    d{i} AS (SELECT node, MIN(hops) AS hops FROM (
        SELECT node, hops FROM d{i - 1}
        UNION ALL
        SELECT e.dst AS node, d.hops + 1 AS hops
        FROM d{i - 1} d JOIN edges e ON e.src = d.node) GROUP BY node)""")
    parts.append(f"""
    SELECT node AS nationkey, CAST(hops AS BIGINT) AS hops FROM d{BFS_ITERS}
    """)
    return "".join(parts)


@register("bfs_hops_trade", oracle=_bfs_oracle())
def bfs_hops_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shortest hop count from the minimum nation to every reachable
    nation over the trade graph — unrolled BFS (``BFS_ITERS`` fixed
    rounds, > graph diameter), the third graph primitive next to
    PageRank and connected components.

    Scale shape (see operators/graph.py:bfs_hops): edges never move;
    each round joins the nodes-sized distance table onto the edge
    list and min-aggregates with map-side combine. The distance table
    is broadcast only under the node-count threshold — past it the
    rounds become plain shuffle equi-joins, same as PageRank.
    """
    from dbt_project_spark.operators.graph import bfs_hops

    dist = bfs_hops(_trade_edges(spark, sf_dir), iters=BFS_ITERS)
    return dist.select(
        F.col("node").alias("nationkey"), F.col("hops").cast("bigint").alias("hops")
    )


HITS_ITERS = 4  # unrolled hub/auth half-step pairs (both engines)
HITS_SCALE = 1_000_000_000  # max-normalized score units of 1e-9


def _hits_oracle() -> str:
    """Unrolled fixed-point HITS CTE chain (see hits_trade)."""
    s = HITS_SCALE
    parts = [
        _TRADE_GRAPH_SQL,
        f""",
    a0 AS (SELECT node, CAST({s} AS BIGINT) AS a FROM nodes)""",
    ]
    for i in range(1, HITS_ITERS + 1):
        # hraw/araw are each referenced TWICE (scalar MAX + value
        # projection): MATERIALIZED stops DuckDB inlining the full
        # upstream chain per reference — the 2^(2·iters) blowup the
        # Spark side avoids with per-half-step persists.
        parts.append(f""",
    hraw{i} AS MATERIALIZED (SELECT e.src, CAST(SUM(a.a) AS BIGINT) AS raw
                FROM edges e JOIN a{i - 1} a ON a.node = e.dst
                GROUP BY e.src),
    h{i} AS MATERIALIZED (SELECT src AS node,
                    CAST(CAST(raw AS HUGEINT) * {s}
                         // (SELECT MAX(raw) FROM hraw{i}) AS BIGINT) AS h
             FROM hraw{i}),
    araw{i} AS MATERIALIZED (SELECT e.dst, CAST(SUM(h.h) AS BIGINT) AS raw
                FROM edges e JOIN h{i} h ON h.node = e.src
                GROUP BY e.dst),
    a{i} AS MATERIALIZED (SELECT dst AS node,
                    CAST(CAST(raw AS HUGEINT) * {s}
                         // (SELECT MAX(raw) FROM araw{i}) AS BIGINT) AS a
             FROM araw{i})""")
    n = HITS_ITERS
    parts.append(f"""
    SELECT nodes.node AS nationkey,
           COALESCE(h{n}.h, 0) AS hub_scaled,
           COALESCE(a{n}.a, 0) AS auth_scaled,
           COALESCE(h{n}.h, 0) / {s}.0 AS hub,
           COALESCE(a{n}.a, 0) / {s}.0 AS auth
    FROM nodes LEFT JOIN h{n} ON h{n}.node = nodes.node
               LEFT JOIN a{n} ON a{n}.node = nodes.node
    """)
    return "".join(parts)


@register("hits_trade", oracle=_hits_oracle())
def hits_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities over the nation trade graph — the
    question PageRank can't answer: which nations are the big BUYERS
    (hubs: out-edges point at strong authorities) vs the big SELLERS
    (authorities: pointed at by strong hubs)? Completes the iterative
    trio next to pagerank_trade and bfs_hops_trade.

    ``HITS_ITERS`` unrolled hub/auth half-step pairs in BIGINT units
    of 1/``HITS_SCALE`` with per-half-step max-normalization in
    DECIMAL(38,0)/HUGEINT floor arithmetic — bit-identical across
    engines (float HITS is addition-order-dependent; L2
    normalization would add an irrational sqrt).

    Scale shape (operators/graph.py:hits_fixedpoint): edges never
    move; each half-step is one nodes-sized-table join onto the edge
    list + a map-side-combinable sum; the per-step max is a 1-row
    broadcast. Same broadcast-threshold policy as PageRank.
    """
    from dbt_project_spark.operators.graph import hits_fixedpoint

    scores = hits_fixedpoint(
        _trade_edges(spark, sf_dir), iters=HITS_ITERS, scale=HITS_SCALE
    )
    return scores.select(
        F.col("node").alias("nationkey"),
        F.col("h").alias("hub_scaled"),
        F.col("a").alias("auth_scaled"),
        (F.col("h") / F.lit(float(HITS_SCALE))).alias("hub"),
        (F.col("a") / F.lit(float(HITS_SCALE))).alias("auth"),
    )


KCORE_K = 65  # co-purchase degree threshold (non-trivial at every SF)
KCORE_ITERS = 8  # fixed unrolled peeling rounds (converges at all SFs)

# Shared CTE: the basket-capped part co-purchase edge list — identical
# text to the triangle_count oracle's bp/e stages so every co-purchase
# query verifies against the same graph.
_COPURCHASE_SQL = f"""bp AS MATERIALIZED (
      SELECT l_orderkey, l_partkey FROM (
        SELECT l_orderkey, l_partkey,
               ROW_NUMBER() OVER (PARTITION BY l_orderkey
                                  ORDER BY SUM({_Q100}) DESC, l_partkey) AS rk
        FROM lineitem GROUP BY l_orderkey, l_partkey)
      WHERE rk <= {TC_MAX_BASKET}),
    e0 AS MATERIALIZED (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
               FROM bp a JOIN bp b
                 ON a.l_orderkey = b.l_orderkey
                AND a.l_partkey < b.l_partkey)"""


def _kcore_oracle() -> str:
    """Unrolled k-core peeling CTE chain over the co-purchase graph."""
    parts = [f"WITH {_COPURCHASE_SQL}"]
    for i in range(1, KCORE_ITERS + 1):
        parts.append(f""",
    d{i} AS MATERIALIZED (SELECT node, COUNT(*) AS d FROM (
              SELECT u AS node FROM e{i - 1} UNION ALL SELECT v FROM e{i - 1})
            GROUP BY node),
    a{i} AS MATERIALIZED (SELECT node FROM d{i} WHERE d >= {KCORE_K}),
    e{i} AS MATERIALIZED (SELECT e.u, e.v FROM e{i - 1} e
               JOIN a{i} x ON x.node = e.u
               JOIN a{i} y ON y.node = e.v)""")
    parts.append(f"""
    SELECT node AS partkey, CAST(d AS BIGINT) AS core_deg
    FROM (SELECT node, COUNT(*) AS d FROM (
            SELECT u AS node FROM e{KCORE_ITERS}
            UNION ALL SELECT v FROM e{KCORE_ITERS})
          GROUP BY node)
    WHERE d >= {KCORE_K}
    """)
    return "".join(parts)


@register("kcore_parts", oracle=_kcore_oracle())
def kcore_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The KCORE_K-core of the part co-purchase graph: the maximal
    subgraph where every part still co-occurs with ≥ K other parts —
    the dense 'always bought together' backbone that survives after
    peripheral parts are peeled away (the fourth graph primitive next
    to triangles, PageRank, and connected components; k-cores are the
    standard seed for community/influence analysis).

    Fixed KCORE_ITERS peeling rounds, unrolled identically in the
    DuckDB oracle's CTE chain — an unconverged run would still be
    bit-identical across engines; convergence at this K is asserted
    by the planted-graph tests and holds at every shipped SF.

    Scale shape (see operators/graph.kcore): per round one map-side-
    combinable degree aggregate + two semi-joins against the alive
    set; the edge list only ever shrinks, each round is persisted
    with eager release of the previous round, and lineage is
    checkpoint-truncated — the CC/BFS iteration convention.
    """
    from dbt_project_spark.operators.graph import kcore

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    core = kcore(copurchase_edges(li), k=KCORE_K, iters=KCORE_ITERS)
    return core.select(F.col("node").alias("partkey"), "core_deg")


COOC_TOP_K = 20  # strongest co-purchase affinities kept


@register(
    "item_cooc_similarity",
    oracle=f"""
    WITH {_COPURCHASE_SQL},
    pc AS (SELECT a.l_partkey AS u, b.l_partkey AS v,
                  CAST(COUNT(*) AS BIGINT) AS nab
           FROM bp a JOIN bp b
             ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
           GROUP BY 1, 2),
    na AS (SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n
           FROM bp GROUP BY 1),
    s AS (SELECT pc.u, pc.v, pc.nab, x.n AS n_u, y.n AS n_v,
                 CAST(pc.nab * pc.nab * 1000000 // (x.n * y.n) AS BIGINT)
                     AS sim2_micro
          FROM pc JOIN na x ON x.l_partkey = pc.u
                  JOIN na y ON y.l_partkey = pc.v),
    r AS (SELECT *, ROW_NUMBER() OVER (ORDER BY sim2_micro DESC, u, v) AS rk
          FROM s)
    SELECT u AS part_a, v AS part_b, nab AS n_cooc, n_u AS n_a, n_v AS n_b,
           sim2_micro
    FROM r WHERE rk <= {COOC_TOP_K}
    """,
)
def item_cooc_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative-filtering affinities: the COOC_TOP_K
    strongest part pairs by squared cosine over order co-occurrence —
    sim²(a,b) = n_ab² / (n_a·n_b), the 'customers who bought X also
    bought Y' primitive. Baskets are capped at TC_MAX_BASKET like
    every co-purchase query (mirrored in the oracle), so pair
    generation is bounded per order.

    Exactness: the squared cosine avoids sqrt entirely — emitted as
    truncating integer micro-units (nab²·1e6 div n_a·n_b), so ranking
    and values hash-gate bit-for-bit; ties break on (part_a, part_b).

    Scale shape: pair counts are the basket self-join (bounded by the
    cap) followed by one (u,v) aggregate; the per-part order counts
    are a parts-sized aggregate joined back twice (AQE broadcasts
    them); the global top-k is a TakeOrderedAndProject heap — no
    single-partition window over the pairs table.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    per_part = li.groupBy("l_orderkey", "l_partkey").agg(
        F.sum(F.expr(_Q100)).alias("q100")
    )
    wb = Window.partitionBy("l_orderkey").orderBy(
        F.desc("q100"), F.asc("l_partkey")
    )
    bp = (
        per_part.withColumn("rk", F.row_number().over(wb))
        .filter(F.col("rk") <= TC_MAX_BASKET)
        .select("l_orderkey", "l_partkey")
    )
    from dbt_project_spark.caching import persist_tracked

    bp = persist_tracked(bp)
    a = bp.select("l_orderkey", F.col("l_partkey").alias("u"))
    b = bp.select("l_orderkey", F.col("l_partkey").alias("v"))
    pc = (
        a.join(b, on="l_orderkey")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("nab"))
    )
    # Persist the parts-sized per-part counts: they feed BOTH degree
    # joins below, and Spark does not share subtrees — uncached, the
    # aggregate over bp ran twice (r13, measured 2×~13 s executor
    # time at sf1).
    na = persist_tracked(
        bp.groupBy("l_partkey").agg(
            F.count(F.lit(1)).cast("bigint").alias("n")
        )
    )
    s = (
        pc.join(na.select(F.col("l_partkey").alias("u"), F.col("n").alias("n_u")), "u")
        .join(na.select(F.col("l_partkey").alias("v"), F.col("n").alias("n_v")), "v")
        .select(
            "u",
            "v",
            "nab",
            "n_u",
            "n_v",
            F.expr(
                "CAST((nab * nab * 1000000) div (n_u * n_v) AS BIGINT)"
            ).alias("sim2_micro"),
        )
    )
    return (
        s.orderBy(F.desc("sim2_micro"), F.asc("u"), F.asc("v"))
        .limit(COOC_TOP_K)
        .select(
            F.col("u").alias("part_a"),
            F.col("v").alias("part_b"),
            F.col("nab").alias("n_cooc"),
            F.col("n_u").alias("n_a"),
            F.col("n_v").alias("n_b"),
            "sim2_micro",
        )
    )


# --- hop-bounded weighted shortest path over the trade graph (r4s3) ---

SSSP_ITERS = 8  # max relaxation rounds (= max path edge count)
# Edge cost: "thin trade pipes cost more" — 1 + BIG/volume as an exact
# integer (floor div both engines). The +1 keeps every hop strictly
# positive even if a pair's volume exceeds BIG.
SSSP_COST_BIG = 1_000_000_000_000_000

_TRADE_GRAPH_W_SQL = f"""
    WITH w AS MATERIALIZED (SELECT s.s_nationkey AS src, c.c_nationkey AS dst,
                      SUM({_W100}) AS w100
               FROM lineitem l
               JOIN orders o ON l.l_orderkey = o.o_orderkey
               JOIN customer c ON o.o_custkey = c.c_custkey
               JOIN supplier s ON l.l_suppkey = s.s_suppkey
               WHERE s.s_nationkey <> c.c_nationkey
               GROUP BY 1, 2),
    wedges AS MATERIALIZED (SELECT src, dst,
                      CAST(1 + {SSSP_COST_BIG} // w100 AS BIGINT) AS cost
               FROM (
                SELECT src, dst, w100,
                       ROW_NUMBER() OVER (PARTITION BY src
                                          ORDER BY w100 DESC, dst) AS rk
                FROM w)
              WHERE rk <= {PR_TOP_PARTNERS}),
    wnodes AS MATERIALIZED (SELECT DISTINCT node FROM (
                SELECT src AS node FROM wedges
                UNION ALL SELECT dst FROM wedges))"""


def _trade_edges_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(src, dst, cost) trade edges — the weighted twin of
    ``_trade_edges`` (same volume ranking, same top-partner cap)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    w = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .filter(F.col("s_nationkey") != F.col("c_nationkey"))
        .groupBy(
            F.col("s_nationkey").alias("src"), F.col("c_nationkey").alias("dst")
        )
        .agg(F.sum(F.expr(_W100)).alias("w100"))
    )
    wk = Window.partitionBy("src").orderBy(F.desc("w100"), F.asc("dst"))
    return (
        w.withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") <= PR_TOP_PARTNERS)
        .select(
            "src",
            "dst",
            F.expr(f"CAST(1 + {SSSP_COST_BIG} div w100 AS BIGINT)").alias(
                "cost"
            ),
        )
    )


def _sssp_oracle() -> str:
    """Unrolled Bellman-Ford CTE chain (see sssp_weighted_trade)."""
    parts = [
        _TRADE_GRAPH_W_SQL,
        """,
    wsrc0 AS (SELECT MIN(node) AS s FROM wnodes),
    wd0 AS (SELECT (SELECT s FROM wsrc0) AS node, CAST(0 AS BIGINT) AS cost)""",
    ]
    for i in range(1, SSSP_ITERS + 1):
        parts.append(f""",
    wd{i} AS (SELECT node, MIN(cost) AS cost FROM (
        SELECT node, cost FROM wd{i - 1}
        UNION ALL
        SELECT e.dst AS node, d.cost + e.cost AS cost
        FROM wd{i - 1} d JOIN wedges e ON e.src = d.node) GROUP BY node)""")
    parts.append(f"""
    SELECT node AS nationkey, CAST(cost AS BIGINT) AS cost FROM wd{SSSP_ITERS}
    """)
    return "".join(parts)


@register("sssp_weighted_trade", oracle=_sssp_oracle())
def sssp_weighted_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cheapest trade route from the minimum nation to every nation
    reachable within ``SSSP_ITERS`` hops, where an edge's cost is the
    inverse of its traded volume (thin pipes cost more) — weighted
    shortest path, the fourth graph primitive next to PageRank, CC,
    and BFS. Fixed unrolled relaxation rounds ≡ the oracle's CTE
    chain; with iters ≥ the longest shortest-path edge count this is
    exact Bellman-Ford, and the hop bound itself is a common
    production constraint (max-legs routing).

    Scale shape (operators/graph.py:weighted_sssp): edges never move;
    each round joins the nodes-sized distance table (broadcast under
    the threshold) onto the edges, relaxes, and min-aggregates with
    map-side combine; per-round persist + periodic localCheckpoint
    bound lineage exactly like bfs_hops.
    """
    from dbt_project_spark.operators.graph import weighted_sssp

    dist = weighted_sssp(
        _trade_edges_weighted(spark, sf_dir), iters=SSSP_ITERS
    )
    return dist.select(
        F.col("node").alias("nationkey"),
        F.col("cost").cast("bigint").alias("cost"),
    )


# --- trade graph structural diagnostics (r4s3) ---


@register(
    "trade_graph_diagnostics",
    oracle=_TRADE_GRAPH_SQL + """,
    deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
              SELECT src AS node FROM edges
              UNION ALL SELECT dst FROM edges) GROUP BY node),
    rec AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_recip
            FROM edges e WHERE EXISTS (SELECT 1 FROM edges r
                                       WHERE r.src = e.dst AND r.dst = e.src)),
    dd AS (SELECT ds.d AS x, dt.d AS y
           FROM edges e JOIN deg ds ON ds.node = e.src
                        JOIN deg dt ON dt.node = e.dst),
    s AS (SELECT CAST(COUNT(*) AS BIGINT) AS m,
                 CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
                 CAST(SUM(x * y) AS BIGINT) AS sxy,
                 CAST(SUM(x * x) AS BIGINT) AS sxx,
                 CAST(SUM(y * y) AS BIGINT) AS syy
          FROM dd)
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_nodes,
           s.m AS n_edges,
           CAST((SELECT n_recip FROM rec) * 1000000 // s.m AS BIGINT)
               AS reciprocity_micro,
           CAST((s.m * s.sxy - s.sx * s.sy) AS VARCHAR) AS assort_num,
           CAST((s.m * s.sxx - s.sx * s.sx) * (s.m * s.syy - s.sy * s.sy)
                AS VARCHAR) AS assort_den_sq
    FROM s
    """,
)
def trade_graph_diagnostics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structural diagnostics of the trade graph: reciprocity (share
    of directed edges with a reverse edge — does trade flow both
    ways?) and degree assortativity (Pearson correlation of endpoint
    degrees over edges — do hubs trade with hubs?). Reciprocity is
    exact integer micro-units; assortativity ships as the exact
    rational pair (numerator, denominator²) in decimal strings — the
    linreg_value_trend contract, because the final sqrt+division is
    the only irrational step and differs across engines in the last
    ulp.

    Scale shape: degrees are a nodes-sized aggregate joined onto the
    edge list (two equi-joins); reciprocity is a self-semi-join on
    the reversed key — all map-side-combinable aggregates, nothing
    quadratic.
    """
    from dbt_project_spark.operators.graph import graph_diagnostics

    return graph_diagnostics(_trade_edges(spark, sf_dir))


# ---------------------------------------------------------------------------
# user_item_recs — personalized top-N from item-item affinities (r4s4)
# ---------------------------------------------------------------------------

REC_NEIGH_K = 5  # affinity neighbors kept per item (index cap)
REC_TOP_N = 3  # recommendations emitted per customer
REC_MIN_COOC = 2  # minimum pair support (drops nab=1 noise edges)


@register(
    "user_item_recs",
    oracle=f"""
    WITH {_COPURCHASE_SQL},
    pc AS (SELECT a.l_partkey AS u, b.l_partkey AS v,
                  CAST(COUNT(*) AS BIGINT) AS nab
           FROM bp a JOIN bp b
             ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
           GROUP BY 1, 2
           HAVING COUNT(*) >= {REC_MIN_COOC}),
    na AS (SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n
           FROM bp GROUP BY 1),
    ed AS (SELECT u AS src, v AS dst, nab FROM pc
           UNION ALL SELECT v, u, nab FROM pc),
    sc AS (SELECT e.src, e.dst,
                  CAST(e.nab * e.nab * 1000000 // (ns.n * nd.n) AS BIGINT)
                      AS score
           FROM ed e JOIN na ns ON ns.l_partkey = e.src
                     JOIN na nd ON nd.l_partkey = e.dst),
    top AS MATERIALIZED (SELECT src, dst, score FROM (
             SELECT *, ROW_NUMBER() OVER (PARTITION BY src
                                          ORDER BY score DESC, dst) AS rk
             FROM sc) WHERE rk <= {REC_NEIGH_K}),
    own AS MATERIALIZED (SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
            FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
    cand AS (SELECT own.c, t.dst, t.score
             FROM own JOIN top t ON t.src = own.p),
    agg AS (SELECT c, dst, CAST(SUM(score) AS BIGINT) AS score_sum,
                   CAST(COUNT(*) AS BIGINT) AS n_paths
            FROM cand
            WHERE NOT EXISTS (SELECT 1 FROM own o2
                              WHERE o2.c = cand.c AND o2.p = cand.dst)
            GROUP BY c, dst),
    r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY c
                                       ORDER BY score_sum DESC, dst) AS rk
          FROM agg)
    SELECT c AS custkey, dst AS rec_partkey, score_sum AS score_micro,
           n_paths, CAST(rk AS BIGINT) AS rec_rank
    FROM r WHERE rk <= {REC_TOP_N}
    """,
)
def user_item_recs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized 'customers who bought X also bought Y' top-N:
    each customer's owned parts fan out through a per-item capped
    affinity index (squared-cosine co-purchase scores, the
    item_cooc_similarity metric, top REC_NEIGH_K neighbors per item,
    pair support ≥ REC_MIN_COOC), candidate scores sum per
    (customer, candidate), already-owned parts are anti-joined away,
    and the top REC_TOP_N per customer are emitted — the standard
    item-based collaborative-filtering serving pipeline (Amazon-style
    item-to-item CF) as one batch job.

    Exactness: scores are the truncating-integer squared-cosine
    micro-units (no sqrt); ranking ties break on part id at both the
    index cap and the final top-N, so every rank is deterministic.

    Scale shape: the affinity index is bounded at parts×NEIGH_K rows
    no matter the order volume (the cap rides the same src
    partitioning that built the scores); candidate generation is an
    equi-join of the owned table against that index, so fan-out per
    owned row is ≤ NEIGH_K; the anti-join and final top-N ride ONE
    customer partitioning. Nothing is ever all-pairs over customers
    or parts.
    """
    from dbt_project_spark.caching import persist_tracked

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    per_part = li.groupBy("l_orderkey", "l_partkey").agg(
        F.sum(F.expr(_Q100)).alias("q100")
    )
    wb = Window.partitionBy("l_orderkey").orderBy(
        F.desc("q100"), F.asc("l_partkey")
    )
    bp = persist_tracked(
        per_part.withColumn("rk", F.row_number().over(wb))
        .filter(F.col("rk") <= TC_MAX_BASKET)
        .select("l_orderkey", "l_partkey")
    )
    a = bp.select("l_orderkey", F.col("l_partkey").alias("u"))
    b = bp.select("l_orderkey", F.col("l_partkey").alias("v"))
    # Persist the pair counts AND the per-part counts: pc feeds both
    # union branches of the symmetrized edge list and na feeds both
    # degree joins — Spark does not share subtrees, so uncached the
    # whole basket self-join + aggregate pipeline executed TWICE
    # (r13, measured: two identical ~120 MB aggregate exchanges and
    # 2×~40 s executor time at sf1).
    pc = persist_tracked(
        a.join(b, on="l_orderkey")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("nab"))
        .filter(F.col("nab") >= REC_MIN_COOC)
    )
    na = persist_tracked(
        bp.groupBy("l_partkey").agg(
            F.count(F.lit(1)).cast("bigint").alias("n")
        )
    )
    ed = pc.select(
        F.col("u").alias("src"), F.col("v").alias("dst"), "nab"
    ).unionAll(
        pc.select(F.col("v").alias("src"), F.col("u").alias("dst"), "nab")
    )
    sc = (
        ed.join(
            na.select(F.col("l_partkey").alias("src"), F.col("n").alias("ns")),
            "src",
        )
        .join(
            na.select(F.col("l_partkey").alias("dst"), F.col("n").alias("nd")),
            "dst",
        )
        .select(
            "src",
            "dst",
            F.expr("CAST(nab * nab * 1000000 div (ns * nd) AS BIGINT)").alias(
                "score"
            ),
        )
    )
    wt = Window.partitionBy("src").orderBy(F.desc("score"), F.asc("dst"))
    top = (
        sc.withColumn("rk", F.row_number().over(wt))
        .filter(F.col("rk") <= REC_NEIGH_K)
        .select("src", "dst", "score")
    )
    own = persist_tracked(
        orders.join(
            li.select("l_orderkey", "l_partkey"),
            orders.o_orderkey == F.col("l_orderkey"),
        )
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    cand = own.join(top, own.p == top.src).select("c", "dst", "score")
    own2 = own.select(F.col("c").alias("c2"), F.col("p").alias("p2"))
    agg = (
        cand.join(
            own2,
            (cand.c == own2.c2) & (cand.dst == own2.p2),
            "left_anti",
        )
        .groupBy("c", "dst")
        .agg(
            F.sum("score").cast("bigint").alias("score_sum"),
            F.count(F.lit(1)).cast("bigint").alias("n_paths"),
        )
    )
    wr = Window.partitionBy("c").orderBy(F.desc("score_sum"), F.asc("dst"))
    return (
        agg.withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") <= REC_TOP_N)
        .select(
            F.col("c").alias("custkey"),
            F.col("dst").alias("rec_partkey"),
            F.col("score_sum").alias("score_micro"),
            "n_paths",
            F.col("rk").cast("bigint").alias("rec_rank"),
        )
    )


# ---------------------------------------------------------------------------
# clustering_coefficient — local transitivity of the co-purchase graph (r4s4)
# ---------------------------------------------------------------------------

CLUST_TOP_K = 20  # most triangle-dense parts reported


@register(
    "clustering_coefficient",
    oracle=f"""
    WITH {_COPURCHASE_SQL},
    deg AS MATERIALIZED (SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
              SELECT u AS node FROM e0 UNION ALL SELECT v FROM e0)
            GROUP BY node),
    o AS MATERIALIZED (
      SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS src,
             CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS dst
      FROM e0 e JOIN deg du ON du.node = e.u
                JOIN deg dv ON dv.node = e.v),
    wedge AS (SELECT e1.src AS s, e1.dst AS a, e2.dst AS b
              FROM o e1 JOIN o e2
                ON e1.src = e2.src AND e1.dst < e2.dst),
    closing AS MATERIALIZED (
      SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b FROM o),
    tri AS (SELECT w.s, w.a, w.b FROM wedge w
            WHERE EXISTS (SELECT 1 FROM closing c
                          WHERE c.a = w.a AND c.b = w.b)),
    corners AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS tri FROM (
                  SELECT s AS node FROM tri
                  UNION ALL SELECT a FROM tri
                  UNION ALL SELECT b FROM tri)
                GROUP BY node),
    cc AS (SELECT deg.node, deg.d, COALESCE(corners.tri, 0) AS tri,
                  CAST(2 * COALESCE(corners.tri, 0) * 1000000
                       // (deg.d * (deg.d - 1)) AS BIGINT) AS cc_micro
           FROM deg LEFT JOIN corners ON corners.node = deg.node
           WHERE deg.d >= 2),
    r AS (SELECT *, ROW_NUMBER() OVER (ORDER BY tri DESC, node) AS rk
          FROM cc)
    SELECT node AS partkey, d AS degree, tri AS triangles, cc_micro
    FROM r WHERE rk <= {CLUST_TOP_K}
    """,
)
def clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient of the part co-purchase graph:
    for each part, cc = 2·T_v / (d_v·(d_v−1)) — how much of its
    neighborhood buys together (1 = the part anchors a clique of
    co-purchases, 0 = it bridges unrelated baskets). Reported for the
    CLUST_TOP_K most triangle-dense parts (tie → lowest part id) —
    the merchandising 'bundle detector' on top of the triangle
    machinery.

    Exactness: T and d are integers; cc is a truncating integer
    micro-unit division — no floats anywhere.

    Scale shape: per-node triangle counts reuse the degree-oriented
    wedge join (operators/graph.triangles_per_node — out-degree
    bounded at O(sqrt m), corner fan-out exactly 3T); degrees are a
    nodes-sized aggregate; the top-k is a TakeOrderedAndProject heap.
    Basket cap as in every co-purchase query, mirrored in the oracle.
    """
    from dbt_project_spark.operators.graph import triangles_per_node

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    edges = copurchase_edges(li)
    from dbt_project_spark.caching import persist_tracked

    edges = persist_tracked(edges)
    tri = triangles_per_node(edges)
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    cc = (
        deg.join(tri, "node", "left")
        .withColumn("tri", F.coalesce("tri", F.lit(0)))
        .filter(F.col("d") >= 2)
        .select(
            "node",
            "d",
            "tri",
            F.expr(
                "CAST(2 * tri * 1000000 div (d * (d - 1)) AS BIGINT)"
            ).alias("cc_micro"),
        )
    )
    return (
        cc.orderBy(F.desc("tri"), F.asc("node"))
        .limit(CLUST_TOP_K)
        .select(
            F.col("node").alias("partkey"),
            F.col("d").alias("degree"),
            F.col("tri").alias("triangles"),
            "cc_micro",
        )
    )


# ---------------------------------------------------------------------------
# lpa_communities — label-propagation community detection (r4s4)
# ---------------------------------------------------------------------------

LPA_ITERS = 4  # fixed synchronous rounds (unrolled in both engines)


def _lpa_oracle() -> str:
    """Unrolled synchronous-LPA CTE chain over the co-purchase graph,
    mirroring operators/graph.label_propagation round for round."""
    parts = [
        f"WITH {_COPURCHASE_SQL}",
        """nodes AS MATERIALIZED (SELECT DISTINCT node FROM (
             SELECT u AS node FROM e0 UNION ALL SELECT v FROM e0)),
           l0 AS MATERIALIZED (SELECT node, node AS lab FROM nodes)""",
    ]
    for k in range(1, LPA_ITERS + 1):
        parts.append(f"""
           n{k} AS (SELECT e.u AS node, l.lab AS nl
                    FROM e0 e JOIN l{k - 1} l ON l.node = e.v
                    UNION ALL
                    SELECT e.v, l.lab
                    FROM e0 e JOIN l{k - 1} l ON l.node = e.u),
           c{k} AS (SELECT node, nl, COUNT(*) AS c
                    FROM n{k} GROUP BY 1, 2),
           p{k} AS (SELECT node,
                            max_by(nl, c * 1000000000000 - nl) AS nl
                     FROM c{k} GROUP BY node),
           l{k} AS MATERIALIZED (
             SELECT l.node, COALESCE(p.nl, l.lab) AS lab
             FROM l{k - 1} l LEFT JOIN p{k} p ON p.node = l.node)""")
    body = ",".join(parts)
    return f"""{body}
    SELECT lab AS community, CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(MIN(node) AS BIGINT) AS min_part,
           CAST(MAX(node) AS BIGINT) AS max_part
    FROM l{LPA_ITERS} GROUP BY lab"""


@register("lpa_communities", oracle=_lpa_oracle())
def lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection over the part co-purchase graph by
    synchronous label propagation (fixed LPA_ITERS rounds, ties to
    the smallest label): the merchandising 'category discovery'
    primitive — denser than connected components (which merge
    everything touching), cheaper than modularity optimization.
    Emits each discovered community's size and part-id range.

    Determinism: sync LPA with a (count DESC, label ASC) arg-max is
    fully deterministic; the FIXED unroll sidesteps oscillation-
    convergence questions — both engines run the identical rounds
    (the kcore/bfs convention).

    Scale shape (operators/graph.label_propagation): edges never
    move — each round joins the nodes-sized label table onto them
    twice (once per direction), one map-side-combinable (node, label)
    count, and an arg-max window on the node partitioning; per-round
    persist + eager release + checkpoint cadence as BFS. Basket cap
    bounds the edge build as in every co-purchase query.
    """
    from dbt_project_spark.operators.graph import label_propagation

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    lab = label_propagation(copurchase_edges(li), iters=LPA_ITERS)
    return lab.groupBy(F.col("lab").alias("community")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
        F.min("node").cast("bigint").alias("min_part"),
        F.max("node").cast("bigint").alias("max_part"),
    )


# ---------------------------------------------------------------------------
# link_prediction_jaccard — common-neighbor link prediction (r4s4)
# ---------------------------------------------------------------------------

LP_TOP_K = 20
LP_MIN_COMMON = 2  # candidate floor (1 shared neighbor is noise)
# Anti-join edge-broadcast bound (r13): see the comment at the use
# site — tighter than CLOSING_BROADCAST_MAX_EDGES because this
# broadcast shares the heap with the common-neighbor aggregation.
LP_ANTI_BROADCAST_MAX_EDGES = 4_000_000


@register(
    "link_prediction_jaccard",
    oracle=f"""
    WITH {_COPURCHASE_SQL},
    adj AS MATERIALIZED (SELECT u AS node, v AS nbr FROM e0
            UNION ALL SELECT v, u FROM e0),
    deg AS MATERIALIZED (SELECT node, CAST(COUNT(*) AS BIGINT) AS d
           FROM adj GROUP BY node),
    cn AS (SELECT a.node AS na, b.node AS nb,
                  CAST(COUNT(*) AS BIGINT) AS common
           FROM adj a JOIN adj b
             ON b.nbr = a.nbr AND a.node < b.node
           GROUP BY 1, 2
           HAVING COUNT(*) >= {LP_MIN_COMMON}),
    nonedge AS (SELECT cn.na, cn.nb, cn.common
                FROM cn WHERE NOT EXISTS (
                  SELECT 1 FROM e0 WHERE e0.u = cn.na AND e0.v = cn.nb)),
    sc AS (SELECT ne.na, ne.nb, ne.common, da.d AS d_a, db.d AS d_b,
                  CAST(ne.common * 1000000
                       // (da.d + db.d - ne.common) AS BIGINT) AS jaccard_micro
           FROM nonedge ne JOIN deg da ON da.node = ne.na
                           JOIN deg db ON db.node = ne.nb),
    r AS (SELECT *, ROW_NUMBER() OVER (ORDER BY jaccard_micro DESC, na, nb)
                 AS rk
          FROM sc)
    SELECT na AS part_a, nb AS part_b, common AS n_common,
           d_a AS deg_a, d_b AS deg_b, jaccard_micro
    FROM r WHERE rk <= {LP_TOP_K}
    """,
)
def link_prediction_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction over the co-purchase graph: the LP_TOP_K
    NON-adjacent part pairs most likely to co-occur next, scored by
    neighborhood Jaccard |N(a)∩N(b)| / |N(a)∪N(b)| — the classic
    common-neighbors baseline every graph-ML system is benchmarked
    against, and directly a merchandising signal ('these two parts
    share basket company but are never bundled — bundle them').

    Exactness: common-neighbor counts and degrees are integers;
    |N∪N| = d_a + d_b − common; the score is one truncating micro
    division; ranking ties break on (part_a, part_b).

    Scale shape: candidate pairs come from the adjacency self-join on
    the SHARED NEIGHBOR (an equi-join whose fan-out is Σd² over the
    basket-capped graph — the wedge bound, with a ≥{LP_MIN_COMMON}
    support floor pruning the pair table before the degree joins);
    existing edges are removed by an anti-join; the top-k is a
    TakeOrderedAndProject heap.
    """
    from dbt_project_spark.caching import persist_tracked

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    from dbt_project_spark.operators.graph import (
        CLOSING_BROADCAST_MAX_EDGES,
        _edge_stats,
    )

    edges = persist_tracked(copurchase_edges(li))
    # r13: one job materializes the edge cache AND returns the id
    # range for the packed-key guard. Without the eager fill, AQE
    # materializes both wedge-join sides concurrently and a lazy
    # persist cannot dedupe in-flight work — the whole basket build
    # ran twice (59 s executor at sf0.1, the §4 minhash race).
    _m, packed = _edge_stats(edges)
    adj = edges.select(
        F.col("u").alias("node"), F.col("v").alias("nbr")
    ).unionAll(edges.select(F.col("v").alias("node"), F.col("u").alias("nbr")))
    adj = persist_tracked(adj)
    deg = adj.groupBy("node").agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    a = adj.select(F.col("node").alias("na"), "nbr")
    b = adj.select(F.col("node").alias("nb"), "nbr")
    wedges = a.join(b, "nbr").filter(F.col("na") < F.col("nb"))
    if packed:
        # r13 (the _closed_wedges packed-key convention, guide §2.3):
        # the Σd² wedge stream is the query's dominant cost (452 s of
        # 625 s executor at sf0.1) and its partial-agg shuffle carried
        # (na, nb, cnt) rows — pack the pair into ONE BIGINT so the
        # combine hashes a single long and the exchange row narrows
        # (1091 MB → see OPTIMIZATION_r13.md); the anti-join probes
        # the same packed key. Ids outside [0, 2³¹) take the
        # two-column fallback below. Unpacking via div/mod is exact
        # (0 ≤ na, nb < 2³¹).
        pk = (
            F.col("na").cast("bigint") * F.lit(2**31)
            + F.col("nb").cast("bigint")
        ).alias("pk")
        cnp = (
            wedges.select(pk)
            .groupBy("pk")
            .agg(F.count(F.lit(1)).cast("bigint").alias("common"))
            .filter(F.col("common") >= LP_MIN_COMMON)
        )
        epk = edges.select(
            (
                F.col("u").cast("bigint") * F.lit(2**31)
                + F.col("v").cast("bigint")
            ).alias("pk")
        )
        # r13: the anti-join's right side is the m-row edge set — under
        # the bound the pair stream (9M rows / 225 MB at sf0.1, the
        # planner chose a shuffle) never exchanges again after the
        # aggregation; past the bound the planner's choice stands.
        # The bound is TIGHTER than the triangle closing bound:
        # unlike the semi-join there, this broadcast must coexist in
        # the (shared local / executor) heap with the common-neighbor
        # HashAggregate's tables — measured at sf1, an 11.5M-row
        # single-long relation failed the broadcast build
        # (notEnoughMemoryToBuildAndBroadcastTable) while 1.15M
        # (sf0.1) is comfortable.
        if _m <= LP_ANTI_BROADCAST_MAX_EDGES:
            epk = F.broadcast(epk)
        nonedge = cnp.join(epk, "pk", "left_anti").select(
            F.expr(f"pk div {2**31}").alias("na"),
            F.expr(f"pk % {2**31}").alias("nb"),
            "common",
        )
    else:
        cn = (
            wedges.groupBy("na", "nb")
            .agg(F.count(F.lit(1)).cast("bigint").alias("common"))
            .filter(F.col("common") >= LP_MIN_COMMON)
        )
        eab = edges.select(F.col("u").alias("na"), F.col("v").alias("nb"))
        if _m <= LP_ANTI_BROADCAST_MAX_EDGES:
            eab = F.broadcast(eab)
        nonedge = cn.join(eab, ["na", "nb"], "left_anti")
    # r13: deg is node-sized (≤ 2m rows) — broadcast both degree
    # attachments under the same edge bound so the surviving pair
    # stream flows join→join→TakeOrdered with zero exchanges.
    deg_a = deg.select(F.col("node").alias("na"), F.col("d").alias("d_a"))
    deg_b = deg.select(F.col("node").alias("nb"), F.col("d").alias("d_b"))
    if _m <= CLOSING_BROADCAST_MAX_EDGES:
        deg_a, deg_b = F.broadcast(deg_a), F.broadcast(deg_b)
    sc = (
        nonedge.join(deg_a, "na")
        .join(deg_b, "nb")
        .select(
            "na",
            "nb",
            "common",
            "d_a",
            "d_b",
            F.expr(
                "CAST(common * 1000000 div (d_a + d_b - common) AS BIGINT)"
            ).alias("jaccard_micro"),
        )
    )
    return (
        sc.orderBy(F.desc("jaccard_micro"), F.asc("na"), F.asc("nb"))
        .limit(LP_TOP_K)
        .select(
            F.col("na").alias("part_a"),
            F.col("nb").alias("part_b"),
            F.col("common").alias("n_common"),
            F.col("d_a").alias("deg_a"),
            F.col("d_b").alias("deg_b"),
            "jaccard_micro",
        )
    )


# ---------------------------------------------------------------------------
# Degree assortativity (r5s4)
# ---------------------------------------------------------------------------


@register(
    "degree_assortativity",
    oracle=f"""{_TRADE_GRAPH_SQL},
    deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
                SELECT src AS node FROM edges
                UNION ALL SELECT dst FROM edges) GROUP BY 1),
    ex AS (SELECT a.d AS x, b.d AS y
           FROM edges e
           JOIN deg a ON a.node = e.src
           JOIN deg b ON b.node = e.dst),
    s AS (SELECT CAST(COUNT(*) AS BIGINT) AS m,
                 CAST(SUM(x) AS BIGINT) AS sx,
                 CAST(SUM(y) AS BIGINT) AS sy,
                 CAST(SUM(x*y) AS BIGINT) AS sxy,
                 CAST(SUM(x*x) AS BIGINT) AS sxx,
                 CAST(SUM(y*y) AS BIGINT) AS syy
          FROM ex)
    SELECT m AS n_edges,
           CAST(sx * 1000000 // m AS BIGINT) AS mean_src_deg_micro,
           CAST(sy * 1000000 // m AS BIGINT) AS mean_dst_deg_micro,
           ROUND((m*sxy - sx*sy)
                 / (SQRT(m*sxx - sx*sx) * SQRT(m*syy - sy*sy)), 6)
               AS assortativity
    FROM s
    """,
)
def degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed degree assortativity of the trade graph: the Pearson
    correlation, over directed edges, between the TOTAL degrees of
    the two endpoints (Newman 2002; out-degree is constant here by
    the top-partner cap, so total degree carries the signal) — positive means hub
    exporters ship to hub importers (rich-club trade), negative means
    hubs feed the periphery. The single summary number an analyst
    checks before trusting degree-based sampling or epidemic-style
    propagation models on the graph.

    Determinism: all six moment sums (m, Σx, Σy, Σxy, Σx², Σy²) are
    exact BIGINT aggregates of integer degrees; r is ONE double
    expression over them, rounded once — hash-identical cross-engine.

    Scale shape: one degree aggregate (map-side combinable) joined
    back to the edge list on node equi-keys, then a single 1-row
    moment reduce. Edges never pair with edges; at web scale this is
    the cost of two word-counts over the edge list."""
    edges = _trade_edges(spark, sf_dir)
    from dbt_project_spark.caching import persist_tracked

    edges = persist_tracked(edges)
    deg = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    a = deg.select(F.col("node").alias("src"), F.col("d").alias("x"))
    b = deg.select(F.col("node").alias("dst"), F.col("d").alias("y"))
    ex = edges.join(a, "src").join(b, "dst").select("x", "y")
    s = ex.agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )
    return s.select(
        F.col("m").alias("n_edges"),
        F.expr("CAST(sx * 1000000 div m AS BIGINT)").alias(
            "mean_src_deg_micro"
        ),
        F.expr("CAST(sy * 1000000 div m AS BIGINT)").alias(
            "mean_dst_deg_micro"
        ),
        F.round(
            (F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (
                F.sqrt(F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx"))
                * F.sqrt(
                    F.col("m") * F.col("syy") - F.col("sy") * F.col("sy")
                )
            ),
            6,
        ).alias("assortativity"),
    )


@register(
    "trade_reciprocity",
    oracle=f"""{_TRADE_GRAPH_SQL},
    r AS (SELECT CAST(COUNT(*) AS BIGINT) AS m,
                 CAST(SUM(CASE WHEN EXISTS (
                          SELECT 1 FROM edges e2
                          WHERE e2.src = e.dst AND e2.dst = e.src)
                      THEN 1 ELSE 0 END) AS BIGINT) AS m_recip
          FROM edges e)
    SELECT m AS n_edges, m_recip AS n_reciprocated,
           CAST(m_recip * 1000000 // m AS BIGINT) AS reciprocity_micro
    FROM r
    """,
)
def trade_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge reciprocity of the directed trade graph: the fraction of
    (src→dst) edges whose reverse edge also survives the top-partner
    cap — high reciprocity means trade relationships are mutual
    (both nations rank each other as top partners), low means
    one-sided supply chains. With assortativity this is the second
    one-number structural health check before trusting directed
    propagation models.

    Exact: a self-semi-join on the swapped key pair and integer
    micro division — no floats at all.

    Scale shape: edges semi-join edges on (dst, src) = (src, dst) —
    one shuffle of the edge list against itself on a composite
    equi-key; never wedge- or pair-expanding."""
    edges = _trade_edges(spark, sf_dir)
    from dbt_project_spark.caching import persist_tracked

    edges = persist_tracked(edges)
    rev = edges.select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    )
    recip = edges.join(rev, ["src", "dst"], "left_semi")
    m = edges.agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    mr = recip.agg(F.count(F.lit(1)).cast("bigint").alias("m_recip"))
    return (
        m.crossJoin(F.broadcast(mr))
        .select(
            F.col("m").alias("n_edges"),
            F.col("m_recip").alias("n_reciprocated"),
            F.expr("CAST(m_recip * 1000000 div m AS BIGINT)").alias(
                "reciprocity_micro"
            ),
        )
    )


# ---------------------------------------------------------------------------
# degree_powerlaw_fit — scale-free check of the co-purchase graph (r5s7)
# ---------------------------------------------------------------------------


@register(
    "degree_powerlaw_fit",
    oracle=f"""
    WITH bp AS MATERIALIZED (
      SELECT l_orderkey, l_partkey FROM (
        SELECT l_orderkey, l_partkey,
               ROW_NUMBER() OVER (PARTITION BY l_orderkey
                                  ORDER BY SUM({_Q100}) DESC, l_partkey) AS rk
        FROM lineitem GROUP BY l_orderkey, l_partkey)
      WHERE rk <= {TC_MAX_BASKET}),
    e AS MATERIALIZED (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
               FROM bp a JOIN bp b
                 ON a.l_orderkey = b.l_orderkey
                AND a.l_partkey < b.l_partkey),
    deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
              SELECT u AS node FROM e UNION ALL SELECT v FROM e)
            GROUP BY node),
    dc AS (SELECT d, CAST(COUNT(*) AS BIGINT) AS nd FROM deg GROUP BY d),
    xy AS (SELECT CAST(round(ln(d) * 1000000) AS BIGINT) AS x6,
                  CAST(round(ln(nd) * 1000000) AS BIGINT) AS y6
           FROM dc),
    m AS (SELECT MIN(x6) AS x0, MIN(y6) AS y0 FROM xy),
    s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(xy.x6 - m.x0) AS BIGINT) AS sx,
                 CAST(SUM(xy.y6 - m.y0) AS BIGINT) AS sy,
                 CAST(SUM((xy.x6 - m.x0) * (xy.y6 - m.y0)) AS BIGINT) AS sxy,
                 CAST(SUM((xy.x6 - m.x0) * (xy.x6 - m.x0)) AS BIGINT) AS sxx
          FROM xy CROSS JOIN m)
    SELECT s.n AS n_points,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_nodes,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_edges,
           (SELECT CAST(MIN(d) AS BIGINT) FROM dc) AS min_degree,
           (SELECT CAST(MAX(d) AS BIGINT) FROM dc) AS max_degree,
           CAST(CAST(s.n AS HUGEINT) * s.sxy - CAST(s.sx AS HUGEINT) * s.sy
                AS VARCHAR) AS gamma_num,
           CAST(CAST(s.n AS HUGEINT) * s.sxx - CAST(s.sx AS HUGEINT) * s.sx
                AS VARCHAR) AS gamma_den
    FROM s
    """,
)
def degree_powerlaw_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-free check of the part co-purchase graph: OLS slope of
    ln(node count) on ln(degree) over the degree histogram — a
    power-law degree distribution (slope ≈ −2..−3) is WHY the wedge
    and peel families (triangle_count, kcore_parts) need their
    hub-capping and degree-orientation defenses; a near-flat slope
    would license simpler plans. The graph-health twin of
    zipf_vocab_fit, on the same exact-rational OLS machinery.

    Determinism: ln terms are ×1e6 micro-log BIGINTs, min-shifted
    before the moment sums (the zipf convention); the slope ships as
    an exact HUGEINT/DECIMAL(38,0) numerator/denominator PAIR
    (stringified) so nothing ever divides.

    Scale shape: edges collapse to degrees (one shuffle on node),
    degrees to the degree histogram (tiny), the fit to one row. The
    basket cap bounds per-order pair generation as everywhere else."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    e = copurchase_edges(li)
    from dbt_project_spark.caching import persist_tracked

    e = persist_tracked(e)
    deg = (
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    deg = persist_tracked(deg)
    dc = deg.groupBy("d").agg(F.count(F.lit(1)).cast("bigint").alias("nd"))
    dc = persist_tracked(dc)
    xy = dc.select(
        F.expr("CAST(round(ln(d) * 1000000) AS BIGINT)").alias("x6"),
        F.expr("CAST(round(ln(nd) * 1000000) AS BIGINT)").alias("y6"),
    )
    m = xy.agg(F.min("x6").alias("x0"), F.min("y6").alias("y0"))
    s = xy.crossJoin(F.broadcast(m)).agg(
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
    counts = (
        deg.agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
        .crossJoin(e.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges")))
        .crossJoin(
            dc.agg(
                F.min("d").cast("bigint").alias("min_degree"),
                F.max("d").cast("bigint").alias("max_degree"),
            )
        )
    )
    return s.crossJoin(F.broadcast(counts)).select(
        F.col("n").alias("n_points"),
        "n_nodes",
        "n_edges",
        "min_degree",
        "max_degree",
        F.expr(
            "CAST(CAST(n AS DECIMAL(38,0)) * sxy"
            " - CAST(sx AS DECIMAL(38,0)) * sy AS STRING)"
        ).alias("gamma_num"),
        F.expr(
            "CAST(CAST(n AS DECIMAL(38,0)) * sxx"
            " - CAST(sx AS DECIMAL(38,0)) * sx AS STRING)"
        ).alias("gamma_den"),
    )
