"""Reusable graph operators over edge DataFrames.

`triangle_count` and `pagerank_fixedpoint` are the operator cores of
the `triangle_count` / `pagerank_trade` catalog queries
(queries_graph.py), factored over arbitrary edge inputs so property
tests can run them on planted graphs (K4, paths, stars, chains).

Both are pure DataFrame compositions — equi-joins and aggregations
only — and keep the per-node state tables (degrees, ranks) separate
from the edges-sized data so only small tables are ever broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Bounded-graph driver kernel threshold (r13): below this many edges
# the fixed-point iterations (PageRank / HITS / BFS / SSSP) run as
# exact Python-int arithmetic on the driver after ONE distributed
# pass builds the edge list. Rationale (guide §1.2/§2.6): these
# operators' per-iteration dataflow is a join + aggregate over a
# NODES-sized table — when the graph itself is bounded (the nation
# trade graph is ≤25 nodes / ≤625 edges at ANY scale factor, because
# TPC-H's nation table is fixed), every iteration is a handful of
# sub-millisecond tasks that still pay full job-scheduling + shuffle
# fixed costs (measured: 20-40 tiny jobs per query, ~0.5-1 s each at
# local[32]). The threshold bounds the collect at ~a few MB (16 B per
# edge × 100k), which is NOT driver data work in the §5 sense — it is
# the same bounded-size two-stage contract as the k-means centroid
# collect. All arithmetic is non-negative BIGINT with floor division
# on both paths, so results are bit-identical (pinned by
# tests/test_graph_driver_kernel.py, which runs both paths).
DRIVER_FIXPOINT_MAX_EDGES = 100_000


def _collect_edge_tuples(edges: DataFrame, *cols: str) -> list[tuple]:
    """Collect a bounded edge list to the driver as plain tuples."""
    return [tuple(r) for r in edges.select(*cols).collect()]


def _node_rows_df(
    edges: DataFrame, src_col: str, rows: list[tuple], value_fields: list
) -> DataFrame:
    """(node, values...) rows -> DataFrame whose node column keeps the
    edge endpoints' type (so the driver path is schema-identical to the
    distributed path's union-of-src/dst node column)."""
    node_t = edges.schema[src_col].dataType
    schema = T.StructType(
        [T.StructField("node", node_t)] + list(value_fields)
    )
    return edges.sparkSession.createDataFrame(rows, schema)


def orient_by_degree(edges: DataFrame) -> DataFrame:
    """Direct each undirected edge (u, v) toward its higher-
    (degree, id) endpoint. Input must have one row per undirected edge
    with u < v. Output columns: src, dst. Oriented out-degree is
    O(sqrt(m)), which bounds wedge fan-out in triangle counting."""
    # explode, not union: both union branches would scan the (cached)
    # edge list separately — Spark runs them as two stages (r13;
    # measured ~80 s of duplicate cache scans per orientation at sf1).
    deg = (
        edges.select(F.explode(F.array("u", "v")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    less = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    return (
        edges.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(less, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(less, F.col("v")).otherwise(F.col("u")).alias("dst"),
        )
    )


# Closing-set broadcast bound for the wedge semi-join (r13): under
# this many edges the closing set is broadcast (a packed-long hash
# relation, ~25 B/row — ~400 MB at the bound — one copy per executor)
# and the Σd_out² wedge stream NEVER shuffles: the semi-join fuses
# into the wedge stage as a BroadcastHashJoin (guide §2.4/§3.1;
# measured at sf1: the wedge exchange was 3.2 GB written + 3.3 GB
# read, ~45% of the query's executor time). Past the bound the r11
# shuffle-hash shape applies unchanged — the honest fallback at
# 10⁹-edge scale where an edge-set broadcast would OOM executors.
CLOSING_BROADCAST_MAX_EDGES = 16_000_000


def _edge_stats(edges: DataFrame) -> tuple[int, bool]:
    """(edge count, whether every node id fits the packed pair key) in
    ONE materializing job over the (persisted) undirected edge list —
    the count doubles as the cache materializer. A pair (a, b) packs
    into the BIGINT a·2³¹ + b only when both ids lie in [0, 2³¹):
    outside that domain distinct pairs collide, e.g. (−3, −1) and
    (−4, 2³¹−1) both pack to −3·2³¹ − 1."""
    row = edges.agg(
        F.count(F.lit(1)).alias("m"),
        F.min(F.least("u", "v")).alias("lo"),
        F.max(F.greatest("u", "v")).alias("hi"),
    ).collect()[0]
    lo, hi = row["lo"], row["hi"]
    packed = lo is None or (0 <= lo and hi < 2**31)
    return int(row["m"]), packed


def _closed_wedges(
    o: DataFrame, m: int, packed: bool, max_edges: int
) -> DataFrame:
    """(s, a, b) wedges of the oriented edge list ``o`` that close
    into triangles — the shared core of ``triangle_count`` and
    ``triangles_per_node``. ``m`` (the undirected edge count) picks
    the semi-join strategy: broadcast the closing set under
    ``max_edges`` (wedges never shuffle), shuffle-hash past it. When
    ``packed`` (every id in [0, 2³¹), see ``_edge_stats``) the (a, b)
    key is packed into one BIGINT — a LongHashedRelation is ~2×
    smaller and faster to probe than the generic two-column relation;
    otherwise the join keys on both columns."""
    e1 = o.alias("e1")
    e2 = o.alias("e2")
    wedge = e1.join(
        e2,
        on=(F.col("e1.src") == F.col("e2.src"))
        & (F.col("e1.dst") < F.col("e2.dst")),
    ).select(
        F.col("e1.src").alias("s"),
        F.col("e1.dst").alias("a"),
        F.col("e2.dst").alias("b"),
    )
    closing = o.select(
        F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
    )
    if packed:
        pk = lambda x, y: (F.col(x).cast("bigint") * F.lit(2**31)  # noqa: E731
                           + F.col(y).cast("bigint")).alias("pk")
        wedge = wedge.select("s", "a", "b", pk("a", "b"))
        closing = closing.select(pk("a", "b"))
        keys = ["pk"]
    else:
        keys = ["a", "b"]
    if m <= max_edges:
        closing = F.broadcast(closing)
    else:
        # SHUFFLE_HASH on the closing side: sort-merge would SORT the
        # Σd_out² wedge rows (measured 2× the whole stage at sf1);
        # hashing the m closing edges per partition streams the
        # wedges unsorted.
        closing = closing.hint("shuffle_hash")
    return wedge.join(closing, on=keys, how="leftsemi").select("s", "a", "b")


def triangle_count(
    edges: DataFrame,
    closing_broadcast_max_edges: int = CLOSING_BROADCAST_MAX_EDGES,
) -> DataFrame:
    """Count triangles in an undirected graph given one row per edge
    with columns (u, v), u < v. Returns a 1-row DataFrame
    (n_nodes, n_edges, n_triangles). Degree-oriented wedge join —
    every stage is an equi-join, no node's fan-out exceeds O(sqrt(m));
    the closing check is a broadcast semi-join under
    ``closing_broadcast_max_edges`` (see _closed_wedges)."""
    from dbt_project_spark.caching import persist_tracked

    # edges feeds orientation (3 refs) + the node/edge counts; the
    # oriented list feeds both wedge sides and the closing set. Cache
    # both — Spark does not dedup repeated subtrees, so an uncached
    # (expensive) edge construction would run ~5 times. Tracked:
    # released when the next catalog query is built.
    edges = persist_tracked(edges)
    m, packed = _edge_stats(edges)
    o = persist_tracked(orient_by_degree(edges))
    tri = _closed_wedges(o, m, packed, closing_broadcast_max_edges).agg(
        F.count(F.lit(1)).alias("n_triangles")
    )
    n_nodes = (
        edges.select(F.explode(F.array("u", "v")).alias("node"))
        .distinct()
        .agg(F.count(F.lit(1)).alias("n_nodes"))
    )
    n_edges = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        n_nodes.crossJoin(F.broadcast(n_edges))
        .crossJoin(F.broadcast(tri))
        .select("n_nodes", "n_edges", F.col("n_triangles").cast("bigint"))
    )


def _pagerank_driver(
    edges: DataFrame, iters: int, scale: int, damping_pct: int
) -> DataFrame:
    """Exact driver-side twin of the distributed PageRank loop: the
    same BIGINT floor-division recurrence over a collected (bounded)
    edge list. Python ints are arbitrary-precision and ``//`` on
    non-negative operands equals Spark's ``div``, so results are
    bit-identical (pinned by tests/test_graph_driver_kernel.py)."""
    from collections import Counter, defaultdict

    es = _collect_edge_tuples(edges, "src", "dst")
    nodes = {s for s, _ in es} | {d for _, d in es}
    fields = [T.StructField("r", T.LongType())]
    if not nodes:
        return _node_rows_df(edges, "src", [], fields)
    od = Counter(s for s, _ in es)
    n = len(nodes)
    teleport_pct = 100 - damping_pct
    base = scale // n
    r = {v: base for v in nodes}
    for _ in range(iters):
        contrib: dict = defaultdict(int)
        for s, d in es:
            contrib[d] += r[s] // od[s]
        r = {
            v: base * teleport_pct // 100 + contrib.get(v, 0) * damping_pct // 100
            for v in nodes
        }
    return _node_rows_df(
        edges, "src", [(v, r[v]) for v in sorted(nodes)], fields
    )


def pagerank_fixedpoint(
    edges: DataFrame,
    iters: int = 5,
    scale: int = 1_000_000_000_000,
    damping_pct: int = 85,
    broadcast_threshold: int = 10_000_000,
    driver_max_edges: int = DRIVER_FIXPOINT_MAX_EDGES,
) -> DataFrame:
    """Fixed-point PageRank over a directed edge list (src, dst).

    Ranks are BIGINT units of ``1/scale`` with floor division
    throughout, so results are bit-identical across engines and across
    partitionings (integer addition is associative; double addition is
    not). Per iteration: join the nodes-sized rank table onto the
    edges, aggregate contributions by dst. Returns (node, r) with r in
    scaled units.

    The rank/contribution tables are BROADCAST only while the graph
    has ≤ ``broadcast_threshold`` nodes (counted once from the cached
    edge list). Broadcasting a rank table past ~10⁷ nodes is a
    driver/executor OOM; above the threshold the joins run as plain
    shuffle hash/merge joins on the equi-keys (AQE still promotes
    genuinely small rank tables to broadcast at runtime). Results are
    bit-identical in both regimes — integer fixed-point math is
    partitioning-independent.

    Bounded graphs (≤ ``driver_max_edges`` edges, counted from the
    cached edge list) skip the per-iteration Spark jobs entirely: the
    edge list is collected once and the identical floor-division
    integer recurrence runs in Python ints on the driver (exact — see
    DRIVER_FIXPOINT_MAX_EDGES). One distributed pass builds the edges
    either way; only the nodes-sized iteration moves.
    """
    from dbt_project_spark.caching import persist_tracked

    # Persist the RAW edge list first: nodes, out-degrees, and the
    # node count each reference it, and Spark does not share subtrees
    # — without the cache the (possibly expensive) edge-construction
    # pipeline would run once per reference. All persists here are
    # tracked: released when the next catalog query is built.
    edges = persist_tracked(edges)
    n_edges = edges.count()
    if n_edges <= driver_max_edges:
        return _pagerank_driver(edges, iters, scale, damping_pct)
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionAll(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("od"))
    n_nodes = nodes.agg(F.count(F.lit(1)).alias("n"))
    edges = persist_tracked(edges.join(outdeg, "src"))
    nodes = persist_tracked(nodes.crossJoin(F.broadcast(n_nodes)))
    teleport_pct = 100 - damping_pct

    # One scalar count decides the join strategy for every iteration;
    # nodes is persisted, so this also warms the cache the loop reuses.
    small_graph = nodes.count() <= broadcast_threshold

    def _rank_side(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if small_graph else df

    # Each ranks_k feeds exactly ONE downstream join
    # (contrib_{k+1}), so the lazy chain already executes each
    # iteration once — no per-iteration materialization needed. At
    # hundreds of iterations you'd checkpoint every ~10 rounds to
    # truncate lineage; at PageRank's typical 5-20 this is optimal.
    ranks = nodes.select(
        "node", "n", F.expr(f"{scale} div n").cast("bigint").alias("r")
    )
    for _ in range(iters):
        contrib = (
            edges.join(
                _rank_side(ranks.select("node", "r")),
                edges.src == F.col("node"),
            )
            .select("dst", F.expr("r div od").alias("part"))
            .groupBy("dst")
            .agg(F.sum("part").alias("contrib"))
        )
        ranks = nodes.join(
            _rank_side(contrib), nodes.node == contrib.dst, "left"
        ).select(
            "node",
            "n",
            (
                F.expr(f"({scale} div n) * {teleport_pct} div 100")
                + F.expr(f"coalesce(contrib, 0) * {damping_pct} div 100")
            ).cast("bigint").alias("r"),
        )
    return ranks.select("node", "r")


def _hits_driver(edges: DataFrame, iters: int, scale: int) -> DataFrame:
    """Exact driver-side twin of the distributed HITS loop (same
    Gauss-Seidel half-step order, same floor-division max
    normalization — Python ints replicate the DECIMAL(38,0) multiply
    exactly). The per-half-step max always lands on a node with an
    incident edge, so the normalizing divisor is > 0 whenever the
    score table is non-empty — no div-by-zero branch to mirror."""
    from collections import defaultdict

    es = _collect_edge_tuples(edges, "src", "dst")
    nodes = {s for s, _ in es} | {d for _, d in es}
    # non-nullable like the distributed path's coalesce(·, 0) output
    fields = [
        T.StructField("h", T.LongType(), False),
        T.StructField("a", T.LongType(), False),
    ]
    if not nodes:
        return _node_rows_df(edges, "src", [], fields)
    a = {v: scale for v in nodes}
    h: dict = {}
    for _ in range(iters):
        hraw: dict = defaultdict(int)
        for s, d in es:
            if d in a:
                hraw[s] += a[d]
        if hraw:
            mx = max(hraw.values())
            h = {k: raw * scale // mx for k, raw in hraw.items()}
        else:
            h = {}
        araw: dict = defaultdict(int)
        for s, d in es:
            if s in h:
                araw[d] += h[s]
        if araw:
            mx = max(araw.values())
            a = {k: raw * scale // mx for k, raw in araw.items()}
        else:
            a = {}
    rows = [(v, h.get(v, 0), a.get(v, 0)) for v in sorted(nodes)]
    return _node_rows_df(edges, "src", rows, fields)


def hits_fixedpoint(
    edges: DataFrame,
    iters: int = 4,
    scale: int = 1_000_000_000,
    broadcast_threshold: int = 10_000_000,
    driver_max_edges: int = DRIVER_FIXPOINT_MAX_EDGES,
) -> DataFrame:
    """Fixed-point HITS (Kleinberg hubs & authorities) over a
    directed edge list (src, dst). Returns (node, h, a) with hub and
    authority scores in BIGINT units of ``1/scale``.

    Per iteration (the classic mutual recursion): hub(u) = Σ auth(v)
    over u's out-edges, then auth(v) = Σ hub(u) over v's in-edges,
    each half-step max-normalized back to ``scale``. Normalization
    runs in DECIMAL(38,0) (``raw * scale div max`` — raw sums fit
    BIGINT up to degree ≈ 9×10⁹ at scale 10⁹; the multiply would not,
    the kmeans key convention, operators/kmeans.py:119) with floor
    division, so results are bit-identical across engines and
    partitionings. Max-normalization (not L2) keeps the chain in
    exact integers — the ranking fixed point is the same.

    Scale shape mirrors ``pagerank_fixedpoint``: the edges never
    move; each half-step joins the nodes-sized score table onto the
    edge list and sum-aggregates with map-side combine. Score tables
    are broadcast only below ``broadcast_threshold`` nodes; the
    per-step max is a 1-row aggregate broadcast onto the score table.
    """
    from dbt_project_spark.caching import (
        local_checkpoint_tracked,
        persist_tracked,
    )

    edges = persist_tracked(edges)
    if edges.count() <= driver_max_edges:
        return _hits_driver(edges, iters, scale)
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionAll(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    nodes = persist_tracked(nodes)
    small_graph = nodes.count() <= broadcast_threshold

    def _side(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if small_graph else df

    def _normalize(raw: DataFrame, key: str, col: str):
        """(key, raw) -> Checkpoint of (node, col) max-normalized.

        ``raw`` is PERSISTED before use: it feeds both the 1-row max
        aggregate and the value projection — unpersisted, Spark would
        recompute the whole upstream half-step chain for each
        consumer, doubling work per half-step (2^(2·iters) blowup).
        The result is an EAGER tracked localCheckpoint: persistence
        alone leaves the LOGICAL plan tree doubling per half-step, and
        the 2^(2·iters)-subtree plan string OOMs the driver before a
        single task runs. Eager means the checkpoint blocks ARE the
        half-step's cache (no second persist — the pre-r08 version
        stored every half-step twice), and ``raw``'s cache is dropped
        as soon as the checkpoint lands."""
        raw = persist_tracked(raw)
        mx = raw.agg(F.max("raw").alias("mx"))
        out = raw.crossJoin(F.broadcast(mx)).select(
            F.col(key).alias("node"),
            F.expr(f"CAST(raw AS DECIMAL(38,0)) * {scale} div mx")
            .cast("bigint")
            .alias(col),
        )
        cp = local_checkpoint_tracked(out)
        raw.unpersist()
        return cp

    auth = nodes.select("node", F.lit(scale).cast("bigint").alias("a"))
    hub = None
    hub_cp = auth_cp = None
    for _ in range(iters):
        hraw = (
            edges.join(_side(auth), edges.dst == auth.node)
            .groupBy("src")
            .agg(F.sum("a").alias("raw"))
        )
        new_hub = _normalize(hraw, "src", "h")
        # Once the new hub checkpoint lands, the PREVIOUS iteration's
        # hub/auth pair (which fed only this hraw chain) can never be
        # read again — free both now. Resident checkpoints stay ≤3
        # regardless of iters; the final (hub, auth) pair survives for
        # the output join and is freed by the next release_tracked.
        if hub_cp is not None:
            hub_cp.release()
        if auth_cp is not None:
            auth_cp.release()
        hub_cp, hub = new_hub, new_hub.df
        araw = (
            edges.join(_side(hub), edges.src == hub.node)
            .groupBy("dst")
            .agg(F.sum("h").alias("raw"))
        )
        auth_cp = _normalize(araw, "dst", "a")
        auth = auth_cp.df
    out = (
        nodes.join(_side(hub).withColumnRenamed("node", "hn"),
                   nodes.node == F.col("hn"), "left")
        .join(_side(auth).withColumnRenamed("node", "an"),
              nodes.node == F.col("an"), "left")
    )
    return out.select(
        "node",
        F.coalesce(F.col("h"), F.lit(0)).cast("bigint").alias("h"),
        F.coalesce(F.col("a"), F.lit(0)).cast("bigint").alias("a"),
    )


# Truncate BFS distance-table lineage every N rounds (matches
# _CC_CHECKPOINT_EVERY in operators/dedup.py).
_BFS_CHECKPOINT_EVERY = 4


def _bfs_sssp_driver(
    edges: DataFrame,
    source: DataFrame | None,
    iters: int,
    weighted: bool,
) -> DataFrame:
    """Exact driver-side twin of the unrolled BFS / Bellman-Ford
    rounds over a collected (bounded) edge list: per round, extend
    every reached node's out-edges and min-merge — identical to the
    distributed union + min-aggregate (min over ints is
    partitioning-independent). ``weighted`` selects the (src, dst,
    cost) relaxation (BIGINT cost column) vs hop counting (INT hops,
    matching the distributed path's ``lit(0) + 1`` typing)."""
    cols = ("src", "dst", "cost") if weighted else ("src", "dst")
    es = _collect_edge_tuples(edges, *cols)
    val_t = T.LongType() if weighted else T.IntegerType()
    fields = [T.StructField("cost" if weighted else "hops", val_t)]
    if source is None:
        endpoints = [e[0] for e in es] + [e[1] for e in es]
        if not endpoints:
            # Distributed twin: min() over zero rows is a NULL source
            # row that survives every round — (NULL, 0) in the output.
            return _node_rows_df(edges, "src", [(None, 0)], fields)
        src_node = min(endpoints)
    else:
        srows = source.select("node").collect()
        if not srows:
            return _node_rows_df(edges, "src", [], fields)
        src_node = srows[0][0]
    dist = {src_node: 0}
    for _ in range(iters):
        new = dict(dist)
        for e in es:
            if e[0] in dist:
                cand = dist[e[0]] + (e[2] if weighted else 1)
                if e[1] not in new or cand < new[e[1]]:
                    new[e[1]] = cand
        dist = new
    rows = sorted(dist.items())
    return _node_rows_df(edges, "src", rows, fields)


def bfs_hops(
    edges: DataFrame,
    source: DataFrame | None = None,
    iters: int = 8,
    broadcast_threshold: int = 10_000_000,
    driver_max_edges: int = DRIVER_FIXPOINT_MAX_EDGES,
) -> DataFrame:
    """Unrolled BFS shortest-hop counts over a directed edge list
    (src, dst). ``source`` is a 1-row frame with column ``node``
    (default: the minimum node id — deterministic). Returns
    (node, hops) for every node reachable within ``iters`` hops.

    The iteration count is FIXED and unrolled, mirroring an unrolled
    SQL CTE chain exactly — no data-dependent convergence test, so
    the result is reproducible plan-for-plan. Per round: join the
    distances-so-far onto the edge list (edges never move — only the
    nodes-sized distance table), extend each reached node's out-edges
    by one hop, union with the previous distances, and min-aggregate
    per node (map-side combinable). Same dataflow and broadcast
    policy as ``pagerank_fixedpoint``: the distance table is
    broadcast only while the graph is below ``broadcast_threshold``
    nodes; past that the joins fall back to shuffle hash joins on the
    equi-key and AQE re-promotes genuinely small frontiers.

    Unlike pagerank (each rank table feeds exactly ONE downstream
    join), every round here references ``dist`` TWICE (edge join +
    union) — uncached, plan size and recomputation double per round
    (2^iters subtrees by round 8). So each round's dist is persisted
    and materialized, the previous round's cache is dropped eagerly,
    and lineage is truncated by a localCheckpoint every
    ``_BFS_CHECKPOINT_EVERY`` rounds — the same convention as
    ``connected_components`` (see dedup.py: persistence alone does
    not truncate the logical plan).
    """
    from dbt_project_spark.caching import RoundCache, persist_tracked

    edges = persist_tracked(edges.select("src", "dst"))
    if edges.count() <= driver_max_edges:
        return _bfs_sssp_driver(edges, source, iters, weighted=False)
    n_nodes = (
        edges.select(F.col("src").alias("node"))
        .unionAll(edges.select(F.col("dst").alias("node")))
        .distinct()
        .count()
    )
    small_graph = n_nodes <= broadcast_threshold

    def _dist_side(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if small_graph else df

    if source is None:
        source = (
            edges.select(F.col("src").alias("node"))
            .unionAll(edges.select(F.col("dst").alias("node")))
            .agg(F.min("node").alias("node"))
        )
    dist = source.select("node", F.lit(0).alias("hops"))
    rounds = RoundCache(_BFS_CHECKPOINT_EVERY)
    for i in range(iters):
        nxt = edges.join(
            _dist_side(dist), edges.src == dist.node
        ).select(F.col("dst").alias("node"), (F.col("hops") + 1).alias("hops"))
        new = (
            dist.unionAll(nxt).groupBy("node").agg(F.min("hops").alias("hops"))
        )
        dist = rounds.advance(new)
    return dist


# Truncate peeling lineage every N rounds (same convention as BFS/CC,
# but at HALF their cadence: each peel round references the previous
# edge frame TWICE (degree agg + semi-join filter), so the logical plan
# — and anything that renders it, e.g. the per-SQL-event explainString —
# grows 2^cadence between checkpoints. Cadence 2 bounds the
# doubly-referenced re-print at 4× (VERDICT r08 §wrong 1b).
_KCORE_CHECKPOINT_EVERY = 2


def kcore(edges: DataFrame, k: int, iters: int = 8) -> DataFrame:
    """Iterative k-core peeling over an undirected edge list (u, v),
    u < v: repeatedly drop nodes of degree < k (and their edges) for a
    FIXED ``iters`` rounds, then return (node, core_deg) for nodes
    whose final degree is ≥ k. With enough rounds this is exactly the
    k-core; the unrolled count mirrors an unrolled SQL CTE chain, so
    an unconverged run is still bit-identical across engines
    (convergence at the chosen k/iters is asserted by tests).

    Scale shape: each round is one degree aggregation (map-side
    combinable) plus two semi-joins of the edge list against the
    nodes-sized alive set — edges shrink monotonically, and nothing
    is ever broadcast except what AQE promotes. Every round
    references the current edge list twice (degree + filter), so each
    round's edges are persisted and materialized, the previous
    round's cache is dropped eagerly, and lineage is truncated by an
    EAGER tracked localCheckpoint every ``_KCORE_CHECKPOINT_EVERY``
    rounds whose blocks are freed deterministically the moment the
    next checkpoint lands (caching.local_checkpoint_tracked):
    resident storage is bounded at one round's edge cache + one live
    checkpoint regardless of iters or how many peels share the JVM —
    the lazy-checkpoint variant left every checkpoint's blocks to the
    GC/ContextCleaner race and OOM'd an 8 g driver in the r07 full
    suite.
    """
    from dbt_project_spark.caching import RoundCache, persist_tracked

    def _degrees(frame: DataFrame) -> DataFrame:
        # Persisted by callers: BOTH semi-joins AND the fixpoint
        # scalar reference it, and Spark does not share subtrees
        # (r07 profile: the duplicate agg was ~40% of each round).
        # explode, not union: one scan of the (cached) edge list
        # instead of two stage branches (r13).
        return (
            frame.select(F.explode(F.array("u", "v")).alias("node"))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("d"))
        )

    def _deg_row(d: DataFrame):
        # Fixpoint signal: if no node is below k, the semi-joins would
        # keep every edge, so this and all later rounds are no-ops —
        # bit-identical to running the full unroll (and to the
        # oracle's fixed CTE chain). Zero-edge nodes can't break this:
        # they never appear in the degree table.
        return d.agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.sum((F.col("d") < k).cast("int")).alias("n_below"),
        ).collect()[0]

    e = persist_tracked(edges.select("u", "v"))
    deg = persist_tracked(_degrees(e))
    row = _deg_row(deg)  # one job: materializes e AND deg
    rounds = RoundCache(_KCORE_CHECKPOINT_EVERY)
    for i in range(iters):
        if not row["n_nodes"] or not row["n_below"]:
            break
        alive = deg.filter(F.col("d") >= k).select("node")
        ne = e.join(
            alive.withColumnRenamed("node", "u"), "u", "leftsemi"
        ).join(alive.withColumnRenamed("node", "v"), "v", "leftsemi")

        # The round's materializing action computes (and caches) the
        # NEXT round's degree table in the same job that materializes
        # the rebuilt edges (r13: the old shape paid a count() job on
        # ne and then a separate full deg pass at the top of the next
        # round — one redundant edge-cache scan per round).
        def _mat(out: DataFrame):
            d2 = persist_tracked(_degrees(out))
            return d2, _deg_row(d2)

        ne, (deg2, row) = rounds.advance(ne, _mat)
        deg.unpersist()
        deg = deg2
        e = ne
    # deg is the (cached) degree table of the FINAL edge list — the
    # output is a projection of it, no extra edge scan (r13).
    return deg.select(
        "node", F.col("d").cast("bigint").alias("core_deg")
    ).filter(F.col("core_deg") >= k)


def weighted_sssp(
    edges: DataFrame,
    iters: int = 8,
    source: DataFrame | None = None,
    broadcast_threshold: int = 1_000_000,
    driver_max_edges: int = DRIVER_FIXPOINT_MAX_EDGES,
) -> DataFrame:
    """Unrolled hop-bounded Bellman-Ford over a weighted directed edge
    list (src, dst, cost): returns (node, cost) — the cheapest total
    cost from ``source`` (default: minimum node id) reachable within
    ``iters`` edges. Costs must be non-negative integers.

    Like ``bfs_hops`` the round count is FIXED and unrolled (mirrors
    an unrolled SQL CTE chain; no data-dependent convergence test).
    With iters ≥ longest shortest-path edge count this is exact SSSP;
    below that it is the hop-bounded variant (a max-hops constraint —
    itself a common production semantics). Per round: join the
    nodes-sized distance table onto the edges (edges never move),
    relax, union, min-aggregate (map-side combinable). Broadcast /
    persist / checkpoint discipline is identical to ``bfs_hops``:
    dist is referenced twice per round, so each round persists,
    materializes, drops the previous cache, and localCheckpoints
    every ``_BFS_CHECKPOINT_EVERY`` rounds.
    """
    from dbt_project_spark.caching import RoundCache, persist_tracked

    edges = persist_tracked(edges.select("src", "dst", "cost"))
    if edges.count() <= driver_max_edges:
        return _bfs_sssp_driver(edges, source, iters, weighted=True)
    n_nodes = (
        edges.select(F.col("src").alias("node"))
        .unionAll(edges.select(F.col("dst").alias("node")))
        .distinct()
        .count()
    )
    small_graph = n_nodes <= broadcast_threshold

    def _dist_side(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if small_graph else df

    if source is None:
        source = (
            edges.select(F.col("src").alias("node"))
            .unionAll(edges.select(F.col("dst").alias("node")))
            .agg(F.min("node").alias("node"))
        )
    dist = source.select("node", F.lit(0).cast("bigint").alias("cost"))
    rounds = RoundCache(_BFS_CHECKPOINT_EVERY)
    for i in range(iters):
        nxt = edges.join(
            _dist_side(dist), edges.src == dist.node
        ).select(
            F.col("dst").alias("node"),
            (dist["cost"] + edges["cost"]).alias("cost"),
        )
        new = (
            dist.unionAll(nxt).groupBy("node").agg(F.min("cost").alias("cost"))
        )
        dist = rounds.advance(new)
    return dist


def graph_diagnostics(edges: DataFrame) -> DataFrame:
    """Structural diagnostics over a directed edge list (src, dst):
    node/edge counts, reciprocity (share of edges whose reverse edge
    exists) in exact integer micro-units, and degree assortativity as
    the exact rational pair (m·Σxy − ΣxΣy, (m·Σxx − Σx²)·(m·Σyy − Σy²))
    in decimal strings — the linreg contract, since the final
    sqrt+division is the only irrational step.

    Degrees are a nodes-sized aggregate joined back onto the edges;
    reciprocity is a self-semi-join on the reversed key — all
    map-side-combinable, nothing quadratic.
    """
    from dbt_project_spark.caching import persist_tracked

    edges = persist_tracked(edges.select("src", "dst"))
    deg = persist_tracked(
        edges.select(F.col("src").alias("node"))
        .unionAll(edges.select(F.col("dst").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    rec = edges.join(rev, ["src", "dst"], "left_semi").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_recip")
    )
    ds = deg.select(F.col("node").alias("src"), F.col("d").alias("x"))
    dt = deg.select(F.col("node").alias("dst"), F.col("d").alias("y"))
    dd = edges.join(ds, "src").join(dt, "dst")
    s = dd.agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )
    n_nodes = deg.agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
    return (
        s.crossJoin(F.broadcast(rec))
        .crossJoin(F.broadcast(n_nodes))
        .select(
            "n_nodes",
            F.col("m").alias("n_edges"),
            F.expr("CAST(n_recip * 1000000 div m AS BIGINT)").alias(
                "reciprocity_micro"
            ),
            F.expr("CAST(m * sxy - sx * sy AS STRING)").alias("assort_num"),
            F.expr(
                "CAST((m * sxx - sx * sx) * (m * syy - sy * sy) AS STRING)"
            ).alias("assort_den_sq"),
        )
    )


def triangles_per_node(
    edges: DataFrame,
    closing_broadcast_max_edges: int = CLOSING_BROADCAST_MAX_EDGES,
) -> DataFrame:
    """Per-node triangle counts over an undirected edge list (u, v),
    u < v: the degree-oriented wedge join of ``triangle_count``, but
    keeping each closed wedge's three corners (wedge source + both
    endpoints) and aggregating corner hits per node. Returns
    (node, tri) for nodes in ≥1 triangle. Same O(m^1.5) wedge bound —
    orientation caps out-degree at O(sqrt(m)); the corner fan-out is
    exactly 3× the triangle count. Closing semi-join strategy as in
    ``triangle_count`` (broadcast under the edge bound)."""
    from dbt_project_spark.caching import persist_tracked

    edges = persist_tracked(edges)
    m, packed = _edge_stats(edges)
    o = persist_tracked(orient_by_degree(edges))
    tri = _closed_wedges(o, m, packed, closing_broadcast_max_edges)
    # Explode the three corners from ONE pass over the triangle set —
    # a 3-way union would reference the (unpersisted) wedge⋈closing
    # subtree three times and re-execute it per branch (measured 2.2×
    # the triangle_count runtime before this change).
    corners = tri.select(
        F.explode(F.array("s", "a", "b")).alias("node")
    )
    return corners.groupBy("node").agg(
        F.count(F.lit(1)).cast("bigint").alias("tri")
    )


def label_propagation(
    edges: DataFrame,
    iters: int = 4,
    broadcast_threshold: int = 10_000_000,
) -> DataFrame:
    """Synchronous label propagation over an undirected edge list
    (u, v), u < v: labels start as node ids; each round every node
    adopts the most frequent label among its NEIGHBORS, ties broken
    toward the smallest label — the standard deterministic LPA
    variant. A FIXED ``iters`` rounds, mirroring an unrolled SQL CTE
    chain (sync LPA can oscillate on bipartite structure; a fixed
    unroll is bit-identical across engines regardless). Isolated
    nodes keep their previous label. Returns (node, lab).

    Scale shape (r13 co-partitioned rounds, guide §2.4): the
    adjacency is persisted HASH-PARTITIONED BY node once; each round
    then broadcasts the nodes-sized label table onto it (below
    ``broadcast_threshold`` nodes — the pagerank policy; a broadcast
    join preserves the streamed side's partitioning), so the
    (node, label) count, the arg-max, and the label join all satisfy
    their required distribution from that ONE up-front exchange —
    zero per-round shuffles (measured at sf1: 4 rounds × ~200-270 MB
    count-aggregate exchanges removed). Past the threshold the label
    join falls back to a shuffle join on nbr — the honest 10⁹-node
    regime, where per-round exchanges return. Each round's labels are
    persisted + materialized (two consumers next round) and lineage
    is truncated on the BFS checkpoint cadence; localCheckpoint
    preserves the physical partitioning, so the co-partition
    property survives checkpoint rounds.
    """
    from dbt_project_spark.caching import RoundCache, persist_tracked

    edges = persist_tracked(edges.select("u", "v"))
    # Symmetrize ONCE (inline, not union — one edge scan, r13) and
    # hash-partition by node: one persisted exchange that every
    # round's aggregates and joins reuse.
    adj = persist_tracked(
        edges.select(
            F.inline(
                F.array(
                    F.struct(F.col("u").alias("node"), F.col("v").alias("nbr")),
                    F.struct(F.col("v").alias("node"), F.col("u").alias("nbr")),
                )
            )
        ).repartition("node")
    )
    nodes = persist_tracked(adj.select("node").distinct())
    small_graph = nodes.count() <= broadcast_threshold

    def _lab_side(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if small_graph else df

    lab = nodes.select("node", F.col("node").alias("lab"))
    rounds = RoundCache(_BFS_CHECKPOINT_EVERY)
    for i in range(iters):
        ln = lab.select(F.col("node").alias("nbr"), F.col("lab").alias("nl"))
        nbr = adj.join(_lab_side(ln), "nbr").select("node", "nl")
        cnt = nbr.groupBy("node", "nl").agg(F.count(F.lit(1)).alias("c"))
        # arg-max as a max_by aggregate (map-side partials), not a
        # rank window: key = c·1e12 − label picks the highest count,
        # ties to the SMALLEST label (labels are node ids < 1e12, so
        # the count term dominates). Saves a per-round sort.
        picked = cnt.groupBy("node").agg(
            F.max_by(
                "nl", F.col("c") * F.lit(1_000_000_000_000) - F.col("nl")
            ).alias("new_lab")
        )
        new = (
            lab.join(picked, "node", "left")
            .select(
                "node", F.coalesce("new_lab", "lab").alias("lab")
            )
        )
        lab = rounds.advance(new)
    return lab
