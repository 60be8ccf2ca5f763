"""Planted-graph tests for the graph operators (operators/graph.py):
triangle counts on graphs with known answers, PageRank mass
conservation and hand-computed fixed-point values."""

import pyspark.sql.functions as F

from dbt_project_spark.operators.graph import (
    orient_by_degree,
    pagerank_fixedpoint,
    triangle_count,
)


def _edges(spark, pairs):
    return spark.createDataFrame(
        [(int(u), int(v)) for u, v in pairs], "u bigint, v bigint"
    )


def test_triangle_k4(spark):
    # complete graph on 4 nodes: C(4,3) = 4 triangles
    k4 = _edges(spark, [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)])
    row = triangle_count(k4).collect()[0]
    assert (row.n_nodes, row.n_edges, row.n_triangles) == (4, 6, 4)


def test_triangle_path_has_none(spark):
    path = _edges(spark, [(1, 2), (2, 3), (3, 4)])
    assert triangle_count(path).collect()[0].n_triangles == 0


def test_triangle_count_negative_ids_do_not_collide(spark):
    """Packed pair keys a·2³¹ + b collide outside [0, 2³¹): the open
    wedge (-3, -1) of node -10 packs to the same key as the edge
    (-4, 2³¹-1). Ids with a negative must take the two-column join."""
    g = _edges(
        spark,
        [(-10, -3), (-10, -1), (-3, 100), (-1, 101), (-4, 2**31 - 1)],
    )
    row = triangle_count(g).collect()[0]
    assert (row.n_nodes, row.n_edges, row.n_triangles) == (7, 5, 0)


def test_triangle_hub_star_plus_rim(spark):
    # star hub 0 with rim cycle 1-2-3-4-1: triangles = rim edges = 4
    g = _edges(
        spark,
        [(0, 1), (0, 2), (0, 3), (0, 4), (1, 2), (2, 3), (3, 4), (1, 4)],
    )
    assert triangle_count(g).collect()[0].n_triangles == 4


def test_orientation_covers_each_edge_once(spark):
    g = _edges(spark, [(1, 2), (1, 3), (2, 3), (3, 4)])
    o = orient_by_degree(g)
    normalized = o.select(
        F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
    )
    assert sorted(map(tuple, normalized.collect())) == [
        (1, 2),
        (1, 3),
        (2, 3),
        (3, 4),
    ]
    # out-degree of the hub endpoint stays bounded: node 3 has degree 3
    # but at most deg-ordered forward edges
    od = dict(
        o.groupBy("src").agg(F.count(F.lit(1)).alias("n")).collect()
    )
    assert max(od.values()) <= 2


def test_pagerank_mass_conserved_and_sink_free(spark):
    # 3-cycle: symmetric, every node ends at scale/3 exactly
    cyc = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1)], "src bigint, dst bigint"
    )
    scale = 1_000_000_000
    r = {row.node: row.r for row in pagerank_fixedpoint(cyc, iters=4, scale=scale).collect()}
    assert set(r) == {1, 2, 3}
    assert len(set(r.values())) == 1  # symmetry preserved exactly
    total = sum(r.values())
    # floor division loses at most a few units per node per iteration
    assert scale - 100 <= total <= scale


def test_copurchase_basket_cap_bounds_hot_order(spark):
    """A pathological 50-item basket must contribute C(8,2)=28 pairs,
    not C(50,2)=1225 — the per-order cap keeps the top parts by summed
    quantity (partkey tiebreak) and leaves normal orders untouched."""
    from dbt_project_spark.queries_graph import copurchase_edges

    rows = [(1, p, 1.0) for p in range(100, 150)]  # hot order, equal qty
    rows += [(2, 10, 5.0), (2, 11, 4.0), (2, 12, 3.0)]  # normal order
    li = spark.createDataFrame(
        rows, "l_orderkey bigint, l_partkey bigint, l_quantity double"
    )
    edges = {(r.u, r.v) for r in copurchase_edges(li, max_basket=8).collect()}
    hot_pairs = [(u, v) for (u, v) in edges if u >= 100]
    assert len(hot_pairs) == 28
    # equal quantities → deterministic partkey tiebreak keeps 100..107
    assert {p for uv in hot_pairs for p in uv} == set(range(100, 108))
    assert {(10, 11), (10, 12), (11, 12)} <= edges


def test_pagerank_shuffle_regime_bit_identical(spark):
    """Above broadcast_threshold the rank joins run as plain shuffle
    joins; integer fixed-point ranks must be bit-identical to the
    broadcast regime (partitioning-independence is the whole point of
    the scaled-BIGINT math)."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 1), (5, 1)],
        "src bigint, dst bigint",
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        shuffled = {
            row.node: row.r
            for row in pagerank_fixedpoint(
                edges, iters=4, broadcast_threshold=0, driver_max_edges=0
            ).collect()
        }
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    bcast = {
        row.node: row.r
        for row in pagerank_fixedpoint(
            edges, iters=4, driver_max_edges=0
        ).collect()
    }
    assert shuffled == bcast


def test_pagerank_chain_matches_hand_computation(spark):
    # 1 -> 2, 2 -> 1 with damping 50% and tiny scale: replicate the
    # integer recurrence in python and compare exactly.
    edges = spark.createDataFrame([(1, 2), (2, 1)], "src bigint, dst bigint")
    scale, iters, d = 10_000, 3, 50
    r = {1: scale // 2, 2: scale // 2}
    for _ in range(iters):
        contrib = {2: r[1] // 1, 1: r[2] // 1}
        r = {
            n: (scale // 2) * (100 - d) // 100 + contrib[n] * d // 100
            for n in (1, 2)
        }
    got = {
        row.node: row.r
        for row in pagerank_fixedpoint(
            edges, iters=iters, scale=scale, damping_pct=d
        ).collect()
    }
    assert got == r


def _dedges(spark, pairs):
    return spark.createDataFrame(
        [(int(s), int(d)) for s, d in pairs], "src bigint, dst bigint"
    )


def test_bfs_path_hops(spark):
    from dbt_project_spark.operators.graph import bfs_hops

    path = _dedges(spark, [(0, 1), (1, 2), (2, 3)])
    got = dict(bfs_hops(path, iters=4).collect())
    assert got == {0: 0, 1: 1, 2: 2, 3: 3}


def test_bfs_unreachable_and_shortcut(spark):
    from dbt_project_spark.operators.graph import bfs_hops

    # 0->1->2->3 with shortcut 0->3; 4->0 points INTO the source, so 4
    # is unreachable and must be absent from the result.
    g = _dedges(spark, [(0, 1), (1, 2), (2, 3), (0, 3), (4, 0)])
    got = dict(bfs_hops(g, iters=8).collect())
    assert got == {0: 0, 1: 1, 2: 2, 3: 1}


def test_bfs_iteration_cap_truncates(spark):
    from dbt_project_spark.operators.graph import bfs_hops

    chain = _dedges(spark, [(0, 1), (1, 2), (2, 3), (3, 4)])
    got = dict(bfs_hops(chain, iters=2).collect())
    assert got == {0: 0, 1: 1, 2: 2}


def test_bfs_custom_source_on_shuffle_path(spark):
    from dbt_project_spark.operators.graph import bfs_hops

    g = _dedges(spark, [(5, 6), (6, 7), (1, 5)])
    src = spark.createDataFrame([(6,)], "node bigint")
    # broadcast_threshold=0 forces the large-graph shuffle-join path
    # (driver_max_edges=0 keeps the bounded-graph driver kernel out);
    # results must be identical to the broadcast regime.
    got = dict(
        bfs_hops(
            g, source=src, iters=4, broadcast_threshold=0, driver_max_edges=0
        ).collect()
    )
    assert got == {6: 0, 7: 1}


def test_kcore_k4_with_pendant(spark):
    # K4 plus a pendant node 5 hanging off node 4: the 3-core is
    # exactly the K4 (every K4 node has degree 3 inside it); the
    # pendant (degree 1) and its edge peel away in round one.
    from dbt_project_spark.operators.graph import kcore

    g = _edges(
        spark, [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5)]
    )
    rows = sorted(map(tuple, kcore(g, k=3, iters=4).collect()))
    assert rows == [(1, 3), (2, 3), (3, 3), (4, 3)]


def test_kcore_chain_cascade(spark):
    # A chain 1-2-3-4-5: 2-core is empty, but only after CASCADING
    # peels (endpoints first, then the new endpoints...). Verifies
    # the iteration actually propagates, not just one round.
    from dbt_project_spark.operators.graph import kcore

    chain = _edges(spark, [(1, 2), (2, 3), (3, 4), (4, 5)])
    assert kcore(chain, k=2, iters=4).count() == 0
    # one round is NOT enough on this graph — guards against a future
    # "optimization" collapsing the loop
    assert kcore(chain, k=2, iters=1).count() > 0


def test_kcore_converged_at_catalog_params(spark):
    # At the catalog's K/ITERS the peel must be a fixpoint on real
    # data: one extra round changes nothing (the unrolled oracle and
    # the Spark loop agree by construction; this pins the SEMANTIC
    # claim that the result is the true k-core, not a truncated peel).
    from dbt_project_spark.operators.graph import kcore
    from dbt_project_spark.queries_graph import (
        KCORE_ITERS,
        KCORE_K,
        copurchase_edges,
    )
    from dbt_project_spark.sources import load_table

    from tests.conftest import SF_SMOKE as sf_dir

    from dbt_project_spark.caching import release_tracked, reclaim_jvm

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    # Two full peels back-to-back is the heaviest single test in the
    # suite: start from a clean heap AND sweep between the runs —
    # unpersist alone leaves run 1's localCheckpoint blocks resident
    # (this exact test OOM'd an 8g driver 39 min into the full suite).
    release_tracked()
    reclaim_jvm()
    a = [tuple(r) for r in kcore(
        copurchase_edges(li), k=KCORE_K, iters=KCORE_ITERS
    ).collect()]
    release_tracked()  # drop run 1's edge/degree caches before run 2
    reclaim_jvm()
    b = [tuple(r) for r in kcore(
        copurchase_edges(li), k=KCORE_K, iters=KCORE_ITERS + 1
    ).collect()]
    release_tracked()
    assert sorted(a) == sorted(b)


# ---------------------------------------------------------------------------
# HITS hubs & authorities (operators/graph.py:hits_fixedpoint)
# ---------------------------------------------------------------------------


def _dedges(spark, pairs):
    return spark.createDataFrame(
        [(int(u), int(v)) for u, v in pairs], "src bigint, dst bigint"
    )


def _hits_py(pairs, iters, scale):
    """Exact-integer python mirror of the hits_fixedpoint recurrence
    (max-normalized half-steps, floor division)."""
    nodes = sorted({u for u, _ in pairs} | {v for _, v in pairs})
    a = {n: scale for n in nodes}
    h = {}
    for _ in range(iters):
        hraw = {}
        for u, v in pairs:
            if v in a:
                hraw[u] = hraw.get(u, 0) + a[v]
        mx = max(hraw.values())
        h = {u: r * scale // mx for u, r in hraw.items()}
        araw = {}
        for u, v in pairs:
            if u in h:
                araw[v] = araw.get(v, 0) + h[u]
        mx = max(araw.values())
        a = {v: r * scale // mx for v, r in araw.items()}
    return {n: (h.get(n, 0), a.get(n, 0)) for n in nodes}


def test_hits_star_semantics(spark):
    """1→{2,3,4}, 5→2: node 1 is the hub, node 2 the authority;
    leaves have hub 0, pure hubs have authority 0."""
    from dbt_project_spark.operators.graph import hits_fixedpoint

    s = 10**9
    pairs = [(1, 2), (1, 3), (1, 4), (5, 2)]
    got = {
        r["node"]: (r["h"], r["a"])
        for r in hits_fixedpoint(_dedges(spark, pairs), iters=4, scale=s).collect()
    }
    assert set(got) == {1, 2, 3, 4, 5}
    assert got[1][0] == s  # best hub, max-normalized to scale
    assert got[2][1] == s  # best authority
    assert got[2][0] == got[3][0] == got[4][0] == 0  # no out-edges
    assert got[1][1] == got[5][1] == 0  # no in-edges
    assert got[3][1] == got[4][1]
    assert 0 < got[3][1] < s
    assert 0 < got[5][0] < s  # weaker hub than node 1


def test_hits_matches_integer_mirror(spark):
    """Bit-exact agreement with the python integer recurrence on an
    asymmetric digraph (cycle + chords + a sink)."""
    from dbt_project_spark.operators.graph import hits_fixedpoint

    s = 10**9
    pairs = [(1, 2), (2, 3), (3, 1), (1, 3), (4, 1), (4, 3), (3, 5)]
    want = _hits_py(pairs, iters=4, scale=s)
    got = {
        r["node"]: (r["h"], r["a"])
        for r in hits_fixedpoint(_dedges(spark, pairs), iters=4, scale=s).collect()
    }
    assert got == want


def test_hits_shuffle_regime_bit_identical(spark):
    """Above/below the broadcast threshold must not change a single
    scaled score (integer fixed-point is partitioning-independent)."""
    from dbt_project_spark.operators.graph import hits_fixedpoint

    pairs = [(i, (i * 3 + 1) % 11) for i in range(11)] + [(0, 5), (7, 5)]
    e = _dedges(spark, pairs)
    small = {
        r["node"]: (r["h"], r["a"])
        for r in hits_fixedpoint(e, iters=3, driver_max_edges=0).collect()
    }
    shuffled = {
        r["node"]: (r["h"], r["a"])
        for r in hits_fixedpoint(
            e, iters=3, broadcast_threshold=0, driver_max_edges=0
        ).collect()
    }
    assert small == shuffled
