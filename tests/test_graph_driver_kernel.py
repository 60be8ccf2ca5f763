"""Bit-identity of the bounded-graph driver fixed-point kernels
(r13, operators/graph.py): for every iterative trade-graph operator
(PageRank / HITS / BFS / weighted SSSP) the driver-kernel path
(default, edge count ≤ DRIVER_FIXPOINT_MAX_EDGES) must produce the
EXACT same rows and dtypes as the distributed DataFrame iteration
(forced by setting DRIVER_FIXPOINT_MAX_EDGES to 0). Graphs are chosen adversarially:
cycles, sinks, sources, disconnected pieces, hubs, self-referential
normalization (HITS), unreachable nodes, multi-path min-relaxation
(SSSP with a longer-but-cheaper route)."""

import pytest

from dbt_project_spark.operators import graph
from dbt_project_spark.operators.graph import (
    bfs_hops,
    hits_fixedpoint,
    pagerank_fixedpoint,
    weighted_sssp,
)

_KERNELS = ("_pagerank_driver", "_hits_driver", "_bfs_sssp_driver")

# Directed planted graphs: cycle + chords + sink, two components with
# a hub, a long chain (exercises the BFS/SSSP frontier over many
# rounds and kills nodes past the iteration cap).
GRAPHS = [
    [(1, 2), (2, 3), (3, 1), (1, 3), (4, 1), (4, 3), (3, 5)],
    [(0, 1), (0, 2), (0, 3), (0, 4), (4, 0), (7, 8), (8, 7), (2, 1)],
    [(i, i + 1) for i in range(12)],
]


def _dedges(spark, pairs):
    return spark.createDataFrame(
        [(int(s), int(d)) for s, d in pairs], "src bigint, dst bigint"
    )


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _spy(kernel, calls):
    def run(*a, **kw):
        calls.append(kernel.__name__)
        return kernel(*a, **kw)

    return run


def _check(op, *args, **kwargs):
    """Run ``op`` on the driver kernel (the default for these small
    graphs) and on the distributed iteration; assert each call took the
    path it names and that both give the same rows and schema."""
    calls = []
    with pytest.MonkeyPatch.context() as mp:
        for name in _KERNELS:
            mp.setattr(graph, name, _spy(getattr(graph, name), calls))
        df_driver = op(*args, **kwargs)
    assert calls, "driver kernel did not run"
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(graph, "DRIVER_FIXPOINT_MAX_EDGES", 0)
        for name in _KERNELS:
            mp.setattr(graph, name, None)  # calling it would raise
        df_dist = op(*args, **kwargs)
    assert df_driver.schema == df_dist.schema
    assert _rows(df_driver) == _rows(df_dist)


@pytest.mark.parametrize("pairs", GRAPHS)
def test_pagerank_driver_kernel_bit_identical(spark, pairs):
    e = _dedges(spark, pairs)
    _check(pagerank_fixedpoint, e, iters=4)


@pytest.mark.parametrize("pairs", GRAPHS)
def test_hits_driver_kernel_bit_identical(spark, pairs):
    e = _dedges(spark, pairs)
    _check(hits_fixedpoint, e, iters=4)


@pytest.mark.parametrize("pairs", GRAPHS)
def test_bfs_driver_kernel_bit_identical(spark, pairs):
    e = _dedges(spark, pairs)
    _check(bfs_hops, e, iters=5)


def test_bfs_driver_kernel_custom_source(spark):
    e = _dedges(spark, [(5, 6), (6, 7), (1, 5)])
    src = spark.createDataFrame([(6,)], "node bigint")
    _check(bfs_hops, e, source=src, iters=4)


@pytest.mark.parametrize(
    "pairs",
    [
        # diamond where the 2-hop route is cheaper than the 1-hop one
        [(0, 1, 10), (0, 2, 1), (2, 1, 2), (1, 3, 1), (0, 3, 100)],
        # chain longer than the iteration cap + disconnected edge
        [(i, i + 1, i + 1) for i in range(10)] + [(90, 91, 7)],
    ],
)
def test_sssp_driver_kernel_bit_identical(spark, pairs):
    e = spark.createDataFrame(
        [(int(s), int(d), int(c)) for s, d, c in pairs],
        "src bigint, dst bigint, cost bigint",
    )
    _check(weighted_sssp, e, iters=4)


def test_driver_kernel_iteration_cap_matches(spark):
    # the hop cap truncates reachability identically on both paths
    chain = _dedges(spark, [(i, i + 1) for i in range(8)])
    _check(bfs_hops, chain, iters=2)
