"""Join-strategy policy: Spark's planner and AQE choose join
strategies; a forced broadcast appears only where a measured guard
or a stated bound sizes its side (operators/joins.py docstring).

- The lint fails on any broadcast hint in the package outside
  GUARDED_BROADCASTS, so hints cannot creep back one by one.
- The fallback test disables every size-based broadcast and checks
  that queries which used to force one plan no BroadcastHashJoin and
  still match their oracle: no query depends on a broadcast to be
  correct.
"""

import ast
import contextlib
import os

import pytest

from dbt_project_spark.catalog import ORACLES, QUERIES, load_all
from dbt_project_spark.oracle_check import check_query
from tests.conftest import SF_SMOKE

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "dbt_project_spark",
)

# (module path under dbt_project_spark/, enclosing function) -> guard.
GUARDED_BROADCASTS = {
    ("operators/graph.py", "_node_side"): "node count <= NODE_BROADCAST_MAX_NODES",
    ("operators/graph.py", "_closed_wedges"): "_edge_stats edge count <= CLOSING_BROADCAST_MAX_EDGES",
    ("queries_graph.py", "link_prediction_jaccard"): "_edge_stats m and min(2m, span) <= LP_ANTI_BROADCAST_MAX_EDGES",
    ("operators/dedup.py", "candidate_overlap"): "doc list <= 2 x candidate pairs, set by the near-dup count",
    ("operators/joins.py", "broadcast_dim_join"): "the caller names the dimension",
}

_HINT_NAMES = {"broadcast", "broadcastjoin", "mapjoin"}


def _broadcast_sites(path: str) -> list[tuple[str, int]]:
    """(enclosing function, line) of every broadcast hint in a module:
    ``F.broadcast`` / ``functions.broadcast`` (called or passed), a bare
    ``broadcast`` imported from pyspark.sql.functions, ``.hint("broadcast")``
    and SQL ``/*+ BROADCAST(...) */`` hints in string literals."""
    tree = ast.parse(open(path).read(), path)
    imported = {
        a.asname or a.name
        for n in ast.walk(tree)
        if isinstance(n, ast.ImportFrom) and n.module == "pyspark.sql.functions"
        for a in n.names
        if a.name == "broadcast"
    }
    sites = []

    def visit(node, func):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            func = node.name if func == "<module>" else func
        hit = (
            (isinstance(node, ast.Attribute) and node.attr == "broadcast"
             and isinstance(node.value, ast.Name)
             and node.value.id in ("F", "functions"))
            or (isinstance(node, ast.Name) and node.id in imported)
            or (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
                and node.func.attr == "hint" and node.args
                and isinstance(node.args[0], ast.Constant)
                and str(node.args[0].value).lower() in _HINT_NAMES)
            or (isinstance(node, ast.Constant) and isinstance(node.value, str)
                and "/*+" in node.value
                and any(h in node.value.lower() for h in _HINT_NAMES))
        )
        if hit:
            sites.append((func, node.lineno))
        for child in ast.iter_child_nodes(node):
            visit(child, func)

    visit(tree, "<module>")
    return sites


def _all_sites() -> dict[tuple[str, str], list[int]]:
    out: dict[tuple[str, str], list[int]] = {}
    for root, _, files in os.walk(PKG):
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(root, f)
                rel = os.path.relpath(path, PKG).replace(os.sep, "/")
                for func, line in _broadcast_sites(path):
                    out.setdefault((rel, func), []).append(line)
    return out


def test_broadcast_hints_only_behind_guards():
    sites = _all_sites()
    stray = {k: v for k, v in sites.items() if k not in GUARDED_BROADCASTS}
    assert not stray, (
        f"unguarded broadcast hints {stray}: leave the join strategy to "
        "the planner and AQE, or size the broadcast side with a measured "
        "guard and add the function to GUARDED_BROADCASTS"
    )
    # the allow-list only shrinks: an entry whose hint is gone must go
    assert set(GUARDED_BROADCASTS) <= set(sites), (
        set(GUARDED_BROADCASTS) - set(sites)
    )


def test_lint_sees_every_hint_form(tmp_path):
    src = tmp_path / "m.py"
    src.write_text(
        "from pyspark.sql import functions as F\n"
        "from pyspark.sql.functions import broadcast as bc\n"
        "def a(x, y):\n    return x.join(F.broadcast(y), 'k')\n"
        "def b(x, y):\n    return x.join(y.hint('BROADCAST'), 'k')\n"
        "def c(x):\n    return x.transform(bc)\n"
        "def d(s):\n    return s.sql('SELECT /*+ MAPJOIN(t) */ * FROM t')\n"
        "def e(x):\n    return x.hint('shuffle_hash')\n"
    )
    assert [f for f, _ in _broadcast_sites(str(src))] == ["a", "b", "c", "d"]


FALLBACK_QUERIES = (
    "tpch_q5",
    "winsorized_stats",
    "nb_lang_classifier",
    "dsir_importance_weights",
    "rfm_segmentation",
)
_THRESHOLDS = (
    "spark.sql.autoBroadcastJoinThreshold",
    "spark.sql.adaptive.autoBroadcastJoinThreshold",
)


@contextlib.contextmanager
def _confs(spark, kv):
    """Set Spark confs and restore them after."""
    prev = {k: spark.conf.get(k, None) for k in kv}
    try:
        for k, v in kv.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


@pytest.mark.parametrize("name", FALLBACK_QUERIES)
def test_queries_fall_back_without_broadcast(spark, name):
    """With both broadcast thresholds off, the query's executed plan has
    no BroadcastHashJoin, and its rows still equal the DuckDB oracle's —
    which the default-conf run matches too (test_oracle_parity)."""
    load_all()
    built = []

    def build(s, sf_dir):
        built.append(QUERIES[name](s, sf_dir))
        return built[-1]

    with _confs(spark, {k: "-1" for k in _THRESHOLDS}):
        r = check_query(spark, SF_SMOKE, name, build, ORACLES[name])
    plan = built[0]._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert "BroadcastHashJoin" not in plan, plan
    assert r["ok"], r


# A static threshold below every table scan's size estimate at SF_SMOKE
# stands in for scale (at sf1+ the scans pass the 10 MB default), while
# AQE keeps its default threshold for measured sizes.
_SCALED = {"spark.sql.autoBroadcastJoinThreshold": "4096"}
# cross joins against literal tables (literal_table) and key- or
# top-k-bounded sides (at_most); the nb_* rows and
# serving_parity_classifier cross the classes with _nb_model's
# at-most-NB_B buckets; count_overdispersion and negbin_moment_fit
# cross their per-type moments with the one-row day count,
# kmv_user_overlap its key-filtered estimates, and mk_trend_sen_slope
# pairs a counted daily series
SMALL_SIDE_QUERIES = (
    "slo_burn_rate",
    "vocab_coverage_curve",
    "ranker_agreement_topk",
    "ann_recall_quantized",
    "nb_lang_classifier",
    "nb_margin_calibration",
    "nb_mcc_score",
    "serving_parity_classifier",
    "count_overdispersion",
    "negbin_moment_fit",
    "kmv_user_overlap",
    "mk_trend_sen_slope",
)


def test_scaled_conf_plans_cartesian_for_unsized_side(spark):
    """Control: under _SCALED, a createDataFrame side (no size estimate)
    crossed with a table scan plans a CartesianProduct."""
    from dbt_project_spark.sources import load_table

    e = load_table(spark, SF_SMOKE, "events").select("event_type")
    with _confs(spark, _SCALED):
        df = e.crossJoin(spark.createDataFrame([(1,)], "h int"))
        df.collect()
    assert "CartesianProduct" in df._jdf.queryExecution().executedPlan().toString()


def _executed_plans(spark, run):
    """``run()``'s return value, and the physical plans of every SQL
    execution it starts: the returned frame's and those a builder runs
    itself (its writes, its counts, the micro-batches of a stream it
    drives), each as AQE last updated it."""
    jsc = spark.sparkContext._jsc.sc()
    store = spark._jsparkSession.sharedState().statusStore()

    def executions():
        jsc.listenerBus().waitUntilEmpty()
        lst = store.executionsList()
        return [lst.apply(i) for i in range(lst.size())]

    seen = {e.executionId() for e in executions()}
    with _confs(spark, {"spark.sql.maxPlanStringLength": str(8 << 20)}):
        out = run()
    plans = [
        e.physicalPlanDescription()
        for e in executions()
        if e.executionId() not in seen
    ]
    assert plans and not any(" more characters" in p for p in plans)
    return out, plans


@pytest.mark.parametrize("name", SMALL_SIDE_QUERIES)
def test_small_sides_stay_broadcast_at_scale(spark, name):
    """With table scans over the static threshold, a cross join against a
    side the planner can size still plans a broadcast nested loop join,
    not a CartesianProduct that rescans the big side once per partition
    of the small one — in every plan the query runs, builder jobs
    included."""
    load_all()

    def run():
        df = QUERIES[name](spark, SF_SMOKE)
        df.collect()
        return df

    with _confs(spark, _SCALED):
        df, plans = _executed_plans(spark, run)
    final = df._jdf.queryExecution().executedPlan().toString()
    if "AdaptiveSparkPlan" in final:  # not a one-row literal summary
        assert "isFinalPlan=true" in final
    plans.append(final)
    assert not [p for p in plans if "CartesianProduct" in p]
    assert any("BroadcastNestedLoopJoin" in p for p in plans), plans
