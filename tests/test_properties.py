"""Property-based tests (hypothesis): dedup invariants on random
corpora, checked against a plain-Python brute-force model."""

import re

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from dbt_project_spark.operators.dedup import containment_pairs, jaccard_pairs

WORDS = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta"]


def _py_shingles(text: str, n: int = 3) -> set[str]:
    toks = re.findall(r"[a-z0-9]+", text.lower())
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def _py_jaccard_pairs(docs, threshold):
    out = {}
    for i, (ida, ta) in enumerate(docs):
        for idb, tb in docs[i + 1 :]:
            sa, sb = _py_shingles(ta), _py_shingles(tb)
            if not sa or not sb:
                continue
            inter = len(sa & sb)
            if inter == 0:
                continue
            j = inter / (len(sa) + len(sb) - inter)
            if j >= threshold:
                a, b = min(ida, idb), max(ida, idb)
                out[(a, b)] = j
    return out


doc_strategy = st.lists(st.sampled_from(WORDS), min_size=0, max_size=12).map(" ".join)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(st.lists(doc_strategy, min_size=2, max_size=6), st.sampled_from([0.3, 0.6, 0.9]))
def test_jaccard_pairs_matches_python_model(spark_session_holder, docs_texts, threshold):
    spark = spark_session_holder
    docs = list(enumerate(docs_texts))
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in jaccard_pairs(df, "doc_id", "text", threshold).collect()
    }
    want = _py_jaccard_pairs(docs, threshold)
    assert set(got) == set(want)
    for k in got:
        assert abs(got[k] - want[k]) < 1e-12


def _py_containment_pairs(docs, threshold, max_bucket):
    """(a, b) -> (containment, jaccard) over shingles held by at most
    ``max_bucket`` docs; set sizes count every shingle."""
    sets = {i: _py_shingles(t) for i, t in docs}
    df = {}
    for s in sets.values():
        for g in s:
            df[g] = df.get(g, 0) + 1
    out = {}
    for i, (ida, _) in enumerate(docs):
        for idb, _ in docs[i + 1 :]:
            sa, sb = sets[ida], sets[idb]
            inter = len({g for g in sa & sb if df[g] <= max_bucket})
            if inter == 0:
                continue
            c = inter / min(len(sa), len(sb))
            if c >= threshold:
                out[(min(ida, idb), max(ida, idb))] = (
                    c,
                    inter / (len(sa) + len(sb) - inter),
                )
    return out


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    st.lists(doc_strategy, min_size=2, max_size=6),
    st.sampled_from([0.3, 0.6, 0.9]),
    st.sampled_from([2, 3]),
)
def test_containment_pairs_matches_python_model(
    spark_session_holder, docs_texts, threshold, max_bucket
):
    """Capped containment: shingles held by one doc (df = 1) and by more
    than ``max_bucket`` docs add nothing to the intersection."""
    spark = spark_session_holder
    docs = list(enumerate(docs_texts))
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        (r["doc_a"], r["doc_b"]): (r["containment"], r["jaccard"])
        for r in containment_pairs(
            df, "doc_id", "text", threshold, max_bucket=max_bucket
        ).collect()
    }
    want = _py_containment_pairs(docs, threshold, max_bucket)
    assert set(got) == set(want)
    for k in got:
        assert all(abs(g - w) < 1e-12 for g, w in zip(got[k], want[k]))


def _py_components(edges):
    """Union-find reference model: node -> min id in its component."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)).filter(
            lambda e: e[0] != e[1]
        ),
        min_size=1,
        max_size=40,
    )
)
def test_connected_components_matches_union_find(spark_session_holder, edges):
    from dbt_project_spark.operators.dedup import connected_components

    spark = spark_session_holder
    df = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    got = {
        r["node"]: r["lab"] for r in connected_components(df).collect()
    }
    assert got == _py_components(edges)
