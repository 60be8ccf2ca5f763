"""Planted-duplicate tests for the dedup catalog family (r06 lint
burn-down). The corpus plants token-DISJOINT duplicate families, so
every expectation is exact regardless of hash behavior: identical
texts have Jaccard 1.0 (always pairs at the 0.8 threshold once banding
proposes them — and identical MinHash signatures guarantee that),
while disjoint texts have Jaccard 0.0 (filtered by the exact-verify
stage even if a band collides).

Families: X = docs {1, 2, 3, 10}, Y = docs {4, 5, 20},
Z = docs {30, 40}; docs 6 and 7 are unique singletons. doc_id % 10 == 0
marks the "new batch" for the incremental index path, so family X
yields three new_old pairs, Y one... (see expected sets below).
"""

import os

import pytest

from pyspark.sql import functions as F

from dbt_project_spark.catalog import QUERIES, load_all
from dbt_project_spark.operators.dedup import SIMHASH_BITS

load_all()

TX = "alpha beta gamma delta epsilon zeta"
TY = "oak pine birch maple cedar willow"
TZ = "red green blue cyan magenta yellow"
T6 = "one two three four five six"
T7 = "cat dog fox wolf bear lynx"

DOCS = [
    (1, TX), (2, TX), (3, TX), (10, TX),
    (4, TY), (5, TY), (20, TY),
    (30, TZ), (40, TZ),
    (6, T6), (7, T7),
]


def _plant(spark, tmp_path_factory, docs) -> str:
    d = str(tmp_path_factory.mktemp("dedup_planted") / "dpsf")
    rows = [(i, t, "en", "plant", len(t)) for i, t in docs]
    spark.createDataFrame(
        rows,
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    ).coalesce(1).write.parquet(os.path.join(d, "documents.parquet"))
    return d


@pytest.fixture(scope="module")
def dedup_dir(spark, tmp_path_factory):
    return _plant(spark, tmp_path_factory, DOCS)


def _pairs(fam: list[int]) -> set[tuple[int, int]]:
    return {(a, b) for a in fam for b in fam if a < b}


ALL_PAIRS = _pairs([1, 2, 3, 10]) | _pairs([4, 5, 20]) | _pairs([30, 40])


def test_dedup_clusters_planted(spark, dedup_dir):
    got = {
        r["doc_id"]: (r["cluster_id"], r["cluster_size"])
        for r in QUERIES["dedup_clusters"](spark, dedup_dir).collect()
    }
    want = {}
    for fam in ([1, 2, 3, 10], [4, 5, 20], [30, 40]):
        for d in fam:
            want[d] = (min(fam), len(fam))
    assert got == want  # singletons 6, 7 are absent


def test_dedup_cluster_histogram_planted(spark, dedup_dir):
    got = {
        r["cluster_size"]: (r["n_clusters"], r["n_docs"], r["n_removable"],
                            r["docs_in_clusters"])
        for r in QUERIES["dedup_cluster_histogram"](spark, dedup_dir).collect()
    }
    assert got == {
        2: (1, 2, 1, 9),
        3: (1, 3, 2, 9),
        4: (1, 4, 3, 9),
    }


def test_dedup_pair_evidence_planted(spark, dedup_dir):
    rows = QUERIES["dedup_pair_evidence"](spark, dedup_dir).collect()
    assert {(r["doc_a"], r["doc_b"]) for r in rows} == ALL_PAIRS
    for r in rows:
        # identical docs: full shingle Jaccard AND full span evidence
        assert r["jaccard"] == 1.0
        assert r["n_spans_a"] == r["n_spans_b"] == r["shared_spans"] == 2
        assert r["span_jaccard"] == 1.0


def test_dedup_simhash_planted(spark, dedup_dir):
    rows = QUERIES["dedup_simhash"](spark, dedup_dir).collect()
    assert {r["doc"] for r in rows} == {d for d, _ in DOCS}
    sig = {r["doc"]: r["simhash"] for r in rows}
    # identical texts → identical signatures
    for fam in ([1, 2, 3, 10], [4, 5, 20], [30, 40]):
        assert len({sig[d] for d in fam}) == 1
    # band columns are exactly the 8-bit slices of the signature
    nbands = SIMHASH_BITS // 8
    for r in rows:
        for b in range(nbands):
            assert r[f"band{b}"] == (r["simhash"] >> (8 * b)) & 255
        assert 0 <= r["simhash"] < 2**SIMHASH_BITS


def _incremental(df) -> dict:
    return {
        (r["doc_a"], r["doc_b"]): (r["jaccard"], r["pair_kind"])
        for r in df.collect()
    }


def _want_incremental() -> dict:
    new = {10, 20, 30, 40}
    return {
        (a, b): (1.0, "new_new" if a in new and b in new else "new_old")
        for a, b in ALL_PAIRS
        if a in new or b in new
    }


def test_dedup_incremental_planted(spark, dedup_dir):
    got = _incremental(QUERIES["dedup_incremental"](spark, dedup_dir))
    # family X gives (1,10),(2,10),(3,10); Y gives (4,20),(5,20);
    # Z is entirely new: (30,40) is the new_new pair
    assert got == _want_incremental()
    assert got[(30, 40)][1] == "new_new"


def test_dedup_incremental_index_per_call(spark, dedup_dir, tmp_path_factory):
    """Two builds over data dirs with the same basename keep their own
    index: the second, built before the first is collected, must not
    replace the files the first one's plan reads."""
    from dbt_project_spark.queries_dedup import dedup_incremental

    other = _plant(spark, tmp_path_factory, [(1, TY), (10, TY), (2, T6), (30, TZ)])
    assert os.path.basename(other) == os.path.basename(dedup_dir)
    first = dedup_incremental(spark, dedup_dir)
    second = dedup_incremental(spark, other)
    assert _incremental(first) == _want_incremental()
    assert _incremental(second) == {(1, 10): (1.0, "new_old")}
