"""r13 verify_jaccard hash-keyed intersection join (VERDICT r12 task
5): the (doc_b, sg-string) join became a (doc_b, md5-60bit) join with
exact collision routing. Bit-identity surface: output must equal the
pre-r13 string join EXACTLY — including when the hash genuinely
collides, which the tests force by shrinking the hash to 1 hex char
(16 buckets over dozens of distinct shingles)."""

import re

import pyspark.sql.functions as F
import pytest

from dbt_project_spark.operators import dedup
from dbt_project_spark.operators.dedup import (
    _with_tokens,
    candidate_overlap,
    exploded_shingles,
    verify_jaccard,
)


def _string_join_reference(cand, postings, threshold):
    """The pre-r13 verify_jaccard body, verbatim."""
    docs = (
        cand.select(F.col("doc_a").alias("doc"))
        .unionByName(cand.select(F.col("doc_b").alias("doc")))
        .distinct()
    )
    needed = postings.join(F.broadcast(docs), on="doc", how="left_semi")
    exa = needed.select(
        F.col("doc").alias("doc_a"), F.col("sz").alias("sz_a"), "sg"
    )
    exb = needed.select(
        F.col("doc").alias("doc_b"), F.col("sz").alias("sz_b"), "sg"
    )
    return (
        cand.join(exa, on="doc_a")
        .join(exb, on=["doc_b", "sg"])
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count(F.lit(1)).alias("inter"),
            F.max("sz_a").alias("sa"),
            F.max("sz_b").alias("sb"),
        )
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("sa") + F.col("sb") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


@pytest.fixture(scope="module")
def corpus(spark):
    # 12 docs over a shared vocabulary: plenty of shared shingles and,
    # at a 1-hex-char hash, guaranteed hash collisions between
    # DIFFERENT shingles
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = []
    for i in range(12):
        words = base.split()
        words[i % 10] = f"uniq{i}"
        rows.append((i, " ".join(words + words[: i % 5])))
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    return exploded_shingles(_with_tokens(df, "text"), "doc_id")


def _all_pairs(spark, n):
    return spark.createDataFrame(
        [(a, b) for a in range(n) for b in range(a + 1, n)],
        "doc_a bigint, doc_b bigint",
    )


@pytest.mark.parametrize("threshold", [0.2, 0.5])
def test_hash_join_matches_string_join(spark, corpus, threshold):
    cand = _all_pairs(spark, 12)
    got = sorted(
        map(tuple, verify_jaccard(cand, corpus, threshold).collect())
    )
    want = sorted(
        map(tuple, _string_join_reference(cand, corpus, threshold).collect())
    )
    assert got == want and len(got) > 0


def test_forced_collisions_route_exactly(spark, corpus, monkeypatch):
    # 1 hex char = 16 hash buckets over ~40 distinct shingles: the
    # collision list is provably non-empty, so the union-of-branches
    # plan is exercised, and the output must STILL match the string
    # join bit-for-bit
    from dbt_project_spark.functions.expressions import md5_int

    n_coll = (
        corpus.select(md5_int(F.col("sg"), 1).alias("h"), "sg")
        .groupBy("h")
        .agg(F.countDistinct("sg").alias("n"))
        .filter("n > 1")
        .count()
    )
    assert n_coll > 0  # the plant really collides
    monkeypatch.setattr(dedup, "VERIFY_HASH_NCHARS", 1)
    cand = _all_pairs(spark, 12)
    got = sorted(map(tuple, verify_jaccard(cand, corpus, 0.2).collect()))
    want = sorted(
        map(tuple, _string_join_reference(cand, corpus, 0.2).collect())
    )
    assert got == want and len(got) > 0


def _py_shingles(text: str) -> set[str]:
    toks = re.findall(r"[a-z0-9]+", text.lower())
    return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}


@pytest.mark.parametrize("nchars", [15, 1])
def test_candidate_overlap_counts(spark, monkeypatch, nchars):
    """inter/sa/sb of each candidate against a Python model, on the
    hash branch and (1 hex char) through the collision branch; the
    candidate sharing no shingle (0, 2) drops out."""
    monkeypatch.setattr(dedup, "VERIFY_HASH_NCHARS", nchars)
    texts = {
        0: "a b c d e f",
        1: "a b c d x y",
        2: "p q r s t",
        3: "c d e f a b c",
        4: "b c d e",
    }
    df = spark.createDataFrame(list(texts.items()), "doc_id bigint, text string")
    postings = exploded_shingles(_with_tokens(df, "text"), "doc_id")
    pairs = [(0, 1), (0, 2), (0, 3), (1, 3), (3, 4), (0, 4)]
    cand = spark.createDataFrame(pairs, "doc_a bigint, doc_b bigint")
    got = {
        (r["doc_a"], r["doc_b"]): (r["inter"], r["sa"], r["sb"])
        for r in candidate_overlap(cand, postings).collect()
    }
    sh = {k: _py_shingles(v) for k, v in texts.items()}
    want = {
        (a, b): (len(sh[a] & sh[b]), len(sh[a]), len(sh[b]))
        for a, b in pairs
        if sh[a] & sh[b]
    }
    assert (0, 2) not in want and len(want) == 5
    assert got == want
