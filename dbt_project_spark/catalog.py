"""Query catalog: every SURVEY.md §2 entry registered as a named query.

Each entry pairs a Spark callable ``(spark, sf_dir) -> DataFrame`` with
(where SQL-expressible) a DuckDB oracle SQL string computing the same
result. Column names and rounding are aligned on both sides — the
driver's correctness gate hashes values after sorting columns by name.
"""

from __future__ import annotations

import functools
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from dbt_project_spark.caching import release_tracked

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    """Decorator: add a query (and optional oracle SQL) to the catalog.

    The catalog entry (NOT the plain function, which is returned
    unchanged for direct/internal calls) releases all tracked
    persisted intermediates before building: consumers run
    build→materialize per query sequentially, so the previous query's
    caches are dead by then (see caching.py).

    LIFETIME CONTRACT: that release also frees checkpoint blocks, and
    checkpoint-backed plans (the iterative operators: BFS/SSSP/LPA/
    k-core/CC/BPE/markov) are UNRECOMPUTABLE afterwards — re-executing
    them raises CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND rather than
    recomputing. It also deletes the scratch directories builders
    write their files into (``caching.scratch_dir``), and a result read
    from those files fails afterwards. So a catalog result DataFrame is
    valid only until the next catalog entry is built: materialize
    (collect/write/compare) query N fully before calling query N+1.
    Every shipped consumer (driver gate, oracle_check, bench, CLI)
    already does."""

    def deco(fn):
        @functools.wraps(fn)
        def entry(spark: SparkSession, sf_dir: str) -> DataFrame:
            release_tracked()
            return fn(spark, sf_dir)

        QUERIES[name] = entry
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# The driver's correctness gate checks only the FIRST 50 entries it
# sees in ``queries()``.  That window is DERIVED MECHANICALLY here from
# the checked-in per-round driver verdicts (CORRECTNESS_r*.json at the
# repo root), so it can never go stale (VERDICT r05 task 1; the manual
# curation went stale in r04 and again in r05):
#
#   1. ``REFRESH`` — queries whose semantics changed this round, so
#      their prior driver verdict no longer applies (manual, usually
#      empty; treat as debt).
#   2. driver debt — registered queries with no green driver verdict
#      in any checked-in CORRECTNESS file, in registration order.
#   3. driver-green queries rotate to the tail (they stay verified by
#      the local replica gate, ``python -m dbt_project_spark.oracle_check``).
#
# After each round the driver checks in CORRECTNESS_r{N}.json, the
# freshly verified names fall out of tier 2 automatically, and the
# next 50 debt queries float to the front.

# Queries changed this round whose prior driver verdict is stale.
#
# Rule (VERDICT r08 task 3): populate on RESTRUCTURE, not just on
# semantic change — any commit touching code under a catalog row's
# call graph adds those names here, because internals changes can
# introduce new failure classes (r08's eager checkpoint release made
# released plans raise instead of recompute) that only the driver's
# independent gate would catch.
#
# r13: the 8 r12 PQ names were cleared — all green in the same-round
# CORRECTNESS_r12.json (driver gate ran after the restructure
# commit). Repopulated with (a) the r12 SemDeDup restructure names
# that were OMITTED from the r12 list (VERDICT r12 item 3 / ADVICE
# r12: cell_local_candidate_pairs + the clone-assign rewrite touched
# their call graphs but only the PQ half was listed, so they still
# owe an independent driver verification) and (b) every row
# restructured THIS round: the bounded-graph driver fixed-point
# kernels (operators/graph.py: pagerank/HITS/BFS/SSSP now collect the
# ≤100k-edge trade graph and iterate exact Python ints), the SemDeDup
# kernel tiling + broadcast-hint narrowing + sweep zero-row grid fix
# (similarity.cell_local_candidate_pairs, queries_dedup._sem_pairs /
# semantic_threshold_sweep).
REFRESH: list[str] = [
    "dedup_semantic",
    "dedup_semantic_keeplist",
    "dedup_semantic_recall",
    "semantic_threshold_sweep",
    "pagerank_trade",
    "hits_trade",
    "bfs_hops_trade",
    "sssp_weighted_trade",
    # r13 batch 2: wedge broadcast-semi + explode degree scans
    # (triangle/cc), co-partitioned LPA rounds, kcore merged
    # materialize, pc/na persists (recs/cooc), starved-scan spread in
    # _with_tokens + the df∈[2, cap] posting prune in jaccard_pairs —
    # every catalog row whose call graph reaches those operators
    # (ast-swept over queries_*.py).
    "triangle_count",
    "clustering_coefficient",
    "lpa_communities",
    "kcore_parts",
    "user_item_recs",
    "item_cooc_similarity",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_incremental",
    "dedup_clusters",
    "dedup_cluster_histogram",
    "dedup_simhash",
    "dedup_editdistance",
    "dedup_pair_evidence",
    "dedup_containment",
    "dedup_cross_batch",
    "dedup_pair_transitivity",
    "minhash_estimate_error",
    "minhash_band_tuning",
    "minhash_vs_exact_recall",
    "corpus_keep_list",
    "split_group_aware",
    # simhash_pairs now runs on the shared band join
    # (operators/dedup.py band_pairs).
    "simhash_radius_sweep",
    # r13 batch 3: bruteforce_topk two-stage shortlist kernel
    # (operators/similarity.py) — every catalog row whose call graph
    # reaches it (the exact-ranking anchor of the recall family + the
    # knn classifier).
    "ann_bruteforce_topk",
    "ann_recall_lsh",
    "ann_recall_quantized",
    "ann_recall_truncated_dims",
    "knn_langid_eval",
    "ann_recall_ivf",
    "ann_recall_ivfpq",
    "ann_recall_ivfpq_residual",
    "ann_recall_ivfpq_refine",
    "ann_probe_recall_sweep",
    # r13 batch 4: sweep-found stragglers restructured — the bootstrap
    # fan's starved-scan spread, the markov-removal driver fixed point
    # (+ lead() journey pairs).
    "bootstrap_mean_ci",
    "attribution_markov_removal",
    # r13 batch 5: streaming-parity trio — _parity_summary persists
    # the batch side; the windowed topology's upsert empty-check and
    # state-partition sizing changed (streaming/update_dist.py).
    "serving_parity_windowed",
    "serving_parity_classifier",
    "serving_parity_ann",
    # r13 batch 6: wedge pair-key packing + m-bounded broadcasts on
    # the anti/degree joins.
    "link_prediction_jaccard",
]


def _repo_root():
    import pathlib

    return pathlib.Path(__file__).resolve().parent.parent


@functools.lru_cache(maxsize=1)
def green_rounds() -> dict:
    """Latest-verdict bookkeeping: {name: (round, green_bool)}.

    Rounds are read in parsed-integer order and each round's verdict
    OVERWRITES the previous one per name (latest-verdict-wins — the
    same rule driver_green applies). The round number is kept so the
    driver window can burn the STALEST green names first (VERDICT r09
    task 4: with debt at zero, registration order would re-verify the
    freshest names forever while r01-verified rows age indefinitely)."""
    import json
    import re

    def _round_no(p) -> int:
        m = re.search(r"_r(\d+)\.json$", p.name)
        return int(m.group(1)) if m else -1

    latest: dict[str, tuple[int, bool]] = {}
    files = sorted(
        _repo_root().glob("CORRECTNESS_r*.json"),
        key=lambda p: (_round_no(p), p.name),
    )
    for path in files:
        try:
            records = json.loads(path.read_text())
        except (OSError, ValueError):
            continue
        if not isinstance(records, dict):
            continue
        rno = _round_no(path)
        for name, rec in records.items():
            if not isinstance(rec, dict):
                continue
            ok = (
                rec.get("err") in (None, "")
                and rec.get("rows_match") is True
                and rec.get("schema_match") is not False
                and rec.get("hash_match") is not False
            )
            latest[name] = (rno, ok)
    return latest


@functools.lru_cache(maxsize=1)
def driver_green() -> frozenset[str]:
    """Names whose MOST RECENT driver verdict is green.

    Green = the driver recorded rows+schema(+hash where computed)
    matches with no error. Rounds are read in order and each round's
    verdict OVERWRITES the previous one per name, so a query that was
    green in an early round but red in a later round counts as debt
    again and re-enters the driver window (a green-in-any-round union
    would hide such a regression forever). Missing/unparseable files
    are skipped, so a fresh checkout degrades to "everything is debt"
    (registration order) rather than failing. Files sort by the PARSED
    round integer, not lexically — an unpadded CORRECTNESS_r8.json or
    a 3-digit r100 must not misorder rounds and resurrect stale
    verdicts (ADVICE r07). Tiebreak on name: two files parsing to the
    same round (e.g. CORRECTNESS_r8.json vs CORRECTNESS_r08.json) would
    otherwise keep pathlib's OS-arbitrary glob order — sorted() is
    stable — making which verdict wins nondeterministic (ADVICE r08)."""
    return frozenset(
        name for name, (_rno, ok) in green_rounds().items() if ok
    )


def priority_names() -> list[str]:
    """The derived window order: REFRESH, then driver debt, then green.

    The green tail sorts STALEST-VERDICT-FIRST (latest green round
    ascending, registration order within a round — VERDICT r09 task 4):
    with driver debt at zero, the 50-query window then continuously
    re-verifies the names whose verdicts are oldest instead of cycling
    registration order, bounding the max verdict age across the
    catalog."""
    green = driver_green()
    rounds = green_rounds()
    refresh = [n for n in REFRESH if n in QUERIES]
    taken = set(refresh)
    debt = [n for n in QUERIES if n not in green and n not in taken]
    taken.update(debt)
    reg_idx = {n: i for i, n in enumerate(QUERIES)}
    tail = sorted(
        (n for n in QUERIES if n not in taken),
        key=lambda n: (rounds.get(n, (0, False))[0], reg_idx[n]),
    )
    return refresh + debt + tail


def ordered_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """QUERIES reordered so the derived priority names come first."""
    return {name: QUERIES[name] for name in priority_names()}


def load_all() -> None:
    """Import every query family so registration side-effects run."""
    import dbt_project_spark.queries_web  # noqa: F401
    import dbt_project_spark.queries_tpch  # noqa: F401
    import dbt_project_spark.queries_dedup  # noqa: F401
    import dbt_project_spark.queries_text  # noqa: F401
    import dbt_project_spark.queries_similarity  # noqa: F401
    import dbt_project_spark.queries_pipeline  # noqa: F401
    import dbt_project_spark.queries_multimodal  # noqa: F401
    import dbt_project_spark.queries_analytics  # noqa: F401
    import dbt_project_spark.queries_vectors  # noqa: F401
    import dbt_project_spark.queries_corpus  # noqa: F401
    import dbt_project_spark.queries_training  # noqa: F401
    import dbt_project_spark.queries_timeseries  # noqa: F401
    import dbt_project_spark.queries_product  # noqa: F401
    import dbt_project_spark.queries_graph  # noqa: F401
    import dbt_project_spark.queries_layout  # noqa: F401
    import dbt_project_spark.queries_retail  # noqa: F401
    import dbt_project_spark.queries_mining  # noqa: F401
    import dbt_project_spark.queries_temporal  # noqa: F401
    import dbt_project_spark.queries_quality  # noqa: F401
    import dbt_project_spark.queries_retrieval  # noqa: F401
    import dbt_project_spark.queries_governance  # noqa: F401
    import dbt_project_spark.queries_ops  # noqa: F401
    import dbt_project_spark.queries_streaming_parity  # noqa: F401
    # NOTE: new-in-r07 modules import LAST so their registrations tail
    # the driver-debt queue instead of displacing older debt names
    # from the 50-query window (VERDICT r06 task 1).
    import dbt_project_spark.queries_lakehouse  # noqa: F401
