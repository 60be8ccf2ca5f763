"""Plan-regression tests: the physical properties SCALE.md claims,
asserted so a refactor can't silently regress them. A failure here
means the query still returns right answers but would fall over at
100 TB (full scans, lost broadcasts, extra shuffles)."""

import pyspark.sql.functions as F

from dbt_project_spark.catalog import QUERIES, load_all
from tests.conftest import SF_SMOKE

load_all()


from tests.conftest import plan_string as _plan  # noqa: E402


def _exchanges(plan: str) -> int:
    # each node appears twice in formatted output (tree + details)
    return sum(
        plan.count(f"{kind}Exchange") // 2
        for kind in ("Shuffle", "Broadcast")
    ) or plan.count("Exchange") // 2


def test_q6_pushdown_and_pruning(spark):
    plan = _plan(QUERIES["tpch_q6"](spark, SF_SMOKE))
    assert "GreaterThanOrEqual(l_shipdate" in plan  # filter reached parquet
    assert "LessThan(l_shipdate" in plan
    # projection pruned to the 4 needed columns
    rs = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_partkey" not in rs and "l_returnflag" not in rs
    assert "l_extendedprice" in rs


def test_windowed_distribution_reads_two_columns(spark):
    plan = _plan(QUERIES["wt_windowed_distribution"](spark, SF_SMOKE))
    rs = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    # pruned to exactly (ts, event_type) — dtype of ts is whatever the
    # generator emitted (bigint epoch in early testdata, timestamp now)
    assert "event_type:string" in rs
    assert rs.count(",") == 1, f"expected 2-column ReadSchema, got {rs}"
    assert "value" not in rs and "props" not in rs and "user_id" not in rs


def test_q5_broadcasts_dims(spark):
    plan = _plan(QUERIES["tpch_q5"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan or "BroadcastHashJoin" in plan


def test_window_family_single_exchange(spark):
    for name in ("win_running_total", "sessionization", "asof_last_signup"):
        plan = _plan(QUERIES[name](spark, SF_SMOKE))
        n = plan.count("ShuffleExchange") // 2 or plan.count("Exchange") // 2
        assert n == 1, f"{name}: expected 1 exchange, plan has {n}"


def test_windowed_distribution_exchanges_carry_aggregates(spark):
    """Two exchanges max, and partial aggregation happens before the
    first one (map-side combine — shuffled rows are groups, not events)."""
    plan = _plan(QUERIES["wt_windowed_distribution"](spark, SF_SMOKE))
    n = plan.count("Exchange") // 2
    assert n <= 2
    assert "HashAggregate" in plan
    # partial agg node appears before the exchange in the tree section
    tree = plan.split("(1)")[0]
    first_agg = tree.find("HashAggregate")
    first_ex = tree.find("Exchange")
    assert first_agg != -1 and first_ex != -1 and first_agg > first_ex  # tree prints top-down: exchange ABOVE partial agg


def test_jaccard_single_postings_exchange(spark):
    """The shared-shingle self-join must shuffle the postings on sg
    once (reused/aligned for both sides) plus one exchange for the
    pair groupBy and one for the max_bucket window — a refactor that
    re-derives postings per side would double the tokenize+shuffle
    cost (the dominant stage at 100 TB)."""
    plan = _plan(QUERIES["dedup_ngram_jaccard"](spark, SF_SMOKE))
    n = _exchanges(plan)
    # hot-shingle count agg + broadcast of the hot list + join-side
    # alignment + pair groupBy: the persisted postings make the two
    # join sides reuse one scan; cap the budget so an extra
    # full-postings shuffle fails the test.
    assert n <= 5, f"jaccard plan grew to {n} exchanges:\n{plan[:2000]}"
    assert "InMemoryTableScan" in plan  # persisted postings actually reused


def test_minhash_lsh_exchange_budget(spark):
    """Signature agg + band self-join + candidate verify: the postings
    relation must come from the persisted cache (3 consumers), and the
    whole plan stays within its exchange budget."""
    plan = _plan(QUERIES["dedup_minhash_lsh"](spark, SF_SMOKE))
    assert "InMemoryTableScan" in plan
    n = _exchanges(plan)
    # r10: +2 over the old budget of 8 for the candidate-local verify
    # (operators/dedup.py verify_jaccard): an ids-only docs distinct
    # plus the broadcast of that list into the postings semi-join —
    # both O(|pairs|) rows, bought in exchange for no longer shuffling
    # the FULL corpus-sized postings relation at scale (1.8 GB/query
    # at sf10).
    # r13: +5, all BROADCAST exchanges of candidate-sized frames from
    # the hash-keyed verify join (verify_jaccard: the h-collision
    # detect aggregate + the exact/collision branch split) — the
    # shuffled rows per exchange stayed O(|pairs|)/O(|candidate
    # postings|), and the payload the big exchange carries shrank
    # from shingle STRINGS to 60-bit BIGINTs (sf100: verify exchange
    # 3352→2254 MB, OPTIMIZATION_r13.md §4). Real shuffle-Exchange
    # NODES in the formatted plan: 7 (doc spread ×2, sig agg ×2,
    # candidate doc lists ×2, pair groupBy) — asserted below so a
    # corpus-sized shuffle regression still fails even inside the
    # broadcast budget.
    assert n <= 15, f"minhash plan grew to {n} exchanges"
    import re

    shuffle_nodes = len(re.findall(r"^\(\d+\) Exchange", plan, re.M))
    assert shuffle_nodes <= 7, (
        f"minhash plan grew to {shuffle_nodes} shuffle exchanges"
    )


def test_embedding_lsh_no_cartesian(spark):
    """Banded-LSH embedding dedup must never plan a cartesian/BNL
    join — candidates come from the (tid, bv) equi-join."""
    plan = _plan(QUERIES["dedup_embedding"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_embedding_strict_no_cartesian_bounded_exchanges(spark):
    """dedup_embedding_strict: planted-union corpus, 176-plane banding,
    candidate equi-join on (tid, bv) — never a cartesian/BNL join, and
    the band self-join must consume ONE persisted band projection
    (exchange budget bounds the shuffle count)."""
    plan = _plan(QUERIES["dedup_embedding_strict"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert _exchanges(plan) <= 8


def test_editdistance_equi_blocked(spark):
    """The blocked edit-distance join must be a pure equi-join on
    (pfx, band) — round 1's theta-join (substr equality inside the
    join condition with <) planned as SMJ but with the quadratic
    first-char key; the new plan must not be nested-loop either."""
    plan = _plan(QUERIES["dedup_editdistance"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_editdistance_hot_block_cap_is_broadcast_anti_join(spark):
    """The max_block hot-block cap must stay a broadcast anti-join
    (tiny hot-key list broadcast onto the blocked relation) — a
    refactor to a count window would sort the full blocked relation,
    and dropping the cap entirely reintroduces O(block²) pair
    generation on Zipfian name prefixes."""
    plan = _plan(QUERIES["dedup_editdistance"](spark, SF_SMOKE))
    assert "BroadcastExchange" in plan
    assert "LeftAnti" in plan


def test_ivf_assignment_partial_aggregation(spark):
    """The n×K centroid assignment lives in the BUILD query (r05:
    serving reads the persisted index) and must be a max_by groupBy
    with map-side partials (shuffle = one small row per corpus
    vector), never a row_number window over n×K vector-carrying
    rows."""
    import re

    from dbt_project_spark.operators.ivf import ivf_index_dir
    import shutil

    # force the build plan (not the staleness-guard no-op)
    shutil.rmtree(ivf_index_dir(SF_SMOKE), ignore_errors=True)
    from dbt_project_spark.operators.ivf import first_k_centroids, _assign_key
    from dbt_project_spark.functions.expressions import cosine_similarity
    from dbt_project_spark.sources import load_table
    from pyspark.sql import functions as F

    e = load_table(spark, SF_SMOKE, "embeddings")
    cent = first_k_centroids(e, 16)
    scored = (
        e.crossJoin(F.broadcast(cent))
        .withColumn("s", F.round(cosine_similarity("embedding", "ce"), 6))
        .select("vec_id", "cid", "s", "embedding")
    )
    cells = scored.groupBy("vec_id").agg(
        F.max_by("cid", _assign_key()).alias("cid"),
        F.max_by("embedding", _assign_key()).alias("embedding"),
    )
    plan = _plan(cells)
    assert "partial_max_by" in plan
    assert not re.findall(r"\(\d+\) Window\b", plan)

    # the SERVING query must not assign at all: no n×K cross join of
    # the corpus against centroids — only the tiny query-side probe
    # (one window) and the final top-k (one window)
    plan_serve = _plan(QUERIES["ann_ivf_topk"](spark, SF_SMOKE))
    n_windows = len(re.findall(r"\(\d+\) Window\b", plan_serve))
    # probe ranking + final top-k, plus the DPP subquery's textual
    # copy of the probe window — all query-sized, never corpus-sized
    assert n_windows <= 3, f"{n_windows} Window nodes"
    assert "dynamicpruning" in plan_serve.lower()


def test_range_join_is_equi_bucketed(spark):
    """The point-in-interval query must plan an equi-join on the time
    bucket (SMJ/SHJ), never a cartesian/BNL theta join."""
    plan = _plan(QUERIES["range_join_error_impact"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_partitioned_write_prunes_partitions(spark, tmp_path):
    """day-partitioned layout + day filter → PartitionFilters prune the
    scan to one directory (the incremental-pipeline read path)."""
    from dbt_project_spark.sources import load_table

    ev = load_table(spark, SF_SMOKE, "events").withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )
    path = str(tmp_path / "ev_part")
    ev.write.partitionBy("day").parquet(path)
    back = spark.read.parquet(path).filter(F.col("day") == "2024-01-05")
    plan = _plan(back)
    assert "PartitionFilters: [isnotnull(day" in plan
    n_days = ev.select("day").distinct().count()
    assert back.count() == ev.filter("day = '2024-01-05'").count()
    # scan reads 1 of n_days partitions (attr ids vary: day#NN)
    assert "= 2024-01-05)" in plan
    assert n_days > 1


def test_corpus_queries_prune_scan_columns(spark):
    """Corpus family must read only the columns it uses (documents has
    5 columns; contamination needs 2, token stats needs 4)."""
    plan = _plan(QUERIES["contamination_ngram"](spark, SF_SMOKE))
    rs = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "doc_id" in rs and "text" in rs
    assert "n_chars" not in rs and "source" not in rs and "lang" not in rs

    plan = _plan(QUERIES["text_normalize"](spark, SF_SMOKE))
    rs = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "n_chars" not in rs and "lang" not in rs


def test_seq_pack_two_phase_prefix_sum(spark):
    """seq_pack's distributed prefix sum: the corpus-sized side only
    ever sees a BUCKET-partitioned window; the unpartitioned cumsum
    runs on the tiny per-bucket subtotals, which reach the big side
    via broadcast — never a global sort of the corpus."""
    import re

    plan = _plan(QUERIES["seq_pack"](spark, SF_SMOKE))
    assert "BroadcastExchange" in plan
    windows = re.findall(r"\(\d+\) Window\b", plan)
    assert len(windows) == 2
    # the big-side window is partitioned by bucket (no empty
    # partition spec touching the docs scan side)
    assert "windowspecdefinition(bucket" in plan


def test_ohlc_partial_min_by(spark):
    """OHLC open/close must stay one aggregation with map-side
    partials (partial_min_by/partial_max_by), not a row_number
    window: shuffle volume is bars×types, not events."""
    plan = _plan(QUERIES["ohlc_resample"](spark, SF_SMOKE))
    assert "partial_min_by" in plan
    assert "partial_max_by" in plan
    assert plan.count("ShuffleExchange") // 2 <= 1 or _exchanges(plan) <= 1
    assert "Window" not in plan


def test_vocab_topk_take_ordered(spark):
    """Top-K compiles to TakeOrderedAndProject (per-partition heaps),
    never a global Sort of the vocabulary."""
    plan = _plan(QUERIES["vocab_topk"](spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan


def test_time_window_queries_single_exchange(spark):
    """twa + RANGE-frame queries: one hash exchange each (the window
    partition key), nothing else."""
    for name in ("twa_by_type_day", "win_time_range_avg"):
        plan = _plan(QUERIES[name](spark, SF_SMOKE))
        assert _exchanges(plan) == 1, name


def test_span_dedup_no_cartesian_bounded_exchanges(spark):
    """span_dedup: md5-keyed first-occurrence resolution joins back
    without a cartesian product; exchange budget stays at the two
    grouping shuffles (h, doc_id) + at most a broadcast."""
    plan = _plan(QUERIES["span_dedup"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "ShuffledHashJoin" in plan or "SortMergeJoin" in plan or "BroadcastHashJoin" in plan
    assert _exchanges(plan) <= 3


def test_scd2_windows_share_one_partitioning(spark):
    """scd2_user_tier: change-flag lag() and island prefix-sum run over
    the same user_id partitioning — Catalyst plans ONE sort for both
    Window nodes; total exchange budget is the daily agg + the window
    key + the island agg."""
    import re

    plan = _plan(QUERIES["scd2_user_tier"](spark, SF_SMOKE))
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 2
    assert _exchanges(plan) <= 3


def test_event_transitions_window_over_aggregate(spark):
    """event_transitions: the normalizing pct window must run over the
    types×types aggregate, not over raw events — the plan has exactly
    one events-sized shuffle (lead partitioning) plus the tiny agg."""
    plan = _plan(QUERIES["event_transitions"](spark, SF_SMOKE))
    assert _exchanges(plan) <= 3
    assert "CartesianProduct" not in plan


def test_funnel_stage_joins_are_keyed(spark):
    """funnel_conversion: every stage join is an equi-join on user_id
    (no cartesian anywhere despite the final scalar cross join, which
    is broadcast-1-row)."""
    plan = _plan(QUERIES["funnel_conversion"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_grouping_sets_single_expand_single_shuffle(spark):
    """grouping_sets_matrix: 4 grouping sets computed with ONE Expand
    and ONE hash exchange (partial agg before it) — not four scans."""
    plan = _plan(QUERIES["grouping_sets_matrix"](spark, SF_SMOKE))
    assert plan.count("(1) Scan parquet") + plan.count("Scan parquet") >= 1
    assert plan.count("Expand") >= 2  # node appears in tree + details
    assert _exchanges(plan) == 1
    assert "partial_count" in plan or "HashAggregate" in plan


def test_unpivot_adds_no_shuffle(spark):
    """unpivot_daily_metrics: the melt is an Expand over the daily
    aggregate — exchange budget identical to the aggregation alone."""
    plan = _plan(QUERIES["unpivot_daily_metrics"](spark, SF_SMOKE))
    assert _exchanges(plan) == 1
    assert "Expand" in plan


def test_resample_interpolate_one_exchange_two_sorts(spark):
    """resample_interpolate: forward and (reversed) backward fill
    share ONE event_type exchange; the reversal costs a re-sort, not
    a shuffle. (Two sorted Window nodes beat one Window with an
    [current, unboundedFollowing] ignoreNulls frame, which Spark
    evaluates in O(n²) per partition — measured 73 s vs 2 s at
    sf0.1.)"""
    import re

    plan = _plan(QUERIES["resample_interpolate"](spark, SF_SMOKE))
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 2
    assert _exchanges(plan) <= 2  # union branches, then one window key


def test_graph_queries_no_cartesian(spark):
    """triangle_count / pagerank_trade: every stage is an equi-join
    (wedge join, closing semi-join, broadcast rank joins) — a refactor
    that degrades any of them to a cartesian product dies here."""
    for name in ("triangle_count", "pagerank_trade"):
        plan = _plan(QUERIES[name](spark, SF_SMOKE))
        assert "CartesianProduct" not in plan, name


def test_pagerank_ranks_are_broadcast(spark):
    """pagerank catalog row: the bounded trade graph (≤ 100k edges at
    every SF) takes the r13 driver fixed-point kernel — the final plan
    is a local/RDD relation with NO joins and NO exchanges; the
    per-iteration distributed plan died with it. (The distributed
    path's broadcast-vs-shuffle property is pinned on the operator
    with DRIVER_FIXPOINT_MAX_EDGES = 0 in the test below;
    driver-vs-distributed bit-identity in
    tests/test_graph_driver_kernel.py.)"""
    plan = _plan(QUERIES["pagerank_trade"](spark, SF_SMOKE))
    assert "Join" not in plan  # no per-iteration joins remain
    assert _exchanges(plan) == 0
    assert "ExistingRDD" in plan or "LocalTableScan" in plan


def test_pagerank_broadcast_is_conditional_on_node_count(spark, monkeypatch):
    """The generic operator must hint broadcast only under the node
    threshold: past ~10⁷ nodes a broadcast rank table is a driver OOM.
    Both regimes are pinned — the small graph broadcasts even with
    auto-broadcast disabled (explicit hint), the above-threshold
    binding plans shuffle joins for the SAME graph."""
    from dbt_project_spark.operators import graph
    from dbt_project_spark.operators.graph import pagerank_fixedpoint

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1)], "src bigint, dst bigint"
    )
    # A zero edge bound forces the distributed iteration (the default
    # would take the bounded-graph driver kernel, whose plan is a
    # LocalRelation with no joins at all).
    monkeypatch.setattr(graph, "DRIVER_FIXPOINT_MAX_EDGES", 0)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        hinted = _plan(pagerank_fixedpoint(edges, iters=2))
        assert "BroadcastHashJoin" in hinted
        monkeypatch.setattr(graph, "NODE_BROADCAST_MAX_NODES", 0)
        unhinted = _plan(pagerank_fixedpoint(edges, iters=2))
        assert "BroadcastHashJoin" not in unhinted
        assert "SortMergeJoin" in unhinted or "ShuffledHashJoin" in unhinted
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_dynamic_partition_pruning_through_join(spark, tmp_path):
    """DPP: a selective filter on the DIM side must prune the
    partitioned FACT scan at runtime via a dynamicpruning subquery —
    the join-shaped analogue of static partition pruning, and the
    feature that keeps star-join scans sub-linear at 100 TB (only
    matching date partitions are read, without any literal fact
    filter)."""
    from dbt_project_spark.sources import load_table

    ev = load_table(spark, SF_SMOKE, "events").withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )
    path = str(tmp_path / "fact_part")
    ev.write.partitionBy("day").parquet(path)
    fact = spark.read.parquet(path)
    dim = (
        ev.select("day")
        .distinct()
        .withColumn("is_hot", F.col("day") == "2024-01-05")
    )
    joined = fact.join(
        F.broadcast(dim.filter("is_hot")), on="day"
    )
    plan = _plan(joined)
    assert "dynamicpruning" in plan.lower(), plan[:2000]
    expected = ev.filter("day = '2024-01-05'").count()
    assert joined.count() == expected and expected > 0


def test_item_cooc_top_k_is_heap_not_global_sort(spark):
    # the global top-k must be a TakeOrderedAndProject (distributed
    # heap), never a full Sort of the pairs table
    plan = _plan(QUERIES["item_cooc_similarity"](spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_bpe_pair_counts_heap_and_no_cartesian(spark):
    plan = _plan(QUERIES["bpe_pair_counts"](spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_winsorized_bounds_broadcast_back(spark):
    # the per-type percentile bounds join back onto the scan as a
    # broadcast — a shuffle join here would re-shuffle the fact table
    plan = _plan(QUERIES["winsorized_stats"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_two_sample_tests_prune_and_no_cartesian(spark):
    for name in ("ks_test_value", "mannwhitney_value"):
        plan = _plan(QUERIES[name](spark, SF_SMOKE))
        assert "CartesianProduct" not in plan, name
        rs = [l for l in plan.splitlines() if "ReadSchema" in l][0]
        assert "props" not in rs and "user_id" not in rs, name


def test_bigram_lm_joins_are_keyed(spark):
    # model joins (bigram, w1) are equi-joins; the only nested-loop
    # join allowed is the 1-row V broadcast
    plan = _plan(QUERIES["bigram_lm_quality"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") // 2 <= 1


def test_acf_no_cartesian_beyond_lag_dim(spark):
    # every nested-loop join must be a broadcast of a bounded side:
    # the 1-row totals (appearing twice in plan TEXT because the
    # persisted deviation table feeds both den and num branches — the
    # cache dedups execution, not the printed tree), the 6-row lag
    # dimension, and the 1-row denominator. The data-sized joins
    # (grid, shifted self-join) are equi-keyed hash joins.
    plan = _plan(QUERIES["ts_acf_hourly"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") // 2 <= 4
    assert "BroadcastHashJoin" in plan  # grid + lag-shift equi-joins


def test_time_travel_replay_is_windowed_not_joined(spark):
    # the AS OF replay must be one key-partitioned window over the
    # log — never a self-join of log against base
    plan = _plan(QUERIES["time_travel_asof"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "Window" in plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_gini_bounded_exchanges_no_cartesian(spark):
    plan = _plan(QUERIES["gini_user_value"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    n = _exchanges(plan)
    # user totals, distinct-total counts, the bounded-domain window,
    # final 1-row agg — anything beyond ~5 means a lost reuse
    assert n <= 5, f"expected <=5 exchanges, got {n}"


def test_entropy_day_totals_broadcast(spark):
    plan = _plan(QUERIES["entropy_type_daily"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan  # days-sized totals join


def test_dq_audit_single_events_pass(spark):
    """All three events checks (type/value/user) must ride ONE scan —
    a per-check rescan pattern would triple the dominant cost at
    100 TB. (orders is legitimately read twice: wide agg + RI
    anti-join.)"""
    plan = _plan(QUERIES["dq_audit"](spark, SF_SMOKE))
    assert plan.count("events.parquet") // 2 == 1
    assert "CartesianProduct" not in plan


def test_governance_family_no_cartesian(spark):
    for name in (
        "woe_iv_value",
        "seasonal_naive_forecast",
        "seq_trigram_support",
        "quantile_sketch_rollup",
        "markov_next_event_backtest",
        "incremental_rollup_merge",
        "join_size_sample_estimate",
        "sssp_weighted_trade",
        "attribution_u_shape",
        "dedup_containment",
        "user_lifecycle_daily",
        "part_demand_xyz",
        "funnel_time_to_convert",
        "k_anonymity_audit",
        "ts_decompose_daily",
        "stickiness_dau_mau",
        "user_decay_score",
        "revenue_hhi_nation",
    ):
        plan = _plan(QUERIES[name](spark, SF_SMOKE))
        assert "CartesianProduct" not in plan, name


def test_seq_trigram_topk_is_take_ordered(spark):
    """Top-20 trigrams must be a TakeOrderedAndProject over the
    ≤|types|³ aggregate — never a global sort of data rows."""
    plan = _plan(QUERIES["seq_trigram_support"](spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan


def test_join_size_estimate_frequency_vectors_cached(spark):
    """fo/fe each feed three consumers (domain, exact, estimate): the
    persisted keys-sized vectors must be reused so each base table is
    scanned once, not once per consumer."""
    plan = _plan(QUERIES["join_size_sample_estimate"](spark, SF_SMOKE))
    assert "InMemoryTableScan" in plan
    assert plan.count("orders.parquet") // 2 <= 1
    assert plan.count("events.parquet") // 2 <= 1


def test_nb_classifier_broadcasts_model(spark):
    """The λ/prior/class-count model tables must reach the scoring
    join as broadcasts — a shuffled model join would re-shuffle the
    full token stream at 100 TB."""
    plan = _plan(QUERIES["nb_lang_classifier"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_exact_substr_no_pairwise_no_cartesian(spark):
    """ExactSubstr is window-hash based: the plan must contain no
    cartesian/nested-loop pairing and the dup filter must be a
    map-side-combinable aggregate."""
    plan = _plan(QUERIES["exact_substr_spans"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashAggregate" in plan


def test_dsir_lambda_table_broadcast(spark):
    """DSIR's 256-row λ table joins the exploded token stream as a
    broadcast; the token stream itself must never shuffle for it."""
    plan = _plan(QUERIES["dsir_importance_weights"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan


def test_byte_entropy_map_only(spark):
    """The entropy scan is embarrassingly parallel: no Exchange in
    the plan at all (mapInArrow over the scan, final projection)."""
    plan = _plan(QUERIES["mm_byte_entropy"](spark, SF_SMOKE))
    assert "Exchange" not in plan


def test_embedding_dim_drift_single_aggregation_pass(spark):
    """One posexplode + one grouped aggregate: at most one shuffle,
    with partial aggregation below it."""
    plan = _plan(QUERIES["embedding_dim_drift"](spark, SF_SMOKE))
    n = plan.count("Exchange") // 2
    assert n <= 1, f"expected <=1 exchange, got {n}"
    assert "HashAggregate" in plan


def test_prf_rescore_no_cartesian_takeordered(spark):
    """PRF's expanded-term rescoring must pair the corpus with the
    tiny term/stat tables via broadcasts only (the per-term tf is an
    array pass, never a token explode of the corpus), and both
    rankings must be top-k heaps."""
    plan = _plan(QUERIES["query_expansion_prf"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_pii_report_joinless_single_shuffle(spark):
    """PII density is a regex projection plus one rollup: no joins of
    any kind and at most the one aggregate exchange."""
    plan = _plan(QUERIES["pii_density_report"](spark, SF_SMOKE))
    assert "Join" not in plan
    n = plan.count("Exchange") // 2
    assert n <= 1, f"expected <=1 exchange, got {n}"


def test_kfold_windows_stay_per_stratum(spark):
    """The k-fold deal must sort within (lang, source) strata —
    hash-partitioned window, no cartesian, no corpus-wide single
    partition before the K-row rollup."""
    plan = _plan(QUERIES["stratified_kfold_assignment"](spark, SF_SMOKE))
    assert "hashpartitioning" in plan
    assert "CartesianProduct" not in plan


def test_pca_queries_no_cartesian(spark):
    """The power-iteration family pairs the corpus only with 64-row
    broadcast vectors and 1-row maxima."""
    for name in ("embedding_pca_power", "pca_explained_variance"):
        plan = _plan(QUERIES[name](spark, SF_SMOKE))
        assert "CartesianProduct" not in plan, name


def test_r6_series_queries_aggregate_before_windows(spark):
    """cusum_changepoint / seasonal_strength / wasserstein_value_drift:
    the corpus collapses to a bounded grid (days / distinct cents) in
    ONE scan pass before any window runs — the windows must sit above
    an aggregate exchange, and nothing may go pairwise."""
    for name in (
        "cusum_changepoint",
        "seasonal_strength",
        "wasserstein_value_drift",
    ):
        plan = _plan(QUERIES[name](spark, SF_SMOKE))
        assert "CartesianProduct" not in plan, name
        # the grid aggregate exists (partial+final HashAggregate pair)
        assert "HashAggregate" in plan, name
        assert "Window" in plan, name
        # moment/threshold tables ride back as broadcasts, never as a
        # corpus-sized join
        assert "SortMergeJoin" not in plan, name
