"""Planted tests: link prediction on a 4-cycle (closed-form Jaccard 1
for both diagonals) and inter-arrival moments computed by hand."""

from pyspark.sql import functions as F

DAY = 86400
T0 = 1_700_000_000 - (1_700_000_000 % DAY)


def _write_lineitem(spark, path, baskets):
    """baskets: list of part-id lists; order k holds basket k."""
    rows = []
    for ok, parts in enumerate(baskets, start=1):
        for p in parts:
            rows.append(
                (ok, int(p), int(p), 1, 1.0, 1.0, 0.0, 0.0, "N", "O",
                 float(T0))
            )
    spark.createDataFrame(
        rows,
        "l_orderkey bigint, l_partkey bigint, l_suppkey bigint,"
        " l_linenumber int, l_quantity double, l_extendedprice double,"
        " l_discount double, l_tax double, l_returnflag string,"
        " l_linestatus string, __ep double",
    ).select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus",
        F.timestamp_seconds(F.col("__ep")).alias("l_shipdate"),
    ).coalesce(1).write.mode("overwrite").parquet(
        str(path / "lineitem.parquet")
    )


def test_link_prediction_4cycle_diagonals(spark, tmp_path):
    """Cycle 1-2-3-4-1: the two diagonals (1,3) and (2,4) each share
    2 common neighbors, Jaccard = 2/(2+2-2) = 1."""
    from dbt_project_spark.queries_graph import link_prediction_jaccard

    _write_lineitem(spark, tmp_path, [[1, 2], [2, 3], [3, 4], [1, 4]])
    out = link_prediction_jaccard(spark, str(tmp_path)).collect()
    got = {(r["part_a"], r["part_b"]): r for r in out}
    assert set(got) == {(1, 3), (2, 4)}
    for r in got.values():
        assert r["n_common"] == 2
        assert r["deg_a"] == 2 and r["deg_b"] == 2
        assert r["jaccard_micro"] == 1_000_000


def test_link_prediction_excludes_existing_edges(spark, tmp_path):
    """A triangle has no non-adjacent pair → empty result."""
    from dbt_project_spark.queries_graph import link_prediction_jaccard

    _write_lineitem(spark, tmp_path, [[1, 2], [2, 3], [1, 3], [1, 2, 3]])
    assert link_prediction_jaccard(spark, str(tmp_path)).count() == 0


def test_link_prediction_negative_ids_take_unpacked_keys(spark, tmp_path):
    """Parts -3 and -1 share neighbors 7 and 8 and are not adjacent;
    the unrelated edge (-4, 2³¹-1) packs to the same a·2³¹ + b key as
    (-3, -1), so a packed anti-join would drop that pair."""
    from dbt_project_spark.queries_graph import link_prediction_jaccard

    _write_lineitem(
        spark, tmp_path, [[-3, 7], [-3, 8], [-1, 7], [-1, 8], [-4, 2**31 - 1]]
    )
    out = link_prediction_jaccard(spark, str(tmp_path)).collect()
    got = {(r["part_a"], r["part_b"]): r["jaccard_micro"] for r in out}
    assert got == {(-3, -1): 1_000_000, (7, 8): 1_000_000}


def test_link_prediction_degree_broadcast_bounded_by_node_count(
    spark, tmp_path, monkeypatch
):
    """The degree tables have one row per node: with widely spaced ids
    (span 3·10⁶ + 1) and 2m = 8 both over the bound, they must not be
    broadcast even though the m = 4 edge set still is — and the rows
    must equal the broadcast run's."""
    import dbt_project_spark.queries_graph as QG

    ids = [1_000_000, 2_000_000, 3_000_000, 4_000_000]
    a, b, c, d = ids
    _write_lineitem(spark, tmp_path, [[a, b], [b, c], [c, d], [a, d]])

    def run():
        df = QG.link_prediction_jaccard(spark, str(tmp_path))
        plan = df._jdf.queryExecution().executedPlan().toString()
        return sorted(map(tuple, df.collect())), plan.count("BroadcastHashJoin")

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        want, n_bcast = run()
        monkeypatch.setattr(QG, "LP_ANTI_BROADCAST_MAX_EDGES", 4)
        got, n_bounded = run()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert n_bcast - n_bounded == 2  # deg_a and deg_b, not the anti-join
    assert got == want
    assert {(r[0], r[1]) for r in got} == {(a, c), (b, d)}


def test_interarrival_hand_computed_moments(spark, tmp_path):
    from dbt_project_spark.queries_timeseries import interarrival_stats

    rows = [
        (0, float(T0 + 0), 1, "view", 1.0, "{}"),
        (1, float(T0 + 10), 1, "view", 1.0, "{}"),
        (2, float(T0 + 30), 2, "view", 1.0, "{}"),
    ]
    spark.createDataFrame(
        rows,
        "event_id bigint, __ep double, user_id bigint, event_type string,"
        " value double, props string",
    ).select(
        "event_id",
        F.timestamp_seconds(F.col("__ep")).alias("ts"),
        "user_id", "event_type", "value", "props",
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "events.parquet")
    )
    r = interarrival_stats(spark, str(tmp_path)).collect()[0]
    # gaps 10, 20: mean 15; cv2 = (2*500 - 900)/900 = 1/9
    assert r["n"] == 2
    assert r["mean_gap_micro_s"] == 15_000_000
    assert r["cv2_micro"] == 100_000_000 // 900


def test_fd_profile_planted_holds_and_violations(spark, tmp_path):
    """Hand-built tables: each probe has one clean key and a known
    number of violating keys."""
    from dbt_project_spark.queries_pipeline import fd_profile

    # lineitem: okey 1 -> N,N (clean), okey 2 -> N,R (violated);
    # partkey 1 -> supp 1,2 (violated), partkey 2 -> supp 3 (clean)
    _write_lineitem_fd(spark, tmp_path)
    spark.createDataFrame(
        [(1, 1, "O", 10.0, float(T0), "1-URGENT"),
         (2, 1, "O", 10.0, float(T0), "3-MEDIUM"),
         (3, 2, "F", 10.0, float(T0), "1-URGENT")],
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string,"
        " o_totalprice double, __ep double, o_orderpriority string",
    ).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        F.timestamp_seconds(F.col("__ep")).alias("o_orderdate"),
        "o_orderpriority",
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "orders.parquet")
    )
    spark.createDataFrame(
        [(0, float(T0), 1, "view", 1.0, "{}"),
         (1, float(T0 + 1), 1, "view", 1.0, "{}"),
         (2, float(T0 + 2), 2, "view", 1.0, "{}"),
         (3, float(T0 + 3), 2, "click", 1.0, "{}")],
        "event_id bigint, __ep double, user_id bigint, event_type string,"
        " value double, props string",
    ).select(
        "event_id", F.timestamp_seconds(F.col("__ep")).alias("ts"),
        "user_id", "event_type", "value", "props",
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "events.parquet")
    )
    out = {(r["lhs"], r["rhs"]): r for r in fd_profile(spark, str(tmp_path)).collect()}
    lo = out[("l_orderkey", "l_returnflag")]
    assert (lo["n_keys"], lo["viol_keys"], lo["max_distinct_rhs"]) == (2, 1, 2)
    assert lo["viol_micro"] == 500_000
    lp = out[("l_partkey", "l_suppkey")]
    assert (lp["n_keys"], lp["viol_keys"]) == (2, 1)
    oc = out[("o_custkey", "o_orderpriority")]
    assert (oc["n_keys"], oc["viol_keys"]) == (2, 1)
    ue = out[("user_id", "event_type")]
    assert (ue["n_keys"], ue["viol_keys"]) == (2, 1)


def _write_lineitem_fd(spark, path):
    rows = [
        # (okey, partkey, suppkey, returnflag)
        (1, 1, 1, "N"), (1, 1, 2, "N"),
        (2, 2, 3, "N"), (2, 2, 3, "R"),
    ]
    spark.createDataFrame(
        [(o, p, s, 1, 1.0, 1.0, 0.0, 0.0, rf, "O", float(T0))
         for o, p, s, rf in rows],
        "l_orderkey bigint, l_partkey bigint, l_suppkey bigint,"
        " l_linenumber int, l_quantity double, l_extendedprice double,"
        " l_discount double, l_tax double, l_returnflag string,"
        " l_linestatus string, __ep double",
    ).select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus",
        F.timestamp_seconds(F.col("__ep")).alias("l_shipdate"),
    ).coalesce(1).write.mode("overwrite").parquet(
        str(path / "lineitem.parquet")
    )
