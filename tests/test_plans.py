"""dbt-style Project tests: ref resolution, topo execution, schema
tests, incremental materialization."""

import pyspark.sql.functions as F
import pytest

from dbt_project_spark.plans import Project, SchemaTestError
from dbt_project_spark.plans.project import (
    accepted_values,
    not_null,
    relationships,
    unique,
)


@pytest.fixture()
def sources(spark):
    users = spark.createDataFrame(
        [(1, "ann", "active"), (2, "bob", "active"), (3, "cyn", "inactive")],
        ["user_id", "name", "status"],
    )
    orders = spark.createDataFrame(
        [(10, 1, 5.0), (11, 1, 7.5), (12, 2, 1.0), (13, 9, 2.0)],
        ["order_id", "user_id", "amount"],
    )
    return {"users": users, "orders": orders}


def test_sql_model_dag_and_refs(spark, sources):
    p = Project(spark, sources)
    p.sql_model("stg_users", "SELECT * FROM {{ source('users') }} WHERE status = 'active'")
    p.sql_model(
        "mart",
        """SELECT u.user_id, COUNT(*) AS n, SUM(o.amount) AS total
           FROM {{ ref('stg_users') }} u
           JOIN {{ source('orders') }} o ON o.user_id = u.user_id
           GROUP BY u.user_id""",
    )
    assert p.models["mart"].deps == ("stg_users",)
    out = {r["user_id"]: (r["n"], r["total"]) for r in p.ref("mart").collect()}
    assert out == {1: (2, 12.5), 2: (1, 1.0)}


def test_python_model_and_run_all(spark, sources):
    p = Project(spark, sources)

    @p.model("doubled")
    def doubled(proj):
        return proj.source("orders").withColumn("amount", F.col("amount") * 2)

    built = p.run()
    assert "doubled" in built
    assert built["doubled"].agg(F.sum("amount")).collect()[0][0] == 31.0


def test_schema_tests_pass_and_fail(spark, sources):
    p = Project(spark, sources)
    p.sql_model("stg_orders", "SELECT * FROM {{ source('orders') }}")
    p.add_test("stg_orders", not_null("order_id"), "not_null")
    p.add_test("stg_orders", unique("order_id"), "unique")
    assert p.test() == {"stg_orders.not_null": 0, "stg_orders.unique": 0}

    p2 = Project(spark, sources)
    p2.sql_model("stg_orders", "SELECT * FROM {{ source('orders') }}")
    p2.add_test(
        "stg_orders",
        relationships("user_id", sources["users"], "user_id"),
        "fk_users",
    )
    with pytest.raises(SchemaTestError, match="fk_users: 1 violations"):
        p2.test()  # order 13 → user 9 missing


def test_accepted_values(spark, sources):
    p = Project(spark, sources)
    p.sql_model("stg_users", "SELECT * FROM {{ source('users') }}")
    p.add_test("stg_users", accepted_values("status", ["active"]), "status_ok")
    with pytest.raises(SchemaTestError):
        p.test()


def test_incremental_materialization(spark, sources, tmp_path):
    target = str(tmp_path / "wh")
    day1 = spark.createDataFrame(
        [("2024-01-01", 1, 5.0), ("2024-01-01", 2, 3.0)], ["d", "k", "v"]
    )
    day2 = spark.createDataFrame([("2024-01-02", 3, 7.0)], ["d", "k", "v"])

    p = Project(spark, {"ev": day1}, target_dir=target)
    p.sql_model(
        "inc", "SELECT d, k, v FROM {{ source('ev') }}",
        materialized="incremental", partition_by="d",
    )
    assert p.ref("inc").count() == 2

    # second run with day1+day2: only day2 rows are appended
    p2 = Project(spark, {"ev": day1.union(day2).union(day1)}, target_dir=target)
    p2.sql_model(
        "inc", "SELECT d, k, v FROM {{ source('ev') }}",
        materialized="incremental", partition_by="d",
    )
    out = p2.ref("inc")
    assert out.count() == 3  # duplicated day1 input NOT re-ingested
    assert out.filter("d = '2024-01-02'").count() == 1


def test_merge_materialization_upserts_by_key(spark, tmp_path):
    """merge materialization: second run upserts overlapping keys,
    appends new keys, touches ONLY the batch's partitions (untouched
    partition files survive byte-identical)."""
    from dbt_project_spark.plans.project import Project

    def mk(rows):
        return spark.createDataFrame(
            rows, "id bigint, day string, val bigint"
        )

    state = {"batch": mk([(1, "d1", 10), (2, "d1", 20), (3, "d2", 30)])}
    proj = Project(spark, sources={}, target_dir=str(tmp_path))

    @proj.model("facts", materialized="merge", partition_by="day",
                unique_key="id")
    def facts(p):
        return state["batch"]

    proj.run(["facts"])
    first = {(r.id, r.day, r.val) for r in spark.read.parquet(
        str(tmp_path / "facts")).collect()}
    assert first == {(1, "d1", 10), (2, "d1", 20), (3, "d2", 30)}

    import os
    d2_files = sorted(os.listdir(str(tmp_path / "facts" / "day=d2")))

    # second batch: update id=2, insert id=4 — both in partition d1
    state["batch"] = mk([(2, "d1", 99), (4, "d1", 40)])
    proj._built.clear()
    proj.run(["facts"])
    got = {(r.id, r.day, r.val) for r in spark.read.parquet(
        str(tmp_path / "facts")).collect()}
    assert got == {
        (1, "d1", 10),   # survivor in touched partition
        (2, "d1", 99),   # upserted
        (3, "d2", 30),   # untouched partition
        (4, "d1", 40),   # inserted
    }
    # d2 partition was not rewritten
    assert sorted(os.listdir(str(tmp_path / "facts" / "day=d2"))) == d2_files


def test_incremental_unreadable_target_raises_and_keeps_history(spark, tmp_path):
    """An existing incremental target that cannot be read must fail the
    run, not pass for a first run: a first run overwrites the target,
    which would replace its whole history with the new batch."""
    import os

    target = str(tmp_path / "wh")
    day1 = spark.createDataFrame([("2024-01-01", 1, 5.0)], ["d", "k", "v"])
    day2 = spark.createDataFrame([("2024-01-02", 3, 7.0)], ["d", "k", "v"])

    def run(ev):
        p = Project(spark, {"ev": ev}, target_dir=target)
        p.sql_model(
            "inc", "SELECT d, k, v FROM {{ source('ev') }}",
            materialized="incremental", partition_by="d",
        )
        return p.ref("inc")

    run(day1)
    root = tmp_path / "wh" / "inc"
    data = sorted(root.rglob("*.parquet"))
    assert data
    for f in data:  # a corrupt footer in every data file
        f.write_bytes(b"not a parquet file")
    before = {str(f): f.read_bytes() for f in root.rglob("*") if f.is_file()}

    with pytest.raises(Exception):
        run(day1.union(day2))
    after = {str(f): f.read_bytes() for f in root.rglob("*") if f.is_file()}
    assert after == before
    assert os.path.isdir(root / "d=2024-01-01")


@pytest.mark.parametrize("materialized", ["incremental", "merge"])
def test_materialized_model_keeps_its_schema(spark, tmp_path, materialized):
    """A run returns the model's own columns, order and types: the
    string partition column stays a string in its place, on the first
    run and on the next, rather than coming back as an inferred DATE
    moved last."""
    target = str(tmp_path / "wh")
    ddl = "d string, k bigint, v double"
    day1 = spark.createDataFrame([("2024-01-01", 1, 5.0)], ddl)
    day2 = spark.createDataFrame([("2024-01-02", 3, 7.0)], ddl)

    def run(ev):
        p = Project(spark, {"ev": ev}, target_dir=target)

        @p.model("m", materialized=materialized, partition_by="d",
                 unique_key="k")
        def _m(proj):
            return proj.source("ev")

        return p.run(["m"])["m"]

    first = run(day1)
    assert first.dtypes == day1.dtypes
    assert [tuple(r) for r in first.collect()] == [("2024-01-01", 1, 5.0)]
    later = run(day1.union(day2))
    assert later.dtypes == day1.dtypes
    assert sorted(tuple(r) for r in later.collect()) == [
        ("2024-01-01", 1, 5.0), ("2024-01-02", 3, 7.0)
    ]


@pytest.mark.parametrize("materialized", ["incremental", "merge"])
def test_empty_first_batch_then_data(spark, tmp_path, materialized):
    """An empty batch leaves a target with no data file (a partitioned
    write of 0 rows writes only _SUCCESS). Both that run and the next,
    non-empty one must succeed, the next one as a first run."""
    target = str(tmp_path / "wh")
    day1 = spark.createDataFrame([("2024-01-01", 1, 5.0)], ["d", "k", "v"])

    def run(ev):
        p = Project(spark, {"ev": ev}, target_dir=target)

        @p.model("m", materialized=materialized, partition_by="d",
                 unique_key="k")
        def _m(proj):
            return proj.source("ev")

        return p.ref("m")

    assert run(day1.limit(0)).count() == 0
    assert not list((tmp_path / "wh" / "m").rglob("*.parquet"))
    rows = run(day1).collect()
    assert [(str(r["d"]), r["k"], r["v"]) for r in rows] == [("2024-01-01", 1, 5.0)]
