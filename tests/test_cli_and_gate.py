"""CLI smoke tests (in-process) + oracle-gate sensitivity meta-test."""

import json

import duckdb

from dbt_project_spark.cli import main
from dbt_project_spark.oracle_check import check_query
from tests.conftest import SF_SMOKE


def test_cli_query_runs(spark, capsys):
    rc = main(["query", "wt_bounce_rate", "--sf-dir", SF_SMOKE, "--rows", "5"])
    assert rc == 0
    assert "bounce_rate_percentage" in capsys.readouterr().out


def test_cli_unknown_query_lists_catalog(spark, capsys):
    rc = main(["query", "not_a_query"])
    assert rc == 2
    out = capsys.readouterr().out
    assert "unknown query" in out and "tpch_q1" in out


def test_cli_sweep_prints_one_json_line_per_query(spark, capsys):
    rc = main(["sweep", "wt_bounce_rate", "tpch_q6", "--sf-dir", SF_SMOKE])
    assert rc == 0
    lines = [json.loads(x) for x in capsys.readouterr().out.splitlines()]
    assert [x["query"] for x in lines] == ["wt_bounce_rate", "tpch_q6"]
    assert all(x["wall_s"] >= 0 for x in lines)


def test_cli_sweep_unknown_query(spark, capsys):
    assert main(["sweep", "wt_bounce_rate", "not_a_query"]) == 2
    assert "unknown query 'not_a_query'" in capsys.readouterr().out


def test_cli_batch_csv(spark, tmp_path, capsys):
    csv = tmp_path / "traffic.csv"
    csv.write_text(
        "Page Views,Session Duration,Time on Page,timestamp\n"
        "3,120.5,45.2,2024-01-01 00:00:01\n"
        "1,30.0,10.0,2024-01-01 00:01:02\n"
    )
    out = tmp_path / "marts"
    rc = main(["batch", "--input", str(csv), "--out", str(out)])
    assert rc == 0
    got = spark.read.parquet(str(out / "engagement_scores")).collect()
    assert len(got) == 1  # both rows in one 5-min window
    assert got[0]["max_engagement_score"] == 0.4 * 3 + 0.3 * 120.5 + 0.3 * 45.2


def test_oracle_gate_detects_wrong_results(spark):
    """Meta-test: the correctness gate must FLAG a query whose oracle
    disagrees — guards against the gate silently passing everything."""
    from dbt_project_spark.catalog import QUERIES, load_all

    load_all()
    wrong_oracle = "SELECT 123.45 AS bounce_rate_percentage"
    r = check_query(
        spark, SF_SMOKE, "wt_bounce_rate", QUERIES["wt_bounce_rate"], wrong_oracle
    )
    assert not r["ok"] and not r["values_match"]

    wrong_cols = "SELECT 1 AS not_the_column"
    r2 = check_query(
        spark, SF_SMOKE, "wt_bounce_rate", QUERIES["wt_bounce_rate"], wrong_cols
    )
    assert not r2["ok"] and not r2["cols_match"]

    wrong_rows = "SELECT 1.0 AS bounce_rate_percentage UNION ALL SELECT 2.0"
    r3 = check_query(
        spark, SF_SMOKE, "wt_bounce_rate", QUERIES["wt_bounce_rate"], wrong_rows
    )
    assert not r3["ok"]


def test_oracle_gate_precision_sensitivity(spark):
    """A 1e-12 relative error must NOT slip through the 17-digit gate."""
    from dbt_project_spark.catalog import QUERIES, ORACLES, load_all

    load_all()
    con = duckdb.connect()
    true_val = con.execute(
        ORACLES["wt_bounce_rate"].replace("events", f"read_parquet('{SF_SMOKE}/events.parquet')")
    ).fetchone()[0]
    off = true_val * (1 + 1e-12)
    r = check_query(
        spark,
        SF_SMOKE,
        "wt_bounce_rate",
        QUERIES["wt_bounce_rate"],
        f"SELECT {off!r} AS bounce_rate_percentage",
    )
    assert not r["ok"]


def test_cli_explain_shows_pushdown(spark, capsys):
    rc = main(["explain", "tpch_q6", "--sf-dir", SF_SMOKE])
    assert rc == 0
    out = capsys.readouterr().out
    assert "Physical Plan" in out
    assert "PushedFilters" in out
