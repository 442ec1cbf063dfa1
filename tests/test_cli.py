"""In-process tests for the python -m apl_commissions_etl_spark CLI."""

from __future__ import annotations

from apl_commissions_etl_spark.__main__ import main

SF = "/root/testdata/sf0.001"


def test_list_filters_by_prefix(capsys):
    assert main(["list", "calc_"]) == 0
    out = capsys.readouterr().out
    assert "calc_gl_entries" in out
    assert "agg_pricing_summary" not in out


def test_query_unknown_name_fails(capsys):
    assert main(["query", "no_such_query", "--sf-dir", SF]) == 2


def test_query_runs_registered(spark, capsys):
    assert main(["query", "agg_pricing_summary", "--sf-dir", SF,
                 "--show", "3"]) == 0
    assert "l_returnflag" in capsys.readouterr().out


def test_calculate_counts(spark, capsys):
    assert main(["calculate", "--sf-dir", SF]) == 0
    out = capsys.readouterr().out
    assert "gl:" in out and "broker_trace:" in out and "trace:" in out


def test_validate_all_match(spark, capsys):
    assert main(["validate", "--sf-dir", SF, "--samples", "5"]) == 0
    out = capsys.readouterr().out
    assert "MISMATCH" not in out


def test_pipeline_resume_skips(spark, tmp_path, capsys):
    root = str(tmp_path / "pipe")
    assert main(["pipeline", "--root", root, "--sf-dir", SF]) == 0
    first = capsys.readouterr().out
    assert "completed" in first
    assert main(["pipeline", "--root", root, "--sf-dir", SF]) == 0
    second = capsys.readouterr().out
    assert "skipped" in second and "completed" not in second


def test_explain_prints_plan(spark, capsys):
    assert main(["explain", "join_date_band", "--sf-dir", SF]) == 0
    out = capsys.readouterr().out
    assert "Physical Plan" in out and "BroadcastHashJoin" in out


def test_explain_unknown_name_fails(capsys):
    assert main(["explain", "no_such_query", "--sf-dir", SF]) == 2


def test_sql_over_base_table_and_reporting_view(spark, capsys):
    assert main(["sql",
                 "SELECT o_orderstatus, COUNT(*) AS n FROM orders "
                 "GROUP BY o_orderstatus",
                 "--sf-dir", SF]) == 0
    assert "o_orderstatus" in capsys.readouterr().out
    assert main(["sql",
                 "SELECT COUNT(*) AS brokers FROM EarningBrokers "
                 "WHERE TotalEarnedCommission > 0",
                 "--sf-dir", SF]) == 0
    assert "brokers" in capsys.readouterr().out


BUILDER_OUTPUTS = {
    "criteria", "pha", "proposals", "proposals_fixed", "split_versions",
    "hierarchies", "key_mappings", "broker_assignments",
}


def test_build_proposals_writes_outputs(spark, tmp_path, capsys):
    from apl_commissions_etl_spark.registry import all_queries

    out = tmp_path / "proposals"
    assert main(["build-proposals", "--out", str(out), "--sf-dir", SF]) == 0
    assert {p.name for p in out.iterdir()} == BUILDER_OUTPUTS
    want = all_queries()["builder_proposals"].spark_fn(spark, SF).count()
    assert spark.read.parquet(str(out / "proposals")).count() == want


def test_build_proposals_dry_run_writes_nothing(spark, tmp_path, capsys):
    out = tmp_path / "proposals"
    assert main(["build-proposals", "--out", str(out), "--sf-dir", SF,
                 "--dry-run"]) == 0
    assert not out.exists()
