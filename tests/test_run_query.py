"""run_query CLI (the reference's convert.js generic invocation,
src/scripts/convert.js:1-12): list, run-to-file, print, explain, errors."""

from __future__ import annotations

import json

from monitoring_data_ingestion_spark.scripts.run_query import run

from .conftest import SF_SMOKE


def test_list_contains_catalog(capsys):
    assert run(["--list"]) == 0
    out = capsys.readouterr().out
    assert "q1_pricing_summary" in out
    assert "dedup_minhash_lsh" in out


def test_list_filters_by_tag(capsys):
    assert run(["--list", "--tag", "ivf"]) == 0
    names = [l.split("\t")[0] for l in capsys.readouterr().out.splitlines()]
    assert "knn_ivf" in names and "knn_ivf_trained" in names
    assert "q1_pricing_summary" not in names


def test_unknown_query_errors(capsys):
    assert run(["no_such_query"]) == 2
    assert "unknown query" in capsys.readouterr().err


def test_run_to_parquet(spark, tmp_path, capsys):
    out = str(tmp_path / "res")
    rc = run(
        ["join_broadcast_dims", "--sf-dir", SF_SMOKE, "--output", out], spark=spark
    )
    assert rc == 0
    meta = json.loads(capsys.readouterr().out.strip())
    assert meta["output"] == out
    assert spark.read.parquet(out).count() == 5


def test_print_rows_and_explain(spark, capsys):
    assert run(["join_broadcast_dims", "--sf-dir", SF_SMOKE, "--limit", "3"], spark=spark) == 0
    lines = [l for l in capsys.readouterr().out.splitlines() if l.strip()]
    assert len(lines) == 3
    assert all(isinstance(json.loads(l), dict) for l in lines)

    assert run(["q6_forecast_revenue", "--sf-dir", SF_SMOKE, "--explain"], spark=spark) == 0
    assert "Physical Plan" in capsys.readouterr().out


def test_timings_report_planning_layers_without_executing(spark, capsys):
    jobs_before = spark.sparkContext.statusTracker().getJobIdsForGroup()
    assert run(["grid_polygon_clip", "--sf-dir", SF_SMOKE, "--timings"], spark=spark) == 0
    captured = capsys.readouterr()
    assert captured.out == ""
    rec = json.loads(captured.err.strip().splitlines()[-1])
    assert rec["query"] == "grid_polygon_clip"
    for k in ("build_ms", "analyze_ms", "optimize_ms", "plan_ms"):
        assert rec[k] >= 0.0
    assert spark.sparkContext.statusTracker().getJobIdsForGroup() == jobs_before
