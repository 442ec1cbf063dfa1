"""Pipeline runner: manifest state, resume-from-failure, limit,
dry-run, and the domain pipeline end-to-end (SURVEY.md §3.1)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from apl_commissions_etl_spark.plans.pipeline import Pipeline, domain_pipeline


def _mk(spark, n):
    return spark.range(n).select(F.col("id").cast("long").alias("id"))


def test_run_then_resume_skips_completed(spark, tmp_path):
    p = Pipeline("t")
    p.add("a", lambda s, ctx: _mk(s, 10))
    p.add("b", lambda s, ctx: ctx.read("a").filter(F.col("id") < 5))

    r1 = p.run(spark, str(tmp_path / "out"))
    assert [(x.name, x.status, x.rows) for x in r1] == [
        ("a", "completed", 10),
        ("b", "completed", 5),
    ]
    r2 = p.run(spark, str(tmp_path / "out"))
    assert [x.status for x in r2] == ["skipped", "skipped"]


def test_failure_recorded_and_resume_restarts_at_failed_stage(spark, tmp_path):
    root = str(tmp_path / "out")
    calls = {"boom": 0}

    def flaky(s, ctx):
        calls["boom"] += 1
        if calls["boom"] == 1:
            raise RuntimeError("transient")
        return ctx.read("a").withColumn("x", F.lit(1))

    p = Pipeline("t")
    p.add("a", lambda s, ctx: _mk(s, 7))
    p.add("boom", flaky)
    p.add("c", lambda s, ctx: ctx.read("boom"))

    with pytest.raises(RuntimeError):
        p.run(spark, root)

    manifest = [
        json.loads(line)
        for line in open(tmp_path / "out" / "_manifest.jsonl")
        if line.strip()
    ]
    assert [m["status"] for m in manifest if m["stage"] == "boom"] == [
        "started", "failed",
    ]

    r2 = p.run(spark, root)
    assert [(x.name, x.status) for x in r2] == [
        ("a", "skipped"), ("boom", "completed"), ("c", "completed"),
    ]
    assert calls["boom"] == 2


def test_limit_and_dry_run(spark, tmp_path):
    p = Pipeline("t")
    p.add("a", lambda s, ctx: _mk(s, 100))
    r = p.run(spark, str(tmp_path / "lim"), limit=3)
    assert r[0].rows == 3

    p2 = Pipeline("t2")
    p2.add("a", lambda s, ctx: _mk(s, 100))
    r2 = p2.run(spark, str(tmp_path / "dry"), dry_run=True)
    assert r2[0].rows is None
    # dry run writes no stage output
    assert not (tmp_path / "dry" / "a" / "_SUCCESS").exists()


def _jobs_in_group(spark, group, action):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_stage_rows_observed_on_the_write(spark, tmp_path):
    """The manifest's row count costs no job beyond the write itself."""
    def frame(s, ctx=None):
        return _mk(s, 50).filter(F.col("id") % 3 == 0)

    plain = _jobs_in_group(
        spark, "plain-write",
        lambda: frame(spark).write.mode("overwrite").parquet(str(tmp_path / "plain")),
    )
    p = Pipeline("t")
    p.add("a", frame)
    root = str(tmp_path / "out")
    results = []
    staged = _jobs_in_group(
        spark, "pipeline-write", lambda: results.extend(p.run(spark, root))
    )
    assert 0 < staged <= plain
    written = spark.read.parquet(str(tmp_path / "out" / "a")).count()
    assert results[0].rows == written == 17
    manifest = [json.loads(line) for line in open(tmp_path / "out" / "_manifest.jsonl")]
    assert manifest[-1]["rows"] == written


def test_domain_pipeline_end_to_end(spark, sf_dir, tmp_path):
    p = domain_pipeline(sf_dir)
    results = p.run(spark, str(tmp_path / "domain"))
    assert all(r.status == "completed" for r in results)
    by_name = {r.name: r for r in results}
    # GL parquet equals the lazily-planned query result
    gl = spark.read.parquet(str(tmp_path / "domain" / "calc_gl_entries"))
    assert by_name["calc_gl_entries"].rows == gl.count() > 0
    # resume is a no-op
    again = p.run(spark, str(tmp_path / "domain"))
    assert all(r.status == "skipped" for r in again)
