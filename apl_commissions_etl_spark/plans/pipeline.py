"""Driver-side pipeline runner with manifest-based resume — the Spark
equivalent of the reference's orchestrated ETL entry point (SURVEY.md
§3.1; ref scripts/run-pipeline.ts:291-657 + state manager
scripts/lib/state-manager.ts, sql/00a-state-management-tables.sql).

The reference records a state row per step (startStep / completeStep /
failStep) in SQL Server and, on --resume, restarts from the first
incomplete step. Here:

    - a Pipeline is an ordered list of named stages, each a function
      SparkSession -> DataFrame (the "plan" is data, not a planner —
      faithful to the reference's static script list);
    - each stage's output is written to `<root>/<stage>` as parquet
      (the materialization contract of every reference transform,
      S8/S11: TRUNCATE-and-reload == overwrite);
    - a JSON-lines manifest records step status + row count + wall
      time; the row count is observed on the write itself (a
      ``count(1)`` Observation), so recording it costs no second
      scan of the written parquet; resume skips stages whose manifest
      row says 'completed' AND whose output exists — the same
      double-check the reference does against state tables;
    - failures record 'failed' and re-raise; a later run re-executes
      from the failed stage (earlier outputs are reused, not rebuilt);
    - dry_run explains every stage instead of writing (ref --dry-run,
      proposal-builder.ts:415).

Debug record caps (ref --debug, run-pipeline.ts:88-100) map to
``limit``: applied to each stage output before writing.

Scale posture: the manifest is tiny driver-side JSON; all data paths
stay distributed. Downstream stages read the PARQUET of upstream
stages (not the lazy plan), so a resumed run never recomputes
completed work — the same pipeline-breaker semantics as the
reference's per-stage GO materialization.
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

StageFn = Callable[[SparkSession, "PipelineContext"], DataFrame]


@dataclass
class PipelineContext:
    """Handed to every stage: where outputs live + helpers to read
    upstream stage outputs (always from their materialized parquet)."""

    spark: SparkSession
    root: str

    def stage_path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def read(self, name: str) -> DataFrame:
        return self.spark.read.parquet(self.stage_path(name))


@dataclass
class StageResult:
    name: str
    status: str  # completed | skipped | failed
    rows: int | None
    seconds: float


@dataclass
class Pipeline:
    name: str
    stages: list[tuple[str, StageFn]] = field(default_factory=list)

    def stage(self, name: str):
        """Decorator: register the next stage in order."""

        def deco(fn: StageFn) -> StageFn:
            self.add(name, fn)
            return fn

        return deco

    def add(self, name: str, fn: StageFn) -> None:
        if any(n == name for n, _ in self.stages):
            raise ValueError(f"duplicate stage name: {name}")
        self.stages.append((name, fn))

    # -- manifest ---------------------------------------------------------

    def _manifest_path(self, root: str) -> str:
        return os.path.join(root, "_manifest.jsonl")

    def _load_manifest(self, root: str) -> dict[str, dict]:
        state: dict[str, dict] = {}
        path = self._manifest_path(root)
        if os.path.exists(path):
            with open(path) as f:
                for line in f:
                    if line.strip():
                        row = json.loads(line)
                        state[row["stage"]] = row  # last write wins
        return state

    def _append_manifest(self, root: str, row: dict) -> None:
        os.makedirs(root, exist_ok=True)
        with open(self._manifest_path(root), "a") as f:
            f.write(json.dumps(row) + "\n")

    # -- execution --------------------------------------------------------

    def run(
        self,
        spark: SparkSession,
        root: str,
        resume: bool = True,
        limit: int | None = None,
        dry_run: bool = False,
    ) -> list[StageResult]:
        ctx = PipelineContext(spark=spark, root=root)
        state = self._load_manifest(root) if resume else {}
        results: list[StageResult] = []

        for name, fn in self.stages:
            prior = state.get(name)
            out_exists = os.path.exists(ctx.stage_path(name))
            if resume and prior and prior.get("status") == "completed" and out_exists:
                results.append(StageResult(name, "skipped", prior.get("rows"), 0.0))
                continue

            t0 = time.time()
            self._append_manifest(
                root, {"stage": name, "status": "started", "ts": t0}
            )
            try:
                df = fn(spark, ctx)
                if limit is not None:
                    df = df.limit(limit)
                if dry_run:
                    df.explain("formatted")
                    rows = None
                else:
                    obs = Observation()
                    df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
                    df.write.mode("overwrite").parquet(ctx.stage_path(name))
                    rows = obs.get["rows"]
            except Exception as e:
                self._append_manifest(
                    root,
                    {
                        "stage": name,
                        "status": "failed",
                        "error": str(e)[:500],
                        "ts": time.time(),
                    },
                )
                raise
            secs = round(time.time() - t0, 3)
            self._append_manifest(
                root,
                {
                    "stage": name,
                    "status": "completed",
                    "rows": rows,
                    "seconds": secs,
                    "ts": time.time(),
                },
            )
            results.append(StageResult(name, "completed", rows, secs))
        return results


def domain_pipeline(sf_dir: str) -> Pipeline:
    """The full commission ETL as a resumable pipeline: staging
    fixtures -> 8-stage calc (audit-materialized like the reference's
    calc_1..calc_8 tables) -> GL + traceability outputs."""
    from . import calc
    from .fixtures import FIXTURE_VIEWS, register_fixture_views

    p = Pipeline("apl-commissions")

    for view_name, _sql in FIXTURE_VIEWS:
        def stage_fn(spark, ctx, _v=view_name):
            register_fixture_views(spark, sf_dir)
            return spark.table(_v)

        p.add(view_name, stage_fn)

    def calc_outputs(spark, ctx):
        staging = {name: ctx.read(name) for name, _ in FIXTURE_VIEWS}
        return calc.run_calc(staging)

    p.add("calc_gl_entries", lambda spark, ctx: calc_outputs(spark, ctx)["gl"])
    p.add(
        "calc_traceability", lambda spark, ctx: calc_outputs(spark, ctx)["trace"]
    )
    return p
