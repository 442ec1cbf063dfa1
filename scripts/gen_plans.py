"""Regenerate PLANS.md: the formatted physical plans of the flagship
queries with the invariants each one is expected to satisfy.

Usage: python scripts/gen_plans.py   (rewrites PLANS.md in place)

This is the committed form of the ".explain and iterate" loop: the
plans below are what the engine actually executes at sf0.01, and the
stated invariants are asserted programmatically here (the script fails
if a plan regresses), complementing tests/test_plan_invariants.py's
registry-wide sweep.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from apl_commissions_etl_spark.caching import _big_heap
from apl_commissions_etl_spark.registry import all_queries
from apl_commissions_etl_spark.session import get_spark

SF = "/root/testdata/sf0.01"
OUT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"
)

#: (query, [must_contain], [must_not_contain], commentary)
AUDITS: list[tuple[str, list[str], list[str], str]] = [
    (
        "calc_gl_entries (un-persisted cascade)",
        ["BroadcastHashJoin"],
        ["SortMergeJoin", "CartesianProduct"],
        "The full 8-stage cascade plus the GL explode as ONE plan "
        "(built here WITHOUT the session localCheckpoint cache, which "
        "in steady state truncates this tree to a materialized-stage "
        "scan): every dim side rides a broadcast, so the premium fact "
        "never re-shuffles between stages.",
    ),
    (
        "builder_proposals",
        [],
        ["CartesianProduct", "BatchEvalPython", "Exchange"],
        "Proposal derivation over the session-cached criteria frame "
        "(a localCheckpoint leaf hash-partitioned on GroupId): both "
        "hash aggregations group by keys that start with GroupId, so "
        "neither shuffles; no Python in the plan.",
    ),
    (
        "join_date_band",
        ["Join"],
        ["BroadcastNestedLoopJoin", "CartesianProduct"],
        "Equi key + BETWEEN residual stays a hash join with the band as "
        "a post-join filter — the date band never degrades the join "
        "strategy.",
    ),
    (
        "join_interval_bucketed",
        ["HashJoin"],
        ["BroadcastNestedLoopJoin", "CartesianProduct"],
        "Big-big point-in-interval with no equi key: the interval side "
        "explodes into covered days and the join is a plain hash join "
        "on the day bucket (broadcast at this SF because the filtered "
        "point side is tiny; sort-merge at scale).",
    ),
    (
        "seq_asof_attribution",
        ["Window"],
        ["BroadcastNestedLoopJoin", "CartesianProduct", "SortMergeJoin"],
        "As-of join with NO join operator at all: the union-marker "
        "window scan replaces the per-user range theta-join. One "
        "user_id exchange feeds a growing-only frame.",
    ),
    (
        "consolidate_proposals",
        ["MapInPandas"],
        ["CartesianProduct"],
        "The one sanctioned Python stage: the ordered 4-rule fold as a "
        "sorted mapInPandas over hash-partitioned groups — one "
        "shuffle, Arrow-batched.",
    ),
    (
        "calc_traceability",
        ["HashAggregate"],
        ["SortAggregate", "SortMergeJoin", "CartesianProduct"],
        "Per-premium rollup as ONE HashAggregate over the cascade: "
        "every aggregation buffer is numeric (string MIN/MAX would "
        "demote the whole aggregation to chained SortAggregates — "
        "full sorts of the fact at scale).",
    ),
    (
        "mode_cascade (finest routing aggregation)",
        ["BroadcastHashJoin"],
        ["SortMergeJoin", "CartesianProduct", "BatchEvalPython"],
        "The 06b-06e config-mode cascade's single certificate-scale "
        "pass: the criteria pre-aggregate to the finest routing key "
        "(Group, EffDate, Product, Plan, ConfigHash) in one combinable "
        "shuffle; the multi-config group filter re-aggregates the "
        "key-scale result and re-enters as a broadcast join. Every "
        "later cascade level consumes this frame — the certificate "
        "fact is never shuffled again (the one-shuffle contract is "
        "count-asserted in tests/test_round3_ops.py).",
    ),
    (
        "stream_dedup_ttl",
        ["Window"],
        ["CartesianProduct", "BatchEvalPython", "SortMergeJoin"],
        "Batch twin of the TTL-state streaming dedup: one "
        "gaps-and-islands window pass per key — the LAG and the "
        "emission filter share a single (user, type) exchange.",
    ),
    (
        "audit_join_preflight",
        ["HashAggregate"],
        ["CartesianProduct", "BatchEvalPython", "SortMergeJoin"],
        "Join pre-flight: two key-scale multiplicity aggregations and "
        "one key-scale join; the broadcast side-total frames appear as "
        "single-row nested-loop joins (cost-free), and the fact-scale "
        "join being estimated never executes.",
    ),
    (
        "pipeline_incremental_parity",
        ["BroadcastHashJoin"],
        ["CartesianProduct", "BatchEvalPython"],
        "The chained single-pass increment (builder criteria + "
        "proposals, GL, traceability, broker trace in one maintenance "
        "transaction): every delete arm is a broadcast anti-join "
        "against the delta-scale affected keys, the delta cascade's "
        "shared c3/c8 are lazy localCheckpoints (computed once, read "
        "by three arms), and each arm unions baseline-survivors with "
        "its recomputed delta.",
    ),
    (
        "consolidate_incremental_parity",
        ["MapInPandas", "BroadcastHashJoin"],
        ["CartesianProduct", "BatchEvalPython", "SortMergeJoin"],
        "Consolidation-fold maintenance (r10): the baseline fold "
        "anti-joins the broadcast touched-group set (delete arm), the "
        "touched groups' full history keyed-fetches through a "
        "broadcast semi-join and re-folds through the sanctioned "
        "sorted mapInPandas stage — only the touched groups ever "
        "reach Python, everything else is the baseline union arm.",
    ),
    (
        "calc_skewed_group_parity",
        ["BroadcastHashJoin"],
        ["CartesianProduct", "BatchEvalPython", "SortMergeJoin"],
        "The group-skew stress cascade (r10): with ~40% of "
        "certificates remapped into one group, the plan is the SAME "
        "broadcast-narrow cascade — no join strategy degrades and "
        "nothing hash-partitions the fact by the hot GroupId, which "
        "is why SCALING.md's skew section measures max/median task "
        "ratios near 1 for the skewed run.",
    ),
    (
        "pipeline_txn_commit_parity",
        [],
        ["CartesianProduct", "BatchEvalPython", "SortMergeJoin"],
        "Multi-table atomic publish (r11): the returned frame is the "
        "PUBLISHED five-table set read back through the transaction "
        "manifest (materialized before the temp root is removed), so "
        "this plan is by design a snapshot scan — the compute plan is "
        "pipeline_incremental_parity's audited broadcast-narrow "
        "increment, and the transactional invariants (crash window "
        "between table writes leaves readers on the previous set's "
        "exact immutable directories; replay guard; one-flip publish) "
        "are asserted inside the query and in tests/test_txn.py.",
    ),
    (
        "sink_time_travel_parity",
        [],
        ["CartesianProduct", "BatchEvalPython", "SortMergeJoin"],
        "Time-travel parity (r11): the returned frame unions the four "
        "published versions read back AS OF through the sink's version "
        "history (materialized before the temp sink is removed — a "
        "snapshot-scan plan by design). Each version write is the "
        "merge sink's broadcast upsert; the as-of resolution is pure "
        "metadata (the state file's history), which is the point: at "
        "100 TB VERSION AS OF costs one snapshot scan, no recompute.",
    ),
    (
        "cdc_emit_roundtrip_parity",
        [],
        ["CartesianProduct", "BatchEvalPython", "SortMergeJoin"],
        "CDC emission round trip (r12): the returned frame is the "
        "changelog-only reconstruction (materialized before the temp "
        "sinks are removed — a snapshot-scan plan by design). The "
        "emission arms inside the lifecycle are the merge's own "
        "broadcast joins (delta keys broadcast against the target, "
        "which never shuffles to produce its feed), the fold is one "
        "keyed window over the log, and fold(log<=N)==table_as_of(N) "
        "is asserted per commit with distributed aggregate "
        "fingerprints — no data-row collect on either side.",
    ),
]


def main() -> None:
    spark = get_spark("plans", shuffle_partitions=8)
    heap_gib = spark.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory() / (1 << 30)
    if not _big_heap(spark.range(1)):
        # small-heap sessions skip the keyed session checkpoints
        # (caching.session_cache), so their plans show shuffles the
        # engine's configured sessions never run
        sys.exit(
            f"gen_plans: driver heap {heap_gib:.1f} GiB is below the 8 GiB the "
            "keyed session checkpoints need; set SPARK_DRIVER_MEM>=8g"
        )
    qs = all_queries()
    sections: list[str] = [
        "# PLANS — flagship physical plans (generated)\n",
        "Regenerate with `python scripts/gen_plans.py`. The stated\n"
        "invariants are ASSERTED at generation time: this file cannot\n"
        "be regenerated if a plan regresses. Registry-wide invariants\n"
        "(no row-at-a-time Python, no unbroadcast cartesians) are\n"
        "separately enforced by `tests/test_plan_invariants.py`.\n",
        f"Generated in a session with a {heap_gib:.1f} GiB driver heap.\n",
    ]
    failures: list[str] = []
    for name, must, must_not, note in AUDITS:
        if name.startswith("calc_gl_entries"):
            from apl_commissions_etl_spark.plans import calc
            from apl_commissions_etl_spark.plans.fixtures import (
                FIXTURE_VIEWS,
                register_fixture_views,
            )

            register_fixture_views(spark, SF)
            staging = {n: spark.table(n) for n, _ in FIXTURE_VIEWS}
            df = calc.run_calc(staging)["gl"]
        elif name.startswith("mode_cascade"):
            from apl_commissions_etl_spark.plans import builder_modes as modes
            from apl_commissions_etl_spark.queries.builder import _criteria

            df = modes.finest_configs(_criteria(spark, SF))
        else:
            df = qs[name].spark_fn(spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        for m in must:
            if m not in plan:
                failures.append(f"{name}: expected {m!r} in plan")
        for m in must_not:
            if m in plan:
                failures.append(f"{name}: forbidden {m!r} in plan")
        # keep the operator tree, drop the verbose field dumps; mask
        # the session counters (expression ids, exchange plan ids,
        # lambda variable suffixes) so an unchanged plan regenerates
        # byte-identically and the cut below lands on the same character
        tree = "\n".join(
            ln for ln in plan.splitlines() if not ln.lstrip().startswith("+- Project [")
        )
        tree = re.sub(r"#\d+", "#", tree)
        tree = re.sub(r"plan_id=\d+", "plan_id=", tree)
        tree = re.sub(r"lambda (\w+?)_\d+", r"lambda \1_", tree)
        if len(tree) > 4000:
            tree = tree[:4000] + "\n… (truncated)"
        sections.append(
            f"## {name}\n\n{note}\n\n"
            f"Expected: {', '.join(must) if must else '—'}; "
            f"forbidden: {', '.join(must_not)}.\n\n"
            f"```\n{tree}\n```\n"
        )
    if failures:
        print("PLAN REGRESSIONS:\n" + "\n".join(failures))
        sys.exit(1)
    with open(OUT, "w") as f:
        f.write("\n".join(sections))
    print(f"PLANS.md regenerated: {len(AUDITS)} plans, all invariants hold")


if __name__ == "__main__":
    main()
