"""Regenerate SCALING.md: measured scale-up behavior of the headline
queries across the three fixture scale factors, plus the plan-shape
accounting (exchanges / join strategies) that predicts 100 TB behavior.

Method: one FRESH session per scale factor; within a scale factor
each query is timed on its FIRST execution (cold: includes the
session-scoped staging caches that a real service would amortize).
Per-SF sessions keep the cold numbers comparable across the scale
axis: a single long-lived session accumulates every smaller SF's
cached frames and checkpoints, and by sf0.1 that storage pressure
inflated the heavy maintenance queries 3-6x (measured r9 — 89s vs
5.9s fresh for the same query). Plan shapes are read from the
executed plan at the largest scale factor. A query whose time grows
much faster than the row count (superlinear) or whose plan gains
exchanges at scale is the thing to catch here.

Usage: python scripts/gen_scaling.py   (rewrites SCALING.md in place)
"""

from __future__ import annotations

import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from apl_commissions_etl_spark.registry import all_queries
from apl_commissions_etl_spark.session import get_spark

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(REPO, "SCALING.md")
SFS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"]

HEADER = """# SCALING — measured scale-up behavior (generated by scripts/gen_scaling.py)

Cold (first-execution) seconds per query at each fixture scale factor on
local[32], plus the executed-plan shape at sf0.1. `x0.1/x0.01` is the
time ratio across the last 10x data step — the number that predicts the
next 10x. Ratios well under 10 mean the query is dominated by fixed
costs (planning, broadcast build, small-dim work) and has headroom;
ratios near 10 are already data-proportional (linear); anything
materially above 10 would be superlinear and a scale bug.

Plan-shape columns (sf0.1): `exch` = Exchange nodes (shuffles),
`bhj`/`smj` = broadcast-hash vs sort-merge joins, `aqe` = plan is
adaptive. Broadcast joins keep the fact side shuffle-free; at 100 TB
the dims in this domain stay group-scale (BASELINE.md: 12K brokers /
113K policies vs 1.5M+ facts), so bhj remains the right strategy and
`exch` counts the aggregation shuffles that remain.

Caveat: queries backed by the session staging caches (calc cascade,
builder criteria, dhash index) report the STEADY-STATE plan here —
localCheckpoint truncates the lineage, so their exch/bhj counts can
read lower than the cold plan. PLANS.md documents the un-persisted
cold plan shapes for exactly those flagships.
"""


#: headline set: the heavy operator classes (scan-agg, shuffle join,
#: window, domain calc, builder, consolidation, export, dedup, audit)
#: without running every registry entry
HEADLINE = [
    "agg_pricing_summary",
    "agg_group_stats",
    "agg_entropy_routing",
    "agg_conditional",
    "calc_gl_entries",
    "calc_traceability",
    "builder_proposals",
    "builder_overlap_fix",
    "builder_mode_split_configs",
    "consolidate_proposals",
    "export_merge_upsert",
    "join_date_band",
    "join_rate_fallback",
    "win_dedup_keep_latest",
    "cdc_apply_changelog",
    "stream_session_window",
    "seq_asof_attribution",
    "win_sessionize",
    "dim_policies",
    "audit_referential_integrity",
    "audit_observed_gl",
    "audit_join_preflight",
]

#: scale-tracked beside HEADLINE: the incremental-maintenance family
#: recomputes its delta per run by design (there is no steady state to
#: measure — each run IS the maintenance job), and the streamed parity
#: forms run real checkpointed streams with restarts.
EXTRA = [
    "builder_incremental_criteria",
    "builder_incremental_proposals",
    "stream_incremental_criteria_parity",
    "calc_incremental_gl_parity",
    "stream_incremental_gl_parity",
    "calc_incremental_trace_parity",
    "calc_incremental_broker_trace_parity",
    "pipeline_incremental_parity",
    "report_incremental_period_close_parity",
    # r10: consolidation-fold increment and the group-skew stress twins
    # (all one-shot by design, like the rest of the maintenance family)
    "consolidate_incremental_parity",
    "calc_skewed_group_parity",
    "builder_skewed_group_parity",
    # r11: multi-table atomic publish (batch + streamed) + time travel
    "pipeline_txn_commit_parity",
    "stream_txn_commit_parity",
    "sink_time_travel_parity",
    # r12: CDC change-feed emission round trips (batch + streamed; both
    # one-shot lifecycle proofs by design)
    "cdc_emit_roundtrip_parity",
    "stream_cdc_emit_parity",
]


def main() -> None:
    qs = all_queries()
    names = [n for n in HEADLINE + EXTRA if n in qs]

    times: dict[str, dict[str, float]] = {n: {} for n in names}
    rows: dict[str, dict[str, int]] = {n: {} for n in names}
    shapes: dict[str, dict[str, object]] = {}

    for sf_dir in SFS:
        sf = os.path.basename(sf_dir)
        # fresh session per SF (see module docstring): cold numbers
        # must not carry the previous SF's cached frames/checkpoints
        spark = get_spark("scaling")
        for n in names:
            t0 = time.time()
            df = qs[n].spark_fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            times[n][sf] = round(time.time() - t0, 2)
            print(f"[scaling] {n} @ {sf}: {times[n][sf]}s", file=sys.stderr)
        if sf_dir == SFS[-1]:
            for n in names:
                df = qs[n].spark_fn(spark, sf_dir)
                plan = df._jdf.queryExecution().executedPlan().toString()
                shapes[n] = {
                    "exch": len(re.findall(r"\bExchange\b", plan)),
                    "bhj": len(re.findall(r"\bBroadcastHashJoin\b", plan)),
                    "smj": len(re.findall(r"\bSortMergeJoin\b", plan)),
                    "aqe": "AdaptiveSparkPlan" in plan,
                }
        spark.stop()

    lines = [
        HEADER,
        "| query | sf0.001 | sf0.01 | sf0.1 | x0.1/x0.01 | exch | bhj | smj | aqe |",
        "|---|---|---|---|---|---|---|---|---|",
    ]
    for n in names:
        t = times[n]
        r = (
            round(t["sf0.1"] / t["sf0.01"], 1)
            if t.get("sf0.01", 0) > 0.05
            else "-"
        )
        s = shapes.get(n, {})
        lines.append(
            f"| {n} | {t.get('sf0.001', '')} | {t.get('sf0.01', '')} | "
            f"{t.get('sf0.1', '')} | {r} | {s.get('exch', '')} | "
            f"{s.get('bhj', '')} | {s.get('smj', '')} | "
            f"{'y' if s.get('aqe') else 'n'} |"
        )

    lines += [
        "",
        "Reading the table:",
        "",
        "- **Fixed-cost-dominated** (ratio < ~3): the query's sf0.1 time is",
        "  mostly planning + broadcast build + constant-size dims; data",
        "  volume is not yet the driver. These queries would absorb another",
        "  10-100x before the scan/shuffle becomes visible.",
        "- **Data-proportional** (ratio ~3-10): scan/shuffle bound; scales",
        "  with executors. The exchanges counted in `exch` are the terms",
        "  that matter at 100 TB: each is a hash shuffle on a group-scale",
        "  key (certificate/group/broker), all combinable map-side.",
        "- **No sort-merge joins** appear in any headline plan: every",
        "  fact-dim join broadcasts the dim, so the fact table never",
        "  re-partitions between cascade stages. If a dim outgrew the",
        "  broadcast threshold at true 100 TB, AQE would degrade that join",
        "  to SMJ locally rather than failing, and the bucketed-warehouse",
        "  layout (sources/warehouse.py, tests/test_bucketed_join.py)",
        "  is the designed escape hatch: pre-shuffled co-located joins",
        "  with zero exchanges.",
        "- **Aggregation buffers stay numeric** in every fact-scale",
        "  rollup: a single MIN/MAX over a string column demotes the",
        "  whole aggregation from HashAggregate to SortAggregate (a full",
        "  sort of the fact per aggregation level — measured 2-4x on the",
        "  traceability rollup at sf0.1, and sort-bound at 100 TB).",
        "  Per-key string constants come from a pure hash-distinct side",
        "  frame instead; see calc_traceability in PLANS.md, which now",
        "  asserts SortAggregate-free.",
        "",
    ]
    # preserve hand-appended stress sections ("## ..." and below)
    tail = ""
    if os.path.exists(OUT):
        with open(OUT) as fh:
            old = fh.read()
        idx = old.find("\n## ")
        if idx != -1:
            tail = old[idx + 1 :]
    with open(OUT, "w") as fh:
        fh.write("\n".join(lines))
        if tail:
            fh.write("\n" + tail)
    print(f"wrote {OUT}")


if __name__ == "__main__":
    main()
