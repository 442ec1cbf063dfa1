"""Every metric the benchmark prints: unit, direction, the layer it
measures and the end-to-end metric and workload it should move.
``python3 perfbench/run.py --write-manifest`` renders BENCHMARK.json
from these tables; the tests check that the two agree."""

from __future__ import annotations

#: workloads listed in BENCHMARK.json, with why each was chosen
LISTED = {
    "increment_then_close": (
        "Fresh JVM: 3 daily batches of ~1% new + ~1% amended certs (calc on the affected "
        "certs, group-replace merge), then a period close on other inputs; CPU of all four"
    ),
    "proposal_build": (
        "Fresh JVM: 2 proposal builds, caches dropped before each (run_builder 8 outputs, "
        "mode cascade, consolidation) on Zipf-skewed groups; shuffle/hash/fold bound, no calc"
    ),
}

#: runnable by name, not listed: its set-up alone (cold cache fill and
#: per-view warm-up) takes ~40 s, which the measurement budget of 4 + 22
#: runs per listed workload in 3420 s cannot hold (see README.md)
EXTRA = {
    "report_serving": (
        "Closed loop, 1 client, no think time: seeded, filtered requests over the 16 "
        "reporting views on a warm cascade cache; planning bound; tail is p67"
    ),
}

WORKLOADS = {**LISTED, **EXTRA}

STAGES = (
    "stg_premium_transactions", "stg_policies", "stg_proposals",
    "stg_premium_split_versions", "stg_premium_split_participants",
    "stg_hierarchy_versions", "stg_hierarchy_participants", "stg_schedule_rates",
    "stg_certificate_rates", "stg_commission_assignment_versions",
    "stg_commission_assignment_recipients", "calc_gl_entries", "calc_traceability",
)
VIEWS = (
    "EarningBrokers", "Brokers", "BrokerEOInsurances", "BrokerLicenses",
    "GroupCommissionRules", "EarningBrokersWithLicenses", "EarningBrokersWithEO",
    "EarningBrokersWithAppointments", "GLJournalEntries", "PremiumTransactions",
    "Payments", "Schedules", "GroupCommissionRulesWithEarners",
    "BrokersWithAssignments", "GLPeriodClose", "AvailableViews",
)
BUILDER_OUTPUTS = (
    "criteria", "pha", "proposals", "proposals_fixed", "split_versions",
    "hierarchies", "key_mappings", "broker_assignments",
)
MODE_OUTPUTS = (
    "key_mappings", "plan_differentiated", "year_differentiated", "granular",
    "nonconformant_pha",
)

#: name, unit, better, bound (share of the parent's median).  Both are
#: CPU seconds, Spark JVM plus the benchmark's calling thread, counted
#: until the JVM is idle: ``cpu_s`` of the measured operations,
#: ``setup_s`` of session start and set-up.  Wall-clock metrics are
#: printed beside them but not gated: on a shared host they move by
#: more than any bound allowed here (see README.md)
END_TO_END = (
    ("cpu_s", "s", "lower", 0.25),
    ("setup_s", "s", "lower", 0.25),
)

_INC = "increment_then_close"
_BUILD = "proposal_build"
_SERVE = "report_serving"
_LISTED = f"{_INC}, {_BUILD}"
_DAY = f"cpu_s (wall: latency_p50_s, latency_tail_s) on {_INC}"


def _layer(layer: str, moves: str, *metrics: tuple[str, str, str]) -> list[tuple]:
    return [(f"{layer}.{name}", unit, better, layer, moves) for name, unit, better in metrics]


#: name, unit, better, layer, "<end-to-end metric> on <workloads>":
#: the per-layer metrics of the listed workloads (BENCHMARK.json)
PER_LAYER = (
    _layer("session", "setup_s on all", ("init_s", "s", "lower"))
    + _layer("sources", f"cpu_s (wall: run_s, rows_per_s) on {_INC}",
             ("scan_rows", "count", "lower"), ("scan_bytes", "bytes", "lower"),
             ("fact_scans", "count", "lower"))
    + _layer("plans.fixtures", _DAY,
             ("register_s", "s", "lower"), ("self_s", "s", "lower"))
    + _layer("plans.pipeline", f"cpu_s (wall: run_s) on {_INC}",
             ("staging_s", "s", "lower"), ("self_s", "s", "lower"),
             *[(f"stage_s.{st}", "s", "lower") for st in STAGES])
    + _layer("plans.calc", f"cpu_s (wall: every metric) on {_INC}",
             ("build_s", "s", "lower"), ("action_s.gl", "s", "lower"),
             ("action_s.trace", "s", "lower"), ("cascade_passes", "count", "lower"),
             ("slot_util", "ratio", "higher"), ("shuffle_write_bytes", "bytes", "lower"),
             ("self_s", "s", "lower"))
    + _layer("plans.builder", f"cpu_s (wall: run_s) on {_BUILD}",
             ("cert_expansion_s", "s", "lower"),
             *[(f"action_s.{o}", "s", "lower") for o in BUILDER_OUTPUTS],
             ("shuffle_write_bytes", "bytes", "lower"), ("spill_bytes", "bytes", "lower"),
             ("task_skew", "ratio", "lower"), ("self_s", "s", "lower"))
    + _layer("plans.builder_modes", f"cpu_s (wall: run_s) on {_BUILD}",
             ("cascade_s", "s", "lower"),
             *[(f"action_s.{o}", "s", "lower") for o in MODE_OUTPUTS],
             ("shuffle_write_bytes", "bytes", "lower"), ("spill_bytes", "bytes", "lower"),
             ("task_skew", "ratio", "lower"), ("self_s", "s", "lower"))
    + _layer("operators.consolidate", f"cpu_s (wall: run_s) on {_BUILD}",
             ("fold_s", "s", "lower"), ("rows_in", "count", "lower"),
             ("rows_out", "count", "lower"), ("self_s", "s", "lower"))
    + _layer("operators.export", _DAY,
             ("merge_s", "s", "lower"), ("baseline_rows_read", "count", "lower"),
             ("rows_replaced", "count", "lower"),
             ("rows_replaced_per_row_read", "ratio", "higher"), ("self_s", "s", "lower"))
    + _layer("sink", f"cpu_s (wall: run_s) on {_LISTED}",
             ("write_s", "s", "lower"), ("bytes_written", "bytes", "lower"),
             ("files_written", "count", "lower"), ("self_s", "s", "lower"))
    + _layer("engine", f"cpu_s (wall: run_s) on {_LISTED}",
             ("jobs", "count", "lower"), ("tasks", "count", "lower"),
             ("executor_cpu_s", "s", "lower"), ("gc_s", "s", "lower"),
             ("shuffle_read_bytes", "bytes", "lower"))
    + _layer("engine", "memory on all (no bound: JVM heap growth is adaptive)",
             ("peak_rss_mb", "MB", "lower"))
    + _layer("trace", "none: the traced run's measured phases, wall time",
             ("run_s", "s", "lower"))
    + _layer("trace", "none: time spent in span bookkeeping", ("overhead_s", "s", "lower"))
    + _layer("trace", "none: share of the measured phases' wall time under child spans",
             ("top_span_coverage", "ratio", "higher"))
)

#: printed, after the listed ones, by report_serving only
REPORT_LAYER = (
    _layer("caching", f"setup_s (wall: latency_p50_s, latency_tail_s) on {_SERVE}",
           ("fill_s", "s", "lower"))
    + _layer("queries.reporting", f"cpu_s (wall: latency_p50_s, latency_tail_s) on {_SERVE}",
             ("build_s", "s", "lower"), ("exec_s", "s", "lower"),
             ("fact_rescans", "count", "lower"), ("self_s", "s", "lower"),
             *[(f"view_s.{v}", "s", "lower") for v in VIEWS])
)


def per_layer(workload: str) -> list[tuple]:
    """The per-layer metrics a traced run of ``workload`` prints."""
    return PER_LAYER + (REPORT_LAYER if workload == _SERVE else [])


def manifest() -> dict:
    """The BENCHMARK.json document."""
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": 10,
        "workloads": [{"name": n, "why": w} for n, w in LISTED.items()],
        "end_to_end": [
            {"name": n, "unit": u, "better": b, "bound": bound}
            for n, u, b, bound in END_TO_END
        ],
        "per_layer": [
            {"name": n, "unit": u, "better": b} for n, u, b, _layer, _moves in PER_LAYER
        ],
    }
