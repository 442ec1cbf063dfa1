"""Family-suite queries: one driver-checkable row per sub-pattern.

The driver's correctness gate verifies a fixed-size prefix of the
registry, so each operator FAMILY also registers one compact "suite"
query: a UNION ALL with one row per sub-pattern.  Each row reduces the
FULL output of an already-registered query to a stable fingerprint:

    (pattern, n_rows, int_sum, cents_sum, flag_sum, str_min, str_max)

- ``int_sum``   sums every integer column (NULL->0) and date column
  (as days since 1970-01-01) across all rows;
- ``cents_sum`` sums money/float columns as ROUND(x*100) BIGINT cents
  (NaN->-1, NULL->0) — exact because every sub-query already produces
  engine-deterministic numerics (decimal accumulation, *100 rounding);
- ``flag_sum``  folds booleans (NULL=2/true=1/false=0) and the non-null
  count of fingerprint-skipped columns (timestamps, arrays, binary);
- ``str_min``/``str_max`` are the lexicographic extremes of the
  '|'-joined string columns (NULL->'~').

The Spark side re-runs the registered ``spark_fn`` and applies the
fingerprint aggregation over a temp view; the oracle wraps the
registered oracle SQL in the equivalent DuckDB aggregation (generated
by ``scripts/gen_suites.py`` into ``suites_gen.py`` from each engine's
actual result schema and verified side-by-side at two scale factors).
A value, row-count, or schema drift in ANY sub-pattern therefore
surfaces in that sub-pattern's suite row.

Sub-queries stay individually registered (and locally swept by
``scripts/check_oracle.py``); suites exist so one driver slot verifies
a whole family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..registry import REGISTRY, query

#: shared result schema of every generated fingerprint sub-query
#: (scripts/gen_suites.py emits exactly these 7 columns per sub)
FINGERPRINT_SCHEMA = (
    "pattern string, n_rows bigint, int_sum bigint, cents_sum bigint, "
    "flag_sum bigint, str_min string, str_max string"
)

#: suite name -> (survey_ref, ordered sub-query names).  Fingerprint
#: SQL for each sub lives in suites_gen.py (regenerate with
#: ``python scripts/gen_suites.py`` after changing a sub-query's schema).
SUITE_DEFS: dict[str, tuple[str, tuple[str, ...]]] = {
    "agg_patterns_suite": (
        "§2.4 A1-A12 aggregation family fingerprints "
        "(each sub-query maps to its own reference site; see the "
        "sub-queries' survey_refs) + the mergeable quantile sketch and "
        "partial-aggregate merge proof",
        (
            "agg_pricing_summary",
            "agg_group_stats",
            "agg_conditional",
            "agg_having",
            "agg_string_agg_ordered",
            "agg_dedup_normalized_key",
            "agg_min_per_key_prefiltered",
            "agg_conformance_banding",
            "agg_entropy_routing",
            "agg_collect_accumulate",
            "agg_summary_union_counts",
            "agg_quantile_sketch",
        ),
    ),
    "dim_entities_suite": (
        "§7.3 dimension/staging transforms beyond the four dedicated dim "
        "slots: schedules, schedule-rate fallback, products, plans, "
        "policies, banking, licenses, premium transactions, deprecated "
        "hierarchies, state rules",
        (
            "dim_schedules",
            "dim_schedule_rate_fallback",
            "dim_products",
            "dim_plans",
            "dim_policies",
            "dim_broker_banking",
            "dim_broker_licenses",
            "dim_premium_transactions",
            "deprecated_hierarchies",
            "hier_state_rules",
        ),
    ),
    "prep_patterns_suite": (
        "§2.2 P1-P3 (trim/safe-cast), P5 (NOT-NULL gate), P9 (invalid-"
        "group regex), P10 (exclusion list), P11 (heuristic predicates) "
        "+ §2.1 format round trips (JSONL, ORC, partitioned-parquet "
        "pruning sink, text-log parse, S5 ZIP extract + prefix "
        "discovery — rotated out of its dedicated r1-era slot in r9 "
        "after seven consecutive driver-green rounds)",
        (
            "prep_safe_cast",
            "prep_conformance_gate",
            "prep_invalid_group_regex",
            "prep_exclusion_list",
            "prep_heuristic_predicates",
            "ingest_jsonl_typed",
            "ingest_orc_roundtrip",
            "sink_partitioned_prune",
            "ingest_log_parse",
            "ingest_zip_prefix_summary",
        ),
    ),
    "join_patterns_suite": (
        "§2.3 J1 (inner equi), J4 (numeric band theta), J7 (semi), J8 "
        "(anti idempotent insert), J10 (lateral count), J12 (multi-source "
        "fallback chain), J13 (same dim twice), J14 (wildcard key), J15 "
        "(closest year); J2/J3/J5/J6 are driver-checked via the calc "
        "stages, J9/J11 via builder_simple_proposals/func_json_shred",
        (
            "join_inner_equi",
            "join_numeric_band_theta",
            "join_semi",
            "join_anti_idempotent_insert",
            "join_lateral_count",
            "join_fallback_chain_multisource",
            "join_same_dim_twice",
            "join_wildcard_key",
            "join_closest_year",
        ),
    ),
    "win_patterns_suite": (
        "§2.5 W1 (global ROW_NUMBER), W2 (partitioned seq), W4 (LEAD "
        "range normalization), W5 (LAG gap detection); W3 is driver-"
        "checked via builder_broker_assignments",
        (
            "win_global_rownumber_dim",
            "win_partitioned_seq",
            "win_lead_normalize_ranges",
            "win_lag_gap_detection",
        ),
    ),
    "ord_setop_suite": (
        "§2.6 O2 (TOP N samples), O3 (deterministic sample); §2.7 U1 "
        "(UNION dedup), U2 (UNION ALL tagged), U3 (EXCEPT remainder)",
        (
            "ord_topn",
            "ord_deterministic_sample",
            "setop_union_dedup",
            "setop_union_all_tagged",
            "setop_except_remainder",
        ),
    ),
    "report_views_suite": (
        "§2.12 reporting layer: all 16 reference views "
        "(create-reporting-schema.sql:1-673) fingerprinted",
        (
            "report_earning_brokers",
            "report_brokers",
            "report_broker_eo_insurances",
            "report_broker_licenses",
            "report_commission_rules",
            "report_earning_brokers_licenses",
            "report_earning_brokers_eo",
            "report_earning_brokers_appointments",
            "report_gl_entries_enriched",
            "report_premium_transactions",
            "report_payments",
            "report_schedules_rates",
            "report_commission_hierarchy",
            "report_brokers_with_assignments",
            "report_available_views",
            "report_gl_period_close",
        ),
    ),
    "seq_patterns_suite": (
        "§2.13 sequence analytics + event-stream surface: funnel, "
        "cohort retention, transition matrix, as-of attribution, JSON "
        "props rollup, batch sessionization, time-bucket rollup, "
        "rolling z-score anomalies, CDC changelog apply, "
        "partial-aggregate state merge",
        (
            "cdc_apply_changelog",
            "agg_partial_merge",
            "seq_funnel_users",
            "seq_funnel_summary",
            "seq_cohort_retention",
            "seq_transition_matrix",
            "seq_asof_attribution",
            "seq_props_rollup",
            "win_sessionize",
            "agg_time_bucket_rollup",
            "seq_anomaly_zscore",
        ),
    ),
    "stream_patterns_suite": (
        "§2.10 streaming surface, batch-equivalent registrations "
        "(the live readStream/writeStream paths are exercised by "
        "tests/test_streaming*.py): tumbling/sliding/session windows, "
        "watermarked dedup, TTL-bounded stateful dedup, inner/"
        "left-outer stream-stream interval joins, attribution rollup",
        (
            "stream_tumbling_window",
            "stream_sliding_window",
            "stream_session_window",
            "stream_dedup_keep_first",
            "stream_dedup_ttl",
            "stream_interval_join",
            "stream_interval_join_outer",
            "stream_attribution_rollup",
        ),
    ),
    "fix_patterns_suite": (
        "§2 post-transform repair family (sql/fix*, scripts/fix-*): "
        "far-future expiration repair, heaped schedule-rate fix, "
        "proposal effective-date clamp, hierarchy gap linking, "
        "non-conformant group flagging",
        (
            "fix_far_future_expirations",
            "fix_heaped_schedule_rates",
            "fix_proposal_effective_dates",
            "fix_link_hierarchy_gaps",
            "fix_flag_nonconformant_groups",
        ),
    ),
    "audit_patterns_suite": (
        "diagnostic/validation family (sql/analysis/*, reference "
        "check-* scripts): referential-integrity orphan counts, "
        "resolution-chain validation, per-column profiles, "
        "expectation checks, production-readiness report, in-flight "
        "observed GL metrics (Dataset.observe), join pre-flight "
        "fan-out estimation, "
        "conformance grouping-sets + analysis, stratified sampling "
        "validation, equal-split lateral distribution. (The streaming "
        "observe-parity proof stream_observed_gl_parity stays a "
        "standalone oracle-checked entry: folding a live streaming run "
        "into a driver-prefix suite would add a streaming engine + "
        "restart to the gate session's heap for no verification gain)",
        (
            "audit_referential_integrity",
            "audit_resolution_chain",
            "audit_column_profile",
            "audit_expectations",
            "audit_production_readiness",
            "audit_observed_gl",
            "audit_join_preflight",
            "conformance_grouping_sets",
            "conformance_analysis",
            "validate_sampling_report",
            "hier_equal_split_distribution",
        ),
    ),
    "export_entities_suite": (
        "per-entity export family (sql/export/01..17-*.sql S9/S10 "
        "shapes): anti-join insert-missing, UPDATE-join enrichment, "
        "schedule rate tiers, rate-tier volume summary, hierarchy "
        "product rates, snapshot diff, bucketed blob staging, plus "
        "export_merge_upsert itself (rotated out of its dedicated "
        "r1-era slot in r9 after seven consecutive driver-green "
        "rounds; its slot funds incremental_stream_parity_suite)",
        (
            "export_merge_upsert",
            "export_upsert_missing",
            "export_update_join",
            "export_schedule_rate_tiers",
            "export_rate_tier_volume_summary",
            "export_hierarchy_product_rates",
            "export_snapshot_diff",
            "export_blob_staged",
        ),
    ),
    "incremental_parity_suite": (
        "north-star incremental-maintenance family, every grain, each "
        "sub PROVEN equal to its full rebuild by a verbatim full-"
        "rebuild oracle: builder criteria (key grain) + proposals "
        "(group propagation), the 8-stage cascade's three outputs "
        "(explode-grain GL, rollup-grain traceability, lineage-grain "
        "broker trace), the slice-union GL proof, the CHAINED single-"
        "pass increment across all five maintained outputs, and both "
        "STREAMED forms (criteria and GL maintained across checkpointed "
        "restarts "
        "through the exactly-once merge/replace sinks), plus the "
        "TWO-LEVEL view-over-view maintenance of the period-close "
        "rollup (COUNT DISTINCT re-aggregated from the maintained "
        "journal, affected periods only), and (r10) the CONSOLIDATION "
        "fold — the ordered mapInPandas fold is group-local, so a "
        "delta batch re-folds only touched groups against the verbatim "
        "recursive-CTE full-rebuild oracle. calc_incremental_gl (the "
        "r7-era slice-union proof) stays a standalone swept entry: it runs "
        "the cascade on BOTH complement slices — nearly two extra "
        "full cascades of gate-session heap — and its proof content "
        "is superseded by the keyed-MERGE parity members here. The "
        "chained and streamed members live in "
        "incremental_stream_parity_suite: one combined suite "
        "intermittently tipped the gate's 1g heap over after the "
        "prefix's 37 prior slots (the batch+stream burst on top of "
        "the session caches), so the family spans two driver slots "
        "with a cleanup boundary between them",
        (
            "builder_incremental_criteria",
            "builder_incremental_proposals",
            "calc_incremental_gl_parity",
            "calc_incremental_trace_parity",
            "calc_incremental_broker_trace_parity",
            "report_incremental_period_close_parity",
            "consolidate_incremental_parity",
        ),
    ),
    "incremental_stream_parity_suite": (
        "the incremental-maintenance family's chained and streamed "
        "members (second driver slot — see "
        "incremental_parity_suite's note on the 1g-heap split): the "
        "CHAINED single-pass increment across all five maintained "
        "outputs, the THREE streamed forms (criteria via keyed merge, "
        "GL and the r10 consolidation fold via group-replace, each "
        "maintained across checkpointed restarts through the "
        "exactly-once sinks), and (r11) the MULTI-TABLE "
        "ATOMIC PUBLISH — the chained increment's five outputs "
        "committed as one version set through the transaction "
        "manifest with a crash injected between table data writes, "
        "read back through the manifest and hash-proven equal to the "
        "monolithic rebuild, and (r12) CDC CHANGE-FEED EMISSION — "
        "both sink kinds emit Delta-CDF-shaped per-commit changelogs "
        "derived from the merge's own arms, proven by fold(log<=N) == "
        "table_as_of(N) for every commit plus a full emit+apply == "
        "independent-rebuild driver hash, batch and streamed across a "
        "crash-interrupted checkpointed restart",
        (
            "pipeline_incremental_parity",
            "stream_incremental_criteria_parity",
            "stream_incremental_gl_parity",
            "stream_consolidate_parity",
            "pipeline_txn_commit_parity",
            "cdc_emit_roundtrip_parity",
            "stream_cdc_emit_parity",
        ),
    ),
}


def _register_suites() -> None:
    try:
        from . import suites_gen
    except ImportError:  # bootstrap: scripts/gen_suites.py not yet run
        import warnings

        warnings.warn("suites_gen.py missing; run scripts/gen_suites.py")
        return

    for suite_name, (ref, subs) in SUITE_DEFS.items():
        missing = [s for s in subs if s not in suites_gen.CHECKSUMS]
        if missing:  # bootstrap: suite skipped until gen_suites.py runs
            import warnings

            warnings.warn(
                f"{suite_name} skipped: no fingerprint for {missing}; "
                "run scripts/gen_suites.py"
            )
            continue
        oracle = "\nUNION ALL\n".join(
            suites_gen.CHECKSUMS[s]["duck"] for s in subs
        )

        def spark_fn(
            spark: SparkSession, sf_dir: str, _subs: tuple[str, ...] = subs
        ) -> DataFrame:
            # Execute the subs ONE AT A TIME and return the collected
            # fingerprints as a literal frame, instead of one giant
            # UNION ALL plan over every sub.  The values are identical
            # (each sub's full plan still executes and aggregates to
            # one fingerprint row); what changes is the session
            # footprint: the external gate runs the 50-query prefix in
            # a bare-default 1g-heap session, and a single plan
            # embedding 25+ sub-queries both spikes planning memory
            # and leaves a monster graph in the UI's retained
            # executions — cumulative heap was the gate's only failure
            # mode (see driver-gate notes in registry.py).  Per-sub
            # actions keep each retained graph small and release each
            # sub's temp view as soon as its row is in hand.
            #
            # In a SMALL-HEAP session additionally bound the shuffle
            # fan-out for the suite's own actions: the bare defaults
            # spawn 200 reducers per exchange, and with ~3,000 stages
            # of mostly-empty tasks behind it the gate session's
            # transient load (task/listener/event objects a System.gc
            # cannot reclaim while in flight) measured 690MB ON TOP of
            # the ~270MB retained state — GC logs show live-after-
            # full-GC peaking at 958M of 1024M inside the tail suite,
            # and 2 of 6 r10 rehearsals died there with a task
            # OutOfMemoryError. Partition count never changes values
            # (every query also passes in the 32-partition configured
            # session — partition-order independence is the engine's
            # determinism contract); it only bounds the burst. The
            # previous setting is restored after the suite.
            rows = []
            prev_parts = None
            try:
                rt = spark.sparkContext._jvm.java.lang.Runtime.getRuntime()
                if rt.maxMemory() < 8 * (1 << 30):
                    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
                    spark.conf.set("spark.sql.shuffle.partitions", "8")
            except Exception:
                prev_parts = None  # connect mode / no JVM handle
            try:
                _run_subs(spark, sf_dir, _subs, rows)
            finally:
                if prev_parts is not None:
                    spark.conf.set(
                        "spark.sql.shuffle.partitions", prev_parts
                    )
            return spark.createDataFrame(rows, FINGERPRINT_SCHEMA)

        def _run_subs(spark, sf_dir, _subs, rows):
            for s in _subs:
                view = f"suite_src_{s}"
                REGISTRY[s].spark_fn(spark, sf_dir).createOrReplaceTempView(view)
                rows.extend(
                    spark.sql(
                        suites_gen.CHECKSUMS[s]["spark"].format(src=view)
                    ).collect()
                )
                spark.catalog.dropTempView(view)
                # Spark's ContextCleaner reclaims dropped broadcasts /
                # localCheckpoint RDDs only after a DRIVER GC enqueues
                # their references; in the gate's 1g-heap session the
                # heavy maintenance subs (delta cascades, streamed
                # merges) can exhaust the heap before an organic GC
                # happens, so nudge one per sub — measured session
                # death mid-suite without it, ~0.1s per call with it
                try:
                    spark.sparkContext._jvm.System.gc()
                except Exception:
                    pass  # diagnostics-only; never fail the suite

        spark_fn.__name__ = suite_name
        spark_fn.__doc__ = (
            "Family fingerprint suite over: " + ", ".join(subs) + "."
        )
        query(suite_name, oracle=oracle, survey_ref=ref)(spark_fn)


_register_suites()
