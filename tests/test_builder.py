"""Unit tests for the proposal builder + consolidation fold, modeled on
the reference's own unit strategy (SURVEY.md §5 item 1 — hand-built
proposal fixtures for contiguous/non-contiguous dates, config changes,
plan conflicts, wildcard plans:
scripts/transforms/__tests__/consolidate-proposals.test.ts:120-471).
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from apl_commissions_etl_spark.operators.consolidate import (
    consolidate_proposals,
    has_plan_conflict,
    parse_codes,
)
from apl_commissions_etl_spark.plans import builder
from apl_commissions_etl_spark.plans.builder_fixtures import register_builder_views

PRESTAGE_SCHEMA = (
    "Id string, GroupId string, EffectiveDateFrom date, EffectiveDateTo date, "
    "DateRangeFrom int, DateRangeTo int, SplitConfigurationMD5 string, "
    "PlanCodes string, ProductCodes string"
)


def d(s: str) -> dt.date:
    return dt.date.fromisoformat(s)


def run_fold(spark, rows):
    out = consolidate_proposals(
        spark.createDataFrame(rows, PRESTAGE_SCHEMA)
    ).collect()
    return {r["RetainedId"]: r.asDict() for r in out}


def test_same_config_merges_noncontiguous_dates(spark):
    # 2020-2021 + 2022-2023 -> one proposal 2020-2023 (ref test:
    # "merges non-contiguous date ranges")
    rows = [
        ("P1", "G1", d("2020-01-01"), d("2021-12-31"), 2020, 2021, "M1", "A,B", "X"),
        ("P2", "G1", d("2022-01-01"), d("2023-12-31"), 2022, 2023, "M1", "A,B", "Y"),
    ]
    out = run_fold(spark, rows)
    assert set(out) == {"P1"}
    r = out["P1"]
    assert r["EffectiveDateFrom"] == d("2020-01-01")
    assert r["EffectiveDateTo"] == d("2023-12-31")
    assert (r["DateRangeFrom"], r["DateRangeTo"]) == (2020, 2023)
    assert r["ProductCodes"] == "X,Y" and r["PlanCodes"] == "A,B"
    assert r["ConsumedCount"] == 1


def test_config_change_closes_run(spark):
    rows = [
        ("P1", "G1", d("2020-01-01"), d("2020-12-31"), 2020, 2020, "M1", "A", "X"),
        ("P2", "G1", d("2021-01-01"), d("2021-12-31"), 2021, 2021, "M2", "A", "X"),
    ]
    out = run_fold(spark, rows)
    assert set(out) == {"P1", "P2"}


def test_partial_plan_overlap_conflicts_but_wildcard_never_does(spark):
    rows = [
        ("P1", "G1", d("2020-01-01"), d("2020-12-31"), 2020, 2020, "M1", "A,B", "X"),
        ("P2", "G1", d("2021-01-01"), d("2021-12-31"), 2021, 2021, "M1", "B,C", "X"),
    ]
    assert set(run_fold(spark, rows)) == {"P1", "P2"}  # partial overlap
    rows_wild = [
        ("P1", "G2", d("2020-01-01"), d("2020-12-31"), 2020, 2020, "M1", "*", "X"),
        ("P2", "G2", d("2021-01-01"), d("2021-12-31"), 2021, 2021, "M1", "B,C", "X"),
    ]
    assert set(run_fold(spark, rows_wild)) == {"P1"}  # wildcard merges
    rows_disjoint = [
        ("P1", "G3", d("2020-01-01"), d("2020-12-31"), 2020, 2020, "M1", "A,B", "X"),
        ("P2", "G3", d("2021-01-01"), d("2021-12-31"), 2021, 2021, "M1", "C,D", "X"),
    ]
    assert set(run_fold(spark, rows_disjoint)) == {"P1"}  # disjoint merges


def test_asymmetric_null_date_merges(spark):
    # EffectiveDateTo: retained-null CLOSED by incoming; incoming-null
    # keeps retained. DateRangeTo: incoming-null FORCES null.
    rows = [
        ("P1", "G1", d("2020-01-01"), None, 2020, 2020, "M1", "A", "X"),
        ("P2", "G1", d("2021-01-01"), d("2021-12-31"), 2021, None, "M1", "A", "X"),
        ("P3", "G1", d("2022-01-01"), None, 2022, 2022, "M1", "A", "X"),
    ]
    out = run_fold(spark, rows)
    r = out["P1"]
    # P2 closed the open EffectiveDateTo; P3's null left it alone
    assert r["EffectiveDateTo"] == d("2021-12-31")
    # P2's null DateRangeTo re-opened it; P3 closed it again
    assert r["DateRangeTo"] == 2022
    assert r["ConsumedCount"] == 2


def test_groups_fold_independently(spark):
    rows = [
        ("P1", "G1", d("2020-01-01"), d("2020-12-31"), 2020, 2020, "M1", "A", "X"),
        ("P2", "G2", d("2021-01-01"), d("2021-12-31"), 2021, 2021, "M1", "A", "X"),
    ]
    assert set(run_fold(spark, rows)) == {"P1", "P2"}


def test_parse_and_conflict_helpers():
    assert parse_codes("*") == {"*"}
    assert parse_codes("A,B") == {"A", "B"}
    assert parse_codes(None) == set()
    assert not has_plan_conflict({"*"}, {"A"})
    assert not has_plan_conflict({"A"}, {"A"})
    assert not has_plan_conflict({"A"}, {"B"})
    assert has_plan_conflict({"A", "B"}, {"B", "C"})


@pytest.fixture(scope="module")
def built(spark, sf_dir):
    register_builder_views(spark, sf_dir)
    certs = spark.table("input_certificate_info")
    criteria = builder.selection_criteria(certs).cache()
    return certs, criteria


def test_criteria_unique_per_certificate(built):
    _, criteria = built
    assert (
        criteria.groupBy("GroupId", "CertificateId").count().filter("count > 1").count()
        == 0
    )


def test_pha_and_conformant_partition_criteria(built):
    _, criteria = built
    pha = builder.pha_routing(criteria)
    ok = builder.conformant_criteria(criteria)
    assert pha.count() + ok.count() == criteria.count()
    # split-mismatch certs are excluded BEFORE the invalid-group check
    assert pha.filter(
        (F.col("EntryType") == 2) & (F.col("Reason").contains("Mismatch"))
    ).count() == 0


def test_hierarchy_hash_is_group_scoped(built):
    certs, _ = built
    # identical tier structures in different groups must hash apart
    # (the reference's fixed cross-group reuse bug)
    h = builder.split_hierarchies(certs)
    cross = (
        h.groupBy("HierarchyHash")
        .agg(F.countDistinct("GroupId").alias("g"))
        .filter(F.col("g") > 1)
    )
    assert cross.count() == 0


def test_continuations_inherit_and_truncate(built, spark):
    certs, criteria = built
    props = builder.build_proposals(criteria)
    fixed = builder.fix_overlapping_date_ranges(props).cache()
    conts = fixed.filter(F.col("IsContinuation") == 1)
    assert conts.count() > 0
    # every continuation starts where a sibling proposal starts and is
    # open-ended to 2099
    assert conts.filter(F.col("EffectiveDateTo") != F.lit("2099-01-01").cast("date")).count() == 0
    # truncated proposals end strictly before their successor starts
    base = fixed.filter(F.col("IsContinuation") == 0)
    overlapping = base.join(
        conts.select(F.regexp_replace("Id", "-CONT$", "").alias("Id2"),
                     F.col("EffectiveDateFrom").alias("NextFrom")),
        F.col("Id") == F.col("Id2"),
    )
    assert overlapping.filter(
        F.col("EffectiveDateTo") != F.date_sub(F.col("NextFrom"), 1)
    ).count() == 0


def test_sampling_validator_all_scenarios_match(spark, sf_dir):
    from apl_commissions_etl_spark.plans.validate import validate_sample

    results = validate_sample(spark, sf_dir, n_per_scenario=15)
    # every planted scenario stratum is present...
    assert {"SingleSplit", "MultiSplit", "DTC", "NonConformant"} <= set(results)
    # ...and the SQL-text re-derivation matches the DataFrame builder
    # 100% (reference requires >= 95%)
    for scenario, (matched, sampled) in results.items():
        assert sampled > 0
        assert matched == sampled, scenario


def test_run_builder_entry_point_modes(spark, sf_dir):
    register_builder_views(spark, sf_dir)
    certs = spark.table("input_certificate_info")
    out = builder.run_builder(spark, certs)
    assert set(out) == {
        "criteria", "pha", "proposals", "proposals_fixed", "split_versions",
        "hierarchies", "key_mappings", "broker_assignments",
    }
    # groups filter narrows every output to those groups
    some = [r.GroupId for r in out["proposals"].select("GroupId").distinct().limit(2).collect()]
    narrowed = builder.run_builder(spark, certs, groups=some)
    got_groups = {
        r.GroupId for r in narrowed["proposals"].select("GroupId").distinct().collect()
    }
    assert got_groups <= set(some) and got_groups
    # limit caps the input rows feeding the DAG
    assert builder.run_builder(spark, certs, limit=10)["criteria"].count() <= 10
    # every proposal has exactly one split version, one day early
    psv = out["split_versions"]
    props = out["proposals"]
    assert psv.count() == props.count()
    joined = psv.join(props, "ProposalId")
    assert joined.filter(
        F.col("EffectiveFrom") != F.date_sub(F.col("EffectiveDateFrom"), 1)
    ).count() == 0
    # hierarchies are proposal-scoped: entity ids never repeat across
    # proposals
    h = out["hierarchies"]
    assert h.groupBy("HierarchyEntityId").count().filter("count > 1").count() == 0


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_run_builder_derives_criteria_once(spark, sf_dir):
    """``F.sha2`` appears only in ``split_hierarchies`` and
    ``selection_criteria``: when no criteria-derived output (nor a mode
    cascade over ``out["criteria"]``) plans a ``sha2(``, every one of
    them reads the checkpoints run_builder materialised instead of
    re-deriving the two certificate-scale aggregations."""
    from apl_commissions_etl_spark.plans import builder_modes as modes

    register_builder_views(spark, sf_dir)
    out = builder.run_builder(spark, spark.table("input_certificate_info"))
    derived = [k for k in out if k != "broker_assignments"]
    assert len(derived) == 7
    for name in derived:
        assert "sha2(" not in _executed_plan(out[name]), name
    cascade = modes.mode_cascade(out["criteria"])
    for name in ("remainder", "nc_certs"):
        assert "sha2(" not in _executed_plan(cascade[name]), name


def test_run_builder_proposals_plan_without_shuffle(spark, sf_dir):
    """The criteria checkpoint is hash-partitioned on GroupId, and
    build_proposals groups by (GroupId, ConfigHash[, CertificateId]),
    so the proposals aggregate without an Exchange."""
    from apl_commissions_etl_spark.caching import _big_heap

    if not _big_heap(spark.range(1)):
        pytest.skip(
            "keyed session_cache layout requires a >=8GiB driver heap "
            "(small-heap sessions deliberately fall back to the plain "
            "checkpoint — run with SPARK_DRIVER_MEM>=8g)"
        )
    register_builder_views(spark, sf_dir)
    out = builder.run_builder(spark, spark.table("input_certificate_info"))
    assert _executed_plan(out["proposals"]).count("Exchange hashpartitioning") == 0


def test_run_builder_dry_run_starts_no_job(spark, sf_dir):
    register_builder_views(spark, sf_dir)
    certs = spark.table("input_certificate_info")
    sc = spark.sparkContext
    sc.setJobGroup("builder-dry-run", "run_builder dry run")
    try:
        builder.run_builder(spark, certs, dry_run=True)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup("builder-dry-run")) == []


def test_mode_split_configs_one_group_per_proposal(spark, sf_dir):
    """mode_prestage_split_configs groups by (GroupId, ProposalId) where
    the reference groups by ProposalId alone. The two agree only while
    each ProposalId belongs to exactly one GroupId (ProposalId embeds
    GroupId, which must stay dash-free to keep the id unambiguous)."""
    from apl_commissions_etl_spark.plans import builder_modes as modes
    from apl_commissions_etl_spark.queries.builder_modes import _cascade
    from apl_commissions_etl_spark.registry import all_queries

    out = all_queries()["builder_mode_split_configs"].spark_fn(spark, sf_dir)
    n = out.count()
    assert n > 0
    assert out.select("ProposalId").distinct().count() == n

    pairs = (
        modes.tagged_keys(_cascade(spark, sf_dir))
        .select("GroupId", modes._pid_col().alias("ProposalId"))
        .distinct()
    )
    assert pairs.groupBy("ProposalId").count().filter("count > 1").count() == 0
    assert pairs.filter(F.col("GroupId").contains("-")).count() == 0
