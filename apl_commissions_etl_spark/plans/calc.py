"""The 8-stage commission calculation (ref sql/calc/run-calculation.sql)
as one chained, lazily-planned DataFrame DAG.

Reference semantics per stage (SURVEY.md §2.9), Spark-first execution:

- the premium fact flows through all 8 stages in ONE Catalyst plan --
  no per-stage materialization (the reference truncates+inserts 11
  calc tables; here columns just flow, checkpoint only for audit);
- every dimension side (proposals, split versions/participants,
  hierarchy versions/participants, schedules, assignment versions/
  recipients, certificate rates) is broadcast: group-scale tables are
  orders of magnitude smaller than the premium facts, so the fact side
  NEVER shuffles through stages 2-8;
- date-band joins are equi-key + residual range predicates (J3);
- money math: operands cast to bounded DECIMAL before multiplying so
  both Spark and the oracle compute exact, identically-typed decimals
  (no precision-loss rounding divergence), ROUND half-away-from-zero
  == T-SQL ROUND on positive amounts;
- row-explosion cardinality is preserved exactly: a premium matching
  two proposals yields two rows (the reference keeps both and dedups
  only in traceability -- run-calculation.sql:509-525).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MONEY = "decimal(12,2)"
RATE = "decimal(8,4)"


def pct_of(amount: F.Column, pct: F.Column) -> F.Column:
    """ROUND(amount * pct / 100, 2) with engine-stable decimal typing:
    (12,2) x (8,4) x (3,2) = exact DECIMAL(25,8), then HALF_UP round."""
    return F.round(
        amount.cast(MONEY) * pct.cast(RATE) * F.lit("0.01").cast("decimal(3,2)"), 2
    ).cast(MONEY)


def stage1_premium_context(premiums: DataFrame, policies: DataFrame) -> DataFrame:
    """premiums ⋈ policies; derive IsFirstYear / BasisYear
    (ref run-calculation.sql:58-78). T-SQL DATEDIFF(YEAR) counts
    year boundaries: BasisYear = GREATEST(1, year(txn)-year(eff)+1)."""
    p = premiums.filter(F.col("PremiumAmount") > 0)
    return (
        p.join(policies, "CertificateId")
        .select(
            p["*"],
            policies["GroupId"],
            policies["ProductCode"],
            policies["EffectiveDate"],
            policies["GroupSize"],
        )
        .withColumn(
            "IsFirstYear",
            (F.col("TransactionDate") < F.add_months(F.col("EffectiveDate"), 12)).cast(
                "int"
            ),
        )
        .withColumn(
            "BasisYear",
            F.greatest(
                F.lit(1),
                F.year("TransactionDate") - F.year("EffectiveDate") + 1,
            ),
        )
    )


def stage2_proposals_resolved(s1: DataFrame, proposals: DataFrame) -> DataFrame:
    """⟕ proposals on GroupId + date-band; miss -> ErrorMessage
    (ref run-calculation.sql:93-110)."""
    pr = proposals.select(
        "ProposalId", F.col("GroupId").alias("p_GroupId"),
        "LeadBrokerId", "EffectiveDateFrom", "EffectiveDateTo",
    )
    cond = (
        (s1.GroupId == pr.p_GroupId)
        & (s1.TransactionDate >= pr.EffectiveDateFrom)
        & (pr.EffectiveDateTo.isNull() | (s1.TransactionDate <= pr.EffectiveDateTo))
    )
    return (
        s1.join(F.broadcast(pr), cond, "left")
        .drop("p_GroupId", "EffectiveDateFrom", "EffectiveDateTo")
        .withColumn(
            "ErrorMessage",
            F.when(
                F.col("ProposalId").isNull(),
                "No active proposal found for group on transaction date",
            ),
        )
    )


def stage3_splits_applied(
    s2: DataFrame, split_versions: DataFrame, split_participants: DataFrame
) -> DataFrame:
    """⋈ active split version (date-band) ⋈ participants (1:N row
    explosion); SplitPremium = ROUND(amt*pct/100, 2)
    (ref run-calculation.sql:125-147)."""
    sv = split_versions.filter(F.col("Status") == 1).select(
        "SplitVersionId",
        F.col("ProposalId").alias("sv_ProposalId"),
        F.col("EffectiveFrom").alias("sv_From"),
        F.col("EffectiveTo").alias("sv_To"),
    )
    sp = split_participants.select(
        "SplitParticipantId", "SplitVersionId", "Sequence",
        "SplitPercent", "HierarchyId", "WritingBrokerId",
    )
    vcond = (
        (s2.ProposalId == sv.sv_ProposalId)
        & (s2.TransactionDate >= sv.sv_From)
        & (sv.sv_To.isNull() | (s2.TransactionDate <= sv.sv_To))
    )
    # LEFT joins: the cascade is built once with survivor-annotation
    # semantics; the inner-join stage views are derived by
    # null-rejecting filters, which Catalyst's EliminateOuterJoin
    # rewrites back to inner joins (identical physical plans), while
    # traceability reads the SAME cascade un-filtered -- one pass,
    # no union/anti-join re-execution.
    return (
        s2.join(F.broadcast(sv), vcond, "left")
        .drop("sv_ProposalId", "sv_From", "sv_To")
        .join(F.broadcast(sp), "SplitVersionId", "left")
        .withColumn("SplitPremium", pct_of(F.col("PremiumAmount"), F.col("SplitPercent")))
    )


def stage4_hierarchies_resolved(s3: DataFrame, hierarchy_versions: DataFrame) -> DataFrame:
    """⟕ active hierarchy version (ref run-calculation.sql:162-179)."""
    hv = hierarchy_versions.filter(F.col("Status") == 1).select(
        "HierarchyVersionId", "HierarchyId"
    )
    return s3.join(F.broadcast(hv), "HierarchyId", "left")


def stage5_participants_expanded(
    s4: DataFrame, hierarchy_participants: DataFrame
) -> DataFrame:
    """⋈ hierarchy participants: tier explosion (1:N)
    (ref run-calculation.sql:194-217)."""
    hp = hierarchy_participants.select(
        "HierarchyParticipantId", "HierarchyVersionId",
        "EntityId", "TierLevel", "ScheduleCode", "ParticipantRate",
    )
    # left for the same single-pass traceability reason as stage 3
    return s4.join(F.broadcast(hp), "HierarchyVersionId", "left")


def stage6_rates_applied(
    s5: DataFrame, certificate_rates: DataFrame, schedule_rates: DataFrame
) -> DataFrame:
    """3-level rate fallback cert > participant > schedule, with
    RateSource provenance (ref run-calculation.sql:232-297).
    Schedule lookup: (ScheduleCode, ProductCode, wildcard state,
    GroupSize band); FirstYearRate vs RenewalRate by IsFirstYear
    (ref sql/transforms/04-schedules.sql:128-141)."""
    cr = certificate_rates.select("CertificateId", "CertificateRate")
    sr = schedule_rates.select(
        F.col("ScheduleCode").alias("sr_Code"),
        F.col("ProductCode").alias("sr_Product"),
        F.col("State").alias("sr_State"),
        "GroupSizeFrom", "GroupSizeTo", "FirstYearRate", "RenewalRate",
    )
    scond = (
        (s5.ScheduleCode == sr.sr_Code)
        & (s5.ProductCode == sr.sr_Product)
        & (sr.sr_State == "*")
        & (s5.GroupSize >= sr.GroupSizeFrom)
        & (s5.GroupSize <= sr.GroupSizeTo)
    )
    schedule_rate = F.when(
        F.col("IsFirstYear") == 1, F.col("FirstYearRate")
    ).otherwise(F.col("RenewalRate"))
    return (
        s5.join(F.broadcast(cr), "CertificateId", "left")
        .join(F.broadcast(sr), scond, "left")
        .withColumn("ScheduleRate", schedule_rate)
        .withColumn(
            "AppliedRate",
            F.coalesce(
                F.col("CertificateRate"),
                F.col("ParticipantRate"),
                F.col("ScheduleRate"),
                F.lit(0).cast(RATE),
            ).cast(RATE),
        )
        .withColumn(
            "RateSource",
            F.when(F.col("CertificateRate").isNotNull(), "CertificateRate")
            .when(F.col("ParticipantRate").isNotNull(), "ParticipantRate")
            .when(F.col("ScheduleRate").isNotNull(), "ScheduleLookup")
            .otherwise("NoRate"),
        )
        .drop("sr_Code", "sr_Product", "sr_State", "GroupSizeFrom", "GroupSizeTo",
              "FirstYearRate", "RenewalRate")
    )


def stage7_commissions(s6: DataFrame) -> DataFrame:
    """Commission = ROUND(SplitPremium * rate/100, 2)
    (ref run-calculation.sql:312-331)."""
    return s6.withColumn(
        "Commission", pct_of(F.col("SplitPremium"), F.col("AppliedRate"))
    )


def stage8_assignments_applied(
    s7: DataFrame, assignment_versions: DataFrame, recipients: DataFrame
) -> DataFrame:
    """⟕ assignment version (broker + proposal-or-__DEFAULT__ +
    date-band, Status=0) ⟕ recipients; Assigned = ROUND(c*pct/100,2),
    Retained = c - Assigned (ref run-calculation.sql:346-377)."""
    av = assignment_versions.filter(F.col("Status") == 0).select(
        "AssignmentVersionId",
        F.col("BrokerId").alias("av_BrokerId"),
        F.col("ProposalId").alias("av_ProposalId"),
        F.col("EffectiveFrom").alias("av_From"),
        F.col("EffectiveTo").alias("av_To"),
    )
    rc = recipients.select(
        "AssignmentVersionId", "RecipientBrokerId", "RecipientPercent"
    )
    acond = (
        (s7.EntityId == av.av_BrokerId)
        & ((av.av_ProposalId == s7.ProposalId) | (av.av_ProposalId == "__DEFAULT__"))
        & (s7.TransactionDate >= av.av_From)
        & (av.av_To.isNull() | (s7.TransactionDate <= av.av_To))
    )
    assigned = F.when(
        F.col("RecipientBrokerId").isNotNull(),
        pct_of(F.col("Commission"), F.col("RecipientPercent")),
    ).otherwise(F.lit(0).cast(MONEY))
    return (
        s7.join(F.broadcast(av), acond, "left")
        .join(F.broadcast(rc), "AssignmentVersionId", "left")
        .drop("av_BrokerId", "av_ProposalId", "av_From", "av_To")
        .withColumn("AssignedCommission", assigned)
        .withColumn(
            "RetainedCommission",
            (F.col("Commission").cast(MONEY) - F.col("AssignedCommission")).cast(MONEY),
        )
    )


def _gl_entry_array() -> F.Column:
    """The 1-2 GL entries of one s8 row, as an array to explode: the
    Original entry (retained amount, original broker) and, when an
    assignment routes a nonzero amount to a recipient, the Assigned
    entry. GL ids are the composite natural key
    'GL-{premium}-{participant}-{O|A}'."""
    gl_id = lambda tag: F.concat_ws(  # noqa: E731
        "-", F.lit("GL"), "PremiumTransactionId", "HierarchyParticipantId",
        F.lit(tag),
    )
    entry = lambda tag, broker, amount: F.struct(  # noqa: E731
        gl_id(tag).alias("GlEntryId"),
        F.lit("Original" if tag == "O" else "Assigned").alias("EntryType"),
        broker.alias("BrokerId"),
        amount.cast("double").alias("Amount"),
    )
    entries = F.array(
        entry("O", F.col("EntityId"), F.col("RetainedCommission")),
        F.when(
            F.col("RecipientBrokerId").isNotNull()
            & (F.col("AssignedCommission") != 0),
            entry("A", F.col("RecipientBrokerId"), F.col("AssignedCommission")),
        ),
    )
    return F.filter(entries, lambda e: e.isNotNull())


def gl_entries(s8: DataFrame) -> DataFrame:
    """Original (retained, original broker) ∪ Assigned (assigned
    amount, recipient broker) with deterministic GL ids
    (ref run-calculation.sql:391-456; NEWID() replaced by composite
    natural key -- SURVEY §7.1).

    Single-pass: a UNION of two selects over s8 would execute the
    whole 10-join cascade twice (the branches differ, so no exchange
    reuse); instead each s8 row emits a 1-2 element entry array that
    explodes in the same stage."""
    return (
        s8.select(
            "PremiumTransactionId",
            F.explode(_gl_entry_array()).alias("e"),
        )
        .select(
            F.col("e.GlEntryId").alias("GlEntryId"),
            "PremiumTransactionId",
            F.col("e.BrokerId").alias("BrokerId"),
            F.col("e.EntryType").alias("EntryType"),
            F.col("e.Amount").alias("Amount"),
        )
    )


def broker_trace(s8: DataFrame) -> DataFrame:
    """One broker-traceability row per GL entry with prefixed ids
    (ref sql/calc/run-calculation.sql:575-605): 'BT-{gl id}' linked to
    'TRACE-{premium}', tier level/name, split + rate provenance, and
    the assignment lineage (IsAssigned, AssignedFromBrokerId = the
    original broker when the entry routes to a recipient).

    Single-pass: same 1-2 element entry-array explode as
    ``gl_entries`` with the tier/rate columns carried alongside the
    exploded struct — the reference projects the already-materialized
    GL table; here both GL and this trace derive from one s8 pass.
    BrokerName is synthesized ('Broker-{id}') because the relational
    fixtures carry broker ids only — documented deviation."""
    e = s8.select(
        "PremiumTransactionId", "Sequence", "SplitPercent", "TierLevel",
        "AppliedRate", "RateSource", "HierarchyId", "HierarchyVersionId",
        "EntityId",
        F.explode(_gl_entry_array()).alias("e"),
    )
    assigned = F.col("e.EntryType") == "Assigned"
    return e.select(
        F.concat(F.lit("BT-"), F.col("e.GlEntryId")).alias("Id"),
        F.concat(F.lit("TRACE-"), "PremiumTransactionId").alias(
            "CommissionTraceabilityReportId"
        ),
        F.col("e.BrokerId").alias("BrokerId"),
        F.concat(F.lit("Broker-"), F.col("e.BrokerId")).alias("BrokerName"),
        F.col("TierLevel"),
        F.concat(F.lit("Level "), F.col("TierLevel").cast("string")).alias(
            "LevelName"
        ),
        F.col("Sequence").alias("SplitSequence"),
        F.col("SplitPercent").cast("double").alias("SplitPercent"),
        F.col("AppliedRate").cast("double").alias("RatePercent"),
        "RateSource",
        F.col("e.Amount").alias("CommissionAmount"),
        "HierarchyId",
        "HierarchyVersionId",
        assigned.cast("int").alias("IsAssigned"),
        F.when(assigned, F.col("EntityId")).alias("AssignedFromBrokerId"),
        F.col("e.EntryType").alias("EntryType"),
    )


def _premium_attrs(c8: DataFrame, cols: list[str]) -> DataFrame:
    """One row per premium carrying its stage-1 constants.

    Every ``cols`` column is functionally dependent on
    PremiumTransactionId (they ride in from the premiums ⋈ policies
    join, and the policy dim is unique per certificate), so a
    ``distinct()`` — a pure grouping HashAggregate, string keys
    allowed, NO string aggregation buffers — replaces the per-column
    MIN()s that would force a SortAggregate over the wide cascade."""
    return c8.select("PremiumTransactionId", *cols).distinct()


def traceability(c8: DataFrame) -> DataFrame:
    """Per-premium rollup + failure diagnosis (ref
    run-calculation.sql:470-561): every premium appears exactly once;
    premiums that died mid-pipeline carry a status explaining where.

    Single-pass: ``c8`` is the LEFT-join cascade (every stage-2 row
    survives, annotated with nulls where a downstream join missed), so
    success rollup and failure diagnosis are conditional aggregates
    over ONE execution of the 10-join cascade — the reference's
    base/rollup join (and its double cascade scan) collapses into one
    hash aggregation.

    Plan shape: every aggregation buffer is numeric (min/max over a
    string column would demote the whole aggregation to a
    SortAggregate — chained full sorts of the cascade at scale), so
    this is ONE HashAggregate. ErrorMessage presence is equivalent to
    "some row missed the proposal join", so the status needs only a
    boolean max, not MIN(ErrorMessage)."""
    reached = F.col("HierarchyParticipantId").isNotNull()
    agg = c8.groupBy("PremiumTransactionId").agg(
        F.max(F.col("PremiumAmount").cast("double")).alias("PremiumAmount"),
        F.sum(F.when(reached, F.col("Commission").cast(MONEY))).alias("ok_sum"),
        F.countDistinct("HierarchyParticipantId").alias("ParticipantCount"),
        F.max(F.col("ProposalId").isNull().cast("int")).alias("no_proposal"),
    )
    return agg.select(
        "PremiumTransactionId",
        "PremiumAmount",
        F.coalesce(F.col("ok_sum").cast("double"), F.lit(0.0)).alias(
            "TotalCommission"
        ),
        "ParticipantCount",
        F.when(F.col("no_proposal") == 1, "ProposalResolutionFailed")
        .when(F.col("ok_sum").isNull(), "NoParticipantsExpanded")
        .otherwise("Calculated")
        .alias("TraceStatus"),
    )


def traceability_full(c8: DataFrame) -> DataFrame:
    """The reference's full per-premium traceability with failure
    diagnosis (ref run-calculation.sql:470-561): successful premiums
    roll up from stage 8; failed ones get the error cascade — no
    proposal -> no split version -> no active hierarchy version ->
    unknown.

    Single-pass over the LEFT-join cascade: the reference's NOT-IN +
    three EXISTS probes (which re-ran the cascade 3-4x as independent
    subqueries) become null-flag conditional aggregates over one
    cascade execution. Per-premium constants (certificate, dates,
    amounts, policy attrs) aggregate identically over either branch's
    row set; only ProposalId and the rollup measures are
    branch-conditional.

    Deviation (documented): the reference sums commission as FLOAT
    then rounds; we accumulate exact DECIMAL and round once — same
    printed values, partition-order independent.

    Plan shape (same reasoning as ``traceability``): every
    numeric-buffered aggregate (including min over CertificateId /
    TransactionDate / IsFirstYear / BasisYear — long, timestamp and
    int buffers are all hash-compatible) rides ONE HashAggregate; only
    the string columns (GroupId, ProductCode, ProposalId) would demote
    it to a SortAggregate, so they come from side frames: a pure
    hash-distinct for the per-premium constants, and a narrow
    MIN-over-ProposalId SortAggregate over a pre-deduplicated
    3-column frame instead of dragging the whole 36-column cascade
    through 3 chained sorts."""
    reached = F.col("HierarchyParticipantId").isNotNull()
    measures = c8.groupBy("PremiumTransactionId").agg(
        F.max(reached.cast("int")).alias("any_reached"),
        F.min("CertificateId").alias("PolicyId"),
        F.min("TransactionDate").alias("TransactionDate"),
        F.min(F.col("PremiumAmount").cast("double")).alias("PremiumAmount"),
        F.round(F.sum(F.when(reached, F.col("Commission").cast(MONEY))), 2)
        .cast("double")
        .alias("OkTotalCommission"),
        F.min("IsFirstYear").alias("IsFirstYear"),
        F.min("BasisYear").alias("BasisYear"),
        F.countDistinct(F.when(reached, F.col("HierarchyId"))).alias(
            "OkHierarchyCount"
        ),
        F.sum(reached.cast("long")).alias("OkParticipantCount"),
        (F.sum(F.when(reached, F.col("AssignedCommission").cast(MONEY))) > 0)
        .cast("int")
        .alias("OkHasAssignments"),
        F.max(F.col("SplitParticipantId").isNotNull().cast("int")).alias(
            "has_split"
        ),
        F.max(F.col("HierarchyVersionId").isNotNull().cast("int")).alias(
            "has_hv"
        ),
    )
    attrs = _premium_attrs(c8, ["GroupId", "ProductCode"])
    pids = (
        c8.select("PremiumTransactionId", "ProposalId", reached.alias("reached"))
        .distinct()  # hash agg first: the sort below sees ~1 row/premium
        .groupBy("PremiumTransactionId")
        .agg(
            F.min(F.when(F.col("reached"), F.col("ProposalId"))).alias(
                "OkProposalId"
            ),
            F.min("ProposalId").alias("AnyProposalId"),
        )
    )
    agg = measures.join(attrs, "PremiumTransactionId").join(
        pids, "PremiumTransactionId"
    )
    ok = F.col("any_reached") == 1
    return agg.select(
        F.concat(F.lit("TRACE-"), "PremiumTransactionId").alias("Id"),
        "PremiumTransactionId", "PolicyId", "TransactionDate", "PremiumAmount",
        F.when(ok, F.col("OkTotalCommission")).otherwise(F.lit(0.0)).alias(
            "TotalCommission"
        ),
        F.when(ok, F.col("OkProposalId")).otherwise(F.col("AnyProposalId")).alias(
            "ProposalId"
        ),
        "GroupId", "ProductCode", "IsFirstYear", "BasisYear",
        F.when(ok, F.col("OkHierarchyCount")).otherwise(F.lit(0)).cast("long").alias(
            "HierarchyCount"
        ),
        F.when(ok, F.col("OkParticipantCount")).otherwise(F.lit(0)).cast("long").alias(
            "ParticipantCount"
        ),
        F.when(ok, F.col("OkHasAssignments")).otherwise(F.lit(0)).alias(
            "HasAssignments"
        ),
        F.when(ok, F.lit(0)).otherwise(F.lit(1)).alias("HasErrors"),
        F.when(ok, F.lit(None).cast("string"))
        .when(F.col("AnyProposalId").isNull(), "No matching proposal")
        .when(F.col("has_split") == 0, "No matching split version")
        .when(F.col("has_hv") == 0, "No active hierarchy version")
        .otherwise("Unknown error")
        .alias("ErrorMessages"),
    )


def run_calc(
    staging: dict[str, DataFrame], persist=None
) -> dict[str, DataFrame]:
    """Chain all stages; returns every intermediate + outputs keyed by
    stage name (the reference materializes each as calc_N -- callers
    can checkpoint any of these for audit parity).

    The cascade is built ONCE with left joins (``c3``..``c8``); the
    inner-join stage views ``s3``..``s8`` are null-rejecting filters
    over it (Catalyst rewrites them to inner joins), and both
    traceability outputs aggregate the unfiltered ``c8`` in a single
    pass.

    ``persist``: optional hook applied to the two shared frames (the
    stage-3 prefix ``c3`` and the full cascade ``c8``) — the session
    harness passes ``DataFrame.cache`` so the dozen registered calc
    queries materialize the cascade once per session instead of once
    per query, mirroring the reference's materialized calc_N tables
    (run-calculation.sql TRUNCATE+INSERT per stage). At cluster scale
    the same hook would checkpoint to parquet instead."""
    if persist is None:
        persist = lambda df: df  # noqa: E731
    s1 = stage1_premium_context(
        staging["stg_premium_transactions"], staging["stg_policies"]
    )
    s2 = stage2_proposals_resolved(s1, staging["stg_proposals"])
    c3 = persist(stage3_splits_applied(
        s2,
        staging["stg_premium_split_versions"],
        staging["stg_premium_split_participants"],
    ))
    c4 = stage4_hierarchies_resolved(c3, staging["stg_hierarchy_versions"])
    c5 = stage5_participants_expanded(c4, staging["stg_hierarchy_participants"])
    c6 = stage6_rates_applied(
        c5, staging["stg_certificate_rates"], staging["stg_schedule_rates"]
    )
    c7 = stage7_commissions(c6)
    c8 = persist(stage8_assignments_applied(
        c7,
        staging["stg_commission_assignment_versions"],
        staging["stg_commission_assignment_recipients"],
    ))
    # Explicitly null-reject EVERY survivor key, not just the last one:
    # InferFiltersFromConstraints runs only ONCE in Catalyst's batch
    # order, so a single isNotNull converts at most two outer-join
    # levels back to inner. Spelling out all four lets predicate
    # pushdown place one null-rejecting filter directly above each
    # left join, and EliminateOuterJoin restores the full inner-join
    # plan (verified: zero LeftOuter on the sv/sp/hv/hp joins).
    survived_split = (
        F.col("SplitVersionId").isNotNull()
        & F.col("SplitParticipantId").isNotNull()
    )
    survived_tier = (
        survived_split
        & F.col("HierarchyVersionId").isNotNull()
        & F.col("HierarchyParticipantId").isNotNull()
    )
    s8 = c8.filter(survived_tier)
    return {
        "s1": s1, "s2": s2,
        "s3": c3.filter(survived_split),
        "s4": c4.filter(survived_split),
        "s5": c5.filter(survived_tier),
        "s6": c6.filter(survived_tier),
        "s7": c7.filter(survived_tier),
        "s8": s8,
        "c8": c8,
        "gl": gl_entries(s8),
        "broker_trace": broker_trace(s8),
        "trace": traceability(c8),
        "trace_full": traceability_full(c8),
    }
