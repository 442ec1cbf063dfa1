"""Spark-native proposal builder (ref scripts/proposal-builder.ts,
4 191 LoC of single-threaded Node) re-expressed as a lazily-planned
DataFrame DAG — SURVEY.md §2.9 composite #2.

The reference loads every certificate row into the driver heap, groups
in JS Maps, hashes configs with SHA-256, and writes 16 entity arrays
back. Here the same semantics are pure shuffle-group aggregation:

    cert rows --groupBy(cert,split)--> split configs + hierarchy hash
              --groupBy(cert)-------> selection criteria + config hash
              --route--------------> PHA records | conformant
              --groupBy(grp,cfg)---> proposals
              --window LEAD--------> overlap fix + continuations

Scale posture: every step is a keyed aggregation over the certificate
fact — no driver round-trip, no collect, no Python row UDFs. The two
certificate-scale steps are checkpointed once per build, hash-partitioned
on GroupId (``checkpoint_by_group``); everything after them is lazy. The
overlap fix needs NO applyInPandas: the reference's per-group loop
(proposal-builder.ts:1503-1620) only ever compares ADJACENT proposals
using their ORIGINAL product+plan pair sets (truncation feeds nothing
back), so it is exactly a LEAD window + array set-ops.

Determinism deviations from the reference (documented, SURVEY §7.1):
    - ProposalId = 'PROP-{group}-{sha256(config)[:8]}' replaces the
      driver-side global counter (proposal-builder.ts:925) — a scale
      blocker and insertion-order-dependent;
    - the proposal's representative broker is the writing broker of
      the LOWEST CertificateId (the reference takes Map insertion
      order, proposal-builder.ts:929-933);
    - overlap-fix ordering tiebreaks on ProposalId (the reference's
      sort is unstable on equal EffectiveDateFrom).

Canonical hash serialization (SURVEY §2.8 caveat): explicit
'|'/';'/':'/'@'-joined strings — NOT engine JSON — so Spark and the
DuckDB oracle produce byte-identical sha256 inputs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..caching import session_cache

#: separator inside a product+plan pair key (ref uses '||',
#: proposal-builder.ts:918)
PAIR_SEP = "~"

CONT_TO = "2099-01-01"  # continuation open-end (proposal-builder.ts:1604)


def invalid_group(col: Column) -> Column:
    """null / empty / all-zeros / G+zeros (ref proposal-builder.ts:1994-2001)."""
    t = F.trim(col)
    return (
        col.isNull() | (t == "") | t.rlike("^0+$") | t.rlike("^G0+$")
    )


def split_hierarchies(certs: DataFrame) -> DataFrame:
    """One row per (certificate, split): ordered tier list, canonical
    hierarchy string + SHA-256 (ref proposal-builder.ts:665-714).
    GroupId is folded into the hash so hierarchies are never shared
    across groups (the reference's fixed bug, :684-688)."""
    tier = F.struct("SplitBrokerSeq", "SplitBrokerId", "ScheduleCode")
    return (
        certs.groupBy(
            "GroupId", "GroupName", "CertificateId", "CertEffectiveDate",
            "ProductCode", "PlanCode", "SitusState",
            "CertSplitSeq", "CertSplitPercent",
        )
        .agg(F.array_sort(F.collect_list(tier)).alias("tiers"))
        .withColumn(
            "TiersCanonical",
            F.array_join(
                F.transform(
                    "tiers",
                    lambda t: F.concat_ws(
                        ":",
                        t["SplitBrokerSeq"].cast("string"),
                        t["SplitBrokerId"],
                        t["ScheduleCode"],
                    ),
                ),
                ";",
            ),
        )
        .withColumn(
            "HierarchyCanonical",
            F.concat_ws(
                "|",
                F.lit("HIER"),
                "GroupId",
                F.col("CertSplitPercent").cast("string"),
                "TiersCanonical",
            ),
        )
        .withColumn("HierarchyHash", F.sha2("HierarchyCanonical", 256))
        .withColumn("WritingBrokerId", F.element_at("tiers", 1)["SplitBrokerId"])
        .drop("tiers")
    )


def selection_criteria(
    certs: DataFrame, per_split: DataFrame | None = None
) -> DataFrame:
    """One row per (group, certificate): split config hash, total split
    percent, writing broker (ref extractSelectionCriteria,
    proposal-builder.ts:601-734). splitSeq is EXCLUDED from the config
    hash body (only pct@hierHash in seq order, :1005-1012).

    ``per_split`` lets callers reuse a session-cached
    ``split_hierarchies`` frame — the whole-fact aggregation dominates
    steady-state latency when re-derived per query."""
    if per_split is None:
        per_split = split_hierarchies(certs)
    return (
        per_split.groupBy(
            "GroupId", "GroupName", "CertificateId", "CertEffectiveDate",
            "ProductCode", "PlanCode", "SitusState",
        )
        .agg(
            F.sum("CertSplitPercent").cast("int").alias("TotalSplitPercent"),
            F.count("*").cast("int").alias("SplitCount"),
            F.concat_ws(
                ";",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                "CertSplitSeq", "CertSplitPercent", "HierarchyHash"
                            )
                        )
                    ),
                    lambda s: F.concat_ws(
                        "@",
                        s["CertSplitPercent"].cast("string"),
                        s["HierarchyHash"],
                    ),
                ),
            ).alias("ConfigBody"),
            F.min_by("WritingBrokerId", "CertSplitSeq").alias("WritingBrokerId"),
        )
        .withColumn(
            "ConfigHash", F.sha2(F.concat(F.lit("CFG|"), F.col("ConfigBody")), 256)
        )
        .drop("ConfigBody")
    )


def pha_routing(criteria: DataFrame) -> DataFrame:
    """Non-conformant routing, early-detection order preserved: split
    mismatch first (ref :750-763, removes the criteria), then invalid
    group among the remainder (ref buildProposals :906-916)."""
    mismatch = criteria.filter(F.col("TotalSplitPercent") != 100).select(
        "GroupId", "CertificateId", F.col("CertEffectiveDate").alias("EffectiveDate"),
        F.lit("NonConformant-CertificateSplitMismatch").alias("Reason"),
        F.lit(1).alias("EntryType"),
    )
    invalid = (
        criteria.filter(F.col("TotalSplitPercent") == 100)
        .filter(invalid_group(F.col("GroupId")))
        .select(
            "GroupId", "CertificateId",
            F.col("CertEffectiveDate").alias("EffectiveDate"),
            F.lit("Invalid GroupId (null/empty/zeros)").alias("Reason"),
            F.lit(2).alias("EntryType"),
        )
    )
    return mismatch.unionByName(invalid)


def conformant_criteria(criteria: DataFrame) -> DataFrame:
    return criteria.filter(
        (F.col("TotalSplitPercent") == 100) & ~invalid_group(F.col("GroupId"))
    )


def build_proposals(criteria: DataFrame) -> DataFrame:
    """Merge criteria into proposals per (GroupId, ConfigHash),
    accumulating plan/product codes, product+plan pairs, date range,
    certificate count (ref buildProposals :886-1011)."""
    ok = conformant_criteria(criteria)
    pair = F.concat_ws(PAIR_SEP, "ProductCode", "PlanCode")
    return (
        ok.groupBy("GroupId", "ConfigHash")
        .agg(
            F.min("CertEffectiveDate").alias("EffectiveDateFrom"),
            F.max("CertEffectiveDate").alias("EffectiveDateTo"),
            F.array_join(F.array_sort(F.collect_set("PlanCode")), ",").alias(
                "PlanCodes"
            ),
            F.array_join(F.array_sort(F.collect_set("ProductCode")), ",").alias(
                "ProductCodes"
            ),
            F.array_sort(F.collect_set(pair)).alias("ProductPlanPairs"),
            F.countDistinct("CertificateId").cast("int").alias("CertificateCount"),
            F.min_by("WritingBrokerId", "CertificateId").alias("PrimaryBrokerId"),
            F.min_by("GroupName", "CertificateId").alias("GroupName"),
            F.min_by("SitusState", "CertificateId").alias("SitusState"),
        )
        .withColumn(
            "ProposalId",
            F.concat_ws(
                "-", F.lit("PROP"), "GroupId", F.substring("ConfigHash", 1, 8)
            ),
        )
    )


def fix_overlapping_date_ranges(proposals: DataFrame) -> DataFrame:
    """The reference's per-group overlap loop (:1503-1620) as a LEAD
    window: for consecutive proposals in a group (by EffectiveDateFrom)
    whose product+plan pair sets intersect, truncate the earlier one to
    next.From - 1 day; pairs only in the earlier proposal spawn a
    '-CONT' continuation carrying them past the cutoff."""
    from pyspark.sql.window import Window

    win = Window.partitionBy("GroupId").orderBy("EffectiveDateFrom", "ProposalId")
    annotated = (
        proposals.withColumn("NextFrom", F.lead("EffectiveDateFrom").over(win))
        .withColumn("NextPairs", F.lead("ProductPlanPairs").over(win))
        .withColumn(
            "OverlapPairs",
            F.when(
                F.col("NextPairs").isNotNull(),
                F.array_intersect("ProductPlanPairs", "NextPairs"),
            ).otherwise(F.array().cast("array<string>")),
        )
        .withColumn(
            "OnlyCurrentPairs", F.array_except("ProductPlanPairs", F.coalesce(
                "NextPairs", F.array().cast("array<string>")))
        )
        .withColumn("HasOverlap", F.size("OverlapPairs") > 0)
    )
    base = annotated.select(
        F.col("ProposalId").alias("Id"),
        "GroupId",
        "EffectiveDateFrom",
        F.when(
            F.col("HasOverlap"), F.date_sub(F.col("NextFrom"), 1)
        ).otherwise(F.col("EffectiveDateTo")).alias("EffectiveDateTo"),
        "ProductCodes",
        "PlanCodes",
        F.lit(0).alias("IsContinuation"),
    )
    pair_part = lambda n: F.transform(  # noqa: E731
        "OnlyCurrentPairs", lambda p: F.split_part(p, F.lit(PAIR_SEP), F.lit(n))
    )
    cont = (
        annotated.filter(F.col("HasOverlap") & (F.size("OnlyCurrentPairs") > 0))
        .select(
            F.concat(F.col("ProposalId"), F.lit("-CONT")).alias("Id"),
            "GroupId",
            F.col("NextFrom").alias("EffectiveDateFrom"),
            F.lit(CONT_TO).cast("date").alias("EffectiveDateTo"),
            F.array_join(F.array_sort(F.array_distinct(pair_part(1))), ",").alias(
                "ProductCodes"
            ),
            F.array_join(F.array_sort(F.array_distinct(pair_part(2))), ",").alias(
                "PlanCodes"
            ),
            F.lit(1).alias("IsContinuation"),
        )
    )
    return base.unionByName(cont)


def broker_assignments(certs: DataFrame) -> DataFrame:
    """Broker-level assignments: tier rows where the paid broker
    differs from the split broker; keep the most recent per source
    broker (ref :644-662). Deterministic tiebreak: (date, certificate,
    recipient) descending — the reference keeps first-seen on ties."""
    from pyspark.sql.window import Window

    cand = certs.filter(
        F.col("SplitBrokerId").isNotNull()
        & F.col("PaidBrokerId").isNotNull()
        & (F.trim("SplitBrokerId") != "")
        & (F.trim("PaidBrokerId") != "")
        & (F.col("SplitBrokerId") != F.col("PaidBrokerId"))
    )
    w = Window.partitionBy("SplitBrokerId").orderBy(
        F.col("CertEffectiveDate").desc(),
        F.col("CertificateId").desc(),
        F.col("PaidBrokerId").desc(),
    )
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("SplitBrokerId").alias("SourceBrokerId"),
            F.col("SplitBrokerName").alias("SourceBrokerName"),
            F.col("PaidBrokerId").alias("RecipientBrokerId"),
            F.col("CertEffectiveDate").alias("EffectiveDate"),
        )
    )


def commission_assignment_records(
    certs: DataFrame,
    per_split: DataFrame | None = None,
    criteria: DataFrame | None = None,
) -> DataFrame:
    """Full commission-assignments transform (ref sql/transforms/
    12-commission-assignments.sql:24-150): one assignment version per
    source broker whose certificates pay a DIFFERENT broker, linked to
    the most recent hierarchy/proposal context, plus its single 100%
    recipient record.

    Re-expression of the reference's chain:
    - BrokerAssignments CTE (:24-39): active tier rows with
      SplitBrokerId != PaidBrokerId, both non-blank.
    - RankedAssignments (:40-66): the reference joins stg_hierarchy_
      participants -> versions -> split participants -> versions to
      find A hierarchy containing the source broker; here the cert row
      itself IS the participant row, so the context join is its own
      split's HierarchyHash (per_split) plus the conformant criteria's
      proposal id — the same chain the builder used to create those
      entities.  Rank: most recent date first; HierarchyHash /
      CertificateId / PaidBrokerId tiebreaks make the reference's
      unordered ties deterministic (SURVEY §7.1).
    - CAV projection (:72-98): deterministic 'CAV-{brokerId}' replaces
      the ROW_NUMBER counter; 'V1', open 2099 end, Status/Type 1,
      100% total.
    - VersionRecipients CROSS APPLY TOP 1 (:107-124): the recipient is
      the chosen (latest) row's paid broker — one 100% recipient per
      version, 'CAR-{brokerId}', RecipientType 1 (Broker).
    - Broker names resolve through the cert-carried name dim with the
      reference's 'Broker {pid}' fallback (:82, :135).

    Scale: assignment certs are a small filtered subset; the context
    joins are broadcastable at group scale; one window per source
    broker (a broker-cardinality shuffle).
    """
    from pyspark.sql.window import Window

    if per_split is None:
        per_split = split_hierarchies(certs)
    if criteria is None:
        criteria = selection_criteria(certs, per_split=per_split)
    ok = conformant_criteria(criteria).select(
        "GroupId", "CertificateId", "ConfigHash"
    )
    asg = certs.filter(
        (F.trim("CertStatus") == "A")
        & (F.trim("RecStatus") == "A")
        & F.col("SplitBrokerId").isNotNull()
        & F.col("PaidBrokerId").isNotNull()
        & (F.trim("SplitBrokerId") != "")
        & (F.trim("PaidBrokerId") != "")
        & (F.col("SplitBrokerId") != F.col("PaidBrokerId"))
    ).select(
        "GroupId", "CertificateId", "CertSplitSeq", "CertEffectiveDate",
        "SplitBrokerId", "PaidBrokerId",
    )
    ctx = (
        asg.join(
            per_split.select(
                "GroupId", "CertificateId", "CertSplitSeq", "HierarchyHash"
            ),
            ["GroupId", "CertificateId", "CertSplitSeq"],
        )
        .join(F.broadcast(ok), ["GroupId", "CertificateId"])
        .withColumn(
            "ProposalId",
            F.concat(
                F.lit("PROP-"), "GroupId", F.lit("-"),
                F.substring("ConfigHash", 1, 8),
            ),
        )
    )
    w = Window.partitionBy("SplitBrokerId").orderBy(
        F.col("CertEffectiveDate").desc(),
        "HierarchyHash",
        F.col("CertificateId").desc(),
        F.col("PaidBrokerId").desc(),
    )
    w_all = Window.partitionBy("SplitBrokerId")
    picked = (
        ctx.withColumn("rn", F.row_number().over(w))
        .withColumn("EffectiveFrom", F.max("CertEffectiveDate").over(w_all))
        .filter(F.col("rn") == 1)
    )
    pid_num = lambda c: F.regexp_replace(c, "P", "").try_cast("long")  # noqa: E731
    bn = certs.groupBy(F.col("SplitBrokerId").alias("pid")).agg(
        F.min("SplitBrokerName").alias("KnownName")
    )
    src_id = pid_num(F.col("SplitBrokerId"))
    rcp_id = pid_num(F.col("PaidBrokerId"))
    return (
        picked.join(
            F.broadcast(bn.withColumnRenamed("KnownName", "SrcName")),
            picked.SplitBrokerId == bn.pid,
            "left",
        )
        .drop("pid")
        .join(
            F.broadcast(
                bn.withColumnRenamed("KnownName", "RcpName")
            ),
            picked.PaidBrokerId == bn.pid,
            "left",
        )
        .drop("pid")
        .filter(src_id.isNotNull() & rcp_id.isNotNull())
        .select(
            F.concat(F.lit("CAV-"), src_id.cast("string")).alias("Id"),
            src_id.alias("BrokerId"),
            F.coalesce(
                "SrcName", F.concat(F.lit("Broker "), "SplitBrokerId")
            ).alias("BrokerName"),
            "ProposalId",
            F.col("HierarchyHash").alias("HierarchyId"),
            F.lit("V1").alias("VersionNumber"),
            "EffectiveFrom",
            F.lit(CONT_TO).cast("date").alias("EffectiveTo"),
            F.lit(1).alias("Status"),
            F.lit(1).alias("Type"),
            F.lit(100.0).cast("double").alias("TotalAssignedPercent"),
            F.concat(F.lit("CAR-"), src_id.cast("string")).alias("RecipientId"),
            rcp_id.alias("RecipientBrokerId"),
            F.coalesce(
                "RcpName", F.concat(F.lit("Broker "), "PaidBrokerId")
            ).alias("RecipientBrokerName"),
            F.lit(100.0).cast("double").alias("RecipientPercent"),
            F.lit(1).alias("RecipientType"),
        )
    )


def proposal_key_mappings(proposals: DataFrame) -> DataFrame:
    """Deterministic proposal lookup F(GroupId, Year, Product, Plan) ->
    ProposalId (ref sql/03-staging-tables.sql:396-409, generated at
    proposal-builder.ts:1076-1091 and :1758-1772).

    Base mappings expand the PRE-truncation proposal dates over the
    cartesian of its product and plan code sets; continuations expand
    (next.From .. 2099) over their ACTUAL product+plan pairs only.
    Dedup by (GroupId, Year, Product, Plan) prefers the continuation
    (ref :1465-1477), then lowest ProposalId (the reference keeps
    insertion order — nondeterministic; documented deviation)."""
    from pyspark.sql.window import Window

    base = (
        proposals.select(
            "GroupId",
            "ProposalId",
            F.explode(
                F.sequence(
                    F.year("EffectiveDateFrom"), F.year("EffectiveDateTo")
                )
            ).alias("EffectiveYear"),
            F.split("ProductCodes", ",").alias("prods"),
            F.split("PlanCodes", ",").alias("plans"),
        )
        .select(
            "GroupId", "ProposalId", "EffectiveYear",
            F.explode("prods").alias("ProductCode"), "plans",
        )
        .select(
            "GroupId", "ProposalId", "EffectiveYear", "ProductCode",
            F.explode("plans").alias("PlanCode"),
        )
        .withColumn("IsContinuation", F.lit(0))
    )

    win = Window.partitionBy("GroupId").orderBy("EffectiveDateFrom", "ProposalId")
    annotated = (
        proposals.withColumn("NextFrom", F.lead("EffectiveDateFrom").over(win))
        .withColumn("NextPairs", F.lead("ProductPlanPairs").over(win))
        .withColumn(
            "OverlapPairs",
            F.when(
                F.col("NextPairs").isNotNull(),
                F.array_intersect("ProductPlanPairs", "NextPairs"),
            ).otherwise(F.array().cast("array<string>")),
        )
        .withColumn(
            "OnlyCurrentPairs",
            F.array_except(
                "ProductPlanPairs",
                F.coalesce("NextPairs", F.array().cast("array<string>")),
            ),
        )
    )
    cont = (
        annotated.filter(
            (F.size("OverlapPairs") > 0) & (F.size("OnlyCurrentPairs") > 0)
        )
        .select(
            "GroupId",
            F.concat(F.col("ProposalId"), F.lit("-CONT")).alias("ProposalId"),
            F.explode(
                F.sequence(F.year("NextFrom"), F.lit(2099))
            ).alias("EffectiveYear"),
            F.col("OnlyCurrentPairs"),
        )
        .select(
            "GroupId", "ProposalId", "EffectiveYear",
            F.explode("OnlyCurrentPairs").alias("pair"),
        )
        .select(
            "GroupId", "ProposalId", "EffectiveYear",
            F.split_part(F.col("pair"), F.lit(PAIR_SEP), F.lit(1)).alias(
                "ProductCode"
            ),
            F.split_part(F.col("pair"), F.lit(PAIR_SEP), F.lit(2)).alias(
                "PlanCode"
            ),
        )
        .withColumn("IsContinuation", F.lit(1))
    )
    all_mappings = base.unionByName(cont)
    dedup = Window.partitionBy(
        "GroupId", "EffectiveYear", "ProductCode", "PlanCode"
    ).orderBy(F.col("IsContinuation").desc(), "ProposalId")
    return (
        all_mappings.withColumn("rn", F.row_number().over(dedup))
        .filter(F.col("rn") == 1)
        .drop("rn", "IsContinuation")
    )


def proposal_split_versions(proposals: DataFrame) -> DataFrame:
    """One premium split version per proposal (ref
    proposal-builder.ts:1093-1110): id 'PSV-{proposal}', effective
    from ONE DAY BEFORE the proposal start — the reference subtracts a
    day because the downstream consumer compares with '>' not '>='
    (proposal-builder.ts:1041-1050, SURVEY §2.8) — open-ended to 2099."""
    return proposals.select(
        F.concat(F.lit("PSV-"), "ProposalId").alias("SplitVersionId"),
        "ProposalId",
        F.lit(1).alias("Status"),
        F.date_sub(F.col("EffectiveDateFrom"), 1).alias("EffectiveFrom"),
        F.lit(CONT_TO).cast("date").alias("EffectiveTo"),
    )


def proposal_hierarchies(
    criteria: DataFrame,
    certs: DataFrame,
    per_split: DataFrame | None = None,
) -> DataFrame:
    """Proposal-scoped hierarchy entities: every proposal owns its
    hierarchies even when structures are identical — the id suffixes
    the proposal ('{hash}-PROPOSAL-{proposal}', ref
    proposal-builder.ts:995-1010, 1890-1894). One row per
    (proposal, split): certs sharing a (group, config) have identical
    per-split hierarchy hashes by construction, so DISTINCT collapses
    them without any argmax."""
    ok = conformant_criteria(criteria).select(
        "GroupId", "CertificateId", "ConfigHash"
    )
    if per_split is None:
        per_split = split_hierarchies(certs)
    per_split = per_split.select(
        "GroupId", "CertificateId", "CertSplitSeq", "CertSplitPercent",
        "HierarchyHash", "TiersCanonical", "WritingBrokerId",
    )
    proposal_id = F.concat_ws(
        "-", F.lit("PROP"), "GroupId", F.substring("ConfigHash", 1, 8)
    )
    return (
        per_split.join(ok, ["GroupId", "CertificateId"])
        .select(
            F.concat(
                F.col("HierarchyHash"), F.lit("-PROPOSAL-"), proposal_id
            ).alias("HierarchyEntityId"),
            proposal_id.alias("ProposalId"),
            "GroupId",
            F.col("CertSplitPercent").alias("SplitPercent"),
            "TiersCanonical",
            "WritingBrokerId",
        )
        .distinct()
    )


def checkpoint_by_group(df: DataFrame) -> DataFrame:
    """The one materialisation rule for the certificate-scale builder
    intermediates (``split_hierarchies``, ``selection_criteria``): an
    eager session checkpoint hash-partitioned on ``GroupId``. Every
    builder and mode aggregation groups or windows by a key that starts
    with ``GroupId``, so consumers of the checkpoint plan without an
    Exchange (big-heap sessions; see ``caching.session_cache``)."""
    return session_cache(df, key_cols=("GroupId",))


def run_builder(
    spark,
    certs: DataFrame,
    limit: int | None = None,
    groups: list[str] | None = None,
    dry_run: bool = False,
) -> dict[str, DataFrame]:
    """The standalone builder entry point (SURVEY §3.2). The reference
    CLI's --limit becomes .limit(), --groups a pushdown-able filter,
    and --dry-run explains the flagship plan instead of computing.

    The two certificate-scale aggregations (the per-split frame and
    the selection criteria, with their SHA-256 hashing) are
    materialised once per call, each as a ``checkpoint_by_group``
    checkpoint, before this returns: every output and a mode cascade
    over ``out["criteria"]`` read those two frames instead of
    re-deriving them from ``certs``. The outputs themselves stay lazy.
    With ``dry_run`` nothing is materialised and no Spark job runs."""
    if groups:
        certs = certs.filter(F.col("GroupId").isin(groups))
    if limit is not None:
        certs = certs.limit(limit)
    keep = (lambda df: df) if dry_run else checkpoint_by_group
    per_split = keep(split_hierarchies(certs))
    criteria = keep(selection_criteria(certs, per_split=per_split))
    proposals = build_proposals(criteria)
    out = {
        "criteria": criteria,
        "pha": pha_routing(criteria),
        "proposals": proposals,
        "proposals_fixed": fix_overlapping_date_ranges(proposals),
        "split_versions": proposal_split_versions(proposals),
        "hierarchies": proposal_hierarchies(criteria, certs, per_split=per_split),
        "key_mappings": proposal_key_mappings(proposals),
        "broker_assignments": broker_assignments(certs),
    }
    if dry_run:
        out["proposals_fixed"].explain("formatted")
    return out
