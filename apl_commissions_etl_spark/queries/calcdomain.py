"""The 8-stage commission calculation as driver-checkable queries.

Spark side: ``plans/fixtures.py`` registers staging views (shared ANSI
SQL) and ``plans/calc.py`` chains the stages in the DataFrame API.
Oracle side: the SAME fixture SQL as CTEs + hand-written stage CTEs
mirroring run-calculation.sql semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..caching import (
    SessionCache,
    locked_get,
    session_cache,
    track_persisted,
)
from ..plans import calc
from ..plans.fixtures import FIXTURE_VIEWS, fixtures_cte_sql, register_fixture_views
from ..registry import query

# pipeline_incremental_parity's oracle embeds the builder full-rebuild
# oracles verbatim at decoration time, so the builder queries must be
# registered before this module's body runs (no cycle: builder does
# not import calcdomain)
from . import builder as _builder_queries  # noqa: F401

# ---------------------------------------------------------------------------
# Oracle stage CTEs (mirror plans/calc.py; money math uses the same
# bounded-decimal casts so both engines compute identical exact values)
# ---------------------------------------------------------------------------

_PCT = (
    "ROUND(CAST({amt} AS DECIMAL(12,2)) * CAST({pct} AS DECIMAL(8,4))"
    " * CAST(0.01 AS DECIMAL(3,2)), 2)"
)

STAGE_CTES = f"""
s1 AS (
  SELECT pt.PremiumTransactionId, pt.CertificateId, pt.TransactionDate,
         pt.PremiumAmount, po.GroupId, po.ProductCode, po.EffectiveDate,
         po.GroupSize,
         CASE WHEN pt.TransactionDate < po.EffectiveDate + INTERVAL 12 MONTH
              THEN 1 ELSE 0 END AS IsFirstYear,
         GREATEST(1, EXTRACT(YEAR FROM pt.TransactionDate)
                     - EXTRACT(YEAR FROM po.EffectiveDate) + 1) AS BasisYear
  FROM stg_premium_transactions pt
  JOIN stg_policies po ON pt.CertificateId = po.CertificateId
  WHERE pt.PremiumAmount > 0
),
s2 AS (
  SELECT s1.*, pr.ProposalId, pr.LeadBrokerId,
         CASE WHEN pr.ProposalId IS NULL
              THEN 'No active proposal found for group on transaction date'
         END AS ErrorMessage
  FROM s1
  LEFT JOIN stg_proposals pr
    ON s1.GroupId = pr.GroupId
   AND s1.TransactionDate >= pr.EffectiveDateFrom
   AND (pr.EffectiveDateTo IS NULL OR s1.TransactionDate <= pr.EffectiveDateTo)
),
s3 AS (
  SELECT s2.*, sv.SplitVersionId, sp.SplitParticipantId, sp.Sequence,
         sp.SplitPercent, sp.HierarchyId, sp.WritingBrokerId,
         {_PCT.format(amt="s2.PremiumAmount", pct="sp.SplitPercent")} AS SplitPremium
  FROM s2
  JOIN stg_premium_split_versions sv
    ON s2.ProposalId = sv.ProposalId AND sv.Status = 1
   AND s2.TransactionDate >= sv.EffectiveFrom
   AND (sv.EffectiveTo IS NULL OR s2.TransactionDate <= sv.EffectiveTo)
  JOIN stg_premium_split_participants sp
    ON sp.SplitVersionId = sv.SplitVersionId
),
s4 AS (
  SELECT s3.*, hv.HierarchyVersionId
  FROM s3
  LEFT JOIN stg_hierarchy_versions hv
    ON s3.HierarchyId = hv.HierarchyId AND hv.Status = 1
),
s5 AS (
  SELECT s4.*, hp.HierarchyParticipantId, hp.EntityId, hp.TierLevel,
         hp.ScheduleCode, hp.ParticipantRate
  FROM s4
  JOIN stg_hierarchy_participants hp
    ON s4.HierarchyVersionId = hp.HierarchyVersionId
),
s6 AS (
  SELECT s5.*, cr.CertificateRate,
         CASE WHEN s5.IsFirstYear = 1 THEN sr.FirstYearRate
              ELSE sr.RenewalRate END AS ScheduleRate,
         CAST(COALESCE(cr.CertificateRate, s5.ParticipantRate,
                CASE WHEN s5.IsFirstYear = 1 THEN sr.FirstYearRate
                     ELSE sr.RenewalRate END,
                0) AS DECIMAL(8,4)) AS AppliedRate,
         CASE WHEN cr.CertificateRate IS NOT NULL THEN 'CertificateRate'
              WHEN s5.ParticipantRate IS NOT NULL THEN 'ParticipantRate'
              WHEN (CASE WHEN s5.IsFirstYear = 1 THEN sr.FirstYearRate
                         ELSE sr.RenewalRate END) IS NOT NULL THEN 'ScheduleLookup'
              ELSE 'NoRate' END AS RateSource
  FROM s5
  LEFT JOIN stg_certificate_rates cr ON s5.CertificateId = cr.CertificateId
  LEFT JOIN stg_schedule_rates sr
    ON s5.ScheduleCode = sr.ScheduleCode
   AND s5.ProductCode = sr.ProductCode
   AND sr.State = '*'
   AND s5.GroupSize >= sr.GroupSizeFrom
   AND s5.GroupSize <= sr.GroupSizeTo
),
s7 AS (
  SELECT s6.*, {_PCT.format(amt="s6.SplitPremium", pct="s6.AppliedRate")} AS Commission
  FROM s6
),
s8 AS (
  SELECT s7.*, av.AssignmentVersionId, rc.RecipientBrokerId, rc.RecipientPercent,
         CASE WHEN rc.RecipientBrokerId IS NOT NULL
              THEN {_PCT.format(amt="s7.Commission", pct="rc.RecipientPercent")}
              ELSE CAST(0 AS DECIMAL(12,2)) END AS AssignedCommission,
         CAST(CAST(s7.Commission AS DECIMAL(12,2))
              - (CASE WHEN rc.RecipientBrokerId IS NOT NULL
                      THEN {_PCT.format(amt="s7.Commission", pct="rc.RecipientPercent")}
                      ELSE CAST(0 AS DECIMAL(12,2)) END) AS DECIMAL(12,2))
           AS RetainedCommission
  FROM s7
  LEFT JOIN stg_commission_assignment_versions av
    ON s7.EntityId = av.BrokerId AND av.Status = 0
   AND (av.ProposalId = s7.ProposalId OR av.ProposalId = '__DEFAULT__')
   AND s7.TransactionDate >= av.EffectiveFrom
   AND (av.EffectiveTo IS NULL OR s7.TransactionDate <= av.EffectiveTo)
  LEFT JOIN stg_commission_assignment_recipients rc
    ON av.AssignmentVersionId = rc.AssignmentVersionId
)
"""


def _oracle(final_select: str) -> str:
    return f"WITH {fixtures_cte_sql()},\n{STAGE_CTES}\n{final_select}"


#: session-scoped staging cache: the reference materializes staging
#: tables once per run (TRUNCATE + INSERT...SELECT); the Spark
#: equivalent is caching the small derived dims so each of the 8+
#: broadcast sides doesn't re-derive its view chain per query.
_STAGING_CACHE: dict[tuple[str, str], dict[str, DataFrame]] = SessionCache()


def _staging(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    key = (spark.sparkContext.applicationId, sf_dir)

    def build() -> dict[str, DataFrame]:
        register_fixture_views(spark, sf_dir)
        out: dict[str, DataFrame] = {}
        for name, _ in FIXTURE_VIEWS:
            df = spark.table(name)
            if name != "stg_premium_transactions":
                # dims are group/broker-scale (≪ fact): cache them;
                # the premium fact stays a streaming parquet scan
                # (tracked so caching.reattach restores the entry
                # after a test's clearCache)
                df = track_persisted(df.cache())
            out[name] = df
        return out

    return locked_get(_STAGING_CACHE, key, build)


#: session-scoped cascade cache — run_calc's shared frames (c3, c8)
#: are cached once per (session, sf) so the dozen registered calc
#: queries don't each re-execute the 8-stage cascade (same pattern as
#: the builder criteria cache; the reference materializes each stage)
_STAGES_CACHE: dict[tuple[str, str], dict[str, DataFrame]] = SessionCache()


def _stages(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    key = (spark.sparkContext.applicationId, sf_dir)

    def build() -> dict[str, DataFrame]:
        # Repartition the FACT (4 narrow columns) before the cascade,
        # not the wide c3/c8 after it: the cascade is
        # broadcast-join-narrow, so a small fact file yields ONE
        # partition end-to-end and every downstream aggregation's
        # partial phase runs single-threaded. Shuffling the fact costs
        # a fraction of shuffling the joined frames (measured 9.5s →
        # 4.5s per persist at sf0.1) and the spread survives the whole
        # broadcast cascade, so persist needs no repartition of its
        # own. On a real cluster the fact arrives in thousands of
        # splits and this spread is what the scan would have provided.
        #
        # r12: hash-partition on PremiumTransactionId (unique per fact
        # row, so the spread is exactly as uniform as round-robin, and
        # the round-robin path's sort-before-repartition is skipped)
        # and checkpoint c3/c8 through session_cache: the checkpoint
        # is built so its LogicalRDD REPORTS
        # hashpartitioning(PremiumTransactionId) to the planner
        # (propagated from the fact through the broadcast cascade), so
        # every downstream per-premium aggregation or window (trace,
        # trace_full's three branches, the GL/trace rollups) runs with
        # NO Exchange at all — the r11 AQE-built checkpoint surfaced
        # UnknownPartitioning and re-shuffled the wide cascade per
        # query (guide §2.4).
        par = spark.sparkContext.defaultParallelism
        stg = dict(_staging(spark, sf_dir))
        stg["stg_premium_transactions"] = (
            stg["stg_premium_transactions"].repartition(
                par, "PremiumTransactionId"
            )
        )
        return calc.run_calc(stg, persist=session_cache)

    return locked_get(_STAGES_CACHE, key, build)


@query(
    "calc_stage1_premium_context",
    oracle=_oracle("""
    SELECT PremiumTransactionId, CertificateId, TransactionDate,
           CAST(PremiumAmount AS DOUBLE) AS PremiumAmount,
           GroupId, ProductCode, EffectiveDate, GroupSize,
           IsFirstYear, BasisYear
    FROM s1"""),
    survey_ref="§2.9 stage 1 premium_context + P4 status-flag row filter (run-calculation.sql:58-78)",
)
def calc_stage1_premium_context(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _stages(spark, sf_dir)
    return s["s1"].select(
        "PremiumTransactionId", "CertificateId", "TransactionDate",
        F.col("PremiumAmount").cast("double").alias("PremiumAmount"),
        "GroupId", "ProductCode", "EffectiveDate", "GroupSize",
        "IsFirstYear", "BasisYear",
    )


@query(
    "calc_stage2_proposals_resolved",
    oracle=_oracle("""
    SELECT PremiumTransactionId, GroupId, ProposalId, LeadBrokerId, ErrorMessage
    FROM s2"""),
    survey_ref="§2.9 stage 2 proposals_resolved, J2+J3 (run-calculation.sql:93-110)",
)
def calc_stage2_proposals_resolved(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _stages(spark, sf_dir)
    return s["s2"].select(
        "PremiumTransactionId", "GroupId", "ProposalId", "LeadBrokerId",
        "ErrorMessage",
    )


@query(
    "calc_stage3_splits_applied",
    oracle=_oracle("""
    SELECT PremiumTransactionId, SplitParticipantId, Sequence,
           CAST(SplitPercent AS DOUBLE) AS SplitPercent,
           HierarchyId, WritingBrokerId,
           CAST(SplitPremium AS DOUBLE) AS SplitPremium
    FROM s3"""),
    survey_ref="§2.9 stage 3 splits_applied, J5 fan-out (run-calculation.sql:125-147)",
)
def calc_stage3_splits_applied(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _stages(spark, sf_dir)
    return s["s3"].select(
        "PremiumTransactionId", "SplitParticipantId", "Sequence",
        F.col("SplitPercent").cast("double").alias("SplitPercent"),
        "HierarchyId", "WritingBrokerId",
        F.col("SplitPremium").cast("double").alias("SplitPremium"),
    )


@query(
    "calc_stage5_participants_expanded",
    oracle=_oracle("""
    SELECT PremiumTransactionId, SplitParticipantId, HierarchyParticipantId,
           EntityId, TierLevel, ScheduleCode
    FROM s5"""),
    survey_ref="§2.9 stages 4-5 hierarchy resolution + tier explosion "
    "(run-calculation.sql:162-217)",
)
def calc_stage5_participants_expanded(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _stages(spark, sf_dir)
    return s["s5"].select(
        "PremiumTransactionId", "SplitParticipantId", "HierarchyParticipantId",
        "EntityId", "TierLevel", "ScheduleCode",
    )


@query(
    "calc_stage6_rates_applied",
    oracle=_oracle("""
    SELECT PremiumTransactionId, HierarchyParticipantId,
           CAST(AppliedRate AS DOUBLE) AS AppliedRate, RateSource
    FROM s6"""),
    survey_ref="§2.9 stage 6 rate fallback cert>participant>schedule, J6 "
    "(run-calculation.sql:232-297)",
)
def calc_stage6_rates_applied(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _stages(spark, sf_dir)
    return s["s6"].select(
        "PremiumTransactionId", "HierarchyParticipantId",
        F.col("AppliedRate").cast("double").alias("AppliedRate"), "RateSource",
    )


@query(
    "calc_stage8_assignments",
    oracle=_oracle("""
    SELECT PremiumTransactionId, HierarchyParticipantId, EntityId,
           CAST(Commission AS DOUBLE) AS Commission,
           AssignmentVersionId, RecipientBrokerId,
           CAST(AssignedCommission AS DOUBLE) AS AssignedCommission,
           CAST(RetainedCommission AS DOUBLE) AS RetainedCommission
    FROM s8"""),
    survey_ref="§2.9 stages 7-8 commission + assignments "
    "(run-calculation.sql:312-377)",
)
def calc_stage8_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _stages(spark, sf_dir)
    return s["s8"].select(
        "PremiumTransactionId", "HierarchyParticipantId", "EntityId",
        F.col("Commission").cast("double").alias("Commission"),
        "AssignmentVersionId", "RecipientBrokerId",
        F.col("AssignedCommission").cast("double").alias("AssignedCommission"),
        F.col("RetainedCommission").cast("double").alias("RetainedCommission"),
    )


@query(
    "calc_gl_entries",
    oracle=_oracle("""
    SELECT 'GL-' || PremiumTransactionId || '-' || HierarchyParticipantId || '-O'
             AS GlEntryId,
           PremiumTransactionId,
           EntityId AS BrokerId,
           'Original' AS EntryType,
           CAST(RetainedCommission AS DOUBLE) AS Amount
    FROM s8
    UNION ALL
    SELECT 'GL-' || PremiumTransactionId || '-' || HierarchyParticipantId || '-A',
           PremiumTransactionId,
           RecipientBrokerId,
           'Assigned',
           CAST(AssignedCommission AS DOUBLE)
    FROM s8
    WHERE RecipientBrokerId IS NOT NULL AND AssignedCommission <> 0"""),
    survey_ref="§2.9 GL output: retained ∪ assigned w/ swapped broker "
    "(run-calculation.sql:391-456); deterministic ids replace NEWID()",
)
def calc_gl_entries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE flagship domain query: full 8-stage cascade -> GL journal."""
    s = _stages(spark, sf_dir)
    return s["gl"]


@query(
    "calc_broker_trace",
    oracle=_oracle("""
    SELECT 'BT-GL-' || PremiumTransactionId || '-' || HierarchyParticipantId
             || '-O' AS Id,
           'TRACE-' || PremiumTransactionId AS CommissionTraceabilityReportId,
           EntityId AS BrokerId,
           'Broker-' || CAST(EntityId AS VARCHAR) AS BrokerName,
           TierLevel,
           'Level ' || CAST(TierLevel AS VARCHAR) AS LevelName,
           Sequence AS SplitSequence,
           CAST(SplitPercent AS DOUBLE) AS SplitPercent,
           CAST(AppliedRate AS DOUBLE) AS RatePercent,
           RateSource,
           CAST(RetainedCommission AS DOUBLE) AS CommissionAmount,
           HierarchyId, HierarchyVersionId,
           0 AS IsAssigned,
           CAST(NULL AS BIGINT) AS AssignedFromBrokerId,
           'Original' AS EntryType
    FROM s8
    UNION ALL
    SELECT 'BT-GL-' || PremiumTransactionId || '-' || HierarchyParticipantId
             || '-A',
           'TRACE-' || PremiumTransactionId,
           RecipientBrokerId,
           'Broker-' || CAST(RecipientBrokerId AS VARCHAR),
           TierLevel,
           'Level ' || CAST(TierLevel AS VARCHAR),
           Sequence,
           CAST(SplitPercent AS DOUBLE),
           CAST(AppliedRate AS DOUBLE),
           RateSource,
           CAST(AssignedCommission AS DOUBLE),
           HierarchyId, HierarchyVersionId,
           1,
           EntityId,
           'Assigned'
    FROM s8
    WHERE RecipientBrokerId IS NOT NULL AND AssignedCommission <> 0"""),
    survey_ref="§2.9 broker trace output: 1 row per GL entry with "
    "prefixed ids + tier/rate/assignment lineage "
    "(run-calculation.sql:575-605)",
)
def calc_broker_trace(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _stages(spark, sf_dir)
    return s["broker_trace"]


@query(
    "calc_traceability",
    oracle=_oracle("""
    , rollup AS (
      SELECT PremiumTransactionId,
             SUM(CAST(Commission AS DECIMAL(12,2))) AS TotalCommission,
             COUNT(DISTINCT HierarchyParticipantId) AS ParticipantCount
      FROM s8 GROUP BY 1),
    base AS (
      SELECT PremiumTransactionId,
             MAX(CAST(PremiumAmount AS DOUBLE)) AS PremiumAmount,
             MIN(ErrorMessage) AS ErrorMessage
      FROM s2 GROUP BY 1)
    SELECT b.PremiumTransactionId, b.PremiumAmount,
           CAST(COALESCE(r.TotalCommission, 0) AS DOUBLE) AS TotalCommission,
           COALESCE(r.ParticipantCount, 0) AS ParticipantCount,
           CASE WHEN b.ErrorMessage IS NOT NULL THEN 'ProposalResolutionFailed'
                WHEN r.TotalCommission IS NULL THEN 'NoParticipantsExpanded'
                ELSE 'Calculated' END AS TraceStatus
    FROM base b LEFT JOIN rollup r ON b.PremiumTransactionId = r.PremiumTransactionId"""),
    survey_ref="§2.9 + A8 traceability rollup + failure diagnosis "
    "(run-calculation.sql:470-561)",
)
def calc_traceability(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _stages(spark, sf_dir)
    return s["trace"]


@query(
    "calc_traceability_full",
    oracle=_oracle("""
    , ok AS (
      SELECT PremiumTransactionId,
             MIN(CertificateId) AS PolicyId,
             MIN(TransactionDate) AS TransactionDate,
             MIN(CAST(PremiumAmount AS DOUBLE)) AS PremiumAmount,
             CAST(ROUND(SUM(CAST(Commission AS DECIMAL(12,2))), 2) AS DOUBLE)
               AS TotalCommission,
             MIN(ProposalId) AS ProposalId,
             MIN(GroupId) AS GroupId,
             MIN(ProductCode) AS ProductCode,
             MIN(IsFirstYear) AS IsFirstYear,
             MIN(BasisYear) AS BasisYear,
             COUNT(DISTINCT HierarchyId) AS HierarchyCount,
             COUNT(*) AS ParticipantCount,
             CASE WHEN SUM(CAST(AssignedCommission AS DECIMAL(12,2))) > 0
                  THEN 1 ELSE 0 END AS HasAssignments,
             0 AS HasErrors,
             CAST(NULL AS VARCHAR) AS ErrorMessages
      FROM s8 GROUP BY PremiumTransactionId
    ),
    failed AS (
      SELECT s2.PremiumTransactionId,
             MIN(s2.CertificateId) AS PolicyId,
             MIN(s2.TransactionDate) AS TransactionDate,
             MIN(CAST(s2.PremiumAmount AS DOUBLE)) AS PremiumAmount,
             CAST(0 AS DOUBLE) AS TotalCommission,
             MIN(s2.ProposalId) AS ProposalId,
             MIN(s2.GroupId) AS GroupId,
             MIN(s2.ProductCode) AS ProductCode,
             MIN(s2.IsFirstYear) AS IsFirstYear,
             MIN(s2.BasisYear) AS BasisYear,
             CAST(0 AS BIGINT) AS HierarchyCount,
             CAST(0 AS BIGINT) AS ParticipantCount,
             0 AS HasAssignments,
             1 AS HasErrors,
             CASE
               WHEN MIN(s2.ProposalId) IS NULL THEN 'No matching proposal'
               WHEN NOT EXISTS (SELECT 1 FROM s3
                                WHERE s3.PremiumTransactionId
                                      = s2.PremiumTransactionId)
                 THEN 'No matching split version'
               WHEN NOT EXISTS (SELECT 1 FROM s4
                                WHERE s4.PremiumTransactionId
                                      = s2.PremiumTransactionId
                                  AND s4.HierarchyVersionId IS NOT NULL)
                 THEN 'No active hierarchy version'
               ELSE 'Unknown error' END AS ErrorMessages
      FROM s2
      WHERE s2.PremiumTransactionId NOT IN
            (SELECT DISTINCT PremiumTransactionId FROM s8)
      GROUP BY s2.PremiumTransactionId
    ),
    unioned AS (SELECT * FROM ok UNION ALL SELECT * FROM failed)
    SELECT 'TRACE-' || PremiumTransactionId AS Id, * FROM unioned"""),
    survey_ref="§2.9 traceability FULL parity: per-premium rollup + "
    "NOT-IN + EXISTS failure cascade (no proposal -> no split version "
    "-> no active hierarchy version -> unknown) "
    "(run-calculation.sql:470-561); exact-decimal sums replace FLOAT",
)
def calc_traceability_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _stages(spark, sf_dir)["trace_full"]


@query(
    "calc_stage4_hierarchies_resolved",
    oracle=_oracle("""
    SELECT PremiumTransactionId, SplitParticipantId, HierarchyId,
           HierarchyVersionId
    FROM s4"""),
    survey_ref="§2.9 stage 4 hierarchies_resolved, active-version left "
    "join (run-calculation.sql:162-179)",
)
def calc_stage4_hierarchies_resolved(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _stages(spark, sf_dir)
    return s["s4"].select(
        "PremiumTransactionId", "SplitParticipantId", "HierarchyId",
        "HierarchyVersionId",
    )


@query(
    "calc_stage7_commissions",
    oracle=_oracle("""
    SELECT PremiumTransactionId, HierarchyParticipantId,
           CAST(SplitPremium AS DOUBLE) AS SplitPremium,
           CAST(AppliedRate AS DOUBLE) AS AppliedRate,
           CAST(Commission AS DOUBLE) AS Commission
    FROM s7"""),
    survey_ref="§2.9 stage 7 commissions: ROUND(SplitPremium * rate / "
    "100, 2) exact-decimal (run-calculation.sql:312-331)",
)
def calc_stage7_commissions(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _stages(spark, sf_dir)
    return s["s7"].select(
        "PremiumTransactionId", "HierarchyParticipantId",
        F.col("SplitPremium").cast("double").alias("SplitPremium"),
        F.col("AppliedRate").cast("double").alias("AppliedRate"),
        F.col("Commission").cast("double").alias("Commission"),
    )


@query(
    "calc_incremental_gl",
    oracle=_oracle("""
    , gl AS (
      SELECT 'GL-' || PremiumTransactionId || '-' || HierarchyParticipantId
               || '-O' AS GlEntryId,
             'Original' AS EntryType,
             CAST(RetainedCommission AS DOUBLE) AS Amount
      FROM s8
      UNION ALL
      SELECT 'GL-' || PremiumTransactionId || '-' || HierarchyParticipantId
               || '-A',
             'Assigned',
             CAST(AssignedCommission AS DOUBLE)
      FROM s8
      WHERE RecipientBrokerId IS NOT NULL AND AssignedCommission <> 0)
    SELECT EntryType,
           COUNT(*) AS n_entries,
           CAST(SUM(CAST(round(Amount * 100) AS BIGINT)) AS BIGINT)
             AS amount_cents,
           MIN(GlEntryId) AS min_id,
           MAX(GlEntryId) AS max_id,
           CAST(1 AS BOOLEAN) AS matches_direct
    FROM gl GROUP BY EntryType"""),
    survey_ref="§2.9 + new surface: INCREMENTAL GL calculation — the "
    "daily-delta production run: premiums split into an existing "
    "corpus and a deterministic ~1/8 'new batch' (md5 bucket), the "
    "8-stage cascade run on EACH slice independently, results "
    "unioned, and the union PROVEN equal to the direct whole-input "
    "run in the same output (matches_direct, plus count/cents/id "
    "extremes that hash against the direct-only oracle). Sound "
    "because every cascade stage is per-premium row-local (joins "
    "against broadcast dims, no cross-premium window), so at 100 TB "
    "the daily run processes only the new partition and appends — "
    "never recomputing history; the same row-locality argument the "
    "streaming-mode cascade (tests/test_streaming_calc.py) rests on",
)
def calc_incremental_gl(spark: SparkSession, sf_dir: str) -> DataFrame:
    staging = _staging(spark, sf_dir)
    prem = staging["stg_premium_transactions"]
    is_new = F.substring(F.md5("PremiumTransactionId"), 1, 1) < "2"
    slices = [
        calc.run_calc({**staging, "stg_premium_transactions": df})["gl"]
        for df in (prem.filter(~is_new), prem.filter(is_new))
    ]
    inc = slices[0].unionByName(slices[1])
    direct = _stages(spark, sf_dir)["gl"]

    def summary(df: DataFrame, prefix: str) -> DataFrame:
        return df.groupBy("EntryType").agg(
            F.count(F.lit(1)).alias(f"{prefix}n"),
            F.sum(F.round(F.col("Amount") * 100).cast("long")).alias(
                f"{prefix}cents"
            ),
            F.min("GlEntryId").alias(f"{prefix}min_id"),
            F.max("GlEntryId").alias(f"{prefix}max_id"),
        )

    inc_s = summary(inc, "")
    dir_s = summary(direct, "d_")
    return inc_s.join(dir_s, "EntryType").select(
        "EntryType",
        F.col("n").alias("n_entries"),
        F.col("cents").alias("amount_cents"),
        "min_id",
        "max_id",
        (
            (F.col("n") == F.col("d_n"))
            & (F.col("cents") == F.col("d_cents"))
            & (F.col("min_id") == F.col("d_min_id"))
            & (F.col("max_id") == F.col("d_max_id"))
        ).alias("matches_direct"),
    )


def _gl_incremental_frames(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(delta batch fact, affected premium keys) for the keyed-MERGE
    incremental family.

    Deterministic delta slice mirroring the incremental-builder proof
    (queries/builder.py _incremental_frames): certificates with
    id % 10 == 3 are BRAND-NEW (all their premium rows arrive in the
    batch) and certificates with id % 10 == 7 receive an AMENDMENT
    (their baseline rows are stale). Every cascade stage is
    per-premium row-local, so recomputing exactly the affected
    premiums and group-replacing their output rows is provably equal
    to the full rebuild — which is what the oracle checks."""
    staging = dict(_staging(spark, sf_dir))
    fact = staging["stg_premium_transactions"]
    is_new = F.col("CertificateId") % 10 == 3
    is_amend = F.col("CertificateId") % 10 == 7
    batch = fact.filter(is_new | is_amend)
    affected = batch.select("PremiumTransactionId").distinct()
    return batch, affected


def _corrupted_baseline(
    full: DataFrame,
    affected: DataFrame,
    money_col: str,
    key: str = "PremiumTransactionId",
) -> DataFrame:
    """Stored-baseline stand-in for the incremental parity proofs: the
    full output with every AFFECTED premium's rows corrupted in place
    (``money_col`` + 1.0 — provably value-different garbage).

    In production the baseline is a STORED table read back, never
    recomputed — so the honest per-run cost of an increment is
    baseline-read + delta cascade + merge, and this derivation (one
    broadcast join + a projection over the session-cached full output)
    is exactly that read. Whether an affected premium was previously
    absent (brand-new certificate) or present with stale amounts is
    immaterial to the merge being proven: either way its baseline rows
    are wrong-or-missing and the group-replace must emit exactly the
    recomputed rows. The corruption guarantees the value hash CANNOT
    pass if the delete arm fails to remove a single affected row.

    ``key`` is the join column carried by ``affected`` — the premium id
    for the explode/rollup grains, the derived trace-report id for the
    broker-trace grain (which does not carry the premium id as a
    column)."""
    mark = affected.withColumn("_aff", F.lit(1))
    # the corruption branch casts back to the column's own type so the
    # when/otherwise unification cannot coerce a DECIMAL money column
    # to DOUBLE for the surviving rows (exact-decimal accumulation is
    # part of the engine's determinism contract)
    corrupt = (F.col(money_col) + F.lit(1.0)).cast(
        dict(full.dtypes)[money_col]
    )
    return (
        full.join(F.broadcast(mark), key, "left")
        .withColumn(
            money_col,
            F.when(F.col("_aff") == 1, corrupt).otherwise(F.col(money_col)),
        )
        .drop("_aff")
    )


def _outputs_of(
    spark: SparkSession, sf_dir: str, fact: DataFrame
) -> dict[str, DataFrame]:
    """All cascade outputs recomputed over ``fact`` only (the
    per-micro-batch maintenance pass: every stage is premium-row-local,
    so the batch's outputs are exactly the full rebuild's rows for
    those premiums)."""
    staging = dict(_staging(spark, sf_dir))
    par = spark.sparkContext.defaultParallelism
    staging["stg_premium_transactions"] = fact.repartition(par)
    return calc.run_calc(staging)


def _gl_of(spark: SparkSession, sf_dir: str, fact: DataFrame) -> DataFrame:
    return _outputs_of(spark, sf_dir, fact)["gl"]


#: session-scoped cascade over the DELTA batch: the maintenance pass
#: is computed ONCE per (session, sf) and shared by every batch parity
#: query — exactly how one maintenance transaction feeds all of its
#: maintained outputs. The session_ckpt persist truncates the delta
#: cascade's lineage, so each parity query retains only a
#: checkpoint-scan plan in the gate session's listener state (an
#: un-truncated delta cascade plan per sub was a measurable share of
#: the 1g gate session's heap). The streamed parities do NOT use this
#: cache: their increments are per-micro-batch by construction.
_DELTA_STAGES_CACHE: dict[tuple[str, str], dict[str, DataFrame]] = (
    SessionCache()
)


def _delta_stages(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    key = (spark.sparkContext.applicationId, sf_dir)

    def build() -> dict[str, DataFrame]:
        batch, _ = _gl_incremental_frames(spark, sf_dir)
        staging = dict(_staging(spark, sf_dir))
        par = spark.sparkContext.defaultParallelism
        staging["stg_premium_transactions"] = batch.repartition(
            par, "PremiumTransactionId"
        )
        return calc.run_calc(staging, persist=session_cache)

    return locked_get(_DELTA_STAGES_CACHE, key, build)


def _gl_full_rebuild_oracle() -> str:
    from ..registry import REGISTRY

    return REGISTRY["calc_gl_entries"].oracle


@query(
    "calc_incremental_gl_parity",
    oracle=_gl_full_rebuild_oracle(),
    survey_ref="north-star: incremental maintenance extended DOWN the "
    "calc DAG — a premium-delta batch (new certificates + amendments "
    "that invalidate the baseline's amounts) flows through the 8-stage "
    "cascade and group-replaces the affected premiums' GL rows, the "
    "production alternative to the reference's truncate-and-reload "
    "(sql/calc/run-calculation.sql:35-45). Oracle = the FULL-rebuild "
    "GL (calc_gl_entries' oracle verbatim), so the driver's value hash "
    "proves incremental == rebuild exactly. At 100 TB the baseline GL "
    "is a table bucketed by premium id, the delete arm is an anti-join "
    "against the delta-scale affected-key broadcast, and only the "
    "touched premiums re-run the cascade",
)
def calc_incremental_gl_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    full = _stages(spark, sf_dir)["gl"]
    _, affected = _gl_incremental_frames(spark, sf_dir)
    baseline = _corrupted_baseline(full, affected, "Amount")
    recomputed = _delta_stages(spark, sf_dir)["gl"]
    return (
        baseline.join(F.broadcast(affected), "PremiumTransactionId", "left_anti")
        # restore the canonical output order (the merge's joins move
        # the key column first; fingerprint suites concatenate string
        # columns in physical order, so order is part of the contract)
        .select(*full.columns)
        .unionByName(recomputed)
    )


@query(
    "stream_incremental_gl_parity",
    oracle=_gl_full_rebuild_oracle(),
    survey_ref="north-star: the incremental GL AS A STREAM — premium "
    "deltas (new certificates + amount amendments) arrive as micro-"
    "batches (readStream, maxFilesPerTrigger=1) across a checkpointed "
    "RESTART; a foreachBatch handler runs the 8-stage cascade on each "
    "micro-batch only and GROUP-REPLACES the affected premiums' GL "
    "rows through the exactly-once replace sink (streaming/sinks.py "
    "idempotent_replace_sink: replay guard + atomic versioned publish "
    "+ delete-arm anti-join against the batch's premium keys, the "
    "MERGE ... WHEN NOT MATCHED BY SOURCE THEN DELETE shape). The "
    "final maintained table hash-checks against the FULL-rebuild GL, "
    "proving streamed maintenance == batch rebuild",
)
def stream_incremental_gl_parity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Seed the maintained table with the corrupted stored baseline
    (every affected premium's rows value-wrong in place — see
    _corrupted_baseline), stream the delta in 4 per-premium files
    (2 per run, restart in between), read the final table."""
    import os
    import shutil
    import tempfile

    from ..streaming.sinks import current_table, idempotent_replace_sink

    batch, affected_all = _gl_incremental_frames(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="incr_gl_stream_")
    try:
        src = f"{tmp}/src"
        ckpt = f"{tmp}/ckpt"
        target = f"{tmp}/table"
        sink = idempotent_replace_sink(target, ["PremiumTransactionId"])
        # seed: the corrupted stored baseline as a pre-stream manual
        # batch — the stream must group-replace every affected row
        sink(
            _corrupted_baseline(
                _stages(spark, sf_dir)["gl"], affected_all, "Amount"
            ),
            -1,
        )

        def apply_increment(bdf: DataFrame, bid: int) -> None:
            # the deletion set comes from the INPUT delta's keys: a
            # premium whose recompute emits zero GL rows must still
            # have its stale rows deleted
            affected = bdf.select("PremiumTransactionId").distinct()
            sink(_gl_of(spark, sf_dir, bdf), bid, affected=affected)

        batch.repartition(4, "PremiumTransactionId").write.mode(
            "overwrite"
        ).parquet(f"{tmp}/all")
        parts = sorted(
            f for f in os.listdir(f"{tmp}/all") if f.endswith(".parquet")
        )
        os.makedirs(src)
        for wave in (parts[:2], parts[2:]):
            for f in wave:
                shutil.copy(f"{tmp}/all/{f}", f"{src}/{f}")
            q = (
                spark.readStream.schema(batch.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
                .writeStream.foreachBatch(apply_increment)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            if not q.awaitTermination(300):
                q.stop()
                raise TimeoutError(
                    "incremental-GL wave did not finish within 300s"
                )
        final = current_table(spark, target).select(
            "GlEntryId", "PremiumTransactionId", "BrokerId",
            "EntryType", "Amount",
        )
        # materialize before the published parquet is removed
        return final.localCheckpoint()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _trace_full_rebuild_oracle() -> str:
    from ..registry import REGISTRY

    return REGISTRY["calc_traceability_full"].oracle


@query(
    "calc_incremental_trace_parity",
    oracle=_trace_full_rebuild_oracle(),
    survey_ref="north-star: incremental maintenance at the ROLLUP grain "
    "— the same premium-delta batch as calc_incremental_gl_parity "
    "maintained through the per-premium traceability aggregation "
    "(run-calculation.sql:470-561 is rebuilt whole by the reference "
    "every run): the rollup groups by PremiumTransactionId, so a "
    "delta premium only ever touches its own rollup row and the "
    "maintenance is recompute-the-batch + group-replace — completing "
    "the family across all three grains (key-level criteria/proposals "
    "in the builder, explode-grain GL, rollup-grain traceability). "
    "Oracle = the FULL-rebuild traceability verbatim, so the value "
    "hash proves incremental == rebuild exactly",
)
def calc_incremental_trace_parity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    full = _stages(spark, sf_dir)["trace_full"]
    _, affected = _gl_incremental_frames(spark, sf_dir)
    baseline = _corrupted_baseline(full, affected, "TotalCommission")
    recomputed = _delta_stages(spark, sf_dir)["trace_full"]
    return (
        baseline.join(
            F.broadcast(affected), "PremiumTransactionId", "left_anti"
        )
        # canonical output order (see calc_incremental_gl_parity)
        .select(*full.columns)
        .unionByName(recomputed)
    )


def _broker_trace_full_rebuild_oracle() -> str:
    from ..registry import REGISTRY

    return REGISTRY["calc_broker_trace"].oracle


def _affected_trace_keys(affected: DataFrame) -> DataFrame:
    """The affected premium keys in broker-trace grain: the trace
    output carries the premium id only inside its prefixed report id
    ('TRACE-' || PremiumTransactionId), so the delete arm joins on the
    derived report key instead."""
    return affected.select(
        F.concat(F.lit("TRACE-"), F.col("PremiumTransactionId")).alias(
            "CommissionTraceabilityReportId"
        )
    )


@query(
    "calc_incremental_broker_trace_parity",
    oracle=_broker_trace_full_rebuild_oracle(),
    survey_ref="north-star: incremental maintenance at the BROKER-TRACE "
    "grain — the third and last calc output (1 row per GL entry with "
    "tier/rate/assignment lineage, run-calculation.sql:575-605, rebuilt "
    "whole by the reference every run). The same premium-delta batch as "
    "calc_incremental_gl_parity flows the cascade once and group-"
    "replaces the affected premiums' trace rows; the trace grain keys "
    "on the derived report id ('TRACE-' || premium id) because the "
    "output does not carry the premium id as a column — the realistic "
    "MERGE key a production trace table would use. Oracle = the FULL-"
    "rebuild broker trace verbatim, so the value hash proves "
    "incremental == rebuild exactly, completing the family across all "
    "three cascade outputs (explode-grain GL, rollup-grain "
    "traceability, lineage-grain broker trace)",
)
def calc_incremental_broker_trace_parity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    full = _stages(spark, sf_dir)["broker_trace"]
    _, affected = _gl_incremental_frames(spark, sf_dir)
    affected_trace = _affected_trace_keys(affected)
    baseline = _corrupted_baseline(
        full,
        affected_trace,
        "CommissionAmount",
        key="CommissionTraceabilityReportId",
    )
    recomputed = _delta_stages(spark, sf_dir)["broker_trace"]
    return (
        baseline.join(
            F.broadcast(affected_trace),
            "CommissionTraceabilityReportId",
            "left_anti",
        )
        # canonical output order (see calc_incremental_gl_parity)
        .select(*full.columns)
        .unionByName(recomputed)
    )


def _pipeline_parity_oracle() -> str:
    """Full-rebuild oracles of all five maintained outputs, verbatim,
    each projected to the chained query's tag-union schema."""
    from ..registry import REGISTRY

    crit = REGISTRY["builder_selection_criteria"].oracle
    props = REGISTRY["builder_incremental_proposals"].oracle
    gl = REGISTRY["calc_gl_entries"].oracle
    tr = REGISTRY["calc_traceability_full"].oracle
    bt = REGISTRY["calc_broker_trace"].oracle
    return f"""
    WITH crit AS ({crit}),
    props AS ({props}),
    gl AS ({gl}),
    tr AS ({tr}),
    bt AS ({bt})
    SELECT 'criteria' AS output,
           'CR|' || GroupId || '|' || CAST(CertificateId AS VARCHAR) AS id,
           ConfigHash || '|' || ProductCode || '|' || PlanCode || '|'
             || SitusState || '|' || WritingBrokerId || '|'
             || CAST(CertEffectiveDate AS VARCHAR) AS ref_id,
           CAST(TotalSplitPercent AS BIGINT) * 1000
             + CAST(SplitCount AS BIGINT) AS metric
    FROM crit
    UNION ALL
    SELECT 'proposals',
           'PR|' || ProposalId,
           ConfigHash || '|' || PlanCodes || '|' || ProductCodes || '|'
             || GroupName || '|' || SitusState || '|' || PrimaryBrokerId
             || '|' || CAST(EffectiveDateFrom AS VARCHAR) || '|'
             || COALESCE(CAST(EffectiveDateTo AS VARCHAR), '~'),
           CAST(CertificateCount AS BIGINT)
    FROM props
    UNION ALL
    SELECT 'gl',
           'GL|' || GlEntryId,
           PremiumTransactionId || '|' || EntryType || '|'
             || COALESCE(CAST(BrokerId AS VARCHAR), '~'),
           CAST(round(Amount * 100) AS BIGINT)
    FROM gl
    UNION ALL
    SELECT 'trace',
           'TR|' || Id,
           COALESCE(ProposalId, '~') || '|' || COALESCE(GroupId, '~')
             || '|' || COALESCE(ErrorMessages, '~') || '|'
             || CAST(ParticipantCount AS VARCHAR) || '|'
             || CAST(HasErrors AS VARCHAR),
           CAST(round(TotalCommission * 100) AS BIGINT)
    FROM tr
    UNION ALL
    SELECT 'broker_trace',
           'BT|' || Id,
           CommissionTraceabilityReportId || '|' || RateSource || '|'
             || EntryType || '|' || CAST(BrokerId AS VARCHAR) || '|'
             || CAST(TierLevel AS VARCHAR),
           CAST(round(CommissionAmount * 100) AS BIGINT)
    FROM bt
    """


@query(
    "pipeline_incremental_parity",
    oracle=_pipeline_parity_oracle(),
    survey_ref="north-star: the CHAINED increment — ONE upstream delta "
    "event set (certificates with id%10==3 arrive brand-new, "
    "certificates with id%10==7 are amended; the builder and cascade "
    "fixtures share the o_orderkey certificate universe and the same "
    "delta strata) maintained through EVERY downstream output in one "
    "pass: builder criteria -> builder proposals (group-level "
    "propagation) AND the affected certificates' premium rows -> one "
    "shared 8-stage delta cascade -> GL + traceability + broker trace, "
    "each group-replaced into its corrupted stored baseline. The "
    "reference rebuilds all of these together monolithically "
    "(sql/calc/run-calculation.sql:35-45 truncates and reloads every "
    "output; proposal-builder.ts:2047-2164 rebuilds from full "
    "staging); this is the maintenance TRANSACTION a 100 TB pipeline "
    "runs instead — one delta batch, five maintained tables, the "
    "delta cascade computed once (the session-scoped _delta_stages "
    "pass shares its checkpointed c3/c8 across the three calc "
    "projections and the standalone parity queries). Oracle = the five FULL-"
    "rebuild oracles verbatim, each projected to the same (output, "
    "id, ref_id, metric) tag union, so one value hash proves every "
    "maintained table equals its rebuild. Note the premium delta "
    "cannot change builder outputs (the builder consumes certificate "
    "staging, not premiums) — the chain covers exactly the outputs "
    "the delta event reaches by dependency",
)
def pipeline_incremental_parity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    _, maintained = _pipeline_tag_frames(spark, sf_dir)
    out = maintained["criteria"]
    for name in ("proposals", "gl", "trace", "broker_trace"):
        out = out.unionByName(maintained[name])
    return out


def _pipeline_tag_frames(
    spark: SparkSession, sf_dir: str
) -> tuple[dict[str, DataFrame], dict[str, DataFrame]]:
    """The chained increment's five maintained outputs, twice: the
    STORED state before the increment (builder baselines; corrupted
    calc baselines — see _corrupted_baseline) and the MAINTAINED state
    after it (baseline anti-join ∪ recomputed delta), each projected to
    the (output, id, ref_id, metric) tag shape so one value hash covers
    identity + money. Shared by pipeline_incremental_parity (returns
    the maintained union) and pipeline_txn_commit_parity (publishes
    both states as two manifest commits)."""
    from ..plans import builder as builder_plans
    from .builder import _incremental_frames as _builder_frames

    # --- builder arm: criteria merge + group-level proposal propagation
    merged, baseline_crit, cert_batch = _builder_frames(spark, sf_dir)
    touched_groups = cert_batch.select("GroupId").distinct()
    pcols = [
        "ProposalId", "GroupId", "ConfigHash", "EffectiveDateFrom",
        "EffectiveDateTo", "PlanCodes", "ProductCodes", "CertificateCount",
        "PrimaryBrokerId", "GroupName", "SitusState",
    ]
    baseline_props = builder_plans.build_proposals(baseline_crit).select(*pcols)
    recomputed_props = builder_plans.build_proposals(
        merged.join(F.broadcast(touched_groups), "GroupId").select(
            *merged.columns
        )
    ).select(*pcols)
    props = (
        baseline_props.join(
            F.broadcast(touched_groups), "GroupId", "left_anti"
        )
        .select(*pcols)
        .unionByName(recomputed_props)
    )

    # --- calc arm: ONE shared delta cascade feeding all three outputs
    # (the session-scoped maintenance pass — its c3/c8 checkpoints are
    # computed once and shared by the gl/trace/broker-trace arms AND
    # by the standalone parity queries: one transaction, all outputs)
    _, affected = _gl_incremental_frames(spark, sf_dir)
    delta = _delta_stages(spark, sf_dir)
    full = _stages(spark, sf_dir)
    affected_trace = _affected_trace_keys(affected)

    def merge(
        baseline: DataFrame, keys: DataFrame, key: str, recomputed: DataFrame
    ) -> DataFrame:
        return (
            baseline.join(F.broadcast(keys), key, "left_anti")
            .select(*baseline.columns)
            .unionByName(recomputed)
        )

    gl_base = _corrupted_baseline(full["gl"], affected, "Amount")
    gl = merge(gl_base, affected, "PremiumTransactionId", delta["gl"])
    tr_base = _corrupted_baseline(
        full["trace_full"], affected, "TotalCommission"
    )
    tr = merge(tr_base, affected, "PremiumTransactionId", delta["trace_full"])
    bt_base = _corrupted_baseline(
        full["broker_trace"], affected_trace, "CommissionAmount",
        key="CommissionTraceabilityReportId",
    )
    bt = merge(
        bt_base, affected_trace, "CommissionTraceabilityReportId",
        delta["broker_trace"],
    )

    # --- tag union: every maintained row with its identity + money
    def tag(name, id_col, ref_col, metric_col):
        return F.lit(name).alias("output"), id_col.alias("id"), \
            ref_col.alias("ref_id"), metric_col.cast("long").alias("metric")

    sep = F.lit("|")

    def tag_crit(df: DataFrame) -> DataFrame:
        return df.select(*tag(
            "criteria",
            F.concat(F.lit("CR|"), "GroupId", sep,
                     F.col("CertificateId").cast("string")),
            F.concat("ConfigHash", sep, "ProductCode", sep, "PlanCode", sep,
                     "SitusState", sep, "WritingBrokerId", sep,
                     F.col("CertEffectiveDate").cast("string")),
            F.col("TotalSplitPercent").cast("long") * 1000
            + F.col("SplitCount").cast("long"),
        ))

    def tag_props(df: DataFrame) -> DataFrame:
        return df.select(*tag(
            "proposals",
            F.concat(F.lit("PR|"), "ProposalId"),
            F.concat("ConfigHash", sep, "PlanCodes", sep, "ProductCodes",
                     sep, "GroupName", sep, "SitusState", sep,
                     "PrimaryBrokerId", sep,
                     F.col("EffectiveDateFrom").cast("string"), sep,
                     F.coalesce(F.col("EffectiveDateTo").cast("string"),
                                F.lit("~"))),
            F.col("CertificateCount"),
        ))

    def tag_gl(df: DataFrame) -> DataFrame:
        return df.select(*tag(
            "gl",
            F.concat(F.lit("GL|"), "GlEntryId"),
            F.concat("PremiumTransactionId", sep, "EntryType", sep,
                     F.coalesce(F.col("BrokerId").cast("string"),
                                F.lit("~"))),
            F.round(F.col("Amount") * 100),
        ))

    def tag_tr(df: DataFrame) -> DataFrame:
        return df.select(*tag(
            "trace",
            F.concat(F.lit("TR|"), "Id"),
            F.concat(F.coalesce("ProposalId", F.lit("~")), sep,
                     F.coalesce("GroupId", F.lit("~")), sep,
                     F.coalesce("ErrorMessages", F.lit("~")), sep,
                     F.col("ParticipantCount").cast("string"), sep,
                     F.col("HasErrors").cast("string")),
            F.round(F.col("TotalCommission") * 100),
        ))

    def tag_bt(df: DataFrame) -> DataFrame:
        return df.select(*tag(
            "broker_trace",
            F.concat(F.lit("BT|"), "Id"),
            F.concat("CommissionTraceabilityReportId", sep, "RateSource",
                     sep, "EntryType", sep,
                     F.col("BrokerId").cast("string"), sep,
                     F.col("TierLevel").cast("string")),
            F.round(F.col("CommissionAmount") * 100),
        ))

    baselines = {
        "criteria": tag_crit(baseline_crit),
        "proposals": tag_props(baseline_props),
        "gl": tag_gl(gl_base),
        "trace": tag_tr(tr_base),
        "broker_trace": tag_bt(bt_base),
    }
    maintained = {
        "criteria": tag_crit(merged),
        "proposals": tag_props(props),
        "gl": tag_gl(gl),
        "trace": tag_tr(tr),
        "broker_trace": tag_bt(bt),
    }
    return baselines, maintained


@query(
    "pipeline_txn_commit_parity",
    oracle=_pipeline_parity_oracle(),
    survey_ref="north-star: MULTI-TABLE ATOMIC PUBLISH — the chained "
    "increment's five maintained outputs (criteria, proposals, GL, "
    "traceability, broker trace) committed as ONE version SET through "
    "the transaction manifest (streaming/txn.py): every table's data "
    "writes land in fresh immutable versioned directories first, then "
    "a single atomic pointer flip names ALL of them, so a reader can "
    "never see GL at commit N+1 while traceability is still at N — "
    "the consistency the reference's monolithic rebuild gets for free "
    "(sql/calc/run-calculation.sql:35-45 truncates and reloads every "
    "output in one run) earned back by the incremental engine. The "
    "query commits the STORED pre-increment state (stale builder "
    "baselines + corrupted calc baselines) as commit 1, then attempts "
    "the increment as commit 2 with a CRASH INJECTED between the "
    "table data writes (2 of 5 written, manifest untouched), asserts "
    "the reader still resolves commit 1's exact immutable directories "
    "(path equality == byte equality), replays commit 2 to "
    "completion, asserts a second replay is skipped (replay guard), "
    "and returns the five tables READ BACK through the manifest. "
    "Oracle = the five full-rebuild oracles verbatim (the same tag "
    "union as pipeline_incremental_parity), so one value hash proves "
    "the atomically-published set equals the monolithic rebuild. At "
    "100 TB the manifest is the catalog's multi-table transaction "
    "(Iceberg REST-catalog multi-table commit / Delta coordinated "
    "commits); the flip stays O(1) metadata regardless of data volume",
)
def pipeline_txn_commit_parity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import shutil
    import tempfile

    from ..streaming.txn import (
        TxnAborted,
        txn_commit,
        txn_current,
        txn_resolved_paths,
        txn_table,
    )

    baselines, maintained = _pipeline_tag_frames(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="txn_commit_")
    try:
        # commit 1: the stored state before the increment
        txn_commit(baselines, root, 1)
        paths_before = txn_resolved_paths(root)
        # commit 2, first attempt: crash injected after 2 of 5 data
        # writes, BEFORE the manifest flip
        try:
            txn_commit(maintained, root, 2, fail_after=2)
        except TxnAborted:
            pass
        else:  # pragma: no cover - the injection must fire
            raise AssertionError("injected crash did not fire")
        # crash window: readers must still resolve commit 1's exact
        # directory set (committed dirs are immutable, so path
        # equality proves the read is byte-identical to pre-crash)
        if txn_current(root) != 1:
            raise AssertionError(
                f"manifest advanced past the crash: {txn_current(root)}"
            )
        if txn_resolved_paths(root) != paths_before:
            raise AssertionError(
                "mid-crash reader resolves a different set: "
                f"{txn_resolved_paths(root)} != {paths_before}"
            )
        # replay completes the commit; one flip publishes all five
        if not txn_commit(maintained, root, 2):
            raise AssertionError("replayed commit 2 was skipped")
        if txn_current(root) != 2:
            raise AssertionError("commit 2 did not become current")
        # replay guard: a re-delivered commit is skipped, data untouched
        if txn_commit(maintained, root, 2):
            raise AssertionError("duplicate commit 2 was not skipped")
        # the result is the PUBLISHED set read back through the
        # manifest — proving what a reader sees, not what we computed
        out = txn_table(spark, root, "criteria")
        for name in ("proposals", "gl", "trace", "broker_trace"):
            out = out.unionByName(txn_table(spark, root, name))
        # materialize before the published parquet is removed
        return out.localCheckpoint()
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _stream_txn_oracle() -> str:
    """GL + traceability full-rebuild oracles verbatim, projected to
    the (output, id, ref_id, metric) tag union."""
    from ..registry import REGISTRY

    gl = REGISTRY["calc_gl_entries"].oracle
    tr = REGISTRY["calc_traceability_full"].oracle
    return f"""
    WITH gl AS ({gl}),
    tr AS ({tr})
    SELECT 'gl' AS output,
           'GL|' || GlEntryId AS id,
           PremiumTransactionId || '|' || EntryType || '|'
             || COALESCE(CAST(BrokerId AS VARCHAR), '~') AS ref_id,
           CAST(round(Amount * 100) AS BIGINT) AS metric
    FROM gl
    UNION ALL
    SELECT 'trace',
           'TR|' || Id,
           COALESCE(ProposalId, '~') || '|' || COALESCE(GroupId, '~')
             || '|' || COALESCE(ErrorMessages, '~') || '|'
             || CAST(ParticipantCount AS VARCHAR) || '|'
             || CAST(HasErrors AS VARCHAR),
           CAST(round(TotalCommission * 100) AS BIGINT)
    FROM tr
    """


@query(
    "stream_txn_commit_parity",
    oracle=_stream_txn_oracle(),
    survey_ref="north-star: the multi-table atomic publish AS A STREAM "
    "— premium deltas arrive as micro-batches (readStream, "
    "maxFilesPerTrigger=1) and each foreachBatch commits TWO "
    "maintained outputs (GL at explode grain, traceability at rollup "
    "grain) as ONE version set through the transaction manifest: both "
    "group-replace merges write to fresh versioned directories, then "
    "a single pointer flip publishes them together, so no reader can "
    "ever see a premium's GL at batch N+1 with its traceability at N. "
    "A crash is INJECTED inside one commit (between the two table "
    "writes) — the streaming query fails, the manifest still resolves "
    "the previous consistent set, and the restarted stream (same "
    "checkpoint) REDELIVERS the batch, whose replayed commit "
    "completes; the txn replay guard meanwhile makes re-delivered "
    "COMMITTED batches no-ops, which is exactly-once across both "
    "failure windows. The final two tables are read back through the "
    "manifest and hash-checked against the GL + traceability "
    "full-rebuild oracles verbatim — streamed, crash-interrupted "
    "multi-table maintenance == monolithic rebuild "
    "(sql/calc/run-calculation.sql:35-45)",
)
def stream_txn_commit_parity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Seed the manifest with the corrupted stored baselines of BOTH
    outputs (commit -1), stream the delta in 4 per-premium files (2
    per wave, restart between waves, a crash injected between the two
    table writes of wave 2's first commit), read both tables back."""
    import os
    import shutil
    import tempfile

    from ..streaming.txn import txn_commit, txn_current, txn_table

    batch, affected_all = _gl_incremental_frames(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="txn_stream_")
    try:
        root = f"{tmp}/root"
        src = f"{tmp}/src"
        ckpt = f"{tmp}/ckpt"
        full = _stages(spark, sf_dir)
        txn_commit(
            {
                "gl": _corrupted_baseline(full["gl"], affected_all, "Amount"),
                "trace": _corrupted_baseline(
                    full["trace_full"], affected_all, "TotalCommission"
                ),
            },
            root,
            -1,
        )

        crash_arm = {"armed": False}

        def apply_increment(bdf: DataFrame, bid: int) -> None:
            # the deletion set comes from the INPUT delta's keys: a
            # premium whose recompute emits zero rows must still have
            # its stale rows deleted from BOTH tables
            affected = bdf.select("PremiumTransactionId").distinct()
            outs = _outputs_of(spark, sf_dir, bdf)
            gl_cur = txn_table(spark, root, "gl")
            tr_cur = txn_table(spark, root, "trace")

            def replace(cur: DataFrame, delta: DataFrame) -> DataFrame:
                return (
                    cur.join(
                        F.broadcast(affected),
                        "PremiumTransactionId",
                        "left_anti",
                    )
                    .select(*cur.columns)
                    .unionByName(delta.select(*cur.columns))
                )

            fail_after = None
            if crash_arm["armed"]:
                crash_arm["armed"] = False
                fail_after = 1  # crash between the two table writes
            txn_commit(
                {
                    "gl": replace(gl_cur, outs["gl"]),
                    "trace": replace(tr_cur, outs["trace_full"]),
                },
                root,
                bid,
                fail_after=fail_after,
            )

        batch.repartition(4, "PremiumTransactionId").write.mode(
            "overwrite"
        ).parquet(f"{tmp}/all")
        parts = sorted(
            f for f in os.listdir(f"{tmp}/all") if f.endswith(".parquet")
        )
        os.makedirs(src)

        def run_wave(expect_crash: bool) -> Exception | None:
            q = (
                spark.readStream.schema(batch.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
                .writeStream.foreachBatch(apply_increment)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            try:
                if not q.awaitTermination(300):
                    q.stop()
                    raise TimeoutError(
                        "txn stream wave did not finish within 300s"
                    )
                return None
            except TimeoutError:
                raise
            except Exception as e:  # the injected TxnAborted surfaces
                q.stop()
                if not expect_crash:
                    raise
                return e

        for f in parts[:2]:
            shutil.copy(f"{tmp}/all/{f}", f"{src}/{f}")
        assert run_wave(expect_crash=False) is None

        before_wave2 = txn_current(root)
        crash_arm["armed"] = True
        for f in parts[2:]:
            shutil.copy(f"{tmp}/all/{f}", f"{src}/{f}")
        crash = run_wave(expect_crash=True)
        if crash is None or "injected crash" not in str(crash):
            raise AssertionError(f"expected the injected crash, got {crash}")
        # crash window: the manifest still resolves the pre-crash set
        if txn_current(root) != before_wave2:
            raise AssertionError(
                f"manifest advanced through a crashed commit: "
                f"{txn_current(root)} != {before_wave2}"
            )
        # restart from the same checkpoint: the failed batch is
        # REDELIVERED and its replayed commit completes
        assert run_wave(expect_crash=False) is None

        sep = F.lit("|")
        gl_rows = txn_table(spark, root, "gl").select(
            F.lit("gl").alias("output"),
            F.concat(F.lit("GL|"), "GlEntryId").alias("id"),
            F.concat(
                "PremiumTransactionId", sep, "EntryType", sep,
                F.coalesce(F.col("BrokerId").cast("string"), F.lit("~")),
            ).alias("ref_id"),
            F.round(F.col("Amount") * 100).cast("long").alias("metric"),
        )
        tr_rows = txn_table(spark, root, "trace").select(
            F.lit("trace").alias("output"),
            F.concat(F.lit("TR|"), "Id").alias("id"),
            F.concat(
                F.coalesce("ProposalId", F.lit("~")), sep,
                F.coalesce("GroupId", F.lit("~")), sep,
                F.coalesce("ErrorMessages", F.lit("~")), sep,
                F.col("ParticipantCount").cast("string"), sep,
                F.col("HasErrors").cast("string"),
            ).alias("ref_id"),
            F.round(F.col("TotalCommission") * 100)
            .cast("long")
            .alias("metric"),
        )
        # materialize before the published parquet is removed
        return gl_rows.unionByName(tr_rows).localCheckpoint()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# ---------------------------------------------------------------------------
# Skew stress (r9 verdict item 3): the reference's data IS group-skewed
# (a few employer groups dominate certificate volume,
# proposal-builder.ts:819-862). This parity run drives the FULL 8-stage
# cascade + GL over a fixture where ONE group holds ~40% of all
# certificates, against the verbatim stage SQL over the same skewed
# fixture — proving the cascade's output is distribution-independent
# and (with scripts/skew_stress.py's task-time numbers in SCALING.md)
# that its plan shape never concentrates the hot group on one task:
# every group-keyed lookup broadcasts the dim side, so the fact is
# never hash-partitioned by the skewed key, and the downstream
# aggregations key on premium/entry grain (unique per row).
# ---------------------------------------------------------------------------

#: ~40% of valid groups fold into custkey 1's group (G1 keeps its own
#: open-ended proposal, split version, hierarchy and rates, so every
#: absorbed certificate resolves through G1's dims — the one-giant-
#: employer-group shape)
_SKEW_GROUP_PRED_SQL = "CAST(substr(GroupId, 2) AS BIGINT) % 5 <= 1"


def _skewed_calc_oracle(final_select: str) -> str:
    skew_cte = f"""stg_policies_skewed AS (
  SELECT PolicyId, CertificateId,
         CASE WHEN {_SKEW_GROUP_PRED_SQL}
              THEN 'G1' ELSE GroupId END AS GroupId,
         ProductCode, EffectiveDate, GroupSize
  FROM stg_policies
)"""
    stage_ctes = STAGE_CTES.replace(
        "JOIN stg_policies po", "JOIN stg_policies_skewed po"
    )
    return (
        f"WITH {fixtures_cte_sql()},\n{skew_cte},\n{stage_ctes}\n"
        f"{final_select}"
    )


@query(
    "calc_skewed_group_parity",
    oracle=_skewed_calc_oracle("""
    SELECT 'GL-' || PremiumTransactionId || '-' || HierarchyParticipantId || '-O'
             AS GlEntryId,
           PremiumTransactionId,
           EntityId AS BrokerId,
           'Original' AS EntryType,
           CAST(RetainedCommission AS DOUBLE) AS Amount
    FROM s8
    UNION ALL
    SELECT 'GL-' || PremiumTransactionId || '-' || HierarchyParticipantId || '-A',
           PremiumTransactionId,
           RecipientBrokerId,
           'Assigned',
           CAST(AssignedCommission AS DOUBLE)
    FROM s8
    WHERE RecipientBrokerId IS NOT NULL AND AssignedCommission <> 0"""),
    survey_ref="§2.9 skew stress: the full 8-stage cascade + GL over a "
    "deliberately group-skewed fixture — ~40% of valid groups remapped "
    "into G1 before staging, so one group holds ~40% of certificates "
    "(the reference's own data shape, proposal-builder.ts:819-862). "
    "Oracle = the verbatim stage SQL over the identically skewed "
    "fixture, so the value hash proves the cascade is distribution-"
    "independent end to end. The SCALE claim this pins: the cascade "
    "never hash-partitions the fact by the hot key (every group/"
    "proposal/broker lookup is a broadcast join; aggregations key on "
    "premium grain), so the hot group spreads across ALL tasks — "
    "measured max/median task-time ratios in SCALING.md's skew "
    "section (scripts/skew_stress.py)",
)
def calc_skewed_group_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    gk = F.substring("GroupId", 2, 20).cast("long")
    stg = dict(_staging(spark, sf_dir))
    par = spark.sparkContext.defaultParallelism
    stg["stg_premium_transactions"] = stg[
        "stg_premium_transactions"
    ].repartition(par)
    stg["stg_policies"] = stg["stg_policies"].withColumn(
        "GroupId", F.when(gk % 5 <= 1, F.lit("G1")).otherwise(F.col("GroupId"))
    )
    # one-shot cascade over the skewed staging (deliberately NOT the
    # session _stages cache: the skewed run must build its own plan)
    return calc.run_calc(stg)["gl"]
