"""Proposal-builder composite + consolidation fold as driver-checkable
queries (SURVEY.md §2.9 composites #2 and #3).

Spark side: ``plans/builder.py`` (pure DataFrame) and
``operators/consolidate.py`` (sorted mapInPandas fold). Oracle side: the
same fixture SQL as CTEs + DuckDB aggregation CTEs — including a
RECURSIVE CTE that re-implements the consolidation fold, so even the
stateful operator gets a full value-hash check (not just rows-only).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..caching import SessionCache, locked_get
from ..operators.consolidate import consolidate_proposals
from ..plans import builder
from ..plans.builder_fixtures import (
    builder_cte_sql,
    cert_info,
    register_builder_views,
)
from ..registry import query

# ---------------------------------------------------------------------------
# Oracle CTEs shared by the builder queries (DuckDB dialect — these run
# only on the oracle; the fixture views themselves are shared ANSI SQL)
# ---------------------------------------------------------------------------

_INVALID_GROUP = (
    "(GroupId IS NULL OR TRIM(GroupId) = ''"
    " OR regexp_matches(TRIM(GroupId), '^0+$')"
    " OR regexp_matches(TRIM(GroupId), '^G0+$'))"
)

BUILDER_CTES = f"""
per_split AS (
  SELECT GroupId, GroupName, CertificateId, CertEffectiveDate, ProductCode,
         PlanCode, SitusState, CertSplitSeq, CertSplitPercent,
         string_agg(CAST(SplitBrokerSeq AS VARCHAR) || ':' || SplitBrokerId
                    || ':' || ScheduleCode, ';' ORDER BY SplitBrokerSeq)
           AS TiersCanonical,
         sha256('HIER|' || GroupId || '|' || CAST(CertSplitPercent AS VARCHAR)
                || '|' || string_agg(CAST(SplitBrokerSeq AS VARCHAR) || ':'
                || SplitBrokerId || ':' || ScheduleCode, ';'
                ORDER BY SplitBrokerSeq)) AS HierarchyHash,
         arg_min(SplitBrokerId, SplitBrokerSeq) AS WritingBrokerId
  FROM input_certificate_info
  GROUP BY GroupId, GroupName, CertificateId, CertEffectiveDate, ProductCode,
           PlanCode, SitusState, CertSplitSeq, CertSplitPercent
),
criteria AS (
  SELECT GroupId, GroupName, CertificateId, CertEffectiveDate, ProductCode,
         PlanCode, SitusState,
         CAST(SUM(CertSplitPercent) AS INT) AS TotalSplitPercent,
         CAST(COUNT(*) AS INT) AS SplitCount,
         sha256('CFG|' || string_agg(CAST(CertSplitPercent AS VARCHAR) || '@'
                || HierarchyHash, ';' ORDER BY CertSplitSeq)) AS ConfigHash,
         arg_min(WritingBrokerId, CertSplitSeq) AS WritingBrokerId
  FROM per_split
  GROUP BY GroupId, GroupName, CertificateId, CertEffectiveDate, ProductCode,
           PlanCode, SitusState
),
conformant AS (
  SELECT * FROM criteria
  WHERE TotalSplitPercent = 100 AND NOT {_INVALID_GROUP}
),
proposals AS (
  SELECT GroupId, ConfigHash,
         'PROP-' || GroupId || '-' || substr(ConfigHash, 1, 8) AS ProposalId,
         MIN(CertEffectiveDate) AS EffectiveDateFrom,
         MAX(CertEffectiveDate) AS EffectiveDateTo,
         array_to_string(list_sort(list(DISTINCT PlanCode)), ',') AS PlanCodes,
         array_to_string(list_sort(list(DISTINCT ProductCode)), ',')
           AS ProductCodes,
         CAST(COUNT(DISTINCT CertificateId) AS INT) AS CertificateCount,
         arg_min(WritingBrokerId, CertificateId) AS PrimaryBrokerId,
         arg_min(GroupName, CertificateId) AS GroupName,
         arg_min(SitusState, CertificateId) AS SitusState
  FROM conformant
  GROUP BY GroupId, ConfigHash
)
"""


def _oracle(final_select: str) -> str:
    return f"WITH {builder_cte_sql()},\n{BUILDER_CTES}\n{final_select}"


def _certs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # session-cached localCheckpoint of the expanded fact: the whole
    # builder family, the mode cascade, and the certificate dims share
    # ONE materialization (r6 verdict: sharing this expansion was the
    # untried warm-path lever)
    return cert_info(spark, sf_dir)


#: session-scoped caches — the reference materializes builder inputs
#: once per run; re-deriving the whole-fact hash aggregations per query
#: dominates steady-state latency otherwise
_CRITERIA_CACHE: dict[tuple[str, str], DataFrame] = SessionCache()
_PER_SPLIT_CACHE: dict[tuple[str, str], DataFrame] = SessionCache()


def _certs_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The expansion VIEW itself, for one-shot warm-path builds that
    fuse the expansion into their own aggregation job.  ``_per_split``
    deliberately reads this instead of the ``cert_info`` checkpoint:
    the checkpoint would sit on the builder's critical path (views →
    cert → per-split → criteria → mode cascade), and fusing the expansion
    into the per-split aggregation is faster end-to-end than
    materializing it first and aggregating the materialized rows.
    Steady-path queries keep reading the checkpoint via ``_certs``."""
    register_builder_views(spark, sf_dir)
    return spark.table("input_certificate_info")


def _per_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached ``split_hierarchies`` frame (one row per
    certificate split with canonical tier string + hierarchy hash) —
    the single most expensive shared subplan across builder queries."""
    key = (spark.sparkContext.applicationId, sf_dir)
    # keyed on GroupId by the same rule run_builder uses: the per-split
    # frame's consumers aggregate and window by GroupId(+CertificateId),
    # so they run exchange-free over the checkpoint (guide §2.4)
    return locked_get(
        _PER_SPLIT_CACHE,
        key,
        lambda: builder.checkpoint_by_group(
            builder.split_hierarchies(_certs_raw(spark, sf_dir))
        ),
    )


def _criteria(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = (spark.sparkContext.applicationId, sf_dir)

    def build() -> DataFrame:
        # reuse the per-split checkpoint when some earlier query
        # already built it; otherwise FUSE expansion + both
        # aggregations into one job rather than forcing the per-split
        # materialization first — the fused build is what a cold
        # builder run takes, and both forms produce identical values
        ps = _PER_SPLIT_CACHE.get(key)
        # keyed on GroupId: build_proposals groups by (GroupId,
        # ConfigHash[, CertificateId]) and the overlap / mode cascades
        # window by GroupId, so the whole builder family runs its
        # criteria-scale aggregations with no Exchange
        return builder.checkpoint_by_group(
            builder.selection_criteria(_certs_raw(spark, sf_dir), per_split=ps)
        )

    return locked_get(_CRITERIA_CACHE, key, build)


@query(
    "builder_split_hierarchies",
    oracle=_oracle("""
    SELECT GroupId, CertificateId, CertSplitSeq, CertSplitPercent,
           TiersCanonical, HierarchyHash, WritingBrokerId
    FROM per_split"""),
    survey_ref="§2.9 builder: per-split tier arrays + group-scoped "
    "SHA-256 hierarchy hash (proposal-builder.ts:665-714)",
)
def builder_split_hierarchies(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _per_split(spark, sf_dir).select(
        "GroupId", "CertificateId", "CertSplitSeq", "CertSplitPercent",
        "TiersCanonical", "HierarchyHash", "WritingBrokerId",
    )


@query(
    "builder_selection_criteria",
    oracle=_oracle("""
    SELECT GroupId, CertificateId, CertEffectiveDate, ProductCode, PlanCode,
           SitusState, TotalSplitPercent, SplitCount, ConfigHash,
           WritingBrokerId
    FROM criteria"""),
    survey_ref="§2.9 builder: selection criteria per certificate, config "
    "hash excludes splitSeq (proposal-builder.ts:601-734,1005-1012); "
    "A11 grouped accumulation",
)
def builder_selection_criteria(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _criteria(spark, sf_dir).select(
        "GroupId", "CertificateId", "CertEffectiveDate", "ProductCode",
        "PlanCode", "SitusState", "TotalSplitPercent", "SplitCount",
        "ConfigHash", "WritingBrokerId",
    )


@query(
    "builder_incremental_criteria",
    oracle=_oracle("""
    SELECT GroupId, CertificateId, CertEffectiveDate, ProductCode, PlanCode,
           SitusState, TotalSplitPercent, SplitCount, ConfigHash,
           WritingBrokerId
    FROM criteria"""),
    survey_ref="north-star: INCREMENTAL builder — the daily-increment "
    "production pattern applied to the proposal builder (the reference "
    "rebuilds from the full certificate staging table every run, "
    "proposal-builder.ts:2047-2164): a delta batch of certificate "
    "split rows (brand-new certificates PLUS amendments adding splits "
    "to existing ones) updates the criteria WITHOUT recomputing "
    "unaffected certificates. The oracle is the FULL-rebuild criteria, "
    "so the driver's value hash proves incremental == batch exactly. "
    "At 100 TB the baseline is a table bucketed by CertificateId, the "
    "affected-key fetch is a broadcast semi-join (delta-scale), and "
    "only the touched certificates re-aggregate",
)
def builder_incremental_criteria(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic delta slice: certificates with id % 10 == 3 are
    brand-new (all their rows arrive in the batch); certificates with
    id % 10 == 7 receive an AMENDMENT (their split-2 rows arrive late,
    so their baseline criteria were computed from split 1 only and are
    genuinely stale — the merge must replace, not append, them)."""
    merged, _, _ = _incremental_frames(spark, sf_dir)
    return merged.select(
        "GroupId", "CertificateId", "CertEffectiveDate", "ProductCode",
        "PlanCode", "SitusState", "TotalSplitPercent", "SplitCount",
        "ConfigHash", "WritingBrokerId",
    )


def _incremental_frames(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(merged criteria with FULL columns, baseline criteria, batch
    rows) for the incremental-builder family — see
    ``builder_incremental_criteria`` for the delta-slice definition."""
    certs = _certs(spark, sf_dir)
    is_batch = (
        ((F.col("CertificateId") % 10 == 7) & (F.col("CertSplitSeq") == 2))
        | (F.col("CertificateId") % 10 == 3)
    )
    old = certs.filter(~is_batch)
    batch = certs.filter(is_batch)
    # baseline: criteria over the pre-batch fact (stale for amended ids)
    baseline = builder.selection_criteria(old)
    # delta-scale working set: certificates the batch touches
    affected = batch.select("CertificateId").distinct()
    # keyed fetch of the touched certificates' existing rows (bucketed
    # table at scale: this join is shuffle-free on the fact side),
    # then ONE aggregation over (old rows of touched certs) + batch
    touched = old.join(F.broadcast(affected), "CertificateId").select(
        *old.columns
    )
    recomputed = builder.selection_criteria(
        touched.unionByName(batch.select(*old.columns))
    )
    merged = (
        baseline.join(F.broadcast(affected), "CertificateId", "left_anti")
        .select(*recomputed.columns)
        .unionByName(recomputed)
    )
    return merged, baseline, batch


@query(
    "builder_incremental_proposals",
    oracle=_oracle("""
    SELECT ProposalId, GroupId, ConfigHash, EffectiveDateFrom, EffectiveDateTo,
           PlanCodes, ProductCodes, CertificateCount, PrimaryBrokerId,
           GroupName, SitusState
    FROM proposals"""),
    survey_ref="north-star: incremental maintenance PROPAGATED one level "
    "up the builder DAG — the delta batch touches a set of GROUPS, and "
    "only those groups' proposals re-aggregate (from the incrementally "
    "merged criteria); untouched groups keep their baseline proposal "
    "rows verbatim. Oracle = the full-rebuild proposals "
    "(proposal-builder.ts:886-1011), so the value hash proves the "
    "group-level delta propagation exact. At 100 TB this is the "
    "materialized-view maintenance pattern: criteria and proposals are "
    "bucketed tables and each increment rewrites only delta buckets",
)
def builder_incremental_proposals(spark: SparkSession, sf_dir: str) -> DataFrame:
    merged, baseline, batch = _incremental_frames(spark, sf_dir)
    touched_groups = batch.select("GroupId").distinct()
    cols = [
        "ProposalId", "GroupId", "ConfigHash", "EffectiveDateFrom",
        "EffectiveDateTo", "PlanCodes", "ProductCodes", "CertificateCount",
        "PrimaryBrokerId", "GroupName", "SitusState",
    ]
    baseline_props = builder.build_proposals(baseline).select(*cols)
    recomputed_props = builder.build_proposals(
        merged.join(F.broadcast(touched_groups), "GroupId").select(
            *merged.columns
        )
    ).select(*cols)
    return (
        baseline_props.join(
            F.broadcast(touched_groups), "GroupId", "left_anti"
        )
        .select(*cols)
        .unionByName(recomputed_props)
    )


@query(
    "stream_incremental_criteria_parity",
    oracle=_oracle("""
    SELECT GroupId, CertificateId, CertEffectiveDate, ProductCode, PlanCode,
           SitusState, TotalSplitPercent, SplitCount, ConfigHash,
           WritingBrokerId
    FROM criteria"""),
    survey_ref="north-star: the incremental builder AS A STREAM — "
    "certificate amendments and new certificates arrive as micro-"
    "batches (readStream, maxFilesPerTrigger=1, delta files hash-"
    "partitioned by certificate so one cert never splits across "
    "batches) and a foreachBatch handler recomputes criteria for the "
    "touched certificates only, MERGE-upserting them into a maintained "
    "keyed table via the exactly-once sink (streaming/sinks.py "
    "idempotent_merge_sink: replay guard + atomic versioned publish), "
    "across a checkpointed RESTART. The final maintained table is "
    "hash-checked against the FULL-rebuild criteria, proving streamed "
    "view maintenance == batch rebuild. At 100 TB this is the "
    "streaming materialized-view pattern: the sink is the table "
    "format's MERGE INTO and each micro-batch touches delta buckets",
)
def stream_incremental_criteria_parity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Seed the maintained table with the baseline (pre-batch)
    criteria, stream the delta slice in 4 per-certificate files (2 per
    run, restart in between), then read the final published table."""
    import os
    import shutil
    import tempfile

    from ..streaming.sinks import current_table, idempotent_merge_sink

    certs = _certs(spark, sf_dir)
    is_batch = (
        ((F.col("CertificateId") % 10 == 7) & (F.col("CertSplitSeq") == 2))
        | (F.col("CertificateId") % 10 == 3)
    )
    old = certs.filter(~is_batch)
    batch = certs.filter(is_batch)
    cols = [
        "GroupId", "CertificateId", "CertEffectiveDate", "ProductCode",
        "PlanCode", "SitusState", "TotalSplitPercent", "SplitCount",
        "ConfigHash", "WritingBrokerId",
    ]
    tmp = tempfile.mkdtemp(prefix="incr_criteria_stream_")
    try:
        src = f"{tmp}/src"
        ckpt = f"{tmp}/ckpt"
        target = f"{tmp}/table"
        keys = ["GroupId", "CertificateId"]
        sink = idempotent_merge_sink(target, keys)
        # seed: baseline criteria as a pre-stream manual batch (same
        # exactly-once machinery, version v000001)
        sink(builder.selection_criteria(old).select(*cols), -1)

        def apply_increment(bdf: DataFrame, bid: int) -> None:
            # per-micro-batch incremental recompute: fetch the touched
            # certificates' existing rows (keyed broadcast semi-join
            # against the static fact), one aggregation over
            # (existing + batch), then exactly-once MERGE
            affected = bdf.select("CertificateId").distinct()
            existing = old.join(F.broadcast(affected), "CertificateId").select(
                *old.columns
            )
            upd = builder.selection_criteria(
                existing.unionByName(bdf.select(*old.columns))
            ).select(*cols)
            sink(upd, bid)

        # 4 delta files, each holding WHOLE certificates
        batch.repartition(4, "CertificateId").write.mode(
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
                    "incremental-criteria wave did not finish within 300s"
                )
        final = current_table(spark, target).select(*cols)
        # materialize before the tmp dir (the published parquet) is
        # removed — the returned frame must not read deleted files
        return final.localCheckpoint()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "builder_pha_routing",
    oracle=_oracle(f"""
    SELECT GroupId, CertificateId, CertEffectiveDate AS EffectiveDate,
           'NonConformant-CertificateSplitMismatch' AS Reason,
           1 AS EntryType
    FROM criteria WHERE TotalSplitPercent <> 100
    UNION ALL
    SELECT GroupId, CertificateId, CertEffectiveDate,
           'Invalid GroupId (null/empty/zeros)', 2
    FROM criteria WHERE TotalSplitPercent = 100 AND {_INVALID_GROUP}"""),
    survey_ref="§2.9 builder: non-conformant routing — split mismatch "
    "(proposal-builder.ts:750-763) then invalid group (:906-916, "
    ":1994-2001); P9 invalid-group regex",
)
def builder_pha_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    return builder.pha_routing(_criteria(spark, sf_dir))


@query(
    "builder_proposals",
    oracle=_oracle("""
    SELECT ProposalId, GroupId, ConfigHash, EffectiveDateFrom, EffectiveDateTo,
           PlanCodes, ProductCodes, CertificateCount, PrimaryBrokerId,
           GroupName, SitusState
    FROM proposals"""),
    survey_ref="§2.9 builder: proposals per (GroupId, ConfigHash) with "
    "accumulated codes/dates/certs (proposal-builder.ts:886-1011); "
    "deterministic ids replace the global counter (SURVEY §7.1)",
)
def builder_proposals(spark: SparkSession, sf_dir: str) -> DataFrame:
    return builder.build_proposals(
        _criteria(spark, sf_dir)
    ).select(
        "ProposalId", "GroupId", "ConfigHash", "EffectiveDateFrom",
        "EffectiveDateTo", "PlanCodes", "ProductCodes", "CertificateCount",
        "PrimaryBrokerId", "GroupName", "SitusState",
    )


@query(
    "builder_overlap_fix",
    oracle=_oracle("""
    , props AS (
      SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY GroupId
                 ORDER BY EffectiveDateFrom, ProposalId) AS INT) AS rn
      FROM proposals
    ),
    ppair AS (
      SELECT DISTINCT p.GroupId, p.rn,
             c.ProductCode || '~' || c.PlanCode AS pair
      FROM props p JOIN conformant c
        ON c.GroupId = p.GroupId AND c.ConfigHash = p.ConfigHash
    ),
    overlap AS (
      SELECT a.GroupId, a.rn
      FROM ppair a JOIN ppair b
        ON a.GroupId = b.GroupId AND b.rn = a.rn + 1 AND a.pair = b.pair
      GROUP BY a.GroupId, a.rn
    ),
    only_cur AS (
      SELECT a.GroupId, a.rn, a.pair
      FROM ppair a
      WHERE NOT EXISTS (SELECT 1 FROM ppair b
                        WHERE b.GroupId = a.GroupId AND b.rn = a.rn + 1
                          AND b.pair = a.pair)
    ),
    base AS (
      SELECT p.ProposalId AS Id, p.GroupId, p.EffectiveDateFrom,
             CASE WHEN o.rn IS NOT NULL THEN nx.EffectiveDateFrom - 1
                  ELSE p.EffectiveDateTo END AS EffectiveDateTo,
             p.ProductCodes, p.PlanCodes, 0 AS IsContinuation
      FROM props p
      LEFT JOIN props nx ON nx.GroupId = p.GroupId AND nx.rn = p.rn + 1
      LEFT JOIN overlap o ON o.GroupId = p.GroupId AND o.rn = p.rn
    ),
    cont AS (
      SELECT p.ProposalId || '-CONT' AS Id, p.GroupId,
             nx.EffectiveDateFrom AS EffectiveDateFrom,
             DATE '2099-01-01' AS EffectiveDateTo,
             array_to_string(list_sort(list(DISTINCT
               split_part(oc.pair, '~', 1))), ',') AS ProductCodes,
             array_to_string(list_sort(list(DISTINCT
               split_part(oc.pair, '~', 2))), ',') AS PlanCodes,
             1 AS IsContinuation
      FROM props p
      JOIN props nx ON nx.GroupId = p.GroupId AND nx.rn = p.rn + 1
      JOIN overlap o ON o.GroupId = p.GroupId AND o.rn = p.rn
      JOIN only_cur oc ON oc.GroupId = p.GroupId AND oc.rn = p.rn
      GROUP BY p.ProposalId, p.GroupId, nx.EffectiveDateFrom
    )
    SELECT * FROM base UNION ALL SELECT * FROM cont"""),
    survey_ref="§2.9 builder: overlap truncation + '-CONT' continuation "
    "proposals (proposal-builder.ts:1503-1620) as LEAD + array set-ops "
    "(no applyInPandas needed: adjacent-only, no state feedback); W4",
)
def builder_overlap_fix(spark: SparkSession, sf_dir: str) -> DataFrame:
    return builder.fix_overlapping_date_ranges(
        builder.build_proposals(
            _criteria(spark, sf_dir)
        )
    )


@query(
    "builder_broker_assignments",
    oracle=_oracle("""
    SELECT SplitBrokerId AS SourceBrokerId,
           SplitBrokerName AS SourceBrokerName,
           PaidBrokerId AS RecipientBrokerId,
           CertEffectiveDate AS EffectiveDate
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY SplitBrokerId
               ORDER BY CertEffectiveDate DESC, CertificateId DESC,
                        PaidBrokerId DESC) AS rn
      FROM input_certificate_info
      WHERE SplitBrokerId IS NOT NULL AND PaidBrokerId IS NOT NULL
        AND TRIM(SplitBrokerId) <> '' AND TRIM(PaidBrokerId) <> ''
        AND SplitBrokerId <> PaidBrokerId
    ) WHERE rn = 1"""),
    survey_ref="§2.9 builder: broker-level assignments, most recent per "
    "source broker (proposal-builder.ts:644-662); W3 keep-latest",
)
def builder_broker_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    return builder.broker_assignments(_certs(spark, sf_dir))


_PID_BIGINT = "TRY_CAST(REPLACE({c}, 'P', '') AS BIGINT)"


@query(
    "builder_commission_assignments",
    oracle=_oracle(f"""
    , asg AS (
      SELECT GroupId, CertificateId, CertSplitSeq, CertEffectiveDate,
             SplitBrokerId, PaidBrokerId
      FROM input_certificate_info
      WHERE TRIM(CertStatus) = 'A' AND TRIM(RecStatus) = 'A'
        AND SplitBrokerId IS NOT NULL AND PaidBrokerId IS NOT NULL
        AND TRIM(SplitBrokerId) <> '' AND TRIM(PaidBrokerId) <> ''
        AND SplitBrokerId <> PaidBrokerId
    ),
    ctx AS (
      SELECT a.*, ps.HierarchyHash,
             'PROP-' || c.GroupId || '-' || substr(c.ConfigHash, 1, 8)
               AS ProposalId
      FROM asg a
      JOIN per_split ps ON ps.GroupId = a.GroupId
        AND ps.CertificateId = a.CertificateId
        AND ps.CertSplitSeq = a.CertSplitSeq
      JOIN conformant c ON c.GroupId = a.GroupId
        AND c.CertificateId = a.CertificateId
    ),
    ranked AS (
      SELECT *,
             ROW_NUMBER() OVER (PARTITION BY SplitBrokerId
               ORDER BY CertEffectiveDate DESC, HierarchyHash,
                        CertificateId DESC, PaidBrokerId DESC) AS rn,
             MAX(CertEffectiveDate) OVER (PARTITION BY SplitBrokerId)
               AS EffectiveFrom
      FROM ctx
    ),
    bn AS (
      SELECT SplitBrokerId AS pid, MIN(SplitBrokerName) AS KnownName
      FROM input_certificate_info GROUP BY SplitBrokerId
    )
    SELECT 'CAV-' || CAST({_PID_BIGINT.format(c='r.SplitBrokerId')}
             AS VARCHAR) AS Id,
           {_PID_BIGINT.format(c='r.SplitBrokerId')} AS BrokerId,
           COALESCE(sb.KnownName, 'Broker ' || r.SplitBrokerId) AS BrokerName,
           r.ProposalId,
           r.HierarchyHash AS HierarchyId,
           'V1' AS VersionNumber,
           r.EffectiveFrom,
           DATE '2099-01-01' AS EffectiveTo,
           1 AS Status, 1 AS Type,
           CAST(100.0 AS DOUBLE) AS TotalAssignedPercent,
           'CAR-' || CAST({_PID_BIGINT.format(c='r.SplitBrokerId')}
             AS VARCHAR) AS RecipientId,
           {_PID_BIGINT.format(c='r.PaidBrokerId')} AS RecipientBrokerId,
           COALESCE(rb.KnownName, 'Broker ' || r.PaidBrokerId)
             AS RecipientBrokerName,
           CAST(100.0 AS DOUBLE) AS RecipientPercent,
           1 AS RecipientType
    FROM ranked r
    LEFT JOIN bn sb ON sb.pid = r.SplitBrokerId
    LEFT JOIN bn rb ON rb.pid = r.PaidBrokerId
    WHERE r.rn = 1
      AND {_PID_BIGINT.format(c='r.SplitBrokerId')} IS NOT NULL
      AND {_PID_BIGINT.format(c='r.PaidBrokerId')} IS NOT NULL"""),
    survey_ref="§2.9 builder: FULL commission-assignments transform — "
    "assignment versions (one per source broker paying a different "
    "broker, latest hierarchy/proposal context via the builder's own "
    "split chain, open 2099 end) + the 100% recipient record, "
    "deterministic CAV-/CAR- ids replacing the ROW_NUMBER counters "
    "(12-commission-assignments.sql:24-150)",
)
def builder_commission_assignments(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return builder.commission_assignment_records(
        _certs(spark, sf_dir),
        per_split=_per_split(spark, sf_dir),
        criteria=_criteria(spark, sf_dir),
    )


# ---------------------------------------------------------------------------
# Consolidation fold — applyInPandas on Spark, RECURSIVE CTE on DuckDB
# ---------------------------------------------------------------------------

_CONFLICT = """(
  NOT list_contains(AccPlans, '*')
  AND NOT list_contains(plan_list, '*')
  AND len(list_filter(plan_list, x -> list_contains(AccPlans, x))) > 0
  AND NOT (len(list_filter(plan_list, x -> list_contains(AccPlans, x)))
             = len(AccPlans)
           AND len(list_filter(plan_list, x -> list_contains(AccPlans, x)))
             = len(plan_list))
)"""

CONSOLIDATE_ORACLE = f"""
WITH RECURSIVE {{fixtures}},
p AS (
  SELECT *,
         CASE WHEN PlanCodes = '*' THEN ['*']
              ELSE string_split(PlanCodes, ',') END AS plan_list,
         CASE WHEN ProductCodes = '*' THEN ['*']
              ELSE string_split(ProductCodes, ',') END AS prod_list,
         CAST(ROW_NUMBER() OVER (PARTITION BY GroupId
              ORDER BY EffectiveDateFrom, SplitConfigurationMD5, Id) AS INT)
           AS rn
  FROM prestage_proposals
),
fold AS (
  SELECT GroupId, rn, Id AS RetainedId, SplitConfigurationMD5 AS Md5,
         list_sort(list_distinct(plan_list)) AS AccPlans,
         list_sort(list_distinct(prod_list)) AS AccProds,
         EffectiveDateFrom AS EffFrom, EffectiveDateTo AS EffTo,
         DateRangeFrom AS DrFrom, DateRangeTo AS DrTo,
         0 AS Consumed
  FROM p WHERE rn = 1
  UNION ALL
  SELECT GroupId, rn,
         CASE WHEN clos THEN Id ELSE RetainedId END,
         CASE WHEN clos THEN Md5In ELSE Md5 END,
         CASE WHEN clos THEN list_sort(list_distinct(plan_list))
              ELSE list_sort(list_distinct(list_concat(AccPlans, plan_list)))
              END,
         CASE WHEN clos THEN list_sort(list_distinct(prod_list))
              ELSE list_sort(list_distinct(list_concat(AccProds, prod_list)))
              END,
         CASE WHEN clos THEN EffFromIn ELSE LEAST(EffFrom, EffFromIn) END,
         CASE WHEN clos THEN EffToIn
              WHEN EffToIn IS NULL THEN EffTo
              WHEN EffTo IS NULL THEN EffToIn
              ELSE GREATEST(EffTo, EffToIn) END,
         CASE WHEN clos THEN DrFromIn ELSE LEAST(DrFrom, DrFromIn) END,
         CASE WHEN clos THEN DrToIn
              WHEN DrToIn IS NULL THEN NULL
              WHEN DrTo IS NULL THEN DrToIn
              ELSE GREATEST(DrTo, DrToIn) END,
         CASE WHEN clos THEN 0 ELSE Consumed + 1 END
  FROM (
    SELECT f.RetainedId, f.Md5, f.AccPlans, f.AccProds, f.EffFrom, f.EffTo,
           f.DrFrom, f.DrTo, f.Consumed,
           p.GroupId, p.rn, p.Id, p.SplitConfigurationMD5 AS Md5In,
           p.plan_list, p.prod_list,
           p.EffectiveDateFrom AS EffFromIn, p.EffectiveDateTo AS EffToIn,
           p.DateRangeFrom AS DrFromIn, p.DateRangeTo AS DrToIn,
           (p.SplitConfigurationMD5 <> f.Md5 OR {_CONFLICT.replace('AccPlans', 'f.AccPlans').replace('plan_list', 'p.plan_list')})
             AS clos
    FROM fold f JOIN p ON p.GroupId = f.GroupId AND p.rn = f.rn + 1
  )
)
SELECT GroupId, RetainedId, EffFrom AS EffectiveDateFrom,
       EffTo AS EffectiveDateTo,
       CAST(DrFrom AS INT) AS DateRangeFrom,
       CAST(DrTo AS INT) AS DateRangeTo,
       array_to_string(AccProds, ',') AS ProductCodes,
       array_to_string(AccPlans, ',') AS PlanCodes,
       CAST(Consumed AS INT) AS ConsumedCount
FROM fold
QUALIFY ROW_NUMBER() OVER (PARTITION BY GroupId, RetainedId
                           ORDER BY rn DESC) = 1
"""


@query(
    "consolidate_proposals",
    oracle=CONSOLIDATE_ORACLE.format(fixtures=builder_cte_sql()),
    survey_ref="§2.9 consolidation fold rules R1-R4 incl. wildcard "
    "conflicts + asymmetric null date merges "
    "(consolidate-proposals.ts:130-260); §2.11 ordered fold via sorted "
    "mapInPandas; oracle is a DuckDB recursive CTE of the same fold",
)
def consolidate_proposals_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_builder_views(spark, sf_dir)
    return consolidate_proposals(spark.table("prestage_proposals"))


_CONSOLIDATE_COLS = [
    "GroupId", "RetainedId", "EffectiveDateFrom", "EffectiveDateTo",
    "DateRangeFrom", "DateRangeTo", "ProductCodes", "PlanCodes",
    "ConsumedCount",
]


@query(
    "consolidate_incremental_parity",
    oracle=CONSOLIDATE_ORACLE.format(fixtures=builder_cte_sql()),
    survey_ref="north-star: INCREMENTAL maintenance of the consolidation "
    "fold — the last maintained output without an incremental variant "
    "(r9 verdict item 1). The fold never crosses groups "
    "(consolidate-proposals.ts:130-245 keeps per-group state only), so "
    "a delta batch of prestage proposals touching a set of GROUPS "
    "re-folds ONLY those groups from their full prestage history and "
    "keeps every other consolidated row verbatim — the same group-"
    "propagation shape as builder_incremental_proposals. Delta slice: "
    "groups custkey%10==3 are brand-new (all their proposals arrive in "
    "the batch), groups custkey%10==7 receive their FIRST proposal "
    "LATE (the earliest fold input arrives after the baseline fold "
    "ran, so the baseline's retained rows are genuinely stale — and "
    "because the late row sorts FIRST, the re-fold can MERGE AWAY a "
    "previously-retained run: the group's maintained row set SHRINKS "
    "and its retained key changes, so only group-replace — never "
    "upsert-by-key — maintains it, and a missed delete arm fails the "
    "hash). Oracle = the verbatim full-rebuild recursive-CTE "
    "fold, so the driver hash proves incremental re-fold == full "
    "re-fold exactly. At 100 TB the consolidated table is bucketed by "
    "GroupId: the affected-group fetch is a broadcast semi-join "
    "(delta-scale), only touched groups shuffle through the sorted "
    "mapInPandas fold, and the merge rewrites only delta buckets",
)
def consolidate_incremental_parity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    register_builder_views(spark, sf_dir)
    prestage = spark.table("prestage_proposals")
    gk = F.substring("GroupId", 2, 20).cast("long")
    # the FIRST proposal (n == 1) arrives late for amended groups —
    # it sorts first in the fold, so the re-fold can merge away a
    # previously-retained run (row-set shrink: the group-replace case)
    seq = F.element_at(F.split("Id", "-"), 3).cast("int")
    is_new_group = gk % 10 == 3
    is_amendment = (gk % 10 == 7) & (seq == 1)
    is_batch = is_new_group | is_amendment
    old = prestage.filter(~is_batch)
    batch = prestage.filter(is_batch)
    # baseline: the consolidated table as published BEFORE the batch
    # (stale for amended groups, missing the brand-new groups)
    baseline = consolidate_proposals(old)
    touched = batch.select("GroupId").distinct()
    # group-propagation: re-fold ONLY the touched groups over their
    # FULL prestage history (old rows + batch rows) — the fold is
    # order-sensitive within a group, so group grain is the finest
    # correct increment
    refold = consolidate_proposals(
        prestage.join(F.broadcast(touched), "GroupId").select(
            *prestage.columns
        )
    )
    return (
        baseline.join(F.broadcast(touched), "GroupId", "left_anti")
        .select(*_CONSOLIDATE_COLS)
        .unionByName(refold.select(*_CONSOLIDATE_COLS))
    )


@query(
    "stream_consolidate_parity",
    oracle=CONSOLIDATE_ORACLE.format(fixtures=builder_cte_sql()),
    survey_ref="north-star: the consolidation-fold increment AS A "
    "STREAM — prestage-proposal deltas (new groups + late-arriving "
    "FIRST proposals, the consolidate_incremental_parity slice) arrive "
    "as micro-batches hash-partitioned by GROUP (a group never splits "
    "across delta files — the group-replace sink's caller contract), "
    "and a foreachBatch handler re-folds ONLY the touched groups' full "
    "history (static pre-batch table keyed-fetched by broadcast "
    "semi-join + the batch rows), group-replacing them into the "
    "maintained consolidated table via the exactly-once sink "
    "(streaming/sinks.py idempotent_replace_sink: replay guard + "
    "atomic versioned publish) across a checkpointed RESTART. Oracle = "
    "the verbatim recursive-CTE FULL-rebuild fold, so the final "
    "published table is hash-proven equal to folding everything from "
    "scratch. The group-replace (not upsert) arm is load-bearing: a "
    "late proposal can MERGE two previously separate retained runs, so "
    "the group's maintained row set SHRINKS — an upsert by RetainedId "
    "would leave the consumed run's stale row behind. At 100 TB this "
    "is MERGE ... WHEN NOT MATCHED BY SOURCE AND GroupId IN (affected) "
    "THEN DELETE on a GroupId-bucketed table",
)
def stream_consolidate_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seed the maintained table with the pre-batch fold, stream the
    delta in 4 per-group files (2 per run, restart in between), then
    read the final published table."""
    import os
    import shutil
    import tempfile

    from ..streaming.sinks import current_table, idempotent_replace_sink

    register_builder_views(spark, sf_dir)
    prestage = spark.table("prestage_proposals")
    gk = F.substring("GroupId", 2, 20).cast("long")
    seq = F.element_at(F.split("Id", "-"), 3).cast("int")
    is_batch = (gk % 10 == 3) | ((gk % 10 == 7) & (seq == 1))
    old = prestage.filter(~is_batch)
    batch = prestage.filter(is_batch)
    tmp = tempfile.mkdtemp(prefix="consolidate_stream_")
    try:
        src = f"{tmp}/src"
        ckpt = f"{tmp}/ckpt"
        target = f"{tmp}/table"
        sink = idempotent_replace_sink(target, ["GroupId"])
        # seed: the baseline fold as a pre-stream manual batch (same
        # exactly-once machinery, version v000001)
        sink(consolidate_proposals(old).select(*_CONSOLIDATE_COLS), -1)

        def apply_increment(bdf: DataFrame, bid: int) -> None:
            touched = bdf.select("GroupId").distinct()
            history = (
                old.join(F.broadcast(touched), "GroupId")
                .select(*old.columns)
                .unionByName(bdf.select(*old.columns))
            )
            sink(
                consolidate_proposals(history).select(*_CONSOLIDATE_COLS),
                bid,
                affected=touched,
            )

        # 4 delta files, each holding WHOLE groups
        batch.repartition(4, "GroupId").write.mode("overwrite").parquet(
            f"{tmp}/all"
        )
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
                    "consolidate stream wave did not finish within 300s"
                )
        final = current_table(spark, target).select(*_CONSOLIDATE_COLS)
        # materialize before the tmp dir (the published parquet) is
        # removed — the returned frame must not read deleted files
        return final.localCheckpoint()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# ---------------------------------------------------------------------------
# Skew stress (r9 verdict item 3), builder side: the builder's
# group-keyed aggregations (criteria -> proposals) over a fixture where
# ONE group holds ~40% of all certificates. See calcdomain.py's
# calc_skewed_group_parity for the cascade twin and the scale
# rationale; scripts/skew_stress.py measures the task-time balance.
# ---------------------------------------------------------------------------


def _skewed_builder_oracle(final_select: str) -> str:
    # valid group ids are 'G' || custkey; the invalid strata ('00000',
    # 'G000') parse to NULL/0 and must keep their PHA routing
    skew_cte = """skewed_certificate_info AS (
  SELECT * REPLACE (
    CASE WHEN GroupId LIKE 'G%'
              AND COALESCE(TRY_CAST(substr(GroupId, 2) AS BIGINT), 0) > 0
              AND TRY_CAST(substr(GroupId, 2) AS BIGINT) % 5 <= 1
         THEN 'G1' ELSE GroupId END AS GroupId)
  FROM input_certificate_info
)"""
    builder_ctes = BUILDER_CTES.replace(
        "FROM input_certificate_info", "FROM skewed_certificate_info"
    )
    return (
        f"WITH {builder_cte_sql()},\n{skew_cte},\n{builder_ctes}\n"
        f"{final_select}"
    )


@query(
    "builder_skewed_group_parity",
    oracle=_skewed_builder_oracle("""
    SELECT ProposalId, GroupId, ConfigHash, EffectiveDateFrom,
           EffectiveDateTo, PlanCodes, ProductCodes, CertificateCount,
           PrimaryBrokerId, GroupName, SitusState
    FROM proposals"""),
    survey_ref="§2.9 skew stress, builder side: criteria -> proposals "
    "over a fixture with ~40% of valid groups folded into G1 (the "
    "reference's group-skewed volume shape, proposal-builder.ts:"
    "819-862). Oracle = the verbatim builder SQL over the identically "
    "skewed input, proving the group-keyed hash aggregations "
    "(per-split, criteria, proposals) stay exact when one group "
    "dominates. Scale posture: all three aggregations keep "
    "certificate- or config-grain keys alongside GroupId, so even the "
    "hot group's rows spread across reducers (the pure-GroupId "
    "aggregates are config-scale inputs); AQE skew-split is the "
    "backstop — measured task-time balance in SCALING.md's skew "
    "section",
)
def builder_skewed_group_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    certs = _certs(spark, sf_dir)
    gk = F.substring("GroupId", 2, 20).cast("long")
    valid_numeric = (
        F.col("GroupId").startswith("G")
        & (F.coalesce(gk, F.lit(0)) > 0)
    )
    skewed = certs.withColumn(
        "GroupId",
        F.when(valid_numeric & (gk % 5 <= 1), F.lit("G1")).otherwise(
            F.col("GroupId")
        ),
    )
    cols = [
        "ProposalId", "GroupId", "ConfigHash", "EffectiveDateFrom",
        "EffectiveDateTo", "PlanCodes", "ProductCodes", "CertificateCount",
        "PrimaryBrokerId", "GroupName", "SitusState",
    ]
    return builder.build_proposals(builder.selection_criteria(skewed)).select(
        *cols
    )


# ---------------------------------------------------------------------------
# Entropy routing (ref proposal-builder.ts:784-880, A10) — thresholds
# have no committed defaults in the reference (SURVEY §7.5); these are
# the engine's documented defaults, overridable per run.
# ---------------------------------------------------------------------------

HIGH_ENTROPY_UNIQUE_RATIO = 0.5
HIGH_ENTROPY_SHANNON = 2.0
DOMINANT_COVERAGE_THRESHOLD = 0.4
PHA_CLUSTER_SIZE_THRESHOLD = 2


@query(
    "builder_entropy_routing",
    oracle=_oracle(f"""
    , valid AS (
      SELECT * FROM criteria
      WHERE TotalSplitPercent = 100 AND NOT {_INVALID_GROUP}
    ),
    clusters AS (
      SELECT GroupId, ConfigHash, COUNT(*) AS m
      FROM valid GROUP BY GroupId, ConfigHash
    ),
    cl2 AS (
      SELECT GroupId, ConfigHash, m,
             m * 1.0 / SUM(m) OVER (PARTITION BY GroupId) AS p
      FROM clusters
    ),
    gm AS (
      SELECT GroupId,
             SUM(m) AS total,
             COUNT(*) AS uniq,
             MAX(m) AS dominant,
             -SUM(p * log2(p)) AS shannon
      FROM cl2 GROUP BY GroupId
    ),
    decided AS (
      SELECT cl.GroupId, cl.ConfigHash,
             CASE
               WHEN (g.uniq * 1.0 / g.total) > {HIGH_ENTROPY_UNIQUE_RATIO}
                    OR g.shannon > {HIGH_ENTROPY_SHANNON}
                    OR (g.dominant * 1.0 / g.total)
                       < {DOMINANT_COVERAGE_THRESHOLD}
                 THEN 'BusinessDrivenEntropy'
               WHEN cl.m < {PHA_CLUSTER_SIZE_THRESHOLD}
                 THEN 'HumanErrorOutlier'
               ELSE 'Conformant' END AS Decision
      FROM clusters cl
      JOIN gm g ON g.GroupId = cl.GroupId
    )
    SELECT v.GroupId, v.CertificateId, v.ConfigHash, d.Decision,
           CASE d.Decision WHEN 'Conformant' THEN 0 WHEN 'HumanErrorOutlier'
                THEN 1 ELSE 2 END AS EntryType
    FROM valid v
    JOIN decided d ON d.GroupId = v.GroupId AND d.ConfigHash = v.ConfigHash"""),
    survey_ref="§2.9 builder: entropy routing A10 — per-group config "
    "clustering, unique ratio / Shannon entropy / dominant coverage, "
    "small-cluster outliers (proposal-builder.ts:784-880); documented "
    "default thresholds (reference commits none, SURVEY §7.5)",
)
def builder_entropy_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    crit = builder.conformant_criteria(
        _criteria(spark, sf_dir)
    )
    clusters = crit.groupBy("GroupId", "ConfigHash").agg(
        F.count(F.lit(1)).alias("m")
    )
    w = Window.partitionBy("GroupId")
    p = F.col("m") * F.lit(1.0) / F.sum("m").over(w)
    cl2 = clusters.withColumn("p", p)
    gm = cl2.groupBy("GroupId").agg(
        F.sum("m").alias("total"),
        F.count(F.lit(1)).alias("uniq"),
        F.max("m").alias("dominant"),
        (-F.sum(F.col("p") * F.log2("p"))).alias("shannon"),
    )
    decision = (
        F.when(
            ((F.col("uniq") * 1.0 / F.col("total")) > HIGH_ENTROPY_UNIQUE_RATIO)
            | (F.col("shannon") > HIGH_ENTROPY_SHANNON)
            | ((F.col("dominant") * 1.0 / F.col("total"))
               < DOMINANT_COVERAGE_THRESHOLD),
            "BusinessDrivenEntropy",
        )
        .when(F.col("m") < PHA_CLUSTER_SIZE_THRESHOLD, "HumanErrorOutlier")
        .otherwise("Conformant")
    )
    return (
        crit.select("GroupId", "CertificateId", "ConfigHash")
        .join(clusters, ["GroupId", "ConfigHash"])
        .join(gm, "GroupId")
        .select(
            "GroupId", "CertificateId", "ConfigHash",
            decision.alias("Decision"),
            F.when(decision == "Conformant", 0)
            .when(decision == "HumanErrorOutlier", 1)
            .otherwise(2)
            .alias("EntryType"),
        )
    )


@query(
    "builder_display_names",
    oracle=_oracle("""
    , named AS (
      SELECT p.ProposalId, p.GroupId,
             COALESCE(NULLIF(g.Name, ''), p.GroupId) AS GroupName,
             strftime(p.EffectiveDateFrom, '%Y-%m-%d') AS EffDate,
             ROW_NUMBER() OVER (PARTITION BY p.GroupId
                ORDER BY p.EffectiveDateFrom, p.ProposalId) AS SeqNum
      FROM proposals p
      LEFT JOIN (SELECT 'G' || CAST(c_custkey AS VARCHAR(20)) AS GId,
                        'Acme ' || CAST(c_custkey AS VARCHAR(20)) AS Name
                 FROM customer WHERE c_custkey % 3 <> 1
                   AND c_custkey % 7 <> 2) g
        ON g.GId = p.GroupId
    )
    SELECT ProposalId, GroupId,
           SUBSTR(GroupName || ' - ' || EffDate || ' - '
                  || CAST(SeqNum AS VARCHAR(10)), 1, 100) AS DisplayName
    FROM named"""),
    survey_ref="§2.9 consolidation step 5.5: display names 'GroupName - "
    "date - seq' via partitioned ROW_NUMBER W2, LEFT(,100) "
    "(consolidate-proposals.ts:426-450)",
)
def builder_display_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    props = builder.build_proposals(
        _criteria(spark, sf_dir)
    )
    # group_names resolves `customer` by NAME: pin the fixture views to
    # this sf_dir (a cached _criteria hit skips registration, so the
    # ambient view could belong to a previously-used scale factor)
    register_builder_views(spark, sf_dir)
    spark.sql(
        """CREATE OR REPLACE TEMPORARY VIEW group_names AS
        SELECT 'G' || CAST(c_custkey AS VARCHAR(20)) AS GId,
               'Acme ' || CAST(c_custkey AS VARCHAR(20)) AS Name
        FROM customer WHERE c_custkey % 3 <> 1 AND c_custkey % 7 <> 2"""
    )
    names = spark.table("group_names")
    w = Window.partitionBy("GroupId").orderBy("EffectiveDateFrom", "ProposalId")
    return (
        props.join(
            F.broadcast(names), props.GroupId == names.GId, "left"
        )
        .withColumn("SeqNum", F.row_number().over(w))
        .select(
            "ProposalId",
            "GroupId",
            F.substring(
                F.concat_ws(
                    " - ",
                    F.coalesce(F.nullif(F.col("Name"), F.lit("")), F.col("GroupId")),
                    F.date_format("EffectiveDateFrom", "yyyy-MM-dd"),
                    F.col("SeqNum").cast("string"),
                ),
                1,
                100,
            ).alias("DisplayName"),
        )
    )


@query(
    "hier_equal_split_distribution",
    oracle=f"WITH {builder_cte_sql()},\n" + """
    hp AS (
      SELECT 'HV-' || GroupId || '-' || CAST(CertificateId AS VARCHAR(20))
               || '-' || CAST(CertSplitSeq AS VARCHAR(20)) AS HierarchyVersionId,
             SplitBrokerSeq, SplitBrokerId,
             CASE WHEN SplitBrokerSeq = 1 AND GroupId LIKE 'G1%'
                  THEN CAST(60 AS DECIMAL(18,4)) END AS SplitPercent
      FROM input_certificate_info
    )
    SELECT HierarchyVersionId || '-' || CAST(SplitBrokerSeq AS VARCHAR(20))
             AS Id,
           HierarchyVersionId, SplitBrokerId AS ParticipantEntityId,
           CAST(COALESCE(SplitPercent,
                100.0 / NULLIF(COUNT(*) OVER (PARTITION BY HierarchyVersionId),
                               0)) AS DOUBLE) AS Percentage
    FROM hp""",
    survey_ref="§2.9 hierarchy splits: equal-distribution fallback "
    "COALESCE(explicit%, 100/participant-count) via J10 lateral count "
    "-> window COUNT (08-hierarchy-splits.sql:290-318)",
)
def hier_equal_split_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    certs = _certs(spark, sf_dir)
    hp = certs.select(
        F.concat_ws(
            "-", F.lit("HV"), "GroupId",
            F.col("CertificateId").cast("string"),
            F.col("CertSplitSeq").cast("string"),
        ).alias("HierarchyVersionId"),
        "SplitBrokerSeq",
        "SplitBrokerId",
        F.when(
            (F.col("SplitBrokerSeq") == 1) & F.col("GroupId").like("G1%"),
            F.lit(60).cast("decimal(18,4)"),
        ).alias("SplitPercent"),
    )
    w = Window.partitionBy("HierarchyVersionId")
    return hp.select(
        F.concat_ws(
            "-", "HierarchyVersionId", F.col("SplitBrokerSeq").cast("string")
        ).alias("Id"),
        "HierarchyVersionId",
        F.col("SplitBrokerId").alias("ParticipantEntityId"),
        F.coalesce(
            F.col("SplitPercent").cast("double"),
            F.lit(100.0)
            / F.nullif(F.count(F.lit(1)).over(w), F.lit(0)).cast("double"),
        )
        .cast("double")
        .alias("Percentage"),
    )


@query(
    "conformance_grouping_sets",
    oracle=f"WITH {builder_cte_sql()}\n" + """
    SELECT GroupId, ProductCode,
           GROUPING(GroupId) AS gG, GROUPING(ProductCode) AS gP,
           COUNT(*) AS n_rows,
           CAST(COUNT(DISTINCT CertificateId) AS BIGINT) AS n_certs
    FROM input_certificate_info
    GROUP BY GROUPING SETS ((GroupId, ProductCode), (GroupId), (ProductCode), ())""",
    survey_ref="§2.4 note: GROUPING SETS conformance rollup — beyond-"
    "reference surface (the reference lacks grouping sets; Spark gives "
    "them free, SURVEY §2.4)",
)
def conformance_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    _certs(spark, sf_dir)
    return spark.sql(
        """SELECT GroupId, ProductCode,
                  GROUPING(GroupId) AS gG, GROUPING(ProductCode) AS gP,
                  COUNT(*) AS n_rows,
                  COUNT(DISTINCT CertificateId) AS n_certs
           FROM input_certificate_info
           GROUP BY GROUPING SETS ((GroupId, ProductCode), (GroupId),
                                   (ProductCode), ())"""
    )


@query(
    "builder_key_mappings",
    oracle=_oracle("""
    , base_map AS (
      SELECT GroupId, ProposalId,
             unnest(generate_series(
               CAST(EXTRACT(YEAR FROM EffectiveDateFrom) AS INT),
               CAST(EXTRACT(YEAR FROM EffectiveDateTo) AS INT)))
               AS EffectiveYear,
             ProductCodes, PlanCodes
      FROM proposals
    ),
    base_rows AS (
      SELECT GroupId, ProposalId, EffectiveYear,
             unnest(string_split(ProductCodes, ',')) AS ProductCode,
             PlanCodes
      FROM base_map
    ),
    base_full AS (
      SELECT GroupId, ProposalId, EffectiveYear, ProductCode,
             unnest(string_split(PlanCodes, ',')) AS PlanCode,
             0 AS IsCont
      FROM base_rows
    ),
    props AS (
      SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY GroupId
                 ORDER BY EffectiveDateFrom, ProposalId) AS INT) AS rn
      FROM proposals
    ),
    ppair AS (
      SELECT DISTINCT p.GroupId, p.rn,
             c.ProductCode || '~' || c.PlanCode AS pair
      FROM props p JOIN conformant c
        ON c.GroupId = p.GroupId AND c.ConfigHash = p.ConfigHash
    ),
    overlap AS (
      SELECT a.GroupId, a.rn
      FROM ppair a JOIN ppair b
        ON a.GroupId = b.GroupId AND b.rn = a.rn + 1 AND a.pair = b.pair
      GROUP BY a.GroupId, a.rn
    ),
    only_cur AS (
      SELECT a.GroupId, a.rn, a.pair
      FROM ppair a
      WHERE NOT EXISTS (SELECT 1 FROM ppair b
                        WHERE b.GroupId = a.GroupId AND b.rn = a.rn + 1
                          AND b.pair = a.pair)
    ),
    cont_years AS (
      SELECT p.GroupId, p.ProposalId || '-CONT' AS ProposalId,
             unnest(generate_series(
               CAST(EXTRACT(YEAR FROM nx.EffectiveDateFrom) AS INT), 2099))
               AS EffectiveYear,
             p.rn
      FROM props p
      JOIN props nx ON nx.GroupId = p.GroupId AND nx.rn = p.rn + 1
      JOIN overlap o ON o.GroupId = p.GroupId AND o.rn = p.rn
      WHERE EXISTS (SELECT 1 FROM only_cur oc
                    WHERE oc.GroupId = p.GroupId AND oc.rn = p.rn)
    ),
    cont_full AS (
      SELECT cy.GroupId, cy.ProposalId, cy.EffectiveYear,
             split_part(oc.pair, '~', 1) AS ProductCode,
             split_part(oc.pair, '~', 2) AS PlanCode,
             1 AS IsCont
      FROM cont_years cy
      JOIN only_cur oc ON oc.GroupId = cy.GroupId AND oc.rn = cy.rn
    ),
    unioned AS (
      SELECT * FROM base_full UNION ALL SELECT * FROM cont_full
    )
    SELECT GroupId, ProposalId, EffectiveYear, ProductCode, PlanCode
    FROM (SELECT *, ROW_NUMBER() OVER (
            PARTITION BY GroupId, EffectiveYear, ProductCode, PlanCode
            ORDER BY IsCont DESC, ProposalId) AS pick
          FROM unioned)
    WHERE pick = 1"""),
    survey_ref="§1.4 deterministic lookup F(GroupId, Year, Product, "
    "Plan) -> ProposalId (03-staging-tables.sql:396-409); year-range x "
    "code-set expansion (proposal-builder.ts:1076-1091), continuation "
    "mappings to 2099 (:1758-1772), continuation-preferring dedup "
    "(:1465-1477)",
)
def builder_key_mappings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return builder.proposal_key_mappings(
        builder.build_proposals(
            _criteria(spark, sf_dir)
        )
    )


@query(
    "builder_split_versions",
    oracle=_oracle("""
    SELECT 'PSV-' || ProposalId AS SplitVersionId,
           ProposalId, 1 AS Status,
           EffectiveDateFrom - 1 AS EffectiveFrom,
           DATE '2099-01-01' AS EffectiveTo
    FROM proposals"""),
    survey_ref="§2.9 builder staging: one split version per proposal, "
    "effective ONE DAY BEFORE start (the '>'-not->=' consumer quirk, "
    "proposal-builder.ts:1041-1050,1093-1110)",
)
def builder_split_versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return builder.proposal_split_versions(
        builder.build_proposals(
            _criteria(spark, sf_dir)
        )
    )


@query(
    "builder_proposal_hierarchies",
    oracle=_oracle("""
    SELECT DISTINCT
           ps.HierarchyHash || '-PROPOSAL-' || 'PROP-' || ps.GroupId || '-'
             || substr(c.ConfigHash, 1, 8) AS HierarchyEntityId,
           'PROP-' || ps.GroupId || '-' || substr(c.ConfigHash, 1, 8)
             AS ProposalId,
           ps.GroupId,
           ps.CertSplitPercent AS SplitPercent,
           ps.TiersCanonical,
           ps.WritingBrokerId
    FROM per_split ps
    JOIN conformant c ON c.GroupId = ps.GroupId
                      AND c.CertificateId = ps.CertificateId"""),
    survey_ref="§2.9 builder staging: proposal-scoped hierarchies "
    "('{hash}-PROPOSAL-{id}', no cross-proposal sharing, "
    "proposal-builder.ts:995-1010,1890-1894)",
)
def builder_proposal_hierarchies(spark: SparkSession, sf_dir: str) -> DataFrame:
    certs = _certs(spark, sf_dir)
    return builder.proposal_hierarchies(
        _criteria(spark, sf_dir), certs, per_split=_per_split(spark, sf_dir)
    )


@query(
    "builder_simple_proposals",
    oracle=_oracle("""
    , tier1 AS (
      SELECT GroupId, CertSplitPercent AS SplitPercent,
             SplitBrokerId AS WritingBrokerId,
             MIN(CertEffectiveDate) AS MinEffDate,
             MAX(CertEffectiveDate) AS MaxEffDate,
             MAX(SitusState) AS SitusState
      FROM input_certificate_info
      WHERE SplitBrokerSeq = 1
      GROUP BY GroupId, CertSplitPercent, SplitBrokerId
    ),
    seqd AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY GroupId
                 ORDER BY SplitPercent DESC, WritingBrokerId) AS SplitSequence
      FROM tier1
    ),
    all_cert_min AS (
      SELECT GroupId, MIN(CertEffectiveDate) AS TrueMinDate
      FROM input_certificate_info GROUP BY GroupId
    )
    SELECT s.GroupId,
           COALESCE(m.TrueMinDate, MIN(s.MinEffDate)) AS EffectiveDateFrom,
           MAX(s.MaxEffDate) AS EffectiveDateTo,
           MAX(s.SitusState) AS SitusState,
           CAST(SUM(s.SplitPercent) AS INT) AS TotalSplitPercent,
           COUNT(DISTINCT s.WritingBrokerId) AS ParticipantCount,
           COUNT(DISTINCT s.SplitSequence) AS SplitCount
    FROM seqd s
    LEFT JOIN all_cert_min m ON m.GroupId = s.GroupId
    GROUP BY s.GroupId, m.TrueMinDate"""),
    survey_ref="§7.5 config-mode: the SQL builder's one-proposal-per-"
    "group simple path — distinct split configs, W2 sequencing by "
    "percent desc, true-minimum date fallback "
    "(06-proposals.sql:60-117); J9/A1/A2",
)
def builder_simple_proposals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    certs = _certs(spark, sf_dir)
    tier1 = (
        certs.filter(F.col("SplitBrokerSeq") == 1)
        .groupBy(
            "GroupId",
            F.col("CertSplitPercent").alias("SplitPercent"),
            F.col("SplitBrokerId").alias("WritingBrokerId"),
        )
        .agg(
            F.min("CertEffectiveDate").alias("MinEffDate"),
            F.max("CertEffectiveDate").alias("MaxEffDate"),
            F.max("SitusState").alias("SitusState"),
        )
    )
    w = Window.partitionBy("GroupId").orderBy(
        F.col("SplitPercent").desc(), "WritingBrokerId"
    )
    seqd = tier1.withColumn("SplitSequence", F.row_number().over(w))
    true_min = certs.groupBy("GroupId").agg(
        F.min("CertEffectiveDate").alias("TrueMinDate")
    )
    return (
        seqd.join(true_min, "GroupId", "left")
        .groupBy("GroupId", "TrueMinDate")
        .agg(
            F.min("MinEffDate").alias("FallbackMin"),
            F.max("MaxEffDate").alias("EffectiveDateTo"),
            F.max("SitusState").alias("SitusState"),
            F.sum("SplitPercent").cast("int").alias("TotalSplitPercent"),
            F.countDistinct("WritingBrokerId").alias("ParticipantCount"),
            F.countDistinct("SplitSequence").alias("SplitCount"),
        )
        .select(
            "GroupId",
            F.coalesce("TrueMinDate", "FallbackMin").alias("EffectiveDateFrom"),
            "EffectiveDateTo", "SitusState", "TotalSplitPercent",
            "ParticipantCount", "SplitCount",
        )
    )


@query(
    "conformance_analysis",
    oracle=_oracle("""
    , base_map AS (
      SELECT GroupId, ProposalId,
             unnest(generate_series(
               CAST(EXTRACT(YEAR FROM EffectiveDateFrom) AS INT),
               CAST(EXTRACT(YEAR FROM EffectiveDateTo) AS INT)))
               AS EffectiveYear,
             ProductCodes, PlanCodes
      FROM proposals
    ),
    base_rows AS (
      SELECT GroupId, ProposalId, EffectiveYear,
             unnest(string_split(ProductCodes, ',')) AS ProductCode, PlanCodes
      FROM base_map
    ),
    mappings AS (
      SELECT DISTINCT GroupId, EffectiveYear, ProductCode,
             unnest(string_split(PlanCodes, ',')) AS PlanCode
      FROM base_rows
    ),
    cert_keys AS (
      SELECT GroupId, CertificateId,
             CAST(EXTRACT(YEAR FROM CertEffectiveDate) AS INT)
               AS EffectiveYear,
             ProductCode, PlanCode
      FROM conformant
    ),
    classified AS (
      SELECT ck.GroupId, ck.CertificateId,
             CASE WHEN m.GroupId IS NOT NULL THEN 1 ELSE 0 END AS IsMatch
      FROM cert_keys ck
      LEFT JOIN mappings m
        ON m.GroupId = ck.GroupId AND m.EffectiveYear = ck.EffectiveYear
       AND m.ProductCode = ck.ProductCode AND m.PlanCode = ck.PlanCode
    ),
    group_stats AS (
      SELECT GroupId,
             COUNT(*) AS TotalCertificates,
             SUM(IsMatch) AS ConformantCertificates,
             (SUM(IsMatch) * 10000) // COUNT(*) AS bp
      FROM classified
      WHERE GroupId IS NOT NULL AND GroupId <> '' AND GroupId <> 'G'
        AND NOT (LENGTH(REPLACE(GroupId, 'G', '')) = 5
                 AND SUBSTR(REPLACE(GroupId, 'G', ''), 1, 1) = '7')
      GROUP BY GroupId
    )
    SELECT GroupId, TotalCertificates,
           CAST(ConformantCertificates AS BIGINT) AS ConformantCertificates,
           CAST(bp / 100.0 AS DOUBLE) AS ConformancePercentage,
           CASE WHEN bp = 10000 THEN 'Conformant'
                WHEN bp >= 9500 THEN 'Nearly Conformant (>=95%)'
                ELSE 'Non-Conformant' END AS GroupClassification
    FROM group_stats"""),
    survey_ref="§2.9 conformance analysis: certificate keys vs key "
    "mappings -> match classification -> per-group % + 3-way banding "
    "A9 with heuristic exclusions P11 "
    "(08-analyze-conformance.sql:75-170); exact basis-point math "
    "avoids float halfway divergence",
)
def conformance_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    _certs(spark, sf_dir)
    criteria = _criteria(spark, sf_dir)
    ok = builder.conformant_criteria(criteria)
    props = builder.build_proposals(criteria)
    mappings = (
        props.select(
            "GroupId",
            F.explode(
                F.sequence(F.year("EffectiveDateFrom"), F.year("EffectiveDateTo"))
            ).alias("EffectiveYear"),
            F.split("ProductCodes", ",").alias("prods"),
            F.split("PlanCodes", ",").alias("plans"),
        )
        .select(
            "GroupId", "EffectiveYear",
            F.explode("prods").alias("ProductCode"), "plans",
        )
        .select(
            "GroupId", "EffectiveYear", "ProductCode",
            F.explode("plans").alias("PlanCode"),
        )
        .distinct()
        .withColumn("IsMatch", F.lit(1))
    )
    cert_keys = ok.select(
        "GroupId", "CertificateId",
        F.year("CertEffectiveDate").alias("EffectiveYear"),
        "ProductCode", "PlanCode",
    )
    classified = cert_keys.join(
        mappings, ["GroupId", "EffectiveYear", "ProductCode", "PlanCode"], "left"
    ).select("GroupId", "CertificateId", F.coalesce("IsMatch", F.lit(0)).alias("IsMatch"))
    stripped = F.regexp_replace("GroupId", "G", "")
    stats = (
        classified.filter(
            F.col("GroupId").isNotNull()
            & (F.col("GroupId") != "")
            & (F.col("GroupId") != "G")
            & ~((F.length(stripped) == 5) & (F.substring(stripped, 1, 1) == "7"))
        )
        .groupBy("GroupId")
        .agg(
            F.count(F.lit(1)).alias("TotalCertificates"),
            F.sum("IsMatch").alias("ConformantCertificates"),
        )
        .withColumn(
            "bp",
            F.expr("(ConformantCertificates * 10000) div TotalCertificates"),
        )
    )
    return stats.select(
        "GroupId", "TotalCertificates", "ConformantCertificates",
        (F.col("bp") / 100.0).cast("double").alias("ConformancePercentage"),
        F.when(F.col("bp") == 10000, "Conformant")
        .when(F.col("bp") >= 9500, "Nearly Conformant (>=95%)")
        .otherwise("Non-Conformant")
        .alias("GroupClassification"),
    )


@query(
    "builder_pha_entities",
    oracle=_oracle(f"""
    , pha_certs AS (
      SELECT GroupId, CertificateId, CertEffectiveDate
      FROM criteria
      WHERE TotalSplitPercent <> 100
         OR (TotalSplitPercent = 100 AND {_INVALID_GROUP})
    )
    SELECT 'H-PHA-' || regexp_replace(p.GroupId, '[^A-Za-z0-9]', '', 'g')
             || '-' || CAST(p.CertificateId AS VARCHAR(20)) || '-'
             || CAST(ps.CertSplitSeq AS VARCHAR(20)) AS HierarchyId,
           'HV-PHA-' || regexp_replace(p.GroupId, '[^A-Za-z0-9]', '', 'g')
             || '-' || CAST(p.CertificateId AS VARCHAR(20)) || '-'
             || CAST(ps.CertSplitSeq AS VARCHAR(20)) AS HierarchyVersionId,
           p.GroupId, p.CertificateId,
           ps.WritingBrokerId,
           ps.CertSplitPercent AS SplitPercent,
           p.CertEffectiveDate - 1 AS EffectiveFrom,
           DATE '2099-01-01' AS EffectiveTo,
           ps.TiersCanonical
    FROM pha_certs p
    JOIN per_split ps ON ps.GroupId = p.GroupId
                      AND ps.CertificateId = p.CertificateId"""),
    survey_ref="§2.9 builder: PHA hierarchy/version entities per routed "
    "certificate split — sanitized group key, one-day-early effective "
    "date, 2099 open end (proposal-builder.ts:1195-1260); "
    "deterministic ids replace the pha/hierarchy counters",
)
def builder_pha_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    certs = _certs(spark, sf_dir)
    criteria = _criteria(spark, sf_dir)
    pha_certs = criteria.filter(
        (F.col("TotalSplitPercent") != 100)
        | ((F.col("TotalSplitPercent") == 100) & builder.invalid_group(F.col("GroupId")))
    ).select("GroupId", "CertificateId", "CertEffectiveDate")
    per_split = _per_split(spark, sf_dir).select(
        "GroupId", "CertificateId", "CertSplitSeq", "CertSplitPercent",
        "TiersCanonical", "WritingBrokerId",
    )
    gkey = F.regexp_replace("GroupId", "[^A-Za-z0-9]", "")
    hid = F.concat_ws(
        "-", F.lit("H-PHA"), gkey,
        F.col("CertificateId").cast("string"),
        F.col("CertSplitSeq").cast("string"),
    )
    hvid = F.concat_ws(
        "-", F.lit("HV-PHA"), gkey,
        F.col("CertificateId").cast("string"),
        F.col("CertSplitSeq").cast("string"),
    )
    return pha_certs.join(per_split, ["GroupId", "CertificateId"]).select(
        hid.alias("HierarchyId"),
        hvid.alias("HierarchyVersionId"),
        "GroupId", "CertificateId", "WritingBrokerId",
        F.col("CertSplitPercent").alias("SplitPercent"),
        F.date_sub("CertEffectiveDate", 1).alias("EffectiveFrom"),
        F.lit("2099-01-01").cast("date").alias("EffectiveTo"),
        "TiersCanonical",
    )


# ---------------------------------------------------------------------------
# 06z: proposal broker-name backfill (ref sql/transforms/
# 06z-update-proposal-broker-names.sql:17-31) — runs after 06a-06g;
# joins the brokers dim and replaces NULL/empty/placeholder names
# ---------------------------------------------------------------------------


def _backfill_oracle() -> str:
    from ..plans.dims_fixtures import dims_cte_sql
    from .dims import BROKERS_DIM_CTES

    return f"""WITH {builder_cte_sql()},
{BUILDER_CTES},
{dims_cte_sql()},
{BROKERS_DIM_CTES},
props AS (
  SELECT ProposalId,
         TRY_CAST(REPLACE(PrimaryBrokerId, 'P', '') AS BIGINT) AS BrokerId
  FROM proposals
  WHERE TRY_CAST(REPLACE(PrimaryBrokerId, 'P', '') AS BIGINT) IS NOT NULL
)
SELECT p.ProposalId, p.BrokerId,
       CASE WHEN b.Name IS NOT NULL AND TRIM(b.Name) <> ''
            THEN TRIM(b.Name)
            ELSE 'Broker ' || CAST(p.BrokerId AS VARCHAR) END AS BrokerName,
       CASE WHEN b.Name IS NOT NULL AND TRIM(b.Name) <> ''
            THEN 1 ELSE 0 END AS WasUpdated
FROM props p LEFT JOIN brokers_dim b ON b.Id = p.BrokerId"""


@query(
    "builder_broker_names_backfill",
    oracle=_backfill_oracle(),
    survey_ref="§2 remaining entity transform 06z: UPDATE-join broker "
    "name backfill re-expressed as a projection — placeholder names "
    "('Broker <id>') replaced by the dim name when non-empty "
    "(06z-update-proposal-broker-names.sql:17-31)",
)
def builder_broker_names_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dims import _views as _dims_views
    from .dims import brokers_dim_frame

    _dims_views(spark, sf_dir)
    props = builder.build_proposals(_criteria(spark, sf_dir)).select(
        "ProposalId",
        F.regexp_replace("PrimaryBrokerId", "P", "")
        .try_cast("long")
        .alias("BrokerId"),
    ).filter(F.col("BrokerId").isNotNull())
    b = brokers_dim_frame(spark).select(
        F.col("Id").alias("BrokerId"), F.col("Name").alias("DimName")
    )
    placeholder = F.concat(F.lit("Broker "), F.col("BrokerId").cast("string"))
    updated = F.col("DimName").isNotNull() & (F.trim("DimName") != "")
    return (
        props.join(F.broadcast(b), "BrokerId", "left")
        .select(
            "ProposalId",
            "BrokerId",
            F.when(updated, F.trim("DimName"))
            .otherwise(placeholder)
            .alias("BrokerName"),
            updated.cast("int").alias("WasUpdated"),
        )
    )


# ---------------------------------------------------------------------------
# 07: deprecated hierarchies (ref sql/transforms/
# 07-deprecated-hierarchies.sql:24-309)
# ---------------------------------------------------------------------------

_DEP_HIER_SQL = """
    , dep_valid AS (
      SELECT * FROM input_certificate_info
      WHERE TRIM(RecStatus) = 'A'
        AND SplitBrokerId IS NOT NULL AND SplitBrokerId <> ''
    ),
    dep_wb AS (
      SELECT GroupId, CertificateId, CertSplitSeq,
             arg_min(SplitBrokerId, SplitBrokerSeq) AS WritingBrokerPid
      FROM dep_valid GROUP BY GroupId, CertificateId, CertSplitSeq
    ),
    dep_parts AS (
      SELECT GroupId, CertSplitSeq, WritingBrokerId, TierLevel, BrokerId,
             ScheduleCode, SplitPercent, MIN(CertEffectiveDate) AS MinEffDate
      FROM (
        SELECT v.GroupId, v.CertSplitSeq,
               TRY_CAST(REPLACE(w.WritingBrokerPid, 'P', '') AS BIGINT)
                 AS WritingBrokerId,
               v.SplitBrokerSeq AS TierLevel,
               TRY_CAST(REPLACE(v.SplitBrokerId, 'P', '') AS BIGINT)
                 AS BrokerId,
               v.ScheduleCode,
               CAST(v.CertSplitPercent AS DECIMAL(18,4)) AS SplitPercent,
               v.CertEffectiveDate
        FROM dep_valid v
        JOIN dep_wb w ON w.GroupId = v.GroupId
                     AND w.CertificateId = v.CertificateId
                     AND w.CertSplitSeq = v.CertSplitSeq
      )
      WHERE WritingBrokerId IS NOT NULL AND BrokerId IS NOT NULL
      GROUP BY GroupId, CertSplitSeq, WritingBrokerId, TierLevel, BrokerId,
               ScheduleCode, SplitPercent
    ),
    dep_pg AS (SELECT DISTINCT GroupId FROM proposals),
    dep_sigs AS (
      SELECT p.GroupId, p.CertSplitSeq, p.WritingBrokerId,
             MIN(p.MinEffDate) AS MinEffDate,
             string_agg(CAST(p.TierLevel AS VARCHAR) || '|'
                        || CAST(p.BrokerId AS VARCHAR) || '|'
                        || COALESCE(p.ScheduleCode, ''), ','
                        ORDER BY p.TierLevel, p.BrokerId, p.ScheduleCode)
               AS StructureSignature
      FROM dep_parts p JOIN dep_pg USING (GroupId)
      GROUP BY p.GroupId, p.CertSplitSeq, p.WritingBrokerId
    ),
    dep_idmap AS (
      SELECT *, 'H-' || GroupId || '-' || CAST(ROW_NUMBER() OVER (
               PARTITION BY GroupId
               ORDER BY CertSplitSeq, MinEffDate, WritingBrokerId)
               AS VARCHAR) AS HierarchyId
      FROM dep_sigs
    ),
    dep_upline AS (
      SELECT GroupId, CertSplitSeq, WritingBrokerId,
             MIN(BrokerId) AS FirstUplineId
      FROM dep_parts WHERE TierLevel = 2
      GROUP BY GroupId, CertSplitSeq, WritingBrokerId
    ),
    dep_hd AS (
      SELECT i.*, u.FirstUplineId
      FROM dep_idmap i LEFT JOIN dep_upline u
        ON u.GroupId = i.GroupId AND u.CertSplitSeq = i.CertSplitSeq
       AND u.WritingBrokerId = i.WritingBrokerId
    ),
    dep_pick AS (
      SELECT * FROM (
        SELECT h.*, p.ProposalId AS PId, p.EffectiveDateFrom AS PFrom,
               p.EffectiveDateTo AS PTo,
               ROW_NUMBER() OVER (PARTITION BY h.HierarchyId ORDER BY
                 CASE WHEN p.EffectiveDateFrom IS NOT NULL
                       AND h.MinEffDate >= p.EffectiveDateFrom
                       AND (p.EffectiveDateTo IS NULL
                            OR h.MinEffDate <= p.EffectiveDateTo) THEN 1
                      WHEN p.EffectiveDateTo IS NULL
                       AND p.EffectiveDateFrom IS NOT NULL
                       AND h.MinEffDate >= p.EffectiveDateFrom THEN 2
                      ELSE 3 END,
                 p.EffectiveDateFrom DESC NULLS LAST,
                 p.ProposalId DESC NULLS LAST) AS prn
        FROM dep_hd h LEFT JOIN proposals p ON p.GroupId = h.GroupId
      ) WHERE prn = 1
    ),
    dep_bn AS (
      SELECT TRY_CAST(REPLACE(SplitBrokerId, 'P', '') AS BIGINT)
               AS WritingBrokerId,
             MIN(SplitBrokerName) AS BName
      FROM input_certificate_info GROUP BY 1
    ),
    dep_ginfo AS (
      SELECT GroupId, MIN(GroupName) AS GName, MIN(SitusState) AS GState
      FROM input_certificate_info GROUP BY GroupId
    )
    SELECT k.HierarchyId AS Id,
           'Hierarchy: ' || k.GroupId || ' - '
             || COALESCE(b.BName,
                         'Broker ' || CAST(k.WritingBrokerId AS VARCHAR))
             AS Name,
           'Commission hierarchy for ' || COALESCE(b.BName, 'broker')
             || ' on group ' || k.GroupId AS Description,
           0 AS HierType, 1 AS Status,
           k.PId AS ProposalId,
           k.GroupId, g.GName AS GroupName,
           REPLACE(k.GroupId, 'G', '') AS GroupNumber,
           k.WritingBrokerId AS BrokerId,
           b.BName AS BrokerName,
           1 AS BrokerLevel, 'Migration' AS SourceType,
           g.GState AS SitusState,
           k.MinEffDate AS EffectiveDate,
           k.HierarchyId || '-V1' AS CurrentVersionId,
           1 AS CurrentVersionNumber, 0 AS IsDeleted,
           k.CertSplitSeq, k.FirstUplineId, k.StructureSignature
    FROM dep_pick k
    LEFT JOIN dep_bn b ON b.WritingBrokerId = k.WritingBrokerId
    LEFT JOIN dep_ginfo g ON g.GroupId = k.GroupId"""


@query(
    "deprecated_hierarchies",
    oracle=_oracle(_DEP_HIER_SQL),
    survey_ref="§2 transform 07 (deprecated): one hierarchy per "
    "(group, split seq, writing broker) with ordered structure "
    "signature, ROW_NUMBER hierarchy ids, level-2 first upline, and "
    "the 3-level correlated-TOP-1 proposal matcher re-expressed as a "
    "single priority-window argmax (07-deprecated-hierarchies.sql:"
    "24-309)",
)
def deprecated_hierarchies(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..plans.builder_modes import deprecated_hierarchy_entities

    return deprecated_hierarchy_entities(
        _certs(spark, sf_dir),
        builder.build_proposals(_criteria(spark, sf_dir)),
    )


# ---------------------------------------------------------------------------
# 08-hierarchy-splits: state rules + catch-all conversion (ref
# sql/transforms/08-hierarchy-splits.sql:28-140)
# ---------------------------------------------------------------------------


@query(
    "hier_state_rules",
    oracle=_oracle("""
    , srules_src AS (
      SELECT DISTINCT 'HV-' || ps.HierarchyHash AS HierarchyVersionId,
             TRIM(i.SitusState) AS State
      FROM per_split ps
      JOIN input_certificate_info i
        ON i.GroupId = ps.GroupId AND i.CertificateId = ps.CertificateId
       AND i.CertSplitSeq = ps.CertSplitSeq
      WHERE TRIM(i.SitusState) <> '' AND i.RecStatus = 'A'
        AND TRY_CAST(REPLACE(ps.WritingBrokerId, 'P', '') AS BIGINT)
            IS NOT NULL
    ),
    numbered AS (
      SELECT HierarchyVersionId, State,
             ROW_NUMBER() OVER (PARTITION BY HierarchyVersionId
                                ORDER BY State) AS rn,
             COUNT(*) OVER (PARTITION BY HierarchyVersionId) AS n
      FROM srules_src
    )
    SELECT CASE WHEN n = 1 THEN 'SR-' || HierarchyVersionId || '-ALL'
                ELSE 'SR-' || HierarchyVersionId || '-' || State END AS Id,
           HierarchyVersionId,
           CASE WHEN n = 1 THEN 'ALL' ELSE State END AS ShortName,
           CASE WHEN n = 1 THEN 'All States' ELSE State END AS Name,
           CASE WHEN n = 1
                THEN 'Catch-all state rule (applies to all states)'
                ELSE 'State rule for ' || State || ' in hierarchy '
                     || HierarchyVersionId END AS Description,
           CASE WHEN n = 1 THEN 1 ELSE 0 END AS RuleType,
           CAST(rn AS INT) AS SortOrder
    FROM numbered"""),
    survey_ref="§7.3 #6 hierarchy splits: one state rule per (hierarchy "
    "version, issued state) of active certs with valid writing broker, "
    "W2 SortOrder; single-rule versions converted to catch-all "
    "(ShortName 'ALL', Type 1, '-ALL' id rewrite) — the HAVING "
    "COUNT(*)=1 + DELETE/UPDATE pass as a window-count projection "
    "(08-hierarchy-splits.sql:28-140); version id replaces the "
    "hierarchy display name in Description (deterministic keys §7.1)",
)
def hier_state_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    ps = _per_split(spark, sf_dir).select(
        "GroupId", "CertificateId", "CertSplitSeq", "HierarchyHash",
        "WritingBrokerId",
    ).filter(
        F.regexp_replace("WritingBrokerId", "P", "").try_cast("long").isNotNull()
    )
    i = _certs(spark, sf_dir).select(
        "GroupId", "CertificateId", "CertSplitSeq", "SitusState", "RecStatus"
    ).filter((F.trim("SitusState") != "") & (F.col("RecStatus") == "A"))
    src = (
        ps.join(i, ["GroupId", "CertificateId", "CertSplitSeq"])
        .select(
            F.concat(F.lit("HV-"), "HierarchyHash").alias("HierarchyVersionId"),
            F.trim("SitusState").alias("State"),
        )
        .distinct()
    )
    w = W.partitionBy("HierarchyVersionId")
    numbered = src.select(
        "HierarchyVersionId",
        "State",
        F.row_number().over(w.orderBy("State")).alias("rn"),
        F.count(F.lit(1)).over(w).alias("n"),
    )
    catchall = F.col("n") == 1
    return numbered.select(
        F.when(
            catchall,
            F.concat(F.lit("SR-"), "HierarchyVersionId", F.lit("-ALL")),
        )
        .otherwise(
            F.concat(
                F.lit("SR-"), "HierarchyVersionId", F.lit("-"), F.col("State")
            )
        )
        .alias("Id"),
        "HierarchyVersionId",
        F.when(catchall, "ALL").otherwise(F.col("State")).alias("ShortName"),
        F.when(catchall, "All States").otherwise(F.col("State")).alias("Name"),
        F.when(
            catchall, F.lit("Catch-all state rule (applies to all states)")
        )
        .otherwise(
            F.concat(
                F.lit("State rule for "), F.col("State"),
                F.lit(" in hierarchy "), F.col("HierarchyVersionId"),
            )
        )
        .alias("Description"),
        F.when(catchall, 1).otherwise(0).alias("RuleType"),
        F.col("rn").cast("int").alias("SortOrder"),
    )


# ---------------------------------------------------------------------------
# §5.2 statistical sampling validation as a registered query (ref
# scripts/validate-certificate-resolution.ts:104-196)
# ---------------------------------------------------------------------------


@query(
    "validate_sampling_report",
    oracle=_oracle(f"""
    , strat AS (
      SELECT *, CASE WHEN {_INVALID_GROUP} THEN 'DTC'
                     WHEN TotalSplitPercent <> 100 THEN 'NonConformant'
                     WHEN SplitCount > 1 THEN 'MultiSplit'
                     ELSE 'SingleSplit' END AS Scenario
      FROM criteria),
    sampled AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (
                 PARTITION BY Scenario
                 ORDER BY sha256('sample:' || CAST(CertificateId AS VARCHAR)))
               AS rn
        FROM strat) WHERE rn <= 20)
    SELECT Scenario,
           CAST(COUNT(*) AS BIGINT) AS sampled,
           CAST(COUNT(*) AS BIGINT) AS matched
    FROM sampled GROUP BY Scenario"""),
    survey_ref="§5.2 sampling validator: deterministic stratified "
    "sample (hash-ordered top-20 per scenario, replacing ORDER BY "
    "NEWID() O3) whose config hash is RE-DERIVED through Spark SQL "
    "text — an independent code path from the DataFrame builder — and "
    "compared; the oracle encodes the all-match expectation "
    "(validate-certificate-resolution.ts:104-196, >=95% gate)",
)
def validate_sampling_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..plans import validate as v

    sampled = v.sample_stratified(_criteria(spark, sf_dir), 20)
    # the re-derivation path resolves fixture views by NAME at plan
    # capture; a cached _criteria hit skips registration, so in a
    # session that last registered a different sf_dir the SQL text
    # would silently read the other scale's certificates — pin the
    # views to THIS sf_dir first (no-op when already current)
    register_builder_views(spark, sf_dir)
    rederived = spark.sql(v.REDERIVE_SQL)
    joined = sampled.join(rederived, ["GroupId", "CertificateId"], "left")
    return joined.groupBy("Scenario").agg(
        F.count(F.lit(1)).alias("sampled"),
        F.sum((F.col("ConfigHash") == F.col("RederivedHash")).cast("int"))
        .cast("long")
        .alias("matched"),
    )


@query(
    "fix_proposal_effective_dates",
    oracle=_oracle("""
    , cert_dates AS (
      SELECT GroupId, CertificateId, MIN(CertEffectiveDate) AS d
      FROM input_certificate_info
      WHERE CertificateId > 0
      GROUP BY GroupId, CertificateId
    ),
    group_min AS (
      SELECT GroupId, MIN(d) AS TrueMinEffectiveDate
      FROM cert_dates GROUP BY GroupId
    ),
    hist AS (
      SELECT GroupId, d, CAST(COUNT(*) AS INT) AS n
      FROM cert_dates GROUP BY GroupId, d
    ),
    affected AS (
      SELECT p2.ProposalId, CAST(SUM(h.n) AS INT) AS AffectedCertCount
      FROM proposals p2
      JOIN hist h ON h.GroupId = p2.GroupId AND h.d < p2.EffectiveDateFrom
      GROUP BY p2.ProposalId
    )
    SELECT p.ProposalId, p.GroupId,
           p.EffectiveDateFrom AS CurrentEffectiveDateFrom,
           g.TrueMinEffectiveDate,
           LEAST(p.EffectiveDateFrom, g.TrueMinEffectiveDate)
             AS NewEffectiveDateFrom,
           CASE WHEN p.EffectiveDateFrom > g.TrueMinEffectiveDate
                THEN 1 ELSE 0 END AS WasCorrected,
           COALESCE(a.AffectedCertCount, 0) AS AffectedCertCount
    FROM proposals p
    JOIN group_min g USING (GroupId)
    LEFT JOIN affected a USING (ProposalId)"""),
    survey_ref="§2 repair transform (sql/fix/fix-proposal-effective-"
    "dates.sql:29-115): proposals whose EffectiveDateFrom starts later "
    "than certificates in their group get clamped to the group's true "
    "minimum effective date, with the affected-certificate count the "
    "reference reports per proposal. The per-proposal count joins a "
    "group-scale (GroupId, date) histogram instead of the fact, so the "
    "repair never re-scans certificates per proposal",
)
def fix_proposal_effective_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    certs = _certs(spark, sf_dir)
    cert_dates = (
        certs.filter(F.col("CertificateId") > 0)
        .groupBy("GroupId", "CertificateId")
        .agg(F.min("CertEffectiveDate").alias("d"))
    )
    group_min = cert_dates.groupBy("GroupId").agg(
        F.min("d").alias("TrueMinEffectiveDate")
    )
    hist = cert_dates.groupBy("GroupId", "d").agg(
        F.count(F.lit(1)).cast("int").alias("n")
    )
    props = builder.build_proposals(_criteria(spark, sf_dir)).select(
        "ProposalId", "GroupId", "EffectiveDateFrom"
    )
    # hist shares lineage with props (both from the certificate fact);
    # rename its key so the join condition references distinct attributes
    # (avoids Spark's "trivially true equals predicate" self-join warning)
    hist_r = hist.withColumnRenamed("GroupId", "HistGroupId")
    affected = (
        props.join(
            F.broadcast(hist_r),
            (props.GroupId == hist_r.HistGroupId)
            & (hist_r.d < props.EffectiveDateFrom),
        )
        .groupBy("ProposalId")
        .agg(F.sum("n").cast("int").alias("AffectedCertCount"))
    )
    return (
        props.join(F.broadcast(group_min), "GroupId")
        .join(F.broadcast(affected), "ProposalId", "left")
        .select(
            "ProposalId",
            "GroupId",
            F.col("EffectiveDateFrom").alias("CurrentEffectiveDateFrom"),
            "TrueMinEffectiveDate",
            F.least("EffectiveDateFrom", "TrueMinEffectiveDate").alias(
                "NewEffectiveDateFrom"
            ),
            (F.col("EffectiveDateFrom") > F.col("TrueMinEffectiveDate"))
            .cast("int")
            .alias("WasCorrected"),
            F.coalesce("AffectedCertCount", F.lit(0)).alias("AffectedCertCount"),
        )
    )


@query(
    "fix_link_hierarchy_gaps",
    oracle=_oracle("""
    , hiers AS (
      SELECT GroupId, HierarchyHash, MIN(CertEffectiveDate) AS EffectiveDate
      FROM per_split GROUP BY GroupId, HierarchyHash
    ),
    linked AS (
      SELECT GroupId, MIN(ProposalId) AS LinkedProposalId
      FROM proposals GROUP BY GroupId
    ),
    needing AS (
      SELECT p.ProposalId, p.GroupId, p.EffectiveDateFrom, p.EffectiveDateTo
      FROM proposals p JOIN linked l USING (GroupId)
      WHERE p.ProposalId <> l.LinkedProposalId
    ),
    cand AS (
      SELECT n.ProposalId, h.HierarchyHash, h.EffectiveDate,
             ROW_NUMBER() OVER (
               PARTITION BY n.ProposalId
               ORDER BY h.EffectiveDate DESC, h.HierarchyHash DESC) AS rn
      FROM needing n
      JOIN hiers h ON h.GroupId = n.GroupId
       AND (n.EffectiveDateTo IS NULL OR n.EffectiveDateTo >= h.EffectiveDate)
       AND n.EffectiveDateFrom <= h.EffectiveDate
    )
    SELECT n.ProposalId, n.GroupId,
           c.HierarchyHash AS SourceHierarchyHash,
           c.EffectiveDate AS SourceHierarchyEffectiveDate,
           CASE WHEN c.HierarchyHash IS NULL THEN 0 ELSE 1 END AS CanLink
    FROM needing n
    LEFT JOIN (SELECT * FROM cand WHERE rn = 1) c USING (ProposalId)"""),
    survey_ref="§2 repair transform (sql/fix/link-hierarchies-to-all-"
    "proposals.sql:31-100): proposals left without hierarchies (the "
    "reference links each hierarchy to ONE proposal per group) matched "
    "to the best candidate hierarchy of their group — date-band "
    "containment, latest effective date first (the reference's "
    "unordered TOP 1 made deterministic by the hash tie-break). J9 "
    "correlated-TOP-1 as one window argmax over a group-scale join",
)
def fix_link_hierarchy_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    hiers = (
        _per_split(spark, sf_dir)
        .groupBy("GroupId", "HierarchyHash")
        .agg(F.min("CertEffectiveDate").alias("EffectiveDate"))
    )
    props = builder.build_proposals(_criteria(spark, sf_dir)).select(
        "ProposalId", "GroupId", "EffectiveDateFrom", "EffectiveDateTo"
    )
    linked = props.groupBy("GroupId").agg(
        F.min("ProposalId").alias("LinkedProposalId")
    )
    needing = props.join(F.broadcast(linked), "GroupId").filter(
        F.col("ProposalId") != F.col("LinkedProposalId")
    )
    # same-lineage join (hiers also derives from the certificate fact):
    # rename its key to keep the predicate on distinct attributes
    hiers_r = hiers.withColumnRenamed("GroupId", "HierGroupId")
    cand = (
        needing.join(
            F.broadcast(hiers_r),
            (needing.GroupId == hiers_r.HierGroupId)
            & (
                needing.EffectiveDateTo.isNull()
                | (needing.EffectiveDateTo >= hiers_r.EffectiveDate)
            )
            & (needing.EffectiveDateFrom <= hiers_r.EffectiveDate),
        )
        .select(needing.ProposalId, "HierarchyHash", "EffectiveDate")
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("ProposalId").orderBy(
                    F.desc("EffectiveDate"), F.desc("HierarchyHash")
                )
            ),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    return needing.join(F.broadcast(cand), "ProposalId", "left").select(
        "ProposalId",
        "GroupId",
        F.col("HierarchyHash").alias("SourceHierarchyHash"),
        F.col("EffectiveDate").alias("SourceHierarchyEffectiveDate"),
        F.col("HierarchyHash").isNotNull().cast("int").alias("CanLink"),
    )
