"""Fixtures for the proposal-builder composite (ref
scripts/proposal-builder.ts) and the consolidation fold (ref
scripts/transforms/consolidate-proposals.ts), in ANSI SQL shared
VERBATIM between Spark and the DuckDB oracle.

``input_certificate_info`` — one row per (certificate, split seq,
broker seq), the exact input shape the reference builder loads
(proposal-builder.ts:2047-2164). Planted strata:

    - custkey % 23 == 7  -> GroupId '00000' (all zeros), % 29 == 11 ->
      'G000' -> invalid-group PHA route (proposal-builder.ts:1994-2001)
    - custkey % 17 == 5  -> split 1 percent 70 (total != 100 -> PHA
      split-mismatch route, proposal-builder.ts:750-763)
    - custkey % 2 == 0   -> two splits 60/40, else single 100
    - custkey % 3 == 0   -> two-tier hierarchies
    - custkey % 13 == 2  -> PaidBrokerId != SplitBrokerId on tier 1
      (broker-level assignment tracking)
    - orderkey % 11 == 0 -> PlanCode '*' wildcard
    - custkey % 8 == 1   -> certificates with orderkey % 3 == 0 get a
      shifted schedule code -> TWO configs (proposals) per group with
      intersecting-but-unequal product+plan pair sets -> exercises the
      overlap-truncation + '-CONT' continuation path
    - custkey % 19 == 4  -> schedule code varies per certificate ->
      many small config clusters -> high-entropy routing
      ('BusinessDrivenEntropy' / low dominant coverage)
    - custkey % 31 == 3  -> pinned CertEffectiveDate (2020-06-15) +
      per-cert schedule variance -> same (Group, Date, Product, Plan)
      key with 2+ distinct configs -> NON-CONFORMANT route (06b);
      collision-free keys in those groups flow to the
      plan/year-differentiated and granular modes (06c-06e)

``prestage_proposals`` — consolidation input. Planted strata:

    - custkey % 3        -> 1..3 proposals per group
    - custkey % 4 == 0 @ n3 -> different config MD5 (rule-2 close)
    - custkey % 5 == 1 @ n2 -> PlanCodes 'B,C' partially overlapping
      'A,B' (rule-3 conflict close)
    - custkey % 9 == 4   -> PlanCodes '*' (wildcard never conflicts)
    - custkey % 6 == 0   -> last proposal open-ended EffectiveDateTo
      (incoming-null keeps retained date)
    - custkey % 6 == 3   -> FIRST proposal open-ended (retained-null
      gets CLOSED by the incoming date -- the reference's asymmetric
      merge, consolidate-proposals.ts:196-209)
    - custkey % 7 == 3 @ n2 -> DateRangeTo NULL (incoming-null FORCES
      null -- opposite asymmetry, consolidate-proposals.ts:180-186)

Code lists are comma-separated with a '*' sentinel — the reference's
JSON-array parse path (consolidate-proposals.ts:265-282) re-expressed
as the SURVEY §1.3 ArrayType convention.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..caching import SessionCache, locked_get, session_cache
from ..sources.testdata import register_base_tables, registered_once

BUILDER_VIEWS: list[tuple[str, str]] = [
    (
        "input_certificate_info",
        """
        SELECT c.GroupId, c.GroupName, c.CertificateId, c.CertEffectiveDate,
               c.ProductCode, c.PlanCode, c.SitusState,
               s.SplitSeq AS CertSplitSeq,
               CASE WHEN c.GroupKey % 17 = 5 AND s.SplitSeq = 1 THEN 70
                    WHEN c.GroupKey % 2 = 0 AND s.SplitSeq = 1 THEN 60
                    WHEN c.GroupKey % 2 = 0 AND s.SplitSeq = 2 THEN 40
                    ELSE 100 END AS CertSplitPercent,
               t.BrokerSeq AS SplitBrokerSeq,
               'P' || CAST((c.GroupKey % 25) * 1000 + s.SplitSeq * 10
                           + t.BrokerSeq AS STRING) AS SplitBrokerId,
               'Broker ' || CAST((c.GroupKey % 25) * 1000 + s.SplitSeq * 10
                           + t.BrokerSeq AS STRING) AS SplitBrokerName,
               CASE WHEN c.GroupKey % 13 = 2 AND t.BrokerSeq = 1
                    THEN 'P' || CAST((c.GroupKey % 25) * 1000 + s.SplitSeq * 10
                                     + t.BrokerSeq + 7 AS STRING)
                    ELSE 'P' || CAST((c.GroupKey % 25) * 1000 + s.SplitSeq * 10
                                     + t.BrokerSeq AS STRING) END
                 AS PaidBrokerId,
               'SCH-' || CAST((c.GroupKey + s.SplitSeq + t.BrokerSeq
                    + CASE WHEN c.GroupKey % 8 = 1 AND c.CertificateId % 3 = 0
                           THEN 1 ELSE 0 END
                    + CASE WHEN c.GroupKey % 19 = 4 THEN c.CertificateId
                           ELSE 0 END
                    + CASE WHEN c.GroupKey % 31 = 3 THEN c.CertificateId
                           ELSE 0 END) % 3
                              AS STRING) AS ScheduleCode,
               CASE WHEN c.GroupKey % 23 = 2 THEN 'A '
                    WHEN c.CertificateId % 19 = 6 AND s.SplitSeq = 1 THEN 'I'
                    ELSE 'A' END AS RecStatus,
               CASE c.CertificateId % 6 WHEN 0 THEN 'Active' WHEN 1 THEN 'A'
                    WHEN 2 THEN 'Terminated' WHEN 3 THEN 'T'
                    WHEN 4 THEN 'C' ELSE 'L' END AS CertStatus,
               CASE WHEN c.CertificateId % 8 = 3 THEN '' ELSE 'ACME' END
                 AS Company,
               CASE WHEN c.CertificateId % 10 = 4 THEN ''
                    WHEN c.CertificateId % 10 = 7 THEN 'bad$'
                    ELSE CAST(50 + c.CertificateId % 500 AS STRING)
                         || '.25' END AS CertPremium,
               CASE WHEN c.CertificateId % 12 = 5 THEN ''
                    ELSE 'CUST-' || CAST(c.CertificateId % 97 AS STRING)
                    END AS CustomerId,
               'Cat' || CAST(c.CertificateId % 5 AS STRING)
                 AS ProductCategory,
               'Master' || CAST(c.CertificateId % 3 AS STRING)
                 AS ProductMasterCategory
        FROM (SELECT o_orderkey AS CertificateId,
                     CASE WHEN o_custkey % 23 = 7 THEN '00000'
                          WHEN o_custkey % 29 = 11 THEN 'G000'
                          ELSE 'G' || CAST(o_custkey AS STRING) END
                       AS GroupId,
                     'Group ' || CAST(o_custkey AS STRING) AS GroupName,
                     CASE WHEN o_custkey % 31 = 3 THEN DATE '2020-06-15'
                          ELSE CAST(o_orderdate AS DATE) END
                       AS CertEffectiveDate,
                     o_orderpriority AS ProductCode,
                     CASE WHEN o_orderkey % 11 = 0 THEN '*'
                          ELSE 'PL' || CAST(o_orderkey % 4 AS STRING) END
                       AS PlanCode,
                     'S' || CAST(o_custkey % 50 AS STRING) AS SitusState,
                     o_custkey AS GroupKey
              FROM (SELECT /*+ REPARTITION(32) */ * FROM orders)
                   orders_spread) c
        CROSS JOIN (SELECT 1 AS SplitSeq UNION ALL SELECT 2) s
        CROSS JOIN (SELECT 1 AS BrokerSeq UNION ALL SELECT 2) t
        WHERE (s.SplitSeq = 1 OR c.GroupKey % 2 = 0)
          AND (t.BrokerSeq = 1 OR c.GroupKey % 3 = 0)
        """,
    ),
    (
        "prestage_proposals",
        """
        SELECT 'PP-' || CAST(c_custkey AS STRING) || '-'
                 || CAST(n.n AS STRING) AS Id,
               'G' || CAST(c_custkey AS STRING) AS GroupId,
               CASE WHEN n.n = 1 THEN DATE '1993-01-01'
                    WHEN n.n = 2 THEN DATE '1995-06-01'
                    ELSE DATE '1997-03-01' END AS EffectiveDateFrom,
               CASE WHEN c_custkey % 6 = 0 AND n.n = 1 + (c_custkey % 3)
                      THEN CAST(NULL AS DATE)
                    WHEN c_custkey % 6 = 3 AND n.n = 1 THEN CAST(NULL AS DATE)
                    WHEN n.n = 1 THEN DATE '1994-12-31'
                    WHEN n.n = 2 THEN DATE '1996-12-31'
                    ELSE DATE '1998-12-31' END AS EffectiveDateTo,
               1992 + n.n AS DateRangeFrom,
               CASE WHEN c_custkey % 7 = 3 AND n.n = 2 THEN CAST(NULL AS INT)
                    ELSE 1993 + n.n END AS DateRangeTo,
               CASE WHEN c_custkey % 4 = 0 AND n.n = 3
                      THEN md5('CFG' || CAST(c_custkey AS STRING) || 'X')
                    ELSE md5('CFG' || CAST(c_custkey AS STRING)) END
                 AS SplitConfigurationMD5,
               CASE WHEN c_custkey % 9 = 4 THEN '*'
                    WHEN c_custkey % 5 = 1 AND n.n = 2 THEN 'B,C'
                    ELSE 'A,B' END AS PlanCodes,
               'PROD' || CAST(n.n % 2 AS STRING) || ',PRODX' AS ProductCodes
        FROM customer
        CROSS JOIN (SELECT 1 AS n UNION ALL SELECT 2 UNION ALL SELECT 3) n
        WHERE n.n <= 1 + (c_custkey % 3)
        """,
    ),
]


def builder_cte_sql() -> str:
    """The builder fixture views as a WITH-clause prefix for DuckDB."""
    return ",\n".join(f"{name} AS ({sql})" for name, sql in BUILDER_VIEWS)


def register_builder_views(spark: SparkSession, sf_dir: str) -> None:
    register_base_tables(spark, sf_dir, ("orders", "customer"))

    def _register() -> None:
        for name, sql in BUILDER_VIEWS:
            spark.sql(f"CREATE OR REPLACE TEMPORARY VIEW {name} AS {sql}")

    registered_once(spark, "builder", sf_dir, _register)


#: session-scoped checkpoint of the EXPANDED certificate fact.  Every
#: builder-family query, the mode cascade, and the certificate dims
#: start from ``input_certificate_info`` — a view whose CROSS-JOIN
#:  expansion + string building costs ~2s per derivation at sf0.1.
#: Deriving it once per (session, sf) and truncating lineage means the
#: criteria chain, the mode cascade, and dim_policies all read the
#: same materialized rows instead of re-expanding (the r6 verdict's
#: "derived-view tax").  At 100 TB this IS the reference's staged
#: input_certificate_info table (proposal-builder.ts:2047-2164 loads
#: it from staging, not from the raw source, for the same reason).
_CERT_INFO_CACHE: dict[tuple[str, str], DataFrame] = SessionCache()


def cert_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``input_certificate_info`` fact as a session-scoped
    checkpoint hash-partitioned on CertificateId (see
    ``_CERT_INFO_CACHE``).  r12: ``session_cache`` instead of a plain
    localCheckpoint — the checkpoint is built so its LogicalRDD
    REPORTS the partitioning to the planner (an AQE-built checkpoint
    surfaces UnknownPartitioning), so consumers that aggregate or
    window per certificate (dim_policies' min-seq window + rollup,
    the policy dims) run with no Exchange."""
    register_builder_views(spark, sf_dir)
    key = (spark.sparkContext.applicationId, sf_dir)
    return locked_get(
        _CERT_INFO_CACHE,
        key,
        lambda: session_cache(
            spark.table("input_certificate_info"),
            key_cols=("CertificateId",),
        ),
    )
