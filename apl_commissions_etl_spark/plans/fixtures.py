"""Domain staging fixtures derived deterministically from the TPC-H
testdata, in ANSI SQL shared VERBATIM between Spark and the DuckDB
oracle.

Mapping (FIXTURES.md §B shapes):
    lineitem -> stg_premium_transactions (premium rows; the testdata
                plants duplicate (orderkey, linenumber) pairs, so the
                premium id also folds in partkey/suppkey/floor(price)
                -- unique at every sf)
    orders   -> stg_policies (one policy per order, group = customer)
    customer -> groups -> stg_proposals / split versions / participants
    derived  -> hierarchies, schedules+rates, cert rates, assignments

Planted scenario strata (FIXTURES.md §C):
    - custkey % 20 == 13  -> no proposal (stage-2 error path)
    - custkey % 10 == 9   -> proposal closed 1997-01-01 (date-band miss
      for late premiums)
    - custkey % 14 == 3   -> split version closes 1995-01-01 while the
      proposal stays open ('No matching split version' trace path)
    - custkey % 16 == 9   -> hierarchy versions inactive ('No active
      hierarchy version' trace path)
    - custkey % 2 == 0    -> 60/40 two-way split, else single 100%
    - custkey % 3 == 0    -> two-level hierarchy (tier explosion)
    - orderkey % 7 == 0   -> certificate-level rate (RateSource
      precedence: cert > participant > schedule)
    - hierarchy broker % 5 == 0 and level 1 -> participant rate 7.5
    - broker % 7 == 1     -> 50% commission assignment to broker+1
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ..sources.testdata import register_base_tables, registered_once

#: (view_name, ANSI SQL) in dependency order. Runs unchanged on Spark
#: and DuckDB (oracle side wraps them as CTEs).
FIXTURE_VIEWS: list[tuple[str, str]] = [
    (
        "stg_premium_transactions",
        """
        SELECT 'PT-' || CAST(l_orderkey AS STRING) || '-'
                 || CAST(l_linenumber AS STRING) || '-'
                 || CAST(l_partkey AS STRING) || '-'
                 || CAST(l_suppkey AS STRING) || '-'
                 || CAST(CAST(FLOOR(l_extendedprice) AS BIGINT) AS STRING)
               AS PremiumTransactionId,
               l_orderkey AS CertificateId,
               CAST(l_shipdate AS DATE) AS TransactionDate,
               CAST(CAST(FLOOR(l_extendedprice) AS DECIMAL(18,0))
                    * CAST(0.01 AS DECIMAL(3,2)) AS DECIMAL(18,2)) AS PremiumAmount
        FROM lineitem
        WHERE l_extendedprice > 0
        """,
    ),
    (
        "stg_policies",
        """
        SELECT CAST(o_orderkey AS STRING) AS PolicyId,
               o_orderkey AS CertificateId,
               'G' || CAST(o_custkey AS STRING) AS GroupId,
               o_orderpriority AS ProductCode,
               CAST(o_orderdate AS DATE) AS EffectiveDate,
               (o_custkey % 100) + 1 AS GroupSize
        FROM orders
        """,
    ),
    (
        "stg_proposals",
        """
        SELECT 'PR-' || CAST(c_custkey AS STRING) AS ProposalId,
               'G' || CAST(c_custkey AS STRING) AS GroupId,
               c_nationkey AS LeadBrokerId,
               DATE '1992-01-01' AS EffectiveDateFrom,
               CASE WHEN c_custkey % 10 = 9 THEN DATE '1997-01-01' END
                 AS EffectiveDateTo,
               c_custkey AS GroupKey
        FROM customer
        WHERE c_custkey % 20 <> 13
        """,
    ),
    (
        "stg_premium_split_versions",
        """
        SELECT 'SV-' || CAST(GroupKey AS STRING) AS SplitVersionId,
               ProposalId,
               1 AS Status,
               EffectiveDateFrom AS EffectiveFrom,
               CASE WHEN GroupKey % 14 = 3 THEN DATE '1995-01-01'
                    ELSE EffectiveDateTo END AS EffectiveTo,
               GroupKey
        FROM stg_proposals
        """,
    ),
    (
        "stg_premium_split_participants",
        """
        SELECT 'SP-' || CAST(GroupKey AS STRING) || '-1' AS SplitParticipantId,
               SplitVersionId,
               1 AS Sequence,
               CAST(CASE WHEN GroupKey % 2 = 0 THEN 60 ELSE 100 END
                    AS DECIMAL(18,4)) AS SplitPercent,
               'H-' || CAST(GroupKey AS STRING) || '-1' AS HierarchyId,
               (GroupKey % 25) * 1000 + 1 AS WritingBrokerId,
               GroupKey
        FROM stg_premium_split_versions
        UNION ALL
        SELECT 'SP-' || CAST(GroupKey AS STRING) || '-2',
               SplitVersionId,
               2,
               CAST(40 AS DECIMAL(18,4)),
               'H-' || CAST(GroupKey AS STRING) || '-2',
               (GroupKey % 25) * 1000 + 2,
               GroupKey
        FROM stg_premium_split_versions
        WHERE GroupKey % 2 = 0
        """,
    ),
    (
        "stg_hierarchy_versions",
        """
        SELECT 'HV-' || HierarchyId AS HierarchyVersionId,
               HierarchyId,
               CASE WHEN GroupKey % 16 = 9 THEN 0 ELSE 1 END AS Status
        FROM stg_premium_split_participants
        """,
    ),
    (
        "stg_hierarchy_participants",
        """
        SELECT 'HP-' || HierarchyId || '-1' AS HierarchyParticipantId,
               'HV-' || HierarchyId AS HierarchyVersionId,
               WritingBrokerId AS EntityId,
               1 AS TierLevel,
               'SCH-' || CAST(GroupKey % 3 AS STRING) AS ScheduleCode,
               CASE WHEN WritingBrokerId % 5 = 0
                    THEN CAST(7.5 AS DECIMAL(18,4)) END AS ParticipantRate
        FROM stg_premium_split_participants
        UNION ALL
        SELECT 'HP-' || HierarchyId || '-2',
               'HV-' || HierarchyId,
               WritingBrokerId + 500000,
               2,
               'SCH-' || CAST((GroupKey + 1) % 3 AS STRING),
               CAST(NULL AS DECIMAL(18,4))
        FROM stg_premium_split_participants
        WHERE GroupKey % 3 = 0
        """,
    ),
    (
        "stg_schedule_rates",
        """
        SELECT 'SCH-' || CAST(s.n AS STRING) AS ScheduleCode,
               p.ProductCode,
               '*' AS State,
               b.GroupSizeFrom,
               b.GroupSizeTo,
               CAST(10 + s.n + b.Bump AS DECIMAL(18,4)) AS FirstYearRate,
               CAST(2 + s.n + b.Bump AS DECIMAL(18,4)) AS RenewalRate
        FROM (SELECT 0 AS n UNION ALL SELECT 1 UNION ALL SELECT 2) s
        CROSS JOIN (SELECT DISTINCT o_orderpriority AS ProductCode FROM orders) p
        CROSS JOIN (SELECT 1 AS GroupSizeFrom, 50 AS GroupSizeTo, 0 AS Bump
                    UNION ALL
                    SELECT 51, 100, 1) b
        """,
    ),
    (
        "stg_certificate_rates",
        """
        SELECT l_orderkey AS CertificateId,
               CAST(5 + (l_orderkey % 3) AS DECIMAL(18,4)) AS CertificateRate
        FROM lineitem
        WHERE l_orderkey % 7 = 0
        GROUP BY l_orderkey
        """,
    ),
    (
        "stg_commission_assignment_versions",
        """
        SELECT 'AV-' || CAST(EntityId AS STRING) AS AssignmentVersionId,
               EntityId AS BrokerId,
               '__DEFAULT__' AS ProposalId,
               0 AS Status,
               DATE '1992-01-01' AS EffectiveFrom,
               CAST(NULL AS DATE) AS EffectiveTo,
               CAST(50 AS DECIMAL(18,4)) AS TotalAssignedPercent
        FROM (SELECT DISTINCT EntityId FROM stg_hierarchy_participants) hb
        WHERE EntityId % 7 = 1
        """,
    ),
    (
        "stg_commission_assignment_recipients",
        """
        SELECT 'AR-' || AssignmentVersionId AS RecipientId,
               AssignmentVersionId,
               BrokerId + 1 AS RecipientBrokerId,
               CAST(50 AS DECIMAL(18,4)) AS RecipientPercent
        FROM stg_commission_assignment_versions
        """,
    ),
]


def fixtures_cte_sql() -> str:
    """The fixture views as one WITH-clause prefix for the DuckDB
    oracle (base tables are pre-registered views there)."""
    parts = [f"{name} AS ({sql})" for name, sql in FIXTURE_VIEWS]
    return ",\n".join(parts)


def register_fixture_views(spark: SparkSession, sf_dir: str) -> None:
    """Materialize the same fixtures as Spark temp views (base tables
    registered first). Safe to call from concurrent threads:
    ``registered_once`` blocks racers until the views exist."""
    register_base_tables(spark, sf_dir, ("lineitem", "orders", "customer"))

    def _register() -> None:
        for name, sql in FIXTURE_VIEWS:
            spark.sql(f"CREATE OR REPLACE TEMPORARY VIEW {name} AS {sql}")

    registered_once(spark, "fixtures", sf_dir, _register)
