"""Raw-layer fixtures for the dimension transforms (brokers,
schedules), in ANSI SQL shared VERBATIM between Spark and DuckDB.

All columns are STRINGS — these model the reference's raw_* layer
(every column NVARCHAR, ref sql/01-raw-tables.sql) so the transforms
exercise the TRY_CAST / trim / zero-as-missing paths on both engines.

Planted dirt:
    - suppkey % 37 == 1  -> junk PartyUniqueId 'PX…' (bigint cast
      fails -> NULL Id kept on individual rows, filtered on later
      sources — the reference's asymmetry)
    - suppkey % 11 == 3  -> individual missing (filled by later source)
    - suppkey % 5 == 0   -> empty HireDate string
    - banking dirt (ref 12-broker-banking-infos.sql gating): empty
      routing/account/type strings (row excluded only when ANY of the
      three is blank), whitespace-padded routing > 9 chars (LEFT-9
      truncation), 20-char account (LEFT-17), mixed-case AccountType
      first-letter classification
    - partkey strata     -> Year1/Year2/Year66/Level blank, '0', or
      non-numeric 'N/A' (zero-as-missing fallback,
      ref 04-schedules.sql:128-141)
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ..sources.testdata import register_base_tables, registered_once

DIM_VIEWS: list[tuple[str, str]] = [
    (
        "raw_individual_brokers",
        """
        SELECT 'P' || CAST(s_suppkey * 10 AS VARCHAR(20)) AS PartyUniqueId,
               'First' || CAST(s_suppkey AS VARCHAR(20)) AS IndividualFirstName,
               'Last' || CAST(s_suppkey AS VARCHAR(20)) AS IndividualLastName,
               CASE s_suppkey % 4 WHEN 0 THEN 'Active'
                    WHEN 1 THEN 'Terminated'
                    WHEN 2 THEN 'Terminated Residuals'
                    ELSE 'Unknown' END AS CurrentStatus,
               'b' || CAST(s_suppkey AS VARCHAR(20)) || '@x.com' AS EmailAddress,
               CASE WHEN s_suppkey % 5 = 0 THEN ''
                    ELSE '2010-01-15' END AS HireDate,
               CASE WHEN s_suppkey % 6 = 0 THEN ''
                    WHEN s_suppkey % 6 = 1
                    THEN '  0210000' || CAST(s_suppkey % 10 AS VARCHAR(2))
                         || '99  '
                    ELSE '061000' || LPAD(CAST(s_suppkey % 1000
                         AS VARCHAR(4)), 3, '0') END AS BankRoutingNumber,
               CASE WHEN s_suppkey % 7 = 2 THEN ''
                    WHEN s_suppkey % 7 = 3
                    THEN '99887766554433221100'
                    ELSE '4000' || CAST(s_suppkey AS VARCHAR(20)) END
                 AS AccountNumber,
               CASE s_suppkey % 5 WHEN 0 THEN '' WHEN 1 THEN 'Checking'
                    WHEN 2 THEN ' checking ' WHEN 3 THEN 'SAVINGS'
                    ELSE 'C' END AS AccountType
        FROM supplier
        WHERE s_suppkey % 11 <> 3
        UNION ALL
        SELECT 'PX' || CAST(s_suppkey AS VARCHAR(20)),
               'JunkF' || CAST(s_suppkey AS VARCHAR(20)),
               'JunkL' || CAST(s_suppkey AS VARCHAR(20)),
               'Active', '', '', '123456789', '111', 'Checking'
        FROM supplier
        WHERE s_suppkey % 37 = 1
        """,
    ),
    (
        "raw_org_brokers",
        """
        SELECT 'P' || CAST(c_custkey * 10 AS VARCHAR(20)) AS PartyUniqueId,
               'Org ' || CAST(c_custkey AS VARCHAR(20)) AS OrganizationName,
               CASE c_custkey % 3 WHEN 0 THEN 'Active'
                    WHEN 1 THEN 'Terminated' ELSE '' END AS CurrentStatus,
               'o' || CAST(c_custkey AS VARCHAR(20)) || '@x.com' AS EmailAddress,
               '2012-03-01' AS HireDate,
               CASE WHEN c_custkey % 6 = 4 THEN ''
                    ELSE '0260' || LPAD(CAST(c_custkey % 100000
                         AS VARCHAR(6)), 5, '0') || '7' END
                 AS BankRoutingNumber,
               CASE WHEN c_custkey % 9 = 5 THEN ''
                    ELSE '7000' || CAST(c_custkey AS VARCHAR(20)) END
                 AS AccountNumber,
               CASE c_custkey % 8 WHEN 0 THEN 'CHK'
                    WHEN 2 THEN 'Savings'
                    WHEN 4 THEN ' checking ' ELSE 'S' END AS AccountType
        FROM customer
        WHERE c_custkey % 2 = 0
        """,
    ),
    (
        "ref_active_brokers",
        """
        SELECT 'P' || CAST(n_nationkey * 10 + 5 AS VARCHAR(20)) AS BrokerId
        FROM nation
        UNION ALL
        SELECT 'P' || CAST(s_suppkey * 10 AS VARCHAR(20))
        FROM supplier WHERE s_suppkey % 7 = 0
        """,
    ),
    (
        "raw_premiums",
        """
        SELECT CASE WHEN l_orderkey % 31 = 7 THEN ''
                    WHEN l_orderkey % 31 = 8 THEN 'POL-X'
                    ELSE CAST(l_orderkey AS VARCHAR(20)) END AS Policy,
               '199' || CAST(2 + l_orderkey % 7 AS VARCHAR(2)) || '-'
                 || LPAD(CAST(1 + l_partkey % 12 AS VARCHAR(2)), 2, '0')
                 || '-'
                 || LPAD(CAST(1 + l_suppkey % 28 AS VARCHAR(2)), 2, '0')
                 AS DatePost,
               CASE WHEN l_orderkey % 13 = 5 THEN 'N/A'
                    ELSE CAST(100 + l_orderkey % 900 AS VARCHAR(20)) || '.75'
                    END AS Amount,
               '199' || CAST(3 + l_orderkey % 6 AS VARCHAR(2)) || '-'
                 || LPAD(CAST(1 + l_suppkey % 12 AS VARCHAR(2)), 2, '0')
                 || '-01' AS DatePaidTo
        FROM lineitem
        WHERE l_orderkey % 3 <> 1 AND l_linenumber = 1
        """,
    ),
    (
        "raw_eo_insurance",
        """
        SELECT CASE WHEN s_suppkey % 29 = 3 THEN ''
                    ELSE 'P' || CAST(s_suppkey * 10 AS VARCHAR(20)) END
                 AS PartyUniqueId,
               'EO-' || CAST(s_suppkey AS VARCHAR(20)) AS PolicyId,
               'Carrier ' || CAST(s_suppkey % 5 AS VARCHAR(2)) AS CarrierName,
               CASE WHEN s_suppkey % 7 = 2 THEN ''
                    ELSE CAST(500 + s_suppkey % 100 AS VARCHAR(20)) || '.00'
                    END AS DeductibleAmount,
               CAST(100000 + s_suppkey % 9 * 10000 AS VARCHAR(20))
                 AS ClaimMaxAmount,
               CASE WHEN s_suppkey % 11 = 6 THEN 'unlimited'
                    ELSE CAST(1000000 AS VARCHAR(20)) END AS AnnualMaxAmount,
               CAST(2000000 AS VARCHAR(20)) AS PolicyMaxAmount,
               CAST(1000000 + s_suppkey AS VARCHAR(20)) AS LiabilityLimit,
               '2018-06-01' AS FromDate,
               CASE WHEN s_suppkey % 4 = 1 THEN ''
                    ELSE '2028-06-01' END AS ToDate
        FROM supplier
        """,
    ),
    (
        "raw_perf_groups",
        """
        SELECT CAST(c_custkey AS VARCHAR(20)) AS GroupNumber,
               CASE WHEN c_custkey % 7 = 2 THEN ''
                    ELSE 'Acme ' || CAST(c_custkey AS VARCHAR(20)) END AS Name,
               CASE WHEN c_custkey % 5 = 1 THEN ''
                    ELSE 'S' || CAST(c_custkey % 50 AS VARCHAR(20)) END
                 AS StateCode,
               CASE WHEN c_custkey % 11 = 3 THEN ''
                    ELSE 'P' || CAST(c_custkey * 10 AS VARCHAR(20)) END
                 AS BrokerUniqueId
        FROM customer WHERE c_custkey % 3 <> 1
        """,
    ),
    (
        "raw_group_premiums",
        """
        SELECT CAST(o_custkey AS VARCHAR(20)) AS GroupNumber,
               CASE WHEN o_orderkey % 4 = 0 THEN ''
                    ELSE 'PS' || CAST(o_custkey % 40 AS VARCHAR(20)) END
                 AS StateIssued
        FROM orders WHERE o_custkey % 2 = 0
        """,
    ),
    (
        "raw_group_certs",
        """
        SELECT CAST(o_custkey AS VARCHAR(20)) AS GroupNumber,
               'CS' || CAST(o_custkey % 30 AS VARCHAR(20)) AS CertState
        FROM orders
        """,
    ),
    (
        "raw_licenses",
        """
        SELECT CASE WHEN s_suppkey % 31 = 9 THEN ''
                    ELSE 'P' || CAST(s_suppkey * 10 AS VARCHAR(20)) END
                 AS PartyUniqueId,
               'S' || CAST((s_suppkey + st.n) % 50 AS VARCHAR(20)) AS StateCode,
               'LIC-' || CAST(s_suppkey AS VARCHAR(20)) || '-'
                 || CAST(st.n AS VARCHAR(2)) AS LicenseNumber,
               CASE (s_suppkey + st.n) % 3 WHEN 0 THEN 'Active'
                    WHEN 1 THEN 'Inactive' ELSE 'Expired' END AS CurrentStatus,
               CASE WHEN (s_suppkey + st.n) % 4 = 1 THEN ''
                    ELSE '2019-03-01' END AS LicenseEffectiveDate,
               CASE WHEN (s_suppkey + st.n) % 5 = 2 THEN ''
                    WHEN (s_suppkey + st.n) % 5 = 3 THEN '2020-06-30'
                    ELSE '2030-06-30' END AS LicenseExpirationDate,
               'LC' || CAST(st.n AS VARCHAR(2)) AS LicenseCode,
               CASE (s_suppkey + st.n) % 4 WHEN 0 THEN 'Y' WHEN 1 THEN 'true'
                    WHEN 2 THEN 'N' ELSE '' END AS IsResidenceLicense,
               'County' || CAST((s_suppkey + st.n) % 9 AS VARCHAR(2))
                 AS ApplicableCounty
        FROM supplier
        CROSS JOIN (SELECT 1 AS n UNION ALL SELECT 2 UNION ALL SELECT 3) st
        """,
    ),
    (
        "raw_fees",
        """
        SELECT 'PRD' || CAST(o_orderkey AS VARCHAR(20)) AS PRDNUM,
               CASE WHEN o_orderkey % 13 = 4 THEN ''
                    ELSE 'P' || CAST(o_custkey * 10 AS VARCHAR(20)) END
                 AS PartyUniqueId,
               CASE o_orderkey % 7
                    WHEN 0 THEN 'Fee per Certificate $ Per Month'
                    WHEN 1 THEN 'Flat Fee $ Per Month'
                    WHEN 2 THEN 'One Time Flat Fee $'
                    WHEN 3 THEN 'New Annual Production Fee Per Month'
                    WHEN 4 THEN 'Percent of Collected Premium Per Month'
                    WHEN 5 THEN 'Percent of Collected Premium Per Year'
                    ELSE 'Unknown Method' END AS FormattedFeeCalcMethod,
               CASE WHEN o_orderkey % 11 = 5 THEN ''
                    WHEN o_orderkey % 11 = 8 THEN 'N/A'
                    ELSE CAST(100 + o_orderkey % 900 AS VARCHAR(20)) || '.50'
                    END AS AMOUNT,
               CASE WHEN o_orderkey % 9 = 2 THEN ''
                    ELSE '0.0' || CAST(1 + o_orderkey % 8 AS VARCHAR(20)) END
                 AS FormattedAmount,
               CASE WHEN o_orderkey % 5 = 0 THEN '13/45/2020'
                    ELSE LPAD(CAST(1 + o_orderkey % 12 AS VARCHAR(20)), 2, '0')
                         || '/'
                         || LPAD(CAST(1 + o_orderkey % 28 AS VARCHAR(20)), 2, '0')
                         || '/201' || CAST(o_orderkey % 10 AS VARCHAR(20)) END
                 AS DATESTART,
               CASE WHEN o_orderkey % 3 = 0 THEN '' ELSE '12/31/2025' END
                 AS DATEEND
        FROM orders
        """,
    ),
    (
        "raw_schedule_rates",
        """
        SELECT CASE WHEN p_partkey % 7 = 0
                    THEN '  SCH-' || CAST(p_partkey % 40 AS VARCHAR(20)) || '  '
                    ELSE 'SCH-' || CAST(p_partkey % 40 AS VARCHAR(20)) END
                 AS ScheduleName,
               CASE WHEN p_partkey % 5 = 0 THEN '' ELSE p_brand END AS Category,
               'Desc ' || CAST(p_partkey % 40 AS VARCHAR(20))
                 AS ScheduleDescription,
               p_type AS ProductCode,
               CASE WHEN p_partkey % 11 = 3 THEN ''
                    WHEN p_partkey % 11 = 7 THEN '0'
                    WHEN p_partkey % 13 = 1 THEN 'N/A'
                    ELSE CAST(10 + p_partkey % 8 AS VARCHAR(20)) || '.25' END
                 AS Year1,
               CASE WHEN p_partkey % 9 = 2 THEN ''
                    WHEN p_partkey % 9 = 5 THEN '0'
                    ELSE CAST(2 + p_partkey % 6 AS VARCHAR(20)) END AS Year2,
               CASE WHEN p_partkey % 6 = 1 THEN ''
                    ELSE CAST(1 + p_partkey % 4 AS VARCHAR(20)) || '.5' END
                 AS Year66,
               CASE WHEN p_partkey % 17 = 4 THEN ''
                    ELSE CAST(5 + p_partkey % 5 AS VARCHAR(20)) END AS LevelRate,
               '199' || CAST(3 + p_partkey % 5 AS VARCHAR(2)) || '-01-15'
                 AS EffectiveStartDate,
               CASE WHEN p_partkey % 4 = 0 THEN ''
                    ELSE '1999-12-31' END AS EffectiveEndDate,
               CAST(1 + (p_partkey % 3) * 50 AS VARCHAR(20)) AS GroupSizeFrom,
               CAST((1 + p_partkey % 3) * 50 AS VARCHAR(20)) AS GroupSizeTo,
               'Band' || CAST(p_partkey % 3 AS VARCHAR(20)) AS GroupSize,
               CASE WHEN p_partkey % 2 = 0 THEN 'TX' ELSE '*' END AS State,
               '' AS OffGroupLetterDescription
        FROM part
        """,
    ),
    (
        # ref sql/transforms/12-licenses.sql raw side: literal 'NULL'
        # strings, blank states, unparseable dates, every spelling of
        # the residence flag, and PartyUniqueIds beyond the broker
        # universe (orphans the INNER JOIN must skip)
        "raw_broker_licenses",
        """
        SELECT CAST(p_partkey AS VARCHAR(20)) AS Id,
               CASE WHEN p_partkey % 41 = 0 THEN 'NULL'
                    WHEN p_partkey % 43 = 1 THEN ''
                    ELSE 'P' || CAST((p_partkey % 3000) * 10 AS VARCHAR(20))
               END AS PartyUniqueId,
               CASE WHEN p_partkey % 19 = 0 THEN 'NULL'
                    WHEN p_partkey % 23 = 1 THEN ''
                    ELSE SUBSTR('ALCANYTXFLWAOHMIGAPA',
                                1 + (p_partkey % 10) * 2, 2)
               END AS StateCode,
               CASE WHEN p_partkey % 7 = 0 THEN '   '
                    ELSE ' LIC-' || CAST(p_partkey AS VARCHAR(20)) || ' '
               END AS LicenseNumber,
               CASE p_partkey % 5 WHEN 0 THEN 'A' WHEN 1 THEN 'B'
                    WHEN 2 THEN 'C' WHEN 3 THEN 'Z' ELSE ' '
               END AS LicenseCode,
               CASE p_partkey % 6 WHEN 0 THEN 'Active' WHEN 1 THEN 'ACTIVE'
                    WHEN 2 THEN 'inactive' WHEN 3 THEN 'I'
                    WHEN 4 THEN 'Expired' ELSE ''
               END AS CurrentStatus,
               CASE WHEN p_partkey % 11 = 0 THEN ''
                    WHEN p_partkey % 11 = 1 THEN 'not-a-date'
                    ELSE '20' || LPAD(CAST(p_partkey % 20 AS VARCHAR(4)),
                                      2, '0') || '-06-01'
               END AS LicenseEffectiveDate,
               CASE WHEN p_partkey % 13 = 0 THEN ''
                    ELSE '20' || LPAD(CAST(p_partkey % 26 AS VARCHAR(4)),
                                      2, '0') || '-06-01'
               END AS LicenseExpirationDate,
               CASE p_partkey % 8 WHEN 0 THEN 'Y' WHEN 1 THEN 'Yes'
                    WHEN 2 THEN '1' WHEN 3 THEN 'TRUE' WHEN 4 THEN 'true '
                    WHEN 5 THEN 'N' WHEN 6 THEN '' ELSE 'No'
               END AS IsResidenceLicense,
               CASE WHEN p_partkey % 3 = 0 THEN ''
                    ELSE 'County' || CAST(p_partkey % 50 AS VARCHAR(20))
               END AS ApplicableCounty
        FROM part
        """,
    ),
    (
        # ref sql/transforms/13-eo-insurances.sql raw side: 'NULL'
        # literals in every money column, blank/junk dates
        "raw_broker_eo",
        """
        SELECT CAST(s_suppkey AS VARCHAR(20)) AS Id,
               CASE WHEN s_suppkey % 29 = 7 THEN 'NULL'
                    WHEN s_suppkey % 31 = 8 THEN ''
                    ELSE 'P' || CAST(s_suppkey * 10 AS VARCHAR(20))
               END AS PartyUniqueId,
               CASE WHEN s_suppkey % 9 = 0 THEN 'NULL'
                    ELSE ' EO-' || CAST(s_suppkey AS VARCHAR(20))
               END AS PolicyId,
               CASE WHEN s_suppkey % 8 = 3 THEN 'NULL'
                    ELSE 'Carrier ' || CAST(s_suppkey % 5 AS VARCHAR(2))
               END AS CarrierName,
               CASE WHEN s_suppkey % 4 = 0 THEN 'NULL'
                    ELSE CAST(500 + (s_suppkey % 10) * 250 AS VARCHAR(20))
                         || '.50'
               END AS DeductibleAmount,
               CASE WHEN s_suppkey % 5 = 2 THEN 'NULL'
                    ELSE CAST(100000 + s_suppkey AS VARCHAR(20))
               END AS ClaimMaxAmount,
               CASE WHEN s_suppkey % 6 = 1 THEN 'NULL'
                    ELSE '1000000' END AS AnnualMaxAmount,
               CASE WHEN s_suppkey % 7 = 2 THEN 'NULL'
                    ELSE '2000000' END AS PolicyMaxAmount,
               CASE WHEN s_suppkey % 3 = 1 THEN 'NULL'
                    ELSE '1000000' END AS LiabilityLimit,
               CASE WHEN s_suppkey % 10 = 4 THEN ''
                    ELSE '20' || LPAD(CAST(s_suppkey % 26 AS VARCHAR(4)),
                                      2, '0') || '-04-01'
               END AS FromDate,
               CASE WHEN s_suppkey % 12 = 5 THEN ''
                    WHEN s_suppkey % 12 = 6 THEN 'junk'
                    ELSE '20' || LPAD(CAST(s_suppkey % 26 + 1 AS VARCHAR(4)),
                                      2, '0') || '-04-01'
               END AS ToDate
        FROM supplier
        """,
    ),
]


def dims_cte_sql() -> str:
    return ",\n".join(f"{name} AS ({sql})" for name, sql in DIM_VIEWS)


def register_dim_views(spark: SparkSession, sf_dir: str) -> None:
    register_base_tables(
        spark, sf_dir,
        ("supplier", "customer", "nation", "part", "orders", "lineitem"),
    )

    def _register() -> None:
        for name, sql in DIM_VIEWS:
            spark.sql(f"CREATE OR REPLACE TEMPORARY VIEW {name} AS {sql}")

    registered_once(spark, "dims", sf_dir, _register)
