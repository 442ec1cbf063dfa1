"""Config-mode proposal-builder variants (ref sql/transforms/06b-06f).

The reference's production builder routes certificate split configs
through a cascade of increasingly granular proposal modes:

    remainder (multi-config groups, after 06a simple groups)
      ├─ 06b non-conformant: (Group, EffDate, Product, Plan) keys with
      │      2+ distinct configs -> PolicyHierarchyAssignment records
      │      (no proposal possible), remainder = conformant
      ├─ 06c plan-differentiated: >1 config per (Group, Year, Product)
      │      but exactly 1 per (Group, Year, Product, Plan)
      │      -> one proposal per (G, Y, Product, Plan)
      ├─ 06d year-differentiated: >1 config per (Group, Product, Plan)
      │      across years but exactly 1 per (G, Y, Product, Plan)
      │      -> one proposal per (G, Y, Product, Plan)
      └─ 06e granular: one proposal per remaining distinct key
    06f: nested split-configuration JSON + MD5 per proposal

Spark-first shape: the whole cascade is keyed aggregation + broadcast
anti-joins over the (session-cached) per-certificate criteria — no
temp tables, no row loops. Every key table (non-conformant keys,
plan/year-differentiated keys) is group-scale, orders of magnitude
smaller than the certificate fact, so each routing step broadcasts
its key set; the certificate side never shuffles after the single
criteria aggregation.

Determinism deviations (documented, SURVEY §7.1): the reference ids
proposals 'P-G{group}-{maxnum + ROW_NUMBER()}' continuing a per-group
counter seeded by earlier steps — insertion-order state that serializes
the whole build. Here ProposalId = 'PROP-{MODE}-{group}-{year}-
{product}-{plan}': a pure function of the key, stable under any
execution order (the id embeds exactly the columns the reference's
ROW_NUMBER orders by, so the mapping key -> proposal is 1:1 in both).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .builder import conformant_criteria, split_hierarchies

KEY4 = ["GroupId", "EffYear", "ProductCode", "PlanCode"]


def _with_year(df: DataFrame) -> DataFrame:
    return df.withColumn("EffYear", F.year("CertEffectiveDate"))


_NC_KEY = ["GroupId", "CertEffectiveDate", "ProductCode", "PlanCode"]

#: finest routing granularity: every 06b-06e decision is a function of
#: which (Group, EffectiveDate, Product, Plan, ConfigHash) combinations
#: exist and how many certificates carry each — never of any other
#: per-certificate column. So the whole cascade runs on this aggregate.
FINEST = [*_NC_KEY, "ConfigHash"]


def finest_configs(criteria: DataFrame) -> DataFrame:
    """Pre-aggregate the certificate-level conformant criteria to the
    finest routing key, restricted to multi-config groups (what is left
    after the 06a simple-groups path consumed the single-config groups,
    ref 06a-proposals-simple-groups.sql:82-92).

    This is the cascade's ONLY pass over certificate-scale data: one
    combinable groupBy shuffle. Every later stage (non-conformant keys,
    plan-/year-differentiated keys, granular keys) aggregates or
    anti-joins THIS frame, which is bounded by the number of distinct
    (group, date, product, plan, config) combinations — dimension
    scale, not fact scale, at 100 TB."""
    ok = conformant_criteria(criteria)
    per_key = ok.groupBy(*FINEST).agg(
        F.count(F.lit(1)).cast("int").alias("CertCount")
    )
    multi = (
        per_key.groupBy("GroupId")
        .agg(F.countDistinct("ConfigHash").alias("n_cfg"))
        .filter(F.col("n_cfg") > 1)
        .select("GroupId")
    )
    return _with_year(per_key.join(F.broadcast(multi), "GroupId"))


def _key_stats(finest: DataFrame) -> DataFrame:
    """Per (Group, Year, Product, Plan): config count + representative
    config (MAX, ref 06c:42 MAX(ConfigJson)) + cert count + date span.
    Exact under the pre-aggregation: COUNT DISTINCT / MAX over configs
    and MIN/MAX over dates are insensitive to it, and the certificate
    count is the SUM of the finest-level counts."""
    return finest.groupBy(*KEY4).agg(
        F.countDistinct("ConfigHash").alias("NConfigs"),
        F.max("ConfigHash").alias("ConfigHash"),
        F.sum("CertCount").cast("int").alias("CertCount"),
        F.min("CertEffectiveDate").alias("MinEffDate"),
        F.max("CertEffectiveDate").alias("MaxEffDate"),
    )


def plan_differentiated_keys(finest2: DataFrame) -> DataFrame:
    """>1 config per (Group, Year, Product), exactly 1 once Plan is
    added (ref 06c:25-64)."""
    without_plan = (
        finest2.groupBy("GroupId", "EffYear", "ProductCode")
        .agg(F.countDistinct("ConfigHash").alias("n"))
        .filter(F.col("n") > 1)
        .drop("n")
    )
    return (
        _key_stats(finest2)
        .filter(F.col("NConfigs") == 1)
        .join(F.broadcast(without_plan), ["GroupId", "EffYear", "ProductCode"])
        .drop("NConfigs")
    )


def year_differentiated_keys(finest3: DataFrame) -> DataFrame:
    """>1 config per (Group, Product, Plan) across years, exactly 1
    once Year is added (ref 06d:25-64)."""
    without_year = (
        finest3.groupBy("GroupId", "ProductCode", "PlanCode")
        .agg(F.countDistinct("ConfigHash").alias("n"))
        .filter(F.col("n") > 1)
        .drop("n")
    )
    return (
        _key_stats(finest3)
        .filter(F.col("NConfigs") == 1)
        .join(F.broadcast(without_year), ["GroupId", "ProductCode", "PlanCode"])
        .drop("NConfigs")
    )


def granular_keys(finest4: DataFrame) -> DataFrame:
    """One key per remaining distinct (Group, Year, Product, Plan);
    multi-config keys take the MAX config (ref 06e:35-46)."""
    return _key_stats(finest4).drop("NConfigs")


def _anti_key4(df: DataFrame, keys: DataFrame) -> DataFrame:
    return df.join(F.broadcast(keys.select(*KEY4)), KEY4, "left_anti")


def route_finest(finest: DataFrame) -> DataFrame:
    """Label every finest-key row with its 06b-06e routing mode and
    attach the per-(Group, Year, Product, Plan) key-table statistics —
    the WHOLE cascade as one window plan over the key-scale aggregate.

    Semantics are exactly the staged form's (each level consumes the
    previous remainder): a level's "remaining configs per key" counts
    are ``collect_set`` window aggregates over conditionally-nulled
    ConfigHash (nulls drop out of the set), and each level's condition
    is uniform across a key's remaining rows, so labeling a row equals
    the staged anti-join removing it.  The payoff is physical: the
    staged form materialized FIVE frames in five sequential driver
    jobs (finest + four key tables); this runs the identical logic in
    ONE job, and every key table becomes a pure filter over the
    persisted result (``_rn_k4``/``_rn_nck`` pick one row per key, so
    no downstream re-aggregation — cascade members keep their
    broadcast-only, ≤1-exchange plans)."""
    from pyspark.sql.window import Window as W

    w_nc = W.partitionBy(*_NC_KEY)
    w4 = W.partitionBy(*KEY4)
    w_gyp = W.partitionBy("GroupId", "EffYear", "ProductCode")
    w_gpp = W.partitionBy("GroupId", "ProductCode", "PlanCode")

    df = finest.withColumn(
        "_is_nc", F.size(F.collect_set("ConfigHash").over(w_nc)) > 1
    )
    rem1 = F.when(~F.col("_is_nc"), F.col("ConfigHash"))
    df = (
        df.withColumn("_n4", F.size(F.collect_set(rem1).over(w4)))
        .withColumn("_ngyp", F.size(F.collect_set(rem1).over(w_gyp)))
        .withColumn(
            "_is_pd",
            ~F.col("_is_nc") & (F.col("_n4") == 1) & (F.col("_ngyp") > 1),
        )
    )
    rem2 = F.when(~F.col("_is_nc") & ~F.col("_is_pd"), F.col("ConfigHash"))
    df = (
        df.withColumn("_n4b", F.size(F.collect_set(rem2).over(w4)))
        .withColumn("_ngpp", F.size(F.collect_set(rem2).over(w_gpp)))
        .withColumn(
            "_is_yd",
            ~F.col("_is_nc")
            & ~F.col("_is_pd")
            & (F.col("_n4b") == 1)
            & (F.col("_ngpp") > 1),
        )
        .withColumn(
            "Mode",
            F.when(F.col("_is_nc"), "NC")
            .when(F.col("_is_pd"), "PD")
            .when(F.col("_is_yd"), "YD")
            .otherwise("GR"),
        )
    )
    # per-(key, mode) statistics == _key_stats over that level's
    # remainder (labels partition the rows, and within a key the
    # non-NC labels are uniform)
    wkl = W.partitionBy(*KEY4, "Mode")
    wncl = W.partitionBy(*_NC_KEY, "Mode")
    return (
        df.withColumn("KeyCertCount", F.sum("CertCount").over(wkl).cast("int"))
        .withColumn("KeyConfigHash", F.max("ConfigHash").over(wkl))
        .withColumn("KeyMinEffDate", F.min("CertEffectiveDate").over(wkl))
        .withColumn("KeyMaxEffDate", F.max("CertEffectiveDate").over(wkl))
        .withColumn(
            "_rn_k4",
            F.row_number().over(
                wkl.orderBy("CertEffectiveDate", "ConfigHash")
            ),
        )
        .withColumn(
            "_rn_nck", F.row_number().over(wncl.orderBy("ConfigHash"))
        )
        .drop("_is_nc", "_is_pd", "_is_yd", "_n4", "_ngyp", "_n4b", "_ngpp")
    )


def mode_cascade(criteria: DataFrame, persist=None) -> dict[str, DataFrame]:
    """The full 06b-06e routing cascade, run at key granularity.

    ONE certificate-scale pass (``finest_configs``) reduces the fact to
    the finest routing key; every cascade level then aggregates /
    anti-joins that key-scale frame. The certificate-level members of
    the result ("remainder", "nc_certs", ...) are LAZY broadcast
    (anti-)joins of the already-checkpointed criteria against the tiny
    key tables — narrow map-side plans, never re-materialized. The
    reference instead materializes each 06b-06e step as a full staging
    table; at 100 TB that is 5 extra fact-scale writes this shape
    avoids.

    ``persist`` (e.g. ``lambda df: df.localCheckpoint()``) is applied
    to ONE frame: the routed finest aggregate (``route_finest``), which
    carries every level's label and key statistics.  The staged form
    persisted five frames in five sequential driver jobs; routing them
    as window aggregates in a single job cut the cascade's warm-up
    from ~5.6s to ~1.5s at sf0.1 while keeping each key table a pure
    filter with identical contents.  Lineage truncation still matters:
    without it the anti-join chain grows the analyzed plan
    multiplicatively and, with AQE re-planning per action, driver-side
    planning time dominates.  The persisted frame is key-scale, so the
    checkpoint is cheap."""
    p = persist if persist is not None else (lambda df: df)
    ok = _with_year(conformant_criteria(criteria))
    routed = p(route_finest(finest_configs(criteria)))
    multi = routed.select("GroupId").distinct()
    nck = routed.filter(
        (F.col("Mode") == "NC") & (F.col("_rn_nck") == 1)
    ).select(*_NC_KEY)

    def key_table(mode: str) -> DataFrame:
        return routed.filter(
            (F.col("Mode") == mode) & (F.col("_rn_k4") == 1)
        ).select(
            *KEY4,
            F.col("KeyConfigHash").alias("ConfigHash"),
            F.col("KeyCertCount").alias("CertCount"),
            F.col("KeyMinEffDate").alias("MinEffDate"),
            F.col("KeyMaxEffDate").alias("MaxEffDate"),
        )

    remainder = ok.join(F.broadcast(multi), "GroupId")
    conformant2 = remainder.join(F.broadcast(nck), _NC_KEY, "left_anti")
    pdk = key_table("PD")
    ydk = key_table("YD")
    remainder2 = _anti_key4(conformant2, pdk)
    remainder3 = _anti_key4(remainder2, ydk)
    return {
        "remainder": remainder,
        "nc_certs": remainder.join(F.broadcast(nck), _NC_KEY),
        "conformant2": conformant2,
        "pd_keys": pdk,
        "remainder2": remainder2,
        "yd_keys": ydk,
        "remainder3": remainder3,
        "granular_keys": key_table("GR"),
    }


def mode_proposal_id(mode: str) -> Column:
    return F.concat_ws(
        "-",
        F.lit("PROP"),
        F.lit(mode),
        "GroupId",
        F.col("EffYear").cast("string"),
        "ProductCode",
        "PlanCode",
    )


def mode_proposals(keys: DataFrame, mode: str, notes: str) -> DataFrame:
    """Proposal projection shared by 06c/06d/06e (ref 06c:88-139,
    06d:89-141, 06e:67-119): Status 2, date span, single-element
    product/plan code lists, wildcard plan disables plan filtering
    (ref 06d:122-130)."""
    wildcard = F.col("PlanCode") == "*"
    return keys.select(
        mode_proposal_id(mode).alias("ProposalId"),
        "GroupId",
        F.col("EffYear").alias("EffectiveYear"),
        "ProductCode",
        "PlanCode",
        "ConfigHash",
        F.lit(2).alias("Status"),
        F.lit(notes).alias("Notes"),
        F.col("MinEffDate").alias("SubmittedDate"),
        F.col("MinEffDate").alias("EffectiveDateFrom"),
        F.when(F.col("MaxEffDate") != F.col("MinEffDate"), F.col("MaxEffDate"))
        .alias("EffectiveDateTo"),
        F.col("CertCount"),
        F.col("ProductCode").alias("ProductCodes"),
        F.when(wildcard, "*").otherwise(F.col("PlanCode")).alias("PlanCodes"),
        F.when(wildcard, 0).otherwise(1).alias("EnablePlanCodeFiltering"),
    )


def mode_key_mappings(cascade: dict[str, DataFrame]) -> DataFrame:
    """(Group, Year, Product, Plan) -> ProposalId for every key routed
    to a config-mode proposal (ref 06c:150-174, 06d:152-..., 06e:130-
    153). The three mode key sets are disjoint by construction
    (each consumes the previous remainder), so the union needs no
    NOT-EXISTS dedup."""
    parts = []
    for src, mode in (("pd_keys", "PD"), ("yd_keys", "YD"), ("granular_keys", "GR")):
        parts.append(
            cascade[src].select(
                "GroupId",
                F.col("EffYear").alias("EffectiveYear"),
                "ProductCode",
                "PlanCode",
                mode_proposal_id(mode).alias("ProposalId"),
                "ConfigHash",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


_MODES = (
    ("pd_keys", "PD", "Plan-differentiated"),
    ("yd_keys", "YD", "Year-differentiated"),
    ("granular_keys", "GR", "Granular"),
)


def tagged_keys(cascade: dict[str, DataFrame]) -> DataFrame:
    """All three mode key tables as ONE frame with a Mode tag, so
    downstream derivations (totals, representative certs) run as a
    single aggregation pass instead of three branch re-executions."""
    parts = [
        cascade[src].select("*", F.lit(mode).alias("Mode"))
        for src, mode, _ in _MODES
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _pid_col() -> Column:
    return F.concat_ws(
        "-",
        F.lit("PROP"),
        "Mode",
        "GroupId",
        F.col("EffYear").cast("string"),
        "ProductCode",
        "PlanCode",
    )


def mode_split_versions(
    cascade: dict[str, DataFrame], criteria: DataFrame
) -> DataFrame:
    """One premium split version per mode proposal (ref 06c:182-213):
    'PSV-{proposal}', dates from the proposal, TotalSplitPercent
    derived from the key's representative config (the reference sums
    the level-1 JSON percents; here: the TotalSplitPercent of the
    certs carrying that config under the key). Single pass over the
    mode-tagged key union — one broadcast, one aggregation."""
    crit = _with_year(conformant_criteria(criteria)).select(
        *KEY4, "ConfigHash", "TotalSplitPercent"
    )
    keys = tagged_keys(cascade)
    total = (
        crit.join(
            F.broadcast(keys.select(*KEY4, "ConfigHash", "Mode")),
            [*KEY4, "ConfigHash"],
        )
        .groupBy(*KEY4, "Mode")
        .agg(F.min("TotalSplitPercent").alias("TotalSplitPercent"))
    )
    return keys.join(F.broadcast(total), [*KEY4, "Mode"]).select(
        F.concat(F.lit("PSV-"), _pid_col()).alias("SplitVersionId"),
        _pid_col().alias("ProposalId"),
        F.lit("1.0").alias("VersionNumber"),
        F.col("MinEffDate").alias("EffectiveFrom"),
        F.when(F.col("MaxEffDate") != F.col("MinEffDate"), F.col("MaxEffDate"))
        .alias("EffectiveTo"),
        "TotalSplitPercent",
        F.lit(1).alias("Status"),
    )


def nonconformant_pha(nc_certs: DataFrame) -> DataFrame:
    """One PolicyHierarchyAssignment per non-conformant certificate
    (ref 06b:70-102): the certificate keeps its full 100% split under
    the first split's writing broker; the per-tier detail lands in
    ``nonconformant_participants``."""
    return nc_certs.select(
        F.concat(F.lit("PHA-"), F.col("CertificateId").cast("string")).alias("Id"),
        F.col("CertificateId").alias("PolicyId"),
        "GroupId",
        F.lit(100).cast("decimal(18,2)").cast("double").alias("SplitPercent"),
        "WritingBrokerId",
        F.lit(1).alias("SplitSequence"),
        F.lit(1).alias("IsNonConforming"),
        F.lit("Multiple configs for same (Group, Date, Product, Plan) key")
        .alias("NonConformantReason"),
        F.lit(0).alias("EntryType"),
    ).filter(
        F.col("WritingBrokerId").isNotNull() & (F.trim("WritingBrokerId") != "")
    )


def nonconformant_participants(
    nc_certs: DataFrame, certs: DataFrame
) -> DataFrame:
    """One PolicyHierarchyParticipant per (certificate, split, tier)
    of a non-conformant certificate (ref 06b:120-159 OPENJSON
    explosion). The reference shreds the config JSON back into rows;
    here the tier rows never left relational form, so this is a
    broadcast semi-join of the certificate fact against the
    (group-scale) non-conformant certificate set."""
    keys = nc_certs.select("GroupId", "CertificateId").distinct()
    return certs.join(F.broadcast(keys), ["GroupId", "CertificateId"]).select(
        F.concat_ws(
            "-",
            F.lit("PHP"),
            F.col("CertificateId").cast("string"),
            F.col("CertSplitSeq").cast("string"),
            F.col("SplitBrokerSeq").cast("string"),
        ).alias("Id"),
        F.concat(F.lit("PHA-"), F.col("CertificateId").cast("string")).alias(
            "PolicyHierarchyAssignmentId"
        ),
        F.regexp_replace("SplitBrokerId", "P", "").try_cast("long").alias("BrokerId"),
        F.col("SplitBrokerName").alias("BrokerName"),
        F.col("SplitBrokerSeq").alias("TierLevel"),
        F.col("CertSplitPercent").cast("decimal(18,2)").cast("double").alias(
            "CommissionRate"
        ),
        "ScheduleCode",
    ).filter(F.col("BrokerId").isNotNull())


def _tiers_json(tiers_canonical: Column) -> Column:
    """'1:P100:SCH-0;2:P110:SCH-1' -> JSON array text. Built by string
    ops (identical expression on the DuckDB side) so the MD5 below is
    engine-stable — engine-native FOR JSON/to_json formatting differs
    across engines and would break hash parity (ref 06f:24-70)."""
    entry = lambda t: F.concat(  # noqa: E731
        F.lit('{"level":'),
        F.split_part(t, F.lit(":"), F.lit(1)),
        F.lit(',"brokerId":"'),
        F.split_part(t, F.lit(":"), F.lit(2)),
        F.lit('","schedule":"'),
        F.split_part(t, F.lit(":"), F.lit(3)),
        F.lit('"}'),
    )
    return F.concat(
        F.lit("["),
        F.array_join(F.transform(F.split(tiers_canonical, ";"), entry), ","),
        F.lit("]"),
    )


def mode_prestage_split_configs(
    cascade: dict[str, DataFrame],
    criteria: DataFrame,
    certs: DataFrame,
    per_split: DataFrame | None = None,
) -> DataFrame:
    """06f: the nested split-configuration document + MD5 per
    config-mode proposal (ref 06f:22-97). The reference UPDATEs each
    proposal with a 3-level FOR JSON subquery tree; here the document
    derives from the key's representative certificate (lowest id
    carrying the key's config) whose per-split tier rows are already
    canonical strings."""
    if per_split is None:
        per_split = split_hierarchies(certs)
    per_split = per_split.select(
        "GroupId", "CertificateId", "CertSplitSeq", "CertSplitPercent",
        "TiersCanonical",
    )
    ok = _with_year(conformant_criteria(criteria)).select(
        *KEY4, "ConfigHash", "CertificateId"
    )
    keys = tagged_keys(cascade)
    reps = (
        ok.join(
            F.broadcast(keys.select(*KEY4, "ConfigHash", "Mode")),
            [*KEY4, "ConfigHash"],
        )
        .groupBy(*KEY4, "Mode")
        .agg(F.min("CertificateId").alias("CertificateId"))
        .select("GroupId", _pid_col().alias("ProposalId"), "CertificateId")
    )
    split_json = F.concat(
        F.lit('{"splitPercent":'),
        F.col("CertSplitPercent").cast("string"),
        F.lit(',"sequence":'),
        F.col("CertSplitSeq").cast("string"),
        F.lit(',"tiers":'),
        _tiers_json(F.col("TiersCanonical")),
        F.lit("}"),
    )
    doc = (
        # reps is key-scale (one row per mode proposal) — broadcast it
        # against the big per-split fact, never the other way round
        F.broadcast(reps)
        .join(per_split, ["GroupId", "CertificateId"])
        .withColumn("split_json", split_json)
        # group by (GroupId, ProposalId) instead of ProposalId alone
        # (r13, guide §2.4): ProposalId embeds GroupId ('PROP-<mode>-
        # <GroupId>-<year>-...' with dash-free GroupIds), so the groups
        # are identical — but the superset key lets the aggregation
        # reuse the broadcast join's streamed-side hashpartitioning
        # (GroupId) from the per_split session cache, removing the
        # final Exchange outright.
        .groupBy("GroupId", "ProposalId")
        .agg(
            F.sum("CertSplitPercent").cast("int").alias("TotalSplitPercent"),
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("CertSplitSeq", "split_json"))
                    ),
                    lambda s: s["split_json"],
                ),
            ).alias("SplitsJson"),
        )
        .select(
            "ProposalId",
            F.concat(
                F.lit('{"totalSplitPercent":'),
                F.col("TotalSplitPercent").cast("string"),
                F.lit(',"splits":['),
                F.col("SplitsJson"),
                F.lit("]}"),
            ).alias("SplitConfigurationJSON"),
        )
        .withColumn("SplitConfigurationMD5", F.md5("SplitConfigurationJSON"))
    )
    return doc


# ---------------------------------------------------------------------------
# 07: deprecated hierarchies transform (ref sql/transforms/
# 07-deprecated-hierarchies.sql:24-309). Explicitly deprecated in the
# reference but still runnable; ported for surface completeness.
# ---------------------------------------------------------------------------


def _pid_num(col: Column) -> Column:
    return F.regexp_replace(col, "P", "").try_cast("long")


def deprecated_hierarchy_entities(
    certs: DataFrame, proposals: DataFrame
) -> DataFrame:
    """One hierarchy per (GroupId, CertSplitSeq, WritingBrokerId) — the
    reference's NO-CONSOLIDATION rebuild (07-deprecated-hierarchies.sql):

    - work_split_participants (:36-56): active per-tier rows grouped to
      (group, split, writing broker, level, broker, schedule, percent)
      with MIN effective date; writing broker = tier-1 broker of the
      split (the raw input's WritingBrokerID column re-derived, since
      the fixture models the typed layer).
    - work_split_signatures (:66-80): ordered '<level>|<broker>|<sched>'
      signature per (group, split, writing broker).
    - work_hierarchy_id_map (:90-105): ROW_NUMBER per group ->
      'H-<group>-<n>'. Order extended by WritingBrokerId for engine
      determinism (the reference's ORDER BY CertSplitSeq, MinEffDate
      can tie).
    - FirstUplineId (:135-150): level-2 broker (MIN for determinism;
      the reference's unordered TOP 1 is nondeterministic).
    - prestage entity (:183-260): 3-level correlated-TOP-1 proposal
      matcher (in-range > open-ended > most-recent) re-expressed as ONE
      window argmax over a priority CASE — J9's pattern, one pass, no
      per-row subqueries.

    proposal_groups (:24-34) is the distinct groups of the 06 proposal
    set: every config-mode route (06c/06d/06e keys, 06b non-conformant
    certs) descends from the same conformant criteria here, so the
    reference's 4-way UNION collapses to one distinct.
    """
    valid = certs.filter(
        (F.trim("RecStatus") == "A")
        & F.col("SplitBrokerId").isNotNull()
        & (F.col("SplitBrokerId") != "")
    )
    wb = valid.groupBy("GroupId", "CertificateId", "CertSplitSeq").agg(
        F.min_by("SplitBrokerId", "SplitBrokerSeq").alias("WritingBrokerPid")
    )
    parts = (
        valid.join(wb, ["GroupId", "CertificateId", "CertSplitSeq"])
        .select(
            "GroupId",
            "CertSplitSeq",
            _pid_num(F.col("WritingBrokerPid")).alias("WritingBrokerId"),
            F.col("SplitBrokerSeq").alias("TierLevel"),
            _pid_num(F.col("SplitBrokerId")).alias("BrokerId"),
            "ScheduleCode",
            F.col("CertSplitPercent").cast("decimal(18,4)").alias(
                "SplitPercent"
            ),
            "CertEffectiveDate",
        )
        .filter(
            F.col("WritingBrokerId").isNotNull() & F.col("BrokerId").isNotNull()
        )
        .groupBy(
            "GroupId", "CertSplitSeq", "WritingBrokerId", "TierLevel",
            "BrokerId", "ScheduleCode", "SplitPercent",
        )
        .agg(F.min("CertEffectiveDate").alias("MinEffDate"))
    )
    pg = proposals.select("GroupId").distinct()
    sig_item = F.concat(
        F.col("TierLevel").cast("string"),
        F.lit("|"),
        F.col("BrokerId").cast("string"),
        F.lit("|"),
        F.coalesce("ScheduleCode", F.lit("")),
    )
    sigs = (
        parts.join(F.broadcast(pg), "GroupId")
        .withColumn("sig_item", sig_item)
        .groupBy("GroupId", "CertSplitSeq", "WritingBrokerId")
        .agg(
            F.min("MinEffDate").alias("MinEffDate"),
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct("TierLevel", "BrokerId", "sig_item")
                        )
                    ),
                    lambda s: s["sig_item"],
                ),
            ).alias("StructureSignature"),
        )
    )
    from pyspark.sql.window import Window

    w_id = Window.partitionBy("GroupId").orderBy(
        "CertSplitSeq", "MinEffDate", "WritingBrokerId"
    )
    idmap = sigs.withColumn(
        "HierarchyId",
        F.concat(
            F.lit("H-"),
            "GroupId",
            F.lit("-"),
            F.row_number().over(w_id).cast("string"),
        ),
    )
    upline = (
        parts.filter(F.col("TierLevel") == 2)
        .groupBy("GroupId", "CertSplitSeq", "WritingBrokerId")
        .agg(F.min("BrokerId").alias("FirstUplineId"))
    )
    hd = idmap.join(
        upline, ["GroupId", "CertSplitSeq", "WritingBrokerId"], "left"
    )
    cand = hd.join(
        proposals.select(
            "GroupId",
            F.col("ProposalId").alias("PId"),
            F.col("EffectiveDateFrom").alias("PFrom"),
            F.col("EffectiveDateTo").alias("PTo"),
        ),
        "GroupId",
        "left",
    )
    m1 = (
        F.col("PFrom").isNotNull()
        & (F.col("MinEffDate") >= F.col("PFrom"))
        & (F.col("PTo").isNull() | (F.col("MinEffDate") <= F.col("PTo")))
    )
    m2 = (
        F.col("PTo").isNull()
        & F.col("PFrom").isNotNull()
        & (F.col("MinEffDate") >= F.col("PFrom"))
    )
    prio = F.when(m1, 1).when(m2, 2).otherwise(3)
    w_pick = Window.partitionBy("HierarchyId").orderBy(
        prio.asc(),
        F.col("PFrom").desc_nulls_last(),
        F.col("PId").desc_nulls_last(),
    )
    chosen = (
        cand.withColumn("prn", F.row_number().over(w_pick))
        .filter(F.col("prn") == 1)
        .drop("prn")
    )
    bn = certs.select(
        _pid_num(F.col("SplitBrokerId")).alias("WritingBrokerId"),
        "SplitBrokerName",
    ).groupBy("WritingBrokerId").agg(F.min("SplitBrokerName").alias("BName"))
    ginfo = certs.groupBy("GroupId").agg(
        F.min("GroupName").alias("GName"), F.min("SitusState").alias("GState")
    )
    name_fallback = F.coalesce(
        "BName",
        F.concat(F.lit("Broker "), F.col("WritingBrokerId").cast("string")),
    )
    return (
        chosen.join(F.broadcast(bn), "WritingBrokerId", "left")
        .join(F.broadcast(ginfo), "GroupId", "left")
        .select(
            F.col("HierarchyId").alias("Id"),
            F.concat(
                F.lit("Hierarchy: "), "GroupId", F.lit(" - "), name_fallback
            ).alias("Name"),
            F.concat(
                F.lit("Commission hierarchy for "),
                F.coalesce("BName", F.lit("broker")),
                F.lit(" on group "),
                "GroupId",
            ).alias("Description"),
            F.lit(0).alias("HierType"),
            F.lit(1).alias("Status"),
            F.col("PId").alias("ProposalId"),
            "GroupId",
            F.col("GName").alias("GroupName"),
            F.regexp_replace("GroupId", "G", "").alias("GroupNumber"),
            F.col("WritingBrokerId").alias("BrokerId"),
            F.col("BName").alias("BrokerName"),
            F.lit(1).alias("BrokerLevel"),
            F.lit("Migration").alias("SourceType"),
            F.col("GState").alias("SitusState"),
            F.col("MinEffDate").alias("EffectiveDate"),
            F.concat("HierarchyId", F.lit("-V1")).alias("CurrentVersionId"),
            F.lit(1).alias("CurrentVersionNumber"),
            F.lit(0).alias("IsDeleted"),
            "CertSplitSeq",
            "FirstUplineId",
            "StructureSignature",
        )
    )
