"""Incremental maintenance of the builder, calc, consolidation and
period-close outputs == their full rebuilds, plus strictness checks that
each delta batch really replaces stale baseline rows."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_builder_incremental_replaces_stale_amended_rows(spark, sf_dir):
    """The incremental-builder merge must REPLACE the amended
    certificates' baseline rows, not append to them: a cert whose
    split-2 arrives in the batch had a genuinely stale baseline
    criteria row (split 1 only), and the merged result must carry the
    full-fact values with no duplicate (Group, Certificate) keys."""
    from pyspark.sql import functions as F

    from apl_commissions_etl_spark.plans import builder as b
    from apl_commissions_etl_spark.queries.builder import (
        _certs_raw,
        builder_incremental_criteria,
    )

    merged = builder_incremental_criteria(spark, sf_dir)
    full = b.selection_criteria(_certs_raw(spark, sf_dir))

    # no duplicate keys in the merged frame
    dup = (
        merged.groupBy("GroupId", "CertificateId")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert dup == 0

    # at least one amended certificate exists whose baseline (split-1
    # only) disagreed with the full-fact criteria — i.e. the merge had
    # real replacement work to do, not just appends
    amended = merged.filter(
        (F.col("CertificateId") % 10 == 7) & (F.col("SplitCount") > 1)
    )
    assert amended.count() > 0

    # and the merged values equal the full rebuild for those keys
    cols = ["GroupId", "CertificateId", "TotalSplitPercent",
            "SplitCount", "ConfigHash"]
    m = {tuple(r) for r in amended.select(*cols).collect()}
    f = {
        tuple(r)
        for r in full.filter(
            (F.col("CertificateId") % 10 == 7) & (F.col("SplitCount") > 1)
        ).select(*cols).collect()
    }
    assert m == f


def _multiset(df):
    from collections import Counter

    return Counter(tuple(r) for r in df.collect())


def test_broker_trace_incremental_equals_full_rebuild(spark, sf_dir):
    """The lineage-grain merge: group-replace keyed on the derived
    report id must reproduce the full rebuild exactly — including
    scrubbing every corrupted affected row from the stored baseline."""
    from apl_commissions_etl_spark.queries import calcdomain
    from apl_commissions_etl_spark.registry import all_queries

    qs = all_queries()
    merged = qs["calc_incremental_broker_trace_parity"].spark_fn(
        spark, sf_dir
    )
    full = calcdomain._stages(spark, sf_dir)["broker_trace"]
    cols = sorted(full.columns)  # merge reorders (join key first)
    assert _multiset(merged.select(*cols)) == _multiset(full.select(*cols))


def test_pipeline_incremental_covers_all_five_outputs(spark, sf_dir):
    """The chained single-pass increment must emit every maintained
    output's tag and, per tag, exactly the full-rebuild row set."""
    from apl_commissions_etl_spark.registry import all_queries

    qs = all_queries()
    out = qs["pipeline_incremental_parity"].spark_fn(spark, sf_dir)
    tags = {
        r["output"]: r["n"]
        for r in out.groupBy("output").agg(F.count("*").alias("n")).collect()
    }
    assert set(tags) == {
        "criteria", "proposals", "gl", "trace", "broker_trace"
    }
    assert all(n > 0 for n in tags.values())
    # no residue of the corrupted baseline: ids are unique per tag for
    # the keyed outputs (a failed delete arm would duplicate an id)
    dup = (
        out.groupBy("output", "id")
        .agg(F.count("*").alias("n"))
        .filter((F.col("n") > 1) & (F.col("output") != "broker_trace"))
        .count()
    )
    assert dup == 0


def test_consolidate_incremental_equals_full_refold(spark, sf_dir):
    """The group-propagation re-fold must equal the full fold exactly,
    and the baseline must be genuinely stale for amended groups (the
    FIRST proposal arrives late, so the re-fold can merge away a
    previously-retained run), so a missed delete arm would fail — not
    pass vacuously."""
    from apl_commissions_etl_spark.operators.consolidate import (
        consolidate_proposals,
    )
    from apl_commissions_etl_spark.plans.builder_fixtures import (
        register_builder_views,
    )
    from apl_commissions_etl_spark.registry import all_queries

    qs = all_queries()
    merged = qs["consolidate_incremental_parity"].spark_fn(spark, sf_dir)
    register_builder_views(spark, sf_dir)
    prestage = spark.table("prestage_proposals")
    full = consolidate_proposals(prestage)
    cols = sorted(full.columns)
    assert _multiset(merged.select(*cols)) == _multiset(full.select(*cols))

    # strictness: the pre-batch baseline disagrees with the full fold
    # on at least one AMENDED group (custkey%10==7 with a late final
    # proposal), so the delete arm had real replacement work to do
    gk = F.substring("GroupId", 2, 20).cast("long")
    seq = F.element_at(F.split("Id", "-"), 3).cast("int")
    is_batch = (gk % 10 == 3) | ((gk % 10 == 7) & (seq == 1))
    baseline = consolidate_proposals(prestage.filter(~is_batch))
    amended_gids = [
        r[0]
        for r in prestage.filter((gk % 10 == 7) & (gk % 3 > 0))
        .select("GroupId")
        .distinct()
        .limit(50)
        .collect()
    ]
    stale = _multiset(
        baseline.filter(F.col("GroupId").isin(amended_gids)).select(*cols)
    )
    fresh = _multiset(
        full.filter(F.col("GroupId").isin(amended_gids)).select(*cols)
    )
    assert amended_gids, "no amended multi-proposal group: fixture too weak"
    assert stale != fresh, (
        "baseline not stale for amended groups: the parity would pass "
        "even with a missed delete arm"
    )

    # group-replace necessity: for at least one amended group a
    # RETAINED KEY present in the baseline must be ABSENT from the
    # final fold (the late first proposal merged that run away), so an
    # upsert-by-(GroupId, RetainedId) could never maintain this table
    base_keys = {
        (r["GroupId"], r["RetainedId"])
        for r in baseline.filter(F.col("GroupId").isin(amended_gids))
        .select("GroupId", "RetainedId")
        .collect()
    }
    full_keys = {
        (r["GroupId"], r["RetainedId"])
        for r in full.filter(F.col("GroupId").isin(amended_gids))
        .select("GroupId", "RetainedId")
        .collect()
    }
    assert base_keys - full_keys, (
        "no baseline retained run vanished under the re-fold: the "
        "fixture never exercises the group-replace delete arm"
    )


def test_period_close_incremental_is_not_a_rebuild(spark, sf_dir):
    """The two-level maintenance must (a) equal the full view and
    (b) actually be incremental: some period rows must survive from
    the stored baseline verbatim (if every period were affected the
    'increment' would degenerate to a rebuild and prove nothing)."""
    from apl_commissions_etl_spark.queries import reporting
    from apl_commissions_etl_spark.queries.calcdomain import (
        _gl_incremental_frames,
        _stages,
    )
    from apl_commissions_etl_spark.registry import all_queries

    qs = all_queries()
    merged = qs["report_incremental_period_close_parity"].spark_fn(
        spark, sf_dir
    )
    full = qs["report_gl_period_close"].spark_fn(spark, sf_dir)
    cols = sorted(full.columns)
    assert _multiset(merged.select(*cols)) == _multiset(full.select(*cols))
    # strictness: affected periods are a proper subset of all periods
    batch, affected = _gl_incremental_frames(spark, sf_dir)
    journal = reporting._period_journal(_stages(spark, sf_dir)["s8"])
    n_affected = (
        journal.join(F.broadcast(affected), "PremiumTransactionId")
        .select("period")
        .distinct()
        .count()
    )
    n_all = journal.select("period").distinct().count()
    assert 0 < n_affected, "delta touches no period: fixture too weak"
    assert n_affected < n_all, (
        "every period affected: the maintenance degenerates to a "
        "rebuild and the parity proves nothing"
    )
