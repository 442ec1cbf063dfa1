"""Physical-plan quality gates (the 100 TB posture, asserted).

These keep the plans honest as the engine grows: filters must reach
the parquet scan, projections must prune the read schema, the calc
cascade must broadcast its dims (never sort-merge the fact side), and
Python must stay out of the hot path.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from apl_commissions_etl_spark.sources.testdata import load_table


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_pushdown_reaches_parquet_scan(spark, sf_dir):
    df = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= "1998-09-02"
    )
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_column_pruning_reaches_read_schema(spark, sf_dir):
    df = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    plan = _plan(df)
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in plan


def test_calc_cascade_broadcasts_all_dims(spark, sf_dir):
    # build the cascade WITHOUT the session checkpoint cache: the
    # registered queries run over localCheckpoint-ed stages (lineage
    # truncated, joins hidden inside the checkpoint), so the broadcast
    # posture must be asserted on a fresh un-persisted plan
    from apl_commissions_etl_spark.plans import calc
    from apl_commissions_etl_spark.plans.fixtures import (
        FIXTURE_VIEWS,
        register_fixture_views,
    )

    register_fixture_views(spark, sf_dir)
    staging = {name: spark.table(name) for name, _ in FIXTURE_VIEWS}
    gl = calc.run_calc(staging)["gl"]
    plan = _plan(gl)
    assert plan.count("BroadcastHashJoin") >= 9
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    # Python stays out of the cascade
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_dim_filter_prunes_before_join(spark, sf_dir):
    # status filters on version dims fold into the dim subtree, not a
    # post-join filter over the exploded fact. Spark's cache manager
    # substitutes ANY matching analyzed plan with its InMemoryRelation
    # (hiding filter placement), so drop the session caches populated
    # by the broadcast test above before building the fresh cascade.
    from apl_commissions_etl_spark.plans import calc
    from apl_commissions_etl_spark.plans.fixtures import (
        FIXTURE_VIEWS,
        register_fixture_views,
    )

    from apl_commissions_etl_spark import caching

    spark.catalog.clearCache()
    try:
        register_fixture_views(spark, sf_dir)
        staging = {name: spark.table(name) for name, _ in FIXTURE_VIEWS}
        s3 = calc.run_calc(staging)["s3"]
        opt = _optimized(s3)
    finally:
        # clearCache evicted every session-shared frame's CacheManager
        # entry (criteria, cascade, staging dims) while the module
        # SessionCaches keep handing out the same handles — without
        # re-attachment every later test replans full lineage and the
        # cached-partitioning plan contracts (e.g. the mode cascade's
        # single-fact-shuffle bound) break. Restore the entries.
        caching.reattach()
    # every dim side of the cascade joins carries the broadcast hint,
    # and the premium>0 filter reached the fact scan subtree
    assert opt.count("strategy=broadcast") >= 3
    assert "l_extendedprice" in opt and "> 0.0" in opt


