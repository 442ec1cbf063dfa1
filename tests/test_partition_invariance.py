"""Partition-count invariance: the engine's results must be identical
regardless of how many shuffle partitions the cluster runs — the claim
behind every floating aggregate's exact-DECIMAL accumulation and every
hash id's canonical serialization.  A 1000-executor cluster IS the
shuffle-partition change; any query whose values move here would drift
at scale."""

from __future__ import annotations

import pytest

from apl_commissions_etl_spark.registry import all_queries

#: numerically / orderingly sensitive representatives: float aggs,
#: money rounding, percent banding, windows over ties, hash ids, and
#: the split-config builder mode, whose (GroupId, ProposalId) grouping
#: must not depend on how the shuffle splits a group
SENSITIVE = [
    "agg_pricing_summary",
    "agg_conformance_banding",
    "calc_stage7_commissions",
    "builder_split_hierarchies",
    "seq_anomaly_zscore",
    "builder_mode_split_configs",
]


def _rows(spark, name, sf_dir, n_shuffle):
    spark.conf.set("spark.sql.shuffle.partitions", str(n_shuffle))
    try:
        df = all_queries()[name].spark_fn(spark, sf_dir)
        cols = sorted(df.columns)
        return sorted(
            (tuple(str(r[c]) for c in cols) for r in df.collect())
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", "8")


@pytest.mark.parametrize("name", SENSITIVE)
def test_results_invariant_to_shuffle_partition_count(spark, sf_dir, name):
    assert _rows(spark, name, sf_dir, 1) == _rows(spark, name, sf_dir, 13)
