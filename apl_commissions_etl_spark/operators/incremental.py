"""Incremental aggregate maintenance: merge a saved partial-aggregate
table with a new batch's partials instead of rescanning history.

The 100 TB pattern behind every "daily rollup" table: history is
petabytes, the day's delta is gigabytes; COUNT/SUM/MIN/MAX are
mergeable, so the maintained table IS the partial state and each
refresh costs one delta scan + one key-cardinality merge. (Non-
mergeable aggregates — COUNT(DISTINCT), medians — need a keyed
subtotal layer or a mergeable sketch.)

Reference counterpart: the reference recomputes summary tables from
scratch each run (TRUNCATE + INSERT...SELECT); this operator is the
engine's incremental replacement.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: supported mergeable specs: out_col -> (in_col, kind)
KINDS = ("count", "sum", "min", "max")


def partial_aggregate(
    df: DataFrame, keys: Sequence[str], specs: dict[str, tuple[str, str]]
) -> DataFrame:
    """One batch's partial-aggregate state for ``specs``."""
    aggs = []
    for out, (col, kind) in specs.items():
        if kind not in KINDS:
            raise ValueError(f"non-mergeable aggregate kind: {kind}")
        fn = {
            "count": lambda c: F.count(F.lit(1)),
            "sum": F.sum,
            "min": F.min,
            "max": F.max,
        }[kind]
        aggs.append(fn(col).alias(out))
    return df.groupBy(*keys).agg(*aggs)


def merge_partial_aggregates(
    saved: DataFrame,
    delta: DataFrame,
    keys: Sequence[str],
    specs: dict[str, tuple[str, str]],
) -> DataFrame:
    """Merge two partial-aggregate tables produced by
    ``partial_aggregate`` with the same keys/specs. Count/sum merge by
    +, min/max by min/max; keys present in only one side pass through.
    The merge is key-cardinality work — it never touches raw history.
    """
    merged = saved.unionByName(delta)
    aggs = []
    for out, (_col, kind) in specs.items():
        fn = {"count": F.sum, "sum": F.sum, "min": F.min, "max": F.max}[kind]
        aggs.append(fn(out).alias(out))
    return merged.groupBy(*keys).agg(*aggs)
