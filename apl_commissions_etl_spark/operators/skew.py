"""Skew mitigation (SURVEY.md §4 custom-work item 4).

The reference's data is group-skewed by construction — entropy routing
exists because a few employer groups dominate certificate volume
(ref scripts/proposal-builder.ts:819-862). AQE skew-join splitting is
the first line of defense (on in session.py); these helpers are the
explicit second line for the cases AQE doesn't cover:

    - salted_aggregate: two-phase agg — partial agg on (key, salt)
      spreads one hot key over N reducers, then the tiny per-salt
      partials re-aggregate. Works for any algebraic agg (sum/count/
      min/max).
    - salted_join: replicate the SMALL side N times (one per salt),
      salt the skewed big side randomly — the hot key's rows land on N
      reducers instead of one. Exact same join result.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def with_salt(df: DataFrame, salts: int, col_name: str = "_salt") -> DataFrame:
    """Deterministic pseudo-random salt in [0, salts) derived from the
    whole row hash — reproducible (no rand()), uniform enough to
    spread a hot key."""
    return df.withColumn(
        col_name, F.pmod(F.hash(*[F.col(c) for c in df.columns]), F.lit(salts))
    )


def salted_aggregate(
    df: DataFrame,
    keys: Sequence[str],
    aggs: dict[str, tuple[str, str]],
    salts: int = 16,
) -> DataFrame:
    """Two-phase skew-safe aggregation.

    ``aggs`` maps output column -> (input column, fn) with fn in
    {sum, count, min, max}. Phase 1 aggregates on (keys + salt);
    phase 2 merges partials per key (count merges with sum)."""
    merge_fn = {"sum": "sum", "count": "sum", "min": "min", "max": "max"}
    salted = with_salt(df, salts)
    phase1 = salted.groupBy(*keys, "_salt").agg(
        *[
            getattr(F, fn)(src).alias(out)
            for out, (src, fn) in aggs.items()
        ]
    )
    return phase1.groupBy(*keys).agg(
        *[
            getattr(F, merge_fn[fn])(out).alias(out)
            for out, (_src, fn) in aggs.items()
        ]
    )


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: Sequence[str],
    salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-safe equi-join: big side salted, small side exploded across
    all salt values, join on keys + salt. Result identical to
    big.join(small, on, how)."""
    big_s = with_salt(big, salts)
    small_s = small.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salts - 1)))
    )
    out = big_s.join(small_s, [*on, "_salt"], how)
    return out.drop("_salt")
