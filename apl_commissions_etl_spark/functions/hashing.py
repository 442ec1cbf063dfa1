"""Canonical serialization + deterministic keys (SURVEY.md §2.8, §4).

Two scale-critical conventions replace reference mechanisms:

1. **Canonical KV JSON** -- the reference hashes ConfigJson built by
   ``FOR JSON PATH`` / ``JSON.stringify`` (byte-identical only within
   one serializer, ref scripts/proposal-builder.ts:684-714). Here the
   canonical form is built explicitly -- sorted keys, no whitespace,
   fixed formatting -- so ``sha2`` hashes are stable across partitions,
   sessions, and engines (DuckDB can reproduce it with string concat).

2. **Deterministic ids** -- the reference mints ids with global
   ``ROW_NUMBER()`` and fixed offsets (ref
   sql/transforms/10-premium-transactions.sql:64-73), a single-partition
   bottleneck at scale. Every engine id is ``sha2`` of the natural key
   (or a readable composite like the reference's own
   ``H-{prop}-{broker}-{n}``, scripts/proposal-builder.ts:1890-1894).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def canonical_kv_json(pairs: dict[str, Column | str]) -> Column:
    """Build ``{"k1":"v1","k2":"v2"}`` with keys sorted and values
    stringified; NULL values serialize as ``null`` (unquoted), matching
    JSON semantics. Pure concat -- whole-stage codegen, reproducible in
    any SQL engine."""
    parts: list[Column] = [F.lit("{")]
    for i, key in enumerate(sorted(pairs)):
        if i:
            parts.append(F.lit(","))
        v = _c(pairs[key]).cast("string")
        parts.append(F.lit(f'"{key}":'))
        parts.append(
            F.when(v.isNull(), F.lit("null")).otherwise(
                F.concat(F.lit('"'), v, F.lit('"'))
            )
        )
    parts.append(F.lit("}"))
    return F.concat(*parts)


def config_hash(pairs: dict[str, Column | str]) -> Column:
    """SHA-256 (upper-hex, like the reference's HASHBYTES output at
    sql/transforms/06a-proposals-simple-groups.sql:144) of the
    canonical KV JSON."""
    return F.upper(F.sha2(canonical_kv_json(pairs), 256))


def deterministic_id(prefix: str, *key_cols: Column | str) -> Column:
    """Readable deterministic id: ``{prefix}-{k1}-{k2}``. Collision-free
    as long as the natural key is unique; no global ordering, no
    shuffle."""
    cols = [F.lit(prefix)] + [_c(c).cast("string") for c in key_cols]
    return F.concat_ws("-", *cols)
