"""Export-layer sink semantics (SURVEY.md §2.1 S9/S10/S11).

The reference's export scripts are idempotent INSERT-missing-rows
(``WHERE Id NOT IN (SELECT Id FROM prod)``, ref
sql/export/05-export-groups.sql:11-38, 07-export-proposals.sql:57)
and in-place UPDATE-joins (``UPDATE t SET ... FROM t JOIN ...``, ref
sql/transforms/09-policies.sql:128-137). Spark-first equivalents on
immutable storage:

    - upsert_missing: left_anti then append (or Delta MERGE where a
      transactional table format is available — the anti-join is the
      format-agnostic core)
    - update_join: recompute the column via join + select — the
      immutable rewrite of UPDATE...FROM

Scale posture: the anti-join's build side is the EXISTING KEY SET
only (select the key column before joining), so the shuffle carries
keys, not rows; with a broadcastable key set Catalyst picks a
broadcast anti-join and the new-rows scan never shuffles.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def upsert_missing(
    new_rows: DataFrame, existing: DataFrame, keys: Sequence[str]
) -> DataFrame:
    """Rows of ``new_rows`` whose key is absent from ``existing`` —
    append these to the production table for the reference's
    idempotent export (S9). Key-project before the anti-join so only
    keys shuffle/broadcast."""
    existing_keys = existing.select(*keys).distinct()
    return new_rows.join(existing_keys, on=list(keys), how="left_anti")


def merge_upsert(
    target: DataFrame,
    source: DataFrame,
    keys: Sequence[str],
    update_cols: Sequence[str] | None = None,
) -> DataFrame:
    """True keyed MERGE (S10 full form, ref
    sql/export/07-export-proposals.sql:57 insert-missing +
    sql/transforms/09-policies.sql:128-137 update-matched): matched
    target rows take the source's values for ``update_cols`` (default:
    every shared non-key column), unmatched source rows insert,
    unmatched target rows persist untouched. Returns the post-merge
    table (the immutable rewrite of Delta/Iceberg MERGE INTO).

    Scale shape: NOT a full-outer shuffle of the target. The update
    arm LEFT-joins the (typically incremental, group-scale) source
    onto the target and the insert arm anti-joins source against the
    target's key projection — when the source fits the broadcast
    threshold both arms broadcast and the 100-TB target never
    shuffles; at co-scale AQE falls back to one co-partitioned
    key shuffle, the same physical plan a transactional MERGE runs.
    """
    keys = list(keys)
    shared = [c for c in target.columns if c in source.columns and c not in keys]
    upd = list(update_cols) if update_cols is not None else shared
    marked = source.select(
        *keys,
        *[F.col(c).alias(f"__s_{c}") for c in upd],
        F.lit(1).alias("__matched"),
    )
    updated = target.join(marked, keys, "left").select(
        *[
            (
                F.when(F.col("__matched") == 1, F.col(f"__s_{c}"))
                .otherwise(F.col(c))
                .alias(c)
                if c in upd
                else F.col(c)
            )
            for c in target.columns
        ]
    )
    inserts = upsert_missing(source, target, keys).select(
        *[
            F.col(c) if c in source.columns else F.lit(None).alias(c)
            for c in target.columns
        ]
    )
    return updated.unionByName(inserts)


def update_join(
    target: DataFrame,
    updates: DataFrame,
    keys: Sequence[str],
    set_cols: dict[str, Column],
) -> DataFrame:
    """Immutable UPDATE-join (S10): left-join the update source and
    recompute each target column; unmatched rows keep their value.

    ``set_cols`` maps target column name -> expression over the joined
    frame (reference the update side's columns directly)."""
    joined = target.join(updates, on=list(keys), how="left")
    out_cols: list[Column] = [
        set_cols[c].alias(c) if c in set_cols else target[c].alias(c)
        for c in target.columns
    ]
    return joined.select(*out_cols)


def blob_stage(
    df: DataFrame,
    path: str,
    key_col: str,
    n_buckets: int = 8,
) -> DataFrame:
    """S6 blob-staging sink: write the frame to object storage bucketed
    by a deterministic key hash, then read it back and emit the load
    MANIFEST (per-bucket row count + content digest) the bulk loader
    consumes — the reference stages CSVs in Azure Blob and issues one
    server-side BULK INSERT per staged file (proposal-builder.ts:
    415-423, 2166-2199).

    The bucket is ``key % n_buckets`` (explicit and engine-checkable,
    not the opaque shuffle partitioner), so the manifest is a pure
    function of the data: the staging round-trip is verified by the
    same SQL oracle that never saw the filesystem. At scale ``path`` is
    an object-store URI and each bucket is one loader unit; locally it
    is a directory of parquet parts."""
    staged = df.withColumn(
        "_bucket", F.pmod(F.col(key_col), F.lit(n_buckets)).cast("int")
    )
    staged.write.partitionBy("_bucket").mode("overwrite").parquet(path)
    back = df.sparkSession.read.parquet(path)
    return (
        back.groupBy(F.col("_bucket").cast("int").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.col(key_col))),
                        lambda k: k.cast("string"),
                    ),
                    ",",
                )
            ).alias("keys_digest"),
        )
    )


def overwrite_partitions(df: DataFrame, path: str, part_col: str) -> None:
    """S11's modern form: dynamic partition overwrite — rewrite ONLY
    the partitions present in ``df``, leaving every other partition of
    the target untouched (the incremental twin of truncate-and-reload,
    ref sql/transforms' DELETE-then-INSERT blocks).

    ``partitionOverwriteMode=dynamic`` is set per-write so the engine
    session's static default (which would truncate the whole table) is
    never relied on. At 100 TB this is the only sane reload unit: a
    day's re-run replaces a day's partitions, not the table."""
    (
        df.write.option("partitionOverwriteMode", "dynamic")
        .partitionBy(part_col)
        .mode("overwrite")
        .parquet(path)
    )
