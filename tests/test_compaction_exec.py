"""Compaction EXECUTION against a versioned sink
(sinks.compact_current_version): one file per bin-packed group,
content parity, snapshot semantics (replaced version stays
time-travelable until vacuumed), and the optimistic-rewrite
conflict."""

from __future__ import annotations

import glob
import os

import pytest

from apl_commissions_etl_spark.streaming.cdc import table_fingerprint
from apl_commissions_etl_spark.streaming.sinks import (
    compact_current_version,
    current_table,
    idempotent_merge_sink,
    table_as_of,
    vacuum_versions,
)


def _seed(spark, target, n_rows=60, n_files=12):
    """A current version with many small files (a high-parallelism
    producer's layout): AQE coalescing off for the seed write."""
    conf = spark.conf
    old_parts = conf.get("spark.sql.shuffle.partitions")
    old_co = conf.get("spark.sql.adaptive.coalescePartitions.enabled",
                      "true")
    try:
        conf.set("spark.sql.shuffle.partitions", str(n_files))
        conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
        sink = idempotent_merge_sink(target, ["k"])
        sink(
            spark.createDataFrame(
                [(i, i * 10) for i in range(n_rows)], "k int, v int"
            ),
            0,
        )
    finally:
        conf.set("spark.sql.shuffle.partitions", old_parts)
        conf.set("spark.sql.adaptive.coalescePartitions.enabled", old_co)


def test_compaction_one_file_per_group_and_parity(spark, tmp_path):
    target = str(tmp_path / "t")
    _seed(spark, target)
    files = glob.glob(f"{target}/v000001/*.parquet")
    assert len(files) > 4
    total = sum(map(os.path.getsize, files))
    before = table_fingerprint(current_table(spark, target), ["k", "v"])

    result = compact_current_version(
        spark, target, target_bytes=max(1, total // 3)
    )
    assert result["files_after"] == result["groups"] < result["files_before"]
    assert (
        len(glob.glob(f"{target}/v000002/*.parquet"))
        == result["files_after"]
    )
    assert table_fingerprint(
        current_table(spark, target), ["k", "v"]
    ) == before
    # the replaced version is a retained snapshot until vacuumed
    assert table_fingerprint(
        table_as_of(spark, target, version=1), ["k", "v"]
    ) == before
    assert vacuum_versions(target, keep_last=1) == 1
    assert not os.path.exists(f"{target}/v000001")
    assert table_fingerprint(
        current_table(spark, target), ["k", "v"]
    ) == before


def test_compaction_abandons_on_concurrent_commit(spark, tmp_path):
    target = str(tmp_path / "t")
    _seed(spark, target)
    sink = idempotent_merge_sink(target, ["k"])
    before = table_fingerprint(current_table(spark, target), ["k", "v"])

    def racing_commit():
        sink(spark.createDataFrame([(0, 999)], "k int, v int"), 1)

    with pytest.raises(RuntimeError, match="concurrent commit"):
        compact_current_version(
            spark, target, target_bytes=10_000, before_flip=racing_commit
        )
    # the racer's commit won; the abandoned rewrite left no dir and
    # the table reflects the racer's update
    dirs = sorted(
        d for d in os.listdir(target)
        if d.startswith("v") and os.path.isdir(os.path.join(target, d))
    )
    assert dirs == ["v000001", "v000002"]
    rows = dict(
        (r["k"], r["v"]) for r in current_table(spark, target).collect()
    )
    assert rows[0] == 999
    assert table_fingerprint(
        table_as_of(spark, target, version=1), ["k", "v"]
    ) == before
    assert not os.path.exists(os.path.join(target, "_compacting"))


def test_vacuum_reclaims_crashed_compaction_staging(spark, tmp_path):
    from apl_commissions_etl_spark.streaming.sinks import vacuum_journal

    target = str(tmp_path / "t")
    _seed(spark, target, n_rows=10, n_files=4)
    # a crash between the staging build and the flip leaves staging
    # dirs no state references
    os.makedirs(os.path.join(target, "_compacting"))
    os.makedirs(os.path.join(target, "_compact_g0"))
    assert vacuum_journal(target) == 2
    assert not os.path.exists(os.path.join(target, "_compacting"))
    assert current_table(spark, target).count() == 10


def test_compaction_requires_published_version(spark, tmp_path):
    with pytest.raises(ValueError, match="no published version"):
        compact_current_version(spark, str(tmp_path / "x"), 1000)
