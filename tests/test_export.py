"""Export sink semantics: idempotent insert-missing (S9), immutable
update-join (S10), and the true keyed MERGE sync."""

from __future__ import annotations

from pyspark.sql import functions as F

from apl_commissions_etl_spark.operators.export import (
    merge_upsert,
    update_join,
    upsert_missing,
)


def test_upsert_missing_is_idempotent(spark):
    prod = spark.createDataFrame([(1, "a"), (2, "b")], "Id int, V string")
    new = spark.createDataFrame([(2, "b2"), (3, "c")], "Id int, V string")
    missing = upsert_missing(new, prod, ["Id"])
    assert [(r.Id, r.V) for r in missing.collect()] == [(3, "c")]
    # re-running against prod+appended yields nothing (idempotent)
    merged = prod.unionByName(missing)
    assert upsert_missing(new, merged, ["Id"]).count() == 0


def test_update_join_recomputes_matched_rows_only(spark):
    target = spark.createDataFrame(
        [(1, "x", 0.0), (2, "y", 0.0), (3, "z", 0.0)], "Id int, N string, Amt double"
    )
    updates = spark.createDataFrame([(1, 10.0), (3, 30.0)], "Id int, NewAmt double")
    out = update_join(
        target, updates, ["Id"],
        {"Amt": F.coalesce(F.col("NewAmt"), F.col("Amt"))},
    )
    assert out.columns == ["Id", "N", "Amt"]
    got = {r.Id: r.Amt for r in out.collect()}
    assert got == {1: 10.0, 2: 0.0, 3: 30.0}


def test_merge_upsert_updates_inserts_and_preserves(spark):
    prod = spark.createDataFrame(
        [(1, "g1", "old"), (2, "g2", "old")], "Id int, G string, Note string"
    )
    src = spark.createDataFrame(
        [(2, "g2-new", "new"), (3, "g3", "new")], "Id int, G string, Note string"
    )
    out = merge_upsert(prod, src, ["Id"], update_cols=["Note"])
    assert out.columns == ["Id", "G", "Note"]
    got = {r.Id: (r.G, r.Note) for r in out.collect()}
    assert got == {
        1: ("g1", "old"),      # unmatched target persists
        2: ("g2", "new"),      # matched: Note updated, G (not in update_cols) kept
        3: ("g3", "new"),      # unmatched source inserts
    }
    # idempotent: merging the same source again changes nothing
    again = merge_upsert(out, src, ["Id"], update_cols=["Note"])
    assert {r.Id: (r.G, r.Note) for r in again.collect()} == got


def test_merge_upsert_defaults_to_all_shared_columns(spark):
    prod = spark.createDataFrame([(1, "a", 1.0)], "Id int, V string, X double")
    src = spark.createDataFrame([(1, "b")], "Id int, V string")
    out = merge_upsert(prod, src, ["Id"])
    row = out.collect()[0]
    assert (row.V, row.X) == ("b", 1.0)  # V updated; X untouched (not in source)


def test_overwrite_partitions_touches_only_present_parts(spark, tmp_path):
    from apl_commissions_etl_spark.operators.export import overwrite_partitions

    path = str(tmp_path / "parted")
    base = spark.createDataFrame(
        [(1, "a", "p1"), (2, "b", "p1"), (3, "c", "p2"), (4, "d", "p3")],
        "id int, v string, part string",
    )
    overwrite_partitions(base, path, "part")
    # re-run only p1 with changed rows; p2/p3 must survive untouched
    delta = spark.createDataFrame(
        [(1, "a2", "p1")], "id int, v string, part string"
    )
    overwrite_partitions(delta, path, "part")
    got = {
        (r.id, r.v, r.part) for r in spark.read.parquet(path).collect()
    }
    assert got == {(1, "a2", "p1"), (3, "c", "p2"), (4, "d", "p3")}
