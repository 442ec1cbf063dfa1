"""caching.locked_get: the per-key locked memoization every session
cache accessor routes through (threads of one session may reach
one accessor at once, so double-build races must be structurally
impossible), plus the table-handle and split-count memos of
sources.testdata."""

from __future__ import annotations

import threading
import time
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql import functions as F

from apl_commissions_etl_spark.caching import locked_get
from apl_commissions_etl_spark.sources import testdata


def test_single_build_under_contention():
    cache: dict = {}
    calls = []
    barrier = threading.Barrier(8)

    def build():
        calls.append(1)
        time.sleep(0.05)  # widen the race window
        return "value"

    def hit():
        barrier.wait()
        return locked_get(cache, ("app", "sf"), build)

    with ThreadPoolExecutor(max_workers=8) as pool:
        results = list(pool.map(lambda _: hit(), range(8)))
    assert results == ["value"] * 8
    assert len(calls) == 1, "builder must run exactly once per key"


def test_distinct_keys_build_concurrently():
    cache: dict = {}
    in_flight = []
    peak = []
    guard = threading.Lock()
    barrier = threading.Barrier(4)

    def build(k):
        with guard:
            in_flight.append(k)
            peak.append(len(in_flight))
        time.sleep(0.05)
        with guard:
            in_flight.remove(k)
        return k

    def hit(k):
        barrier.wait()
        return locked_get(cache, k, lambda: build(k))

    with ThreadPoolExecutor(max_workers=4) as pool:
        results = list(pool.map(hit, range(4)))
    assert sorted(results) == [0, 1, 2, 3]
    # different keys must not serialize behind one another
    assert max(peak) >= 2


def test_hit_path_returns_cached_value():
    cache = {("k",): 42}
    assert locked_get(cache, ("k",), lambda: 0) == 42


def test_failed_build_not_cached():
    cache: dict = {}
    attempts = []

    def failing():
        attempts.append(1)
        raise RuntimeError("boom")

    for _ in range(2):
        try:
            locked_get(cache, "k", failing)
        except RuntimeError:
            pass
    assert len(attempts) == 2 and "k" not in cache
    # a later successful build fills the slot
    assert locked_get(cache, "k", lambda: "ok") == "ok"


def test_session_cache_data_plane_is_pure():
    """SessionCache keeps its lock table OFF the data plane (r6
    ADVICE: the sentinel-key design leaked a non-value entry into any
    iteration/len/serialization of the cache)."""
    import json

    from apl_commissions_etl_spark.caching import SessionCache

    cache = SessionCache()
    assert locked_get(cache, "a", lambda: 1) == 1
    assert locked_get(cache, "b", lambda: 2) == 2
    assert locked_get(cache, "a", lambda: 99) == 1  # hit path
    # iterate / len / serialize see ONLY real entries
    assert sorted(cache) == ["a", "b"]
    assert len(cache) == 2
    assert dict(cache.items()) == {"a": 1, "b": 2}
    assert json.loads(json.dumps(cache)) == {"a": 1, "b": 2}
    cache.clear()
    assert locked_get(cache, "a", lambda: 7) == 7  # locks survive clear


def test_plain_dict_fallback_still_works():
    cache = {}
    assert locked_get(cache, "k", lambda: 5) == 5
    assert locked_get(cache, "k", lambda: 9) == 5


def test_session_ckpt_storage_level_adapts_to_heap():
    """session_ckpt picks serialized blocks under small heaps (the 1g
    gate session) and deserialized under big ones (48g bench/test
    sessions) — pinned with a stub so the policy can't silently
    regress."""
    from pyspark.storagelevel import StorageLevel

    from apl_commissions_etl_spark.caching import session_ckpt

    captured = {}

    class FakeRuntime:
        def __init__(self, heap):
            self._heap = heap

        def maxMemory(self):
            return self._heap

    class FakeDF:
        def __init__(self, heap):
            rt = FakeRuntime(heap)

            class R:
                @staticmethod
                def getRuntime():
                    return rt

            class Lang:
                Runtime = R

            class Java:
                lang = Lang

            class JVM:
                java = Java

            class SC:
                _jvm = JVM()

            class Session:
                sparkContext = SC()

            self.sparkSession = Session()

        def localCheckpoint(self, eager=True, storageLevel=None):
            captured["level"] = storageLevel
            return self

    session_ckpt(FakeDF(1 << 30))  # 1 GiB: the gate's bare default
    assert captured["level"] == StorageLevel.MEMORY_AND_DISK  # serialized

    session_ckpt(FakeDF(48 << 30))  # the 48g service session
    assert captured["level"] == StorageLevel.MEMORY_AND_DISK_DESER


def test_session_cache_reports_partitioning_and_survives_clearcache(
    spark,
):
    """The keyed session_cache contract (r12): the checkpoint's
    LogicalRDD REPORTS hashpartitioning(key), so a consumer grouping
    on the key (or a superset) plans with no consumer-side Exchange —
    and, unlike a CacheManager-backed persist, the layout survives
    ``spark.catalog.clearCache()`` untouched (checkpoint blocks are
    RDD storage, not cache entries)."""
    import pytest

    from apl_commissions_etl_spark.caching import _big_heap, session_cache

    if not _big_heap(spark.range(1)):
        pytest.skip(
            "keyed session_cache layout requires a >=8GiB driver heap "
            "(small-heap sessions deliberately fall back to the plain "
            "checkpoint — run with SPARK_DRIVER_MEM>=8g)"
        )

    df = session_cache(
        spark.range(100).withColumn("k", (F.col("id") % 7)), ("k",)
    )

    def consumer_exchanges() -> int:
        return (
            df.groupBy("k", (F.col("k") * 2).alias("k2"))
            .count()
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
            .count("Exchange")
        )

    assert consumer_exchanges() == 0
    spark.catalog.clearCache()
    assert consumer_exchanges() == 0  # immune to cache eviction


def test_reattach_restores_evicted_cache_entries(spark):
    """clearCache() evicts CacheManager entries while the module
    SessionCaches keep handing out the same DataFrame handles; without
    re-attachment every consumer replans against full lineage (r12:
    the staging dims are ``.cache()``d through track_persisted).
    reattach() must restore the entry for every tracked frame."""
    from pyspark.storagelevel import StorageLevel

    from apl_commissions_etl_spark.caching import (
        reattach,
        track_persisted,
    )

    df = track_persisted(
        spark.range(100).withColumn("k", (F.col("id") % 7)).cache()
    )
    df.count()
    assert df.storageLevel != StorageLevel.NONE

    spark.catalog.clearCache()
    assert df.storageLevel == StorageLevel.NONE

    n = reattach()
    assert n >= 1
    assert df.storageLevel != StorageLevel.NONE
    plan_restored = (
        df.groupBy("k").count()._jdf.queryExecution().executedPlan().toString()
    )
    assert "InMemoryTableScan" in plan_restored
    df.unpersist()
    caching_mod = __import__(
        "apl_commissions_etl_spark.caching", fromlist=["_TRACKED"]
    )
    caching_mod._TRACKED.remove(df)  # keep the scratch frame out of later reattaches


def test_split_count_served_only_for_the_frame_it_was_measured_on(
    spark, sf_dir
):
    """sources.testdata memoises spread()'s split probe per cached table
    handle. The memo is keyed like the handle cache, so a count can never
    be served to a different frame, e.g. one that reuses a freed frame's
    id()."""
    par = spark.sparkContext.defaultParallelism
    t = testdata.load_table(spark, sf_dir, "nation")
    if t.rdd.getNumPartitions() * 2 >= par:
        pytest.skip("needs a scan narrower than half the parallelism")
    key = (spark.sparkContext.applicationId, sf_dir, "nation")
    assert testdata._TABLE_FRAMES[key] is t

    testdata.spread(t)
    assert testdata._SPLIT_COUNTS[key] == t.rdd.getNumPartitions()

    other = t.select("*")
    try:
        # a planted "already parallel" count is served to its own handle
        testdata._SPLIT_COUNTS[key] = par
        assert testdata.spread(t) is t
        # an entry under another frame's id() (what a reused id left
        # behind in an id-keyed memo) is never served: the uncached
        # frame is probed and spread
        testdata._SPLIT_COUNTS[id(other)] = par
        assert testdata.spread(other) is not other
    finally:
        testdata._SPLIT_COUNTS.pop(id(other), None)
        testdata._SPLIT_COUNTS.pop(key, None)


def test_load_table_drops_entries_of_other_applications(spark, sf_dir):
    """A process has one live SparkContext: when load_table adds a
    handle it drops every entry that another (stopped) application left
    in the handle and split-count maps, and keeps the current ones."""
    app = spark.sparkContext.applicationId
    nation = testdata.load_table(spark, sf_dir, "nation")
    testdata.spread(nation)  # memoises nation's split count
    added = (app, sf_dir, "region")
    stale = ("app-stopped-0000", sf_dir, "nation")
    with testdata._TABLE_FRAMES_LOCK:
        testdata._TABLE_FRAMES.pop(added, None)
        testdata._SPLIT_COUNTS.pop(added, None)
        current_frames = set(testdata._TABLE_FRAMES)
        current_counts = set(testdata._SPLIT_COUNTS)
        testdata._TABLE_FRAMES[stale] = nation
        testdata._SPLIT_COUNTS[stale] = 1
    assert (app, sf_dir, "nation") in current_counts

    region = testdata.load_table(spark, sf_dir, "region")

    assert stale not in testdata._TABLE_FRAMES
    assert stale not in testdata._SPLIT_COUNTS
    assert current_frames <= set(testdata._TABLE_FRAMES)
    assert current_counts <= set(testdata._SPLIT_COUNTS)
    assert testdata._TABLE_FRAMES[added] is region
