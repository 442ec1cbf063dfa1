"""Loaders for the driver-generated parquet tables.

TPC-H-ish star schema + events/documents (see TESTDATA.md; the
generated set's ``embeddings`` table has no reader and is not loaded).
These are the generic-operator test inputs; the domain pipeline has its
own fixture builders in ``plans/fixtures.py``.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
)

def spread(df: DataFrame, *key_cols: str) -> DataFrame:
    """Scale-adaptive spread for narrow-split scans (guide §2.5 "input
    skew: one huge unsplittable file ... otherwise repartition
    immediately after the read").

    The fixture tables are single-row-group parquet files, so every
    scan arrives as ONE task and the stage fused onto it (filter +
    partial aggregation / explode / window input) runs single-threaded
    — measured 30-40% of several headline queries' steady time at
    sf0.1 on local[32].  On a real cluster the same table arrives in
    thousands of splits and no repartition is wanted: the decision is
    DERIVED FROM THE SCAN, not a constant — when the frame already
    provides at least half the session's parallelism this is a no-op.

    ``key_cols`` must functionally determine no grouping used
    downstream (callers pass a high-cardinality natural key, typically
    the row's unique id) — hash spread is exactly as uniform as
    round-robin for a unique key and skips round-robin's
    sort-before-repartition pass (guide §2.5 on SPARK-23207).  Values
    never change: the engine's aggregates are partition-order
    independent by policy (exact DECIMAL / integer accumulation)."""
    sc = df.sparkSession.sparkContext
    par = sc.defaultParallelism
    try:
        with _TABLE_FRAMES_LOCK:
            key = next(
                (k for k, f in _TABLE_FRAMES.items() if f is df), None
            )
            n = _SPLIT_COUNTS.get(key) if key is not None else None
        if n is None:
            # one full physical-planning pass (~0.06 s of driver work);
            # memoised only for the session-cached table handles
            n = df.rdd.getNumPartitions()
            if key is not None:
                with _TABLE_FRAMES_LOCK:
                    _SPLIT_COUNTS[key] = n
        if n * 2 >= par:
            return df
    except Exception:
        return df  # connect mode: no RDD handle; leave the scan alone
    return df.repartition(par, *key_cols) if key_cols else df.repartition(par)


#: (applicationId, sf_dir, table) -> lazy DataFrame HANDLE.  NOT a data
#: cache: nothing is materialized — building the same scan frame per
#: call costs ~0.12 s of driver work (relation resolution + schema) and
#: every query pays it at build time (r13 profile, guide §5 "the
#: driver should do almost no data work").  Reusing the immutable
#: handle removes that per-call tax; the scan itself still executes in
#: full inside every consuming query.  A process has one live
#: SparkContext, so ``load_table`` drops every other application's
#: entries (here and in _SPLIT_COUNTS) when it adds one: a process that
#: stops and restarts Spark holds no dead session's handles.
_TABLE_FRAMES: dict = {}
_TABLE_FRAMES_LOCK = threading.Lock()

#: _TABLE_FRAMES key -> scan split count of that handle.  spread()'s
#: split probe (df.rdd.getNumPartitions()) costs a full physical
#: planning pass (~0.06 s) per call otherwise.  Keyed like
#: _TABLE_FRAMES, not by id(frame): a freed frame's id can be reused
#: by an unrelated frame, which would then be served a stale count.
_SPLIT_COUNTS: dict[tuple[str, str, str], int] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table (one lazy frame handle per session).

    ``events.parquet`` stores ``ts`` as parquet TIMESTAMP(NANOS), which
    Spark's vectorized reader rejects. We read it with
    ``spark.sql.legacy.parquet.nanosAsLong`` (session-level, set here)
    and convert to a microsecond TimestampType column, truncating like
    DuckDB/Arrow do, so both engines see identical values.
    """
    try:
        key = (spark.sparkContext.applicationId, sf_dir, name)
    except Exception:
        key = None  # connect mode: no cheap session identity; rebuild
    if key is not None:
        with _TABLE_FRAMES_LOCK:
            hit = _TABLE_FRAMES.get(key)
        if hit is not None:
            return hit
    df = _read_table(spark, sf_dir, name)
    if key is not None:
        with _TABLE_FRAMES_LOCK:
            for m in (_TABLE_FRAMES, _SPLIT_COUNTS):
                for k in [k for k in m if k[0] != key[0]]:
                    del m[k]
            df = _TABLE_FRAMES.setdefault(key, df)
    return df


def _read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        from pyspark.sql import functions as F

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        if dict(df.dtypes).get("ts") == "bigint":
            # integer div: float division loses precision at 1e18 nanos
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return df
    return spark.read.parquet(path)


#: (applicationId, view-family) -> sf_dir already registered.  Replacing
#: a temp view (CREATE OR REPLACE / createOrReplaceTempView) makes Spark
#: uncache every cached plan that depends on it — so re-registering the
#: same fixture views before every query silently dropped the
#: session-scoped criteria/cascade caches and re-ran whole cascades
#: (measured: builder_mode_key_mappings 24s in a 120-query session vs
#: 2s isolated).  Views are static per (session, sf_dir): register once.
_VIEW_REGISTRY: dict[tuple[str, str], str] = {}
_VIEW_REGISTRY_LOCK = threading.Lock()


def needs_registration(spark: SparkSession, family: str, sf_dir: str) -> bool:
    """True exactly once per (session, family, sf_dir); switching sf_dir
    re-registers (and correctly invalidates stale caches).  The
    get+set is atomic so two concurrent callers can't both claim
    the registration slot.

    NOTE claim-then-register is NOT safe under concurrency on its own:
    a second chain told "already registered" could race ahead of the
    claimer's in-flight CREATE VIEW.  Concurrent callers must go through ``registered_once``, which blocks waiters
    until the claimer's registration body has COMPLETED."""
    key = (spark.sparkContext.applicationId, family)
    with _VIEW_REGISTRY_LOCK:
        if _VIEW_REGISTRY.get(key) == sf_dir:
            return False
        _VIEW_REGISTRY[key] = sf_dir
        return True


#: (applicationId, family) -> (sf_dir, Event): the Event is set once
#: that family's registration body for THAT sf_dir has finished (not
#: merely been claimed). Keyed per family — not per (family, sf_dir) —
#: so flipping a multi-SF session back to an earlier sf re-registers
#: (the views point at the LATEST sf; a stale completed event must not
#: short-circuit the re-registration).
_REGISTERED_EVENTS: dict[tuple[str, str], tuple[str, threading.Event]] = {}


def registered_once(
    spark: SparkSession, family: str, sf_dir: str, register
) -> None:
    """Run ``register()`` exactly once per (session, family, sf_dir),
    BLOCKING concurrent callers until it has completed — the safe form
    of the needs_registration claim for threads that register their
    own view families concurrently (the fixture modules call it for
    every family).
    A failed registration releases the claim so a later call retries;
    a call with a NEW sf_dir re-registers (same invalidation contract
    as ``needs_registration``)."""
    key = (spark.sparkContext.applicationId, family)
    while True:
        with _VIEW_REGISTRY_LOCK:
            entry = _REGISTERED_EVENTS.get(key)
            if entry is not None and entry[0] != sf_dir:
                if not entry[1].is_set():
                    # another sf's registration is IN FLIGHT: wait for
                    # it below, then contend for our own sf
                    entry = (entry[0], entry[1])
                    claimed = False
                    ev = entry[1]
                    stale = True
                else:
                    entry = None  # completed for another sf: supersede
                    stale = False
            else:
                stale = False
            if entry is None:
                claimed = True
                ev = threading.Event()
                _REGISTERED_EVENTS[key] = (sf_dir, ev)
            elif not stale:
                claimed = False
                ev = entry[1]
        if not claimed:
            ev.wait()
            if stale:
                continue  # other-sf registration done; claim ours now
            with _VIEW_REGISTRY_LOCK:
                cur = _REGISTERED_EVENTS.get(key)
                if cur is not None and cur[1] is ev:
                    return  # claimer succeeded for our sf
            continue  # claimer failed (or sf moved on); retry
        try:
            if needs_registration(spark, family, sf_dir):
                register()
        except BaseException:
            with _VIEW_REGISTRY_LOCK:
                cur = _REGISTERED_EVENTS.get(key)
                if cur is not None and cur[1] is ev:
                    _REGISTERED_EVENTS.pop(key, None)
                # release the needs_registration claim too
                _VIEW_REGISTRY.pop(
                    (spark.sparkContext.applicationId, family), None
                )
            ev.set()  # wake waiters; they will retry the claim
            raise
        ev.set()
        return


def register_base_tables(
    spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TABLES
) -> None:
    """Register parquet base tables as temp views, each at most once per
    (session, sf_dir) — several fixture families share these names, and
    a redundant replace would uncache everything built on them."""
    for t in tables:
        registered_once(
            spark, f"base:{t}", sf_dir,
            lambda t=t: load_table(spark, sf_dir, t).createOrReplaceTempView(t),
        )
