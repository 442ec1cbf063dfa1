"""Exactly-once streaming sinks for foreachBatch.

``idempotent_merge_sink`` is the production recipe for maintaining a
keyed table from a streaming update feed with exactly-once semantics
on top of at-least-once batch delivery:

1. **Replay guard** — foreachBatch re-delivers a batch after a crash
   between sink completion and checkpoint commit; the sink records
   committed batch ids and skips replays (the Structured Streaming
   documentation's own recipe for end-to-end exactly-once).
2. **Keyed MERGE** — each micro-batch upserts into the target via
   ``operators.export.merge_upsert`` (update-matched, insert-missing,
   keep-untouched), the same operator the batch export path uses.
3. **Atomic publish** — the post-merge table is written to a fresh
   versioned directory and a pointer file flips to it afterwards, so
   concurrent readers never observe a half-written table (the
   rename-pointer miniature of a table format's transaction log; on a
   real deployment this layer IS Delta/Iceberg ``MERGE INTO``).

At 100 TB the merge inherits merge_upsert's scale shape: a group-scale
micro-batch broadcasts against the keyed target, so the target never
shuffles; versioned rewrite becomes the table format's copy-on-write.
"""

from __future__ import annotations

import json
import os
import threading

from pyspark.sql import DataFrame, SparkSession

from ..operators.export import merge_upsert

#: Per-target-dir locks serializing every load-mutate-store window on
#: ``_sink_state.json`` (sink commits AND compaction) within this
#: process.  foreachBatch callbacks and ``compact_journal`` all run on
#: the driver, so this is the real writer set; ACROSS processes the
#: state file has a single-writer requirement (one driver owns a sink
#: directory — the same contract a table format's transaction log
#: enforces with its catalog).  ``compact_journal`` additionally
#: re-loads and MERGES at its swap point, so even a cross-process
#: racer loses no committed batch id.
_STATE_LOCKS: dict[str, threading.Lock] = {}
_STATE_LOCKS_GUARD = threading.Lock()


def _state_lock(target_dir: str) -> threading.Lock:
    with _STATE_LOCKS_GUARD:
        return _STATE_LOCKS.setdefault(
            os.path.abspath(target_dir), threading.Lock()
        )


def _state_path(target_dir: str) -> str:
    return os.path.join(target_dir, "_sink_state.json")


def _load_state(target_dir: str) -> dict:
    p = _state_path(target_dir)
    if os.path.exists(p):
        with open(p) as fh:
            return json.load(fh)
    return {"committed": [], "current": None, "version": 0}


def _store_state(target_dir: str, state: dict) -> None:
    tmp = _state_path(target_dir) + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(state, fh)
    os.replace(tmp, _state_path(target_dir))  # atomic on POSIX


def current_table(spark: SparkSession, target_dir: str) -> DataFrame | None:
    """The latest published version of the sink's table, or None."""
    state = _load_state(target_dir)
    if state["current"] is None:
        return None
    return spark.read.parquet(os.path.join(target_dir, state["current"]))


def idempotent_merge_sink(
    target_dir: str, keys: list[str], metrics=None, emit_changes=False
):
    """Build a foreachBatch function maintaining a keyed table at
    ``target_dir`` with exactly-once upsert semantics (see module
    docstring). Use as::

        q = (updates.writeStream
             .foreachBatch(idempotent_merge_sink(path, ["user_id"]))
             .outputMode("update")
             .option("checkpointLocation", ckpt)
             .start())

    ``metrics``: optional callable ``() -> list[Column]`` of aggregate
    expressions (a fresh list per batch — Column objects are not
    reusable across plans). When given, the expressions ride each
    version write via ``Dataset.observe`` (CollectMetrics — no second
    scan, same mechanism as the batch path's ``audit_observed_gl``)
    and the per-batch results are recorded in the sink state next to
    the committed batch id: the metrics log IS part of the
    exactly-once contract, so a replayed batch never double-logs.

    ``emit_changes``: when True, each commit ALSO writes a
    Delta-CDF-shaped changelog (insert / update_pre / update_post
    rows tagged with the commit version, derived from the merge's own
    arms — see ``cdc.merge_changes``) to ``_changes/x<version>`` and
    names it in the history entry; ``cdc.read_changes`` is the read
    path. The changelog write sits inside the same crash window as
    the data write (before the state flip), so the replay guard and
    vacuum cover it identically."""
    os.makedirs(target_dir, exist_ok=True)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        from .cdc import merge_changes

        with _state_lock(target_dir):
            state = _load_state(target_dir)
            if batch_id in state["committed"]:
                return  # replayed batch: already merged, skip
            spark = batch_df.sparkSession
            target = current_table(spark, target_dir)
            if target is None:
                merged = batch_df.dropDuplicates(keys)
                changes = merge_changes(
                    None, merged, keys, state["version"] + 1
                ) if emit_changes else None
            else:
                merged = merge_upsert(target, batch_df, keys)
                changes = merge_changes(
                    target, batch_df, keys, state["version"] + 1
                ) if emit_changes else None
            obs = None
            if metrics is not None:
                from pyspark.sql import Observation

                obs = Observation()
                merged = merged.observe(obs, *metrics())
            version_dir = f"v{state['version'] + 1:06d}"
            merged.write.mode("overwrite").parquet(
                os.path.join(target_dir, version_dir)
            )
            change_dir = None
            if changes is not None:
                change_dir = os.path.join(
                    "_changes", f"x{state['version'] + 1:06d}"
                )
                changes.write.mode("overwrite").parquet(
                    os.path.join(target_dir, change_dir)
                )
            state["version"] += 1
            state["current"] = version_dir
            state["committed"].append(batch_id)
            entry = {"version": state["version"], "dir": version_dir,
                     "batch_id": batch_id}
            if change_dir is not None:
                entry["changes"] = change_dir
            state.setdefault("history", []).append(entry)
            if obs is not None:
                state.setdefault("metrics", {})[str(batch_id)] = {
                    k: (v.item() if hasattr(v, "item") else v)
                    for k, v in obs.get.items()
                }
            _store_state(target_dir, state)

    return sink


def table_as_of(
    spark: SparkSession,
    target_dir: str,
    version: int | None = None,
    batch: int | None = None,
) -> DataFrame:
    """TIME-TRAVEL read of a versioned sink's table: the state AS OF a
    published ``version`` (1-based) or AS OF the commit of ``batch``
    (the batch_id a merge/replace sink committed). Exactly one of the
    two must be given.

    Both sinks publish every micro-batch as a fresh immutable
    directory and log it in the state's ``history``, so read-as-of
    batch N is definitionally the fold of the first N batches — the
    replayable-log contract the CDC query asserts on the read side,
    proven end-to-end by ``sink_time_travel_parity``. Versions retired
    by ``vacuum_versions`` raise KeyError with the retention boundary.

    At 100 TB this is the table format's VERSION AS OF / TIMESTAMP AS
    OF: the history is metadata, the read scans one snapshot's files.
    """
    if (version is None) == (batch is None):
        raise ValueError("give exactly one of version= or batch=")
    state = _load_state(target_dir)
    history = state.get("history", [])
    if not history:
        raise KeyError(f"no published versions under {target_dir}")
    if version is not None:
        hits = [h for h in history if h["version"] == version]
        what = f"version {version}"
    else:
        hits = [h for h in history if h["batch_id"] == batch]
        what = f"batch {batch}"
    if not hits:
        # the retained set is NON-contiguous after vacuum_versions with
        # protected pins, so report the actual list, not a lo..hi range
        retained = sorted(h["version"] for h in history)
        raise KeyError(
            f"{what} not readable (retained versions: {retained}; "
            "unpinned older ones were retired by vacuum_versions)"
        )
    return spark.read.parquet(os.path.join(target_dir, hits[-1]["dir"]))


def vacuum_versions(
    target_dir: str,
    keep_last: int,
    protected: set[int] | None = None,
) -> int:
    """Retention pass for the versioned (merge/replace) sinks: retire
    published versions older than the newest ``keep_last``, except any
    version in ``protected`` (e.g. versions a txn manifest or a named
    snapshot still references). The current version is always kept.
    Returns the number of directories removed.

    Complements ``vacuum_journal`` (which reclaims only UNREFERENCED
    directories and keeps every committed version): this one is the
    policy pass that bounds the otherwise-unbounded version history,
    trading time-travel depth for disk — the table format's VACUUM
    with a snapshot-retention window.
    """
    import shutil

    if keep_last < 1:
        raise ValueError("keep_last must be >= 1: the current version stays")
    protected = protected or set()
    removed = 0
    with _state_lock(target_dir):
        state = _load_state(target_dir)
        history = state.get("history", [])
        if not history:
            return 0
        keep_floor = history[-1]["version"] - keep_last + 1
        kept, victims = [], []
        for h in history:
            if h["version"] >= keep_floor or h["version"] in protected \
                    or h["dir"] == state.get("current"):
                kept.append(h)
            else:
                victims.append(h)
        for h in victims:
            shutil.rmtree(
                os.path.join(target_dir, h["dir"]), ignore_errors=True
            )
            if "changes" in h:
                # change-feed retention follows version retention (the
                # table format ties CDF availability to the snapshot
                # retention window)
                shutil.rmtree(
                    os.path.join(target_dir, h["changes"]),
                    ignore_errors=True,
                )
            removed += 1
        state["history"] = kept
        _store_state(target_dir, state)
    return removed


def idempotent_replace_sink(
    target_dir: str, group_keys: list[str], emit_changes=False
):
    """Build a foreachBatch function maintaining a keyed table with
    GROUP-REPLACE semantics and the same exactly-once machinery as
    ``idempotent_merge_sink`` (replay guard, atomic versioned publish).

    Where the merge sink upserts by a UNIQUE key, this sink replaces
    whole key GROUPS: every target row whose ``group_keys`` appear in
    the batch is deleted, then the batch rows insert. That is the
    correct maintenance primitive for outputs with a 1:N grain under
    their natural key — e.g. GL entries per premium transaction, where
    an amendment can SHRINK a premium's entry set (an Assigned entry
    rounding to zero) and an upsert-by-entry-id would leave the stale
    survivors behind. Table formats spell it MERGE INTO ... WHEN NOT
    MATCHED BY SOURCE AND key IN (affected) THEN DELETE, or
    ``replaceWhere`` / dynamic-partition overwrite when the group key
    is the partition key — which is exactly the 100 TB shape: the
    delete arm is an anti-join of the target against a delta-scale
    broadcast key set, so the target never shuffles.

    The returned sink accepts an optional ``affected`` key frame for
    batches whose recomputed rows may be EMPTY for some touched group
    (nothing survives the cascade): the deletion set must then come
    from the input delta's keys, not from the output rows.

    CALLER CONTRACT — one batch per group: each micro-batch must carry
    a touched group's COMPLETE recomputed row set. If a group's rows
    are split across two batches, the second batch's delete arm
    removes the first batch's rows and reinserts only its own —
    silently losing data. Sources must therefore be partitioned (or
    the foreachBatch input repartitioned) by ``group_keys`` before
    reaching this sink, as ``stream_incremental_gl_parity`` does.

    ``emit_changes``: when True each commit also writes the
    group-replace changelog (delete rows for every replaced target
    row, insert rows for the batch — ``cdc.replace_changes``) to
    ``_changes/x<version>``, named in the history entry, inside the
    same crash window as the data write."""
    os.makedirs(target_dir, exist_ok=True)

    def sink(
        batch_df: DataFrame, batch_id: int, affected: DataFrame | None = None
    ) -> None:
        from pyspark.sql import functions as F

        from .cdc import replace_changes

        with _state_lock(target_dir):
            state = _load_state(target_dir)
            if batch_id in state["committed"]:
                return  # replayed batch: already applied, skip
            spark = batch_df.sparkSession
            target = current_table(spark, target_dir)
            keys = (
                affected if affected is not None
                else batch_df.select(*group_keys)
            ).dropDuplicates(group_keys)
            if target is None:
                merged = batch_df
            else:
                merged = target.join(
                    F.broadcast(keys), group_keys, "left_anti"
                ).select(*target.columns).unionByName(
                    batch_df.select(*target.columns)
                )
            changes = replace_changes(
                target, batch_df, group_keys, keys, state["version"] + 1
            ) if emit_changes else None
            version_dir = f"v{state['version'] + 1:06d}"
            merged.write.mode("overwrite").parquet(
                os.path.join(target_dir, version_dir)
            )
            change_dir = None
            if changes is not None:
                change_dir = os.path.join(
                    "_changes", f"x{state['version'] + 1:06d}"
                )
                changes.write.mode("overwrite").parquet(
                    os.path.join(target_dir, change_dir)
                )
            state["version"] += 1
            state["current"] = version_dir
            state["committed"].append(batch_id)
            entry = {"version": state["version"], "dir": version_dir,
                     "batch_id": batch_id}
            if change_dir is not None:
                entry["changes"] = change_dir
            state.setdefault("history", []).append(entry)
            _store_state(target_dir, state)

    return sink


def sink_metrics(target_dir: str) -> dict:
    """Per-batch observed metrics recorded by ``idempotent_merge_sink``
    (batch_id -> {metric: value}); empty if none were requested."""
    return _load_state(target_dir).get("metrics", {})


def idempotent_append_sink(target_dir: str, metrics=None):
    """foreachBatch append sink with the SAME exactly-once contract as
    ``idempotent_merge_sink`` (shared state file, replay guard, atomic
    commit) for journal-style tables where every row is a new fact —
    the GL entry feed, not a keyed dimension.

    Each micro-batch writes its rows to an OWN part directory
    (``b<batch_id>``) and then commits the batch id; a crash between
    the write and the commit leaves an orphan directory that the
    replayed batch simply overwrites — readers only ever see committed
    parts, so the part-dir set IS an append-only commit log (what a
    table format's transaction log does; no version rewrite, unlike
    the merge sink, so a 100 TB journal appends O(batch) not O(table)).

    ``metrics``: optional callable ``() -> list[Column]`` observed on
    the BATCH rows (Dataset.observe rides the part write — no second
    scan). Because each committed batch holds disjoint rows and
    replays are skipped, additive metrics accumulated across the
    recorded log equal a one-shot audit of the whole journal — the
    parity that ``stream_observed_gl_parity`` proves against DuckDB.
    Recorded under the committed batch id exactly once."""
    os.makedirs(target_dir, exist_ok=True)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        with _state_lock(target_dir):
            state = _load_state(target_dir)
            if batch_id in state["committed"]:
                return  # replayed batch: already appended + logged
            to_write = batch_df
            obs = None
            if metrics is not None:
                from pyspark.sql import Observation

                obs = Observation()
                to_write = batch_df.observe(obs, *metrics())
            part_dir = os.path.join(target_dir, f"b{batch_id:06d}")
            to_write.write.mode("overwrite").parquet(part_dir)
            state["committed"].append(batch_id)
            if obs is not None:
                state.setdefault("metrics", {})[str(batch_id)] = {
                    k: (v.item() if hasattr(v, "item") else v)
                    for k, v in obs.get.items()
                }
            _store_state(target_dir, state)

    return sink


def journal_table(spark: SparkSession, target_dir: str) -> DataFrame | None:
    """Union of all COMMITTED parts written by
    ``idempotent_append_sink`` (orphans from crashed batches are
    invisible), or None before the first commit. After a
    ``compact_journal`` run the covered batches read from the single
    compacted directory and only post-compaction batches remain as
    per-batch part dirs."""
    state = _load_state(target_dir)
    if not state["committed"]:
        return None
    comp = state.get("compacted")
    covered = set(comp["covers"]) if comp else set()
    paths = ([os.path.join(target_dir, comp["dir"])] if comp else []) + [
        os.path.join(target_dir, f"b{b:06d}")
        for b in state["committed"]
        if b not in covered
    ]
    return spark.read.parquet(*paths)


def compact_journal(spark: SparkSession, target_dir: str) -> int:
    """Compact the append sink's committed part directories into ONE
    parquet directory — the streaming small-files fix — while keeping
    every exactly-once guarantee intact:

    - committed batch ids STAY in the sink state, so a replayed batch
      from before the compaction is still skipped;
    - the per-batch observed-metrics log is untouched (it describes
      batch DELTAS, which compaction does not change);
    - the swap is one atomic state write: readers see either the old
      part-dir set or the compacted dir, never a mix.

    Old part dirs are removed after the swap; a crash in between
    leaves orphan directories that no committed state references
    (invisible to readers, reclaimable by any later janitor pass). At
    100 TB this is the table format's compaction job: rewrite N small
    files into target-sized ones and commit the new file list.

    Safe to run WHILE the sink's stream is live: the compactor
    snapshots the committed set under the per-target lock, rewrites
    only that snapshot (never a batch that lands mid-rewrite), and at
    the swap point re-loads the latest state and merges — a batch
    committed during the rewrite keeps its id in ``committed`` and its
    part dir stays live because ``covers`` lists only the snapshot.
    Returns the number of part directories folded in."""
    import shutil

    with _state_lock(target_dir):
        state = _load_state(target_dir)  # consistent snapshot
    if not state["committed"]:
        return 0
    comp = state.get("compacted")
    covered = set(comp["covers"]) if comp else set()
    fresh = [b for b in state["committed"] if b not in covered]
    if not fresh and comp:
        return 0  # nothing new since the last compaction
    # Read exactly the snapshot's file set (NOT journal_table, which
    # would re-load state and could pull in a mid-rewrite batch whose
    # part dir must stay live).
    old_dirs = ([comp["dir"]] if comp else []) + [
        f"b{b:06d}" for b in fresh
    ]
    current = spark.read.parquet(
        *[os.path.join(target_dir, d) for d in old_dirs]
    )
    new_dir = f"c{state['version'] + 1:06d}"
    current.write.mode("overwrite").parquet(
        os.path.join(target_dir, new_dir)
    )
    with _state_lock(target_dir):
        # Merge, don't overwrite: batches committed (and metrics
        # logged) during the rewrite live in `latest`, not `state`.
        latest = _load_state(target_dir)
        latest["version"] = max(latest["version"], state["version"]) + 1
        latest["compacted"] = {
            "dir": new_dir,
            "covers": list(state["committed"]),
        }
        _store_state(target_dir, latest)  # atomic swap point
    for d in old_dirs:
        shutil.rmtree(os.path.join(target_dir, d), ignore_errors=True)
    return len(old_dirs)


def compact_current_version(
    spark: SparkSession,
    target_dir: str,
    target_bytes: int,
    before_flip=None,
) -> dict:
    """Compact a versioned sink's current table into fewer files:
    bin-pack the current version's parquet files into
    next-fit-decreasing groups of ``target_bytes`` (files sorted by
    size descending), rewrite each group as ONE file into a fresh version
    directory, and atomically re-publish through the sink state — the
    same flip every sink commit uses, so readers see the old file set
    or the new one, never a mix. The replaced version STAYS in the
    time-travel history; ``vacuum_versions`` reclaims it under the
    normal retention policy (the Delta OPTIMIZE / Iceberg
    rewriteDataFiles shape: compaction is a new snapshot, not an
    in-place mutation).

    Content is IDENTICAL by construction (every input file is read
    into exactly one group and rewritten); callers assert it anyway
    via ``cdc.table_fingerprint`` (tests/test_compaction_exec.py).

    Returns {"files_before", "files_after", "groups", "version"}.
    ``files_after == groups`` always — one output file per plan group.

    Scale shape: the file manifest is metadata (the table format's
    file list — driver-side here, a metadata table at 100 TB); each
    group rewrite reads only its own files (one task per group via
    coalesce(1)); groups are independent work units a production
    rewrite job runs concurrently — the serial loop here keeps the
    group->file mapping deterministic for the parity proof.

    ``before_flip``: test hook invoked just before the publish
    (injects the concurrent-commit race the flip defends against)."""
    import glob

    with _state_lock(target_dir):
        state = _load_state(target_dir)
        if state.get("current") is None:
            raise ValueError(f"no published version under {target_dir}")
        cur_dir = os.path.join(target_dir, state["current"])
    files = sorted(
        (
            (os.path.getsize(p), p)
            for p in glob.glob(os.path.join(cur_dir, "*.parquet"))
        ),
        key=lambda t: (-t[0], t[1]),
    )
    # next-fit-decreasing: group = floor((cumsum - size)/target)
    groups: list[list[str]] = []
    cumsum = 0
    for size, path in files:
        gid = cumsum // target_bytes
        if gid >= len(groups):
            groups.append([])
        groups[gid].append(path)
        cumsum += size
    import shutil

    # build OUTSIDE the version namespace: a concurrent sink commit
    # may claim version+1 while we rewrite, and the staging dir must
    # never collide with (or, on abandon, delete) a committed dir
    staging = os.path.join(target_dir, "_compacting")
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    for gid, member_files in enumerate(groups):
        gtmp = os.path.join(target_dir, f"_compact_g{gid}")
        spark.read.parquet(*member_files).coalesce(1).write.mode(
            "overwrite"
        ).parquet(gtmp)
        part = next(
            f for f in sorted(os.listdir(gtmp)) if f.endswith(".parquet")
        )
        os.replace(
            os.path.join(gtmp, part),
            os.path.join(staging, f"part-g{gid:04d}.parquet"),
        )
        shutil.rmtree(gtmp, ignore_errors=True)
    if before_flip is not None:
        before_flip()
    with _state_lock(target_dir):
        # merge at the flip point: a sink commit during the rewrite
        # would have advanced the version — in that case our rewrite
        # is stale and must be abandoned (the loser of the optimistic
        # race, exactly how a table format's rewrite commit conflicts)
        latest = _load_state(target_dir)
        if latest["version"] != state["version"]:
            shutil.rmtree(staging, ignore_errors=True)
            raise RuntimeError(
                "concurrent commit during compaction; rewrite abandoned"
            )
        new_version = latest["version"] + 1
        new_dir = f"v{new_version:06d}"
        os.rename(staging, os.path.join(target_dir, new_dir))
        latest["version"] = new_version
        latest["current"] = new_dir
        latest.setdefault("history", []).append(
            {"version": new_version, "dir": new_dir,
             "batch_id": None, "compaction_of": state["current"]}
        )
        _store_state(target_dir, latest)
    return {
        "files_before": len(files),
        "files_after": len(groups),
        "groups": len(groups),
        "version": new_version,
    }


def vacuum_journal(target_dir: str) -> int:
    """The janitor pass both sinks' crash stories promise: delete data
    directories under ``target_dir`` that NO committed state references
    — orphan ``b*`` part dirs from batches that crashed between write
    and commit, superseded ``c*`` compactions whose removal itself
    crashed, and merge-sink ``v*`` versions that neither the current
    pointer NOR the time-travel ``history`` references (a version
    written just before a crash that hit before its state commit).
    Readers only ever follow the state file, so orphans are invisible;
    vacuum just reclaims their disk.  Runs under the per-target lock
    so a sink cannot commit a directory between the liveness snapshot
    and the deletes (a dir created after the snapshot is not deleted:
    only dirs ALREADY present and unreferenced at snapshot time go).
    Returns the number of directories removed.

    History entries are LIVE: every version ``table_as_of`` can still
    resolve is retained, so this pass never shortens time-travel depth
    and never touches versions ``vacuum_versions`` kept or pinned —
    retention POLICY (keep-last-K + protected) belongs exclusively to
    ``vacuum_versions``; this pass only collects garbage no committed
    state can reach.

    At 100 TB this is the table format's VACUUM: the transaction log
    (here the state file) defines liveness; everything else under the
    table root is reclaimable garbage."""
    import shutil

    with _state_lock(target_dir):
        state = _load_state(target_dir)
        comp = state.get("compacted")
        covered = set(comp["covers"]) if comp else set()
        live = {f"b{b:06d}" for b in state["committed"] if b not in covered}
        if comp:
            live.add(comp["dir"])
        if state.get("current"):
            live.add(state["current"])
        live |= {h["dir"] for h in state.get("history", [])}
        victims = [
            d
            for d in os.listdir(target_dir)
            if os.path.isdir(os.path.join(target_dir, d))
            and d[:1] in ("b", "c", "v")
            and d not in live
        ]
        # compaction staging left by a crashed rewrite (built outside
        # the version namespace, never referenced by any state)
        victims += [
            d
            for d in os.listdir(target_dir)
            if d.startswith("_compact")
            and os.path.isdir(os.path.join(target_dir, d))
        ]
        # orphan change-feed dirs: a crash between the changelog write
        # and the state flip leaves an x-dir no history entry names
        live_changes = {
            h["changes"] for h in state.get("history", []) if "changes" in h
        }
        changes_root = os.path.join(target_dir, "_changes")
        if os.path.isdir(changes_root):
            victims += [
                os.path.join("_changes", d)
                for d in os.listdir(changes_root)
                if os.path.join("_changes", d) not in live_changes
            ]
        for d in victims:
            shutil.rmtree(os.path.join(target_dir, d), ignore_errors=True)
    return len(victims)
