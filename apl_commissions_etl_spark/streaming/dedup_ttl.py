"""Streaming exact dedup with TTL-bounded state.

The operator keeps one state cell per content fingerprint and emits
only the FIRST document carrying each fingerprint. The TTL is the
point: at 100 TB-stream scale the fingerprint set grows without bound,
and a dedup operator that never evicts eventually owns the whole state
store. The processing-time timeout evicts each fingerprint's cell
``ttl_ms`` after it was last re-confirmed, capping state at
(arrival rate x ttl) entries — the standard production trade: a
duplicate arriving after the TTL window re-emits, which a downstream
batch dedup over the fingerprint index catches on the next
compaction.

Carrier: ``applyInPandasWithState`` with ``ProcessingTimeTimeout``
(state timeout == TTL eviction). Spark 4's ``transformWithStateInPandas``
exposes the same thing declaratively (``getValueState(...,
ttlDurationMs=...)``), but its state protocol needs ``google.protobuf``,
which this runtime does not ship — the timeout-based form below is the
dependency-free equivalent and checkpoints/restores identically.

Batch twin: the ``stream_dedup_ttl`` query's gaps-and-islands window
(``queries/streamops.py``) — this is its always-on form.
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = "fp string, doc_id long, n_dups_in_batch long"
STATE_SCHEMA = "first_doc_id long"


def _make_update(ttl_ms: int):
    def _update(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        if state.hasTimedOut:
            # TTL expiry: evict the fingerprint cell; a later duplicate
            # will re-emit (downstream batch dedup owns the long tail)
            state.remove()
            return
        first_id = None
        n = 0
        for pdf in pdfs:
            n += len(pdf)
            batch_min = int(pdf["doc_id"].min())
            if first_id is None or batch_min < first_id:
                first_id = batch_min
        fresh = not state.exists
        if fresh:
            state.update((first_id,))
        # (re-)arm the TTL: timeouts must be re-set on every invocation
        # for the key or the state store clears them
        state.setTimeoutDuration(ttl_ms)
        if fresh:
            yield pd.DataFrame(
                {
                    "fp": [key[0]],
                    "doc_id": [first_id],
                    "n_dups_in_batch": [n - 1],
                }
            )

    return _update


def dedup_stream_ttl(fingerprinted: DataFrame, ttl_ms: int = 3_600_000) -> DataFrame:
    """``fingerprinted``: streaming frame with (fp string, doc_id long).
    Emits one row per first-seen fingerprint; duplicates arriving
    within ``ttl_ms`` are dropped, state self-evicts after it."""
    from ..shipping import ensure_package_on_executors

    ensure_package_on_executors(fingerprinted.sparkSession)
    return fingerprinted.groupBy("fp").applyInPandasWithState(
        _make_update(ttl_ms),
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


def ttl_dedup_batch(
    events: DataFrame,
    key_cols: tuple[str, str] = ("user_id", "event_type"),
    ttl_s: int = 6 * 3600,
) -> DataFrame:
    """Batch twin of ``dedup_stream_ttl`` for the oracle gate: the
    TTL-idle eviction makes emissions exactly the FIRST arrival of
    each idle-gap island (gap >= ttl between consecutive arrivals
    starts a new island, because every arrival re-arms the timeout).
    Pure gaps-and-islands — one window pass per key."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    w = Window.partitionBy(*key_cols).orderBy("ts", "event_id")
    gap = F.unix_seconds(F.col("ts").cast("timestamp")) - F.unix_seconds(
        F.lag(F.col("ts").cast("timestamp")).over(w)
    )
    marked = events.select(
        *key_cols,
        "ts",
        "event_id",
        (gap.isNull() | (gap >= ttl_s)).alias("is_emission"),
    )
    return marked.filter("is_emission").select(
        *key_cols,
        "event_id",
        F.col("ts").alias("emitted_ts"),
    )
