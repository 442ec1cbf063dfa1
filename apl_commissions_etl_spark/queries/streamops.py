"""Streaming-surface transforms run in batch mode for the driver's
oracle gate (SURVEY.md §2.10). ``F.window``/``F.session_window`` are
plain grouping expressions in batch, so the SAME functions the
streaming pipeline uses are hash-checked against DuckDB here;
``tests/test_streaming.py`` separately proves streaming == batch via
``trigger(availableNow=True)``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..registry import query
from ..sources.testdata import load_table, spread
from ..streaming import joins as sj
from ..streaming import windows as sw


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread on user_id: every batch twin here windows/aggregates per
    # user; see queries/events.py:_events (guide §2.5)
    return spread(load_table(spark, sf_dir, "events"), "user_id")


@query(
    "stream_tumbling_window",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start,
           date_trunc('hour', ts) + INTERVAL '1 hour' AS window_end,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2, 3""",
    survey_ref="§2.10 streaming (new surface): 1h tumbling window agg, "
    "epoch-aligned; exact-decimal sums",
)
def stream_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sw.tumbling_counts(_events(spark, sf_dir))


@query(
    "stream_sliding_window",
    oracle="""
    WITH buckets AS (
      SELECT time_bucket(INTERVAL '30 minutes', ts) AS window_start,
             user_id
      FROM events
      UNION ALL
      SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes',
             user_id
      FROM events
    )
    SELECT window_start, COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users
    FROM buckets GROUP BY 1""",
    survey_ref="§2.10 streaming (new surface): 1h/30min sliding window "
    "(each event in exactly 2 windows)",
)
def stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sw.sliding_counts(_events(spark, sf_dir))


@query(
    "stream_session_window",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts, value,
             CASE WHEN LAG(ts) OVER w IS NULL
                    OR ts - LAG(ts) OVER w >= INTERVAL '30 minutes'
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    numbered AS (
      SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                  ROWS UNBOUNDED PRECEDING) AS session_id
      FROM marked
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL '30 minutes' AS session_end,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM numbered
    GROUP BY user_id, session_id""",
    survey_ref="§2.10 streaming (new surface): 30min-gap session "
    "windows; oracle = gaps-and-islands CTE with end = last + gap",
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sw.session_stats(_events(spark, sf_dir))


@query(
    "stream_dedup_keep_first",
    oracle="""
    SELECT event_id, ts, user_id, event_type, value, props
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type
               ORDER BY ts, event_id) AS rn
      FROM events
    ) WHERE rn = 1""",
    survey_ref="§2.10 streaming (new surface): watermarked dedup; batch "
    "equivalent = deterministic argmin keep-first (W3 inverted)",
)
def stream_dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sw.dedup_keep_first(_events(spark, sf_dir))


# ---------------------------------------------------------------------------
# Stream-stream interval joins (§2.10 new surface): purchase<-click
# attribution within a 30-minute window; the streaming form is Spark's
# supported equi-key + event-time-range self-join
# ---------------------------------------------------------------------------

_PAIR_SQL = """
    SELECT p.event_id AS purchase_id, p.ts AS purchase_ts, p.user_id,
           p.value AS purchase_value,
           c.event_id AS click_id, c.ts AS click_ts,
           c.value AS click_value,
           CAST(floor(epoch(p.ts)) AS BIGINT)
             - CAST(floor(epoch(c.ts)) AS BIGINT) AS gap_seconds
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    {join_kind} JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON c.user_id = p.user_id
     AND c.ts <= p.ts AND p.ts < c.ts + INTERVAL '30 minutes'"""


@query(
    "stream_interval_join",
    oracle=_PAIR_SQL.format(join_kind="INNER"),
    survey_ref="§2.10 streaming (new surface): stream-stream interval "
    "self-join — equi-key user_id + event-time range bound (state "
    "bounded by watermark + interval); batch form = theta range join",
)
def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sj.click_purchase_pairs(_events(spark, sf_dir))


@query(
    "stream_interval_join_outer",
    oracle=_PAIR_SQL.format(join_kind="LEFT"),
    survey_ref="§2.10 streaming (new surface): LEFT-OUTER stream-stream "
    "interval join — purchases with no attributable click surface with "
    "null click columns once the watermark passes the join horizon",
)
def stream_interval_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sj.click_purchase_pairs(_events(spark, sf_dir), how="left")


@query(
    "stream_attribution_rollup",
    oracle=f"""
    WITH pairs AS ({_PAIR_SQL.format(join_kind="INNER")})
    SELECT purchase_id, user_id,
           CAST(COUNT(click_id) AS INT) AS n_clicks,
           MAX(gap_seconds) AS max_gap_seconds,
           CAST(SUM(CAST(click_value AS DECIMAL(18,2))) AS DOUBLE)
             AS clicks_value
    FROM pairs GROUP BY purchase_id, user_id""",
    survey_ref="§2.10 streaming (new surface): per-purchase attribution "
    "rollup over the interval-join pairs (batch summary downstream of "
    "the streaming join sink)",
)
def stream_attribution_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sj.attribution_rollup(
        sj.click_purchase_pairs(_events(spark, sf_dir))
    )


@query(
    "stream_dedup_ttl",
    oracle="""
    WITH marked AS (
      SELECT user_id, event_type, event_id, ts,
             CASE WHEN LAG(ts) OVER w IS NULL
                    OR CAST(floor(epoch(ts)) AS BIGINT)
                       - CAST(floor(epoch(LAG(ts) OVER w)) AS BIGINT)
                       >= 21600
                  THEN 1 ELSE 0 END AS is_emission
      FROM events
      WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
    )
    SELECT user_id, event_type, event_id, ts AS emitted_ts
    FROM marked WHERE is_emission = 1""",
    survey_ref="§2.10 streaming (new surface): TTL-bounded dedup — "
    "the applyInPandasWithState operator (streaming/dedup_ttl.py, "
    "live-tested in tests/test_scale_toolkit.py) evicts each key's "
    "state after a processing-time TTL so the state store stays at "
    "(arrival rate x ttl) entries at 100 TB-stream scale; because "
    "every arrival re-arms the timeout, the batch equivalent is "
    "exactly first-arrival-per-idle-gap-island (6h TTL here), a "
    "gaps-and-islands window pass",
)
def stream_dedup_ttl(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.dedup_ttl import ttl_dedup_batch

    return ttl_dedup_batch(_events(spark, sf_dir))


@query(
    "sink_time_travel_parity",
    oracle="""
    WITH b AS (
      SELECT CAST(o_orderkey % 4 AS INT) AS bid, o_custkey AS k,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
               AS total_cents
      FROM orders GROUP BY 1, 2),
    v AS (SELECT * FROM (VALUES (1), (2), (3), (4)) AS t(as_of)),
    ranked AS (
      SELECT v.as_of, b.k, b.n_orders, b.total_cents,
             ROW_NUMBER() OVER (PARTITION BY v.as_of, b.k
                                ORDER BY b.bid DESC) AS rn
      FROM v JOIN b ON b.bid < v.as_of)
    SELECT CAST(as_of AS INT) AS as_of, k, n_orders, total_cents
    FROM ranked WHERE rn = 1""",
    survey_ref="beyond-reference table-maintenance surface: TIME-TRAVEL "
    "read on the exactly-once versioned sinks (streaming/sinks.py "
    "table_as_of) — four keyed micro-batches (per-customer rollups of "
    "the orders slice o_orderkey%4==b) feed the idempotent merge sink, "
    "then EVERY published version v is read back AS OF v and the union "
    "is hash-checked against the SQL fold of the first v batches "
    "(latest batch wins per key). Proves read-as-of batch N == folding "
    "the first N batches — the replayable-log contract the CDC query "
    "asserts on the read side, now proven against the sink's own "
    "version history. Retention (vacuum_versions: keep-last-K + "
    "manifest-protected) is exercised in tests/test_timetravel.py. "
    "At 100 TB this is VERSION "
    "AS OF on a table format: history is metadata, each read scans one "
    "snapshot's files",
)
def sink_time_travel_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feed 4 deterministic keyed batches through the merge sink, read
    each published version back via table_as_of, union tagged."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from ..streaming.sinks import idempotent_merge_sink, table_as_of

    o = load_table(spark, sf_dir, "orders")
    batches = (
        o.groupBy(
            (F.col("o_orderkey") % 4).cast("int").alias("bid"),
            F.col("o_custkey").alias("k"),
        ).agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("long")
            .alias("total_cents"),
        )
    )
    tmp = tempfile.mkdtemp(prefix="sink_tt_")
    try:
        sink = idempotent_merge_sink(tmp, ["k"])
        for b in range(4):
            sink(batches.filter(F.col("bid") == b).drop("bid"), b)
        out = None
        for v in range(1, 5):
            r = table_as_of(spark, tmp, version=v).select(
                F.lit(v).cast("int").alias("as_of"),
                "k", "n_orders", "total_cents",
            )
            out = r if out is None else out.unionByName(r)
        # materialize before the published parquet is removed
        return out.localCheckpoint()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
