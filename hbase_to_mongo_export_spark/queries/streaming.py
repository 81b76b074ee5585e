"""streaming queries (mechanically split from the original queries.py monolith;
bodies verbatim, shared registry in _core)."""

from ._core import *  # noqa: F401,F403



# ---------------------------------------------------------------------------
# Streaming (Structured Streaming; oracle = equivalent batch SQL)
# ---------------------------------------------------------------------------


@register(
    "streaming_tumbling_window",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           COUNT(*) AS n_events, ROUND(SUM(value), 4) AS sum_value
    FROM events GROUP BY 1, 2 ORDER BY window_start, event_type
    """,
)
def streaming_tumbling_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real Structured Streaming execution (availableNow drain into a
    memory sink); result equals the batch tumbling-window query."""
    import os as _os

    from ..streaming import windowed_event_counts

    out = windowed_event_counts(
        spark, _os.path.join(sf_dir, "events.parquet"), window_duration="1 hour"
    )
    return out.orderBy("window_start", "event_type")


@register(
    "streaming_stateful_user_stats",
    oracle="""
    SELECT user_id, COUNT(*) AS n_events,
           ROUND(SUM(value), 4) AS sum_value,
           MAX(ts) AS last_ts
    FROM events GROUP BY user_id ORDER BY user_id
    """,
)
def streaming_stateful_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState): the
    drained per-user running aggregates equal the batch groupBy answer."""
    import os as _os

    from ..streaming.stateful import running_user_stats

    out = running_user_stats(spark, _os.path.join(sf_dir, "events.parquet"))
    return out.select(
        "user_id",
        F.col("n_events"),
        F.col("sum_value"),
        F.col("last_ts"),
    ).orderBy("user_id")


@register(
    "session_windows_native",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN LAG(ts) OVER w IS NULL
                       OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    numbered AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged)
    SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events
    FROM numbered GROUP BY user_id, session_id
    ORDER BY user_id, session_start
    """,
)
def session_windows_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's native session_window aggregation (gap-merged sessions);
    the oracle reconstructs the same sessions via lag + cumulative sum
    (new session when the gap >= the timeout — session_window keeps an
    event only while it lands strictly inside [start, last + gap))."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id", F.col("w.start").alias("session_start"), "n_events"
        )
        .orderBy("user_id", "session_start")
    )


@register(
    "streaming_session_timeout",
    oracle="""
    WITH marked AS (
      SELECT user_id, event_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, value, ts,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked
    )
    SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end,
           COUNT(*) AS n_events, ROUND(SUM(value), 4) AS sum_value
    FROM sess
    GROUP BY user_id, sid
    HAVING MAX(ts) + INTERVAL 30 MINUTE < (SELECT MAX(ts) FROM events)
    ORDER BY user_id, session_start
    """,
)
def streaming_session_timeout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time-timeout session windows (applyInPandasWithState +
    EventTimeTimeout): state holds one open session per user; closed
    sessions emit in-batch, the trailing session emits when the no-data
    micro-batch advances the watermark past session_end + gap. With a
    0-second watermark delay the drained result is exactly the sessions
    whose end + 30min precedes the stream's max timestamp."""
    import os as _os

    from ..streaming.stateful import session_windows_timeout

    out = session_windows_timeout(spark, _os.path.join(sf_dir, "events.parquet"))
    return out.select(
        "user_id", "session_start", "session_end", "n_events", "sum_value"
    ).orderBy("user_id", "session_start")


# ---------------------------------------------------------------------------
# Streaming widening: stream-stream join, streaming dedup
# ---------------------------------------------------------------------------


@register(
    "streaming_stream_stream_join",
    oracle="""
    SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id
    FROM events p JOIN events c
      ON p.event_type = 'purchase' AND c.event_type = 'click'
     AND c.user_id = p.user_id
     AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
    ORDER BY 1, 2, 3
    """,
)
def streaming_stream_stream_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream inner join (purchase ← clicks within the
    previous hour), drained availableNow; equals the batch range join."""
    import os as _os

    from ..streaming.incremental import stream_stream_join

    out = stream_stream_join(spark, _os.path.join(sf_dir, "events.parquet"))
    return out.orderBy("user_id", "purchase_id", "click_id")


@register(
    "streaming_dedup_distinct_keys",
    oracle="SELECT DISTINCT user_id, event_type FROM events ORDER BY 1, 2",
)
def streaming_dedup_distinct_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming DISTINCT via dropDuplicatesWithinWatermark — bounded
    per-key state instead of forever-growing dedup state."""
    import os as _os

    from ..streaming.incremental import stream_dedup_keys

    out = stream_dedup_keys(spark, _os.path.join(sf_dir, "events.parquet"))
    return out.orderBy("user_id", "event_type")


@register(
    "streaming_static_enrichment",
    oracle="""
    SELECT CAST(user_id % 5 AS INT) AS cohort,
           COUNT(*) AS n_events,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1 ORDER BY cohort
    """,
)
def streaming_static_enrichment_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static broadcast join: the event stream enriched with a
    static cohort dimension, aggregated per cohort under the event-time
    watermark. Zero streaming state for the join itself (the static side
    broadcasts into each micro-batch); the DECIMAL sum makes incremental
    accumulation equal the batch/oracle answer exactly."""
    import os as _os

    from ..streaming.incremental import stream_static_enrichment

    dim = (
        _t(spark, sf_dir, "events")
        .select("user_id")
        .distinct()
        .withColumn("cohort", (F.col("user_id") % 5).cast("int"))
    )
    out = stream_static_enrichment(
        spark, _os.path.join(sf_dir, "events.parquet"), dim
    )
    return out.select("cohort", "n_events", "sum_value").orderBy("cohort")


@register(
    "streaming_late_data_drop",
    oracle="""
    WITH a AS (SELECT * FROM events
               WHERE ts < TIMESTAMP '2024-01-20' AND event_id % 2 = 0),
    b AS (SELECT * FROM events WHERE ts >= TIMESTAMP '2024-01-20'),
    c AS (SELECT * FROM events
          WHERE ts < TIMESTAMP '2024-01-10' AND event_id % 2 = 1),
    -- Spark's batch-3 late filter uses the watermark computed at the end
    -- of batch B (not batch A) — model exactly that
    wmb AS (SELECT epoch_ms(MAX(ts)) - 7200000 AS wm
            FROM (SELECT ts FROM a UNION ALL SELECT ts FROM b)),
    wmf AS (SELECT epoch_ms(MAX(ts)) - 7200000 AS wm
            FROM (SELECT ts FROM a UNION ALL SELECT ts FROM b
                  UNION ALL SELECT ts FROM c)),
    surv AS (
      SELECT ts, event_type FROM a
      UNION ALL SELECT ts, event_type FROM b
      UNION ALL SELECT ts, event_type FROM c
        WHERE epoch_ms(date_trunc('hour', ts) + INTERVAL 1 HOUR) >
              (SELECT wm FROM wmb)),
    agg AS (
      SELECT date_trunc('hour', ts) AS window_start, event_type,
             COUNT(*) AS n
      FROM surv GROUP BY 1, 2)
    SELECT window_start, event_type, n FROM agg
    WHERE epoch_ms(window_start + INTERVAL 1 HOUR) <= (SELECT wm FROM wmf)
    ORDER BY window_start, event_type
    """,
)
def streaming_late_data_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three deterministic micro-batches through a watermarked tumbling
    window in append mode: fresh data (batch B) advances the watermark
    ~10 days past the stragglers (batch C), so C is dropped entirely by
    the late-record filter — and the DuckDB oracle reproduces the
    watermark arithmetic, ms truncation and all. This pins the late-data
    contract, not just the happy path."""
    import os as _os

    from ..streaming.incremental import late_data_window_counts

    out = late_data_window_counts(
        spark, _os.path.join(sf_dir, "events.parquet")
    )
    return out.orderBy("window_start", "event_type")


@register(
    "streaming_sliding_window_append",
    oracle="""
    WITH wm AS (SELECT epoch_ms(MAX(ts)) - 7200000 AS wm FROM events),
    wins AS (
      SELECT make_timestamp(
               ((epoch_ms(ts) // 1800000) * 1800000 - j.j * 1800000) * 1000
             ) AS window_start,
             event_type
      FROM events CROSS JOIN (SELECT unnest(range(0, 4)) AS j) j)
    SELECT window_start, event_type, COUNT(*) AS n_events
    FROM wins
    WHERE epoch_ms(window_start) + 7200000 <= (SELECT wm FROM wm)
    GROUP BY window_start, event_type
    ORDER BY window_start, event_type
    """,
)
def streaming_sliding_window_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (2h window / 30min slide) through a real
    Structured Streaming drain in APPEND mode — each event joins 4
    overlapping windows and only watermark-closed windows are emitted
    (the open head of the stream is withheld). The oracle replays the
    window membership and the end<=watermark emission rule in SQL,
    ms truncation included."""
    import os as _os

    from ..streaming.incremental import sliding_window_counts

    out = sliding_window_counts(
        spark, _os.path.join(sf_dir, "events.parquet"),
        window_duration="2 hours", slide="30 minutes", watermark="2 hours",
    )
    return out.orderBy("window_start", "event_type")


@register(
    "streaming_chained_window_rollup",
    oracle="""
    WITH wm AS (SELECT epoch_ms(MAX(ts)) - 7200000 AS wm FROM events),
    hourly AS (
      SELECT date_trunc('hour', ts) AS h, COUNT(*) AS n
      FROM events GROUP BY 1)
    SELECT CAST(date_trunc('day', h) AS TIMESTAMP) AS day_start,
           CAST(SUM(n) AS BIGINT) AS n_events,
           COUNT(*) AS n_hours
    FROM hourly
    WHERE epoch_ms(CAST(date_trunc('day', h) AS TIMESTAMP)) + 86400000
            <= (SELECT wm FROM wm)
    GROUP BY 1 ORDER BY day_start
    """,
)
def streaming_chained_window_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two chained stateful operators in ONE streaming query: hourly
    tumbling counts re-windowed (window_time) into a daily rollup — the
    continuous-aggregate cascade a time-series store maintains, executed
    by Structured Streaming's multi-stateful-operator support. Append
    emits a day only after the watermark passes its end; the oracle
    replays the hourly→daily cascade and the emission rule."""
    import os as _os

    from ..streaming.incremental import chained_window_rollup

    out = chained_window_rollup(
        spark, _os.path.join(sf_dir, "events.parquet")
    )
    return out.orderBy("day_start")


# ---------------------------------------------------------------------------
# Streaming breadth (round 2): event-time outer joins and incremental
# materialization through foreachBatch — the two streaming contracts a
# production pipeline leans on hardest after windowed aggregation.
# ---------------------------------------------------------------------------


@register(
    "streaming_stream_stream_left_outer",
    oracle="""
    WITH m AS (
      SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id
      FROM events p JOIN events c
        ON p.event_type = 'purchase' AND c.event_type = 'click'
       AND c.user_id = p.user_id
       AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts),
    wm AS (
      SELECT LEAST((SELECT MAX(ts) FROM events WHERE event_type = 'purchase'),
                   (SELECT MAX(ts) FROM events WHERE event_type = 'click'))
             - INTERVAL 2 HOUR AS w),
    u AS (
      SELECT p.user_id, p.event_id AS purchase_id,
             CAST(NULL AS BIGINT) AS click_id
      FROM events p, wm
      WHERE p.event_type = 'purchase' AND p.ts < wm.w
        AND NOT EXISTS (SELECT 1 FROM m WHERE m.purchase_id = p.event_id))
    SELECT * FROM (SELECT * FROM m UNION ALL SELECT * FROM u)
    ORDER BY user_id, purchase_id, click_id
    """,
)
def streaming_stream_stream_left_outer(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER join, drained availableNow.
    Matched pairs equal the batch range join; an unmatched purchase
    emits a NULL-click row only after the global watermark (min of the
    two stream watermarks = min(max ts) - 2h) passes its event time —
    unmatched purchases inside the final horizon are withheld, which the
    oracle reproduces with the same watermark arithmetic. State stays
    O(rate x horizon): left rows close out as the watermark passes them,
    right rows evict at wm - max_lag."""
    import os as _os

    from ..streaming.incremental import stream_stream_left_outer_join

    out = stream_stream_left_outer_join(
        spark, _os.path.join(sf_dir, "events.parquet")
    )
    return out.orderBy("user_id", "purchase_id", "click_id")


@register(
    "streaming_foreachbatch_upsert",
    oracle="""
    WITH ranked AS (
      SELECT user_id, ts, event_type, value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events)
    SELECT user_id, ts AS last_ts, event_type AS last_type,
           value AS last_value
    FROM ranked WHERE rn = 1
    ORDER BY user_id
    """,
)
def streaming_foreachbatch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialization via foreachBatch MERGE: the events
    stream (three forced micro-batches, event_id % 3) maintains a
    latest-per-user serving table with crash-safe staging/backup
    rotation — the continuously-maintained answer to
    latest_event_per_user, and the Spark shape of the reference's
    incremental export feeding a keyed store
    (HbaseToMongoExport incremental run; SURVEY §2.2 P5 applied
    per-batch). The final table must equal the batch latest-per-key
    answer no matter how records were split across batches."""
    import os as _os

    from ..streaming.incremental import events_upsert_serving

    out = events_upsert_serving(spark, _os.path.join(sf_dir, "events.parquet"))
    return out.orderBy("user_id")


@register(
    "streaming_progress_metrics",
    oracle="SELECT COUNT(*) AS total_input_rows, CAST(1 AS INT) AS saw_batches FROM events",
)
def streaming_progress_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """StreamingQueryProgress observability: after an availableNow drain
    of a windowed aggregate, the per-batch progress records must account
    for EVERY input row exactly once (sum of numInputRows == batch row
    count) — the monitoring contract operations teams alert on. The
    drain runs a real streaming query; the returned frame carries the
    summed progress metrics."""
    import os as _os

    from ..sources.catalog import _read_parquet_nanos_safe, normalize_event_ts
    from ..streaming.stateful import _scoped_shuffle_partitions

    import tempfile
    import uuid as _uuid

    events_path = _os.path.join(sf_dir, "events.parquet")
    batch_df = _read_parquet_nanos_safe(spark, events_path)
    stream = (
        spark.readStream.schema(batch_df.schema)
        .option("pathGlobFilter", _os.path.basename(events_path))
        .parquet(_os.path.dirname(events_path))
    )
    stream = normalize_event_ts(stream)
    agg = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    sink = f"prog_{_uuid.uuid4().hex[:8]}"
    ckpt = _os.path.join(tempfile.gettempdir(), f"ckpt_{_uuid.uuid4().hex[:8]}")
    import shutil

    try:
        with _scoped_shuffle_partitions(spark, 8):
            q = (
                agg.writeStream.format("memory")
                .queryName(sink)
                .outputMode("append")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            total = sum(
                int(p["numInputRows"]) for p in q.recentProgress
            )
            n_batches = len(q.recentProgress)
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    return spark.createDataFrame(
        [(total, 1 if n_batches >= 1 else 0)],
        "total_input_rows bigint, saw_batches int",
    )


@register(
    "streaming_stream_stream_full_outer",
    oracle="""
    WITH m AS (
      SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id
      FROM events p JOIN events c
        ON p.event_type = 'purchase' AND c.event_type = 'click'
       AND c.user_id = p.user_id
       AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts),
    wm AS (
      SELECT LEAST((SELECT MAX(ts) FROM events WHERE event_type = 'purchase'),
                   (SELECT MAX(ts) FROM events WHERE event_type = 'click'))
             - INTERVAL 2 HOUR AS w),
    up AS (
      SELECT p.user_id, p.event_id AS purchase_id,
             CAST(NULL AS BIGINT) AS click_id
      FROM events p, wm
      WHERE p.event_type = 'purchase' AND p.ts < wm.w
        AND NOT EXISTS (SELECT 1 FROM m WHERE m.purchase_id = p.event_id)),
    uc AS (
      SELECT c.user_id, CAST(NULL AS BIGINT) AS purchase_id,
             c.event_id AS click_id
      FROM events c, wm
      WHERE c.event_type = 'click' AND c.ts + INTERVAL 1 HOUR < wm.w
        AND NOT EXISTS (SELECT 1 FROM m WHERE m.click_id = c.event_id))
    SELECT * FROM (SELECT * FROM m UNION ALL SELECT * FROM up
                   UNION ALL SELECT * FROM uc)
    ORDER BY user_id, purchase_id, click_id
    """,
)
def streaming_stream_stream_full_outer(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Watermarked stream-stream FULL OUTER join, drained availableNow —
    completes the inner/left/full join-mode matrix. Matched pairs equal
    the batch range join; an unmatched purchase closes when the final
    watermark passes its event time; an unmatched click closes when the
    watermark passes click_ts + max_lag (the latest purchase that could
    still match it). Both closure conditions are reproduced exactly in
    the oracle's watermark arithmetic."""
    import os as _os

    from ..streaming.incremental import stream_stream_full_outer_join

    out = stream_stream_full_outer_join(
        spark, _os.path.join(sf_dir, "events.parquet")
    )
    return out.orderBy("user_id", "purchase_id", "click_id")


@register(
    "streaming_restart_state_recovery",
    oracle="""
    WITH cnt AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start,
             event_type, COUNT(*) AS n
      FROM events GROUP BY 1, 2),
    sides AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start,
             event_type,
             MAX(CASE WHEN ts < TIMESTAMP '2024-01-15 12:00:00'
                      THEN 1 ELSE 0 END) AS has_a,
             MAX(CASE WHEN ts >= TIMESTAMP '2024-01-15 12:00:00'
                      THEN 1 ELSE 0 END) AS has_b
      FROM events GROUP BY 1, 2)
    SELECT c.window_start, c.event_type, c.n,
           CAST(s.has_a + s.has_b AS INT) AS n_updates
    FROM cnt c JOIN sides s
      ON s.window_start = c.window_start AND s.event_type = c.event_type
    ORDER BY c.window_start, c.event_type
    """,
)
def streaming_restart_state_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpoint restart with state recovery — the contract that makes
    incremental-batch streaming deployable: drain pre-cut events, STOP,
    add the post-cut file, start a NEW query on the SAME checkpoint. The
    offset log skips already-read files and the state store carries the
    first run's window counts, so straddling windows update to the
    combined count (n_updates = 2) and every final count equals the
    one-shot batch answer. The oracle derives both from the raw events."""
    import os as _os

    from ..streaming.incremental import restart_state_recovery

    out = restart_state_recovery(
        spark, _os.path.join(sf_dir, "events.parquet")
    )
    return out.orderBy("window_start", "event_type")


@register(
    "streaming_stream_stream_left_semi",
    oracle="""
    SELECT DISTINCT p.user_id, p.event_id AS purchase_id
    FROM events p JOIN events c
      ON p.event_type = 'purchase' AND c.event_type = 'click'
     AND c.user_id = p.user_id
     AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
    ORDER BY p.user_id, purchase_id
    """,
)
def streaming_stream_stream_left_semi(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Watermarked stream-stream LEFT SEMI join (the streaming existence
    filter), drained availableNow: each purchase with at least one click
    in its preceding hour emits exactly once, however many clicks
    matched — which the DISTINCT batch oracle pins. Completes the
    inner/left-outer/full-outer/semi join-mode matrix."""
    import os as _os

    from ..streaming.incremental import stream_stream_left_semi_join

    out = stream_stream_left_semi_join(
        spark, _os.path.join(sf_dir, "events.parquet")
    )
    return out.orderBy("user_id", "purchase_id")


@register(
    "stream_batch_unification_parity",
    oracle="""
    WITH agg AS (
      SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
             event_type, COUNT(*) AS n_events,
             ROUND(SUM(value), 4) AS sum_value
      FROM events GROUP BY 1, 2)
    SELECT COUNT(*) AS n_windows,
           CAST(0 AS BIGINT) AS n_mismatched
    FROM agg
    """,
)
def stream_batch_unification_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Dataflow-model contract stated as a query: the SAME windowed
    aggregation executed as a real Structured Streaming drain AND as a
    batch groupBy, full-outer joined on the window key — the mismatch
    count the query returns is structurally zero ONLY if streaming
    replay equals batch (the oracle asserts exactly that zero, so any
    divergence in watermarking, window assignment, or aggregation
    between the two engines' modes fails the gate)."""
    import os as _os

    from ..streaming.incremental import windowed_event_counts

    stream_res = windowed_event_counts(
        spark, _os.path.join(sf_dir, "events.parquet")
    ).select(
        "window_start",
        "event_type",
        F.col("n_events").alias("sn"),
        F.col("sum_value").alias("sv"),
    )
    ev = _t(spark, sf_dir, "events")
    batch_res = ev.groupBy(
        F.date_trunc("hour", "ts").alias("window_start"),
        "event_type",
    ).agg(
        F.count(F.lit(1)).alias("bn"),
        F.round(F.sum("value"), 4).alias("bv"),
    )
    joined = stream_res.join(
        batch_res, ["window_start", "event_type"], "full_outer"
    )
    return joined.agg(
        F.count(F.lit(1)).alias("n_windows"),
        F.sum(
            F.when(
                F.col("sn").isNull()
                | F.col("bn").isNull()
                | (F.col("sn") != F.col("bn"))
                | (F.col("sv") != F.col("bv")),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_mismatched"),
    )


__all__ = [
    'streaming_tumbling_q',
    'streaming_stateful_user_stats',
    'session_windows_native',
    'streaming_session_timeout',
    'streaming_stream_stream_join_q',
    'streaming_dedup_distinct_keys',
    'streaming_static_enrichment_q',
    'streaming_late_data_drop',
    'streaming_sliding_window_append',
    'streaming_chained_window_rollup',
    'streaming_stream_stream_left_outer',
    'streaming_foreachbatch_upsert',
    'streaming_progress_metrics',
    'streaming_stream_stream_full_outer',
    'streaming_restart_state_recovery',
    'streaming_stream_stream_left_semi',
    'stream_batch_unification_parity',
]
