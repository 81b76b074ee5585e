"""Structured Streaming surface.

The reference's "incremental" mode is a batch time-range predicate
(SURVEY §2.2 P4). The continuous-operation analogue is Structured
Streaming: the same envelope pipeline fed by ``readStream`` with a
watermark on the version timestamp, plus generic windowed aggregation
over event streams.

Both entry points use ``Trigger.AvailableNow`` semantics for testability —
they drain whatever data exists and stop, which is also the recommended
incremental-batch deployment shape (run-on-schedule, checkpoint carries
progress; at 100 TB this gives exactly-once file-to-file pipelines without
a long-running cluster).
"""

from __future__ import annotations

import dataclasses
import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def windowed_event_counts(
    spark: SparkSession,
    events_path: str,
    window_duration: str = "1 hour",
    watermark: str = "2 hours",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Tumbling-window counts per event_type over a parquet-backed stream.

    Returns the final (batch) result table after draining available input —
    identical to the batch ``groupBy(window(...))`` answer, which is how
    it's oracle-checked."""
    from ..sources.catalog import _read_parquet_nanos_safe, normalize_event_ts

    batch_df = _read_parquet_nanos_safe(spark, events_path)
    # file source needs a directory; point at the single file via glob
    stream = (
        spark.readStream.schema(batch_df.schema)
        .option("pathGlobFilter", os.path.basename(events_path))
        .parquet(os.path.dirname(events_path))
    )
    stream = normalize_event_ts(stream)  # nanos-long / NTZ / LTZ sources
    agg = (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_duration).alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    sink_table = f"stream_out_{uuid.uuid4().hex[:8]}"
    ckpt = checkpoint_dir or os.path.join(
        tempfile.gettempdir(), f"ckpt_{uuid.uuid4().hex[:8]}"
    )
    q = (
        agg.writeStream.format("memory")
        .queryName(sink_table)
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(sink_table)


def incremental_export(
    spark: SparkSession,
    source_dir: str,
    cfg,
    checkpoint_dir: str,
) -> None:
    """Continuous variant of the export pipeline: stream the HBase-shaped
    source and ``run_export`` each micro-batch N into ``batch=N`` under the
    output and manifest dirs via foreachBatch (checkpointed, exactly-once
    to files). A batch that does not end ``Exported`` fails the stream, so
    the checkpoint never advances past it.

    ``cfg`` is a plans.export.ExportConfig; latest-per-key dedup applies
    within each micro-batch (cross-batch versions resolve by downstream
    latest-wins readers, matching the reference's repeated-incremental
    semantics)."""
    from ..plans.export import run_export
    from ..sources.fixtures import SOURCE_SCHEMA

    stream = spark.readStream.schema(SOURCE_SCHEMA).parquet(source_dir)
    manifest_root = cfg.manifest_dir or os.path.join(cfg.output_dir, "_manifest")

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        part = f"batch={batch_id}"
        batch_cfg = dataclasses.replace(
            cfg,
            output_dir=os.path.join(cfg.output_dir, part),
            manifest_dir=os.path.join(manifest_root, part),
        )
        result = run_export(spark, batch_df, batch_cfg)
        if result.status != "Exported":
            raise RuntimeError(
                f"micro-batch {batch_id} of {cfg.topic} ended {result.status}"
            )

    q = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def _event_stream(spark: SparkSession, events_path: str) -> DataFrame:
    """readStream over the events parquet (single-file glob), with ts
    normalization mirrored from sources/catalog.py."""
    from ..sources.catalog import _read_parquet_nanos_safe, normalize_event_ts

    batch_df = _read_parquet_nanos_safe(spark, events_path)
    stream = (
        spark.readStream.schema(batch_df.schema)
        .option("pathGlobFilter", os.path.basename(events_path))
        .parquet(os.path.dirname(events_path))
    )
    return normalize_event_ts(stream)


def _drain(df: DataFrame, output_mode: str) -> DataFrame:
    """Run a streaming plan to completion (availableNow) into a memory
    sink and return the final result table. The run-scoped checkpoint is
    deleted afterwards — these drains are one-shot by construction, so
    keeping state would only leak temp space across a long session."""
    import shutil

    from .stateful import _scoped_shuffle_partitions

    sink_table = f"stream_out_{uuid.uuid4().hex[:8]}"
    ckpt = os.path.join(tempfile.gettempdir(), f"ckpt_{uuid.uuid4().hex[:8]}")
    try:
        # 8 state partitions: stateful operators build one state store per
        # shuffle partition per micro-batch, and at drain sizes the store
        # setup dominates (32 -> 8 halves wall time at sf0.1). Results are
        # partition-count independent; the fresh checkpoint bakes it in.
        with _scoped_shuffle_partitions(df.sparkSession, 8):
            q = (
                df.writeStream.format("memory")
                .queryName(sink_table)
                .outputMode(output_mode)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    return df.sparkSession.table(sink_table)


def stream_stream_join(
    spark: SparkSession,
    events_path: str,
    left_type: str = "purchase",
    right_type: str = "click",
    max_lag: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked stream-stream inner join: each LEFT event (purchase)
    pairs with RIGHT events (clicks) by the same user in the preceding
    ``max_lag``.

    The time-range join condition plus watermarks is what bounds the join
    state at scale — Spark evicts buffered rows older than
    ``watermark + max_lag``, so state is O(arrival rate × horizon), not
    O(stream length). Under an availableNow drain the watermark starts at
    epoch so no rows are evicted mid-batch and the result equals the
    batch range join (how the oracle checks it)."""
    ev = _event_stream(spark, events_path)
    left = (
        ev.filter(F.col("event_type") == left_type)
        .withWatermark("ts", watermark)
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("purchase_ts"),
        )
    )
    right = (
        ev.filter(F.col("event_type") == right_type)
        .withWatermark("ts", watermark)
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("click_user"),
            F.col("ts").alias("click_ts"),
        )
    )
    joined = left.join(
        right,
        (F.col("user_id") == F.col("click_user"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr(f"INTERVAL {max_lag}"))
        & (F.col("click_ts") <= F.col("purchase_ts")),
        "inner",
    ).select("user_id", "purchase_id", "click_id")
    return _drain(joined, "append")


def stream_stream_left_outer_join(
    spark: SparkSession,
    events_path: str,
    left_type: str = "purchase",
    right_type: str = "click",
    max_lag: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER join: matched (purchase,
    click) pairs emit as they join; an UNMATCHED purchase emits with a
    NULL click only once the watermark proves no future click can still
    match it (future clicks have ts >= wm, and the join needs click_ts
    <= purchase_ts, so a left row is closed out when purchase_ts < wm).
    Purchases inside the final watermark horizon stay withheld — that
    withholding IS the outer-join contract under event time, and the
    oracle models it explicitly with the drained final watermark."""
    ev = _event_stream(spark, events_path)
    left = (
        ev.filter(F.col("event_type") == left_type)
        .withWatermark("ts", watermark)
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("purchase_ts"),
        )
    )
    right = (
        ev.filter(F.col("event_type") == right_type)
        .withWatermark("ts", watermark)
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("click_user"),
            F.col("ts").alias("click_ts"),
        )
    )
    joined = left.join(
        right,
        (F.col("user_id") == F.col("click_user"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr(f"INTERVAL {max_lag}"))
        & (F.col("click_ts") <= F.col("purchase_ts")),
        "leftOuter",
    ).select("user_id", "purchase_id", "click_id")
    return _drain(joined, "append")


def stream_stream_full_outer_join(
    spark: SparkSession,
    events_path: str,
    left_type: str = "purchase",
    right_type: str = "click",
    max_lag: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked stream-stream FULL OUTER join — the last cell of the
    join-mode matrix (inner / left / full). Matched pairs emit as they
    join; an unmatched PURCHASE closes out when the watermark passes its
    event time (future clicks have ts >= wm and the condition needs
    click_ts <= purchase_ts); an unmatched CLICK closes out when the
    watermark passes click_ts + max_lag (matchable purchases live in
    [click_ts, click_ts + max_lag]). Rows inside either final horizon
    stay withheld — that asymmetric withholding is the event-time outer
    contract, and the oracle reproduces both closure conditions. State
    stays O(rate x horizon) on both sides."""
    ev = _event_stream(spark, events_path)
    left = (
        ev.filter(F.col("event_type") == left_type)
        .withWatermark("ts", watermark)
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("purchase_ts"),
        )
    )
    right = (
        ev.filter(F.col("event_type") == right_type)
        .withWatermark("ts", watermark)
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("click_user"),
            F.col("ts").alias("click_ts"),
        )
    )
    joined = left.join(
        right,
        (F.col("user_id") == F.col("click_user"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr(f"INTERVAL {max_lag}"))
        & (F.col("click_ts") <= F.col("purchase_ts")),
        "fullOuter",
    ).select(
        F.coalesce(F.col("user_id"), F.col("click_user")).alias("user_id"),
        "purchase_id",
        "click_id",
    )
    return _drain(joined, "append")


def stream_dedup_keys(
    spark: SparkSession,
    events_path: str,
    keys: list[str] | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming deduplication via ``dropDuplicatesWithinWatermark``: emit
    each distinct key combination once. State holds one entry per key seen
    within the watermark horizon — the bounded-memory form of streaming
    DISTINCT (plain ``dropDuplicates`` on a stream retains state forever).
    Only the key columns are projected so the surviving-row choice can't
    make the result nondeterministic."""
    keys = keys or ["user_id", "event_type"]
    ev = _event_stream(spark, events_path).withWatermark("ts", watermark)
    deduped = ev.select("ts", *keys).dropDuplicatesWithinWatermark(keys).select(*keys)
    return _drain(deduped, "append")


def stream_static_enrichment(
    spark: SparkSession,
    events_path: str,
    dim: DataFrame,
    on: str = "user_id",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-static join: enrich the event stream with a static (batch)
    dimension. The static side is broadcast into every micro-batch — no
    streaming state at all, which makes this the cheapest enrichment shape
    at scale (the dimension is re-resolved per batch, so slowly-changing
    dims pick up updates between batches for free). Aggregates the
    enriched stream per dimension attribute under the event-time
    watermark."""
    from pyspark.sql.functions import broadcast

    ev = _event_stream(spark, events_path).withWatermark("ts", watermark)
    enriched = ev.join(broadcast(dim), on=on, how="inner")
    dim_cols = [c for c in dim.columns if c != on]
    # DECIMAL sum: incremental micro-batch accumulation must commute with
    # batch order, and double addition does not — decimal is exact.
    agg = enriched.groupBy(dim_cols[0]).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum(F.col("value").cast("decimal(18,6)")), 4)
        .cast("double")
        .alias("sum_value"),
    )
    return _drain(agg, "complete")


def upsert_serving_table(
    spark: SparkSession,
    source_dir: str,
    table_path: str,
    checkpoint_dir: str,
    key_col: str = "key",
    version_col: str = "ts",
    schema=None,
    tiebreak_col: str | None = None,
    max_files_per_trigger: int | None = None,
) -> None:
    """Maintain a one-row-per-key 'serving table' from a stream of
    versioned records: per micro-batch, merge the batch into the current
    table keeping the highest version per key (latest-wins upsert — the
    MongoDB-replica behavior the reference's export feeds; SURVEY §1.1
    latest-cell semantics applied continuously).

    Without a table format there is no atomic MERGE, so the rewrite uses
    a staging + backup rotation: write staging, rotate live → backup,
    staging → live, drop backup. Every crash window leaves either the
    live or the backup directory intact, and foreachBatch only marks the
    batch committed after the swap, so replay always finds the pre-batch
    state. On Delta/Iceberg this whole function collapses into a MERGE
    INTO statement; the plan shape is identical: the batch (small)
    broadcasts into a latest-per-key window over current ∪ batch."""
    import shutil

    if schema is None:
        from ..sources.fixtures import SOURCE_SCHEMA as schema

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        # one staged file per micro-batch: forces the multi-batch replay
        # path (merge-into-existing-table) instead of one giant batch
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(source_dir)
    backup_path = table_path + ".backup"

    def current_table_dir() -> str | None:
        if os.path.isdir(table_path):
            # crash between live-swap and backup-drop leaves both; live wins
            if os.path.isdir(backup_path):
                shutil.rmtree(backup_path)
            return table_path
        if os.path.isdir(backup_path):
            # crash between rotate-out and swap-in: backup holds the state
            return backup_path
        return None

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql.window import Window as W

        live = current_table_dir()
        if live is not None:
            current = spark.read.parquet(live)
            merged = current.unionByName(batch_df.select(*current.columns))
        else:
            merged = batch_df
        order = [F.col(version_col).desc()]
        if tiebreak_col is not None:
            order.append(F.col(tiebreak_col).desc())
        w = W.partitionBy(key_col).orderBy(*order)
        latest = (
            merged.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        staging = table_path + ".staging"
        latest.write.mode("overwrite").parquet(staging)
        if live == table_path:
            os.rename(table_path, backup_path)
        os.rename(staging, table_path)
        if os.path.isdir(backup_path):
            shutil.rmtree(backup_path)

    q = (
        stream.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def sliding_window_counts(
    spark: SparkSession,
    events_path: str,
    window_duration: str = "2 hours",
    slide: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Sliding-window counts in APPEND mode: each event lands in
    window/slide overlapping windows, and a window row is emitted only
    once the watermark passes its end (availableNow's trailing no-data
    batch finalizes against the post-drain watermark). Unlike the
    tumbling query (complete-mode semantics), this pins the append
    contract: open windows near the stream head are withheld."""
    from ..sources.catalog import _read_parquet_nanos_safe, normalize_event_ts

    batch_df = _read_parquet_nanos_safe(spark, events_path)
    stream = (
        spark.readStream.schema(batch_df.schema)
        .option("pathGlobFilter", os.path.basename(events_path))
        .parquet(os.path.dirname(events_path))
    )
    stream = normalize_event_ts(stream)
    agg = (
        stream.withWatermark("ts", watermark)
        .groupBy(
            F.window("ts", window_duration, slide).alias("w"),
            F.col("event_type"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )
    return _drain(agg, "append")


def chained_window_rollup(
    spark: SparkSession,
    events_path: str,
    watermark: str = "2 hours",
) -> DataFrame:
    """TWO chained stateful operators in one streaming query (hourly
    tumbling agg → daily rollup of the finalized hourly rows) — the
    continuous-aggregate cascade, using ``window_time`` to re-window the
    intermediate result. Append mode: a daily row is emitted only when
    the watermark passes the day end, by which point every hourly window
    inside it is final."""
    from ..sources.catalog import _read_parquet_nanos_safe, normalize_event_ts

    batch_df = _read_parquet_nanos_safe(spark, events_path)
    stream = (
        spark.readStream.schema(batch_df.schema)
        .option("pathGlobFilter", os.path.basename(events_path))
        .parquet(os.path.dirname(events_path))
    )
    stream = normalize_event_ts(stream)
    hourly = (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    daily = (
        hourly.groupBy(F.window(F.window_time("w"), "1 day").alias("d"))
        .agg(F.sum("n").alias("n_events"), F.count(F.lit(1)).alias("n_hours"))
        .select(F.col("d.start").alias("day_start"), "n_events", "n_hours")
    )
    return _drain(daily, "append")


def late_data_window_counts(
    spark: SparkSession,
    events_path: str,
    window_duration: str = "1 hour",
    delay: str = "2 hours",
) -> DataFrame:
    """REAL late-data drop semantics, deterministically: stage the events
    into THREE parquet files — A (history: ts < 2024-01-20, even ids),
    B (fresh data: ts >= 2024-01-20, advances the watermark far past A),
    C (stragglers: ts < 2024-01-10, odd ids, arriving last) — force the
    file order (mtime + maxFilesPerTrigger=1 + availableNow), and run a
    watermarked tumbling-window count in APPEND mode.

    By the time C arrives, B has advanced the watermark ~10+ days past
    every C row and A's windows are evicted, so ALL of C is dropped by
    the watermark (observed as numRowsDroppedByWatermark) — the core
    correctness contract of watermarking, not just the happy path. Two
    batches would NOT exercise it: Spark's late-record filter lags the
    eviction watermark by one batch, so a second batch's stragglers merge
    into still-live state instead of dropping. C sits ≥9 days below
    either candidate watermark, so the result is insensitive to that
    off-by-one and is a pure function of the input: append emits exactly
    the windows whose end <= final watermark, counted over A ∪ B. The
    DuckDB oracle replicates the watermark arithmetic (ms truncation
    included)."""
    import shutil

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    # per-run unique staging dir: concurrent runs over the same events
    # file must not race on each other's files, and nothing may be left
    # behind after the drain (cleanup in the finally below)
    stage = tempfile.mkdtemp(prefix="late_stage_")
    t = pq.read_table(events_path)
    ts_idx = t.schema.get_field_index("ts")
    t = t.set_column(
        ts_idx, "ts", t.column("ts").cast(pa.timestamp("us"))
    )
    import datetime as _dt

    ts = t.column("ts")
    fresh_cut = pa.scalar(_dt.datetime(2024, 1, 20), type=pa.timestamp("us"))
    late_cut = pa.scalar(_dt.datetime(2024, 1, 10), type=pa.timestamp("us"))
    even = pc.equal(pc.bit_wise_and(t.column("event_id"), 1), 0)
    m_a = pc.and_(pc.less(ts, fresh_cut), even)
    m_b = pc.greater_equal(ts, fresh_cut)
    m_c = pc.and_(pc.less(ts, late_cut), pc.invert(even))
    pq.write_table(t.filter(m_a), os.path.join(stage, "a.parquet"))
    pq.write_table(t.filter(m_b), os.path.join(stage, "b.parquet"))
    pq.write_table(t.filter(m_c), os.path.join(stage, "c.parquet"))
    os.utime(os.path.join(stage, "a.parquet"), (1000, 1000))
    os.utime(os.path.join(stage, "b.parquet"), (2000, 2000))
    os.utime(os.path.join(stage, "c.parquet"), (3000, 3000))

    try:
        schema = spark.read.parquet(stage).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage)
        )
        from ..sources.catalog import normalize_event_ts

        stream = normalize_event_ts(stream)
        agg = (
            stream.withWatermark("ts", delay)
            .groupBy(
                F.window("ts", window_duration).alias("w"), F.col("event_type")
            )
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").alias("window_start"), "event_type", "n")
        )
        return _drain(agg, "append")
    finally:
        shutil.rmtree(stage, ignore_errors=True)


def events_upsert_serving(spark: SparkSession, events_path: str) -> DataFrame:
    """Latest-per-user serving table maintained by the foreachBatch
    upsert over THREE forced micro-batches: events staged into three
    files by event_id % 3 (mtime-ordered, maxFilesPerTrigger=1), merged
    latest-wins on (ts, event_id) per user. The final table equals the
    batch latest-per-key answer regardless of which batch each record
    arrived in — the incremental-materialization contract."""
    import shutil

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    stage = tempfile.mkdtemp(prefix="upsert_stage_")
    table_dir = os.path.join(stage, "serving")
    src_dir = os.path.join(stage, "src")
    os.makedirs(src_dir)
    t = pq.read_table(events_path)
    ts_idx = t.schema.get_field_index("ts")
    t = t.set_column(ts_idx, "ts", t.column("ts").cast(pa.timestamp("us")))
    ids = t.column("event_id")
    mod3 = pc.subtract(ids, pc.multiply(pc.divide(ids, 3), 3))
    for i in range(3):
        part = t.filter(pc.equal(mod3, i))
        p = os.path.join(src_dir, f"slice{i}.parquet")
        pq.write_table(part, p)
        os.utime(p, (1000 * (i + 1), 1000 * (i + 1)))
    try:
        schema = spark.read.parquet(src_dir).schema
        upsert_serving_table(
            spark,
            src_dir,
            table_dir,
            os.path.join(stage, "ckpt"),
            key_col="user_id",
            version_col="ts",
            schema=schema,
            tiebreak_col="event_id",
            max_files_per_trigger=1,
        )
        final = spark.read.parquet(table_dir).select(
            "user_id",
            F.col("ts").alias("last_ts"),
            F.col("event_type").alias("last_type"),
            F.col("value").alias("last_value"),
        )
        # the staged table dir is deleted in the finally, so materialize
        # driver-side before returning (150 rows — the serving table is
        # per-key by construction)
        rows = final.collect()
        return spark.createDataFrame(rows, final.schema)
    finally:
        shutil.rmtree(stage, ignore_errors=True)

def restart_state_recovery(
    spark: SparkSession,
    events_path: str,
    cut: str = "2024-01-15 12:00:00",
    window_duration: str = "1 day",
) -> DataFrame:
    """A GENUINE stop-and-restart from checkpoint: events before ``cut``
    are staged alone, a windowed count in UPDATE mode drains them and
    TERMINATES; the post-``cut`` file is then added and a brand-new
    query with the SAME checkpoint drains it. The offset log makes the
    second run skip file A entirely, and the state store carries the
    first run's window counts across the restart — so a window with
    rows on both sides of the cut emits its A-only count in run 1 and
    the combined A+B count in run 2 (n_updates = 2), which is only
    possible if recovered state merged with new input.

    Returns (window_start, event_type, n, n_updates) where ``n`` is the
    last emitted count per window — equal to the one-shot batch answer,
    the exactly-once restart contract. No watermark: update-mode state
    here is bounded by the window count; production adds a watermark
    for TTL (see ``late_data_window_counts`` for that contract)."""
    import shutil

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    import datetime as _dt

    stage = tempfile.mkdtemp(prefix="restart_stage_")
    src_dir = os.path.join(stage, "src")
    out_dir = os.path.join(stage, "out")
    ckpt = os.path.join(stage, "ckpt")
    os.makedirs(src_dir)
    t = pq.read_table(events_path)
    ts_idx = t.schema.get_field_index("ts")
    t = t.set_column(ts_idx, "ts", t.column("ts").cast(pa.timestamp("us")))
    cut_scalar = pa.scalar(
        _dt.datetime.fromisoformat(cut), type=pa.timestamp("us")
    )
    before = pc.less(t.column("ts"), cut_scalar)
    path_a = os.path.join(src_dir, "a.parquet")
    path_b = os.path.join(stage, "b.parquet")  # staged OUTSIDE src for now
    pq.write_table(t.filter(before), path_a)
    pq.write_table(t.filter(pc.invert(before)), path_b)

    try:
        schema = spark.read.parquet(path_a).schema
        from ..sources.catalog import normalize_event_ts
        from .stateful import _scoped_shuffle_partitions

        def run_drain() -> None:
            stream = spark.readStream.schema(schema).parquet(src_dir)
            stream = normalize_event_ts(stream)
            agg = (
                stream.groupBy(
                    F.window("ts", window_duration).alias("w"),
                    F.col("event_type"),
                )
                .agg(F.count(F.lit(1)).alias("n"))
                .select(
                    F.col("w.start").alias("window_start"), "event_type", "n"
                )
            )

            def write_batch(batch_df: DataFrame, batch_id: int) -> None:
                batch_df.withColumn(
                    "batch_id", F.lit(batch_id)
                ).write.mode("append").parquet(out_dir)

            with _scoped_shuffle_partitions(spark, 8):
                q = (
                    agg.writeStream.foreachBatch(write_batch)
                    .outputMode("update")
                    .option("checkpointLocation", ckpt)
                    .trigger(availableNow=True)
                    .start()
                )
                q.awaitTermination()

        run_drain()                      # run 1: file A only, then STOP
        os.replace(path_b, os.path.join(src_dir, "b.parquet"))
        run_drain()                      # run 2: same checkpoint, B only

        emitted = spark.read.parquet(out_dir)
        final = (
            emitted.groupBy("window_start", "event_type")
            .agg(
                F.max_by("n", "batch_id").alias("n"),
                F.count(F.lit(1)).cast("int").alias("n_updates"),
            )
        )
        rows = final.collect()           # stage dir is deleted below
        return spark.createDataFrame(rows, final.schema)
    finally:
        shutil.rmtree(stage, ignore_errors=True)

def stream_stream_left_semi_join(
    spark: SparkSession,
    events_path: str,
    left_type: str = "purchase",
    right_type: str = "click",
    max_lag: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked stream-stream LEFT SEMI join: emit each purchase once
    as soon as ANY qualifying click exists — the streaming existence
    filter (no click columns, no duplicate purchases when several
    clicks match). Same state bounds as the inner join; the semi form
    additionally guarantees single emission per left row."""
    ev = _event_stream(spark, events_path)
    left = (
        ev.filter(F.col("event_type") == left_type)
        .withWatermark("ts", watermark)
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("purchase_ts"),
        )
    )
    right = (
        ev.filter(F.col("event_type") == right_type)
        .withWatermark("ts", watermark)
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("click_user"),
            F.col("ts").alias("click_ts"),
        )
    )
    joined = left.join(
        right,
        (F.col("user_id") == F.col("click_user"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr(f"INTERVAL {max_lag}"))
        & (F.col("click_ts") <= F.col("purchase_ts")),
        "leftSemi",
    ).select("user_id", "purchase_id")
    return _drain(joined, "append")
