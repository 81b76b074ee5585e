"""Structured Streaming tests: windowed aggregation equals its batch
answer; incremental export drains the source exactly once and resumes
from its checkpoint."""

import glob
import gzip
import json
import os

import pytest

from hbase_to_mongo_export_spark.plans.export import ExportConfig
from hbase_to_mongo_export_spark.sources import fixtures
from hbase_to_mongo_export_spark.streaming import (
    incremental_export,
    windowed_event_counts,
)


def test_windowed_counts_equal_batch(spark, sf_dir, tables):
    from pyspark.sql import functions as F

    out = windowed_event_counts(
        spark, os.path.join(sf_dir, "events.parquet"), window_duration="1 hour"
    )
    batch = (
        tables["events"]
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "sum_value")
    )
    got = sorted(map(str, out.collect()))
    expect = sorted(map(str, batch.collect()))
    assert got == expect


def test_incremental_export_with_checkpoint_resume(spark, tmp_path):
    src_dir = str(tmp_path / "src")
    os.makedirs(src_dir)
    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "out")

    # batch 1: 20 records
    fixtures.source_records(spark, n=20).write.mode("append").parquet(src_dir)
    cfg = ExportConfig(
        topic="db.database.collection",
        output_dir=out_dir,
        manifest_dir=str(tmp_path / "manifest"),
    )
    incremental_export(spark, src_dir, cfg, ckpt)
    lines1 = []
    for f in glob.glob(os.path.join(out_dir, "batch=*", "part-*.gz")):
        with gzip.open(f, "rt", encoding="utf-8") as fh:
            lines1 += fh.read().splitlines()
    assert len(lines1) == 20
    for ln in lines1:
        json.loads(ln)

    # batch 2: 10 more records appended; checkpoint must skip the first 20
    fixtures.source_records(spark, n=10, database="database2").write.mode(
        "append"
    ).parquet(src_dir)
    incremental_export(spark, src_dir, cfg, ckpt)
    lines2 = []
    for f in glob.glob(os.path.join(out_dir, "batch=*", "part-*.gz")):
        with gzip.open(f, "rt", encoding="utf-8") as fh:
            lines2 += fh.read().splitlines()
    assert len(lines2) == 30  # 20 from batch 0 + 10 new, no reprocessing dupes


def test_incremental_export_blocked_topic_fails_stream(spark, tmp_path):
    """A micro-batch that does not end Exported fails the stream, so the
    checkpoint cannot advance past it; a blocked topic writes nothing."""
    src_dir = str(tmp_path / "src")
    out_dir = str(tmp_path / "out")
    fixtures.source_records(spark, n=5).write.parquet(src_dir)
    cfg = ExportConfig(
        topic="db.blocked.topic",
        output_dir=out_dir,
        manifest_dir=str(tmp_path / "manifest"),
        blocked_topics="db.blocked.topic",
    )
    ckpt = str(tmp_path / "ckpt")
    with pytest.raises(Exception, match="Blocked_Topic"):
        incremental_export(spark, src_dir, cfg, ckpt)
    assert not os.path.exists(os.path.join(ckpt, "commits", "0"))
    assert not glob.glob(os.path.join(out_dir, "batch=*"))
    assert not glob.glob(os.path.join(str(tmp_path / "manifest"), "batch=*"))


def test_stateful_running_user_stats_equals_batch(spark, sf_dir, tables):
    from pyspark.sql import functions as F

    from hbase_to_mongo_export_spark.streaming.stateful import running_user_stats

    out = running_user_stats(spark, os.path.join(sf_dir, "events.parquet"))
    batch = (
        tables["events"]
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
            F.max("ts").alias("last_ts"),
        )
    )
    got = sorted(map(str, out.collect()))
    expect = sorted(map(str, batch.collect()))
    assert got == expect


def test_session_timeout_windows_match_batch_sessionize(spark, sf_dir, tables):
    """Emitted sessions = gap-split sessions whose end+gap < max(ts):
    in-batch closures plus event-time-timeout evictions from the no-data
    micro-batch."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from hbase_to_mongo_export_spark.streaming.stateful import (
        session_windows_timeout,
    )

    out = session_windows_timeout(spark, os.path.join(sf_dir, "events.parquet"))

    ev = tables["events"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    new_s = F.when(
        prev.isNull() | (F.col("ts").cast("long") - prev.cast("long") > 1800), 1
    ).otherwise(0)
    sid = F.sum("new_s").over(
        Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    batch = (
        ev.withColumn("new_s", new_s)
        .withColumn("sid", sid)
        .groupBy("user_id", "sid")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .filter(F.col("session_end") + F.expr("INTERVAL 30 MINUTE") < F.lit(max_ts))
        .drop("sid")
    )
    got = sorted(map(str, out.select(*batch.columns).collect()))
    expect = sorted(map(str, batch.collect()))
    assert len(got) > 0 and got == expect


def test_stateful_user_stats_under_rocksdb_state_store(spark, sf_dir, tables):
    """The stateful aggregation produces identical results when the state
    store is RocksDB-backed (the at-scale configuration)."""
    from pyspark.sql import functions as F

    from hbase_to_mongo_export_spark.streaming.stateful import (
        ROCKSDB_PROVIDER,
        rocksdb_state,
        running_user_stats,
    )

    with rocksdb_state(spark) as s:
        assert s.conf.get(
            "spark.sql.streaming.stateStore.providerClass"
        ) == ROCKSDB_PROVIDER
        out = running_user_stats(s, os.path.join(sf_dir, "events.parquet"))
        got = sorted(map(str, out.collect()))
    batch = (
        tables["events"]
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
            F.max("ts").alias("last_ts"),
        )
    )
    assert got == sorted(map(str, batch.collect()))


def test_stream_static_enrichment_equals_batch(spark, sf_dir, tables):
    """Stream-static broadcast join + aggregate == the same plan in batch."""
    import os as _os

    from pyspark.sql import functions as F

    from hbase_to_mongo_export_spark.sources.catalog import load_table
    from hbase_to_mongo_export_spark.streaming.incremental import (
        stream_static_enrichment,
    )

    events_path = _os.path.join(sf_dir, "events.parquet")
    # synthetic dimension: user cohort = user_id % 5
    dim = (
        load_table(spark, sf_dir, "events")
        .select("user_id").distinct()
        .withColumn("cohort", (F.col("user_id") % 5).cast("int"))
    )
    got = stream_static_enrichment(spark, events_path, dim).collect()
    ev = load_table(spark, sf_dir, "events")
    want = (
        ev.join(dim, "user_id")
        .groupBy("cohort")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")), 4)
            .cast("double")
            .alias("sum_value"),
        )
        .collect()
    )
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_transform_with_state_distinct_types_equals_batch(spark, sf_dir, tables):
    """transformWithStateInPandas (ValueState + ListState) == batch
    groupBy countDistinct. Skips where the protobuf runtime (required by
    the TWS state-server protocol) is absent."""
    import os as _os

    import pytest

    from hbase_to_mongo_export_spark.streaming.stateful import (
        transform_with_state_available,
    )

    if not transform_with_state_available():
        with pytest.raises(NotImplementedError, match="protobuf"):
            from hbase_to_mongo_export_spark.streaming.stateful import (
                distinct_types_per_user,
            )

            distinct_types_per_user(spark, _os.path.join(sf_dir, "events.parquet"))
        pytest.skip("google-protobuf runtime not installed in this container")

    from pyspark.sql import functions as F

    from hbase_to_mongo_export_spark.sources.catalog import load_table
    from hbase_to_mongo_export_spark.streaming.stateful import (
        distinct_types_per_user,
    )

    got = distinct_types_per_user(
        spark, _os.path.join(sf_dir, "events.parquet")
    ).collect()
    ev = load_table(spark, sf_dir, "events")
    want = (
        ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("event_type").alias("n_event_types"),
        )
        .collect()
    )
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_upsert_serving_table_keeps_latest_version(spark, tmp_path):
    """foreachBatch latest-wins upsert == batch latest-per-key over the
    full history, regardless of micro-batch boundaries."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    from hbase_to_mongo_export_spark.sources import fixtures
    from hbase_to_mongo_export_spark.streaming.incremental import (
        upsert_serving_table,
    )

    src_dir = str(tmp_path / "src")
    # two generations of the same keys with different timestamps
    gen1 = fixtures.source_records(spark, n=50)
    gen2 = fixtures.source_records(spark, n=30).withColumn(
        "ts", F.col("ts") + 1000
    )
    gen1.write.mode("overwrite").parquet(src_dir)
    gen2.write.mode("append").parquet(src_dir)

    table = str(tmp_path / "serving")
    upsert_serving_table(
        spark, src_dir, table, str(tmp_path / "ckpt"), key_col="key",
        version_col="ts",
    )

    got = spark.read.parquet(table)
    full = spark.read.parquet(src_dir)
    w = W.partitionBy("key").orderBy(F.col("ts").desc())
    want = (
        full.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    assert got.count() == want.count()
    joined = got.alias("g").join(
        want.alias("w"), F.col("g.key") == F.col("w.key")
    )
    assert joined.filter(F.col("g.ts") != F.col("w.ts")).count() == 0


def test_streaming_observed_metrics(spark, sf_dir, tables):
    """observe() on a streaming DataFrame: per-batch row counters arrive
    via the query progress (the streaming face of the reference's A1
    running counters)."""
    import os as _os

    from pyspark.sql import functions as F

    from hbase_to_mongo_export_spark.streaming.incremental import _event_stream

    ev = _event_stream(spark, _os.path.join(sf_dir, "events.parquet")).observe(
        "a1_counters", F.count(F.lit(1)).alias("rows_read")
    )
    import tempfile
    import uuid

    sink = f"obs_{uuid.uuid4().hex[:8]}"
    q = (
        ev.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .option(
            "checkpointLocation",
            _os.path.join(tempfile.gettempdir(), f"ckpt_{uuid.uuid4().hex[:8]}"),
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    observed = sum(
        p.observedMetrics["a1_counters"].rows_read
        for p in q.recentProgress
        if "a1_counters" in (p.observedMetrics or {})
    )
    total = spark.table(sink).count()
    assert observed == total > 0


def test_upsert_serving_table_recovers_from_backup(spark, tmp_path):
    """Crash window between rotate-out and swap-in leaves only the backup
    dir; the next merge must treat it as the current state."""
    import os as _os
    import shutil

    from pyspark.sql import functions as F

    from hbase_to_mongo_export_spark.sources import fixtures
    from hbase_to_mongo_export_spark.streaming.incremental import (
        upsert_serving_table,
    )

    src_dir = str(tmp_path / "src")
    fixtures.source_records(spark, n=20).write.parquet(src_dir)
    table = str(tmp_path / "serving")
    upsert_serving_table(spark, src_dir, table, str(tmp_path / "ckpt1"))
    assert spark.read.parquet(table).count() == 20

    # simulate the crash: live rotated to backup, swap-in never happened
    shutil.move(table, table + ".backup")
    fixtures.source_records(spark, n=5).withColumn(
        "ts", F.col("ts") + 100_000
    ).write.mode("append").parquet(src_dir)
    upsert_serving_table(spark, src_dir, table, str(tmp_path / "ckpt2"))

    got = spark.read.parquet(table)
    assert got.count() == 20  # one row per key, prior state recovered
    assert not _os.path.isdir(table + ".backup")
    # the 5 re-versioned keys carry the new timestamp
    assert got.filter(F.col("ts") >= 100_000).count() == 5


def test_python_datasource_stream_microbatches(spark, tmp_path):
    """Streaming half of the Python DataSource API: the envelope fixture
    as a micro-batch stream with record-index offsets; all rows arrive,
    batches are bounded by the batch option, and offset ranges replay
    deterministically (exactly-once recovery contract)."""
    from hbase_to_mongo_export_spark.sources.python_source import (
        EnvelopeFixtureStreamReader,
        register_python_sources,
    )

    register_python_sources(spark)
    stream = (
        spark.readStream.format("envelope_fixture")
        .option("n", 100)
        .option("batch", 30)
        .load()
    )
    import uuid

    name = f"pyds_stream_{uuid.uuid4().hex[:6]}"
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out = spark.table(name).collect()
    assert len(out) == 100
    assert len({bytes(r.key) for r in out}) == 100

    # offset replay is deterministic
    r = EnvelopeFixtureStreamReader({"n": "100", "batch": "30"})
    a = list(r.readBetweenOffsets({"i": 30}, {"i": 60}))
    b = list(r.readBetweenOffsets({"i": 30}, {"i": 60}))
    assert a == b and len(a) == 30


def test_upsert_serving_table_tiebreak_and_multibatch(spark, tmp_path):
    """Version ties on the version column must break by the tiebreak
    column (highest wins), and maxFilesPerTrigger=1 must replay the same
    final state across three forced micro-batches."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hbase_to_mongo_export_spark.streaming.incremental import (
        upsert_serving_table,
    )

    src = tmp_path / "src"
    src.mkdir()
    # three files -> three batches; key 'a' has a version TIE at v=5
    # split across batches (seq 2 in batch0, seq 9 in batch2)
    batches = [
        [("a", 5, 2, "first"), ("b", 1, 1, "old-b")],
        [("b", 7, 3, "new-b")],
        [("a", 5, 9, "tiebreak-wins"), ("c", 2, 4, "only-c")],
    ]
    schema = pa.schema(
        [("key", pa.string()), ("v", pa.int64()), ("seq", pa.int64()),
         ("payload", pa.string())]
    )
    for i, rows in enumerate(batches):
        t = pa.Table.from_pylist(
            [dict(zip(("key", "v", "seq", "payload"), r)) for r in rows],
            schema=schema,
        )
        p = src / f"b{i}.parquet"
        pq.write_table(t, str(p))
        import os

        os.utime(p, (1000 * (i + 1), 1000 * (i + 1)))

    table = str(tmp_path / "serving")
    upsert_serving_table(
        spark,
        str(src),
        table,
        str(tmp_path / "ckpt"),
        key_col="key",
        version_col="v",
        schema=spark.read.parquet(str(src)).schema,
        tiebreak_col="seq",
        max_files_per_trigger=1,
    )
    rows = {r.key: (r.v, r.seq, r.payload)
            for r in spark.read.parquet(table).collect()}
    assert rows == {
        "a": (5, 9, "tiebreak-wins"),
        "b": (7, 3, "new-b"),
        "c": (2, 4, "only-c"),
    }
