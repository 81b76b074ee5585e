"""The export pipeline — the reference's one real "query", Spark-first.

Reference dataflow (JobConfiguration.kt:31-76):
    partition → scan → envelope parse → decrypt → validate/normalize
    → sanitise → transform → byte-capped encrypted JSONL + manifest CSV

Spark expression: a single narrow (shuffle-free, except optional
latest-per-key) DataFrame pipeline. The whole HTME dataflow has no
join/agg, so at 100 TB it scales linearly with input splits; the only
Python stages are the decrypt and normalize pandas UDFs (Arrow-batched),
everything else is whole-stage-codegen column work.

The prefix up to sanitise is one tagged frame (record columns plus
``error``); records and quarantine are filters of it. ``run_export``
caches it once, so each (nondeterministic) UDF runs once per row.
"""

from __future__ import annotations

import logging
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import crypto, sanitise
from ..functions.normalize import normalize_udf
from ..sources import envelope as env

logger = logging.getLogger(__name__)


@dataclass
class ExportConfig:
    """Parameter surface mirroring the reference's Spring properties
    (README.md:37-109 of the reference)."""

    topic: str
    output_dir: str
    manifest_dir: str | None = None
    blocked_topics: str | None = None           # blocked.topics
    ts_start: int | None = None                 # scan.time.range.start (epoch ms)
    ts_end: int | None = None                   # scan.time.range.end
    snapshot_type: str = "full"                 # snapshot.type: full|incremental
    compression: str = "gzip"                   # bzip2|gzip|lz4 (S6)
    max_batch_bytes: int = 100_000_000          # output.batch.size.max.bytes
    strict_sink: bool = False                   # HTME naming + byte-cap + encryption
    scan_width: int = 5                         # scan.width (split naming in strict mode)
    signed_splits: bool = False                 # reference signed-byte split names
    encrypt_output: bool = False                # S7 (strict sink only)
    plaintext_payloads: bool = False            # fixture mode: dbObject is raw JSON
    assume_unique_keys: bool = True             # HBase already returns latest cell
    key_service: Callable[[str, str], bytes] = field(
        default=crypto.local_key_service, repr=False
    )
    # output-side data-key provider (DKS batchDataKey; one key per run)
    batch_data_key: Callable[[], "crypto.DataKeyResult"] = field(
        default=crypto.local_batch_data_key, repr=False
    )
    # object-store seam for the strict sink (None → LocalObjectStore)
    object_store: object | None = field(default=None, repr=False)


@dataclass
class ExportResult:
    topic: str
    status: str                 # Exported | Export_Failed | Blocked_Topic | ...
    records: int
    quarantined: int
    files: list[str]
    manifest_files: list[str]
    metrics: dict = field(default_factory=dict)  # the sink's row/byte counters
    error: str | None = None    # "<Type>: <message>" of a failed export


def _tagged(source: DataFrame, cfg: ExportConfig) -> DataFrame:
    """The envelope → sanitise prefix as one frame: the ``records`` columns
    plus ``error`` (null for a good row)."""
    env.check_blocked_topic(cfg.topic, cfg.blocked_topics)

    df = env.latest_per_key(
        source,
        ts_start=cfg.ts_start,
        ts_end=cfg.ts_end,
        assume_unique_keys=cfg.assume_unique_keys,
    )
    df = env.parse_envelope(df, topic=cfg.topic).withColumnRenamed("ts", "manifest_ts")
    good, missing = env.split_mandatory(df)

    payload = F.col("db_object")
    if not cfg.plaintext_payloads:
        decrypt = crypto.make_decrypt_udf(cfg.key_service)
        payload = decrypt(payload, F.col("encrypted_key"), F.col("kek_id"), F.col("iv"))

    # rowkey id = UTF-8 of the key minus its 4-byte spreading checksum
    # (Validator.kt:32-33). A failed decrypt (null payload) comes back as
    # norm.error "no decrypted payload".
    rowkey_id = F.decode(F.expr("substring(key, 5, length(key) - 4)"), "UTF-8")
    good = good.withColumn(
        "norm",
        normalize_udf(
            payload, rowkey_id, F.col("db"), F.col("collection"), F.col("last_modified")
        ),
    )

    record = sanitise.sanitise(
        F.col("norm.record_json"), F.col("db"), F.col("collection")
    )
    record = sanitise.apply_topic_transform(record, F.col("inner_type"), cfg.topic)

    good = good.select(
        record.alias("record"),
        F.col("norm.manifest_id").alias("manifest_id"),
        "manifest_ts",
        "db",
        "collection",
        F.lit("EXPORT").alias("manifest_source"),
        "outer_type",
        "inner_type",
        F.col("norm.manifest_original_id").alias("manifest_original_id"),
        "key",
        F.col("norm.error").alias("error"),
    )
    reason = F.lit("missing mandatory field").alias("error")
    missing = missing.select("key", "manifest_ts", "db", "collection", reason)
    return good.unionByName(missing, allowMissingColumns=True)


def _split(tagged: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(records, quarantine) as filters of the tagged frame; a row with
    neither record nor error is the reference's silent drop (gson null)."""
    records = tagged.filter(
        F.col("error").isNull() & F.col("record").isNotNull()
    ).drop("error")
    quarantine = tagged.filter(F.col("error").isNotNull()).select(
        "key", F.col("manifest_ts").alias("ts"), "db", "collection", "error"
    )
    return records, quarantine


def build_export(
    source: DataFrame, cfg: ExportConfig
) -> tuple[DataFrame, DataFrame]:
    """Build (records, quarantine) DataFrames for an export; no actions run.

    ``records`` columns: record (final output line, string), manifest_id,
    manifest_ts, db, collection, manifest_source, outer_type, inner_type,
    manifest_original_id, key. Each output is its own plan over the source;
    ``run_export`` materializes their shared prefix once instead.
    """
    return _split(_tagged(source, cfg))


def run_export(
    spark: SparkSession,
    source,  # DataFrame | Callable[[], DataFrame]
    cfg: ExportConfig,
    correlation_id: str = "run",
    status_store=None,
    notifier=None,
    metrics=None,
) -> ExportResult:
    """Execute an export end-to-end: build, write snapshot + manifest,
    record status and emit notifications (reference afterJob semantics,
    JobCompletionNotificationListener.kt:47-97; per-file A2 increments at
    S3StreamingWriter.kt:131-132).

    ``status_store``/``notifier`` follow plans.status.LocalStatusStore /
    LocalNotifier; ``metrics`` is a plans.metrics.MetricsRegistry whose
    counters mirror the reference's pushgateway metrics. Pass AWS/
    Prometheus-backed implementations in production."""
    from . import sink  # local import to avoid a cycle

    collection = cfg.topic.rsplit(".", 1)[-1]

    def set_status(status: str, files: int = 0) -> None:
        if status_store is not None:
            status_store.set_status(correlation_id, collection, status, files)

    from ..operators import _cache as op_cache
    from ..sources.catalog import TableUnavailableError

    tagged = None
    try:
        # `source` may be a DataFrame or a zero-arg loader (the loader form
        # lets a missing table surface here and fold to Table_Unavailable)
        if callable(source):
            source = source()
        # The export's one materialization: every job below reads it.
        tagged = op_cache.reuse(_tagged(source, cfg))
        set_status("Exporting")
        records, quarantine = _split(tagged)
        written = sink.write_snapshot(records, cfg)
        n_quarantined = quarantine.count()
        if status_store is not None:
            for _ in written.files:
                status_store.increment_exported_count(correlation_id, collection)
        if notifier is not None:
            for f in written.files:
                notifier.notify_snapshot_sender(cfg.topic, f)
            if not written.files:
                notifier.notify_no_files_exported(cfg.topic)
        set_status("Exported", len(written.files))
        if metrics is not None:
            metrics.inc("records_processed", written.records)
            metrics.inc("records_failed", n_quarantined)
            metrics.inc("files_written", len(written.files))
        return ExportResult(
            cfg.topic,
            "Exported",
            written.records,
            n_quarantined,
            written.files,
            written.manifest_files,
            metrics={
                "rows_exported": written.records,
                "uncompressed_bytes": written.uncompressed_bytes,
            },
        )
    except env.BlockedTopicError:
        set_status("Blocked_Topic")
        return ExportResult(cfg.topic, "Blocked_Topic", 0, 0, [], [])
    except Exception as e:
        # One failure path for building the tagged frame and for every
        # action on it. A missing source table is NOT a generic failure:
        # the reference distinguishes TableNotFoundException and records
        # Table_Unavailable (JobCompletionNotificationListener.kt:69-91);
        # the loader raises it eagerly, and Spark surfaces the same
        # condition lazily as AnalysisException PATH_NOT_FOUND /
        # TABLE_OR_VIEW_NOT_FOUND when the action runs.
        unavailable = isinstance(e, TableUnavailableError) or (
            getattr(e, "getCondition", None) is not None
            and (e.getCondition() or "")
            in ("PATH_NOT_FOUND", "TABLE_OR_VIEW_NOT_FOUND")
        )
        status = "Table_Unavailable" if unavailable else "Export_Failed"
        logger.exception("export of %s ended %s", cfg.topic, status)
        set_status(status)
        if metrics is not None:
            metrics.inc("export_failures")
        return ExportResult(
            cfg.topic, status, 0, 0, [], [], error=f"{type(e).__name__}: {e}"
        )
    finally:
        op_cache.release(tagged)
