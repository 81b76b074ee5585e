"""Snapshot + manifest sinks.

Two modes:

- **native** (default, the 100 TB path): `df.write.text` with a Spark
  compression codec for the snapshot, and a pipe-delimited CSV dataset for
  the manifest. Catalyst/Tungsten handle parallelism; file size is governed
  by partition size (`spark.sql.files.maxRecordsPerFile` if needed). Two
  jobs, snapshot then manifest; the snapshot job carries the in-flight
  observe() counters. The caller owns materializing the plan.

- **strict** (fidelity mode): reproduces the reference's byte-capped,
  %06d-numbered, optionally AES-CTR-encrypted batch files plus per-batch
  manifest CSVs (S3StreamingWriter.kt:73-189) in a single pass via
  `mapPartitions` — the honest Spark mapping for a sink Spark's writer
  cannot express (uncompressed-byte caps, close-time file numbering).

Strict-mode fidelity details mirrored from the reference:
- rotation check is `batchSizeBytes + len(item) > cap or batchSizeBytes == 0`
  *before* append, so the first record always opens a batch and a single
  oversized record still gets written (S3StreamingWriter.kt:78-80);
- size accounting counts string length (UTF-16 units in Kotlin; code points
  here), not encoded bytes — a deliberate quirk copy;
- data files are numbered from -000001 while each batch's manifest carries
  the pre-increment counter (-000000 for the first) — the reference
  increments the counter when a batch opens and names data objects at close
  time (S3StreamingWriter.kt:99-101,155-159; UberTestSpec.kt:533-552);
- manifest rows are CSV-escaped (quote when a comma/quote/CR/LF is present,
  quotes doubled) though the delimiter is '|' (DomainClasses.kt:85-88);
- file layout: <dir>/<topic>-<start:03d>-<stop:03d>-%06d.txt[.gz][.enc];
  split bounds come from the first rowkey byte / scan.width. Two split
  schemes: unsigned [i*w, (i+1)*w) (default), or `signed_splits=True` which
  reproduces the reference partitioner's signed-byte wraparound exactly —
  negative byte values first, names %03d of ABSOLUTE start/stop
  (HBasePartitioner.kt:12-37, S3StreamingWriter.kt:189), so e.g. width 40
  yields 128-088, 088-048, 048-008, 008-000, 000-040, 040-080, 080-120,
  120-128 (the golden names of UberTestSpec.kt:533-552);
- encrypted objects carry user metadata iv / cipherText (the ENCRYPTED data
  key) / dataKeyEncryptionKeyId / data_product / data_product_type through a
  pluggable object store (S3ObjectServiceImpl.kt:24-47); the local backend
  writes a .meta.json sidecar, an S3 backend passes them as object metadata.
"""

from __future__ import annotations

import base64
import bz2 as bz2mod
import gzip as gzipmod
import json
import os
from dataclasses import dataclass
from typing import Iterable, Iterator

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from ..functions import crypto
from .export import ExportConfig

MANIFEST_COLUMNS = (
    "manifest_id",
    "manifest_ts",
    "db",
    "collection",
    "manifest_source",
    "outer_type",
    "manifest_original_id",
    "inner_type",
)


def csv_escape_col(c: Column) -> Column:
    """commons-text escapeCsv as a column expression: wrap in quotes (and
    double embedded quotes) iff the value contains , " CR or LF."""
    needs = c.rlike('[,"\r\n]')
    quoted = F.concat(F.lit('"'), F.replace(c, F.lit('"'), F.lit('""')), F.lit('"'))
    return F.when(needs, quoted).otherwise(c)


def manifest_line_col() -> Column:
    """Pipe-joined, CSV-escaped manifest line (DomainClasses.kt:85-88):
    id|timestamp|db|collection|source|externalOuterSource|originalId|externalInnerSource
    """
    cols = [csv_escape_col(F.col(c).cast("string")) for c in MANIFEST_COLUMNS]
    return F.concat_ws("|", *cols)


def csv_escape(value: str) -> str:
    if any(ch in value for ch in ',"\r\n'):
        return '"' + value.replace('"', '""') + '"'
    return value


def manifest_csv_line(row) -> str:
    return "|".join(csv_escape(str(row[c])) for c in MANIFEST_COLUMNS) + "\n"


@dataclass
class WrittenOutput:
    records: int
    files: list[str]
    manifest_files: list[str]
    uncompressed_bytes: int  # record bytes excl. newlines


def write_snapshot(records: DataFrame, cfg: ExportConfig) -> WrittenOutput:
    if cfg.strict_sink:
        return _write_strict(records, cfg)
    return _write_native(records, cfg)


def _write_native(records: DataFrame, cfg: ExportConfig) -> WrittenOutput:
    """Spark-native two-output write; the counters ride the snapshot write
    (the reference's running A1 counters)."""
    manifest_dir = cfg.manifest_dir or os.path.join(cfg.output_dir, "_manifest")
    obs = Observation("export_metrics")
    (
        records.observe(
            obs,
            F.count(F.lit(1)).alias("records"),
            F.coalesce(F.sum(F.length("record")), F.lit(0)).alias("uncompressed_bytes"),
        )
        .select("record")
        .write.mode("overwrite")
        .option("compression", cfg.compression)
        .text(cfg.output_dir)
    )
    (
        records.select(manifest_line_col().alias("value"))
        .write.mode("overwrite")
        .text(manifest_dir)
    )
    files, manifests = _list_parts(cfg.output_dir), _list_parts(manifest_dir)
    return WrittenOutput(files=files, manifest_files=manifests, **obs.get)


def _list_parts(path: str) -> list[str]:
    """Output-file listing for local paths; remote URIs (s3a://, hdfs://)
    are enumerated by the object store's lister downstream — return empty
    rather than pretending os.listdir works there."""
    if "://" in path and not path.startswith("file://"):
        return []
    local = path[len("file://"):] if path.startswith("file://") else path
    if not os.path.isdir(local):
        return []
    return sorted(
        os.path.join(local, f) for f in os.listdir(local) if f.startswith("part-")
    )


def _lz4_compress(b: bytes) -> bytes:
    # framed LZ4, matching the reference's FramedLZ4CompressorOutputStream
    # profile (ContextConfiguration.kt:19-50)
    import lz4.frame

    return lz4.frame.compress(b)


_COMPRESSORS = {
    "gzip": (lambda b: gzipmod.compress(b, mtime=0), "gz"),
    "bzip2": (lambda b: bz2mod.compress(b), "bz2"),
    "lz4": (_lz4_compress, "lz4"),
    "none": (lambda b: b, "txt"),
}


def check_compression(codec: str) -> None:
    """Fail loudly for unknown or unavailable codecs — never substitute
    silently (a user asking for lz4 must get lz4 or an error)."""
    if codec not in _COMPRESSORS:
        raise ValueError(
            f"unknown compression {codec!r}; choose one of "
            f"{sorted(_COMPRESSORS)}"
        )
    if codec == "lz4":
        try:
            import lz4.frame  # noqa: F401
        except ImportError:
            raise ValueError(
                "lz4 output compression requires the python 'lz4' package "
                "(framed LZ4, ContextConfiguration.kt:19-50); it is not "
                "installed — install it or choose gzip/bzip2"
            ) from None


class LocalObjectStore:
    """Filesystem backend for the object-store seam the strict sink writes
    through (the reference's S3ObjectService, S3ObjectServiceImpl.kt:24-47).
    Metadata becomes a .meta.json sidecar — the local analogue of S3 user
    metadata."""

    def put_object(
        self, path: str, payload: bytes, metadata: dict | None = None
    ) -> None:
        with open(path, "wb") as fh:
            fh.write(payload)
        if metadata:
            with open(path + ".meta.json", "w", encoding="utf-8") as fh:
                json.dump(metadata, fh)

    def put_text(self, path: str, lines: list[str]) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            fh.writelines(lines)


class S3ObjectStore:
    """boto3 backend: metadata rides as real S3 user metadata, byte-for-byte
    the reference's putObject mapping (x-amz-meta-title + iv + cipherText +
    dataKeyEncryptionKeyId + data_product + data_product_type,
    S3ObjectServiceImpl.kt:37-47). Retries come from botocore's standard
    retry config (the reference uses @Retryable, S3ObjectServiceImpl.kt:19-22).
    """

    def __init__(self, bucket: str, client=None) -> None:
        if client is None:
            try:
                import boto3
            except ImportError:
                raise ValueError(
                    "S3ObjectStore requires boto3 (not installed); pass an "
                    "explicit client or use LocalObjectStore"
                ) from None
            client = boto3.client("s3")
        self.bucket = bucket
        self.client = client

    def put_object(
        self, path: str, payload: bytes, metadata: dict | None = None
    ) -> None:
        self.client.put_object(
            Bucket=self.bucket,
            Key=path.lstrip("/"),
            Body=payload,
            ContentType="binary/octetstream",
            Metadata=metadata or {},
        )

    def put_text(self, path: str, lines: list[str]) -> None:
        self.client.put_object(
            Bucket=self.bucket,
            Key=path.lstrip("/"),
            Body="".join(lines).encode("utf-8"),
        )


def object_metadata(
    object_key: str,
    iv_b64: str,
    data_key: "crypto.DataKeyResult",
    topic: str,
    snapshot_type: str,
) -> dict:
    """User-metadata mapping of S3ObjectServiceImpl.objectMetadata():
    the ENCRYPTED data key (cipherText) + KEK id travel with the object;
    the plaintext key never leaves the process."""
    return {
        "x-amz-meta-title": object_key,
        "iv": iv_b64,
        "cipherText": data_key.ciphertext_data_key,
        "dataKeyEncryptionKeyId": data_key.data_key_encryption_key_id,
        "data_product": topic,
        "data_product_type": snapshot_type,
    }


def _split_name_fn(topic: str, width: int, signed: bool):
    """Return (n_splits, name(idx)) for the chosen split scheme.

    Signed scheme = the reference partitioner: indices 0..n_neg-1 cover the
    negative first-byte ranges [-128+i*w, min(-128+(i+1)*w, 0)), then the
    non-negative ranges [j*w, j*w+w) with the last stop wrapping to
    Byte.MIN_VALUE (named by absolute value, so 128)
    (HBasePartitioner.kt:16-34, S3StreamingWriter.kt:189)."""
    if not signed:
        n_splits = (256 + width - 1) // width

        def name(idx: int) -> str:
            start = idx * width
            stop = (idx + 1) * width
            stop = 0 if stop >= 256 else stop
            return f"{topic}-{start:03d}-{stop:03d}"

        return n_splits, name

    n_neg = (128 + width - 1) // width
    n_pos = (128 + width - 1) // width

    def name(idx: int) -> str:
        if idx < n_neg:
            start = -128 + idx * width
            stop = min(start + width, 0)
        else:
            start = (idx - n_neg) * width
            stop = start + width
            if stop > 127:
                stop = 128  # wraps to Byte.MIN_VALUE; named by abs()
        return f"{topic}-{abs(start):03d}-{abs(stop):03d}"

    return n_neg + n_pos, name


def _write_strict(records: DataFrame, cfg: ExportConfig) -> WrittenOutput:
    """Single-pass byte-capped writer (see module docstring)."""
    out_dir = cfg.output_dir
    manifest_dir = cfg.manifest_dir or os.path.join(out_dir, "_manifest")
    store = cfg.object_store or LocalObjectStore()
    if isinstance(store, LocalObjectStore):
        os.makedirs(out_dir, exist_ok=True)
        os.makedirs(manifest_dir, exist_ok=True)

    topic = cfg.topic
    width = cfg.scan_width
    cap = cfg.max_batch_bytes
    check_compression(cfg.compression)
    compress, ext = _COMPRESSORS[cfg.compression]
    encrypt = cfg.encrypt_output
    data_key = cfg.batch_data_key() if encrypt else None
    snapshot_type = cfg.snapshot_type

    n_splits, split_name = _split_name_fn(topic, width, cfg.signed_splits)
    first_byte = F.expr("cast(conv(hex(substring(key, 1, 1)), 16, 10) as int)")
    if cfg.signed_splits:
        n_neg = (128 + width - 1) // width
        # unsigned byte u: u >= 128 is the signed-negative range, mapped to
        # index (u-128) div w; non-negative bytes follow at n_neg + u div w
        split_col = (
            F.when(first_byte >= 128, ((first_byte - 128) / width).cast("int"))
            .otherwise(F.lit(n_neg) + (first_byte / width).cast("int"))
        )
    else:
        split_col = (first_byte / width).cast("int")
    df = records.withColumn("__split", split_col)
    df = df.repartition(n_splits, F.col("__split"))

    def write_partition(rows: Iterable) -> Iterator[dict]:
        # One open batch per split present in this task.
        state: dict[int, dict] = {}
        results: list[dict] = []

        def open_batch(st: dict) -> None:
            st["manifest_path"] = os.path.join(
                manifest_dir, f"{st['prefix']}-{st['counter']:06d}.csv"
            )
            st["counter"] += 1
            st["buf"] = bytearray()
            st["manifest_buf"] = []
            st["size"] = 0
            st["n"] = 0

        def close_batch(st: dict) -> None:
            if st["size"] <= 0:
                return
            payload = compress(bytes(st["buf"]))
            suffix = f".{ext}" if ext != "txt" else ""
            name = f"{st['prefix']}-{st['counter']:06d}.txt{suffix}"
            meta = None
            if encrypt:
                # fresh IV per object, one data key per run
                # (S3StreamingWriter.kt:163-187)
                iv = os.urandom(16)
                payload = crypto.encrypt_bytes(
                    data_key.plaintext_data_key, iv, payload
                )
                name += ".enc"
                meta = object_metadata(
                    name,
                    base64.b64encode(iv).decode("ascii"),
                    data_key,
                    topic,
                    snapshot_type,
                )
            path = os.path.join(out_dir, name)
            store.put_object(path, payload, meta)
            store.put_text(st["manifest_path"], st["manifest_buf"])
            results.append(
                {
                    "file": path,
                    "manifest_file": st["manifest_path"],
                    "records": st["n"],
                    "bytes": st["size"] - st["n"],  # minus one newline/record
                }
            )

        for row in rows:
            idx = row["__split"]
            st = state.get(idx)
            if st is None:
                st = {"prefix": split_name(idx), "counter": 0}
                state[idx] = st
                open_batch(st)
            item = row["record"] + "\n"
            if st["size"] + len(item) > cap or st["size"] == 0:
                if st["size"] > 0:
                    close_batch(st)
                    open_batch(st)
            st["buf"] += item.encode("utf-8")
            st["size"] += len(item)
            st["n"] += 1
            st["manifest_buf"].append(manifest_csv_line(row))

        for st in state.values():
            close_batch(st)
        return iter(results)

    out = df.rdd.mapPartitions(write_partition).collect()
    return WrittenOutput(
        records=sum(r["records"] for r in out),
        files=sorted(r["file"] for r in out),
        manifest_files=sorted(r["manifest_file"] for r in out),
        uncompressed_bytes=sum(r["bytes"] for r in out),
    )
