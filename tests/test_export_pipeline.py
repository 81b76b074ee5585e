"""End-to-end export pipeline tests — mirrors the reference integration
scenarios (UberTestSpec.kt / SURVEY §5, FIXTURES.md §F5)."""

import gzip
import json
import os

import pytest
from pyspark.sql import functions as F

from hbase_to_mongo_export_spark.functions import crypto
from hbase_to_mongo_export_spark.plans.export import ExportConfig, build_export, run_export
from hbase_to_mongo_export_spark.sources import envelope as env
from hbase_to_mongo_export_spark.sources import fixtures

N = 1000  # scaled-down from the reference's 10k for test speed


@pytest.fixture(scope="module")
def source(spark):
    return fixtures.source_records(spark, n=N).cache()


def cfg(tmp_path, **kw) -> ExportConfig:
    base = dict(
        topic="db.database.collection",
        output_dir=str(tmp_path / "out"),
        manifest_dir=str(tmp_path / "manifest"),
    )
    base.update(kw)
    return ExportConfig(**base)


class TestBuild:
    def test_counts_and_oid_split(self, spark, source, tmp_path):
        records, quarantine = build_export(source, cfg(tmp_path))
        rows = records.collect()
        assert len(rows) == N
        assert quarantine.count() == 0
        # UberTestSpec.kt:171-178,416-423: even i keeps object id, odd i
        # becomes $oid — sanitised to d_oid, 50/50 split.
        with_oid = [r for r in rows if '"d_oid"' in r.record]
        assert len(with_oid) == N // 2
        for r in rows:
            assert "$" not in r.record
            assert '"d_date"' in r.record  # wrapped + sanitised dates

    def test_record_normalization_content(self, spark, source, tmp_path):
        records, _ = build_export(source, cfg(tmp_path))
        r = records.filter("manifest_original_id = '00001'").collect()[0]
        rec = json.loads(r.record)
        assert rec["_id"] == {"d_oid": "00001"}
        assert rec["createdDateTime"] == {"d_date": "2015-03-20T12:23:25.183Z"}
        assert rec["_lastModifiedDateTime"] == {"d_date": "2018-12-14T15:01:02.000Z"}
        assert r.manifest_id == '{"$oid":"00001"}'
        assert r.manifest_ts == 1000
        assert r.db == "database" and r.collection == "collection"

    def test_manifest_even_record(self, spark, source, tmp_path):
        records, _ = build_export(source, cfg(tmp_path))
        r = records.filter("manifest_id like '%record_id%'").orderBy("manifest_id").first()
        assert r.manifest_id == '{"record_id":"00000"}'
        assert r.manifest_original_id == r.manifest_id

    def test_time_range_excludes_all(self, spark, source, tmp_path):
        records, _ = build_export(source, cfg(tmp_path, ts_start=2000, ts_end=3000))
        assert records.count() == 0

    def test_blocked_topic_aborts(self, spark, source, tmp_path):
        with pytest.raises(env.BlockedTopicError):
            build_export(
                source,
                cfg(tmp_path, topic="db.blocked.topic", blocked_topics="db.blocked.topic,x.y"),
            )

    def test_missing_mandatory_fields_quarantined(self, spark, tmp_path):
        bad = json.loads(fixtures.envelope_row(0)[2])
        bad["message"]["dbObject"] = ""
        rows = [
            fixtures.envelope_row(1),
            (b"\x00\x00\x00\x00xx", 1000, json.dumps(bad)),
        ]
        df = spark.createDataFrame(rows, fixtures.SOURCE_SCHEMA)
        records, quarantine = build_export(df, cfg(tmp_path))
        assert records.count() == 1
        q = quarantine.collect()
        assert len(q) == 1 and q[0].error == "missing mandatory field"

    def test_corrupt_ciphertext_quarantined(self, spark, tmp_path):
        bad = json.loads(fixtures.envelope_row(0)[2])
        bad["message"]["dbObject"] = "!!!not-base64!!!"
        df = spark.createDataFrame(
            [(b"\x00\x00\x00\x00yy", 1000, json.dumps(bad))], fixtures.SOURCE_SCHEMA
        )
        records, quarantine = build_export(df, cfg(tmp_path))
        assert records.count() == 0
        q = quarantine.collect()
        assert len(q) == 1 and q[0].error == "no decrypted payload"

    def test_latest_per_key_dedup(self, spark, tmp_path):
        k1, _, v1 = fixtures.envelope_row(0)
        _, _, v1b = fixtures.envelope_row(0)
        k2, _, v2 = fixtures.envelope_row(2)
        df = spark.createDataFrame(
            [(k1, 1000, v1), (k1, 2000, v1b), (k2, 1000, v2)], fixtures.SOURCE_SCHEMA
        )
        records, _ = build_export(df, cfg(tmp_path, assume_unique_keys=False))
        rows = records.collect()
        assert len(rows) == 2
        assert {r.manifest_ts for r in rows} == {2000, 1000}

    def test_equality_topic_wrap(self, spark, tmp_path):
        df = fixtures.source_records(spark, n=4, database="data", collection="equality")
        records, _ = build_export(df, cfg(tmp_path, topic="data.equality"))
        rows = records.collect()
        assert len(rows) == 4
        for r in rows:
            rec = json.loads(r.record)
            assert set(rec.keys()) == {"message"}
            assert rec["message"]["@type"] == "INNER_TYPE"
            assert "_id" in rec["message"]

    def test_plaintext_mode(self, spark, tmp_path):
        df = fixtures.source_records(spark, n=4, plaintext=True)
        records, _ = build_export(df, cfg(tmp_path, plaintext_payloads=True))
        assert records.count() == 4


class TestSinglePass:
    """Decrypt calls the key service, so each Python UDF must run once per
    row: no copy in a pushed-down filter, one materialization per export."""

    @pytest.mark.parametrize(
        "plaintext, udfs",
        [(False, ("decrypt", "normalize_udf")), (True, ("normalize_udf",))],
    )
    def test_one_python_eval_per_udf(self, source, tmp_path, plaintext, udfs):
        for df in build_export(source, cfg(tmp_path, plaintext_payloads=plaintext)):
            plan = df._jdf.queryExecution().executedPlan().toString()
            evals = [ln for ln in plan.splitlines() if "ArrowEvalPython" in ln]
            assert len(evals) == len(udfs), plan
            for udf in udfs:
                assert sum(f"ArrowEvalPython [{udf}(" in ln for ln in evals) == 1, plan

    def test_one_key_service_call_per_key_per_task(self, spark, source, tmp_path):
        calls = spark.sparkContext.accumulator(0)

        def counting_key_service(kek_id, encrypted_key):
            calls.add(1)
            return crypto.local_key_service(kek_id, encrypted_key)

        result = run_export(
            spark, source, cfg(tmp_path, key_service=counting_key_service)
        )
        assert result.status == "Exported" and result.records == N
        # every fixture record carries the same (kek, key), and each source
        # partition is one decrypt task
        assert calls.value == source.rdd.getNumPartitions()


class TestSinks:
    def test_native_sink_roundtrip(self, spark, source, tmp_path):
        result = run_export(spark, source, cfg(tmp_path, compression="gzip"))
        assert result.status == "Exported"
        assert result.records == N
        assert result.files
        lines = []
        for f in result.files:
            with gzip.open(f, "rt", encoding="utf-8") as fh:
                lines.extend(fh.read().splitlines())
        assert len(lines) == N
        parsed = [json.loads(ln) for ln in lines]
        assert sum(1 for p in parsed if "d_oid" in json.dumps(p)) == N // 2
        manifest_lines = []
        for f in result.manifest_files:
            with open(f, encoding="utf-8") as fh:
                manifest_lines.extend(fh.read().splitlines())
        assert len(manifest_lines) == N
        sample = [ln for ln in manifest_lines if ln.startswith('"{""record_id"":""00000""}"')]
        assert sample, manifest_lines[:3]
        parts = sample[0].split("|")
        assert parts[1] == "1000" and parts[2] == "database" and parts[4] == "EXPORT"

    def test_strict_sink_byte_cap_and_naming(self, spark, source, tmp_path):
        c = cfg(
            tmp_path,
            strict_sink=True,
            max_batch_bytes=10_000,
            scan_width=64,
            compression="gzip",
            encrypt_output=False,
        )
        result = run_export(spark, source, c)
        assert result.status == "Exported"
        assert result.records == N
        # numbering starts at -000001; split bounds from first key byte / 64
        names = [os.path.basename(f) for f in result.files]
        assert all(n.startswith("db.database.collection-") for n in names)
        assert any(n.endswith("-000001.txt.gz") for n in names)
        total = []
        for f in result.files:
            with gzip.open(f, "rt", encoding="utf-8") as fh:
                content = fh.read()
            assert len(content) <= 10_000 + max(len(l) + 1 for l in content.splitlines())
            total.extend(content.splitlines())
        assert len(total) == N
        # per-batch manifests: first batch of each split is -000000.csv
        mnames = [os.path.basename(f) for f in result.manifest_files]
        assert any(m.endswith("-000000.csv") for m in mnames)
        mlines = []
        for f in result.manifest_files:
            with open(f, encoding="utf-8") as fh:
                mlines.extend(fh.read().splitlines())
        assert len(mlines) == N

    def test_strict_sink_encrypted(self, spark, tmp_path):
        from hbase_to_mongo_export_spark.functions.crypto import aes_ctr
        import base64

        df = fixtures.source_records(spark, n=50)
        c = cfg(
            tmp_path,
            strict_sink=True,
            max_batch_bytes=100_000,
            scan_width=64,
            compression="gzip",
            encrypt_output=True,
        )
        result = run_export(spark, df, c)
        assert result.files
        lines = []
        for f in result.files:
            assert f.endswith(".enc")
            meta = json.load(open(f + ".meta.json"))
            # S3 object user-metadata parity (S3ObjectServiceImpl.kt:37-47):
            # the ENCRYPTED data key travels, never the plaintext
            assert set(meta) == {
                "x-amz-meta-title", "iv", "cipherText",
                "dataKeyEncryptionKeyId", "data_product", "data_product_type",
            }
            assert meta["data_product"] == "db.database.collection"
            assert meta["data_product_type"] == "full"
            assert meta["x-amz-meta-title"] == os.path.basename(f)
            # local KMS stub: ciphertext is base64(plaintext key)
            plain_key = base64.b64decode(meta["cipherText"])
            payload = open(f, "rb").read()
            plain = gzip.decompress(
                aes_ctr(plain_key, base64.b64decode(meta["iv"]), payload)
            )
            lines.extend(plain.decode("utf-8").splitlines())
        assert len(lines) == 50
        json.loads(lines[0])

    def test_strict_sink_signed_split_names(self, spark, tmp_path):
        """Golden split names of the reference's signed-byte partitioner at
        scan.width=40 (UberTestSpec.kt:533-552) — keys with negative first
        bytes land in the 128-088/088-048/048-008/008-000 splits."""
        from hbase_to_mongo_export_spark.plans.sink import _split_name_fn

        n, name = _split_name_fn("db.database.collection", 40, signed=True)
        assert n == 8
        assert [name(i) for i in range(n)] == [
            "db.database.collection-128-088",
            "db.database.collection-088-048",
            "db.database.collection-048-008",
            "db.database.collection-008-000",
            "db.database.collection-000-040",
            "db.database.collection-040-080",
            "db.database.collection-080-120",
            "db.database.collection-120-128",
        ]
        # width 256 (the equality scenario): one negative + one positive split
        n2, name2 = _split_name_fn("data.equality", 256, signed=True)
        assert n2 == 2
        assert [name2(i) for i in range(n2)] == [
            "data.equality-128-000",
            "data.equality-000-128",
        ]

    def test_strict_sink_signed_split_routing(self, spark, tmp_path):
        """End-to-end: records whose rowkey first byte is >= 0x80 (signed-
        negative) are named by the negative-loop split, and every record
        lands in exactly one file."""
        df = fixtures.source_records(spark, n=200)
        c = cfg(
            tmp_path,
            strict_sink=True,
            signed_splits=True,
            max_batch_bytes=1_000_000,
            scan_width=64,
            compression="none",
        )
        result = run_export(spark, df, c)
        assert result.status == "Exported"
        assert result.records == 200
        names = {os.path.basename(f) for f in result.files}
        prefixes = {n.rsplit("-", 1)[0] for n in names}
        allowed = {
            "db.database.collection-128-064",
            "db.database.collection-064-000",
            "db.database.collection-000-064",
            "db.database.collection-064-128",
        }
        assert prefixes <= allowed
        # fixture keys hash-spread over the byte space: both signed halves
        # must actually appear
        assert any(p.endswith("-128-064") or p.endswith("-064-000") for p in prefixes)
        assert any(p.endswith("-000-064") or p.endswith("-064-128") for p in prefixes)
        total = []
        for f in result.files:
            with open(f, encoding="utf-8") as fh:
                total.extend(fh.read().splitlines())
        assert len(total) == 200

    def test_strict_sink_lz4_is_loud_not_silent(self, spark, tmp_path):
        """lz4 must either really compress with lz4 (package present) or
        raise — NEVER silently substitute gzip (VERDICT round 1 item 3)."""
        df = fixtures.source_records(spark, n=20)
        c = cfg(
            tmp_path,
            strict_sink=True,
            max_batch_bytes=1_000_000,
            scan_width=64,
            compression="lz4",
        )
        try:
            import lz4.frame  # noqa: F401

            have_lz4 = True
        except ImportError:
            have_lz4 = False
        if not have_lz4:
            result = run_export(spark, df, c)
            assert result.status == "Export_Failed"  # loud failure, no gzip files
            assert not result.files
            import pytest as _pytest

            from hbase_to_mongo_export_spark.plans import sink as sink_mod

            with _pytest.raises(ValueError, match="lz4"):
                sink_mod.check_compression("lz4")
        else:
            result = run_export(spark, df, c)
            assert result.status == "Exported"
            assert all(f.endswith(".txt.lz4") for f in result.files)
            lines = []
            for f in result.files:
                lines.extend(
                    lz4.frame.decompress(open(f, "rb").read())
                    .decode("utf-8")
                    .splitlines()
                )
            assert len(lines) == 20

    def test_unknown_compression_rejected(self, spark, tmp_path):
        import pytest as _pytest

        from hbase_to_mongo_export_spark.plans import sink as sink_mod

        with _pytest.raises(ValueError, match="unknown compression"):
            sink_mod.check_compression("zstd-bogus")

    def test_failed_export_keeps_its_cause(self, spark, tmp_path):
        df = fixtures.source_records(spark, n=20)
        result = run_export(
            spark, df, cfg(tmp_path, strict_sink=True, compression="nonsense")
        )
        assert result.status == "Export_Failed"
        assert result.error.startswith("ValueError: ")
        assert "unknown compression" in result.error

    def test_analysis_error_building_the_export_fails_it(self, spark, tmp_path):
        from hbase_to_mongo_export_spark.plans.metrics import MetricsRegistry
        from hbase_to_mongo_export_spark.plans.status import LocalStatusStore

        store = LocalStatusStore(str(tmp_path / "status.jsonl"))
        metrics = MetricsRegistry("export")
        df = spark.createDataFrame([(1, "x")], "a int, b string")
        result = run_export(
            spark, df, cfg(tmp_path), correlation_id="bad-shape",
            status_store=store, metrics=metrics,
        )
        assert result.status == "Export_Failed"
        assert "UNRESOLVED_COLUMN" in result.error
        lines = [json.loads(l) for l in open(tmp_path / "status.jsonl")]
        assert lines[-1]["status"] == "Export_Failed"
        assert metrics.snapshot()["export_failures"] == 1


class TestConnectors:
    def test_unavailable_connectors_raise_clearly(self, spark, source):
        from hbase_to_mongo_export_spark.sources import connectors

        with pytest.raises(connectors.ConnectorUnavailable, match="classpath"):
            connectors.read_hbase(spark, "database:collection")
        with pytest.raises(connectors.ConnectorUnavailable, match="classpath"):
            connectors.write_mongo(
                source, "mongodb://localhost", "db", "coll", fmt="mongodb-missing"
            )

    def test_read_hbase_option_wiring_via_mock_source(self, spark):
        """Exercise read_hbase's catalog/split/time-range option building
        against a registered Python DataSource — covers the wiring the real
        jar would consume (HBaseReader.kt:121-150) without the jar."""
        from pyspark.sql.datasource import DataSource, DataSourceReader

        class _EchoReader(DataSourceReader):
            def __init__(self, options):
                self.options = dict(options)

            def read(self, partition):
                yield (bytearray(b"\x00\x00\x00\x01k1"), json.dumps(self.options))

        class MockHBase(DataSource):
            @classmethod
            def name(cls):
                return "mockhbase"

            def schema(self):
                return "key binary, value string"

            def reader(self, schema):
                return _EchoReader(self.options)

        from hbase_to_mongo_export_spark.sources import connectors

        spark.dataSource.register(MockHBase)
        df = connectors.read_hbase(
            spark, "database:collection", ts_start=5, ts_end=99, fmt="mockhbase"
        )
        assert [f.name for f in df.schema.fields] == ["key", "ts", "value"]
        assert dict(df.dtypes) == {"key": "binary", "ts": "bigint", "value": "string"}
        row = df.collect()[0]
        opts = json.loads(row.value)
        opts = {k.lower(): v for k, v in opts.items()}
        catalog = json.loads(opts["catalog"])
        assert catalog["table"] == {"namespace": "database", "name": "collection"}
        assert catalog["columns"]["value"] == {
            "cf": "cf", "col": "record", "type": "string",
        }
        assert opts["hbase.spark.query.timerange.start"] == "5"
        assert opts["hbase.spark.query.timerange.end"] == "99"
        assert bytes(row.key) == b"\x00\x00\x00\x01k1"


class TestGoldenSignedSplits:
    def test_signed_width40_golden_prefixes(self, spark, tmp_path):
        """The 8 golden split names of the reference integration run
        (scan.width=40, UberTestSpec.kt:533-552) reproduced end-to-end:
        keys hash-spread over the byte space land in every split, files
        number from -000001, manifests from -000000."""
        src = fixtures.source_records(spark, n=2000)
        c = cfg(
            tmp_path,
            strict_sink=True,
            signed_splits=True,
            scan_width=40,
            max_batch_bytes=200_000,
            compression="none",
        )
        result = run_export(spark, src, c)
        assert result.status == "Exported" and result.records == 2000
        golden = {
            "db.database.collection-128-088",
            "db.database.collection-088-048",
            "db.database.collection-048-008",
            "db.database.collection-008-000",
            "db.database.collection-000-040",
            "db.database.collection-040-080",
            "db.database.collection-080-120",
            "db.database.collection-120-128",
        }
        prefixes = {os.path.basename(f).rsplit("-", 1)[0] for f in result.files}
        assert prefixes == golden  # 2000 hashed keys hit all 8 splits
        assert all(
            os.path.basename(f).endswith(".txt")
            and os.path.basename(f).rsplit("-", 1)[1].split(".")[0] >= "000001"
            for f in result.files
        )
        mprefixes = {
            os.path.basename(f).rsplit("-", 1)[0] for f in result.manifest_files
        }
        assert mprefixes == golden
        assert any(f.endswith("-000000.csv") for f in result.manifest_files)


class TestGolden10k:
    """Full-scale golden test mirroring the reference integration suite
    (UberTestSpec.kt): 10k records, 100 KB byte cap, bz2, strict naming."""

    def test_uber_scenario(self, spark, tmp_path):
        src = fixtures.source_records(spark, n=10_000)
        c = cfg(
            tmp_path,
            strict_sink=True,
            max_batch_bytes=100_000,
            scan_width=40,
            compression="bzip2",
        )
        result = run_export(spark, src, c)
        assert result.status == "Exported"
        assert result.records == 10_000

        import bz2 as bz2mod

        lines = []
        for f in result.files:
            assert "/db.database.collection-" in f and f.endswith(".bz2")
            lines += bz2mod.decompress(open(f, "rb").read()).decode().splitlines()
        assert len(lines) == 10_000
        # UberTestSpec.kt:171-178: 50/50 split of $oid-normalized (→ d_oid)
        oid = [ln for ln in lines if '"d_oid"' in ln]
        assert len(oid) == 5_000
        for ln in lines[:100]:
            rec = json.loads(ln)
            assert "$" not in ln
            assert rec["_lastModifiedDateTime"] == {"d_date": "2018-12-14T15:01:02.000Z"}

        manifest_lines = []
        for f in result.manifest_files:
            manifest_lines += open(f, encoding="utf-8").read().splitlines()
        assert len(manifest_lines) == 10_000
        ids = set()
        for ln in manifest_lines:
            parts = ln.split("|")
            assert parts[1] == "1000" and parts[4] == "EXPORT"
            ids.add(parts[0])
        assert len(ids) == 10_000


class TestCLI:
    def test_export_and_completion_status(self, spark, tmp_path):
        import subprocess, sys

        src_dir = str(tmp_path / "src")
        fixtures.source_records(spark, n=30).write.mode("overwrite").parquet(src_dir)
        out = subprocess.run(
            [
                sys.executable, "-m", "hbase_to_mongo_export_spark", "export",
                "--topic", "db.database.collection",
                "--source", src_dir,
                "--output", str(tmp_path / "out"),
                "--manifest", str(tmp_path / "manifest"),
                "--status-file", str(tmp_path / "status.jsonl"),
                "--messages-file", str(tmp_path / "messages.jsonl"),
                "--correlation-id", "cli-run",
            ],
            capture_output=True, text=True, timeout=300,
            cwd="/root/repo",
        )
        assert out.returncode == 0, out.stderr[-2000:]
        result = json.loads(out.stdout.strip().splitlines()[-1])
        assert result["status"] == "Exported" and result["records"] == 30

        out2 = subprocess.run(
            [
                sys.executable, "-m", "hbase_to_mongo_export_spark",
                "completion-status", "--status-file", str(tmp_path / "status.jsonl"),
            ],
            capture_output=True, text=True, timeout=300, cwd="/root/repo",
        )
        assert out2.returncode == 0, out2.stderr[-2000:]
        st = json.loads(out2.stdout.strip().splitlines()[-1])
        assert st["run_status"] == "COMPLETED_SUCCESSFULLY"


class TestMultiFormatIO:
    """read_any/write_any: the generic source/sink surface, plus the
    'snapshots are queryable' guarantee — exported JSONL re-reads as a
    typed DataFrame Spark SQL can query."""

    def test_format_round_trips(self, spark, sf_dir, tmp_path):
        from hbase_to_mongo_export_spark.sources.catalog import (
            load_table, read_any, write_any,
        )

        nation = load_table(spark, sf_dir, "nation")
        expected = sorted(tuple(r) for r in nation.collect())
        for fmt in ("parquet", "json", "csv", "orc"):
            path = str(tmp_path / f"nation_{fmt}")
            write_any(nation, path, fmt)
            back = read_any(spark, path, fmt, schema=nation.schema)
            assert sorted(tuple(r) for r in back.collect()) == expected, fmt

    def test_unknown_format_rejected(self, spark, tmp_path):
        from hbase_to_mongo_export_spark.sources.catalog import read_any

        with pytest.raises(ValueError, match="unsupported format"):
            read_any(spark, str(tmp_path), "avro")

    def test_exported_snapshot_is_queryable(self, spark, source, tmp_path):
        """Query the export output with Spark SQL: read the JSONL snapshot
        back, shred the message envelope, count ids — the 'switching user'
        workflow (their snapshots remain first-class tables)."""
        from hbase_to_mongo_export_spark.plans.export import build_export
        from hbase_to_mongo_export_spark.plans.sink import write_snapshot

        records, _ = build_export(source, cfg(tmp_path))
        write_snapshot(records, cfg(tmp_path))
        snap = spark.read.json(str(tmp_path / "out"))
        assert snap.count() == N
        ids = snap.select(F.col("_id")).dropna()
        assert ids.count() == N


class TestObservedMetrics:
    def test_export_reports_inflight_counters(self, spark, source, tmp_path):
        """observe() counters ride the write action (reference A1 running
        counters) — no extra pass; they must agree with the final counts."""
        from hbase_to_mongo_export_spark.plans.export import run_export

        res = run_export(spark, source, cfg(tmp_path))
        assert res.status == "Exported"
        assert res.metrics["rows_exported"] == res.records == N
        # every record is a JSON line; bytes observed = sum of line lengths
        total = 0
        for f in res.files:
            with gzip.open(f, "rt", encoding="utf-8") as fh:
                total += sum(len(l) for l in fh.read().splitlines())
        assert res.metrics["uncompressed_bytes"] == total

    def test_strict_sink_reports_counters_without_observe(self, spark, source, tmp_path):
        """The strict sink drives an RDD action (no Observation support) —
        its counters come from the writer's own batch state."""
        from hbase_to_mongo_export_spark.plans.export import run_export

        res = run_export(
            spark, source, cfg(tmp_path, strict_sink=True, compression="none")
        )
        assert res.status == "Exported"
        assert res.metrics["rows_exported"] == res.records == N
        total = 0
        for f in res.files:
            with open(f, encoding="utf-8") as fh:
                total += sum(len(l) for l in fh.read().splitlines())
        assert res.metrics["uncompressed_bytes"] == total


class TestPythonDataSource:
    """The distributed envelope-fixture source (Python DataSource V2):
    executor-side generation, range partitions, same rows as the
    driver-side generator."""

    def test_matches_driver_side_generator(self, spark):
        from hbase_to_mongo_export_spark.sources.python_source import (
            read_fixture_source,
        )

        dist = read_fixture_source(spark, n=200, partitions=7)
        ref = fixtures.source_records(spark, n=200)
        assert dist.rdd.getNumPartitions() == 7
        a = sorted((bytes(r.key), r.ts, r.value) for r in dist.collect())
        b = sorted((bytes(r.key), r.ts, r.value) for r in ref.collect())
        assert a == b

    def test_export_pipeline_runs_on_python_source(self, spark, tmp_path):
        from hbase_to_mongo_export_spark.sources.python_source import (
            read_fixture_source,
        )

        src = read_fixture_source(spark, n=300, partitions=4)
        result = run_export(spark, src, cfg(tmp_path))
        assert result.status == "Exported"
        assert result.records == 300

    def test_jsonl_sink_writer_contract(self, spark, tmp_path):
        """Writer half of the Python DataSource API: per-task files +
        driver commit manifest; record counts reconcile."""
        from hbase_to_mongo_export_spark.sources.python_source import (
            register_jsonl_sink,
        )

        register_jsonl_sink(spark)
        out = str(tmp_path / "sink")
        df = spark.range(100).selectExpr("id", "id * 2 AS doubled").repartition(4)
        df.write.format("jsonl_local").option("path", out).mode("append").save()
        manifest = json.loads(open(os.path.join(out, "_MANIFEST")).read())
        assert manifest["records"] == 100
        assert len(manifest["files"]) == 4
        lines = []
        for f in manifest["files"]:
            lines.extend(open(f, encoding="utf-8").read().splitlines())
        rows = sorted(json.loads(l)["id"] for l in lines)
        assert rows == list(range(100))


class TestS3ObjectStore:
    def test_put_object_metadata_mapping(self, spark, tmp_path):
        """S3 backend of the strict sink's object-store seam: user
        metadata and content type match the reference putObject mapping
        (S3ObjectServiceImpl.kt:37-47), exercised via a stub client —
        no boto3 required."""
        from hbase_to_mongo_export_spark.plans import sink as sink_mod

        calls = []

        class StubClient:
            def put_object(self, **kw):
                calls.append(kw)

        store = sink_mod.S3ObjectStore("my-bucket", client=StubClient())
        meta = sink_mod.object_metadata(
            "topic-000-064-000001.txt.gz.enc",
            "aXYtYnl0ZXM=",
            __import__(
                "hbase_to_mongo_export_spark.functions.crypto", fromlist=["crypto"]
            ).DataKeyResult("kek/1", b"\x00" * 16, "Y2lwaGVy"),
            "db.database.collection",
            "incremental",
        )
        store.put_object("/prefix/topic-000-064-000001.txt.gz.enc", b"payload", meta)
        store.put_text("/prefix/manifest-000000.csv", ["a|b\n"])
        assert calls[0]["Bucket"] == "my-bucket"
        assert calls[0]["Key"] == "prefix/topic-000-064-000001.txt.gz.enc"
        assert calls[0]["ContentType"] == "binary/octetstream"
        md = calls[0]["Metadata"]
        assert md["iv"] == "aXYtYnl0ZXM="
        assert md["cipherText"] == "Y2lwaGVy"
        assert md["dataKeyEncryptionKeyId"] == "kek/1"
        assert md["data_product"] == "db.database.collection"
        assert md["data_product_type"] == "incremental"
        assert calls[1]["Body"] == b"a|b\n"

    def test_strict_sink_writes_through_custom_store(self, spark, tmp_path):
        """End-to-end: the strict sink routes every object/manifest through
        the configured store (executor-side), so an S3-backed store gets
        the same byte-capped batches the local store does."""
        import glob

        from hbase_to_mongo_export_spark.plans import sink as sink_mod
        from hbase_to_mongo_export_spark.sources import fixtures as fx

        class RedirectStore(sink_mod.LocalObjectStore):
            # same contract, different root: proves the sink never
            # bypasses the seam with bare open() calls
            def __init__(self, root):
                self.root = root

            def _redirect(self, path):
                import os as _os

                _os.makedirs(self.root, exist_ok=True)
                return _os.path.join(self.root, _os.path.basename(path))

            def put_object(self, path, payload, metadata=None):
                super().put_object(self._redirect(path), payload, metadata)

            def put_text(self, path, lines):
                super().put_text(self._redirect(path), lines)

        redirect_root = str(tmp_path / "redirected")
        src = fx.source_records(spark, n=60)
        c = cfg(
            tmp_path,
            strict_sink=True,
            max_batch_bytes=1_000_000,
            scan_width=64,
            compression="none",
            object_store=RedirectStore(redirect_root),
        )
        result = run_export(spark, src, c)
        assert result.status == "Exported" and result.records == 60
        data_files = glob.glob(os.path.join(redirect_root, "*.txt"))
        csv_files = glob.glob(os.path.join(redirect_root, "*.csv"))
        assert data_files and csv_files
        lines = []
        for f in data_files:
            lines.extend(open(f, encoding="utf-8").read().splitlines())
        assert len(lines) == 60
        # nothing leaked to the default output dir
        assert not glob.glob(str(tmp_path / "out" / "*.txt"))


class TestGoldenFileList:
    """Full object-listing parity with the reference integration run
    (UberTestSpec.kt:513-592): the 10k-record fixture exported at
    output.batch.size.max.bytes=100000 must produce EXACTLY the
    reference's file set — same splits, same per-split file counts from
    the cap-before-append rotation, same `-%06d` sequences (data from
    000001, manifests from 000000), same `.txt.bz2.enc` naming."""

    def _names(self, res):
        return (
            sorted(os.path.basename(f) for f in res.files),
            sorted(os.path.basename(f) for f in res.manifest_files),
        )

    def test_main_export_file_list(self, spark, tmp_path):
        src = fixtures.source_records(spark, n=10_000)
        res = run_export(
            spark,
            src,
            cfg(
                tmp_path,
                strict_sink=True,
                signed_splits=True,
                scan_width=40,
                max_batch_bytes=100_000,
                compression="bzip2",
                encrypt_output=True,
            ),
        )
        files, manifests = self._names(res)
        splits = ["000-040", "008-000", "040-080", "048-008", "080-120",
                  "088-048", "120-128", "128-088"]
        counts = {"008-000": 1, "120-128": 1}  # narrow splits: one file
        expected = [
            f"db.database.collection-{s}-{i:06d}.txt.bz2.enc"
            for s in splits
            for i in range(1, counts.get(s, 3) + 1)
        ]
        # UberTestSpec.kt:515-552 expectedExports(), verbatim shape
        assert files == sorted(expected)
        expected_manifests = [
            f"db.database.collection-{s}-{i:06d}.csv"
            for s in splits
            for i in range(counts.get(s, 3))
        ]
        assert manifests == sorted(expected_manifests)

    def test_equality_export_file_list(self, spark, tmp_path):
        src = fixtures.source_records(
            spark, n=10_000, database="data", collection="equality"
        )
        res = run_export(
            spark,
            src,
            cfg(
                tmp_path,
                topic="data.equality",
                strict_sink=True,
                signed_splits=True,
                scan_width=256,
                max_batch_bytes=100_000,
                compression="bzip2",
                encrypt_output=True,
            ),
        )
        files, manifests = self._names(res)
        # UberTestSpec.kt:516-533: 9 files per split, both splits
        assert files == sorted(
            f"data.equality-{s}-{i:06d}.txt.bz2.enc"
            for s in ("000-128", "128-000")
            for i in range(1, 10)
        )
        assert manifests == sorted(
            f"data.equality-{s}-{i:06d}.csv"
            for s in ("000-128", "128-000")
            for i in range(9)
        )
