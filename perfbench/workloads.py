"""The workloads. Each run is one closed-loop client: the next
operation starts when the previous one has finished.

A workload object offers ``make_inputs()`` (one set-up round),
``operation(k)`` (operation ``k``, returns its wall time), ``finish()``
(the once-per-run output checks), the end-to-end ratios, and ``traced()``
/ ``layer_metrics()`` for the per-layer run. Problems found by the checks
collect in ``problems[k]``.
"""

from __future__ import annotations

import glob
import os
import shutil
import time
from contextlib import nullcontext

from pyspark.sql import functions as F

from hbase_to_mongo_export_spark import queries as registry
from hbase_to_mongo_export_spark.functions import crypto
from hbase_to_mongo_export_spark.functions.normalize import normalize_udf
from hbase_to_mongo_export_spark.operators import _cache as op_cache
from hbase_to_mongo_export_spark.plans import export, sink
from hbase_to_mongo_export_spark.plans.status import LocalNotifier, LocalStatusStore
from hbase_to_mongo_export_spark.sources import catalog, fixtures
from hbase_to_mongo_export_spark.sources import envelope as env

from . import checks, gen, trace

EXPORT_RECORDS = 3_000
REGISTRY_SF = 0.01
# One file per generated table: at sf0.01 a pass is bound by Spark's
# per-task overhead, so more files only add tasks.
REGISTRY_PARTITIONS = 1
REGISTRY_QUERIES = (
    "pagerank_customer_supplier",
    "similarity_ivfpq_search",
    "merge_upsert_orders",
)

# Export layers as cumulative prefixes: (layer, the prefix it extends).
EXPORT_PREFIXES = (
    ("sources.catalog.scan", None),
    ("sources.envelope.latest_per_key", "sources.catalog.scan"),
    ("sources.envelope.parse", "sources.envelope.latest_per_key"),
    ("functions.crypto.decrypt", "sources.envelope.parse"),
    ("functions.normalize", "functions.crypto.decrypt"),
    ("functions.sanitise", "functions.normalize"),
)
EXPORT_LAYERS = EXPORT_PREFIXES + (
    ("plans.sink.write", "functions.sanitise"),
    ("plans.export.quarantine", None),
)
QUERY_LAYERS = (("queries.build", None), ("queries.execute", None))
CACHE = "operators._cache"
EXPORT_RUN = "plans.export.run"


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _layer_block(groups, spans, layers) -> dict[str, float]:
    out = {}
    for name, base in layers:
        for stat, value in trace.layer_stats(groups, spans, name, base).items():
            out[f"{name}.{stat}"] = value
    return out


class Export:
    """``export_full``: a full snapshot of unique keys through the native
    gzip sink, with a status store and a notifier attached."""

    WARMUP_OPS = 1
    # Timed operations run on the JIT's warm-up slope, so a run whose
    # median came from two operations instead of three read ~10 % slower.
    MIN_OPS = 3

    def __init__(self, spark, work: str, seed: int) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.src = os.path.join(work, "source")
        self.inp: gen.ExportInput | None = None
        self.problems: dict[int, list[str]] = {}
        self.last = None  # (k, result, cfg, status store, notifier)

    def make_inputs(self) -> None:
        self.inp = gen.export_full(self.seed, EXPORT_RECORDS)
        self.spark.createDataFrame(self.inp.rows, fixtures.SOURCE_SCHEMA).write.mode(
            "overwrite"
        ).parquet(self.src)

    def source(self):
        return catalog.read_export_source(self.spark, self.src)

    def config(self, out_dir: str, key_service=crypto.local_key_service) -> export.ExportConfig:
        return export.ExportConfig(
            topic=self.inp.topic,
            output_dir=os.path.join(out_dir, "snapshot"),
            manifest_dir=os.path.join(out_dir, "manifest"),
            compression="gzip",
            key_service=key_service,
        )

    def operation(self, k: int, key_service=crypto.local_key_service, proxies=False) -> float:
        """One ``run_export`` with a status store and a notifier attached.
        Only the latest operation's output is kept on disk."""
        if self.last is not None:
            shutil.rmtree(os.path.dirname(self.last[2].output_dir), ignore_errors=True)
        op_dir = os.path.join(self.work, f"op{k}")
        cfg = self.config(op_dir, key_service)
        store = LocalStatusStore(os.path.join(op_dir, "status.jsonl"))
        notifier = LocalNotifier(os.path.join(op_dir, "notify.jsonl"))
        if proxies:
            store, notifier = trace.CountingProxy(store), trace.CountingProxy(notifier)
        t0 = time.perf_counter()
        result = export.run_export(
            self.spark, self.source, cfg, correlation_id=f"op{k}",
            status_store=store, notifier=notifier,
        )
        wall = time.perf_counter() - t0
        self.last = (k, result, cfg, store, notifier)
        self.problems[k] = checks.check_result(result, self.inp)
        return wall

    def finish(self) -> None:
        """Full output check of the latest operation, and the quarantine
        breakdown by reason."""
        k, result, cfg, _, _ = self.last
        problems = checks.check_outputs(result.files, cfg.manifest_dir, self.inp)
        _, quarantine = export.build_export(self.source(), cfg)
        counts = {reason: 0 for reason in gen.REASONS}
        for row in quarantine.groupBy("error").count().collect():
            counts[gen.quarantine_reason(row["error"])] += row["count"]
        self.problems[k] += problems + checks.check_reasons(counts, self.inp)

    def input_records(self) -> int:
        return self.inp.latest_records

    def stored_bytes_ratio(self) -> float:
        files = self.last[1].files
        return sum(os.path.getsize(f) for f in files) / self.inp.plaintext_bytes

    def traced(self, spans: dict[str, float]) -> tuple[float, dict[str, float]]:
        """One counted ``run_export``, then each layer prefix, the sink and
        the quarantine count, each under its own job group. Returns the
        counted export's wall time and the non-layer metrics."""
        sc = self.spark.sparkContext
        keys = trace.CountingKeyService(sc)
        wall = self.operation(-1, key_service=keys, proxies=True)
        _, result, _, store, notifier = self.last
        extra = {
            "functions.crypto.key_calls_per_key_task": keys.calls.value
            / (gen.DATA_KEYS * self.source().rdd.getNumPartitions()),
            "plans.sink.files": float(len(result.files)),
            "plans.status.calls": float(store.calls + notifier.calls),
            "plans.status.self_s": store.seconds + notifier.seconds,
        }

        cfg = self.config(os.path.join(self.work, "layers"))
        names = [name for name, _ in EXPORT_PREFIXES]
        src = self.source()  # resolved once, so no prefix pays the listing
        with trace.layer(sc, names[0], spans):
            df = src
            _noop(df)
        with trace.layer(sc, names[1], spans):
            df = env.latest_per_key(
                df, cfg.ts_start, cfg.ts_end, assume_unique_keys=cfg.assume_unique_keys
            )
            _noop(df)
        with trace.layer(sc, names[2], spans):
            good, _ = env.split_mandatory(env.parse_envelope(df, topic=cfg.topic))
            _noop(good)
        with trace.layer(sc, names[3], spans):
            decrypt = crypto.make_decrypt_udf(cfg.key_service)
            good = good.withColumn(
                "decrypted", decrypt("db_object", "encrypted_key", "kek_id", "iv")
            )
            _noop(good)
        with trace.layer(sc, names[4], spans):
            rowkey_id = F.decode(F.expr("substring(key, 5, length(key) - 4)"), "UTF-8")
            good = good.withColumn(
                "norm",
                normalize_udf("decrypted", rowkey_id, "db", "collection", "last_modified"),
            )
            _noop(good)
        records, quarantine = export.build_export(src, cfg)
        extra["plans.export.python_evals"] = float(trace.python_eval_count(records))
        with trace.layer(sc, names[5], spans):
            _noop(records)
        with trace.layer(sc, "plans.sink.write", spans):
            sink.write_snapshot(records, cfg)
        with trace.layer(sc, "plans.export.quarantine", spans):
            quarantine.count()
        return wall, extra

    def layer_metrics(self, groups, spans) -> dict[str, float]:
        return _layer_block(groups, spans, EXPORT_LAYERS)


class Registry:
    """``registry_heavy``: cold passes over ``REGISTRY_QUERIES`` on tables
    generated from the seed, every result checked against its DuckDB
    oracle."""

    WARMUP_OPS = 1
    # A pass takes about as long as a run measures; the median of three
    # passes ignores one busy stretch of the shared host.
    MIN_OPS = 3

    def __init__(self, spark, work: str, seed: int) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.data = os.path.join(work, "tables")
        self.qmap = registry.queries()
        self.results: dict[int, dict] = {}
        self.problems: dict[int, list[str]] = {}

    def make_inputs(self) -> None:
        from tools import gen_sf

        gen_sf.generate(
            self.spark, REGISTRY_SF, self.data, seed=self.seed, partitions=REGISTRY_PARTITIONS
        )

    def operation(self, k: int, spans: dict[str, float] | None = None) -> float:
        """One cold pass, as bench.py times it: the table memo is cleared
        before each query and the operator caches are released after it.
        With ``spans`` each phase runs under its own job group."""
        sc = self.spark.sparkContext

        def phase(name):
            return nullcontext() if spans is None else trace.layer(sc, name, spans)

        wall = 0.0
        results = {}
        for name in REGISTRY_QUERIES:
            catalog.clear_table_memo()
            t0 = time.perf_counter()
            with phase("queries.build"):
                df = self.qmap[name](self.spark, self.data)
            with phase("queries.execute"):
                rows = df.collect()
            took = time.perf_counter() - t0
            wall += took
            with phase(CACHE):
                released = op_cache.release_all()
            if spans is not None:
                spans[f"queries.{name}.wall_s"] = took
                spans[f"{CACHE}.released"] = spans.get(f"{CACHE}.released", 0) + released
            results[name] = (df.columns, [tuple(r) for r in rows])
        self.results[k] = results
        self.problems[k] = []
        return wall

    def finish(self) -> None:
        """Value-match every pass's results against the DuckDB oracles."""
        import duckdb

        oracles = registry.oracle_sql()
        con = duckdb.connect()
        try:
            con.execute("SET threads TO 4")
            for t in catalog.TABLES:
                path = os.path.join(self.data, f"{t}.parquet", "*.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            self.input_rows = sum(
                con.execute(f"SELECT count(*) FROM {t}").fetchone()[0] for t in catalog.TABLES
            )
            want = {}
            for name in REGISTRY_QUERIES:
                res = con.execute(oracles[name])
                want[name] = ([d[0] for d in res.description], res.fetchall())
        finally:
            con.close()
        for k, results in self.results.items():
            for name in REGISTRY_QUERIES:
                self.problems[k] += checks.check_oracle(name, results[name], want[name])

    def input_records(self) -> int:
        """Rows of all generated tables."""
        return self.input_rows

    def stored_bytes_ratio(self) -> float:
        """Bytes of the lakehouse table ``merge_upsert_orders`` leaves
        behind per byte of the generated orders table."""
        pattern = os.path.join(
            os.environ.get("TMPDIR", "/tmp"), "htme_qstage_*", "lakehouse_upsert_*"
        )
        (table,) = glob.glob(pattern)
        return _du(table) / _du(os.path.join(self.data, "orders.parquet"))

    def traced(self, spans: dict[str, float]) -> tuple[float, dict[str, float]]:
        return self.operation(-1, spans), {}

    def layer_metrics(self, groups, spans) -> dict[str, float]:
        out = _layer_block(groups, spans, QUERY_LAYERS)
        out[f"{CACHE}.release_s"] = spans.get(CACHE, 0.0)
        out[f"{CACHE}.released"] = float(spans.get(f"{CACHE}.released", 0))
        for name in REGISTRY_QUERIES:
            out[f"queries.{name}.wall_s"] = spans.get(f"queries.{name}.wall_s", 0.0)
        return out


def _du(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


WORKLOADS = ("export_full", "registry_heavy")


def make(name: str, spark, work: str, seed: int):
    if name == "export_full":
        return Export(spark, work, seed)
    if name == "registry_heavy":
        return Registry(spark, work, seed)
    raise ValueError(f"unknown workload {name!r}")


def per_layer_names() -> list[str]:
    """Every per-layer metric name, in report order."""
    layers = [name for name, _ in EXPORT_LAYERS + QUERY_LAYERS]
    names = [f"{layer}.{stat}" for layer in layers for stat in trace.STATS]
    names += [
        "plans.export.python_evals",
        "functions.crypto.key_calls_per_key_task",
        "plans.sink.files",
        "plans.status.calls",
        "plans.status.self_s",
        f"{CACHE}.release_s",
        f"{CACHE}.released",
    ]
    names += [f"queries.{q}.wall_s" for q in REGISTRY_QUERIES]
    names.append("trace_overhead_s")
    return names
