#!/usr/bin/env python3
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec, ...}, "sf": ...}.

Methodology: each query runs once untimed (JIT/codegen warm-up — the
first execution of a plan shape pays multi-second JVM compilation that a
long-running production session amortizes away), then THREE timed runs;
the reported value is the median and `spread_min_max` carries the
per-query [min, max] so regression can be told apart from noise. No
input caching — every timed run pays the full parquet scan.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from hbase_to_mongo_export_spark import queries as registry  # noqa: E402
from hbase_to_mongo_export_spark.operators import _cache as op_cache  # noqa: E402
from hbase_to_mongo_export_spark.session import get_spark  # noqa: E402

# Headline set: the scale-sensitive queries (scans, joins, aggs, windows,
# dedup, similarity) — not the tiny metadata ones.
BENCH_QUERIES = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "join_outer_order_lineitem_counts",
    "window_topk_orders_per_customer",
    "window_running_total",
    "latest_event_per_user",
    "events_sessionize",
    "events_json_extraction",
    "asof_join_purchase_before_click",
    "range_join_events_within_hour",
    "dedup_exact_documents",
    "dedup_minhash_lsh_pairs",
    "text_stats",
    "similarity_bruteforce_topk",
    # round 2: training-pipeline heavies
    "chunk_dedup_20word",
    "unigram_logprob_score",
    "lexical_diversity_by_lang",
    # round 3+: iterative/ML + streaming-contract heavies
    "pagerank_customer_supplier",
    "kmeans_lloyd_3rounds",
    "tfidf_cosine_pairs",
    "dedup_minhash_estimate_pairs",
    "streaming_late_data_drop",
    # round 4+: graph analytics + classifier + chunking heavies
    "graph_triangle_count",
    "knn_label_classifier",
    "naive_bayes_lang_score",
    "cdc_chunk_dedup",
    "embedding_pq_assign",
    "training_corpus_pipeline",
    # round 5+: linear algebra + iterative graph
    "embedding_power_iteration_pc1",
    "graph_kcore_decomposition",
    # round 6+: keyphrases + the PQ search path
    "rake_keyphrases",
    "embedding_pq_adc_recall",
    # round 7+: log-round CC, composed IVF+PQ, BPE training, ANF sketches,
    # checkpoint-restart streaming
    "graph_cc_two_phase",
    "similarity_ivfpq_search",
    "bpe_train_3rounds",
    "graph_neighborhood_function_fm",
    "streaming_restart_state_recovery",
    # this round: sketch + in-engine ML + sequence-fold flagships
    "misra_gries_heavy_hitters",
    "logistic_newton_glm",
    "hmm_forward_loglik",
    "knn_shapley_data_values",
    "wasserstein_1d_drift",
    # round 4c: survival regression, matrix profile, histogram-EM,
    # rank tests on value histograms, robust fitting
    "cox_proportional_hazards",
    "matrix_profile_weekly_motif",
    "em_gaussian_mixture_1d",
    "kruskal_wallis_h",
    "ransac_line_fit",
    "theil_inequality_decomposition",
    # round 5: lakehouse table format — copy-on-write MERGE with file
    # pruning (manifest commit + rewrite of touched files only)
    "merge_upsert_orders",
    # round-7b engine paths: row-level UPDATE (stats-pruned CoW) and
    # RESTORE (metadata-only commit + file-pruned CDF diff)
    "merge_update_where_orders",
    "merge_restore_orders",
    # round 8: type widening — carried narrow files read through the
    # parquet reader's native promotion under the manifest schema
    "merge_type_widening",
    # round 10: WHEN NOT MATCHED BY SOURCE — the one-commit sync shape
    # (matched update + insert + tuple-pruned by-source delete/update)
    "merge_sync_not_matched_by_source",
]


def run(df) -> None:
    """Execute ``df`` fully into the noop sink: no count-style column
    pruning, no driver-side row serialization."""
    df.write.format("noop").mode("overwrite").save()


def cold_samples(build, runs: int = 3) -> list[float]:
    """Wall seconds of ``runs`` cold executions of ``build()``, in run
    order, after one untimed warm-up (the first execution of a plan shape
    pays JVM code generation that a long-running session amortizes away).

    Operator caches built by one run are released before the next, so
    every timed run pays its query's full computation: a ``.cache()``
    built in the warm-up (Spark's CacheManager matches by canonicalized
    plan) would otherwise serve all timed runs and overstate any
    cache-introducing optimization."""
    run(build())
    op_cache.release_all()
    samples = []
    for _ in range(runs):
        t0 = time.perf_counter()
        run(build())
        samples.append(time.perf_counter() - t0)
        op_cache.release_all()
    return samples


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    try:
        sf_num = float(sf)
    except ValueError:
        sf_num = sf

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Warm the JVM/codegen path once with a trivial action.
    spark.range(1000).selectExpr("sum(id)").collect()

    timings: dict[str, float] = {}
    qmap = registry.queries()
    spreads: dict[str, list[float]] = {}

    from hbase_to_mongo_export_spark.sources import catalog as _catalog

    def timed(build, name: str) -> float:
        # median of 3 cold runs: a single sample cannot tell a uniform
        # ~11% drift on unchanged queries from a regression; the min/max
        # spread is reported alongside as the noise floor.
        samples = sorted(cold_samples(build))
        spreads[name] = [round(samples[0], 3), round(samples[-1], 3)]
        return round(samples[1], 3)

    for name in BENCH_QUERIES:
        fn = qmap[name]
        # cold relation resolution per query: the first (warm-up) build
        # re-resolves its tables; repeat builds share the session memo
        # the way a long-lived production session would
        _catalog.clear_table_memo()
        timings[name] = timed(lambda: fn(spark, sf_dir), name)
        op_cache.release_all()

    # Restore-only timing (round-8 verdict ask #2): the composite
    # merge_restore_orders entry conflates five commits (create, merge,
    # delete, restore, re-merge) and its spread widened to 2× same-code.
    # This entry isolates the restore signal: the scaffold (create +
    # CoW merge + MoR delete) is built ONCE untimed; each cycle then
    # re-damages the table OUTSIDE the timer (a MoR delete of every 5th
    # key) and times ONLY the RESTORE commit plus the post-restore
    # status aggregate — identical logical work every cycle (restore
    # from a vector-deleted state back to v0's file set).
    from pyspark.sql import functions as F  # noqa: E402

    from hbase_to_mongo_export_spark.operators.merge import src as _src
    from hbase_to_mongo_export_spark.queries import lakehouse as _lake

    t = _lake._orders_table(spark, sf_dir, "benchrestorecommit")
    t.merge(
        _lake._delta(spark, sf_dir),
        on=["o_orderkey"],
        when_matched_update={
            "o_orderstatus": _src("o_orderstatus"),
            "o_totalprice": _src("o_totalprice"),
        },
    )
    restore_samples: list[float] = []
    for i in range(4):  # 1 warm-up + 3 timed, matching timed()
        t.delete_where(F.col("o_orderkey") % 5 == 0)  # damage, untimed
        t0 = time.perf_counter()
        t.restore(0)
        run(_lake._status_agg(t.read()))
        if i > 0:
            restore_samples.append(time.perf_counter() - t0)
    restore_samples.sort()
    spreads["merge_restore_commit"] = [
        round(restore_samples[0], 3),
        round(restore_samples[-1], 3),
    ]
    timings["merge_restore_commit"] = round(restore_samples[1], 3)
    op_cache.release_all()

    # The HTME export pipeline itself (decrypt + normalize UDFs + sanitise)
    # over a 10k-record envelope fixture — the reference's integration
    # workload size (hbase_data.py: 10,000 records/table).
    import tempfile

    from hbase_to_mongo_export_spark.plans.export import ExportConfig, build_export
    from hbase_to_mongo_export_spark.sources import fixtures

    with tempfile.TemporaryDirectory() as td:
        src_path = f"{td}/src"
        fixtures.source_records(spark, n=10_000).write.parquet(src_path)
        src = spark.read.parquet(src_path)
        cfg = ExportConfig(topic="db.database.collection", output_dir=f"{td}/out")
        timings["export_pipeline_10k"] = timed(
            lambda: build_export(src, cfg)[0].select("record"),
            "export_pipeline_10k",
        )

    total = round(sum(timings.values()), 3)
    # The min/max spread goes to stderr: the driver tail-captures stdout and
    # truncates long lines, so the final stdout line must stay compact
    # (metric/value/unit/queries/sf only — the ~2.3 KB shape that parses).
    print(
        json.dumps({"spread_min_max": spreads}),
        file=sys.stderr,
    )
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_time",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf_num,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
