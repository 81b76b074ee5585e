#!/usr/bin/env python3
"""Scale-curve sweep (SCALE_EVIDENCE §4): run the expensive headline
queries at TWO scale factors and report per-query scaling exponents —
the empirical answer to "what happens at 10×?".

exponent = log(T_hi / T_lo) / log(sf_hi / sf_lo)

≈1 means linear in data size (the ideal for scans/joins/aggs whose
parallelism grows with input), <1 means fixed overheads still dominate
at the low point (scheduler latency, per-job constants), >1 means
super-linear work (quadratic pair generation, per-round growth) — each
>1.2 case needs a named reason or a plan audit.

ORDER INDEPENDENCE: every (query, sf) measurement runs in its OWN
subprocess with a fresh JVM + SparkSession. The round-9 harness ran all
queries through one shared session, and its readings were position-
dependent — `merge_upsert_orders` read 25.1 s after the graph heavies
vs 2.89 s fresh (r9 SCALE_EVIDENCE §4 had to annotate a manual re-run).
A fresh process per measurement makes exponents independent of sweep
order by construction; `--shuffle SEED` additionally randomizes the
measurement order so any residual host-level drift (thermal, page
cache) can be bounded by running two sweeps with different seeds.
JVM startup is excluded: the child warms up (codegen + file listing)
before its timed runs and prints only the timed samples.

Both sf dirs should come from tools/gen_sf.py so the two points are
distributionally identical; the generated low point is cross-checked
against the driver-shipped sf0.1 bench elsewhere.

Usage:
  python tools/scale_sweep.py LO_DIR HI_DIR --lo-sf 0.1 --hi-sf 1 \
      [--queries q1,q2,...] [--runs 2] [--shuffle SEED]
Prints one JSON line: {"queries": {name: {"lo": [s...], "hi": [s...],
"exponent": e}}, ...}.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# The scale-sensitive headline set: scans/joins/aggs, sessionization,
# dedup, similarity (brute-force AND the IVF+PQ scale path, to contrast
# the by-design-quadratic baseline with its sub-linear replacement),
# iterative graph/ML, the text pipeline, and the lakehouse + streaming
# families (MoR delete, CDF replay, update_where, stateful windows).
DEFAULT_QUERIES = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "join_outer_order_lineitem_counts",
    "events_sessionize",
    "latest_event_per_user",
    "chunk_dedup_20word",
    "dedup_minhash_lsh_pairs",
    "tfidf_cosine_pairs",
    "similarity_bruteforce_topk",
    "similarity_ivfpq_search",
    "pagerank_customer_supplier",
    "graph_cc_two_phase",
    "graph_kcore_decomposition",
    "embedding_power_iteration_pc1",
    "training_corpus_pipeline",
    "merge_upsert_orders",
    "bpe_train_3rounds",
    # the absolute-df-cap variant of the one measured super-linear
    # query — its exponent with the cut ON is the round-10 item-2 proof
    "tfidf_cosine_pairs_maxdf50",
    # lakehouse beyond the upsert: MoR delete path, predicate-pruned
    # update, CDF spool + streaming replay, by-source sync
    "merge_mor_delete_orders",
    "merge_update_where_orders",
    "merge_cdf_stream_replay",
    "merge_sync_not_matched_by_source",
    # streaming: tumbling agg and stateful sessionization
    "streaming_tumbling_window",
    "streaming_session_timeout",
]


def _child(name: str, sf_dir: str, runs: int) -> None:
    """Measure ONE query in this (fresh) process; print JSON samples."""
    from bench import cold_samples
    from hbase_to_mongo_export_spark import queries as registry
    from hbase_to_mongo_export_spark.session import get_spark

    spark = get_spark("scale_sweep_child")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()
    # demo queries (CLI-runnable, un-oracled scale variants like the
    # max_df-capped tfidf) are sweepable too
    fn = {**registry.queries(), **registry.demo_queries()}[name]
    samples = cold_samples(lambda: fn(spark, sf_dir), runs)
    print("SWEEP_RESULT " + json.dumps([round(t, 3) for t in samples]))
    spark.stop()


def _measure(name: str, sf_dir: str, runs: int) -> list[float]:
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--child", name,
         "--child-dir", sf_dir, "--runs", str(runs), "_", "_"],
        capture_output=True, text=True, cwd=REPO, timeout=1800,
    )
    for line in proc.stdout.splitlines():
        if line.startswith("SWEEP_RESULT "):
            return json.loads(line[len("SWEEP_RESULT "):])
    raise RuntimeError(
        f"sweep child for {name} @ {sf_dir} failed:\n"
        f"{proc.stdout[-2000:]}\n{proc.stderr[-2000:]}"
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("lo_dir")
    ap.add_argument("hi_dir")
    ap.add_argument("--lo-sf", type=float, default=0.1)
    ap.add_argument("--hi-sf", type=float, default=1.0)
    ap.add_argument("--queries", default=None)
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--shuffle", type=int, default=None,
                    help="seed to randomize measurement order")
    ap.add_argument("--child", default=None, help=argparse.SUPPRESS)
    ap.add_argument("--child-dir", default=None, help=argparse.SUPPRESS)
    args = ap.parse_args()
    if args.child:
        _child(args.child, args.child_dir, args.runs)
        return
    names = args.queries.split(",") if args.queries else DEFAULT_QUERIES

    # one (query, sf) measurement per subprocess; order shufflable
    tasks = [(n, "lo") for n in names] + [(n, "hi") for n in names]
    if args.shuffle is not None:
        random.Random(args.shuffle).shuffle(tasks)
    dirs = {"lo": args.lo_dir, "hi": args.hi_dir}
    samples: dict[str, dict[str, list[float]]] = {n: {} for n in names}
    for name, side in tasks:
        t0 = time.perf_counter()
        samples[name][side] = _measure(name, dirs[side], args.runs)
        print(
            f"# {name}@{side}: {samples[name][side]} "
            f"(child wall {time.perf_counter() - t0:.0f}s)",
            file=sys.stderr, flush=True,
        )

    ratio = math.log(args.hi_sf / args.lo_sf)
    out: dict[str, dict] = {}
    for name in names:
        lo, hi = samples[name]["lo"], samples[name]["hi"]
        lo_m, hi_m = statistics.median(lo), statistics.median(hi)
        out[name] = {
            "lo": lo,
            "hi": hi,
            "lo_med": round(lo_m, 3),
            "hi_med": round(hi_m, 3),
            "exponent": round(math.log(hi_m / lo_m) / ratio, 3),
        }
    print(
        json.dumps(
            {
                "lo_sf": args.lo_sf,
                "hi_sf": args.hi_sf,
                "runs": args.runs,
                "shuffle": args.shuffle,
                "isolation": "subprocess-per-measurement",
                "queries": out,
            }
        )
    )


if __name__ == "__main__":
    main()
