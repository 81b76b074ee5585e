#!/usr/bin/env python3
"""One-shot sweep: physical-plan anti-pattern scan over EVERY registry query.

For each query in the registry (not just the bench headliners) this builds
the DataFrame at a small sf and inspects the formatted physical plan for
the scale-relevant smells from the optimization guide:

- CartesianProduct / unhinted BroadcastNestedLoopJoin (accidental cross)
- BatchEvalPython (row-at-a-time Python UDF in the plan)
- parquet scans with no PushedFilters while a Filter sits above them
- exchange count outliers

Prints one JSON line per flagged query plus a summary. Mostly plan-only:
the RETURNED DataFrame is never executed, but queries that materialize
intermediates during construction (``op_cache.checkpoint``, the per-round
checkpoints of iterative operators, lakehouse builders committing table
versions) do run Spark jobs at build time; ``op_cache.release_all()``
after each query frees what they materialized.

Usage: python tools/registry_plan_sweep.py [sf_dir] [out.json]
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hbase_to_mongo_export_spark import queries as registry  # noqa: E402
from hbase_to_mongo_export_spark.operators import _cache as op_cache  # noqa: E402
from hbase_to_mongo_export_spark.session import get_spark  # noqa: E402


def plan_of(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    out_path = sys.argv[2] if len(sys.argv) > 2 else "/tmp/registry_plan_sweep.json"
    spark = get_spark("registry-plan-sweep")
    spark.sparkContext.setLogLevel("ERROR")
    qmap = registry.queries()
    rows = {}
    errs = {}
    for name, fn in sorted(qmap.items()):
        try:
            df = fn(spark, sf_dir)
            plan = plan_of(df)
        except Exception as e:  # streaming drains, env-gated codecs, ...
            errs[name] = f"{type(e).__name__}: {e}"[:200]
            continue
        finally:
            op_cache.release_all()
        rows[name] = {
            "exchanges": len(re.findall(r"^\(\d+\) Exchange", plan, re.M)),
            "cartesian": len(re.findall(r"\bCartesianProduct\b", plan)),
            "bnl": len(re.findall(r"\bBroadcastNestedLoopJoin\b", plan)),
            "batch_eval_python": len(re.findall(r"\bBatchEvalPython\b", plan)),
            "arrow_eval_python": len(re.findall(r"\bArrowEvalPython\b", plan)),
            "python_map": len(
                re.findall(r"\b(MapInPandas|MapInArrow|FlatMapGroupsInPandas)\b", plan)
            ),
            "smj": len(re.findall(r"\bSortMergeJoin\b", plan)),
            "plan_bytes": len(plan),
        }
    flagged = {
        n: r
        for n, r in rows.items()
        if r["cartesian"] or r["batch_eval_python"] or r["plan_bytes"] > 100_000
    }
    with open(out_path, "w", encoding="utf-8") as fh:
        json.dump({"rows": rows, "errors": errs, "flagged": flagged}, fh, indent=1)
    print(
        json.dumps(
            {
                "n_planned": len(rows),
                "n_errors": len(errs),
                "n_flagged": len(flagged),
                "flagged": sorted(flagged),
                "top_exchanges": sorted(
                    rows, key=lambda n: -rows[n]["exchanges"]
                )[:15],
                "top_plan_bytes": sorted(
                    rows, key=lambda n: -rows[n]["plan_bytes"]
                )[:15],
                "bnl": sorted(n for n, r in rows.items() if r["bnl"]),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
