"""Generate PLANS.md: a physical-plan audit of the headline queries.

For each bench query this records the scale-relevant plan facts —
exchange (shuffle) count, join strategies chosen, whether filters reached
the parquet scan, and the read schema width — so plan regressions are
reviewable in diffs, not just caught by test assertions.

Usage: python tools/plan_audit.py [sf_dir]   (writes PLANS.md)
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import BENCH_QUERIES  # noqa: E402
from hbase_to_mongo_export_spark import queries as registry  # noqa: E402
from hbase_to_mongo_export_spark.session import get_spark  # noqa: E402


def plan_of(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def audit(plan: str) -> dict:
    read_cols = sorted(
        {
            c.split(":")[0]
            for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan)
            for c in m.group(1).split(",")
            if c
        }
    )
    return {
        "exchanges": len(re.findall(r"^\(\d+\) Exchange", plan, re.M)),
        "broadcast_joins": len(re.findall(r"\bBroadcastHashJoin\b", plan)),
        "smj": len(re.findall(r"\bSortMergeJoin\b", plan)),
        "bnl": len(re.findall(r"\bBroadcastNestedLoopJoin\b", plan)),
        "cartesian": len(re.findall(r"\bCartesianProduct\b", plan)),
        "pushed": "yes" if re.search(r"PushedFilters: \[[^\]]", plan) else "-",
        # AQE plans don't assign codegen ids offline; map-side partial
        # aggregation presence is the informative scale signal instead
        "partial_agg": "yes" if re.search(r"partial_(sum|count|avg|min|max)", plan) else "-",
        "read_cols": len(read_cols),
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    qmap = registry.queries()
    lines = [
        "# PLANS — physical-plan audit of the headline queries",
        "",
        f"Auto-generated by `tools/plan_audit.py` at `{sf_dir}`.",
        "Exchanges = shuffles in the plan (including the final orderBy where",
        "present); broadcast vs sort-merge join shows dimension joins stayed",
        "broadcast; `pushed` = at least one predicate reached the parquet scan;",
        "`partial agg` = map-side combine before the shuffle;",
        "`read_cols` = total distinct columns scanned after pruning.",
        "A query that checkpoints or finishes on the driver shows only its",
        "final plan, not the work before it: that is why pagerank reads",
        "1/0/0 and the queries on the Arrow-batch vector kernels read low.",
        "",
        "| query | exchanges | broadcast joins | sort-merge joins | pushed | partial agg | cols read |",
        "|---|---|---|---|---|---|---|",
    ]
    for name in BENCH_QUERIES:
        fn = qmap.get(name)
        if fn is None:
            continue
        try:
            a = audit(plan_of(fn(spark, sf_dir)))
        except Exception as e:  # streaming drains etc.
            lines.append(
                f"| {name} | (not planable offline: {type(e).__name__}) |||||||"
            )
            continue
        warn = " ⚠cartesian" if a["cartesian"] else ""
        lines.append(
            f"| {name}{warn} | {a['exchanges']} | {a['broadcast_joins']} | "
            f"{a['smj']} | {a['pushed']} | {a['partial_agg']} | {a['read_cols']} |"
        )
    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"
    )
    with open(out, "w", encoding="utf-8") as fh:
        fh.write("\n".join(lines) + "\n")
    print(f"wrote {out}")


if __name__ == "__main__":
    main()
