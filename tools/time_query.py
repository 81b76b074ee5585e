#!/usr/bin/env python3
"""Time a handful of queries exactly the way bench.py does (1 warm-up +
3 timed noop-sink runs, median reported), printing one JSON line per
query and one summary line. Each run executes under its own job group,
so next to median/min/max the line gives the Spark jobs and stages
(skipped ones included) of every timed run, in run order.

Usage: python tools/time_query.py q1 q2 ...
Honors SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS like bench.py.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import cold_samples  # noqa: E402
from hbase_to_mongo_export_spark import queries as registry  # noqa: E402
from hbase_to_mongo_export_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    names = sys.argv[1:]
    spark = get_spark("time-query")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()
    qmap = registry.queries()
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    out = {}
    for name in names:
        fn = qmap[name]
        groups = []

        def build():
            groups.append(f"time-query-{name}-{len(groups)}")
            sc.setJobGroup(groups[-1], name)
            return fn(spark, sf_dir)

        samples = cold_samples(build)
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        # job events reach the status tracker through the async listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = [tracker.getJobIdsForGroup(g) for g in groups[1:]]
        ordered = sorted(samples)
        out[name] = {
            "median": round(ordered[1], 3),
            "min": round(ordered[0], 3),
            "max": round(ordered[-1], 3),
            "jobs": [len(js) for js in jobs],
            "stages": [
                sum(len(tracker.getJobInfo(j).stageIds) for j in js) for js in jobs
            ],
        }
        print(json.dumps({name: out[name]}), flush=True)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
