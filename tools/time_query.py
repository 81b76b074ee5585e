#!/usr/bin/env python3
"""Time a handful of queries exactly the way bench.py does (1 warm-up +
3 timed noop-sink runs, median reported), printing one JSON line.

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

    out = {}
    for name in names:
        fn = qmap[name]
        samples = sorted(cold_samples(lambda: fn(spark, sf_dir)))
        out[name] = {
            "median": round(samples[1], 3),
            "min": round(samples[0], 3),
            "max": round(samples[-1], 3),
        }
        print(json.dumps({name: out[name]}), flush=True)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
