#!/usr/bin/env python
"""Min-of-N single-session timer for individual catalog queries.

Same session confs as bench.py (noop sink, clearCache between reps) so
numbers are comparable to the bench's per-query entries within ONE
session. Usage:

    python scripts/time_queries.py [-n REPS] query [query ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


from waterbear_spark.conf import session
from waterbear_spark.queries.catalog import QUERIES


def main():
    args = sys.argv[1:]
    reps = 3
    if args and args[0] == "-n":
        reps = int(args[1])
        args = args[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = session(
        int(os.environ.get("SPARK_GRAFT_CPUS", "32")),
        driver_memory=os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    )
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    for name in args:
        fn = QUERIES[name]
        times = []
        for _ in range(reps + 1):  # first rep is codegen warmup, dropped
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
            times.append(round(time.perf_counter() - t0, 3))
        print(f"{name}: min={min(times[1:])} all={times}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
