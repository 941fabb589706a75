#!/usr/bin/env python
"""Dump `.explain("formatted")` for one or more catalog queries into
plans/<dir>/<query>_<tag>.txt (the before/after evidence files).

Usage: python scripts/explain_query.py <tag> query [query ...]
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_PLAN_DIR (default plans/r11)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


from waterbear_spark.conf import session
from waterbear_spark.queries.catalog import QUERIES


def main():
    tag = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.environ.get("SPARK_GRAFT_PLAN_DIR", "plans/r11")
    os.makedirs(out_dir, exist_ok=True)
    spark = session(8)
    for name in names:
        df = QUERIES[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        n_ex = plan.count("Exchange")
        print(f"{path}: {len(plan)} bytes, Exchange x{n_ex}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
