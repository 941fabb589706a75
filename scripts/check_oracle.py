#!/usr/bin/env python
"""Local replica of the driver's correctness harness: run every declared
query on Spark and its oracle SQL on DuckDB over the same parquet tables,
compare row count, column names, and an order-insensitive value hash.

On a full run (no query filter) the per-query results are also written to
``CORRECTNESS_LOCAL.json`` at the repo root — the committed evidence that
the ENTIRE catalog hash-matches, beyond whatever window the driver's
per-round file covers.

Usage: python scripts/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from waterbear_spark.conf import session
from waterbear_spark.queries.catalog import ORACLE_SQL, QUERIES
from waterbear_spark.queries.tables import TABLES
from waterbear_spark.testing import frame_fingerprint, norm_cell


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    # one driver JVM survives ~200 collected query results; the 1g
    # default heap OOMs near the end of the full sweep
    spark = session(8, driver_memory=os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))

    con = duckdb.connect()
    for t in TABLES:
        src = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(src):  # Spark directory-style output (localdata/sf1)
            src = f"{src}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")

    failures = []
    results: dict[str, dict] = {}
    for name, fn in sorted(QUERIES.items()):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception as err:
            failures.append(name)
            results[name] = {"status": "spark_error", "err": str(err)[:300]}
            print(f"FAIL  {name}: spark error: {err}")
            continue
        sql = ORACLE_SQL.get(name)
        if sql is None:
            results[name] = {"status": "rows_only", "rows": len(s_rows)}
            print(f"rows-only  {name}: {len(s_rows)} rows ({time.time()-t0:.1f}s)")
            continue
        try:
            res = con.execute(sql)
            d_cols = [d[0] for d in res.description]
            d_rows = res.fetchall()
        except Exception as err:
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {err}")
            continue

        problems = []
        if sorted(s_cols) != sorted(d_cols):
            problems.append(f"columns {sorted(s_cols)} != {sorted(d_cols)}")
        if len(s_rows) != len(d_rows):
            problems.append(f"rows {len(s_rows)} != {len(d_rows)}")
        if not problems:
            sh = frame_fingerprint(s_cols, s_rows)
            dh = frame_fingerprint(d_cols, d_rows)
            if sh != dh:
                problems.append("value hash mismatch")
                # show first diff for debugging
                s_set = {
                    "\x01".join(
                        norm_cell(r[i])
                        for i in sorted(range(len(s_cols)), key=lambda i: s_cols[i])
                    )
                    for r in s_rows
                }
                d_set = {
                    "\x01".join(
                        norm_cell(r[i])
                        for i in sorted(range(len(d_cols)), key=lambda i: d_cols[i])
                    )
                    for r in d_rows
                }
                for line in sorted(s_set - d_set)[:3]:
                    print("   spark-only:", line[:200])
                for line in sorted(d_set - s_set)[:3]:
                    print("   duck-only :", line[:200])
        if problems:
            failures.append(name)
            results[name] = {"status": "mismatch", "problems": problems}
            print(f"FAIL  {name}: {'; '.join(problems)}")
        else:
            results[name] = {"status": "hash_match", "rows": len(s_rows)}
            print(f"ok    {name}: {len(s_rows)} rows ({time.time()-t0:.1f}s)")

    # filtered runs also persist when an explicit artifact name is given
    # (e.g. the sf1 magnitude-sensitive subset sweep)
    if not only or os.environ.get("SPARK_GRAFT_CORRECTNESS_OUT"):
        artifact = os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            # override for sweeps at non-default scale factors, so the
            # canonical sf0.01 artifact isn't clobbered
            os.environ.get("SPARK_GRAFT_CORRECTNESS_OUT", "CORRECTNESS_LOCAL.json"),
        )
        with open(artifact, "w") as fh:
            json.dump(
                {
                    "sf_dir": sf_dir,
                    "n_queries": len(results),
                    "n_hash_match": sum(
                        1 for r in results.values() if r["status"] == "hash_match"
                    ),
                    "results": results,
                },
                fh,
                indent=1,
            )
        print(f"wrote {artifact}")

    print()
    if failures:
        print(f"{len(failures)} FAILURES: {failures}")
        sys.exit(1)
    print("all queries match their oracles")
    spark.stop()


if __name__ == "__main__":
    main()
