#!/usr/bin/env python
"""er_golden_records knob measurement (verdict r5 ask #6).

`er_golden_records` is the slowest sf1 catalog query (23.7 s in the r5
sweep). Its cost is governed by the sorted-neighborhood knobs in
`_neighborhood_pairs`:

* ``window`` (w) — each record pairs with its w nearest neighbors in
  global (p_name, p_partkey) rank order, so the CANDIDATE set is exactly
  ``w * n - w(w+1)/2`` pairs (linear in n for fixed w) and the verify
  cost is w levenshteins per record;
* ``prefix_len`` — how many leading chars partition the distributed
  rank (wider prefix = more, smaller rank groups; result-identical by
  construction since ranks are global either way).

This script measures, per (sf, w): candidate pairs, verified pairs
(dist <= 2), edges' effect on cluster structure (clusters / max size),
and end-to-end golden-record wall time. Separately it measures
prefix_len 1 vs 2 at fixed w (plan-shape knob, identical output).

Recall context: widening w catches sort-order near-misses. TPC-H-ish
part names differ mostly in their word multiset, so a typo'd pair
usually stays rank-adjacent; the measurement shows how fast verified
pairs saturate while candidates (and wall time) keep growing linearly —
that saturation point justifies the default.

Prints one JSON line; committed as ER_KNOB_BENCH.json, findings in
SCALE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from waterbear_spark.conf import session
from waterbear_spark.operators.starcc import star_connected_components
from waterbear_spark.queries.mining import _ER_MAX_DIST, _neighborhood_pairs
from waterbear_spark.queries.tables import table

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF01 = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SF1 = os.path.join(REPO, "localdata", "sf1")
WINDOWS = (3, 5, 10, 20)


def golden_rows(spark, sf_dir, pairs):
    """The survivorship tail of er_golden_records over a pair relation —
    the SHIPPED tail (mining._er_survivorship): since round 8 that is
    the two-stage (component, sub) -> component reduce, so the bench's
    max_cluster is the TRUE component size (the saturation cap bounds
    internal agg widths, not output granularity)."""
    from waterbear_spark.queries.mining import _er_survivorship

    labels = star_connected_components(pairs, src="key_a", dst="key_b")
    parts = table(spark, sf_dir, "part").select(
        "p_partkey", "p_name", "p_retailprice"
    )
    members = parts.join(
        labels, parts["p_partkey"] == labels["vertex"]
    ).select("p_partkey", "p_name", "p_retailprice", "component")
    return _er_survivorship(members).select(
        F.col("cluster_id").alias("component"), "n_members"
    )


def measure(spark, sf_dir: str) -> list[dict]:
    out = []
    for w in WINDOWS:
        t0 = time.perf_counter()
        cand = _neighborhood_pairs(
            spark, sf_dir, max_dist=10**9, window=w
        )  # dist filter off -> candidate census
        n_cand = cand.count()
        t_cand = round(time.perf_counter() - t0, 2)

        t0 = time.perf_counter()
        pairs = _neighborhood_pairs(spark, sf_dir, _ER_MAX_DIST, window=w)
        verified = pairs.select("key_a", "key_b").persist()
        n_ver = verified.count()
        g = golden_rows(spark, sf_dir, verified)
        stats = g.agg(
            F.count(F.lit(1)).alias("clusters"),
            F.max("n_members").alias("max_cluster"),
        ).collect()[0]
        wall = round(time.perf_counter() - t0, 2)
        verified.unpersist()
        out.append(
            {
                "window": w,
                "candidates": n_cand,
                "candidate_census_s": t_cand,
                "verified_pairs": n_ver,
                "clusters": int(stats["clusters"]),
                "max_cluster": int(stats["max_cluster"]),
                "golden_wall_s": wall,
            }
        )
        print(f"  w={w}: cand={n_cand} ver={n_ver} "
              f"clusters={stats['clusters']} wall={wall}s", file=sys.stderr)
    return out


def measure_prefix(spark, sf_dir: str) -> list[dict]:
    out = []
    for plen in (1, 2):
        t0 = time.perf_counter()
        n = _neighborhood_pairs(
            spark, sf_dir, _ER_MAX_DIST, prefix_len=plen
        ).count()
        out.append(
            {
                "prefix_len": plen,
                "verified_pairs": n,
                "wall_s": round(time.perf_counter() - t0, 2),
            }
        )
    return out


def measure_golden(spark, sf_dir: str) -> dict:
    """Wall time of the shipped er_golden_records (cold + warm) — the
    round-8 contraction target metric."""
    from waterbear_spark.queries.mining import er_golden_records

    walls = []
    for _ in range(2):
        t0 = time.perf_counter()
        n = len(er_golden_records(spark, sf_dir).collect())
        walls.append(round(time.perf_counter() - t0, 2))
    return {"golden_records": n, "wall_cold_s": walls[0], "wall_warm_s": walls[1]}


def main():
    spark = session(int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    report = {}
    for tag, sf_dir in (("sf0.1", SF01), ("sf1", SF1)):
        if not os.path.exists(sf_dir):
            continue
        print(f"{tag}:", file=sys.stderr)
        report[tag] = {
            "by_window": measure(spark, sf_dir),
            "by_prefix_len": measure_prefix(spark, sf_dir),
            # the SHIPPED query end-to-end (round 8: exact-name run
            # contraction means it no longer flows through the
            # record-level pair path measured above)
            "er_golden_end_to_end": measure_golden(spark, sf_dir),
        }
    print(json.dumps(report))
    spark.stop()


if __name__ == "__main__":
    main()
