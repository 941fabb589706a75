#!/usr/bin/env python
"""Per-round cost breakdown for pagerank_bipartite (verdict r4 ask #5).

The catalog query runs 5 power iterations as one lazy broadcast chain;
its end-to-end sf1/sf0.1 ratio (2.13x in BENCH_SCALING_r04) conflates
three things: graph build (edges join + distinct + persist), per-round
edge-scan + contribution shuffle, and the final top-k. This script times
them separately — each round is forced through a noop write with the
incoming rank vector localCheckpointed, so a round's measurement covers
exactly one broadcast + one edge scan + one aggregate, no lineage
replay. Iteration count is FIXED at 5 (power iteration, not a
convergence loop), so round count cannot grow with data: any growth must
show up in these per-round numbers.

Prints one JSON line; findings recorded in SCALE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from waterbear_spark.conf import session
from waterbear_spark.queries.graph import (
    _DAMP_DEN,
    _DAMP_NUM,
    _ITERS,
    _SCALE,
    _pagerank_round,
    _pagerank_setup,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF01 = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SF1 = os.path.join(REPO, "localdata", "sf1")


def breakdown(spark: SparkSession, sf_dir: str) -> dict:
    t0 = time.perf_counter()
    edges_deg, nodes, n_nodes = _pagerank_setup(spark, sf_dir)
    # r12: the persisted frame is the directed-edge list itself; the
    # count also materializes the persist
    n_edges = edges_deg.count()
    setup_s = round(time.perf_counter() - t0, 3)

    base = _SCALE * (_DAMP_DEN - _DAMP_NUM) // _DAMP_DEN // n_nodes
    ranks = nodes.select(
        "node", F.lit(_SCALE // n_nodes).alias("r")
    ).localCheckpoint()
    rounds = []
    for _ in range(_ITERS):
        t0 = time.perf_counter()
        # checkpoint the OUTPUT so the next round starts from materialized
        # state — the timed region is exactly one broadcast + edge scan +
        # contribution aggregate
        ranks = _pagerank_round(edges_deg, ranks, base).localCheckpoint()
        rounds.append(round(time.perf_counter() - t0, 3))
    edges_deg.unpersist()
    return {
        "n_nodes": n_nodes,
        "n_edges": n_edges,
        "setup_s": setup_s,
        "rounds_s": rounds,
        "mean_round_s": round(sum(rounds) / len(rounds), 3),
        "total_s": round(setup_s + sum(rounds), 3),
    }


def main():
    if not os.path.isdir(SF1):
        sys.exit("localdata/sf1 missing - run scripts/make_sf1.py first")
    spark = session(
        int(os.environ.get("SPARK_GRAFT_CPUS", "32")),
        driver_memory=os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
    )
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # warmup

    out = {"metric": "pagerank_round_breakdown", "unit": "sec"}
    for label, sf_dir in (("sf0.1", SF01), ("sf1", SF1)):
        # second run is the steady-state one (codegen/listing warm)
        breakdown(spark, sf_dir)
        out[label] = breakdown(spark, sf_dir)
    s, b = out["sf0.1"], out["sf1"]
    out["ratio_mean_round"] = round(b["mean_round_s"] / s["mean_round_s"], 2)
    out["ratio_setup"] = round(b["setup_s"] / s["setup_s"], 2)
    out["ratio_edges"] = round(b["n_edges"] / s["n_edges"], 2)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
