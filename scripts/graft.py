#!/usr/bin/env python
"""The catalog's measurement tool: four subcommands over one session,
DuckDB and timing core.

* ``oracle``  — run each query on Spark and its oracle SQL on DuckDB over
  the same parquet; compare column names, row count and an
  order-insensitive value hash (``waterbear_spark.testing``). Exits 1 on
  any failure; ``--out`` writes the per-query results as JSON.
* ``time``    — min-of-N wall time per query into the noop sink, one
  session, each rep run in a query scope (``bench.py``'s per-query
  timing).
* ``explain`` — formatted physical plans. With query names, one file per
  query under ``--out``; with none, the repo's PLANS.md regenerated from
  SHOWCASE.
* ``scaling`` — the HEAVY queries timed at a small and a big scale, with
  the big/small ratio and a grade per query (``make_sf1.py`` builds the
  10x scale); prints one JSON line.

``oracle``, ``time`` and ``scaling`` run each query inside
``waterbear_spark.scope.query_scope``, so no query's caches or
checkpoints reach the next one.

Usage::

    python scripts/graft.py oracle --sf DIR [--out FILE] [query ...]
    python scripts/graft.py time --sf DIR [-n REPS] query [query ...]
    python scripts/graft.py explain --sf DIR [--out DIR] [--tag TAG] [query ...]
    python scripts/graft.py scaling --small DIR [--big DIR]

Every subcommand takes ``--cores`` (default 8) and ``--driver-memory``
(default 8g); the session is ``waterbear_spark.conf.session``. Called
in-process while a session is active, ``main`` runs on that session as
it is and ignores both.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import duckdb
from pyspark.sql import SparkSession

from waterbear_spark.conf import session
from waterbear_spark.queries import llm
from waterbear_spark.queries.catalog import ORACLE_SQL, QUERIES
from waterbear_spark.queries.tables import TABLES, table
from waterbear_spark.scope import query_scope
from waterbear_spark.testing import compare_frames, row_lines

# ---------------------------------------------------------------- core


def _duck(sf_dir: str):
    """A DuckDB connection with one view per catalog table over ``sf_dir``."""
    con = duckdb.connect()
    for t in TABLES:
        src = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(src):  # Spark directory-style output (localdata/sf1)
            src = f"{src}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
    return con


def _warm_jvm(spark) -> None:
    spark.range(1_000_000).selectExpr("sum(id)").collect()


def _min_of(spark, fn, sf_dir: str, reps: int, warmup: int = 0):
    """(min over the timed reps, every rep's seconds): each rep writes the
    query into the noop sink in its own query scope, whose release is
    not timed; the first ``warmup`` reps pay codegen and file listing
    and are left out of the min."""
    times = []
    for _ in range(warmup + reps):
        with query_scope(spark):
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
            times.append(round(time.perf_counter() - t0, 3))
    return min(times[warmup:]), times


# -------------------------------------------------------------- oracle


def cmd_oracle(spark, args) -> int:
    con = _duck(args.sf)
    names = args.queries or sorted(QUERIES)
    results: dict[str, dict] = {}
    for name in names:
        t0 = time.time()
        try:
            with query_scope(spark):
                sdf = QUERIES[name](spark, args.sf)
                s_cols, s_rows = sdf.columns, [tuple(r) for r in sdf.collect()]
        except Exception as err:
            results[name] = {"status": "spark_error", "err": str(err)[:300]}
            print(f"FAIL  {name}: spark error: {err}")
            continue
        sql = ORACLE_SQL.get(name)
        if sql is None:
            results[name] = {"status": "rows_only", "rows": len(s_rows)}
            print(f"rows-only  {name}: {len(s_rows)} rows ({time.time() - t0:.1f}s)")
            continue
        try:
            res = con.execute(sql)
            d_cols, d_rows = [d[0] for d in res.description], res.fetchall()
        except Exception as err:
            results[name] = {"status": "duckdb_error", "err": str(err)[:300]}
            print(f"FAIL  {name}: duckdb error: {err}")
            continue
        problems = compare_frames(s_cols, s_rows, d_cols, d_rows)
        if problems:
            results[name] = {"status": "mismatch", "problems": problems}
            print(f"FAIL  {name}: mismatch: {'; '.join(problems)}")
            s_lines = set(row_lines(s_cols, s_rows))
            d_lines = set(row_lines(d_cols, d_rows))
            for line in sorted(s_lines - d_lines)[:3]:
                print("   spark-only:", line[:200])
            for line in sorted(d_lines - s_lines)[:3]:
                print("   duck-only :", line[:200])
        else:
            results[name] = {"status": "hash_match", "rows": len(s_rows)}
            print(f"ok    {name}: {len(s_rows)} rows ({time.time() - t0:.1f}s)")

    if args.out:
        with open(args.out, "w") as fh:
            json.dump(
                {
                    "sf_dir": args.sf,
                    "n_queries": len(results),
                    "n_hash_match": sum(
                        r["status"] == "hash_match" for r in results.values()
                    ),
                    "results": results,
                },
                fh,
                indent=1,
            )
        print(f"wrote {args.out}")
    failures = [
        n for n, r in results.items() if r["status"] not in ("hash_match", "rows_only")
    ]
    print()
    if failures:
        print(f"{len(failures)} FAILURES: {failures}")
        return 1
    print("all queries match their oracles")
    return 0


# ---------------------------------------------------------------- time


def cmd_time(spark, args) -> int:
    _warm_jvm(spark)
    for name in args.queries:
        best, times = _min_of(spark, QUERIES[name], args.sf, args.reps, warmup=1)
        print(f"{name}: min={best} all={times}", flush=True)
    return 0


# ------------------------------------------------------------- explain

SHOWCASE = {
    "q1_pricing_summary": "scan-side filter pushdown + one-shuffle hash agg",
    "q5_region_revenue": "star join: every dimension broadcasts, one fact exchange",
    "q8_market_share": "widest join in the catalog — seven broadcast probes",
    "sessionize_events": "window and groupBy share one hash partitioning",
    "asof_last_order": "as-of join as union-timeline: no join operator at all",
    "dedup_near_minhash": "row-local sketching: no exchange before the band join",
    "embedding_topk": "deliberate broadcast nested loop against 5 query rows",
    "filter_project": "PushedFilters + pruned ReadSchema at the parquet scan",
    "q2_min_cost_supplier": "correlated-min decorrelated: cost table built once, min reuses its partitioning",
    "q21_sole_returner": "EXISTS + NOT EXISTS as one semi and one anti join with residual inequalities",
    "reservoir_sample_orders": "bottom-k sample plans as TakeOrderedAndProject: per-task heaps, no global sort",
    "skyline_orders": "fact table reduces to per-date maxima before the frontier scan; survivors broadcast back",
    "funnel_conversion": "chained per-stage aggregates reuse the user_id partitioning; stage frames shrink",
    "attribution_join": "time-banded stream-stream join twin: one user_id shuffle per side, band predicate pruned in SMJ",
    "multimodal_header_triage": "binary header parse fully inside whole-stage codegen — zero Python, zero extra exchange",
    "weighted_median_price": "two-pass bucketed quantile: only the crossing bucket pays an exact sort",
    "equidepth_histogram": "NTILE as 16 order statistics: boundary ranks from arithmetic, sorts confined to hit buckets",
    "dedup_recall_report": "planted-pair recall audit: variant + signatures + band compare all row-local, one tiny aggregate",
    "sequence_packing": "concat-and-chunk packing: one source shuffle, running-sum window, bounded aggregate",
    "session_metrics_user": "session windows in batch: one key shuffle, merge state per key — same plan the stream runs",
    "tfidf_top_terms": "tf/df aggregates + broadcast vocab and scalar N; per-doc window over a handful of terms",
    "rolling_distinct_users": "sliding COUNT DISTINCT as contribution expansion: distinct, 7x map-side explode, one agg — no self-join",
    "bom_rollup_cost": "recursive-CTE capability in closed form: ancestor-chain explode + one hash aggregate, no iteration",
    "grid_neighbor_join": "radius join via grid cells: 3x3 replication then a pure equi-join on cell id — no nested loop",
    "incremental_dedup_merge": "batch-vs-corpus dedup: corpus side reduced to digests + band keys, anti/semi equi-joins only",
    "ema_daily_revenue": "recurrence over the aggregated series: two key shuffles, the fold is row-local array math",
    "attribution_unmatched": "left-outer stream-stream twin: unmatched rows ride the same banded SMJ, no extra exchange",
    "sentence_dedup_c4": "corpus-wide sentence dedup: 16-byte digest is the only shuffle key; one window, one census agg",
    "dup_span_census": "exact substring-dedup measure: digests row-local, min!=max cross-doc test, islands run-length windows",
    "lateral_top_orders": "correlated LATERAL decorrelated: rank window over one custkey shuffle, no per-row subquery",
    "recursive_org_rollup": "genuine WITH RECURSIVE: UnionLoop frontier joins, log10-bounded depth",
    "multimodal_jpeg_dims": "variable-offset JPEG marker walk as a bounded fold — still zero Python, map-only",
    "skew_key_census": "top-k heavy keys via TakeOrderedAndProject: per-partition heaps, window only on k rows",
    "bm25_search": "ranked retrieval: corpus filtered to query terms before any aggregate; df/avgdl broadcast; TakeOrdered top-k",
    "sorted_neighborhood_pairs": "ER blocking (r10): distributed adaptive-prefix-offset rank, block equi-join pinned to an explicit hash repartition (AQE coalesce would starve the levenshtein verify), verify bounded to 2w neighbors",
    "itemset_pair_lift": "market-basket pairs: basket-bounded self equi-join on order key, broadcast item supports",
    "holt_linear_forecast": "2-state recurrence over the aggregated series: the fold is row-local struct math after two key shuffles",
    "interval_bucket_overlap": "interval→bucket allocation: duration-bounded explode of spanned hours, combinable per-hour sum",
    "bootstrap_ci_mean": "Poisson bootstrap (r10): 16x pair explode with digest-split draws (one md5 feeds two replicates), fan-out ahead of the hash stage, replicate means combine map-side, 32-row closing fold",
    "dedup_near_minhash_capped": "band-degree cap engaged (r10): degree census joined back onto the band relation, md5-salted sub-bucket key in the candidate equi-join, verify unchanged",
    "kmv_set_ops": "KMV sketch algebra: two-phase k-min (bucket-local rank then global), estimates on one-row relations",
    "point_in_polygon": "geofence census: 5-edge crossing fold fully in-row, broadcast nation dim, one bounded aggregate",
    "semi_additive_balance": "dense ledger: spine broadcast onto month-grain aggregates, carry-forward window on state rows",
    "containment_join": "containment dedup: rare-shingle block + >=3-shared gate, exact intersection by (shingle,doc) equi-join",
    "status_streaks": "equal-run islands: both windows share one customer Exchange, then a bounded run aggregate",
    "feature_hashing": "hashing trick: 3 tokens/row map-side, one 64-bucket aggregate — vocabulary never materializes",
    "decile_lift_table": "lift/gains: distributed exact NTILE (no global sort), closing window on 10 rows",
    "percentile_sla_by_type": "exact per-group p50/p90/p99: value-bucket prefix sums, no per-group sort anywhere",
    "welch_ttest_segments": "two-sample test: one pass builds both cells' exact moments, closed-form readout",
    "trajectory_length": "sequential geospatial: one user shuffle, row-local haversine, decimal sums, TakeOrdered",
    "grid_dbscan": "cell-DBSCAN: density on the cell relation, star-CC merge — no point epsilon-join in the plan",
    "holt_winters_seasonal": "3-state seasonal recurrence: day-grain fold after one combinable daily aggregate",
    "kendall_tau_qty_disc": "tau-b on the value census: one combinable cell aggregate, |cells|^2 broadcast theta join",
    "sparse_cosine_topk": "sparse cosine: capped postings (per-doc window), df-pruned inverted-index equi self-join, TakeOrdered",
    "lorenz_curve_deciles": "Lorenz deciles: two-level bucket prefix sums, 10-way census explode — no global row sort",
    "typo_dedup_vocab": "deletion-neighborhood blocking: vocab-sized variant explode, equi-join on variant, levenshtein verify",
    "weighted_sssp": "Bellman-Ford round: broadcast distance vector onto edges, min-aggregate on dst, lineage checkpointed",
    "interval_coverage_user": "interval union: per-user windows share one Exchange, islands from running max-end",
    "rendezvous_sharding": "HRW sharding: in-row 10/11-element argmax, two bounded shard censuses, full outer on shard",
    "spearman_price_quantity": "round-5 rewrite: census + bucketed prefix ranks — no fact-table sort window, parallelism unbound from the 3 flags",
    "ann_recall_report": "probe-sample index audit: truth vs cell/bucket candidate equi-joins, 5x3 broadcast spine",
    "semdedup_cells": "SemDeDup (r7/r10): one PINNED cell-key repartition into a per-cell BLAS census (FlatMapGroupsInPandas) — pair space never leaves the worker; the explicit exchange keeps AQE from coalescing the FLOP-dense stage",
    "ann_ivf_kmeans": "two-level IVF (r7): sample-trained centroid DataFrames, broadcast packed-struct assignment + row-local argmin — no plan literals, no corpus shuffle",
    "quality_gate_funnel": "five gates in one scan + one doc-keyed mode aggregate; attrition from a single 5-struct explode",
    "epoch_allocation": "|sources|-row allocation: two broadcast 1-row scalars, exact decimal floor-div waterfall",
    "embedding_quantization_audit": "per-dim scales (64-row broadcast) back onto the exploded components, one label aggregate",
    "er_golden_records": "ER end-to-end (r8): exact-name runs contracted before blocking, star-CC over run edges, two-stage partial-agg survivorship",
    "ivf_balance_audit": "index QA: occupancy groupBy on the shipped assignment, micro-relation rollup per coarse cell",
    "ann_ivfpq_adc_search": "IVF-PQ serving (r8): candidates scored by code-table equi-joins against a broadcast per-probe LUT — raw vectors never touched",
    "ann_refine_rerank": "two-stage refine (r8): ADC shortlist via rank window, raw vectors equi-joined for the R rows per probe only",
    "ann_index_manifest": "staged-index census (r9): four bounded aggregates over the staged/memoised components — the corpus is scanned only by the first-ever build",
    "near_dup_degree_census": "LSH pre-flight (r9): the dedup pipeline's own band equi-join, distinct-partner count, bounded degree histogram",
    "curriculum_schedule": "curriculum manifest (r9): in-row stopword score, distributed exact NTILE, closing windows on the 4-row phase relation",
    "embedding_covariance": "one-pass covariance (r9): flat row-local product explode into d(d+1)/2 map-side-combinable cells; (i,j) decode + dim sums are broadcast micro-relations joined after the aggregate",
    "bloom_decontaminate": "Bloom screen (r8): fixed 4096-position broadcast filter; per-shingle flags reattach through an unhinted vocab equi-join",
    "knn_hubness_audit": "hubness audit (r8/r10): one PINNED cell-key repartition into a per-cell BLAS NN histogram (FlatMapGroupsInPandas) — edges never leave the worker",
    "dup_span_removal_manifest": "substring-dedup manifest (r8): row-local window digests, digest-keyed census join, per-doc island windows",
    "quota_sample_manifest": "domain caps (r8): rank filter directly on the window (WindowGroupLimit bounds per-source state at N), census joined back",
}


def _plan(df) -> str:
    """``df.explain(mode="formatted")``'s text, returned instead of printed."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def cmd_explain(spark, args) -> int:
    if args.queries:
        out_dir = args.out or "plans"
        os.makedirs(out_dir, exist_ok=True)
        suffix = f"_{args.tag}" if args.tag else ""
        for name in args.queries:
            plan = _plan(QUERIES[name](spark, args.sf))
            path = os.path.join(out_dir, f"{name}{suffix}.txt")
            with open(path, "w") as fh:
                fh.write(plan)
            print(f"{path}: {len(plan)} bytes, Exchange x{plan.count('Exchange')}")
        return 0
    out = [
        "# PLANS — formatted physical plans for showcase queries",
        "",
        f"Generated by `python scripts/graft.py explain --sf {args.sf}` "
        "(plan SHAPE is what matters; AQE re-sizes at runtime).",
        "",
    ]
    for name, why in SHOWCASE.items():
        plan = _plan(QUERIES[name](spark, args.sf))
        out += [f"## {name}", "", f"*{why}*", "", "```", plan.rstrip(), "```", ""]
    path = os.path.join(REPO, "PLANS.md")
    with open(path, "w") as fh:
        fh.write("\n".join(out))
    print(f"wrote {path} ({len(SHOWCASE)} plans)")
    return 0


# ------------------------------------------------------------- scaling

# the heavy tail: iterative loops, corpus-sized joins and shuffles,
# pair generators whose candidate count grows with the data
HEAVY = [
    "profile_table",
    "simhash_near_dup",
    "dedup_near_minhash",
    "triangle_count_nations",
    "jaccard_prefix_join_uncapped",
    "pagerank_bipartite",
    "lm_quality_score",
    "incremental_dedup_merge",
    "bigram_pmi",
    "spearman_price_quantity",
    "sentence_dedup_c4",
    "dup_span_census",
    "dedup_clusters_star",
    "bpe_pair_counts",
    "sorted_neighborhood_pairs",
    "itemset_pair_lift",
    "bm25_search",
    "er_golden_records",
    "interval_bucket_overlap",
    "containment_join",
    "bootstrap_ci_mean",
    "harmonic_centrality",
    "kcore_decomposition",
    "rake_keywords",
    "sparse_cosine_topk",
    "typo_dedup_vocab",
    "bpe_merge_rounds",
    "copurchase_projection",
    "lorenz_curve_deciles",
    "wilcoxon_signed_rank",
    "interval_coverage_user",
    "semdedup_cells",
    "ann_recall_report",
    "ann_ivf_kmeans",
    "perplexity_buckets",
    "doremi_mix_weights",
    "unigram_entropy_by_source",
    "token_coverage_curve",
    "tfidf_top_terms",
    "dup_span_removal_manifest",
    "contamination_ngram_sweep",
    "ann_refine_rerank",
    "bloom_decontaminate",
    "knn_hubness_audit",
    "novelty_profile_by_source",
    "minhash_estimate_audit",
    "dedup_near_minhash_capped",
]

RATIO_BAR = 3.5
# big-scale wall-clock budget (sec) for queries whose ratio exceeds the
# bar: one finishing this fast at 10x data is not a scaling risk whatever
# a collapsed small-scale base does to the quotient
ABS_BIG_BUDGET = 6.0
# bench-only stress twins measured above the bar by design
STRESS_EXEMPT = {
    "jaccard_prefix_join_uncapped": (
        "uncapped O(cand^2) prefix-join core, benched on the full corpus "
        "to document why the catalog variant caps its candidate space"
    ),
}


def _prefix_join_uncapped(spark, sf_dir):
    # the catalog's jaccard_prefix_join subsets doc_ids for its O(n^2)
    # oracle, which would make it constant-size; bench the core instead
    return llm.prefix_join_pairs(table(spark, sf_dir, "documents"))


def _heavy(name: str):
    if name == "jaccard_prefix_join_uncapped":
        return _prefix_join_uncapped
    return QUERIES[name]


def grade(name: str, ratio: float, big_wall: float) -> str:
    """``pass`` (near-linear), ``pass-absolute`` (over the bar, but the
    big run is under budget: the small base collapsed), ``stress-exempt``
    or ``regression`` (over the bar and over budget)."""
    if name in STRESS_EXEMPT:
        return "stress-exempt"
    if ratio <= RATIO_BAR:
        return "pass"
    if big_wall <= ABS_BIG_BUDGET:
        return "pass-absolute"
    return "regression"


def cmd_scaling(spark, args) -> int:
    if not os.path.isdir(args.big):
        raise SystemExit(f"{args.big} missing - run scripts/make_sf1.py first")
    _warm_jvm(spark)
    # min of 2: the first pass pays one-off codegen and file listing,
    # which would swamp the data-dependent cost at the small scale
    small, big = (
        {n: _min_of(spark, _heavy(n), sf_dir, reps=2)[0] for n in HEAVY}
        for sf_dir in (args.small, args.big)
    )
    ratio = {n: round(big[n] / small[n], 2) for n in HEAVY}
    grades = {n: grade(n, ratio[n], big[n]) for n in HEAVY}
    out = {
        "metric": "heavy_tail_scaling",
        "unit": "sec",
        "small": os.path.basename(os.path.normpath(args.small)),
        "big": os.path.basename(os.path.normpath(args.big)),
        "small_s": small,
        "big_s": big,
        "ratio_big_over_small": ratio,
        "grading_rule": (
            f"pass: ratio <= {RATIO_BAR}; pass-absolute: big wall <= "
            f"{ABS_BIG_BUDGET}s (collapsed-base ratios are not "
            "regressions); stress-exempt: bench-only stress twin (see "
            "stress_exempt); regression: over bar AND over budget"
        ),
        "stress_exempt": STRESS_EXEMPT,
        "grade": grades,
        "regressions": sorted(n for n, g in grades.items() if g == "regression"),
    }
    print(json.dumps(out))
    return 0


# ---------------------------------------------------------------- main


def _parser() -> argparse.ArgumentParser:
    common = argparse.ArgumentParser(add_help=False)
    common.add_argument("--cores", type=int, default=8, help="local[N] session")
    common.add_argument("--driver-memory", default="8g")
    one_scale = argparse.ArgumentParser(add_help=False, parents=[common])
    one_scale.add_argument("--sf", required=True, help="dir of <table>.parquet files")

    p = argparse.ArgumentParser(
        description=__doc__.split("\n\n")[0],
        formatter_class=argparse.RawDescriptionHelpFormatter,
    )
    sub = p.add_subparsers(dest="command", required=True)

    o = sub.add_parser("oracle", parents=[one_scale], help="Spark vs DuckDB oracle check")
    o.add_argument("--out", help="write per-query results here as JSON")
    o.add_argument("queries", nargs="*", help="default: the whole catalog")
    o.set_defaults(run=cmd_oracle)

    t = sub.add_parser("time", parents=[one_scale], help="min-of-N noop-sink wall time")
    t.add_argument("-n", "--reps", type=int, default=3, help="timed reps after one warmup")
    t.add_argument("queries", nargs="+")
    t.set_defaults(run=cmd_time)

    e = sub.add_parser("explain", parents=[one_scale], help="formatted physical plans")
    e.add_argument("--out", help="directory for per-query plans (default plans/)")
    e.add_argument("--tag", help="file-name suffix: <query>_<tag>.txt")
    e.add_argument("queries", nargs="*", help="default: SHOWCASE into PLANS.md")
    e.set_defaults(run=cmd_explain)

    s = sub.add_parser("scaling", parents=[common], help="HEAVY queries at two scales")
    s.add_argument("--small", required=True)
    s.add_argument("--big", default=os.path.join(REPO, "localdata", "sf1"))
    s.set_defaults(run=cmd_scaling)
    return p


def main(argv: list[str] | None = None) -> int:
    args = _parser().parse_args(argv)
    unknown = sorted(set(getattr(args, "queries", [])) - set(QUERIES))
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")
    # a caller's active session is used as it is (session() would reset
    # its shuffle partitions) and left running; only a session built
    # here is stopped here
    spark = SparkSession.getActiveSession()
    owned = spark is None
    if owned:
        spark = session(args.cores, driver_memory=args.driver_memory)
    try:
        return args.run(spark, args)
    finally:
        if owned:
            spark.stop()


if __name__ == "__main__":
    sys.exit(main())
