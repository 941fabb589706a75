#!/usr/bin/env python
"""Regenerate PLANS.md: formatted physical plans for representative
catalog queries, the artifact backing SCALE.md's claims (pushdown reaches
the scan, dims broadcast, windows and aggs share partitioning, no Python
in the hot path).

Usage: python scripts/dump_plans.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


from waterbear_spark.conf import session
from waterbear_spark.queries.catalog import QUERIES

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


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = session(8)

    out = [
        "# PLANS — formatted physical plans for showcase queries",
        "",
        f"Generated by `python scripts/dump_plans.py` at {sf_dir} "
        "(plan SHAPE is what matters; AQE re-sizes at runtime).",
        "",
    ]
    for name, why in SHOWCASE.items():
        import contextlib
        import io

        df = QUERIES[name](spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain(mode="formatted")
        plan = buf.getvalue()
        out += [f"## {name}", "", f"*{why}*", "", "```", plan.rstrip(), "```", ""]

    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(path, "w") as fh:
        fh.write("\n".join(out))
    print(f"wrote {path} ({len(SHOWCASE)} plans)")


if __name__ == "__main__":
    main()
