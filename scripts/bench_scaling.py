#!/usr/bin/env python
"""Scaling-curve bench: run the heavy-tail queries at sf0.1 and sf1
(10x, built by scripts/make_sf1.py) and report per-query runtimes plus
the sf1/sf0.1 ratio. A ~linear operator lands near 10x (one scan, one
bounded shuffle); super-linear ratios expose pair-space blowups or
sort-bound stages that would not survive 100 TB.

jaccard_prefix_join is benched through its UNCAPPED core
(``prefix_join_pairs``) on the full corpus of each scale — the catalog
entry's doc_id subset exists only for the O(n^2) DuckDB oracle and would
otherwise make the query constant-size.

Prints one JSON line; committed per-round as BENCH_SCALING_r{N}.json.

Grading (r11 — the ratio alone mis-ranks improvements): an op whose
sf0.1 base collapses (a fix removing fixed overhead) prints a larger
sf1/sf0.1 ratio even when its sf1 absolute also improved, so the raw
ratio alone cannot be the verdict. Each op is graded by a two-sided
rule, and the grade is IN the artifact:

* ``pass``           — ratio <= RATIO_BAR (near-linear scaling);
* ``pass-absolute``  — ratio over the bar, but the sf1 wall-clock is
  under ABS_SF1_BUDGET: the base collapsed, the op is nowhere near the
  heavy tail at 10x data, nothing regressed;
* ``stress-exempt``  — a bench-only stress twin measured above the bar
  BY DESIGN (reason recorded in the artifact);
* ``regression``     — over the bar AND over budget: a real finding.

The r9/r10 watch items (bootstrap_ci_mean 5.06x with sf1 16.6->4.9 s,
rake_keywords 3.56x with sf1 flat 3.6 s) grade pass-absolute under this
rule; the next genuine super-linear blowup still grades regression.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from waterbear_spark.conf import session
from waterbear_spark.queries import (
    corpusprep,
    graph,
    llm,
    mining,
    quality_queries,
    relational_more,
    retrieval,
    textops,
    timeseries,
)
from waterbear_spark.queries.tables import table

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF01 = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SF1 = os.path.join(REPO, "localdata", "sf1")


def prefix_join_uncapped(spark, sf_dir):
    return llm.prefix_join_pairs(table(spark, sf_dir, "documents"))


HEAVY = {
    "profile_table": quality_queries.profile_table,
    "simhash_near_dup": textops.simhash_near_dup,
    "dedup_near_minhash": llm.dedup_near_minhash,
    "triangle_count_nations": graph.triangle_count_nations,
    "jaccard_prefix_join_uncapped": prefix_join_uncapped,
    # round-3 heavy tail: the iterative loop, the corpus-wide joins, and
    # the double rank sort
    "pagerank_bipartite": graph.pagerank_bipartite,
    "lm_quality_score": corpusprep.lm_quality_score,
    "incremental_dedup_merge": corpusprep.incremental_dedup_merge,
    "bigram_pmi": corpusprep.bigram_pmi,
    "spearman_price_quantity": relational_more.spearman_price_quantity,
    # round-3 additions with corpus-sized shuffles: sentence-level and
    # window-digest dedup (digest-keyed), the star-CC iterative loop,
    # and the vocabulary-sized BPE expansion
    "sentence_dedup_c4": corpusprep.sentence_dedup_c4,
    "dup_span_census": corpusprep.dup_span_census,
    "dedup_clusters_star": llm.dedup_clusters,
    "bpe_pair_counts": corpusprep.bpe_pair_counts,
    # round-3 wave 2: the block-join pair generators (candidate count
    # grows with data), the basket self-join, the corpus-scan retrieval
    # scorer, and the ER pipeline's CC loop on a data-sized pair graph
    "sorted_neighborhood_pairs": mining.sorted_neighborhood_pairs,
    "itemset_pair_lift": mining.itemset_pair_lift,
    "bm25_search": retrieval.bm25_search,
    "er_golden_records": mining.er_golden_records,
    "interval_bucket_overlap": timeseries.interval_bucket_overlap,
}

# round-3 waves 4-6: the shingle-blocked containment join (candidate
# count grows with data), the 32x bootstrap fan-out, the all-pairs
# min-plus loop, the k-core peel, and the two-shuffle RAKE pipeline
from waterbear_spark.queries import wave5, wave6  # noqa: E402

HEAVY.update(
    {
        "containment_join": wave6.containment_join,
        "bootstrap_ci_mean": wave6.bootstrap_ci_mean,
        "harmonic_centrality": wave6.harmonic_centrality,
        "kcore_decomposition": graph.kcore_decomposition,
        "rake_keywords": wave5.rake_keywords,
    }
)

# round-4 waves 12-13: the corpus-scaled joiners (postings self-join,
# deletion-neighborhood join, order-keyed co-occurrence self-join), the
# iterative BPE loop over a Heaps-law vocabulary, and the rank scaffolds
# (customer census deciles, |diff| census, per-user interval windows)
from waterbear_spark.queries import wave12, wave13  # noqa: E402

HEAVY.update(
    {
        "sparse_cosine_topk": wave12.sparse_cosine_topk,
        "typo_dedup_vocab": wave13.typo_dedup_vocab,
        "bpe_merge_rounds": wave12.bpe_merge_rounds,
        "copurchase_projection": wave12.copurchase_projection,
        "lorenz_curve_deciles": wave12.lorenz_curve_deciles,
        "wilcoxon_signed_rank": wave13.wilcoxon_signed_rank,
        "interval_coverage_user": wave13.interval_coverage_user,
    }
)

# round-6/7: the verdict's scale-weak pair (the two-level _ivf_index
# scales the cell count with corpus size while keeping per-row
# assignment O(sqrt); semdedup's per-cell pair join must hold
# near-linear at 10x) plus the recall-audit report whose brute-truth
# stage grows with the corpus, plus (r7) the index build itself
from waterbear_spark.queries import wave17  # noqa: E402

from waterbear_spark.queries import llm  # noqa: E402

HEAVY.update(
    {
        "semdedup_cells": wave17.semdedup_cells,
        "ann_recall_report": wave17.ann_recall_report,
        "ann_ivf_kmeans": llm.ann_ivf_kmeans,
    }
)

# round-8: the vocabulary-relation family (the r7 verdict's ask — the
# one LLM family with no 10x measurement; all five now join the
# Heaps-law-unbounded vocab relation UNHINTED after the broadcast fix),
# plus the new cross-doc span-removal manifest (digest-keyed shuffle +
# per-doc islands — the dup_span_census shape with a join back)
from waterbear_spark.queries import wave21, wave22, wave23, wave24, wave25  # noqa: E402

HEAVY.update(
    {
        "perplexity_buckets": wave21.perplexity_buckets,
        "doremi_mix_weights": wave24.doremi_mix_weights,
        "unigram_entropy_by_source": wave23.unigram_entropy_by_source,
        "token_coverage_curve": wave22.token_coverage_curve,
        "tfidf_top_terms": textops.tfidf_top_terms,
        "dup_span_removal_manifest": wave25.dup_span_removal_manifest,
        "contamination_ngram_sweep": wave24.contamination_ngram_sweep,
    }
)

# round-8 waves 26-28: the two-stage refine (the corpus-sized stages are
# the shared ADC chain; the refine join itself is probe-bounded), the
# per-cell BLAS hubness histogram (the semdedup shape), the Bloom screen
# (corpus-sized distinct + flag join), the first-occurrence novelty
# census (vocabulary-keyed shuffle + join back), and the MinHash
# estimator audit (candidate-proportional tail on the banded join)
from waterbear_spark.queries import wave26, wave27, wave28  # noqa: E402

HEAVY.update(
    {
        "ann_refine_rerank": wave26.ann_refine_rerank,
        "bloom_decontaminate": wave26.bloom_decontaminate,
        "knn_hubness_audit": wave27.knn_hubness_audit,
        "novelty_profile_by_source": wave27.novelty_profile_by_source,
        "minhash_estimate_audit": wave28.minhash_estimate_audit,
        # r10: the certified band-degree-capped dedup twin — its salted
        # candidate join must scale like the uncapped query it bounds
        "dedup_near_minhash_capped": llm.dedup_near_minhash_capped,
    }
)


RATIO_BAR = 3.5
# sf1 wall-clock budget (sec) for ops whose ratio exceeds the bar: at
# 10x the per-round bench scale on local[32], an op finishing this fast
# is not a scaling risk regardless of what its collapsed sf0.1 base
# does to the quotient. Calibrated well under the catalog's real heavy
# tail (pagerank/rfm ~5-6 s at sf0.1 alone).
ABS_SF1_BUDGET = 6.0
# bench-only stress twins measured above the bar BY DESIGN
STRESS_EXEMPT = {
    "jaccard_prefix_join_uncapped": (
        "uncapped O(cand^2) prefix-join core, benched on the full corpus "
        "to document why the catalog variant caps its candidate space"
    ),
}


def grade(name: str, ratio: float, sf1_wall: float) -> str:
    if name in STRESS_EXEMPT:
        return "stress-exempt"
    if ratio <= RATIO_BAR:
        return "pass"
    if sf1_wall <= ABS_SF1_BUDGET:
        return "pass-absolute"
    return "regression"


def run_all(spark, sf_dir, iters=2):
    # min over iterations: the first pass pays one-off codegen and file
    # listing, which would otherwise swamp the data-dependent cost at
    # the small scale and understate every ratio
    timings = {}
    for name, fn in HEAVY.items():
        best = None
        for _ in range(iters):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        timings[name] = round(best, 3)
    return timings


def main():
    if not os.path.isdir(SF1):
        sys.exit("localdata/sf1 missing - run scripts/make_sf1.py first")
    spark = session(
        int(os.environ.get("SPARK_GRAFT_CPUS", "32")),
        driver_memory=os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
    )
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # warmup

    small = run_all(spark, SF01)
    big = run_all(spark, SF1)
    ratio = {n: round(big[n] / small[n], 2) for n in HEAVY}
    grades = {n: grade(n, ratio[n], big[n]) for n in HEAVY}
    out = {
        "metric": "heavy_tail_scaling",
        "unit": "sec",
        "scale_factor": 10,
        "sf0.1": small,
        "sf1": big,
        "ratio_sf1_over_sf0.1": ratio,
        "grading_rule": (
            f"pass: ratio <= {RATIO_BAR}; pass-absolute: sf1 wall <= "
            f"{ABS_SF1_BUDGET}s (collapsed-base ratios are not "
            "regressions); stress-exempt: bench-only stress twin (see "
            "stress_exempt); regression: over bar AND over budget"
        ),
        "stress_exempt": STRESS_EXEMPT,
        "grade": grades,
        "regressions": sorted(n for n, g in grades.items() if g == "regression"),
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
