"""Round-8 wave-28 operators: dedup DIAL audits — how good is the
MinHash estimator, and what does moving the verify threshold buy?

* ``minhash_estimate_audit`` — per-candidate-pair accuracy of the
  MinHash Jaccard ESTIMATOR (Broder 1997): for every pair the banded
  LSH surfaces, report the signature agreement (matching components of
  the 8-hash signature, the estimator k/8) against the EXACT shingle
  Jaccard and the absolute error. [[dedup_recall_report]] audits the
  banding's recall curve; this audits the estimator itself — the two
  dials (bands x rows, estimator width) a dedup deployment tunes.
* ``dedup_threshold_sweep`` — the verify-threshold dial: for each
  Jaccard threshold in {0.3, 0.5, 0.7, 0.8, 0.9}, how many surfaced
  pairs pass and how many documents they touch. [[dedup_near_minhash]]
  ships one threshold; this is the sensitivity table curation actually
  reads before picking it (cf. Lee et al. 2021 §4's threshold study).

Both share one candidate core: the same row-local shingle-set /
signature scan and band-key equi-join as [[dedup_near_minhash]]
(signatures never explode, the pair space never materializes), then
row-local array intersections on the candidate rows only. The sweep
adds a threshold-spine explode of the (small) verified-pair relation —
at 100 TB the candidate relation is LSH-bounded, and everything
downstream of it is proportional to candidates, not the corpus.

Determinism: signature agreement is an integer count; estimates are
k/8 (dyadic-exact); exact Jaccard is one integer division rounded at
6 dp on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from waterbear_spark import scope
from waterbear_spark.queries.llm import (
    N_HASHES,
    SHINGLES_SQL,
    TOKENS_SQL,
    _CAND_SQL,
    _SIG_SQL,
    _band_candidates,
    _bands_sql,
    _doc_tokens,
    _lsh_bands,
    _shingle_sets,
    _signatures,
)

_SWEEP_TAUS = (0.3, 0.5, 0.7, 0.8, 0.9)


def _candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b, sig_matches, n_shared, na_n, nb_n) for every
    banded-LSH candidate pair — the shared core of both wave-28 audits.
    Same scan/band shapes as [[dedup_near_minhash]]; the signature
    frame additionally carries the 8 hash components for the
    agreement count."""
    sets = _shingle_sets(_doc_tokens(spark, sf_dir))
    sig = scope.persist(_signatures(sets, "arr", F.size("arr").alias("n")))
    candidates = _band_candidates(_lsh_bands(sig))
    matches = sum(
        (F.col(f"na.h{i}") == F.col(f"nb.h{i}")).cast("int")
        for i in range(N_HASHES)
    )
    n_shared = F.size(F.array_intersect(F.col("na.arr"), F.col("nb.arr"))).cast(
        "long"
    )
    return (
        candidates.join(sig.alias("na"), F.col("doc_a") == F.col("na.doc_id"))
        .join(sig.alias("nb"), F.col("doc_b") == F.col("nb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            matches.alias("sig_matches"),
            n_shared.alias("n_shared"),
            F.col("na.n").alias("na_n"),
            F.col("nb.n").alias("nb_n"),
        )
    )


def minhash_estimate_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimator-vs-exact audit per LSH candidate pair — see module
    docstring. Output: (doc_a, doc_b, sig_matches, est_jaccard,
    exact_jaccard, abs_err), ordered."""
    p = _candidate_pairs(spark, sf_dir)
    est = F.col("sig_matches") / float(N_HASHES)
    exact = F.col("n_shared") / (
        F.col("na_n") + F.col("nb_n") - F.col("n_shared")
    )
    return p.select(
        "doc_a",
        "doc_b",
        "sig_matches",
        F.round(est, 6).alias("est_jaccard"),
        F.round(exact, 6).alias("exact_jaccard"),
        F.round(F.abs(est - exact), 6).alias("abs_err"),
    ).orderBy("doc_a", "doc_b")


def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verify-threshold sensitivity table — see module docstring.
    Output: (threshold, n_pairs, n_docs), one row per threshold
    (zero-rows kept), ordered."""
    p = _candidate_pairs(spark, sf_dir).select(
        "doc_a",
        "doc_b",
        (
            F.col("n_shared")
            / (F.col("na_n") + F.col("nb_n") - F.col("n_shared"))
        ).alias("jac"),
    )
    taus = F.array(*[F.lit(t) for t in _SWEEP_TAUS])
    ex = p.select(
        "doc_a",
        "doc_b",
        F.explode(F.filter(taus, lambda t: F.col("jac") >= t)).alias("threshold"),
    )
    n_pairs = ex.groupBy("threshold").agg(F.count(F.lit(1)).alias("n_pairs"))
    n_docs = (
        ex.select("threshold", F.explode(F.array("doc_a", "doc_b")).alias("d"))
        .groupBy("threshold")
        .agg(F.countDistinct("d").alias("n_docs"))
    )
    spine = spark.createDataFrame(
        [(float(t),) for t in _SWEEP_TAUS], "threshold double"
    )
    return (
        spine.join(n_pairs, "threshold", "left")
        .join(n_docs, "threshold", "left")
        .select(
            "threshold",
            F.coalesce("n_pairs", F.lit(0)).alias("n_pairs"),
            F.coalesce("n_docs", F.lit(0)).alias("n_docs"),
        )
        .orderBy("threshold")
    )


_PAIR_CTES = f"""
tok AS (
    SELECT doc_id, {TOKENS_SQL} AS toks FROM documents
),
sig AS (
    SELECT doc_id, arr, len(arr) AS n,
           {_SIG_SQL}
    FROM (SELECT doc_id, list_distinct({SHINGLES_SQL}) AS arr
          FROM tok WHERE len(toks) >= 3)
),
bands AS (
    {_bands_sql('sig')}
),
cand AS (
    {_CAND_SQL}
),
pairs AS (
    SELECT c.doc_a, c.doc_b,
           ({' + '.join(f"CASE WHEN na.h{i} = nb.h{i} THEN 1 ELSE 0 END" for i in range(N_HASHES))})
               AS sig_matches,
           CAST(len(list_intersect(na.arr, nb.arr)) AS BIGINT) AS n_shared,
           na.n AS na_n, nb.n AS nb_n
    FROM cand c
    JOIN sig na ON na.doc_id = c.doc_a
    JOIN sig nb ON nb.doc_id = c.doc_b
)"""

MINHASH_AUDIT_SQL = f"""
WITH {_PAIR_CTES}
SELECT doc_a, doc_b, CAST(sig_matches AS INTEGER) AS sig_matches,
       ROUND(sig_matches / {float(N_HASHES)}, 6) AS est_jaccard,
       ROUND(CAST(n_shared AS DOUBLE) / (na_n + nb_n - n_shared), 6)
           AS exact_jaccard,
       ROUND(ABS(sig_matches / {float(N_HASHES)}
                 - CAST(n_shared AS DOUBLE) / (na_n + nb_n - n_shared)), 6)
           AS abs_err
FROM pairs
ORDER BY doc_a, doc_b
"""

THRESHOLD_SWEEP_SQL = f"""
WITH {_PAIR_CTES},
jac AS (
    SELECT doc_a, doc_b,
           CAST(n_shared AS DOUBLE) / (na_n + nb_n - n_shared) AS jac
    FROM pairs
),
spine AS (
    SELECT CAST(UNNEST([{", ".join(str(t) for t in _SWEEP_TAUS)}]) AS DOUBLE)
        AS threshold
),
ex AS (
    SELECT s.threshold, j.doc_a, j.doc_b
    FROM jac j JOIN spine s ON j.jac >= s.threshold
),
np AS (
    SELECT threshold, COUNT(*) AS n_pairs FROM ex GROUP BY threshold
),
nd AS (
    SELECT threshold, COUNT(DISTINCT d) AS n_docs
    FROM (SELECT threshold, doc_a AS d FROM ex
          UNION ALL
          SELECT threshold, doc_b FROM ex)
    GROUP BY threshold
)
SELECT s.threshold,
       COALESCE(np.n_pairs, 0) AS n_pairs,
       COALESCE(nd.n_docs, 0) AS n_docs
FROM spine s
LEFT JOIN np USING (threshold)
LEFT JOIN nd USING (threshold)
ORDER BY s.threshold
"""


QUERIES = {
    "minhash_estimate_audit": minhash_estimate_audit,
    "dedup_threshold_sweep": dedup_threshold_sweep,
}

ORACLES = {
    "minhash_estimate_audit": MINHASH_AUDIT_SQL,
    "dedup_threshold_sweep": THRESHOLD_SWEEP_SQL,
}
