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
    N_BANDS,
    N_HASHES,
    SHINGLES_SQL,
    TOKENS_SQL,
    _fan_out,
    _minhash_struct,
    _shingles,
    _tokens,
)
from waterbear_spark.queries.tables import table

_SWEEP_TAUS = (0.3, 0.5, 0.7, 0.8, 0.9)


def _candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b, sig_matches, n_shared, na_n, nb_n) for every
    banded-LSH candidate pair — the shared core of both wave-28 audits.
    Same scan/band shapes as [[dedup_near_minhash]]; the signature
    frame additionally carries the 8 hash components for the
    agreement count."""
    # widen BEFORE tokenizing: a projection built under the repartition
    # exchange runs inside the 1-split scan stage (see dedup_near_minhash)
    docs = _fan_out(
        spark, table(spark, sf_dir, "documents").select("doc_id", "text")
    ).select("doc_id", _tokens(F.col("text")).alias("toks"))
    sets = docs.filter(F.size("toks") >= 3).select(
        "doc_id", F.array_distinct(_shingles(F.col("toks"))).alias("arr")
    )

    sig = scope.persist(
        sets.select(
            "doc_id",
            "arr",
            F.size("arr").alias("n"),
            _minhash_struct("arr").alias("mh"),
        )
        .select("doc_id", "arr", "n", "mh.*")
    )
    band_entries = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat(F.col(f"h{2 * b}"), F.col(f"h{2 * b + 1}")).alias("bkey"),
            )
            for b in range(N_BANDS)
        ]
    )
    bands = sig.select("doc_id", F.explode(band_entries).alias("e")).select(
        "doc_id", F.col("e.band").alias("band"), F.col("e.bkey").alias("bkey")
    )
    candidates = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
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
           {', '.join(f"list_min(list_transform(arr, s -> md5('{i}|' || s))) AS h{i}" for i in range(N_HASHES))}
    FROM (SELECT doc_id, list_distinct({SHINGLES_SQL}) AS arr
          FROM tok WHERE len(toks) >= 3)
),
bands AS (
    {' UNION ALL '.join(f"SELECT doc_id, {b} AS band, h{2 * b} || h{2 * b + 1} AS bkey FROM sig" for b in range(N_BANDS))}
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
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
