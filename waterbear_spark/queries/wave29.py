"""Round-8 wave-29 operators: closing readouts for the vector family.

* ``ann_refine_recall`` — what the refine stage BUYS: recall@5 against
  exact brute-force L2 truth for (a) raw ADC top-5 and (b) the
  two-stage ADC-shortlist -> exact-rerank top-5, per audit probe. The
  decision table for "is R=20 shortlist + refine worth the raw-vector
  fetches" (Jégou et al. 2011 §V report exactly this pair of curves);
  completes the family: build ([[ann_ivf_kmeans]]) -> dials
  ([[ann_ivf_probe_sweep]], [[pq_reconstruction_audit]]) -> serve
  ([[ann_ivfpq_adc_search]], [[ann_refine_rerank]]) -> this readout.
* ``embedding_anisotropy_audit`` — per-label anisotropy (Ethayarajh
  2019, "How Contextual are Contextualized Word Representations?",
  EMNLP): expected cosine between DISTINCT same-label vectors,
  estimated over the deterministic adjacent-rank pair sample (vector i
  paired with the next vec_id of its label). Isotropic embeddings
  average near 0; a high floor means a common direction dominates and
  cosine-based dedup/ANN thresholds ([[semdedup_cells]],
  [[dedup_embedding_cosine]]) discriminate poorly.

Scale: refine recall reuses the ADC chains (corpus passes are the
shared index build + one scan each) plus one brute-truth pass that is
probe-bounded (5 broadcast probes x corpus scan — the
[[embedding_topk]] truth shape); everything downstream joins 5x5-row
relations. Anisotropy is one rank window per label and one shifted
self equi-join — adjacent pairs only, never a pair space; cosines are
quantized to micro-units before the per-label sum so the average is an
exact integer ratio on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from waterbear_spark.queries.llm import _fold_dot
from waterbear_spark.queries.tables import table
from waterbear_spark.queries.wave20 import (
    _ADC_FP,
    _ADC_TOPK,
    _SWEEP_K,
    _adc_chain,
    _adc_scored,
)
from waterbear_spark.queries.wave26 import _REFINE_R

_ANISO_FP = 1_000_000  # cosine micro-units (exact integer averaging)


def ann_refine_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{k} of ADC-only vs ADC+refine against brute L2 truth —
    see module docstring. Output: (query_id, adc_hits, adc_recall,
    refine_hits, refine_recall), one row per probe."""
    scored, probes, emb = _adc_scored(spark, sf_dir)
    # brute-force L2 truth over the full corpus (probe-bounded pass)
    d = (_fold_dot("v", "v") - 2 * _fold_dot("qv", "v")) + _fold_dot("qv", "qv")
    w_t = Window.partitionBy("query_id").orderBy("d_fp", "vec_id")
    truth = (
        emb.crossJoin(F.broadcast(probes))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.floor(d * _ADC_FP + F.lit(0.5)).cast("long").alias("d_fp"),
        )
        .withColumn("rn", F.row_number().over(w_t))
        .filter(F.col("rn") <= _ADC_TOPK)
        .select("query_id", "vec_id", F.lit(1).alias("is_true"))
    )
    w_adc = Window.partitionBy("query_id").orderBy("s_fp", "vec_id")
    ranked = scored.withColumn("adc_rank", F.row_number().over(w_adc))
    adc_top = ranked.filter(F.col("adc_rank") <= _ADC_TOPK).select(
        "query_id", "vec_id"
    )
    # the two-stage survivor set: exact re-rank of the R-row shortlist
    short = ranked.filter(F.col("adc_rank") <= _REFINE_R).select(
        "query_id", "vec_id"
    )
    w_ex = Window.partitionBy("query_id").orderBy("d_fp", "vec_id")
    refined_top = (
        short.join(emb, "vec_id")
        .join(F.broadcast(probes), "query_id")
        .select(
            "query_id",
            "vec_id",
            F.floor(d * _ADC_FP + F.lit(0.5)).cast("long").alias("d_fp"),
        )
        .withColumn("rn", F.row_number().over(w_ex))
        .filter(F.col("rn") <= _ADC_TOPK)
        .select("query_id", "vec_id")
    )

    def hits(top: DataFrame, name: str) -> DataFrame:
        return (
            top.join(truth, ["query_id", "vec_id"], "left")
            .groupBy("query_id")
            .agg(
                F.sum(F.coalesce(F.col("is_true"), F.lit(0)))
                .cast("int")
                .alias(name)
            )
        )

    a = hits(adc_top, "adc_hits")
    r = hits(refined_top, "refine_hits")
    return (
        a.join(r, "query_id")
        .select(
            "query_id",
            "adc_hits",
            F.round(F.col("adc_hits") / float(_ADC_TOPK), 4).alias("adc_recall"),
            "refine_hits",
            F.round(F.col("refine_hits") / float(_ADC_TOPK), 4).alias(
                "refine_recall"
            ),
        )
        .orderBy("query_id")
    )

ann_refine_recall.__doc__ = ann_refine_recall.__doc__.format(k=_ADC_TOPK)


REFINE_RECALL_SQL = f"""
{_adc_chain()},
truth AS (
    SELECT query_id, vec_id, 1 AS is_true FROM (
        SELECT q.query_id, e.vec_id,
               ROW_NUMBER() OVER (
                   PARTITION BY q.query_id
                   ORDER BY CAST(FLOOR((((list_dot_product(e.v, e.v)
                            - 2 * list_dot_product(q.qv, e.v))
                            + list_dot_product(q.qv, q.qv)))
                            * {_ADC_FP} + 0.5) AS BIGINT), e.vec_id
               ) AS rn
        FROM e JOIN q ON e.vec_id <> q.query_id
    ) WHERE rn <= {_ADC_TOPK}
),
ranked AS (
    SELECT query_id, vec_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY s_fp, vec_id) AS adc_rank
    FROM scored
),
adc_top AS (
    SELECT query_id, vec_id FROM ranked WHERE adc_rank <= {_ADC_TOPK}
),
refined_top AS (
    SELECT query_id, vec_id FROM (
        SELECT s.query_id, s.vec_id,
               ROW_NUMBER() OVER (
                   PARTITION BY s.query_id
                   ORDER BY CAST(FLOOR((((list_dot_product(e.v, e.v)
                            - 2 * list_dot_product(q.qv, e.v))
                            + list_dot_product(q.qv, q.qv)))
                            * {_ADC_FP} + 0.5) AS BIGINT), s.vec_id
               ) AS rn
        FROM (SELECT query_id, vec_id FROM ranked
              WHERE adc_rank <= {_REFINE_R}) s
        JOIN e ON e.vec_id = s.vec_id
        JOIN q ON q.query_id = s.query_id
    ) WHERE rn <= {_ADC_TOPK}
),
a AS (
    SELECT t.query_id,
           SUM(CASE WHEN tr.is_true IS NOT NULL THEN 1 ELSE 0 END) AS adc_hits
    FROM adc_top t
    LEFT JOIN truth tr ON tr.query_id = t.query_id AND tr.vec_id = t.vec_id
    GROUP BY t.query_id
),
r AS (
    SELECT t.query_id,
           SUM(CASE WHEN tr.is_true IS NOT NULL THEN 1 ELSE 0 END)
               AS refine_hits
    FROM refined_top t
    LEFT JOIN truth tr ON tr.query_id = t.query_id AND tr.vec_id = t.vec_id
    GROUP BY t.query_id
)
SELECT a.query_id,
       CAST(a.adc_hits AS INTEGER) AS adc_hits,
       ROUND(a.adc_hits / {float(_ADC_TOPK)}, 4) AS adc_recall,
       CAST(r.refine_hits AS INTEGER) AS refine_hits,
       ROUND(r.refine_hits / {float(_ADC_TOPK)}, 4) AS refine_recall
FROM a JOIN r USING (query_id)
ORDER BY a.query_id
"""


def embedding_anisotropy_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label anisotropy over adjacent-rank same-label pairs — see
    module docstring. Output: (label, n_pairs, avg_cos), ordered."""
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    w = Window.partitionBy("label").orderBy("vec_id")
    ranked = emb.withColumn("rk", F.row_number().over(w))
    a = ranked.select(
        "label", "rk", F.col("v").alias("va"), F.col("vec_id").alias("id_a")
    )
    b = ranked.select(
        "label", (F.col("rk") - 1).alias("rk"), F.col("v").alias("vb")
    )
    cos = _fold_dot("va", "vb") / (
        F.sqrt(_fold_dot("va", "va")) * F.sqrt(_fold_dot("vb", "vb"))
    )
    pairs = a.join(b, ["label", "rk"]).select(
        "label",
        F.floor(cos * _ANISO_FP + F.lit(0.5)).cast("long").alias("cos_fp"),
    )
    return (
        pairs.groupBy("label")
        .agg(F.count(F.lit(1)).alias("n_pairs"), F.sum("cos_fp").alias("s_fp"))
        .select(
            "label",
            "n_pairs",
            F.round(
                F.col("s_fp") / (F.col("n_pairs") * float(_ANISO_FP)), 6
            ).alias("avg_cos"),
        )
        .orderBy("label")
    )


ANISOTROPY_SQL = f"""
WITH e AS (
    SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
ranked AS (
    SELECT label, vec_id, v,
           ROW_NUMBER() OVER (PARTITION BY label ORDER BY vec_id) AS rk
    FROM e
),
pairs AS (
    SELECT a.label,
           CAST(FLOOR((list_dot_product(a.v, b.v)
                       / (SQRT(list_dot_product(a.v, a.v))
                          * SQRT(list_dot_product(b.v, b.v))))
                      * {_ANISO_FP} + 0.5) AS BIGINT) AS cos_fp
    FROM ranked a JOIN ranked b
      ON a.label = b.label AND b.rk = a.rk + 1
)
SELECT label, COUNT(*) AS n_pairs,
       ROUND(SUM(cos_fp) / (COUNT(*) * {float(_ANISO_FP)}), 6) AS avg_cos
FROM pairs
GROUP BY label
ORDER BY label
"""


QUERIES = {
    "ann_refine_recall": ann_refine_recall,
    "embedding_anisotropy_audit": embedding_anisotropy_audit,
}

ORACLES = {
    "ann_refine_recall": REFINE_RECALL_SQL,
    "embedding_anisotropy_audit": ANISOTROPY_SQL,
}
