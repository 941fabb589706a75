"""Round-6 wave-21 operators: contrastive mining, balance weighting,
perplexity bucketing, and the cross-source contamination matrix.

* ``hard_negative_mining`` — contrastive-pair mining over the labeled
  embeddings: for each of the 5 audit probes, the top-3 same-label
  neighbours (positives, self excluded) and the top-3 different-label
  neighbours by cosine (HARD negatives — the highest-similarity wrong-
  label vectors, the pairs a contrastive/metric-learning run trains
  on, cf. SimCLR/InfoNCE sampling). Same rounded-cosine + vec_id
  tie-break membership as [[embedding_topk]], so ranks are engine-exact.
* ``class_balance_weights`` — effective-number class weighting (Cui et
  al. 2019, arXiv:1901.05555): per label, effective n = (1-β^n)/(1-β)
  with β=0.999, inverse weights normalized to sum to |labels|. Raw
  weights quantize to 1e-9 fixed point BEFORE the cross-label
  normalization sum, so the only order-sensitive reduction is an exact
  integer sum ([[epoch_allocation]]'s discipline).
* ``perplexity_buckets`` — CCNet-style quality bucketing (Wenzek et
  al. 2020, arXiv:1911.00359): per-document mean negative log-prob
  under the corpus unigram LM, split into per-language terciles
  (head / middle / tail) with NTILE(3); reports per-(lang, bucket)
  document count, exact mean NLL (ratio of integer micro-nat sums),
  and the bucket's NLL range. One ln per distinct vocabulary entry,
  quantized to micro-nats, integer-summed per doc — the
  [[lm_quality_score]] / [[bigram_backoff_perplexity]] determinism
  discipline; the tercile ordering key (mean NLL, doc_id) is the same
  IEEE division of identical integers on both engines.
* ``cross_source_dup_matrix`` — the contamination matrix curation
  teams review before mixing sources: verified MinHash near-dup pairs
  (the exact [[dedup_near_minhash]] operator, reused) rolled up by
  unordered source pair, with pair counts and exact mean Jaccard
  (jaccard is already 4-dp-rounded, so ×10⁴ is integer-summable).
  The diagonal (same-source pairs) measures internal redundancy; the
  off-diagonal measures cross-source leakage ([[decontaminate_overlap]]
  is the directed train/benchmark special case).

Scale: hard-negative mining is probe-side (5 broadcast probes × one
corpus scan, two bounded windows); class weights are a |labels|-row
relation; perplexity bucketing is two vocabulary-sized aggregates plus
one per-language window; the dup matrix inherits the banded LSH shape
(no pair space) and adds only a doc→source broadcast join and a
|sources|²-bounded rollup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from waterbear_spark import scope
from waterbear_spark.queries.llm import TOKENS_SQL, _tokens
from waterbear_spark.queries.tables import table

# ---------------------------------------------------------------------------
# hard-negative mining
# ---------------------------------------------------------------------------

_HN_PROBES = 5
_HN_TOPK = 3


def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 positives and top-3 hard negatives per probe — see module
    docstring."""
    from waterbear_spark.queries.llm import _fold_dot

    emb = scope.persist(
        table(spark, sf_dir, "embeddings")
        .select(
            "vec_id",
            "label",
            F.transform("embedding", lambda x: x.cast("double")).alias("v"),
        )
        .withColumn(
            "nrm",
            F.sqrt(
                F.aggregate(
                    F.transform("v", lambda x: x * x),
                    F.lit(0.0),
                    lambda a, x: a + x,
                )
            ),
        )
    )
    probes = emb.filter(F.col("vec_id") < _HN_PROBES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("q_label"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    scored = (
        emb.crossJoin(F.broadcast(probes))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.when(F.col("label") == F.col("q_label"), F.lit("positive"))
            .otherwise(F.lit("hard_negative"))
            .alias("role"),
            F.round(
                _fold_dot("qv", "v") / (F.col("qn") * F.col("nrm")), 4
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id", "role").orderBy(
        F.col("cos").desc(), "vec_id"
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= _HN_TOPK)
        .select("query_id", "role", "rank", "vec_id", "cos")
        .orderBy("query_id", "role", "rank")
    )


HARD_NEGATIVE_SQL = f"""
WITH n AS (
    SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
           SQRT(list_dot_product(CAST(embedding AS DOUBLE[]),
                                 CAST(embedding AS DOUBLE[]))) AS nrm
    FROM embeddings
),
q AS (
    SELECT vec_id AS query_id, label AS q_label, v AS qv, nrm AS qn
    FROM n WHERE vec_id < {_HN_PROBES}
),
scored AS (
    SELECT q.query_id, n.vec_id,
           CASE WHEN n.label = q.q_label THEN 'positive'
                ELSE 'hard_negative' END AS role,
           ROUND(list_dot_product(q.qv, n.v) / (q.qn * n.nrm), 4) AS cos
    FROM n CROSS JOIN q
    WHERE n.vec_id <> q.query_id
),
ranked AS (
    SELECT query_id, role, vec_id, cos,
           CAST(ROW_NUMBER() OVER (PARTITION BY query_id, role
                                   ORDER BY cos DESC, vec_id) AS INTEGER) AS rank
    FROM scored
)
SELECT query_id, role, rank, vec_id, cos
FROM ranked WHERE rank <= {_HN_TOPK}
ORDER BY query_id, role, rank
"""


# ---------------------------------------------------------------------------
# class-balance weights
# ---------------------------------------------------------------------------

_CB_BETA = 0.999
_CB_FP = 1_000_000_000  # 1e-9 fixed point for the pre-normalization weights


def class_balance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Effective-number class weights per embedding label — see module
    docstring."""
    counts = (
        table(spark, sf_dir, "embeddings")
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    eff = (1.0 - F.pow(F.lit(_CB_BETA), F.col("n"))) / (1.0 - _CB_BETA)
    raw_fp = F.floor(F.lit(float(_CB_FP)) / eff + 0.5).cast("long")
    per = counts.select("label", "n", eff.alias("eff_n"), raw_fp.alias("raw_fp"))
    tot = per.agg(
        F.sum("raw_fp").alias("tot_fp"),
        F.count(F.lit(1)).alias("n_labels"),
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "label",
            F.col("n").cast("int").alias("n"),
            F.round("eff_n", 4).alias("eff_n"),
            F.round(
                F.col("raw_fp") * F.col("n_labels") / F.col("tot_fp"), 6
            ).alias("weight"),
        )
        .orderBy("label")
    )


CLASS_BALANCE_SQL = f"""
WITH counts AS (
    SELECT label, COUNT(*) AS n FROM embeddings GROUP BY label
),
per AS (
    SELECT label, n,
           (1.0 - POWER({_CB_BETA}, n)) / (1.0 - {_CB_BETA}) AS eff_n,
           CAST(FLOOR({float(_CB_FP)} / ((1.0 - POWER({_CB_BETA}, n))
                                         / (1.0 - {_CB_BETA})) + 0.5)
                AS BIGINT) AS raw_fp
    FROM counts
),
tot AS (SELECT SUM(raw_fp) AS tot_fp, COUNT(*) AS n_labels FROM per)
SELECT label, CAST(n AS INTEGER) AS n,
       ROUND(eff_n, 4) AS eff_n,
       ROUND(CAST(raw_fp AS DOUBLE) * n_labels / tot_fp, 6) AS weight
FROM per CROSS JOIN tot
ORDER BY label
"""


# ---------------------------------------------------------------------------
# perplexity buckets
# ---------------------------------------------------------------------------

_PB_FP = 1_000_000  # micro-nats
_PB_BUCKETS = 3


def perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(lang, tercile) unigram-NLL census — see module docstring."""
    toks = table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.explode(_tokens(F.col("text"))).alias("tok")
    )
    # pre-aggregate the raw token stream to (doc, tok) term frequencies so
    # the NLL lookup joins two vocabulary-sized relations.  The join is
    # deliberately UNHINTED: the vocabulary is unbounded under Heaps' law,
    # so a forced broadcast would OOM at corpus scale — AQE demotes the
    # shuffle join to broadcast when the relation happens to be small.
    dt = toks.groupBy("doc_id", "lang", "tok").agg(F.count(F.lit(1)).alias("c"))
    vocab = dt.groupBy("tok").agg(F.sum("c").alias("cnt"))
    tot = vocab.agg(F.sum("cnt").alias("t"))
    # one ln per distinct vocabulary entry, quantized to micro-nats
    nll = vocab.crossJoin(F.broadcast(tot)).select(
        "tok",
        F.floor(-F.log(F.col("cnt") / F.col("t")) * _PB_FP + 0.5)
        .cast("long")
        .alias("nll_fp"),
    )
    per_doc = (
        dt.join(nll, "tok")
        .groupBy("doc_id", "lang")
        .agg(
            F.sum("c").alias("n_toks"),
            F.sum(F.col("c") * F.col("nll_fp")).alias("s_fp"),
        )
        .withColumn("mean_nll", F.col("s_fp").cast("double") / F.col("n_toks"))
    )
    w = Window.partitionBy("lang").orderBy("mean_nll", "doc_id")
    return (
        per_doc.withColumn("bucket", F.ntile(_PB_BUCKETS).over(w).cast("int"))
        .groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_docs"),
            F.sum("s_fp").alias("ss_fp"),
            F.sum("n_toks").alias("sn"),
            F.min("mean_nll").alias("lo"),
            F.max("mean_nll").alias("hi"),
        )
        .select(
            "lang",
            "bucket",
            "n_docs",
            F.round(F.col("ss_fp") / F.col("sn") / _PB_FP, 4).alias("mean_nll"),
            F.round(F.col("lo") / _PB_FP, 4).alias("nll_lo"),
            F.round(F.col("hi") / _PB_FP, 4).alias("nll_hi"),
        )
        .orderBy("lang", "bucket")
    )


PERPLEXITY_BUCKETS_SQL = f"""
WITH toks AS (
    SELECT doc_id, lang, UNNEST({TOKENS_SQL}) AS tok FROM documents
),
vocab AS (SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok),
tot AS (SELECT SUM(cnt) AS t FROM vocab),
nll AS (
    SELECT tok,
           CAST(FLOOR(-LN(cnt / t) * {_PB_FP} + 0.5) AS BIGINT) AS nll_fp
    FROM vocab CROSS JOIN tot
),
per_doc AS (
    SELECT toks.doc_id, toks.lang,
           COUNT(*) AS n_toks, SUM(nll.nll_fp) AS s_fp,
           CAST(SUM(nll.nll_fp) AS DOUBLE) / COUNT(*) AS mean_nll
    FROM toks JOIN nll USING (tok)
    GROUP BY toks.doc_id, toks.lang
),
bucketed AS (
    SELECT lang,
           CAST(NTILE({_PB_BUCKETS}) OVER (PARTITION BY lang
                                           ORDER BY mean_nll, doc_id)
                AS INTEGER) AS bucket,
           n_toks, s_fp, mean_nll
    FROM per_doc
)
SELECT lang, bucket,
       CAST(COUNT(*) AS INTEGER) AS n_docs,
       ROUND(CAST(SUM(s_fp) AS DOUBLE) / SUM(n_toks) / {_PB_FP}, 4) AS mean_nll,
       ROUND(MIN(mean_nll) / {_PB_FP}, 4) AS nll_lo,
       ROUND(MAX(mean_nll) / {_PB_FP}, 4) AS nll_hi
FROM bucketed
GROUP BY lang, bucket
ORDER BY lang, bucket
"""


# ---------------------------------------------------------------------------
# cross-source duplication matrix
# ---------------------------------------------------------------------------


def cross_source_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified near-dup pair counts by unordered source pair — see
    module docstring. Reuses [[dedup_near_minhash]] verbatim for the
    pair set, so the matrix audits exactly the shipped dedup operator."""
    from waterbear_spark.queries.llm import dedup_near_minhash

    pairs = dedup_near_minhash(spark, sf_dir).select("doc_a", "doc_b", "jaccard")
    src = table(spark, sf_dir, "documents").select("doc_id", "source")
    sa = src.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("sa"))
    sb = src.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("sb"))
    # jaccard is 4-dp-rounded, so x1e4 is an exact integer: mean rides
    # an integer sum, never an order-sensitive double sum
    j_fp = F.floor(F.col("jaccard") * 10000 + 0.5).cast("long")
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
            j_fp.alias("j_fp"),
        )
        .groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_pairs"),
            F.sum("j_fp").alias("s_fp"),
        )
        .select(
            "source_a",
            "source_b",
            "n_pairs",
            F.round(F.col("s_fp") / F.col("n_pairs") / 10000.0, 4).alias(
                "mean_jaccard"
            ),
        )
        .orderBy("source_a", "source_b")
    )


def _dup_matrix_sql() -> str:
    from waterbear_spark.queries.llm import DEDUP_NEAR_SQL

    return f"""
WITH pairs AS (
    {DEDUP_NEAR_SQL}
),
src AS (SELECT doc_id, source FROM documents),
tagged AS (
    SELECT LEAST(a.source, b.source) AS source_a,
           GREATEST(a.source, b.source) AS source_b,
           CAST(FLOOR(p.jaccard * 10000 + 0.5) AS BIGINT) AS j_fp
    FROM pairs p
    JOIN src a ON a.doc_id = p.doc_a
    JOIN src b ON b.doc_id = p.doc_b
)
SELECT source_a, source_b,
       CAST(COUNT(*) AS INTEGER) AS n_pairs,
       ROUND(CAST(SUM(j_fp) AS DOUBLE) / COUNT(*) / 10000.0, 4) AS mean_jaccard
FROM tagged
GROUP BY source_a, source_b
ORDER BY source_a, source_b
"""


CROSS_SOURCE_DUP_SQL = _dup_matrix_sql()


QUERIES = {
    "hard_negative_mining": hard_negative_mining,
    "class_balance_weights": class_balance_weights,
    "perplexity_buckets": perplexity_buckets,
    "cross_source_dup_matrix": cross_source_dup_matrix,
}

ORACLES = {
    "hard_negative_mining": HARD_NEGATIVE_SQL,
    "class_balance_weights": CLASS_BALANCE_SQL,
    "perplexity_buckets": PERPLEXITY_BUCKETS_SQL,
    "cross_source_dup_matrix": CROSS_SOURCE_DUP_SQL,
}
