"""Round-7 wave-22 operators: index QA and corpus-composition audits.

* ``ivf_balance_audit`` — per-coarse-cell balance report for the shipped
  two-level IVF index (``llm._ivf_index``): how many fine cells each
  coarse cell realized, its vector count, and its min/max fine-cell
  occupancy. The load-balance readout an IVF deployment watches: a
  coarse cell whose max fine cell dwarfs the rest means skewed probe
  latency, and a coarse cell that realized fewer fine cells than k2
  means the training sample under-funded it. Reuses the exact shipped
  assignment (and its oracle CTE chain) — audits the index, never a
  re-derivation.
* ``boilerplate_prefix_census`` — shared-prefix boilerplate detection
  (the C4/RefinedWeb "same opening line everywhere" signal): documents
  grouped by their first-5-token prefix; prefixes shared by >= 2 docs
  ranked by frequency (top 20, ties to the lexicographically smaller
  prefix), with an exact basis-point corpus share. One scan + one
  prefix-keyed aggregation; the corpus total rides a broadcast 1-row
  scalar.
* ``token_coverage_curve`` — vocabulary coverage at top-K types (K =
  10/100/1000): what fraction of all token OCCURRENCES the K most
  frequent types cover — the table that sizes a tokenizer's vocab
  budget (Zipf's law makes it concave; [[zipf_fit_tokens]] fits the
  exponent, this measures the budget curve directly). Types rank by
  (count desc, token); coverage is exact integer basis points. The
  relation is vocabulary-sized; the curve falls out of one conditional
  aggregation — no scalar join, no second scan.
* ``embedding_norm_audit`` — embedding QA per source: squared-L2-norm
  census (min/mean/max) plus counts of vectors whose norm^2 drifts
  below half or above twice the source mean — the "did a bad batch of
  embeddings land" monitor run before any ANN build. Norms are
  sequential-fold dots quantized to 1e-6 fixed point (floor(x+0.5)),
  all aggregation and both drift flags are exact integer arithmetic
  against the integer-floor mean.

Scale: the balance audit is two keyed aggregations over (cell) then
(coarse) — micro-relations after the first groupBy; the prefix census
shuffles once on a bounded-width prefix key; the coverage curve is one
explode + vocab-sized aggregation + one global rank over the vocabulary
relation (the same vocabulary-relation shape as [[zipf_fit_tokens]] /
[[tfidf_top_terms]]); the norm audit is one scan + |sources|-row
aggregate + broadcast join-back. Nothing pairs, nothing collects beyond
1-row scalars.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from waterbear_spark import scope
from waterbear_spark.queries.llm import TOKENS_SQL, _fold_dot, _tokens
from waterbear_spark.queries.tables import table

_PREFIX_LEN = 5  # boilerplate prefix width (tokens)
_PREFIX_TOPK = 20
_COVERAGE_KS = (10, 100, 1000)
_NRM_SCALE = 1_000_000  # 1e-6 fixed-point for norm^2


def ivf_balance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-coarse-cell occupancy balance of the shipped IVF index — see
    module docstring. Output: (coarse, n_cells, n_vecs, min_cell,
    max_cell), ordered by coarse."""
    from waterbear_spark.queries.llm import _ivf_index

    cells, _cent, params = _ivf_index(spark, sf_dir)
    k2 = params["k2"]
    occ = (
        cells.groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("coarse", F.expr(f"cell div {k2}").cast("int"))
    )
    return (
        occ.groupBy("coarse")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_cells"),
            F.sum("n").cast("long").alias("n_vecs"),
            F.min("n").cast("long").alias("min_cell"),
            F.max("n").cast("long").alias("max_cell"),
        )
        .orderBy("coarse")
    )


def _ivf_balance_sql() -> str:
    from waterbear_spark.queries.llm import _ivf_ctes

    ctes, final, _cent = _ivf_ctes()
    joined = ",\n".join(ctes)
    return f"""
WITH {joined},
occ AS (
    SELECT cell, COUNT(*) AS n FROM {final} GROUP BY cell
)
SELECT CAST(occ.cell // p.k2 AS INTEGER) AS coarse,
       CAST(COUNT(*) AS INTEGER) AS n_cells,
       CAST(SUM(occ.n) AS BIGINT) AS n_vecs,
       CAST(MIN(occ.n) AS BIGINT) AS min_cell,
       CAST(MAX(occ.n) AS BIGINT) AS max_cell
FROM occ CROSS JOIN p
GROUP BY occ.cell // p.k2
ORDER BY coarse
"""


def boilerplate_prefix_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top shared first-{k}-token prefixes — see module docstring.
    Output: (prefix, n_docs, share_bp), top {n} by (n_docs desc,
    prefix)."""
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", _tokens(F.col("text")).alias("toks")
    )
    pref = docs.select(
        F.concat_ws(" ", F.slice("toks", 1, _PREFIX_LEN)).alias("prefix")
    )
    total = pref.agg(F.count(F.lit(1)).alias("total"))
    return (
        pref.groupBy("prefix")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
        .crossJoin(F.broadcast(total))
        .select(
            "prefix",
            "n_docs",
            F.expr("(n_docs * 10000) div total").alias("share_bp"),
        )
        .orderBy(F.col("n_docs").desc(), "prefix")
        .limit(_PREFIX_TOPK)
    )


BOILERPLATE_PREFIX_SQL = f"""
WITH pref AS (
    SELECT array_to_string(list_slice({TOKENS_SQL}, 1, {_PREFIX_LEN}), ' ')
        AS prefix
    FROM documents
),
total AS (SELECT COUNT(*) AS total FROM pref)
SELECT prefix, n_docs,
       CAST((n_docs * 10000) // total AS BIGINT) AS share_bp
FROM (SELECT prefix, COUNT(*) AS n_docs FROM pref GROUP BY prefix)
CROSS JOIN total
WHERE n_docs >= 2
ORDER BY n_docs DESC, prefix
LIMIT {_PREFIX_TOPK}
"""


def token_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-token coverage of the top-K most frequent types — see
    module docstring. Output: (top_k, covered_tokens, total_tokens,
    coverage_bp), one row per K."""
    docs = table(spark, sf_dir, "documents").select(
        _tokens(F.col("text")).alias("toks")
    )
    tf = (
        docs.select(F.explode("toks").alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    rk = F.row_number().over(Window.orderBy(F.col("c").desc(), "t"))
    ranked = tf.withColumn("rk", rk)
    agg = ranked.agg(
        F.sum("c").alias("total"),
        *[
            F.sum(F.when(F.col("rk") <= k, F.col("c")).otherwise(F.lit(0))).alias(
                f"cov{k}"
            )
            for k in _COVERAGE_KS
        ],
    )
    rows = F.array(
        *[
            F.struct(
                F.lit(k).alias("top_k"),
                F.col(f"cov{k}").alias("covered_tokens"),
                F.col("total").alias("total_tokens"),
                F.expr(f"(cov{k} * 10000) div total").alias("coverage_bp"),
            )
            for k in _COVERAGE_KS
        ]
    )
    return agg.select(F.explode(rows).alias("r")).select(
        "r.top_k", "r.covered_tokens", "r.total_tokens", "r.coverage_bp"
    )


TOKEN_COVERAGE_SQL = f"""
WITH tf AS (
    SELECT t, COUNT(*) AS c
    FROM (SELECT unnest({TOKENS_SQL}) AS t FROM documents)
    GROUP BY t
),
ranked AS (
    SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, t) AS rk FROM tf
),
agg AS (
    SELECT CAST(SUM(c) AS BIGINT) AS total,
           {", ".join(
               f"CAST(SUM(CASE WHEN rk <= {k} THEN c ELSE 0 END) AS BIGINT) AS cov{k}"
               for k in _COVERAGE_KS
           )}
    FROM ranked
)
{" UNION ALL ".join(
    f"SELECT {k} AS top_k, cov{k} AS covered_tokens, total AS total_tokens,"
    f" CAST((cov{k} * 10000) // total AS BIGINT) AS coverage_bp FROM agg"
    for k in _COVERAGE_KS
)}
"""


def embedding_norm_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source squared-norm census + drift flags — see module
    docstring. Output: (source, n_vecs, min_nrm2_fp, mean_nrm2_fp,
    max_nrm2_fp, n_low, n_high) with norms in 1e-6 fixed point."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "source")
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    nrm2 = _fold_dot("v", "v")
    fp = F.floor(nrm2 * _NRM_SCALE + F.lit(0.5)).cast("bigint")
    # vecs feeds both the per-source stats and the flag join-back:
    # persist so the scan + join + norm folds run once, not twice
    vecs = scope.persist(emb.join(
        docs, emb["vec_id"] == docs["doc_id"]
    ).select("source", fp.alias("nrm2_fp")))
    stats = vecs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.min("nrm2_fp").alias("min_nrm2_fp"),
        F.max("nrm2_fp").alias("max_nrm2_fp"),
        F.expr("sum(nrm2_fp) div count(1)").alias("mean_nrm2_fp"),
    )
    return (
        vecs.join(F.broadcast(stats), "source")
        .groupBy("source", "n_vecs", "min_nrm2_fp", "mean_nrm2_fp", "max_nrm2_fp")
        .agg(
            F.sum(
                (2 * F.col("nrm2_fp") < F.col("mean_nrm2_fp")).cast("long")
            ).alias("n_low"),
            F.sum(
                (F.col("nrm2_fp") > 2 * F.col("mean_nrm2_fp")).cast("long")
            ).alias("n_high"),
        )
        .select(
            "source",
            F.col("n_vecs").cast("long"),
            "min_nrm2_fp",
            "mean_nrm2_fp",
            "max_nrm2_fp",
            "n_low",
            "n_high",
        )
        .orderBy("source")
    )


EMBEDDING_NORM_SQL = f"""
WITH vecs AS (
    SELECT d.source,
           CAST(FLOOR(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                       CAST(e.embedding AS DOUBLE[]))
                      * {_NRM_SCALE} + 0.5) AS BIGINT) AS nrm2_fp
    FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
),
stats AS (
    SELECT source, COUNT(*) AS n_vecs,
           MIN(nrm2_fp) AS min_nrm2_fp,
           MAX(nrm2_fp) AS max_nrm2_fp,
           CAST(SUM(nrm2_fp) // COUNT(*) AS BIGINT) AS mean_nrm2_fp
    FROM vecs GROUP BY source
)
SELECT v.source,
       CAST(s.n_vecs AS BIGINT) AS n_vecs,
       s.min_nrm2_fp, s.mean_nrm2_fp, s.max_nrm2_fp,
       CAST(SUM(CASE WHEN 2 * v.nrm2_fp < s.mean_nrm2_fp THEN 1 ELSE 0 END)
            AS BIGINT) AS n_low,
       CAST(SUM(CASE WHEN v.nrm2_fp > 2 * s.mean_nrm2_fp THEN 1 ELSE 0 END)
            AS BIGINT) AS n_high
FROM vecs v JOIN stats s USING (source)
GROUP BY v.source, s.n_vecs, s.min_nrm2_fp, s.mean_nrm2_fp, s.max_nrm2_fp
ORDER BY source
"""


QUERIES = {
    "ivf_balance_audit": ivf_balance_audit,
    "boilerplate_prefix_census": boilerplate_prefix_census,
    "token_coverage_curve": token_coverage_curve,
    "embedding_norm_audit": embedding_norm_audit,
}

ORACLES = {
    "ivf_balance_audit": _ivf_balance_sql(),
    "boilerplate_prefix_census": BOILERPLATE_PREFIX_SQL,
    "token_coverage_curve": TOKEN_COVERAGE_SQL,
    "embedding_norm_audit": EMBEDDING_NORM_SQL,
}
