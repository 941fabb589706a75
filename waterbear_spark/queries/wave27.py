"""Round-8 wave-27 operators: corpus-curation manifests and an ANN
health audit.

* ``novelty_profile_by_source`` — per-source n-gram NOVELTY profile:
  each document's novelty is the fraction of its distinct 3-word
  shingles whose corpus-wide FIRST occurrence (min doc_id) is this
  document. [[ngram_novelty_rate]] tracks one train/test rate;
  [[dup_span_census]] measures verbatim spans — this is the
  source-level diversity monitor in between (which sources keep adding
  new text vs re-emitting what earlier documents already said), the
  per-source census behind dedup-priority decisions.
* ``quota_sample_manifest`` — per-source document caps with a
  deterministic md5 lottery (the "cap every domain at N documents"
  step of CommonCrawl-style curation, cf. Dolma / FineWeb per-domain
  caps; [[temperature_mix_weights]] reweights, [[epoch_allocation]]
  water-fills — this EMITS the kept/cut census a cap would execute):
  documents rank within their source by (md5 lottery, doc_id); rank
  <= quota survives. Reports per source kept/cut counts and the
  character mass each side carries.
* ``knn_hubness_audit`` — k-occurrence (hubness) distribution
  (Radovanović et al. 2010, "Hubs in Space", JMLR 11): within each IVF
  cell of the SHIPPED index, every vector's exact nearest neighbor is
  computed, and the audit reports the in-degree histogram (how many
  vectors are the NN of 0, 1, 2, ... others). Hub-heavy embeddings
  degrade ANN recall and near-dup precision; this is the go/no-go
  audit run alongside [[ann_recall_report]] / [[ivf_balance_audit]].

Scale: novelty's only corpus shuffles key on the shingle digest (the
first-occurrence relation is vocabulary-shaped and joins back
UNHINTED); quota ranking filters to rank <= N immediately after the
window (Spark's WindowGroupLimit keeps per-source state bounded at N)
and the census side is one algebraic aggregation; hubness reuses the
cell-blocked BLAS shape of [[semdedup_cells]] — one shuffle on the
cell key, one float64 matmul per <= 2048-vector cell inside
``applyInPandas`` (the pair space never leaves the worker), then a
histogram aggregation over n rows.

Determinism: novelty ratios are exact integer micro-units
(``n_first * 1e6 div n_shingles``) summed as longs; the lottery is
md5-hex string order (bit-identical engines); hubness distances are
micro-unit-quantized squared L2 with (distance, vec_id) tie-breaks —
float64 matmul vs the oracle's fold-order dots differs below ~1e-12,
absorbed by the quantization (the same certified argument as
[[semdedup_cells]] / [[dedup_embedding_cosine]]).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from waterbear_spark import scope
from waterbear_spark.queries.llm import (
    SHINGLES_SQL,
    TOKENS_SQL,
    _ivf_cells,
    _ivf_ctes,
    _shingles,
    _tokens,
)
from waterbear_spark.queries.tables import table

_QUOTA = 30  # documents kept per source
_NOV_FP = 1_000_000  # novelty micro-units (exact integer division)
_HUB_FP = 1_000_000  # distance micro-units for NN tie-stability


def novelty_profile_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source novelty profile — see module docstring. Output:
    (source, n_docs, avg_novelty, low_novelty_share), ordered."""
    docs = (
        table(spark, sf_dir, "documents")
        .select("doc_id", "source", _tokens(F.col("text")).alias("toks"))
        .filter(F.size("toks") >= 3)
    )
    # persist = the materialization barrier every shingle-exploding query
    # needs (decontaminate_overlap's measured finding): without it the
    # array_distinct(shingles) expression re-evaluates under Generate and
    # the per-doc cost goes quadratic — benched 26 s -> 1.75 s at sf0.1
    sh = scope.persist(docs.select(
        "doc_id",
        "source",
        F.array_distinct(_shingles(F.col("toks"))).alias("arr"),
    ))
    ex = sh.select(
        "doc_id", "source", F.size("arr").alias("n_sh"), F.explode("arr").alias("s")
    )
    first = ex.groupBy("s").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (
        ex.join(first, "s")  # unhinted: first-occurrence is vocabulary-shaped
        .groupBy("doc_id", "source", "n_sh")
        .agg(
            F.sum((F.col("first_doc") == F.col("doc_id")).cast("long")).alias(
                "n_first"
            )
        )
        .select(
            "source",
            F.expr(f"(n_first * {_NOV_FP}) div n_sh").alias("nov_fp"),
        )
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("nov_fp").alias("s_fp"),
            F.sum((F.col("nov_fp") < _NOV_FP // 2).cast("long")).alias("n_low"),
        )
        .select(
            "source",
            "n_docs",
            F.round(
                F.col("s_fp") / (F.col("n_docs") * float(_NOV_FP)), 6
            ).alias("avg_novelty"),
            F.round(F.col("n_low") / F.col("n_docs"), 6).alias(
                "low_novelty_share"
            ),
        )
        .orderBy("source")
    )


NOVELTY_PROFILE_SQL = f"""
WITH tok AS (
    SELECT doc_id, source, {TOKENS_SQL} AS toks FROM documents
),
sh AS (
    SELECT doc_id, source, list_distinct({SHINGLES_SQL}) AS arr
    FROM tok WHERE len(toks) >= 3
),
ex AS (
    SELECT doc_id, source, len(arr) AS n_sh, unnest(arr) AS s FROM sh
),
first AS (
    SELECT s, MIN(doc_id) AS first_doc FROM ex GROUP BY s
),
per_doc AS (
    SELECT e.source,
           (SUM(CASE WHEN f.first_doc = e.doc_id THEN 1 ELSE 0 END)
            * {_NOV_FP}) // ANY_VALUE(e.n_sh) AS nov_fp
    FROM ex e JOIN first f USING (s)
    GROUP BY e.doc_id, e.source
)
SELECT source,
       COUNT(*) AS n_docs,
       ROUND(SUM(nov_fp) / (COUNT(*) * {float(_NOV_FP)}), 6) AS avg_novelty,
       ROUND(SUM(CASE WHEN nov_fp < {_NOV_FP // 2} THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE), 6) AS low_novelty_share
FROM per_doc
GROUP BY source
ORDER BY source
"""


def quota_sample_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source cap census at quota {q} — see module docstring.
    Output: (source, n_docs, kept, cut, kept_chars, cut_chars),
    ordered."""
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    lot = F.md5(F.concat(F.lit("cap|"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("source").orderBy(lot, F.col("doc_id"))
    kept = (
        docs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _QUOTA)  # WindowGroupLimit bounds state at N
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("kept"),
            F.sum("n_chars").alias("kept_chars"),
        )
    )
    census = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )
    return (
        census.join(kept, "source", "left")
        .select(
            "source",
            "n_docs",
            F.coalesce("kept", F.lit(0)).alias("kept"),
            (F.col("n_docs") - F.coalesce("kept", F.lit(0))).alias("cut"),
            F.coalesce("kept_chars", F.lit(0)).alias("kept_chars"),
            (F.col("total_chars") - F.coalesce("kept_chars", F.lit(0))).alias(
                "cut_chars"
            ),
        )
        .orderBy("source")
    )

quota_sample_manifest.__doc__ = quota_sample_manifest.__doc__.format(q=_QUOTA)


QUOTA_SAMPLE_SQL = f"""
WITH ranked AS (
    SELECT source, n_chars,
           ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY md5(CONCAT('cap|', CAST(doc_id AS VARCHAR))), doc_id
           ) AS rk
    FROM documents
),
kept AS (
    SELECT source, COUNT(*) AS kept, SUM(n_chars) AS kept_chars
    FROM ranked WHERE rk <= {_QUOTA} GROUP BY source
),
census AS (
    SELECT source, COUNT(*) AS n_docs, SUM(n_chars) AS total_chars
    FROM documents GROUP BY source
)
SELECT c.source, c.n_docs,
       COALESCE(k.kept, 0) AS kept,
       c.n_docs - COALESCE(k.kept, 0) AS cut,
       CAST(COALESCE(k.kept_chars, 0) AS BIGINT) AS kept_chars,
       CAST(c.total_chars - COALESCE(k.kept_chars, 0) AS BIGINT) AS cut_chars
FROM census c LEFT JOIN kept k USING (source)
ORDER BY c.source
"""


def knn_hubness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-degree histogram of the within-cell exact-NN graph over the
    shipped IVF index — see module docstring. Output: (indegree,
    n_vectors), ordered by indegree; vectors in singleton cells (no
    cell-mate to pick them) count at indegree 0 like any never-chosen
    vector."""
    import numpy as np
    import pandas as pd

    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    m = emb.join(_ivf_cells(spark, sf_dir), "vec_id")

    def cell_hist(pdf: pd.DataFrame) -> pd.DataFrame:
        # NN edges never leave the cell, so the in-degree histogram is
        # computable per cell in one pass — no second UDF evaluation,
        # no edge relation shuffle
        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"indegree": [0], "n_vectors": [n]})
        ids = pdf["vec_id"].to_numpy()
        order = np.argsort(ids)
        mat = np.asarray(pdf["v"].iloc[order].tolist(), dtype=np.float64)
        sq = (mat * mat).sum(axis=1)
        d = sq[:, None] - 2.0 * (mat @ mat.T) + sq[None, :]
        dq = np.floor(d * _HUB_FP + 0.5).astype(np.int64)
        np.fill_diagonal(dq, np.iinfo(np.int64).max)
        # argmin by (quantized distance, vec_id): ids ascend along the
        # axis after the sort, and np.argmin takes the FIRST minimum
        nn = np.argmin(dq, axis=1)
        indeg = np.bincount(nn, minlength=n)
        vals, cnts = np.unique(indeg, return_counts=True)
        return pd.DataFrame({"indegree": vals, "n_vectors": cnts})

    # pinned partitioning (r10): same reasoning as semdedup_cells — the
    # per-cell matmul is FLOP-dense on byte-small input, so exempt it
    # from AQE's size-based coalesce with an explicit hash repartition
    return (
        m.repartition(spark.sparkContext.defaultParallelism, "cell")
        .groupBy("cell")
        .applyInPandas(cell_hist, schema="indegree int, n_vectors long")
        .groupBy("indegree")
        .agg(F.sum("n_vectors").alias("n_vectors"))
        .orderBy("indegree")
    )


def _hubness_sql() -> str:
    ivf_ctes, ivf_final, _cent = _ivf_ctes()
    joined = ",\n".join(ivf_ctes)
    dist = (
        "(list_dot_product(a.v, a.v) - 2 * list_dot_product(a.v, b.v))"
        " + list_dot_product(b.v, b.v)"
    )
    return f"""
WITH {joined},
m AS (
    SELECT c.vec_id, c.cell, e.v FROM {ivf_final} c JOIN e USING (vec_id)
),
nn AS (
    SELECT vec_id, nn FROM (
        SELECT a.vec_id, b.vec_id AS nn,
               ROW_NUMBER() OVER (
                   PARTITION BY a.vec_id
                   ORDER BY CAST(FLOOR(({dist}) * {_HUB_FP} + 0.5) AS BIGINT),
                            b.vec_id
               ) AS rn
        FROM m a JOIN m b ON a.cell = b.cell AND a.vec_id <> b.vec_id
    ) WHERE rn = 1
),
indeg AS (
    SELECT nn, COUNT(*) AS k_occ FROM nn GROUP BY nn
)
SELECT CAST(COALESCE(i.k_occ, 0) AS INTEGER) AS indegree,
       COUNT(*) AS n_vectors
FROM m LEFT JOIN indeg i ON i.nn = m.vec_id
GROUP BY COALESCE(i.k_occ, 0)
ORDER BY indegree
"""


HUBNESS_SQL = _hubness_sql()


QUERIES = {
    "novelty_profile_by_source": novelty_profile_by_source,
    "quota_sample_manifest": quota_sample_manifest,
    "knn_hubness_audit": knn_hubness_audit,
}

ORACLES = {
    "novelty_profile_by_source": NOVELTY_PROFILE_SQL,
    "quota_sample_manifest": QUOTA_SAMPLE_SQL,
    "knn_hubness_audit": HUBNESS_SQL,
}
