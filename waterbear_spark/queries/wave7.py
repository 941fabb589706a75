"""Round-3 wave-7 operators: model-evaluation and linkage-calibration
family — exact ROC AUC, PSI population stability, difference-in-
differences, retrieval nDCG/MRR eval, and Fellegi-Sunter match weights.

Operator families the catalog didn't cover yet:

* ``roc_auc_exact`` — exact tie-corrected ROC AUC from the Mann-Whitney
  identity AUC = U1/(n1*n0), riding the same distributed cumulative-
  rank scaffold as [[ks_test_order_status]] / [[mannwhitney_order_status]]
  (quality_queries._pooled_value_cums) — no per-row sort, no threshold
  sweep.
* ``psi_stability`` — the population stability index (the credit-risk /
  model-monitoring standard): binned score distribution of the later
  half of the data against the earlier half, Laplace-smoothed,
  (p-q)*ln(p/q) folded in sorted bin order.
* ``diff_in_diff`` — the 2x2 difference-in-differences estimator with
  pooled-variance standard error: four conditional cell aggregates in
  ONE pass (no join assembly), exact integer-cents moments.
* ``retrieval_eval_ndcg`` — nDCG@10 + MRR of a term-frequency ranker
  against graded term-coverage relevance: the eval loop for
  [[bm25_search]]-style retrievers, rank discounts embedded as shared
  double literals so the DCG fold is bit-identical.
* ``fellegi_sunter_weights`` — record-linkage field weights
  (Fellegi-Sunter 1969): m/u agreement probabilities per field over
  labeled candidate pairs (label = name edit distance), log2 match
  weights — the calibration table behind [[er_golden_records]]'s
  verify threshold.

Float determinism follows the house rules in ``tables.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from waterbear_spark import scope
from waterbear_spark.queries.tables import DEC, table


# ---------------------------------------------------------------------------
# Exact ROC AUC
# ---------------------------------------------------------------------------

def roc_auc_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC AUC of o_totalprice as a score for "order finished"
    (the same F-vs-O frame as the two-sample tests): AUC =
    (2*R1 - n1*(n1+1)) / (2*n1*n0) with AVERAGE ranks on ties — the
    Mann-Whitney identity, so ties are handled exactly, not by a
    binned approximation. Also reports the Gini coefficient 2*AUC-1.

    Scale: the doubled rank sums come from the shared distributed
    cumulative-rank scaffold (per-value counts, bucket prefix sums,
    within-bucket windows) — one combinable pass, no global sort, no
    threshold sweep over a collected score list.
    """
    from waterbear_spark.queries.quality_queries import _pooled_value_cums

    pooled = _pooled_value_cums(spark, sf_dir)
    cnt = F.col("d1") + F.col("d2")
    cum_before = F.col("c1") + F.col("c2") - cnt
    two_avg_rank = 2 * cum_before + cnt + 1
    sums = pooled.select(
        "d1",
        "d2",
        (F.col("d1").cast("decimal(19,0)") * two_avg_rank.cast("decimal(19,0)"))
        .alias("two_r1_term"),
    ).agg(
        F.sum("d1").alias("n1"),
        F.sum("d2").alias("n0"),
        F.sum("two_r1_term").cast("decimal(38,0)").alias("two_r1"),
    )
    n1d = F.col("n1").cast("double")
    n0d = F.col("n0").cast("double")
    auc = (F.col("two_r1").cast("double") - n1d * (n1d + 1)) / (
        2.0 * n1d * n0d
    )
    return sums.filter((F.col("n1") > 0) & (F.col("n0") > 0)).select(
        F.col("n1").cast("long").alias("n_pos"),
        F.col("n0").cast("long").alias("n_neg"),
        F.round(auc, 6).alias("auc"),
        F.round(2.0 * auc - 1.0, 6).alias("gini"),
    )


ROC_AUC_SQL = """
WITH orders2 AS (
    SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v,
           CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS is1
    FROM orders WHERE o_orderstatus IN ('F', 'O')
),
per_value AS (
    SELECT v, SUM(is1) AS d1, SUM(1 - is1) AS d2
    FROM orders2 GROUP BY v
),
cum AS (
    SELECT d1, d2, d1 + d2 AS cnt,
           SUM(d1 + d2) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - (d1 + d2) AS cum_before
    FROM per_value
),
sums AS (
    SELECT SUM(d1) AS n1, SUM(d2) AS n0,
           CAST(SUM(CAST(d1 AS DECIMAL(19,0))
                * CAST(2 * cum_before + cnt + 1 AS DECIMAL(19,0)))
             AS DECIMAL(38,0)) AS two_r1
    FROM cum
)
SELECT CAST(n1 AS BIGINT) AS n_pos,
       CAST(n0 AS BIGINT) AS n_neg,
       ROUND((CAST(two_r1 AS DOUBLE) - CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) + 1))
             / (2.0 * CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE)), 6) AS auc,
       ROUND(2.0 * ((CAST(two_r1 AS DOUBLE) - CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) + 1))
             / (2.0 * CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE))) - 1.0, 6) AS gini
FROM sums
WHERE n1 > 0 AND n0 > 0
"""


# ---------------------------------------------------------------------------
# Population stability index
# ---------------------------------------------------------------------------

_PSI_BINS = 10
_PSI_WIDTH = 60_000.0


def psi_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population stability index of the order-price distribution:
    later half of the date span (actual) vs earlier half (expected),
    {b} fixed-width bins, Laplace-smoothed shares, PSI =
    sum (p-q)*ln(p/q) folded in sorted bin order (the
    [[drift_kl_daily]] determinism trick). PSI < 0.1 is stable,
    0.1-0.25 drifting, > 0.25 shifted — the model-monitoring standard.

    Scale: one combinable (period, bin) count; the midpoint cutoff is a
    1-row broadcast scalar against the facts; the fold runs over a
    {b}-element array. Output also exposes the per-bin shares so the
    alarm is auditable.
    """
    o = table(spark, sf_dir, "orders").select("o_orderdate", "o_totalprice")
    bounds = o.agg(
        F.min("o_orderdate").alias("lo"), F.max("o_orderdate").alias("hi")
    ).select(
        F.timestamp_add(
            "SECOND",
            (
                F.timestamp_diff("SECOND", F.col("lo"), F.col("hi")) / 2
            ).cast("long"),
            F.col("lo"),
        ).alias("cut")
    )
    binned = (
        o.crossJoin(F.broadcast(bounds))
        .select(
            (F.col("o_orderdate") >= F.col("cut")).alias("late"),
            F.least(
                F.floor(F.col("o_totalprice") / _PSI_WIDTH), F.lit(_PSI_BINS - 1)
            )
            .cast("int")
            .alias("bin"),
        )
        .groupBy("late", "bin")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wide = binned.groupBy("bin").agg(
        F.sum(F.when(~F.col("late"), F.col("n")).otherwise(0)).alias("n_exp"),
        F.sum(F.when(F.col("late"), F.col("n")).otherwise(0)).alias("n_act"),
    )
    tots = wide.select(
        "bin",
        "n_exp",
        "n_act",
        F.sum("n_exp").over(Window.partitionBy()).alias("t_exp"),
        F.sum("n_act").over(Window.partitionBy()).alias("t_act"),
    )
    p = (F.col("n_act") + 1.0) / (F.col("t_act") + F.lit(float(_PSI_BINS)))
    q = (F.col("n_exp") + 1.0) / (F.col("t_exp") + F.lit(float(_PSI_BINS)))
    terms = tots.select(
        "bin",
        "n_exp",
        "n_act",
        F.round(p, 6).alias("share_act"),
        F.round(q, 6).alias("share_exp"),
        ((p - q) * F.log(p / q)).alias("term"),
    )
    folded = terms.select(
        "bin",
        "n_exp",
        "n_act",
        "share_exp",
        "share_act",
        F.round(
            F.aggregate(
                F.array_sort(
                    F.collect_list(F.struct("bin", "term")).over(
                        Window.partitionBy()
                    )
                ),
                F.lit(0.0),
                lambda acc, x: acc + x["term"],
            ),
            8,
        ).alias("psi"),
    )
    return folded.orderBy("bin")

psi_stability.__doc__ = psi_stability.__doc__.format(b=_PSI_BINS)


PSI_SQL = f"""
WITH bounds AS (
    SELECT MIN(o_orderdate)
           + TO_SECONDS(CAST(DATE_DIFF('second', MIN(o_orderdate),
                                       MAX(o_orderdate)) // 2 AS BIGINT)) AS cut
    FROM orders
),
binned AS (
    SELECT (o_orderdate >= (SELECT cut FROM bounds)) AS late,
           CAST(LEAST(FLOOR(o_totalprice / {_PSI_WIDTH}), {_PSI_BINS - 1}) AS INT)
               AS bin,
           COUNT(*) AS n
    FROM orders GROUP BY 1, 2
),
wide AS (
    SELECT bin,
           CAST(SUM(CASE WHEN NOT late THEN n ELSE 0 END) AS BIGINT) AS n_exp,
           CAST(SUM(CASE WHEN late THEN n ELSE 0 END) AS BIGINT) AS n_act
    FROM binned GROUP BY bin
),
tots AS (
    SELECT bin, n_exp, n_act,
           SUM(n_exp) OVER () AS t_exp, SUM(n_act) OVER () AS t_act
    FROM wide
),
terms AS (
    SELECT bin, n_exp, n_act,
           ROUND((n_act + 1.0) / (t_act + {float(_PSI_BINS)}), 6) AS share_act,
           ROUND((n_exp + 1.0) / (t_exp + {float(_PSI_BINS)}), 6) AS share_exp,
           ((n_act + 1.0) / (t_act + {float(_PSI_BINS)})
            - (n_exp + 1.0) / (t_exp + {float(_PSI_BINS)}))
           * LN(((n_act + 1.0) / (t_act + {float(_PSI_BINS)}))
                / ((n_exp + 1.0) / (t_exp + {float(_PSI_BINS)}))) AS term
    FROM tots
)
SELECT bin, n_exp, n_act, share_exp, share_act,
       ROUND((SELECT list_aggregate(list(term ORDER BY bin), 'sum') FROM terms), 8)
           AS psi
FROM terms
ORDER BY bin
"""


# ---------------------------------------------------------------------------
# Difference-in-differences
# ---------------------------------------------------------------------------

_DID_TREAT = "AUTOMOBILE"
_DID_CTRL = "BUILDING"


def diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2x2 difference-in-differences on order value: treatment segment
    '{t}' vs control '{c}', pre/post the date-span midpoint. DiD =
    (t_post - t_pre) - (c_post - c_pre), standard error from the
    pooled within-cell variance — the quasi-experimental readout when
    randomization isn't available.

    Exactness: all four cells accumulate integer-cents first and second
    moments in DECIMAL(38,0) inside ONE conditional aggregate (no
    4-way join assembly); means, variances, and the t-statistic are
    closing IEEE expressions over those exact sums.
    """
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    bounds = o.agg(
        F.timestamp_add(
            "SECOND",
            (
                F.timestamp_diff(
                    "SECOND", F.min("o_orderdate"), F.max("o_orderdate")
                )
                / 2
            ).cast("long"),
            F.min("o_orderdate"),
        ).alias("cut")
    )
    rows = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .filter(F.col("c_mktsegment").isin(_DID_TREAT, _DID_CTRL))
        .crossJoin(F.broadcast(bounds))
        .select(
            (F.col("c_mktsegment") == _DID_TREAT).alias("treat"),
            (F.col("o_orderdate") >= F.col("cut")).alias("post"),
            F.round(F.col("o_totalprice") * 100).cast("decimal(19,0)").alias("cents"),
        )
    )

    def cell(treat: bool, post: bool, expr):
        cond = (F.col("treat") == treat) & (F.col("post") == post)
        return F.sum(F.when(cond, expr).otherwise(F.lit(0).cast("decimal(19,0)")))

    aggs = []
    for name, t, p in (
        ("tpre", True, False),
        ("tpost", True, True),
        ("cpre", False, False),
        ("cpost", False, True),
    ):
        aggs += [
            cell(t, p, F.lit(1).cast("decimal(19,0)")).cast("long").alias(f"n_{name}"),
            cell(t, p, F.col("cents")).cast("decimal(38,0)").alias(f"s1_{name}"),
            cell(t, p, F.col("cents") * F.col("cents"))
            .cast("decimal(38,0)")
            .alias(f"s2_{name}"),
        ]
    sums = rows.agg(*aggs)

    def mean(nm):
        return F.col(f"s1_{nm}").cast("double") / F.col(f"n_{nm}") / 100.0

    def ssq(nm):
        n = F.col(f"n_{nm}").cast("double")
        s1 = F.col(f"s1_{nm}").cast("double")
        s2 = F.col(f"s2_{nm}").cast("double")
        return (s2 - s1 * s1 / n) / 10_000.0  # cents^2 -> dollars^2

    n_tot = (
        F.col("n_tpre") + F.col("n_tpost") + F.col("n_cpre") + F.col("n_cpost")
    ).cast("double")
    pooled_var = (ssq("tpre") + ssq("tpost") + ssq("cpre") + ssq("cpost")) / (
        n_tot - 4.0
    )
    se = F.sqrt(
        pooled_var
        * (
            1.0 / F.col("n_tpre")
            + 1.0 / F.col("n_tpost")
            + 1.0 / F.col("n_cpre")
            + 1.0 / F.col("n_cpost")
        )
    )
    did = (mean("tpost") - mean("tpre")) - (mean("cpost") - mean("cpre"))
    return sums.select(
        "n_tpre",
        "n_tpost",
        "n_cpre",
        "n_cpost",
        F.round(mean("tpre"), 4).alias("mean_treat_pre"),
        F.round(mean("tpost"), 4).alias("mean_treat_post"),
        F.round(mean("cpre"), 4).alias("mean_ctrl_pre"),
        F.round(mean("cpost"), 4).alias("mean_ctrl_post"),
        F.round(did, 4).alias("did"),
        F.round(se, 4).alias("se"),
        F.round(did / se, 4).alias("t_stat"),
    )

diff_in_diff.__doc__ = diff_in_diff.__doc__.format(t=_DID_TREAT, c=_DID_CTRL)


def _did_cellsql(name: str, treat: str, post: str) -> str:
    cond = f"(c_mktsegment = '{treat}') AND ({post})"
    return (
        f"CAST(SUM(CASE WHEN {cond} THEN 1 ELSE 0 END) AS BIGINT) AS n_{name},\n"
        f"       CAST(SUM(CASE WHEN {cond} THEN cents ELSE CAST(0 AS DECIMAL(19,0)) END) AS DECIMAL(38,0)) AS s1_{name},\n"
        f"       CAST(SUM(CASE WHEN {cond} THEN cents * cents ELSE CAST(0 AS DECIMAL(19,0)) END) AS DECIMAL(38,0)) AS s2_{name}"
    )


DID_SQL = f"""
WITH bounds AS (
    SELECT MIN(o_orderdate)
           + TO_SECONDS(CAST(DATE_DIFF('second', MIN(o_orderdate),
                                       MAX(o_orderdate)) // 2 AS BIGINT)) AS cut
    FROM orders
),
rows0 AS (
    SELECT c.c_mktsegment,
           (o.o_orderdate >= (SELECT cut FROM bounds)) AS post,
           CAST(ROUND(o.o_totalprice * 100) AS DECIMAL(19,0)) AS cents
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_mktsegment IN ('{_DID_TREAT}', '{_DID_CTRL}')
),
sums AS (
    SELECT {_did_cellsql("tpre", _DID_TREAT, "NOT post")},
       {_did_cellsql("tpost", _DID_TREAT, "post")},
       {_did_cellsql("cpre", _DID_CTRL, "NOT post")},
       {_did_cellsql("cpost", _DID_CTRL, "post")}
    FROM rows0
)
SELECT n_tpre, n_tpost, n_cpre, n_cpost,
       ROUND(CAST(s1_tpre AS DOUBLE) / n_tpre / 100.0, 4) AS mean_treat_pre,
       ROUND(CAST(s1_tpost AS DOUBLE) / n_tpost / 100.0, 4) AS mean_treat_post,
       ROUND(CAST(s1_cpre AS DOUBLE) / n_cpre / 100.0, 4) AS mean_ctrl_pre,
       ROUND(CAST(s1_cpost AS DOUBLE) / n_cpost / 100.0, 4) AS mean_ctrl_post,
       ROUND((CAST(s1_tpost AS DOUBLE) / n_tpost / 100.0
              - CAST(s1_tpre AS DOUBLE) / n_tpre / 100.0)
             - (CAST(s1_cpost AS DOUBLE) / n_cpost / 100.0
                - CAST(s1_cpre AS DOUBLE) / n_cpre / 100.0), 4) AS did,
       ROUND(SQRT(((CAST(s2_tpre AS DOUBLE) - CAST(s1_tpre AS DOUBLE) * CAST(s1_tpre AS DOUBLE) / n_tpre) / 10000.0
                   + (CAST(s2_tpost AS DOUBLE) - CAST(s1_tpost AS DOUBLE) * CAST(s1_tpost AS DOUBLE) / n_tpost) / 10000.0
                   + (CAST(s2_cpre AS DOUBLE) - CAST(s1_cpre AS DOUBLE) * CAST(s1_cpre AS DOUBLE) / n_cpre) / 10000.0
                   + (CAST(s2_cpost AS DOUBLE) - CAST(s1_cpost AS DOUBLE) * CAST(s1_cpost AS DOUBLE) / n_cpost) / 10000.0)
                  / (CAST(n_tpre + n_tpost + n_cpre + n_cpost AS DOUBLE) - 4.0)
                  * (1.0 / n_tpre + 1.0 / n_tpost + 1.0 / n_cpre + 1.0 / n_cpost)), 4)
           AS se,
       ROUND(((CAST(s1_tpost AS DOUBLE) / n_tpost / 100.0
               - CAST(s1_tpre AS DOUBLE) / n_tpre / 100.0)
              - (CAST(s1_cpost AS DOUBLE) / n_cpost / 100.0
                 - CAST(s1_cpre AS DOUBLE) / n_cpre / 100.0))
             / SQRT(((CAST(s2_tpre AS DOUBLE) - CAST(s1_tpre AS DOUBLE) * CAST(s1_tpre AS DOUBLE) / n_tpre) / 10000.0
                     + (CAST(s2_tpost AS DOUBLE) - CAST(s1_tpost AS DOUBLE) * CAST(s1_tpost AS DOUBLE) / n_tpost) / 10000.0
                     + (CAST(s2_cpre AS DOUBLE) - CAST(s1_cpre AS DOUBLE) * CAST(s1_cpre AS DOUBLE) / n_cpre) / 10000.0
                     + (CAST(s2_cpost AS DOUBLE) - CAST(s1_cpost AS DOUBLE) * CAST(s1_cpost AS DOUBLE) / n_cpost) / 10000.0)
                    / (CAST(n_tpre + n_tpost + n_cpre + n_cpost AS DOUBLE) - 4.0)
                    * (1.0 / n_tpre + 1.0 / n_tpost + 1.0 / n_cpre + 1.0 / n_cpost)), 4)
           AS t_stat
FROM sums
"""


# ---------------------------------------------------------------------------
# Retrieval evaluation: nDCG@10 + MRR
# ---------------------------------------------------------------------------

_EVAL_K = 10
_EVAL_TERMS = ("spark", "merge", "window")
# 1/log2(r+1) for ranks 1..10 — shared double literals, so the DCG fold
# needs no cross-engine log2
_DISCOUNTS = tuple(1.0 / __import__("math").log2(r + 1) for r in range(1, _EVAL_K + 1))


def _eval_scores(toks):
    """(total query-term frequency, distinct-term coverage) over a token
    array — the one scorer shared by [[retrieval_eval_ndcg]] and
    [[rrf_fusion]], so a term or tokenizer change can't silently diverge
    between the eval and the fusion queries."""

    def count_term(term: str):
        # NB: a 2-arg lambda (e.g. via a default arg) would make F.filter
        # pass (element, index) — capture the term in a closure instead
        return F.size(F.filter(toks, lambda t: t == F.lit(term)))

    score = sum(count_term(term) for term in _EVAL_TERMS)
    cover = sum(F.array_contains(toks, term).cast("int") for term in _EVAL_TERMS)
    return score, cover


def _eval_scores_sql() -> tuple[str, str]:
    """DuckDB twin of :func:`_eval_scores` over a ``toks`` column."""
    score = " + ".join(
        f"len(list_filter(toks, t -> t = '{term}'))" for term in _EVAL_TERMS
    )
    cover = " + ".join(
        f"CAST(list_contains(toks, '{term}') AS INT)" for term in _EVAL_TERMS
    )
    return score, cover


def retrieval_eval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@{k} and MRR of a term-frequency ranker against graded
    term-coverage relevance: score(doc) = total occurrences of the
    query terms, rel(doc) = number of DISTINCT query terms present
    (0..{t}). The ideal ranking (IDCG) uses the corpus-wide top-{k}
    relevance grades, so nDCG < 1 exactly when frequency and coverage
    disagree — the eval harness a [[bm25_search]] replacement plugs
    into. Gains 2^rel - 1; rank discounts are shared double literals.

    Scale: one corpus pass computes (score, rel) per doc row-locally;
    both top-{k} selections are TakeOrdered; the DCG folds run over
    {k}-row relations. MRR is the first rank with rel > 0.
    """
    from waterbear_spark.queries.llm import _tokens

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    score, rel = _eval_scores(_tokens(F.col("text")))
    scored = scope.persist(docs.select(
        "doc_id", score.alias("score"), rel.alias("rel")
    ))
    ranked = (
        scored.orderBy(F.col("score").desc(), "doc_id")
        .limit(_EVAL_K)
        .select(
            "doc_id",
            "score",
            "rel",
            F.row_number()
            .over(Window.orderBy(F.col("score").desc(), "doc_id"))
            .alias("rank"),
        )
    )
    disc = F.array(*[F.lit(d) for d in _DISCOUNTS])
    dcg = ranked.agg(
        F.round(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("rank", "rel"))),
                F.lit(0.0),
                lambda acc, x: acc
                + (F.pow(F.lit(2.0), x["rel"]) - 1.0)
                * F.element_at(disc, x["rank"]),
            ),
            6,
        ).alias("dcg"),
        F.round(
            F.max(
                F.when(F.col("rel") > 0, 1.0 / F.col("rank"))
            ),
            6,
        ).alias("mrr"),
        F.sum((F.col("rel") > 0).cast("int")).alias("retrieved_relevant"),
    )
    ideal = (
        scored.orderBy(F.col("rel").desc(), "doc_id")
        .limit(_EVAL_K)
        .select(
            "rel",
            F.row_number()
            .over(Window.orderBy(F.col("rel").desc(), "doc_id"))
            .alias("rank"),
        )
        .agg(
            F.round(
                F.aggregate(
                    F.array_sort(F.collect_list(F.struct("rank", "rel"))),
                    F.lit(0.0),
                    lambda acc, x: acc
                    + (F.pow(F.lit(2.0), x["rel"]) - 1.0)
                    * F.element_at(disc, x["rank"]),
                ),
                6,
            ).alias("idcg")
        )
    )
    return dcg.crossJoin(F.broadcast(ideal)).select(
        F.lit(_EVAL_K).alias("k"),
        "dcg",
        "idcg",
        # try_divide: an empty corpus yields idcg = 0 and must report
        # NULL, not raise under ANSI
        F.round(F.try_divide(F.col("dcg"), F.col("idcg")), 6).alias("ndcg"),
        "mrr",
        "retrieved_relevant",
    )

retrieval_eval_ndcg.__doc__ = retrieval_eval_ndcg.__doc__.format(k=_EVAL_K, t=len(_EVAL_TERMS))


def _eval_sql() -> str:
    from waterbear_spark.queries.llm import TOKENS_SQL

    disc_list = ", ".join(repr(d) for d in _DISCOUNTS)
    score, rel = _eval_scores_sql()
    return f"""
WITH toked AS (
    SELECT doc_id, {TOKENS_SQL} AS toks
    FROM documents
),
scored AS (
    SELECT doc_id, {score} AS score, {rel} AS rel FROM toked
),
ranked AS (
    SELECT doc_id, score, rel,
           ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rank
    FROM scored ORDER BY score DESC, doc_id LIMIT {_EVAL_K}
),
disc(d) AS (SELECT [{disc_list}]),
dcg AS (
    SELECT ROUND(list_aggregate(
               list((POW(2.0, rel) - 1.0) * (SELECT d FROM disc)[rank]
                    ORDER BY rank), 'sum'), 6) AS dcg,
           ROUND(MAX(CASE WHEN rel > 0 THEN 1.0 / rank END), 6) AS mrr,
           CAST(SUM(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS retrieved_relevant
    FROM ranked
),
ideal AS (
    SELECT ROUND(list_aggregate(
               list((POW(2.0, rel) - 1.0) * (SELECT d FROM disc)[rank]
                    ORDER BY rank), 'sum'), 6) AS idcg
    FROM (
        SELECT rel, ROW_NUMBER() OVER (ORDER BY rel DESC, doc_id) AS rank
        FROM scored ORDER BY rel DESC, doc_id LIMIT {_EVAL_K}
    )
)
SELECT {_EVAL_K} AS k, dcg, idcg,
       ROUND(dcg / idcg, 6) AS ndcg, mrr, retrieved_relevant
FROM dcg CROSS JOIN ideal
"""


# ---------------------------------------------------------------------------
# Fellegi-Sunter match weights
# ---------------------------------------------------------------------------

_FS_MATCH_DIST = 1   # label: match if name edit distance <= this
_FS_NONMATCH_DIST = 4  # label: non-match if >= this (2..3 ambiguous, dropped)
_LN2 = 0.6931471805599453


def fellegi_sunter_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter record-linkage calibration over the
    sorted-neighborhood candidate pairs ([[sorted_neighborhood_pairs]]'s
    generator, unfiltered): label pairs by name edit distance
    (<= {m} match, >= {u} non-match, between dropped), then per
    comparison field (brand, type, size, price band) estimate m =
    P(agree | match), u = P(agree | non-match) with Laplace smoothing
    and emit the log2 agreement weight — the additive score a linkage
    engine thresholds on.

    Scale: candidates are the 2w-bounded block join (never a pair
    space); attributes arrive by two broadcast joins of the part dim;
    each field is one conditional aggregate, unpivoted in-row — one
    pass over the pair relation for all fields.
    """
    from waterbear_spark.queries.mining import _neighborhood_pairs

    attrs = table(spark, sf_dir, "part").select(
        "p_partkey",
        "p_brand",
        "p_type",
        "p_size",
        F.floor(F.col("p_retailprice") / 100.0).alias("p_band"),
    )
    pairs = (
        _neighborhood_pairs(spark, sf_dir, 10_000)
        .filter(
            (F.col("dist") <= _FS_MATCH_DIST)
            | (F.col("dist") >= _FS_NONMATCH_DIST)
        )
        .select(
            "key_a", "key_b", (F.col("dist") <= _FS_MATCH_DIST).alias("is_match")
        )
    )
    joined = (
        pairs.join(
            F.broadcast(
                attrs.select(
                    F.col("p_partkey").alias("key_a"),
                    F.col("p_brand").alias("brand_a"),
                    F.col("p_type").alias("type_a"),
                    F.col("p_size").alias("size_a"),
                    F.col("p_band").alias("band_a"),
                )
            ),
            "key_a",
        )
        .join(
            F.broadcast(
                attrs.select(
                    F.col("p_partkey").alias("key_b"),
                    F.col("p_brand").alias("brand_b"),
                    F.col("p_type").alias("type_b"),
                    F.col("p_size").alias("size_b"),
                    F.col("p_band").alias("band_b"),
                )
            ),
            "key_b",
        )
        .select(
            "is_match",
            F.explode(
                F.array(
                    F.struct(
                        F.lit("brand").alias("field"),
                        (F.col("brand_a") == F.col("brand_b")).alias("agree"),
                    ),
                    F.struct(
                        F.lit("type").alias("field"),
                        (F.col("type_a") == F.col("type_b")).alias("agree"),
                    ),
                    F.struct(
                        F.lit("size").alias("field"),
                        (F.col("size_a") == F.col("size_b")).alias("agree"),
                    ),
                    F.struct(
                        F.lit("price_band").alias("field"),
                        (F.col("band_a") == F.col("band_b")).alias("agree"),
                    ),
                )
            ).alias("fa"),
        )
        .select("is_match", F.col("fa.field").alias("field"), F.col("fa.agree").alias("agree"))
    )
    counts = joined.groupBy("field").agg(
        F.sum(F.when(F.col("is_match"), 1).otherwise(0)).alias("n_m"),
        F.sum(F.when(F.col("is_match") & F.col("agree"), 1).otherwise(0)).alias(
            "a_m"
        ),
        F.sum(F.when(~F.col("is_match"), 1).otherwise(0)).alias("n_u"),
        F.sum(F.when(~F.col("is_match") & F.col("agree"), 1).otherwise(0)).alias(
            "a_u"
        ),
    )
    m = (F.col("a_m") + 1.0) / (F.col("n_m") + 2.0)
    u = (F.col("a_u") + 1.0) / (F.col("n_u") + 2.0)
    return counts.select(
        "field",
        "n_m",
        "a_m",
        "n_u",
        "a_u",
        F.round(m, 6).alias("m_prob"),
        F.round(u, 6).alias("u_prob"),
        F.round(F.log(m / u) / _LN2, 4).alias("agree_weight"),
        F.round(F.log((1.0 - m) / (1.0 - u)) / _LN2, 4).alias("disagree_weight"),
    ).orderBy("field")

fellegi_sunter_weights.__doc__ = fellegi_sunter_weights.__doc__.format(m=_FS_MATCH_DIST, u=_FS_NONMATCH_DIST)


def _fs_sql() -> str:
    from waterbear_spark.queries.mining import _SN_WINDOW

    fields = [
        ("brand", "p_brand"),
        ("price_band", "FLOOR(p_retailprice / 100.0)"),
        ("size", "p_size"),
        ("type", "p_type"),
    ]
    # per-field agreement columns on the labeled pairs, then unpivoted
    agree_cols = ", ".join(
        f"(pa.{ex} = pb.{ex}) AS ag_{nm}" if "(" not in ex else
        f"(FLOOR(pa.p_retailprice / 100.0) = FLOOR(pb.p_retailprice / 100.0)) AS ag_{nm}"
        for nm, ex in fields
    )
    per_field = " UNION ALL ".join(
        f"SELECT is_match, '{nm}' AS field, ag_{nm} AS agree FROM labeled"
        for nm, _ in fields
    )
    return f"""
WITH ranked AS (
    SELECT p_partkey, p_name,
           ROW_NUMBER() OVER (ORDER BY p_name, p_partkey) AS rn
    FROM part
),
cand AS (
    SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
           levenshtein(a.p_name, b.p_name) AS dist
    FROM ranked a JOIN ranked b
      ON b.rn > a.rn AND b.rn <= a.rn + {_SN_WINDOW}
),
labeled AS (
    SELECT c.key_a, c.key_b, (c.dist <= {_FS_MATCH_DIST}) AS is_match,
           {agree_cols}
    FROM cand c
    JOIN part pa ON pa.p_partkey = c.key_a
    JOIN part pb ON pb.p_partkey = c.key_b
    WHERE c.dist <= {_FS_MATCH_DIST} OR c.dist >= {_FS_NONMATCH_DIST}
),
long AS ({per_field}),
counts AS (
    SELECT field,
           CAST(SUM(CASE WHEN is_match THEN 1 ELSE 0 END) AS BIGINT) AS n_m,
           CAST(SUM(CASE WHEN is_match AND agree THEN 1 ELSE 0 END) AS BIGINT) AS a_m,
           CAST(SUM(CASE WHEN NOT is_match THEN 1 ELSE 0 END) AS BIGINT) AS n_u,
           CAST(SUM(CASE WHEN NOT is_match AND agree THEN 1 ELSE 0 END) AS BIGINT) AS a_u
    FROM long GROUP BY field
)
SELECT field, n_m, a_m, n_u, a_u,
       ROUND((a_m + 1.0) / (n_m + 2.0), 6) AS m_prob,
       ROUND((a_u + 1.0) / (n_u + 2.0), 6) AS u_prob,
       ROUND(LN(((a_m + 1.0) / (n_m + 2.0)) / ((a_u + 1.0) / (n_u + 2.0)))
             / {_LN2}, 4) AS agree_weight,
       ROUND(LN((1.0 - (a_m + 1.0) / (n_m + 2.0))
                / (1.0 - (a_u + 1.0) / (n_u + 2.0))) / {_LN2}, 4)
           AS disagree_weight
FROM counts
ORDER BY field
"""


QUERIES = {
    "roc_auc_exact": roc_auc_exact,
    "psi_stability": psi_stability,
    "diff_in_diff": diff_in_diff,
    "retrieval_eval_ndcg": retrieval_eval_ndcg,
    "fellegi_sunter_weights": fellegi_sunter_weights,
}

ORACLES = {
    "roc_auc_exact": ROC_AUC_SQL,
    "psi_stability": PSI_SQL,
    "diff_in_diff": DID_SQL,
    "retrieval_eval_ndcg": _eval_sql(),
    "fellegi_sunter_weights": _fs_sql(),
}
