"""End-to-end model-evaluation pipeline: the statistics operators
composed the way a real offline-eval job runs them.

    orders facts (+ customer dim)
      -> deterministic 80/20 train/test split  (md5 key hash — the
         [[deterministic_split]] discipline, no RNG)
      -> FIT on train only: m-estimate target encodings of order
         priority and customer segment against "order finished"
         (leakage-safe: the encoder never sees a test label)
      -> SCORE test rows: mean of the two encodings
      -> EVALUATE on test: exact tie-corrected ROC AUC (Mann-Whitney
         identity over the score-value relation), Brier score, and the
         top-quintile lift (threshold from the score-value cumulative,
         never a global row sort)

Every technique is the already-oracle-checked operator family from
``waterbear_spark.queries`` (target_encoding, roc_auc_exact,
calibration_brier, decile_lift_table); this module supplies the
leakage-safe composition. Scale posture: the encoders are category-
sized broadcast tables; scoring is two broadcast joins; the evaluation
aggregates run on the |distinct scores| micro-relation.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from waterbear_spark import scope
from waterbear_spark.queries.tables import table

_TE_M = 20.0
_TRAIN_PCT = 80


@dataclass
class EvalReport:
    n_train: int
    n_test: int
    base_rate: float
    auc: float
    brier: float
    lift_top: float
    threshold: float


def _fit_encoder(train: DataFrame, cat_col: str) -> DataFrame:
    """m-estimate encoder table for one categorical column, fit on the
    train split only."""
    per = train.groupBy(cat_col).agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("pos")
    )
    prior = train.agg(
        (F.sum("y").cast("double") / F.count(F.lit(1))).alias("prior")
    )
    return per.crossJoin(F.broadcast(prior)).select(
        cat_col,
        (
            (F.col("pos") + _TE_M * F.col("prior"))
            / (F.col("n") + F.lit(_TE_M))
        ).alias(f"enc_{cat_col}"),
    )


def model_eval(spark: SparkSession, sf_dir: str) -> tuple[EvalReport, DataFrame]:
    """Run the pipeline; returns the report plus the scored test frame."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    rows = o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"]).select(
        "o_orderkey",
        "o_orderpriority",
        "c_mktsegment",
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 12), 16, 10)
        .cast("bigint")
        % 100
    )
    rows = scope.persist(rows.withColumn("is_train", bucket < _TRAIN_PCT))
    train = rows.filter("is_train")
    test = rows.filter(~F.col("is_train"))

    enc_p = _fit_encoder(train, "o_orderpriority")
    enc_s = _fit_encoder(train, "c_mktsegment")
    # the train prior is the m-estimate's zero-evidence limit, so it is
    # the score for a test category the train split never saw; LEFT
    # joins + coalesce keep such rows in n_test/AUC/Brier instead of
    # silently dropping them (inner joins would)
    prior = train.agg(
        (F.sum("y").cast("double") / F.count(F.lit(1))).alias("p")
    ).collect()[0]["p"]
    scored = scope.persist(
        test.join(F.broadcast(enc_p), "o_orderpriority", "left")
        .join(F.broadcast(enc_s), "c_mktsegment", "left")
        .select(
            "o_orderkey",
            "y",
            (
                (
                    F.coalesce("enc_o_orderpriority", F.lit(prior))
                    + F.coalesce("enc_c_mktsegment", F.lit(prior))
                )
                / 2.0
            ).alias("score"),
        )
    )

    # score-value relation: |distinct scores| rows (25 here) — every
    # evaluation statistic reads THIS, never a row-level sort
    vals = scored.groupBy("score").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("y").alias("pos")
    )
    w = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, -1)
    cum = vals.select(
        "score",
        "cnt",
        "pos",
        F.coalesce(F.sum("cnt").over(w), F.lit(0)).alias("cum_before"),
    )
    # Mann-Whitney AUC with average-rank tie handling (doubled ranks)
    terms = cum.select(
        "cnt",
        "pos",
        "score",
        "cum_before",
        (
            F.col("pos").cast("decimal(19,0)")
            * (2 * F.col("cum_before") + F.col("cnt") + 1).cast("decimal(19,0)")
        ).alias("two_r1_term"),
    )
    agg = terms.agg(
        F.sum("pos").alias("n_pos"),
        F.sum(F.col("cnt") - F.col("pos")).alias("n_neg"),
        F.sum("two_r1_term").cast("decimal(38,0)").alias("two_r1"),
        F.sum("cnt").alias("n_test"),
    ).collect()[0]
    n_pos, n_neg, n_test = agg["n_pos"], agg["n_neg"], agg["n_test"]
    if n_pos and n_neg:
        auc = (float(agg["two_r1"]) - n_pos * (n_pos + 1)) / (2.0 * n_pos * n_neg)
    else:
        # single-class test split: AUC is undefined; 0.5 (the no-skill
        # value) keeps the report finite instead of dividing by zero
        auc = 0.5

    base_rate = n_pos / n_test
    brier = scored.agg(
        F.avg((F.col("score") - F.col("y")) * (F.col("score") - F.col("y")))
    ).collect()[0][0]

    # top-quintile threshold from the value-level cumulative (the
    # smallest score whose tail holds <= 20% of rows)
    tail = Window.orderBy(F.col("score").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    thresh_row = (
        vals.select("score", "cnt", F.sum("cnt").over(tail).alias("tail_n"))
        .filter(F.col("tail_n") <= n_test / 5)
        .agg(F.min("score").alias("t"))
        .collect()[0]
    )
    threshold = thresh_row["t"]
    if threshold is None:  # fewer than 5 distinct tail values
        threshold = float("inf")
        lift_top = 0.0
    else:
        top = scored.filter(F.col("score") >= threshold).agg(
            F.count(F.lit(1)).alias("n"), F.sum("y").alias("pos")
        ).collect()[0]
        lift_top = (top["pos"] / top["n"]) / base_rate if top["n"] else 0.0

    n_train = train.count()
    report = EvalReport(
        n_train=n_train,
        n_test=n_test,
        base_rate=round(base_rate, 6),
        auc=round(auc, 6),
        brier=round(float(brier), 6),
        lift_top=round(lift_top, 6),
        threshold=round(threshold, 6) if threshold != float("inf") else -1.0,
    )
    return report, scored
