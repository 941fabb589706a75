"""End-to-end training-corpus pipeline: the LLM-data operators composed
the way a real pretraining-data job runs them.

    raw documents
      -> quality gate       (token stats, stopword ratio)
      -> exact dedup        (md5 canonical pick)
      -> near-dup clusters  (MinHash LSH -> connected components -> keep
                             cluster canonicals only)
      -> decontamination    (drop docs overlapping the benchmark set)
      -> LM-score floor     (unigram-LM mean log-prob gate at
                             mean - 3*sigma, the perplexity-proxy
                             quality filter)
      -> deterministic split (train/validation/test by key hash)
      -> sequence packing    (concat-and-chunk manifest for the train
                              split: how many context windows the corpus
                              actually fills)
      -> partitioned corpus write (split=... directory layout)

Every stage is the already-oracle-checked operator from
``waterbear_spark.queries``; this module only supplies the composition +
the write. Scale posture: each stage is a row-local gate or a blocked
join (see SCALE.md) — the whole pipeline is a handful of shuffles, and
the final write partition-prunes downstream split reads.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from waterbear_spark.queries.llm import (
    _STOPWORDS,
    _tokens,
    decontaminate_overlap,
    dedup_clusters,
)
from waterbear_spark.queries.tables import table

_MIN_TOKENS = 10  # quality gate: shortest document kept
_MAX_STOP_RATIO = 0.9  # quality gate: highest stopword share kept
_CONTAMINATION_TAU = 0.5  # benchmark-overlap share that drops a doc
_LM_SIGMA = 3.0  # LM floor = mean - _LM_SIGMA * stddev of doc scores
_PACK_BUDGET = 512  # tokens per packed training sequence


@dataclass
class CorpusStats:
    n_raw: int
    n_quality: int
    n_exact_kept: int
    n_near_kept: int
    n_clean: int
    n_lm_kept: int
    splits: dict[str, int]
    n_train_sequences: int


def training_corpus(
    spark: SparkSession,
    sf_dir: str,
    out_path: str | None = None,
) -> tuple[DataFrame, CorpusStats]:
    """Run the pipeline; return the final corpus frame (doc_id, text,
    lang, split) and per-stage survivor counts. Writes ``split=``
    partitioned parquet when ``out_path`` is given."""
    raw = table(spark, sf_dir, "documents")
    n_raw = raw.count()

    # 1. quality gate — row-local token stats, no shuffle
    toks = _tokens(F.col("text"))
    stop_ratio = F.size(
        F.filter(toks, lambda t: t.isin(*_STOPWORDS))
    ) / F.size(toks)
    quality = raw.filter(
        (F.size(toks) >= _MIN_TOKENS) & (stop_ratio <= _MAX_STOP_RATIO)
    )
    n_quality = quality.count()

    # 2. exact dedup — one shuffle on the md5 digest
    w_exact = F.row_number().over(
        Window.partitionBy(F.md5("text")).orderBy("doc_id")
    )
    exact = quality.withColumn("_rn", w_exact).filter(F.col("_rn") == 1).drop("_rn")
    n_exact = exact.count()

    # 3. near-dup clusters: keep only cluster canonicals (non-clustered
    #    docs pass through untouched — left anti on the drop list)
    clusters = dedup_clusters(spark, sf_dir)
    drop_list = clusters.filter(~F.col("is_canonical")).select("doc_id")
    near = exact.join(drop_list, "doc_id", "left_anti")
    n_near = near.count()

    # 4. decontamination — drop docs with benchmark n-gram overlap
    contaminated = (
        decontaminate_overlap(spark, sf_dir)
        .filter(F.col("contamination") >= _CONTAMINATION_TAU)
        .select("doc_id")
    )
    clean = near.join(contaminated, "doc_id", "left_anti")
    n_clean = clean.count()

    # 5. LM-score floor — unigram model fit on the surviving corpus
    #    itself (vocabulary aggregate + logprob join, integer micro-nat
    #    sums as in queries/corpusprep.py lm_quality_score); the floor is
    #    relative (mean - _LM_SIGMA * stddev of the per-doc score), so the
    #    gate adapts to any corpus instead of hardcoding a perplexity
    tok = clean.select("doc_id", F.explode(toks).alias("t"))
    vocab = tok.groupBy("t").agg(F.count(F.lit(1)).alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("total"))
    logp = vocab.crossJoin(F.broadcast(total)).select(
        "t",
        F.floor(
            F.log(F.col("cnt").cast("double") / F.col("total").cast("double"))
            * F.lit(1e6)
        ).cast("bigint").alias("lp_micro"),
    )
    doc_scores = (
        tok.join(logp, "t")
        .groupBy("doc_id")
        .agg(
            (
                F.sum("lp_micro").cast("double")
                / (F.count(F.lit(1)).cast("double") * F.lit(1e6))
            ).alias("avg_logp")
        )
    )
    floor_row = doc_scores.agg(
        (F.avg("avg_logp") - F.lit(_LM_SIGMA) * F.stddev_pop("avg_logp")).alias(
            "floor"
        )
    )
    low_docs = (
        doc_scores.crossJoin(F.broadcast(floor_row))
        .filter(F.col("avg_logp") < F.col("floor"))
        .select("doc_id")
    )
    lm_kept = clean.join(low_docs, "doc_id", "left_anti")
    n_lm = lm_kept.count()

    # 6. deterministic split — row-local hash gate. Keying on doc_id is
    #    leakage-free HERE because stage 3 kept only cluster canonicals;
    #    a pipeline that retains near-dups must key the lottery on the
    #    cluster id instead (queries/llm.py leakage_free_split)
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("split|"), F.col("doc_id").cast("string"))), 1, 15
            ),
            16,
            10,
        ).cast("bigint")
        % 100
    )
    final = lm_kept.withColumn(
        "split",
        F.when(bucket < 80, "train")
        .when(bucket < 90, "validation")
        .otherwise("test"),
    ).select("doc_id", "text", "lang", "split")

    splits = {
        r["split"]: r["n"]
        for r in final.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()
    }

    # 7. packing manifest for the train split: how many _PACK_BUDGET-token
    #    context windows the corpus fills (concat-and-chunk layout, as in
    #    queries/corpusprep.py sequence_packing)
    train_tok = final.filter(F.col("split") == "train").select(
        F.size(toks).alias("tok_n")
    )
    n_train_sequences = int(
        train_tok.agg(
            F.ceil(F.sum("tok_n") / F.lit(float(_PACK_BUDGET))).alias("n")
        ).collect()[0]["n"]
        or 0
    )

    if out_path is not None:
        final.write.mode("overwrite").partitionBy("split").parquet(out_path)

    return final, CorpusStats(
        n_raw, n_quality, n_exact, n_near, n_clean, n_lm, splits, n_train_sequences
    )
