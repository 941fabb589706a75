"""Round-7 wave-24 operators: contamination dial + DoReMi-style mixing.

* ``contamination_ngram_sweep`` — the n-gram-size dial on benchmark
  decontamination: [[decontaminate_overlap]] screens training docs
  against the held-out set (docs 0..9) at one shingle width; this
  sweeps n in {3, 5, 8} and reports, per width, the benchmark's
  distinct n-gram count, the eligible training docs, and how many are
  contaminated (>= 1 shared n-gram, exact basis points). Short widths
  over-flag common phrases, long widths miss paraphrases — this is the
  table that justifies the production width (GPT-3 used 13-grams, C4
  analyses 5-8). Per width: row-local distinct shingles, the tiny
  benchmark side broadcast, one left-join census — never a pair space.
* ``doremi_mix_weights`` — DoReMi-style domain reweighting (Xie et al.
  2023, arXiv:2305.10429) in its closed-form unigram proxy: per source,
  the mean unigram NLL under the corpus LM (micro-nat integer sums, the
  [[perplexity_buckets]] idiom, summed as DECIMAL(38,0)); the excess
  over the easiest source feeds an exponential upweight
  w_s ∝ exp(excess_s), quantized to fixed point BEFORE normalization so
  the final weights are exact integer basis points (no float total).
  The real DoReMi trains a proxy model; the unigram proxy keeps the
  operator shape (per-domain loss -> excess -> exponential reweight ->
  normalized mixture) with an exactly oracle-checkable loss.

Scale: the sweep scans the train-side shingle relation once per width
(a left join against the broadcast 10-doc benchmark side yields the doc
census and the contamination count in the same pass; the shingle-SET
frame is persisted per width as the Generate materialization barrier —
see the in-function note);
the mix weights pre-aggregate to a vocabulary-sized (source, token)
relation and equi-join it UNHINTED against the NLL table (Heaps'-law
unbounded, so never force-broadcast) + a |sources|-row closed form.
Nothing pairs, nothing iterates, nothing collects.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from waterbear_spark import scope
from waterbear_spark.queries.llm import SHINGLES_SQL, TOKENS_SQL, _shingles, _tokens
from waterbear_spark.queries.tables import table

_SWEEP_NS = (3, 5, 8)
_BENCH_DOCS = 10  # doc_id < 10 is the held-out set (as decontaminate_overlap)
_MIX_FP = 1_000_000  # micro-nats / exp fixed point


def contamination_ngram_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contaminated-doc counts at n-gram widths {3, 5, 8} — see module
    docstring. Output: (ngram_n, bench_ngrams, train_docs,
    contaminated_docs, contaminated_bp)."""
    # r12: persist the tokenized frame ONCE — the three width passes each
    # materialize their shingle-set persist from these cached tokens
    # instead of re-scanning + re-tokenizing the corpus per width
    # (scans 3 -> 1; guide §2.4)
    docs = scope.persist(table(spark, sf_dir, "documents").select(
        "doc_id", _tokens(F.col("text")).alias("toks")
    ))
    parts = []
    for n in _SWEEP_NS:
        # persist: the materialization barrier the shingle explode needs —
        # without it the array_distinct(shingles) expression re-evaluates
        # under Generate (decontaminate_overlap's measured finding; this
        # sweep benched 50 s -> ~3 s at sf0.1 once re-persisted). What is
        # cached is the (doc_id, arr) SHINGLE-SET frame, not the explosion;
        # at 100 TB it spills to disk-backed storage like any hot relation.
        shingled = scope.persist(docs.filter(F.size("toks") >= n).select(
            "doc_id", F.array_distinct(_shingles(F.col("toks"), n)).alias("arr")
        ))
        bench = (
            shingled.filter(F.col("doc_id") < _BENCH_DOCS)
            .select(F.explode("arr").alias("s"))
            .distinct()
        )
        flags = (
            shingled.filter(F.col("doc_id") >= _BENCH_DOCS)
            .select("doc_id", F.explode("arr").alias("s"))
            .join(F.broadcast(bench.withColumn("hit", F.lit(1))), "s", "left")
            .groupBy("doc_id")
            .agg(F.max("hit").alias("hit"))
        )
        parts.append(
            flags.agg(
                F.count(F.lit(1)).alias("train_docs"),
                # COALESCE: SUM over an empty corpus is NULL, the original
                # COUNT-based census reported 0
                F.coalesce(
                    F.sum(F.when(F.col("hit") == 1, 1).otherwise(0)), F.lit(0)
                ).alias("contaminated_docs"),
            )
            .crossJoin(F.broadcast(bench.agg(F.count(F.lit(1)).alias("bench_ngrams"))))
            .select(
                F.lit(n).alias("ngram_n"),
                "bench_ngrams",
                "train_docs",
                "contaminated_docs",
                # guarded: ANSI integer div by zero raises
                F.when(
                    F.col("train_docs") > 0,
                    F.expr("(contaminated_docs * 10000) div train_docs"),
                ).alias("contaminated_bp"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("ngram_n")


def _contamination_sql() -> str:
    def block(n: int) -> str:
        if n == 3:
            grams = SHINGLES_SQL  # the shared 3-gram builder
        else:
            joined = " || ' ' || ".join(f"toks[i+{off}]" for off in range(n))
            grams = (
                f"list_transform(generate_series(1, len(toks) - {n - 1}),"
                f" i -> {joined})"
            )
        return f"""
SELECT {n} AS ngram_n,
       (SELECT CAST(COUNT(DISTINCT s) AS BIGINT) FROM sh{n}, UNNEST(arr) AS u(s)
        WHERE doc_id < {_BENCH_DOCS}) AS bench_ngrams,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM sh{n}
        WHERE doc_id >= {_BENCH_DOCS}) AS train_docs,
       (SELECT CAST(COUNT(DISTINCT t.doc_id) AS BIGINT)
        FROM (SELECT doc_id, UNNEST(arr) AS s FROM sh{n}
              WHERE doc_id >= {_BENCH_DOCS}) t
        WHERE t.s IN (SELECT DISTINCT s FROM sh{n}, UNNEST(arr) AS u(s)
                      WHERE doc_id < {_BENCH_DOCS})) AS contaminated_docs,
       CASE WHEN (SELECT COUNT(*) FROM sh{n}
                  WHERE doc_id >= {_BENCH_DOCS}) > 0 THEN
       ((SELECT COUNT(DISTINCT t.doc_id)
         FROM (SELECT doc_id, UNNEST(arr) AS s FROM sh{n}
               WHERE doc_id >= {_BENCH_DOCS}) t
         WHERE t.s IN (SELECT DISTINCT s FROM sh{n}, UNNEST(arr) AS u(s)
                       WHERE doc_id < {_BENCH_DOCS})) * 10000)
       // (SELECT COUNT(*) FROM sh{n} WHERE doc_id >= {_BENCH_DOCS})
       END AS contaminated_bp"""

    ctes = ",\n".join(
        f"""sh{n} AS (
    SELECT doc_id, list_distinct({{grams}}) AS arr FROM d WHERE len(toks) >= {n}
)""".format(
            grams=(
                SHINGLES_SQL
                if n == 3
                else "list_transform(generate_series(1, len(toks) - "
                + str(n - 1)
                + "), i -> "
                + " || ' ' || ".join(f"toks[i+{off}]" for off in range(n))
                + ")"
            )
        )
        for n in _SWEEP_NS
    )
    blocks = "\nUNION ALL\n".join(block(n) for n in _SWEEP_NS)
    return f"""
WITH d AS (
    SELECT doc_id, {TOKENS_SQL} AS toks FROM documents
),
{ctes}
{blocks}
ORDER BY ngram_n
"""


def doremi_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form DoReMi-style source mixture — see module docstring.
    Output: (source, n_tokens, mean_nll, excess_nll, weight_bp)."""
    toks = table(spark, sf_dir, "documents").select(
        "source", F.explode(_tokens(F.col("text"))).alias("tok")
    )
    # pre-aggregate to (source, tok) term frequencies so the NLL lookup
    # joins two vocabulary-sized relations.  UNHINTED join: the vocabulary
    # is unbounded under Heaps' law, so a forced broadcast would OOM at
    # corpus scale — AQE demotes to broadcast when actually small.
    st = toks.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("c"))
    vocab = st.groupBy("tok").agg(F.sum("c").alias("cnt"))
    tot = vocab.agg(F.sum("cnt").alias("t"))
    nll = vocab.crossJoin(F.broadcast(tot)).select(
        "tok",
        F.floor(-F.log(F.col("cnt") / F.col("t")) * _MIX_FP + F.lit(0.5))
        .cast("long")
        .alias("nll_fp"),
    )
    per_src = (
        st.join(nll, "tok")
        .groupBy("source")
        .agg(
            F.sum("c").alias("sn"),
            # DECIMAL(38,0): per-source micro-nat totals pass 2^63 at
            # 100 TB scale (same overflow note as unigram entropy)
            F.sum(F.col("c").cast("decimal(38,0)") * F.col("nll_fp")).alias("ss"),
        )
        .withColumn("mean_nll_fp", F.col("ss").cast("double") / F.col("sn"))
    )
    w_all = Window.partitionBy()
    scored = per_src.withColumn(
        "excess_fp", F.col("mean_nll_fp") - F.min("mean_nll_fp").over(w_all)
    ).withColumn(
        # exp of the excess in NATS, quantized BEFORE normalization so
        # the mixture is an exact integer ratio (no float total)
        "e_fp",
        F.floor(F.exp(F.col("excess_fp") / _MIX_FP) * _MIX_FP + F.lit(0.5)).cast(
            "long"
        ),
    )
    return scored.withColumn("te", F.sum("e_fp").over(w_all)).select(
        "source",
        F.col("sn").cast("long").alias("n_tokens"),
        F.round(F.col("mean_nll_fp") / _MIX_FP, 4).alias("mean_nll"),
        F.round(F.col("excess_fp") / _MIX_FP, 4).alias("excess_nll"),
        F.expr("(e_fp * 10000) div te").cast("long").alias("weight_bp"),
    ).orderBy("source")


DOREMI_SQL = f"""
WITH toks AS (
    SELECT source, unnest({TOKENS_SQL}) AS tok FROM documents
),
vocab AS (
    SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok
),
tot AS (SELECT SUM(cnt) AS t FROM vocab),
nll AS (
    SELECT tok,
           CAST(FLOOR(-ln(cnt / t) * {_MIX_FP} + 0.5) AS BIGINT) AS nll_fp
    FROM vocab CROSS JOIN tot
),
per_src AS (
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS sn,
           SUM(CAST(nll_fp AS DECIMAL(38,0))) AS ss
    FROM toks JOIN nll USING (tok)
    GROUP BY source
),
scored AS (
    SELECT source, sn,
           CAST(ss AS DOUBLE) / sn AS mean_nll_fp,
           CAST(ss AS DOUBLE) / sn - MIN(CAST(ss AS DOUBLE) / sn) OVER ()
               AS excess_fp
    FROM per_src
),
efp AS (
    SELECT source, sn, mean_nll_fp, excess_fp,
           CAST(FLOOR(exp(excess_fp / {_MIX_FP}) * {_MIX_FP} + 0.5) AS BIGINT)
               AS e_fp
    FROM scored
)
SELECT source, sn AS n_tokens,
       ROUND(mean_nll_fp / {_MIX_FP}, 4) AS mean_nll,
       ROUND(excess_fp / {_MIX_FP}, 4) AS excess_nll,
       CAST((e_fp * 10000) // (SELECT SUM(e_fp) FROM efp) AS BIGINT)
           AS weight_bp
FROM efp
ORDER BY source
"""


QUERIES = {
    "contamination_ngram_sweep": contamination_ngram_sweep,
    "doremi_mix_weights": doremi_mix_weights,
}

ORACLES = {
    "contamination_ngram_sweep": _contamination_sql(),
    "doremi_mix_weights": DOREMI_SQL,
}
