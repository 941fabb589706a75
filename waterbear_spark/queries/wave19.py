"""Round-6 wave-19 operators: corpus-curation instrumentation.

* ``gopher_repetition_filters`` — a Gopher-style duplicated-n-gram
  census (in the spirit of Rae et al. 2021, arXiv:2112.11446 §A1.1,
  but not the paper's exact rules: Gopher's 0.20/0.18 thresholds apply
  to the TOP-1 2-/3-gram's character fraction, and its all-duplicates
  metric is used only at n = 5..10 without double-counting — here the
  metric is the all-duplicated-n-gram character fraction at n = 2, 3,
  counting every occurrence): per document, the fraction of characters
  inside duplicated word n-grams (n = 2, 3), aggregated per source as
  a ratio-of-integer-sums plus a flagged-document count.
  Complements [[quality_gate_funnel]] (whose repetition gate is only
  the top-1-token share) with the n-gram duplication signals real
  curation stacks gate on. All per-doc quantities are exact integers
  (character counts weighted by occurrence count); the only divisions
  are final, one per output cell, and the flag thresholds are integer
  cross-multiplications (dup2/total2 > 1/5, dup3/total3 > 9/50), so
  the funnel never compares floats.
* ``dsir_importance_weights`` — Data Selection via Importance
  Resampling (Xie et al. 2023, arXiv:2302.03169), the hashed-n-gram
  variant: unigram tokens hash into 256 buckets; the target
  distribution is estimated from the ``src0`` slice, the raw
  distribution from everything else (add-1 smoothing on both); each
  raw document scores the sum over its tokens of
  ``ln(p_target(h)/p_raw(h))``. The per-bucket log-ratio is computed
  once from identical integer counts on both engines, then quantized
  to a fixed-point BIGINT (floor(lr*1e6 + .5)) so every per-document
  sum is an exact integer sum — the order-sensitive float summation
  the house rules forbid never happens. Returns the top 20 raw docs
  by weight (the resampling head), with source and token count.
* ``lsh_band_planner`` — the S-curve planner for the MinHash banding
  family ([[dedup_near_minhash]], [[dedup_recall_report]]): for every
  (bands b, rows r) split of the N_HASHES=8 signature, the threshold
  ``(1/b)^(1/r)`` where collision probability crosses 1/2 and the full
  curve ``P(candidate | jaccard=s) = 1-(1-s^r)^b`` at s ∈ {.3,.5,.7,.9},
  plus each split's distance to the shipped tau=0.5 — the table an
  engineer reads before picking a banding, here as an oracle-checked
  relation instead of a wiki page. Constant-size (divisors of 8).
* ``tokenizer_fertility_audit`` — per (lang, source): bytes per BPE-ish
  token and subword fertility (regex tokens per whitespace word), the
  standard "how expensive is this corpus slice to tokenize" audit that
  decides per-language sampling budgets. Builds on the per-doc counts
  of [[token_counting]]; integer sums per group, one division per
  output cell.

Scale: repetition filters are one scan + one (doc_id, n, gram) count
shuffle whose width is the document's own n-gram vocabulary (never a
corpus pair space); DSIR is two scans (bucket counts are a 256-row
broadcast relation; per-doc scoring is a broadcast-joined explode) and
a top-k; the planner is O(1); the fertility audit is a single
aggregate. Nothing iterates, nothing collects beyond bounded scalars.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from waterbear_spark import scope
from waterbear_spark.queries.llm import TOKENS_SQL, _tokens
from waterbear_spark.queries.tables import table
from waterbear_spark.queries.textops import _BPE_ISH

# ---------------------------------------------------------------------------
# Gopher repetition filters
# ---------------------------------------------------------------------------

# flag thresholds as exact rationals (num, den): dup_frac > num/den
_DUP2_THRESH = (1, 5)  # > 0.20 of chars in duplicated 2-grams
_DUP3_THRESH = (9, 50)  # > 0.18 of chars in duplicated 3-grams


def gopher_repetition_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source census of Gopher-style duplicated-n-gram signals
    (not the paper's exact top-1-gram rules — see module docstring).
    ``dupN_frac`` is (chars inside n-grams occurring >= 2 times in the
    doc, counting every occurrence) / (chars inside all n-gram
    occurrences), as a ratio of per-source integer sums.

    Scale: the duplicate census is PER DOCUMENT, so it never needs the
    (doc_id, n, gram) shuffle of the count-then-pivot formulation: each
    doc sorts its own n-gram array and one fold over the sorted runs
    yields (total_chars, dup_chars) row-locally — a run of c >= 2 equal
    grams contributes c*len(gram), exactly the cnt >= 2 rule. The only
    shuffle left is the |sources|-row final aggregate. The scan widens
    to cluster width first ([[profile_table]]'s `_fan_out` pattern) so
    the per-token work is not pinned to the parquet split count.
    """
    from waterbear_spark.queries.llm import _fan_out

    docs = _fan_out(spark, table(spark, sf_dir, "documents")).select(
        "source", _tokens(F.col("text")).alias("toks")
    )

    def gram_stats(n: int) -> F.Column:
        grams = F.transform(
            F.sequence(F.lit(1), F.size("toks") - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice("toks", i, n)),
        )
        # guard: sequence(1, 0) in Spark DESCENDS to [1, 0] instead of
        # returning empty (DuckDB's generate_series IS empty there), so
        # too-short docs must short-circuit to an empty gram list
        safe = F.when(F.size("toks") >= n, grams).otherwise(
            F.array().cast("array<string>")
        )

        def _fold(acc: F.Column, g: F.Column) -> F.Column:
            rpt = g == acc["prev"]  # NULL-init prev: first element -> false
            return F.struct(
                g.alias("prev"),
                F.when(rpt, acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
                (acc["total"] + F.length(g)).alias("total"),
                (
                    acc["dup"]
                    + F.when(
                        rpt,
                        F.when(
                            acc["run"] == 1, F.lit(2) * F.length(g)
                        ).otherwise(F.length(g)),
                    ).otherwise(F.lit(0))
                ).alias("dup"),
            )

        return F.aggregate(
            F.array_sort(safe),
            F.struct(
                F.lit(None).cast("string").alias("prev"),
                F.lit(0).alias("run"),
                F.lit(0).cast("long").alias("total"),
                F.lit(0).cast("long").alias("dup"),
            ),
            _fold,
        )

    # generator barrier: each stats struct is computed ONCE per doc; the
    # field extractions below would otherwise re-run the fold per
    # reference (the interpreted-HOF trap documented in microg.py)
    wide = docs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("source").alias("source"),
                    gram_stats(2).alias("s2"),
                    gram_stats(3).alias("s3"),
                )
            )
        ).alias("g")
    ).select(
        F.col("g.source").alias("source"),
        F.col("g.s2.dup").alias("dup2"),
        F.col("g.s2.total").alias("total2"),
        F.col("g.s3.dup").alias("dup3"),
        F.col("g.s3.total").alias("total3"),
    )
    n2, d2 = _DUP2_THRESH
    n3, d3 = _DUP3_THRESH
    flagged = (F.col("dup2") * d2 > F.col("total2") * n2) | (
        F.col("dup3") * d3 > F.col("total3") * n3
    )
    return (
        wide.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_docs"),
            F.sum(flagged.cast("int")).cast("int").alias("n_flagged"),
            F.sum("dup2").alias("s_dup2"),
            F.sum("total2").alias("s_total2"),
            F.sum("dup3").alias("s_dup3"),
            F.sum("total3").alias("s_total3"),
        )
        .select(
            "source",
            "n_docs",
            "n_flagged",
            F.round(F.col("s_dup2") / F.col("s_total2"), 4).alias("dup2_frac"),
            F.round(F.col("s_dup3") / F.col("s_total3"), 4).alias("dup3_frac"),
        )
        .orderBy("source")
    )


GOPHER_REPETITION_SQL = f"""
WITH docs AS (
    SELECT doc_id, source, {TOKENS_SQL} AS toks FROM documents
),
grams AS (
    SELECT doc_id, 2 AS n,
           UNNEST(list_transform(
               generate_series(1, GREATEST(len(toks) - 1, 0)),
               i -> array_to_string(toks[i:i+1], ' '))) AS gram
    FROM docs
    UNION ALL
    SELECT doc_id, 3 AS n,
           UNNEST(list_transform(
               generate_series(1, GREATEST(len(toks) - 2, 0)),
               i -> array_to_string(toks[i:i+2], ' '))) AS gram
    FROM docs
),
counted AS (
    SELECT doc_id, n, gram, COUNT(*) AS cnt FROM grams GROUP BY ALL
),
per_doc AS (
    SELECT doc_id, n,
           SUM(cnt * LENGTH(gram)) AS total_chars,
           SUM(CASE WHEN cnt >= 2 THEN cnt * LENGTH(gram) ELSE 0 END) AS dup_chars
    FROM counted GROUP BY doc_id, n
),
wide AS (
    SELECT d.source,
           COALESCE(p2.dup_chars, 0) AS dup2,
           COALESCE(p2.total_chars, 0) AS total2,
           COALESCE(p3.dup_chars, 0) AS dup3,
           COALESCE(p3.total_chars, 0) AS total3
    FROM (SELECT doc_id, source FROM docs) d
    LEFT JOIN per_doc p2 ON p2.doc_id = d.doc_id AND p2.n = 2
    LEFT JOIN per_doc p3 ON p3.doc_id = d.doc_id AND p3.n = 3
)
SELECT source,
       CAST(COUNT(*) AS INTEGER) AS n_docs,
       CAST(SUM(CASE WHEN dup2 * {_DUP2_THRESH[1]} > total2 * {_DUP2_THRESH[0]}
                       OR dup3 * {_DUP3_THRESH[1]} > total3 * {_DUP3_THRESH[0]}
                     THEN 1 ELSE 0 END) AS INTEGER) AS n_flagged,
       ROUND(CAST(SUM(dup2) AS DOUBLE) / SUM(total2), 4) AS dup2_frac,
       ROUND(CAST(SUM(dup3) AS DOUBLE) / SUM(total3), 4) AS dup3_frac
FROM wide
GROUP BY source
ORDER BY source
"""


# ---------------------------------------------------------------------------
# DSIR importance weights
# ---------------------------------------------------------------------------

_DSIR_BUCKETS = 256
_DSIR_TARGET = "src0"
_DSIR_TOPK = 20
_DSIR_FP = 1_000_000  # fixed-point scale for the per-bucket log-ratio

# 60-bit md5 prefix bucket — same construction as ngram_jaccard_pairs'
# gram hash, so both engines agree bit-for-bit
_BUCKET_SPARK = (
    "CAST(CONV(SUBSTR(md5(tok), 1, 15), 16, 10) AS BIGINT) % " + str(_DSIR_BUCKETS)
)
_BUCKET_DUCK = (
    "CAST(('0x' || substr(md5(tok), 1, 15)) AS UBIGINT)::BIGINT % "
    + str(_DSIR_BUCKETS)
)


def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed-unigram DSIR scoring — see module docstring. Returns the
    top {k} non-target documents by importance weight."""
    from waterbear_spark.queries.llm import _fan_out

    docs = _fan_out(spark, table(spark, sf_dir, "documents")).select(
        "doc_id", "source", _tokens(F.col("text")).alias("toks")
    )
    # (doc, bucket) counts computed ROW-LOCALLY: hash every token to its
    # bucket, sort, and one run-length fold yields the per-doc
    # (h, cnt) pairs — the per-token explode + corpus-sized
    # (doc, bucket) shuffle of the groupBy formulation disappears; the
    # exploded relation below is already one row per (doc, bucket).
    # Appends happen once per RUN (<= 256 per doc), not per token.
    hc = F.expr(
        "aggregate("
        f" array_sort(transform(toks, tok -> {_BUCKET_SPARK})),"
        " struct("
        "   CAST(array() AS ARRAY<STRUCT<h: BIGINT, cnt: BIGINT>>) AS arr,"
        "   CAST(NULL AS BIGINT) AS prev, CAST(0 AS BIGINT) AS cur),"
        " (acc, h) -> CASE"
        "   WHEN acc.prev IS NULL THEN"
        "     struct(acc.arr AS arr, h AS prev, 1L AS cur)"
        "   WHEN h = acc.prev THEN"
        "     struct(acc.arr AS arr, acc.prev AS prev, acc.cur + 1L AS cur)"
        "   ELSE struct(concat(acc.arr, array(struct(acc.prev AS h,"
        "        acc.cur AS cnt))) AS arr, h AS prev, 1L AS cur) END,"
        " acc -> CASE WHEN acc.prev IS NULL THEN acc.arr"
        "   ELSE concat(acc.arr, array(struct(acc.prev AS h,"
        "        acc.cur AS cnt))) END)"
    )
    # both consumers (256-row bucket relation, per-doc scores) re-read
    # this compact relation — persist so tokenize+fold runs once
    dh = scope.persist(
        docs.select("doc_id", "source", F.explode(hc).alias("e"))
        .select("doc_id", "source", F.col("e.h").alias("h"), F.col("e.cnt").alias("cnt"))
    )
    is_target = F.col("source") == _DSIR_TARGET
    # 256-row bucket relation with target/raw counts and the quantized
    # log-ratio; completed over the full bucket spine so unseen buckets
    # still carry the smoothed ratio
    spine = spark.range(0, _DSIR_BUCKETS).select(F.col("id").alias("h"))
    bucket = (
        dh.groupBy("h")
        .agg(
            F.sum(F.when(is_target, F.col("cnt")).otherwise(F.lit(0))).alias("t_cnt"),
            F.sum(F.when(~is_target, F.col("cnt")).otherwise(F.lit(0))).alias("r_cnt"),
        )
        .join(spine, "h", "right")
        .select(
            "h",
            F.coalesce("t_cnt", F.lit(0)).alias("t_cnt"),
            F.coalesce("r_cnt", F.lit(0)).alias("r_cnt"),
        )
    )
    tot = bucket.agg(
        F.sum("t_cnt").alias("t_tot"), F.sum("r_cnt").alias("r_tot")
    )
    lr = bucket.crossJoin(F.broadcast(tot)).select(
        "h",
        F.floor(
            (
                F.log((F.col("t_cnt") + 1) / (F.col("t_tot") + _DSIR_BUCKETS))
                - F.log((F.col("r_cnt") + 1) / (F.col("r_tot") + _DSIR_BUCKETS))
            )
            * _DSIR_FP
            + 0.5
        )
        .cast("long")
        .alias("lr_fp"),
    )
    return (
        dh.filter(~is_target)
        .join(F.broadcast(lr), "h")
        .groupBy("doc_id", "source")
        .agg(
            F.sum("cnt").cast("int").alias("n_toks"),
            F.sum(F.col("cnt") * F.col("lr_fp")).alias("w_fp"),
        )
        .select(
            "doc_id",
            "source",
            "n_toks",
            F.round(F.col("w_fp") / _DSIR_FP, 4).alias("weight"),
        )
        .orderBy(F.col("w_fp").desc(), "doc_id")
        .limit(_DSIR_TOPK)
    )


DSIR_SQL = f"""
WITH toks AS (
    SELECT doc_id, source, {_BUCKET_DUCK} AS h
    FROM (SELECT doc_id, source, UNNEST({TOKENS_SQL}) AS tok FROM documents)
),
dh AS (
    SELECT doc_id, source, h, COUNT(*) AS cnt FROM toks GROUP BY ALL
),
bucket AS (
    SELECT s.h,
           COALESCE(SUM(CASE WHEN source = '{_DSIR_TARGET}' THEN cnt END), 0) AS t_cnt,
           COALESCE(SUM(CASE WHEN source <> '{_DSIR_TARGET}' THEN cnt END), 0) AS r_cnt
    FROM (SELECT UNNEST(generate_series(0, {_DSIR_BUCKETS - 1})) AS h) s
    LEFT JOIN dh ON dh.h = s.h
    GROUP BY s.h
),
tot AS (SELECT SUM(t_cnt) AS t_tot, SUM(r_cnt) AS r_tot FROM bucket),
lr AS (
    SELECT h,
           CAST(FLOOR((LN((t_cnt + 1) / (t_tot + {_DSIR_BUCKETS}))
                       - LN((r_cnt + 1) / (r_tot + {_DSIR_BUCKETS})))
                      * {_DSIR_FP} + 0.5) AS BIGINT) AS lr_fp
    FROM bucket CROSS JOIN tot
)
SELECT dh.doc_id, dh.source,
       CAST(SUM(dh.cnt) AS INTEGER) AS n_toks,
       ROUND(SUM(dh.cnt * lr.lr_fp) / {_DSIR_FP}, 4) AS weight
FROM dh JOIN lr ON lr.h = dh.h
WHERE dh.source <> '{_DSIR_TARGET}'
GROUP BY dh.doc_id, dh.source
ORDER BY SUM(dh.cnt * lr.lr_fp) DESC, dh.doc_id
LIMIT {_DSIR_TOPK}
"""


# ---------------------------------------------------------------------------
# LSH band planner
# ---------------------------------------------------------------------------

from waterbear_spark.queries.llm import N_HASHES  # noqa: E402

_PLAN_TAU = 0.5  # the shipped MinHash threshold (_PP_TAU / dedup family)
_PLAN_S = (0.3, 0.5, 0.7, 0.9)
_PLAN_SPLITS = [b for b in range(1, N_HASHES + 1) if N_HASHES % b == 0]


def lsh_band_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S-curve table for every (b, r) split of the {h}-hash MinHash
    signature — see module docstring. ``rank_for_tau`` = 1 marks the
    split whose 50%-collision threshold sits closest to tau={t}
    (ties to fewer bands = cheaper).
    """
    rows = spark.range(1, N_HASHES + 1).filter(
        F.lit(N_HASHES) % F.col("id") == 0
    )
    b = F.col("id").cast("int")
    r = (F.lit(N_HASHES) / b).cast("int")
    curve = rows.select(
        b.alias("bands"),
        r.alias("rows_per_band"),
        F.round(F.pow(1.0 / b, 1.0 / r), 4).alias("threshold"),
        *[
            F.round(1.0 - F.pow(1.0 - F.pow(F.lit(s), r), b), 4).alias(
                f"p_at_{int(s * 100)}"
            )
            for s in _PLAN_S
        ],
        F.round(F.abs(F.pow(1.0 / b, 1.0 / r) - _PLAN_TAU), 4).alias("tau_dist"),
    )
    w = Window.orderBy("tau_dist", "bands")
    return (
        curve.withColumn("rank_for_tau", F.row_number().over(w).cast("int"))
        .orderBy("bands")
    )

lsh_band_planner.__doc__ = lsh_band_planner.__doc__.format(h=N_HASHES, t=_PLAN_TAU)


LSH_PLANNER_SQL = f"""
WITH splits AS (
    SELECT b, {N_HASHES} // b AS r
    FROM (SELECT UNNEST([{", ".join(str(b) for b in _PLAN_SPLITS)}]) AS b)
),
curve AS (
    SELECT CAST(b AS INTEGER) AS bands, CAST(r AS INTEGER) AS rows_per_band,
           ROUND(POWER(1.0 / b, 1.0 / r), 4) AS threshold,
           {", ".join(
               f"ROUND(1.0 - POWER(1.0 - POWER({s}, r), b), 4) AS p_at_{int(s * 100)}"
               for s in _PLAN_S
           )},
           ROUND(ABS(POWER(1.0 / b, 1.0 / r) - {_PLAN_TAU}), 4) AS tau_dist
    FROM splits
)
SELECT bands, rows_per_band, threshold,
       {", ".join(f"p_at_{int(s * 100)}" for s in _PLAN_S)},
       tau_dist,
       CAST(ROW_NUMBER() OVER (ORDER BY tau_dist, bands) AS INTEGER) AS rank_for_tau
FROM curve
ORDER BY bands
"""


# ---------------------------------------------------------------------------
# Tokenizer fertility audit
# ---------------------------------------------------------------------------


def tokenizer_fertility_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (lang, source) tokenizer-cost audit — see module docstring.
    ``fertility`` = BPE-ish regex tokens per whitespace word;
    ``bytes_per_token`` = UTF-8 bytes per regex token. Integer sums,
    one division per output cell."""
    docs = table(spark, sf_dir, "documents").select(
        "lang",
        "source",
        F.octet_length("text").alias("n_bytes"),
        F.size(_tokens(F.col("text"))).alias("n_words"),
        F.regexp_count(F.col("text"), F.lit(_BPE_ISH)).alias("n_bpe"),
    )
    return (
        docs.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_docs"),
            F.sum("n_bytes").alias("s_bytes"),
            F.sum("n_words").alias("s_words"),
            F.sum("n_bpe").alias("s_bpe"),
        )
        .select(
            "lang",
            "source",
            "n_docs",
            "s_bytes",
            "s_bpe",
            F.round(F.col("s_bpe") / F.col("s_words"), 4).alias("fertility"),
            F.round(F.col("s_bytes") / F.col("s_bpe"), 4).alias("bytes_per_token"),
        )
        .orderBy("lang", "source")
    )


FERTILITY_SQL = f"""
WITH docs AS (
    SELECT lang, source,
           strlen(text) AS n_bytes,  -- DuckDB: byte length of a VARCHAR
           len({TOKENS_SQL}) AS n_words,
           len(regexp_extract_all(text, '{_BPE_ISH}')) AS n_bpe
    FROM documents
)
SELECT lang, source,
       CAST(COUNT(*) AS INTEGER) AS n_docs,
       CAST(SUM(n_bytes) AS BIGINT) AS s_bytes,
       CAST(SUM(n_bpe) AS BIGINT) AS s_bpe,
       ROUND(CAST(SUM(n_bpe) AS DOUBLE) / SUM(n_words), 4) AS fertility,
       ROUND(CAST(SUM(n_bytes) AS DOUBLE) / SUM(n_bpe), 4) AS bytes_per_token
FROM docs
GROUP BY lang, source
ORDER BY lang, source
"""


QUERIES = {
    "gopher_repetition_filters": gopher_repetition_filters,
    "dsir_importance_weights": dsir_importance_weights,
    "lsh_band_planner": lsh_band_planner,
    "tokenizer_fertility_audit": tokenizer_fertility_audit,
}

ORACLES = {
    "gopher_repetition_filters": GOPHER_REPETITION_SQL,
    "dsir_importance_weights": DSIR_SQL,
    "lsh_band_planner": LSH_PLANNER_SQL,
    "tokenizer_fertility_audit": FERTILITY_SQL,
}
