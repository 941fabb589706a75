"""Round-4 wave-15 operators: cross-modal dedup verification, Markov
next-event prediction accuracy, and the language-metadata audit.

* ``dedup_cross_modal`` — MinHash-band text candidates VERIFIED in two
  modalities at once: exact token-shingle Jaccard AND embedding cosine,
  fused into one hybrid score. The cross-check is what catches both
  paraphrases (high cosine, low Jaccard) and template spam (high
  Jaccard, moderate cosine) that a single-modality gate mislabels.
* ``markov_next_event_accuracy`` — train the first-order transition
  argmax on the first three weeks of events, score next-event
  prediction accuracy on the final week: the time-split eval
  discipline of [[leakage_free_split]] applied to the
  [[markov_conditional_entropy]] model family.
* ``lang_metadata_mismatch`` — corpus audit: per metadata language,
  how often the content-based [[lang_id]] prediction disagrees — the
  "mislabeled ingest batch" detector that decides whether the `lang`
  column can be trusted for sampling/splitting.

Float determinism follows the house rules in ``tables.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
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
from waterbear_spark.queries.textops import PREDICTED_LANG_SQL, predicted_lang


# ---------------------------------------------------------------------------
# Cross-modal dedup verification
# ---------------------------------------------------------------------------

_XM_TOPK = 25


def dedup_cross_modal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate candidates from MinHash LSH bands (the
    [[dedup_near_minhash]] blocking), verified in BOTH modalities:
    exact shingle Jaccard on the text AND cosine on the embedding
    vectors (documents and embeddings share ids), fused as
    hybrid = (jaccard + cosine) / 2. Top pairs by hybrid score.

    Determinism: Jaccard is integer set math; the cosine folds the
    64 per-dimension products in array order with every element
    widened to double first, so the fold is bit-identical across
    engines.

    Scale: blocking is row-local signatures + a band-key equi-join (no
    pair space); the embedding join adds two id-keyed lookups on the
    CANDIDATE set only — the cross-modal verify costs |candidates|,
    not |docs|^2. The embedding joins are inner: a candidate doc with
    no embedding row would drop (here doc_id and vec_id cover the same
    0..n-1 ids; on ragged corpora make them left joins and let hybrid
    fall back to Jaccard).
    """
    # the shingle+MinHash fold is CPU-per-byte-dense and otherwise runs
    # at the scan's file-split width; widen to cluster width first
    # (AQE_PROBE_r11 A/B: 1.14x at sf1; no-op on wide production scans).
    # Tokenize AFTER the widen: a projection built under the repartition
    # exchange runs inside the 1-split scan stage (see dedup_near_minhash)
    docs = _fan_out(
        spark, table(spark, sf_dir, "documents").select("doc_id", "text")
    ).select("doc_id", _tokens(F.col("text")).alias("toks"))
    sets = scope.persist(
        docs.filter(F.size("toks") >= 3)
        .select(
            "doc_id", F.array_distinct(_shingles(F.col("toks"))).alias("arr")
        )
        .withColumn("n", F.size("arr"))
    )

    sig = sets.select("doc_id", _minhash_struct("arr").alias("mh")).select(
        "doc_id", "mh.*"
    )
    band_entries = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat(F.col(f"h{2 * b}"), F.col(f"h{2 * b + 1}")).alias(
                    "bkey"
                ),
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
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )

    n_shared = F.size(
        F.array_intersect(F.col("na.arr"), F.col("nb.arr"))
    ).cast("long")
    jac = n_shared.cast("double") / (F.col("na.n") + F.col("nb.n") - n_shared)

    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    def dot(a, b):
        return F.aggregate(
            F.zip_with(
                a, b, lambda x, y: x.cast("double") * y.cast("double")
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    scored = (
        candidates.join(sets.alias("na"), F.col("doc_a") == F.col("na.doc_id"))
        .join(sets.alias("nb"), F.col("doc_b") == F.col("nb.doc_id"))
        .join(
            emb.alias("ea"), F.col("doc_a") == F.col("ea.vec_id")
        )
        .join(emb.alias("eb"), F.col("doc_b") == F.col("eb.vec_id"))
        .select(
            "doc_a",
            "doc_b",
            F.round(jac, 4).alias("jaccard"),
            F.round(
                dot(F.col("ea.embedding"), F.col("eb.embedding"))
                / (
                    F.sqrt(dot(F.col("ea.embedding"), F.col("ea.embedding")))
                    * F.sqrt(dot(F.col("eb.embedding"), F.col("eb.embedding")))
                ),
                6,
            ).alias("cosine"),
        )
        .select(
            "doc_a",
            "doc_b",
            "jaccard",
            "cosine",
            # round the SUM (<= 6 decimal digits, never a .5 tie at the
            # rounding position) then halve — /2 is exact in binary, so
            # both engines produce the identical double; rounding the
            # halved value instead would park exactly on a half-up vs
            # half-even boundary whenever cosine's 6th digit is odd
            (F.round(F.col("jaccard") + F.col("cosine"), 6) / 2).alias(
                "hybrid"
            ),
        )
    )
    return scored.orderBy(F.col("hybrid").desc(), "doc_a", "doc_b").limit(
        _XM_TOPK
    )


_XM_DOT = (
    "list_aggregate(list_transform(range(1, len({a}) + 1),"
    " i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), 'sum')"
)

_CROSS_MODAL_SQL = f"""
WITH tok AS MATERIALIZED (
    SELECT doc_id, {TOKENS_SQL} AS toks FROM documents
),
sets AS MATERIALIZED (
    SELECT doc_id, list_distinct({SHINGLES_SQL}) AS arr,
           len(list_distinct({SHINGLES_SQL})) AS n
    FROM tok WHERE len(toks) >= 3
),
sig AS MATERIALIZED (
    SELECT doc_id, arr, n,
           {', '.join(f"list_min(list_transform(arr, s -> md5('{i}|' || s))) AS h{i}" for i in range(N_HASHES))}
    FROM sets
),
bands AS MATERIALIZED (
    {' UNION ALL '.join(f"SELECT doc_id, {b} AS band, h{2 * b} || h{2 * b + 1} AS bkey FROM sig" for b in range(N_BANDS))}
),
cand AS MATERIALIZED (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
),
scored AS (
    SELECT doc_a, doc_b,
           ROUND(CAST(len(list_intersect(na.arr, nb.arr)) AS DOUBLE)
                 / (na.n + nb.n - len(list_intersect(na.arr, nb.arr))), 4)
               AS jaccard,
           ROUND({_XM_DOT.format(a='ea.embedding', b='eb.embedding')}
                 / (SQRT({_XM_DOT.format(a='ea.embedding', b='ea.embedding')})
                    * SQRT({_XM_DOT.format(a='eb.embedding', b='eb.embedding')})),
                 6) AS cosine
    FROM cand
    JOIN sets na ON na.doc_id = doc_a
    JOIN sets nb ON nb.doc_id = doc_b
    JOIN embeddings ea ON ea.vec_id = doc_a
    JOIN embeddings eb ON eb.vec_id = doc_b
)
SELECT doc_a, doc_b, jaccard, cosine,
       ROUND(jaccard + cosine, 6) / 2 AS hybrid
FROM scored
ORDER BY hybrid DESC, doc_a, doc_b
LIMIT {_XM_TOPK}
"""


# ---------------------------------------------------------------------------
# Markov next-event prediction accuracy
# ---------------------------------------------------------------------------

_MK_CUTOFF = "2024-01-22"


def markov_next_event_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-split evaluation of the first-order Markov next-event
    model: transitions whose FIRST event lands before the cutoff train
    the per-state argmax (count desc, next-type asc — deterministic);
    transitions starting on/after the cutoff are the held-out test.
    Output per state: test transitions, hits, accuracy — the
    predictability readout that tells a pipeline whether event_type
    alone carries sequence signal. A state absent from train predicts
    nothing (LEFT join, NULL never equals the actual), so its test
    rows count as misses rather than being dropped.

    Scale: one user-partitioned LEAD window (bounded timelines), a
    |types|^2 training census, an argmax over it, one broadcast join
    onto the |types|^2 test census.
    """
    ev = table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.withColumn("nxt", F.lead("event_type").over(w))
        .filter(F.col("nxt").isNotNull())
        .select(
            F.col("event_type").alias("cur"),
            "nxt",
            (F.col("ts") < F.lit(_MK_CUTOFF).cast("timestamp_ntz")).alias(
                "is_train"
            ),
        )
    )
    train = pairs.filter("is_train").groupBy("cur", "nxt").agg(
        F.count(F.lit(1)).alias("n")
    )
    pick = Window.partitionBy("cur").orderBy(F.col("n").desc(), "nxt")
    model = (
        train.withColumn("rk", F.row_number().over(pick))
        .filter(F.col("rk") == 1)
        .select("cur", F.col("nxt").alias("pred"))
    )
    test = pairs.filter(~F.col("is_train")).groupBy("cur", "nxt").agg(
        F.count(F.lit(1)).alias("n")
    )
    return (
        test.join(F.broadcast(model), "cur", "left")
        .groupBy("cur")
        .agg(
            F.sum("n").alias("n_test"),
            F.sum(F.when(F.col("nxt") == F.col("pred"), F.col("n")).otherwise(0)).alias(
                "n_correct"
            ),
        )
        .select(
            "cur",
            "n_test",
            "n_correct",
            F.round(F.col("n_correct") / F.col("n_test"), 6).alias("accuracy"),
        )
        .orderBy("cur")
    )


_MARKOV_ACC_SQL = f"""
WITH pairs AS MATERIALIZED (
    SELECT cur, nxt, is_train FROM (
        SELECT event_type AS cur,
               LEAD(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS nxt,
               ts < TIMESTAMP '{_MK_CUTOFF}' AS is_train
        FROM events
    ) WHERE nxt IS NOT NULL
),
train AS MATERIALIZED (
    SELECT cur, nxt, COUNT(*) AS n FROM pairs WHERE is_train GROUP BY cur, nxt
),
model AS MATERIALIZED (
    SELECT cur, nxt AS pred FROM (
        SELECT cur, nxt,
               ROW_NUMBER() OVER (PARTITION BY cur ORDER BY n DESC, nxt) AS rk
        FROM train
    ) WHERE rk = 1
),
test AS MATERIALIZED (
    SELECT cur, nxt, COUNT(*) AS n
    FROM pairs WHERE NOT is_train GROUP BY cur, nxt
)
SELECT cur,
       CAST(SUM(n) AS BIGINT) AS n_test,
       CAST(SUM(CASE WHEN nxt = pred THEN n ELSE 0 END) AS BIGINT)
           AS n_correct,
       ROUND(CAST(SUM(CASE WHEN nxt = pred THEN n ELSE 0 END) AS DOUBLE)
             / SUM(n), 6) AS accuracy
FROM test LEFT JOIN model USING (cur)
GROUP BY cur
ORDER BY cur
"""


# ---------------------------------------------------------------------------
# Language metadata audit
# ---------------------------------------------------------------------------


def lang_metadata_mismatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-vs-content audit: per metadata ``lang`` value, how many
    documents the content-based [[lang_id]] predictor assigns to a
    DIFFERENT language, and how many it cannot call at all ('und') —
    the mislabeled-ingest detector run before trusting the lang column
    for stratified sampling or per-language splits.

    Scale: scoring is row-local codegen (shared with lang_id); the
    census is a |langs|-row aggregate.
    """
    docs = table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    toks = _tokens(F.col("text"))
    pred = predicted_lang(toks)
    flagged = docs.select(
        "lang",
        pred.alias("pred"),
    )
    return (
        flagged.groupBy(F.col("lang").alias("meta_lang"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                ((F.col("pred") != F.col("lang")) & (F.col("pred") != "und"))
                .cast("int")
            ).alias("n_mismatch"),
            F.sum((F.col("pred") == "und").cast("int")).alias("n_undecided"),
        )
        .select(
            "meta_lang",
            "n_docs",
            "n_mismatch",
            "n_undecided",
            F.round(F.col("n_mismatch") / F.col("n_docs"), 6).alias(
                "mismatch_rate"
            ),
        )
        .orderBy("meta_lang")
    )


_LANG_MISMATCH_SQL = f"""
WITH tok AS MATERIALIZED (
    SELECT doc_id, lang, {TOKENS_SQL} AS toks FROM documents
),
flagged AS (
    SELECT lang, {PREDICTED_LANG_SQL} AS pred FROM tok
)
SELECT lang AS meta_lang,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN pred <> lang AND pred <> 'und' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_mismatch,
       CAST(SUM(CASE WHEN pred = 'und' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_undecided,
       ROUND(CAST(SUM(CASE WHEN pred <> lang AND pred <> 'und' THEN 1 ELSE 0 END)
                  AS DOUBLE) / COUNT(*), 6) AS mismatch_rate
FROM flagged
GROUP BY lang
ORDER BY meta_lang
"""


QUERIES = {
    "dedup_cross_modal": dedup_cross_modal,
    "markov_next_event_accuracy": markov_next_event_accuracy,
    "lang_metadata_mismatch": lang_metadata_mismatch,
}
ORACLES = {
    "dedup_cross_modal": _CROSS_MODAL_SQL,
    "markov_next_event_accuracy": _MARKOV_ACC_SQL,
    "lang_metadata_mismatch": _LANG_MISMATCH_SQL,
}
