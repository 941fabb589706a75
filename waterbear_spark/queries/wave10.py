"""Round-3 wave-10 operators: l-diversity release gating, trajectory
length, join-cardinality estimation, bigram backoff perplexity, and
reciprocal-rank fusion.

Operator families the catalog didn't cover yet:

* ``ldiversity_release`` — the l-diversity refinement of
  [[kanon_suppressed_cube]]: a quasi-identifier group is releasable
  only if it is BOTH large enough (k) and carries >= l DISTINCT
  sensitive values — k-anonymity alone leaks when a group is
  homogeneous in the sensitive attribute.
* ``trajectory_length`` — sequential geospatial: per-user great-circle
  path length over the event timeline (the trip-distance /
  movement-census primitive), exact-decimal segment sums.
* ``join_size_product_sum`` — the cost-based-optimizer identity
  |R join S on k| = sum_k f_R(k) * f_S(k): predict the join size from
  the two per-key histograms, then CONFIRM by running the join — plus
  the top-key share that tells the planner whether the join is skewed.
* ``bigram_backoff_perplexity`` — [[lm_quality_score]]'s bigram big
  sibling: stupid-backoff bigram log-probs (Brants et al., 2007) in
  exact integer micro-nats, surfacing the least language-like docs.
* ``rrf_fusion`` — reciprocal-rank fusion (Cormack et al., 2009) of
  two retrieval rankings (term-frequency vs coverage) — the standard
  zero-tuning hybrid-search combiner.

Float determinism follows the house rules in ``tables.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from waterbear_spark import scope
from waterbear_spark.queries.tables import DEC, table


# ---------------------------------------------------------------------------
# l-diversity release gate
# ---------------------------------------------------------------------------

_LD_K = 8   # minimum group size (k-anonymity)
_LD_L = 3   # minimum distinct sensitive values (l-diversity)


def ldiversity_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct l-diversity release gate over the (nation, segment)
    quasi-identifier with account-balance band (1000s) as the sensitive
    attribute: a group is released only when n >= {k} AND it carries
    >= {l} distinct sensitive bands. The output carries both
    suppression censuses (failed-k, failed-l-only) on every row, so the
    release is auditable — the refinement [[kanon_suppressed_cube]]
    needs before sharing panels where a group could be size-safe but
    value-homogeneous.

    Scale: one hash aggregate on the QI (count + count-distinct), two
    1-row censuses broadcast back — combinable end to end.
    """
    cust = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rows = cust.join(
        F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"]
    ).select(
        F.col("n_name").alias("nation"),
        F.col("c_mktsegment").alias("segment"),
        F.floor(F.col("c_acctbal") / 1000.0).cast("int").alias("bal_band"),
    )
    groups = rows.groupBy("nation", "segment").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("bal_band").alias("n_sensitive"),
    )
    sup = groups.agg(
        F.sum((F.col("n") < _LD_K).cast("int")).alias("n_failed_k"),
        F.sum(
            ((F.col("n") >= _LD_K) & (F.col("n_sensitive") < _LD_L)).cast("int")
        ).alias("n_failed_l"),
    )
    return (
        groups.filter((F.col("n") >= _LD_K) & (F.col("n_sensitive") >= _LD_L))
        .crossJoin(F.broadcast(sup))
        .orderBy("nation", "segment")
    )

ldiversity_release.__doc__ = ldiversity_release.__doc__.format(k=_LD_K, l=_LD_L)


LDIVERSITY_SQL = f"""
WITH rows0 AS (
    SELECT n.n_name AS nation, c.c_mktsegment AS segment,
           CAST(FLOOR(c.c_acctbal / 1000.0) AS INT) AS bal_band
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
),
groups AS (
    SELECT nation, segment, COUNT(*) AS n,
           COUNT(DISTINCT bal_band) AS n_sensitive
    FROM rows0 GROUP BY nation, segment
),
sup AS (
    SELECT CAST(SUM(CASE WHEN n < {_LD_K} THEN 1 ELSE 0 END) AS BIGINT)
               AS n_failed_k,
           CAST(SUM(CASE WHEN n >= {_LD_K} AND n_sensitive < {_LD_L}
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_failed_l
    FROM groups
)
SELECT nation, segment, n, n_sensitive, n_failed_k, n_failed_l
FROM groups CROSS JOIN sup
WHERE n >= {_LD_K} AND n_sensitive >= {_LD_L}
ORDER BY nation, segment
"""


# ---------------------------------------------------------------------------
# Trajectory length
# ---------------------------------------------------------------------------

_TRAJ_TOPK = 20
_EARTH_KM = 6371.0


def trajectory_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user great-circle trajectory length over the event timeline:
    each event gets md5 pseudo-coordinates (the [[haversine_nearest_hub]]
    generator keyed on event_id), consecutive events form segments, and
    the haversine lengths (rounded into exact decimal) sum per user.
    Top {k} longest trajectories with point and segment counts.

    Scale: one user_id shuffle for the LAG window; the segment math is
    row-local IEEE identical on both engines; the per-user sum is
    order-free decimal. The movement-census primitive for trip/route
    analytics.
    """
    from waterbear_spark.queries.wave3 import _pseudo_deg

    ev = table(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    pts = ev.select(
        "user_id",
        "ts",
        "event_id",
        _pseudo_deg(F.col("event_id"), "elat|", 180).alias("lat"),
        _pseudo_deg(F.col("event_id"), "elon|", 360).alias("lon"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seg = pts.select(
        "user_id",
        "lat",
        "lon",
        F.lag("lat").over(w).alias("plat"),
        F.lag("lon").over(w).alias("plon"),
    ).filter(F.col("plat").isNotNull())
    dist = (
        2.0
        * _EARTH_KM
        * F.asin(
            F.sqrt(
                F.pow(F.sin(F.radians(F.col("lat") - F.col("plat")) / 2), 2)
                + F.cos(F.radians(F.col("plat")))
                * F.cos(F.radians(F.col("lat")))
                * F.pow(F.sin(F.radians(F.col("lon") - F.col("plon")) / 2), 2)
            )
        )
    )
    return (
        seg.select("user_id", F.round(dist, 6).cast(DEC).alias("d"))
        .groupBy("user_id")
        .agg(
            (F.count(F.lit(1)) + 1).alias("n_points"),
            F.count(F.lit(1)).alias("n_segments"),
            F.round(F.sum("d"), 3).cast("double").alias("total_km"),
        )
        .orderBy(F.col("total_km").desc(), "user_id")
        .limit(_TRAJ_TOPK)
    )

trajectory_length.__doc__ = trajectory_length.__doc__.format(k=_TRAJ_TOPK)


def _traj_sql() -> str:
    from waterbear_spark.queries.wave3 import _pseudo_deg_sql

    return f"""
WITH pts AS (
    SELECT user_id, ts, event_id,
           {_pseudo_deg_sql("event_id", "elat|", 180)} AS lat,
           {_pseudo_deg_sql("event_id", "elon|", 360)} AS lon
    FROM events
),
seg AS (
    SELECT user_id, lat, lon,
           LAG(lat) OVER w AS plat, LAG(lon) OVER w AS plon
    FROM pts
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id,
       COUNT(*) + 1 AS n_points,
       COUNT(*) AS n_segments,
       CAST(ROUND(SUM(CAST(ROUND(2.0 * {_EARTH_KM} * ASIN(SQRT(
               POW(SIN(RADIANS(lat - plat) / 2), 2)
               + COS(RADIANS(plat)) * COS(RADIANS(lat))
                 * POW(SIN(RADIANS(lon - plon) / 2), 2)
           )), 6) AS DECIMAL(20,6))), 3) AS DOUBLE) AS total_km
FROM seg
WHERE plat IS NOT NULL
GROUP BY user_id
ORDER BY total_km DESC, user_id
LIMIT {_TRAJ_TOPK}
"""


# ---------------------------------------------------------------------------
# Join-size estimation (CBO identity)
# ---------------------------------------------------------------------------

def join_size_product_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cost-based-optimizer join-size identity: the events-to-orders
    join on user key has EXACTLY sum_k f_events(k) * f_orders(k) rows —
    predicted from the two per-key count histograms (two combinable
    aggregates + one key-sized join), then CONFIRMED by counting the
    real join. Also reports the skew diagnostic planners act on: the
    heaviest key's share of the join output (AQE's skew-join trigger at
    scale).

    The histogram prediction touches |keys| rows where the real join
    touches |output| — at 100 TB the histogram is how you decide
    whether to RUN the join at all.
    """
    ev = table(spark, sf_dir, "events").select(F.col("user_id").alias("k"))
    o = table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("k"))
    fe = ev.groupBy("k").agg(F.count(F.lit(1)).alias("fe"))
    fo = o.groupBy("k").agg(F.count(F.lit(1)).alias("fo"))
    prod = fe.join(fo, "k").select(
        "k", (F.col("fe") * F.col("fo")).cast("decimal(38,0)").alias("p")
    )
    pred = prod.agg(
        F.count(F.lit(1)).alias("n_common_keys"),
        F.sum("p").cast("decimal(38,0)").alias("predicted_rows"),
        F.max("p").cast("decimal(38,0)").alias("top_key_rows"),
    )
    actual = ev.join(o, "k").agg(F.count(F.lit(1)).alias("actual_rows"))
    return pred.crossJoin(F.broadcast(actual)).select(
        "n_common_keys",
        F.col("predicted_rows").cast("bigint").alias("predicted_rows"),
        "actual_rows",
        (F.col("predicted_rows").cast("bigint") == F.col("actual_rows")).alias(
            "identity_holds"
        ),
        F.round(
            F.col("top_key_rows").cast("double")
            / F.col("predicted_rows").cast("double"),
            6,
        ).alias("top_key_share"),
    )


JOIN_SIZE_SQL = """
WITH fe AS (SELECT user_id AS k, COUNT(*) AS fe FROM events GROUP BY 1),
fo AS (SELECT o_custkey AS k, COUNT(*) AS fo FROM orders GROUP BY 1),
prod AS (
    SELECT k, CAST(fe * fo AS DECIMAL(38,0)) AS p FROM fe JOIN fo USING (k)
),
pred AS (
    SELECT COUNT(*) AS n_common_keys,
           CAST(SUM(p) AS DECIMAL(38,0)) AS predicted_rows,
           CAST(MAX(p) AS DECIMAL(38,0)) AS top_key_rows
    FROM prod
),
act AS (
    SELECT COUNT(*) AS actual_rows
    FROM events e JOIN orders o ON e.user_id = o.o_custkey
)
SELECT n_common_keys,
       CAST(predicted_rows AS BIGINT) AS predicted_rows,
       actual_rows,
       CAST(predicted_rows AS BIGINT) = actual_rows AS identity_holds,
       ROUND(CAST(top_key_rows AS DOUBLE) / CAST(predicted_rows AS DOUBLE), 6)
           AS top_key_share
FROM pred CROSS JOIN act
"""


# ---------------------------------------------------------------------------
# Bigram stupid-backoff perplexity
# ---------------------------------------------------------------------------

_BB_BOTTOM_K = 15
_BB_BACKOFF = 0.4  # stupid-backoff discount


def bigram_backoff_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out bigram language-model scoring with stupid backoff
    (Brants et al., 2007): the model (bigram + unigram counts) is fit on
    the md5-hash train split (bucket < 80, the exact
    [[deterministic_split]] assignment) and scores the HELD-OUT docs, so
    unseen bigrams and OOV words genuinely occur and every branch of
    score(w2|w1) executes: c(w1 w2)/c(w1) when the bigram was seen in
    train, else {b} * c(w2)/total (backoff), else {b} * 1/total (OOV
    floor, count-1). Per-doc mean log-prob in exact integer micro-nats
    ([[lm_quality_score]]'s determinism discipline, one ln per distinct
    bigram/unigram); bottom {k} docs = the least language-like (the
    corpus-filter signal a unigram model misses: scrambled word ORDER).
    n_backoff / n_oov per doc make the branch coverage observable.

    Scale: two vocabulary-sized aggregates over the train split (both
    heavily combinable), one broadcast-able logprob join back onto the
    exploded held-out corpus. No pair space.
    """
    from waterbear_spark.queries.llm import _tokens

    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("split|"), F.col("doc_id").cast("string"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("bigint")
        % 100
    )
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", _tokens(F.col("text")).alias("toks"), (bucket < 80).alias("is_train")
    )
    train = docs.filter(F.col("is_train"))
    held = docs.filter(~F.col("is_train"))
    big = held.filter(F.size("toks") >= 2).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - 1),
                lambda i: F.struct(
                    F.element_at(F.col("toks"), i).alias("w1"),
                    F.element_at(F.col("toks"), i + 1).alias("w2"),
                ),
            )
        ).alias("bg"),
    ).select("doc_id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    big = scope.persist(big)
    tr_big = train.filter(F.size("toks") >= 2).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - 1),
                lambda i: F.struct(
                    F.element_at(F.col("toks"), i).alias("w1"),
                    F.element_at(F.col("toks"), i + 1).alias("w2"),
                ),
            )
        ).alias("bg"),
    ).select(F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    bg_cnt = tr_big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    uni = (
        train.select(F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    uni = scope.persist(uni)
    total = uni.agg(F.sum("c1").alias("total"))
    uni_lp = uni.crossJoin(F.broadcast(total)).select(
        F.col("w").alias("w2"),
        F.floor(
            F.log(
                F.lit(_BB_BACKOFF)
                * F.col("c1").cast("double")
                / F.col("total").cast("double")
            )
            * 1e6
        )
        .cast("bigint")
        .alias("lp_back"),
    )
    bg_lp = bg_cnt.join(
        uni.select(F.col("w").alias("w1"), F.col("c1").alias("cw1")), "w1"
    ).select(
        "w1",
        "w2",
        F.floor(
            F.log(F.col("c12").cast("double") / F.col("cw1").cast("double"))
            * 1e6
        )
        .cast("bigint")
        .alias("lp_big"),
    )
    lp_oov = (
        F.floor(
            F.log(F.lit(_BB_BACKOFF) / F.col("total").cast("double")) * 1e6
        )
        .cast("bigint")
        .alias("lp_oov")
    )
    scored = (
        big.join(bg_lp, ["w1", "w2"], "left")
        .join(uni_lp, "w2", "left")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            F.coalesce(F.col("lp_big"), F.col("lp_back"), lp_oov).alias("lp"),
            F.col("lp_big").isNull().cast("bigint").alias("is_backoff"),
            (F.col("lp_big").isNull() & F.col("lp_back").isNull())
            .cast("bigint")
            .alias("is_oov"),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("is_backoff").alias("n_backoff"),
            F.sum("is_oov").alias("n_oov"),
            F.sum("lp").alias("lp_sum"),
        )
    )
    return (
        scored.select(
            "doc_id",
            "n_bigrams",
            "n_backoff",
            "n_oov",
            F.round(
                F.col("lp_sum").cast("double")
                / (F.col("n_bigrams").cast("double") * 1e6),
                6,
            ).alias("mean_lp"),
        )
        .orderBy("mean_lp", "doc_id")
        .limit(_BB_BOTTOM_K)
    )

bigram_backoff_perplexity.__doc__ = bigram_backoff_perplexity.__doc__.format(b=_BB_BACKOFF, k=_BB_BOTTOM_K)


def _bb_sql() -> str:
    from waterbear_spark.queries.llm import TOKENS_SQL

    return f"""
WITH toked AS (
    SELECT doc_id, {TOKENS_SQL} AS toks,
           CAST(('0x' || substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 15))
                AS UBIGINT)::BIGINT % 100 < 80 AS is_train
    FROM documents
),
big AS (
    SELECT doc_id, bg['w1'] AS w1, bg['w2'] AS w2
    FROM (
        SELECT doc_id,
               UNNEST(list_transform(generate_series(1, len(toks) - 1),
                   i -> {{'w1': toks[i], 'w2': toks[i+1]}})) AS bg
        FROM toked WHERE len(toks) >= 2 AND NOT is_train
    )
),
tr_big AS (
    SELECT bg['w1'] AS w1, bg['w2'] AS w2
    FROM (
        SELECT UNNEST(list_transform(generate_series(1, len(toks) - 1),
                   i -> {{'w1': toks[i], 'w2': toks[i+1]}})) AS bg
        FROM toked WHERE len(toks) >= 2 AND is_train
    )
),
bg_cnt AS (SELECT w1, w2, COUNT(*) AS c12 FROM tr_big GROUP BY w1, w2),
uni AS (
    SELECT UNNEST(toks) AS w FROM toked WHERE is_train
),
uni_cnt AS (SELECT w, COUNT(*) AS c1 FROM uni GROUP BY w),
tot AS (SELECT SUM(c1) AS total FROM uni_cnt),
uni_lp AS (
    SELECT w AS w2,
           CAST(FLOOR(LN({_BB_BACKOFF} * CAST(c1 AS DOUBLE)
                         / CAST((SELECT total FROM tot) AS DOUBLE)) * 1e6)
                AS BIGINT) AS lp_back
    FROM uni_cnt
),
bg_lp AS (
    SELECT b.w1, b.w2,
           CAST(FLOOR(LN(CAST(b.c12 AS DOUBLE) / CAST(u.c1 AS DOUBLE)) * 1e6)
                AS BIGINT) AS lp_big
    FROM bg_cnt b JOIN uni_cnt u ON b.w1 = u.w
),
scored AS (
    SELECT big.doc_id, COUNT(*) AS n_bigrams,
           CAST(SUM(CASE WHEN bl.lp_big IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_backoff,
           CAST(SUM(CASE WHEN bl.lp_big IS NULL AND ul.lp_back IS NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
           CAST(SUM(COALESCE(bl.lp_big, ul.lp_back,
               CAST(FLOOR(LN({_BB_BACKOFF}
                             / CAST((SELECT total FROM tot) AS DOUBLE)) * 1e6)
                    AS BIGINT))) AS BIGINT) AS lp_sum
    FROM big
    LEFT JOIN bg_lp bl ON big.w1 = bl.w1 AND big.w2 = bl.w2
    LEFT JOIN uni_lp ul ON big.w2 = ul.w2
    GROUP BY big.doc_id
)
SELECT doc_id, n_bigrams, n_backoff, n_oov,
       ROUND(CAST(lp_sum AS DOUBLE) / (CAST(n_bigrams AS DOUBLE) * 1e6), 6)
           AS mean_lp
FROM scored
ORDER BY mean_lp, doc_id
LIMIT {_BB_BOTTOM_K}
"""


# ---------------------------------------------------------------------------
# Reciprocal-rank fusion
# ---------------------------------------------------------------------------

_RRF_K = 60
_RRF_LIST = 20
_RRF_TOPK = 10


def rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of two retrieval rankings for the shared
    eval query ([[retrieval_eval_ndcg]]'s corpus scorer): ranker A =
    total query-term frequency, ranker B = distinct-term coverage
    (brevity tie-break). Each contributes its top {n} list;
    RRF(d) = sum_i 1/({k} + rank_i(d)). The standard zero-tuning
    hybrid-search combiner (lexical + semantic in production; two
    lexical views here keep the oracle exact).

    Scale: both lists are TakeOrdered top-{n} — the fusion runs on
    2x{n} rows regardless of corpus size.
    """
    from waterbear_spark.queries.llm import _tokens
    from waterbear_spark.queries.wave7 import _eval_scores

    docs = table(spark, sf_dir, "documents").select("doc_id", "text", "n_chars")
    score, cover = _eval_scores(_tokens(F.col("text")))
    scored = scope.persist(docs.select(
        "doc_id", score.alias("score"), cover.alias("cover"), "n_chars"
    ))
    la = (
        scored.orderBy(F.col("score").desc(), "doc_id")
        .limit(_RRF_LIST)
        .select(
            "doc_id",
            F.row_number()
            .over(Window.orderBy(F.col("score").desc(), "doc_id"))
            .alias("rank_a"),
        )
    )
    lb = (
        scored.orderBy(F.col("cover").desc(), "n_chars", "doc_id")
        .limit(_RRF_LIST)
        .select(
            "doc_id",
            F.row_number()
            .over(Window.orderBy(F.col("cover").desc(), "n_chars", "doc_id"))
            .alias("rank_b"),
        )
    )
    fused = la.join(lb, "doc_id", "full_outer").select(
        "doc_id",
        "rank_a",
        "rank_b",
        F.round(
            F.coalesce(1.0 / (_RRF_K + F.col("rank_a")), F.lit(0.0))
            + F.coalesce(1.0 / (_RRF_K + F.col("rank_b")), F.lit(0.0)),
            8,
        ).alias("rrf_score"),
    )
    return fused.orderBy(F.col("rrf_score").desc(), "doc_id").limit(_RRF_TOPK)

rrf_fusion.__doc__ = rrf_fusion.__doc__.format(n=_RRF_LIST, k=_RRF_K)


def _rrf_sql() -> str:
    from waterbear_spark.queries.llm import TOKENS_SQL
    from waterbear_spark.queries.wave7 import _eval_scores_sql

    score, cover = _eval_scores_sql()
    return f"""
WITH toked AS (
    SELECT doc_id, n_chars, {TOKENS_SQL} AS toks
    FROM documents
),
scored AS (
    SELECT doc_id, {score} AS score, {cover} AS cover, n_chars FROM toked
),
la AS (
    SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rank_a
    FROM scored ORDER BY score DESC, doc_id LIMIT {_RRF_LIST}
),
lb AS (
    SELECT doc_id,
           ROW_NUMBER() OVER (ORDER BY cover DESC, n_chars, doc_id) AS rank_b
    FROM scored ORDER BY cover DESC, n_chars, doc_id LIMIT {_RRF_LIST}
)
SELECT COALESCE(la.doc_id, lb.doc_id) AS doc_id, rank_a, rank_b,
       ROUND(COALESCE(1.0 / ({_RRF_K} + rank_a), 0.0)
             + COALESCE(1.0 / ({_RRF_K} + rank_b), 0.0), 8) AS rrf_score
FROM la FULL OUTER JOIN lb ON la.doc_id = lb.doc_id
ORDER BY rrf_score DESC, doc_id
LIMIT {_RRF_TOPK}
"""


QUERIES = {
    "ldiversity_release": ldiversity_release,
    "trajectory_length": trajectory_length,
    "join_size_product_sum": join_size_product_sum,
    "bigram_backoff_perplexity": bigram_backoff_perplexity,
    "rrf_fusion": rrf_fusion,
}

ORACLES = {
    "ldiversity_release": LDIVERSITY_SQL,
    "trajectory_length": _traj_sql(),
    "join_size_product_sum": JOIN_SIZE_SQL,
    "bigram_backoff_perplexity": _bb_sql(),
    "rrf_fusion": _rrf_sql(),
}
