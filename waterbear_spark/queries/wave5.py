"""Round-3 wave-5 operators: smoothed target encoding, point-in-polygon
geofencing, RAKE keyword extraction, MASE forecast-accuracy scoring, and
KMV sketch set operations.

Operator families the catalog didn't cover yet:

* ``target_encoding`` — the m-estimate smoothed categorical target
  encoder (Micci-Barreca, KDD'01): per-category event rate shrunk
  toward the global prior, the leakage-safe feature used where one-hot
  explodes.
* ``point_in_polygon`` — ray-casting membership of pseudo-coordinates
  against a fixed polygon (geofence census per nation); the crossing
  test is a bounded in-row fold over the edge list, never a join.
* ``rake_keywords`` — RAKE (Rose et al., 2010): candidate phrases split
  at stopwords/punctuation, word scores degree/frequency, phrase score
  the sum of member word scores.
* ``mase_forecast_accuracy`` — MASE (Hyndman & Koehler, 2006): the
  seasonal-naive forecast's MAE scaled by the one-step naive MAE, the
  scale-free accuracy metric that survives aggregation across series.
* ``kmv_set_ops`` — k-minimum-values distinct sketches with UNION and
  INTERSECTION estimates (Beyer et al., SIGMOD'07) next to their exact
  counterparts — the mergeable-sketch algebra behind cross-partition
  distinct-count roll-ups.

Float determinism follows the house rules in ``tables.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from waterbear_spark import scope
from waterbear_spark.queries.tables import DEC, table


# ---------------------------------------------------------------------------
# Smoothed target encoding
# ---------------------------------------------------------------------------

_TE_M = 20.0  # m-estimate smoothing mass


def target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """m-estimate target encoding of order priority against the binary
    target "order fully shipped" (status = 'F'): enc = (pos + m * prior)
    / (n + m), with the global rate as prior and m = {m}.

    Exact integer counts; the prior and each encoding are single IEEE
    divisions over those counts, so both engines agree bit-for-bit. One
    aggregate + a broadcast 1-row prior — the encoder table this emits
    is what a training pipeline broadcast-joins back onto the facts, so
    the expensive side is one map-side-combinable pass at any scale.
    """
    o = table(spark, sf_dir, "orders")
    y = F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
    per_cat = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"), F.sum(y).alias("pos")
    )
    prior = o.agg(
        (F.sum(y).cast("double") / F.count(F.lit(1))).alias("prior")
    )
    return (
        per_cat.crossJoin(F.broadcast(prior))
        .select(
            "o_orderpriority",
            "n",
            "pos",
            F.round("prior", 6).alias("prior"),
            F.round(
                (F.col("pos") + F.lit(_TE_M) * F.col("prior"))
                / (F.col("n") + F.lit(_TE_M)),
                6,
            ).alias("enc"),
            # + 0.0 normalizes IEEE -0.0 (a tiny negative shrinkage that
            # rounds to zero keeps its sign bit in DuckDB but not Spark —
            # caught by the round-5 sf1 sweep)
            (
                F.round(
                    F.col("pos").cast("double") / F.col("n")
                    - (F.col("pos") + F.lit(_TE_M) * F.col("prior"))
                    / (F.col("n") + F.lit(_TE_M)),
                    6,
                )
                + F.lit(0.0)
            ).alias("shrinkage"),
        )
        .orderBy("o_orderpriority")
    )

target_encoding.__doc__ = target_encoding.__doc__.format(m=_TE_M)


TARGET_ENCODING_SQL = f"""
WITH per_cat AS (
    SELECT o_orderpriority,
           COUNT(*) AS n,
           CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS pos
    FROM orders GROUP BY o_orderpriority
),
g AS (
    SELECT CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS DOUBLE)
           / COUNT(*) AS prior
    FROM orders
)
SELECT o_orderpriority, n, pos,
       ROUND(prior, 6) AS prior,
       ROUND((pos + {_TE_M} * prior) / (n + {_TE_M}), 6) AS enc,
       ROUND(CAST(pos AS DOUBLE) / n
             - (pos + {_TE_M} * prior) / (n + {_TE_M}), 6) + 0.0 AS shrinkage
FROM per_cat CROSS JOIN g
ORDER BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# Point-in-polygon geofence census
# ---------------------------------------------------------------------------

# (lon, lat) pentagon; no two adjacent vertices share a latitude, so the
# ray-cast division is never 0/0 on an edge the crossing test admits
_POLY = [(-120.0, 0.0), (-40.0, 60.0), (80.0, 40.0), (100.0, -30.0), (-20.0, -60.0)]


def _pip_crossings_expr(px, py):
    """Crossing count of a rightward ray from (px, py) against _POLY as
    a bounded in-row fold (F.filter over the 5-edge literal array)."""
    edges = F.array(
        *[
            F.struct(
                F.lit(x1).alias("x1"),
                F.lit(y1).alias("y1"),
                F.lit(x2).alias("x2"),
                F.lit(y2).alias("y2"),
            )
            for (x1, y1), (x2, y2) in zip(_POLY, _POLY[1:] + _POLY[:1])
        ]
    )
    return F.size(
        F.filter(
            edges,
            lambda e: ((e.y1 > py) != (e.y2 > py))
            & (
                px
                < (e.x2 - e.x1) * (py - e.y1) / (e.y2 - e.y1) + e.x1
            ),
        )
    )


def point_in_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geofence census: customers at md5-derived pseudo-coordinates
    (same generator as [[haversine_nearest_hub]]) tested against a fixed
    pentagon by ray casting — inside iff the rightward ray crosses the
    edge list an odd number of times. Per nation: members, members
    inside the fence, and the inside share.

    The crossing test is a 5-edge in-row array fold (no join against an
    edge relation, nothing but the row itself), then one aggregate on
    the ~25-key nation dimension — scan-bound at any scale. The oracle
    unrolls the same edges through UNNEST and must agree exactly: the
    test is pure comparisons plus one IEEE division per edge.
    """
    from waterbear_spark.queries.wave3 import _pseudo_deg

    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    lat = _pseudo_deg(F.col("c_custkey"), "lat|", 180)
    lon = _pseudo_deg(F.col("c_custkey"), "lon|", 360)
    pts = c.select(
        "c_custkey",
        "c_nationkey",
        (_pip_crossings_expr(lon, lat) % 2 == 1).alias("inside"),
    )
    return (
        pts.join(F.broadcast(n), pts["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(F.col("inside").cast("int")).alias("n_inside"),
            F.round(
                F.sum(F.col("inside").cast("int")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("inside_share"),
        )
        .orderBy("n_name")
    )


def _pip_sql() -> str:
    from waterbear_spark.queries.wave3 import _pseudo_deg_sql

    edges = ", ".join(
        f"{{'x1': {x1}, 'y1': {y1}, 'x2': {x2}, 'y2': {y2}}}"
        for (x1, y1), (x2, y2) in zip(_POLY, _POLY[1:] + _POLY[:1])
    )
    return f"""
WITH pts AS (
    SELECT c_custkey, c_nationkey,
           {_pseudo_deg_sql("c_custkey", "lat|", 180)} AS py,
           {_pseudo_deg_sql("c_custkey", "lon|", 360)} AS px
    FROM customer
),
flagged AS (
    SELECT c_nationkey,
           LEN(LIST_FILTER([{edges}],
               e -> ((e.y1 > py) <> (e.y2 > py))
                    AND (px < (e.x2 - e.x1) * (py - e.y1) / (e.y2 - e.y1) + e.x1)
           )) % 2 = 1 AS inside
    FROM pts
)
SELECT n.n_name,
       COUNT(*) AS n_customers,
       CAST(SUM(CASE WHEN inside THEN 1 ELSE 0 END) AS BIGINT) AS n_inside,
       ROUND(CAST(SUM(CASE WHEN inside THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS inside_share
FROM flagged f JOIN nation n ON f.c_nationkey = n.n_nationkey
GROUP BY n.n_name
ORDER BY n.n_name
"""


# ---------------------------------------------------------------------------
# RAKE keyword extraction
# ---------------------------------------------------------------------------

_RAKE_STOP = (
    "the of and a an in on for to with is are was were by at from as that "
    "this it be or not but have has had i you he she they we"
).split()
_RAKE_TOPK = 15
_RAKE_MAX_PHRASE = 5  # RAKE standard: drop degenerate run-on phrases


def rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction over the document corpus: phrases are
    maximal stopword/punctuation-free runs, each word scores
    degree/frequency (degree = total length of phrases containing it),
    and a phrase scores the sum of its word scores. Top {k} phrases of
    2..{m} words by (score, phrase).

    Cross-engine determinism: word scores are one IEEE division rounded
    into exact decimal, so the phrase sum is order-free; both engines
    run the byte-identical regex pipeline (lowercase -> punctuation and
    stopwords to '|' -> split). Scale: the ONLY occurrence-multiplied
    shuffle is the distinct-phrase aggregate (map-side combinable);
    word stats derive from the distinct-phrase relation weighted by
    n_occurrences (freq = sum n, degree = sum n*plen — identical values
    by commutativity, so hashes are unchanged), so the word explode and
    the score join-back both run over distinct phrases only. Top-k via
    TakeOrdered, no global sort.
    """
    # Phrase extraction avoids NEGATED char classes: in this JVM a
    # `[^a-z0-9 ]+` replace runs ~30x slower than the equivalent
    # positive-class extract (java.util.regex takes its optimized
    # scan only for positive constructs; measured 2.6s vs 0.14s for
    # one pass over the sf1 corpus — the whole query's former budget).
    # So instead of punct->'|' over the full text, extract the maximal
    # `[a-z0-9 ]+` runs directly (identical segment multiset: the
    # pieces between punctuation runs), then break segments at
    # stopwords. The fan-out spreads the CPU-dense extract when the
    # scan has fewer splits than cores; no-op at production scale.
    from waterbear_spark.queries.llm import _fan_out

    docs = _fan_out(spark, table(spark, sf_dir, "documents").select("text"))
    stop_re = r"\b(" + "|".join(_RAKE_STOP) + r")\b"
    segs = docs.select(
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit(r"[a-z0-9 ]+"), 0)
        ).alias("seg")
    )
    cleaned = segs.select(F.regexp_replace("seg", stop_re, "|").alias("blob"))
    phrases = (
        cleaned.select(F.explode(F.split("blob", r"\|+")).alias("raw"))
        .select(F.trim(F.regexp_replace("raw", r" +", " ")).alias("phrase"))
        .filter(F.col("phrase") != "")
        .select("phrase", F.split("phrase", " ").alias("words"))
        .filter(F.size("words").between(2, _RAKE_MAX_PHRASE))
    )
    # collapse to DISTINCT phrases first: the occurrence-multiplied
    # stream crosses exactly one (combinable) shuffle, and everything
    # downstream — word stats, word explode, score join-back — runs on
    # the distinct-phrase relation weighted by n_occurrences
    dist = scope.persist(phrases.groupBy("phrase").agg(
        F.count(F.lit(1)).alias("n_occurrences"),
        F.max(F.size("words")).alias("n_words"),
    ))
    dw = dist.select(
        "phrase",
        "n_occurrences",
        "n_words",
        F.explode(F.split("phrase", " ")).alias("word"),
    )
    wstats = dw.groupBy("word").agg(
        F.sum("n_occurrences").alias("freq"),
        F.sum(F.col("n_occurrences") * F.col("n_words")).alias("degree"),
    )
    wscore = wstats.select(
        "word",
        F.round(F.col("degree").cast("double") / F.col("freq"), 6)
        .cast(DEC)
        .alias("wscore"),
    )
    return (
        dw.join(wscore, "word")
        .groupBy("phrase")
        .agg(F.sum("wscore").alias("score_dec"))
        .join(dist, "phrase")
        .select(
            "phrase",
            "n_words",
            "n_occurrences",
            F.round("score_dec", 6).cast("double").alias("score"),
        )
        .orderBy(F.col("score").desc(), "phrase")
        .limit(_RAKE_TOPK)
    )

rake_keywords.__doc__ = rake_keywords.__doc__.format(k=_RAKE_TOPK, m=_RAKE_MAX_PHRASE)


def _rake_sql() -> str:
    stop_re = r"\b(" + "|".join(_RAKE_STOP) + r")\b"
    return f"""
WITH cleaned AS (
    SELECT REGEXP_REPLACE(
               REGEXP_REPLACE(LOWER(text), '[^a-z0-9 ]+', '|', 'g'),
               '{stop_re}', '|', 'g') AS blob
    FROM documents
),
phrases AS (
    SELECT phrase, STR_SPLIT(phrase, ' ') AS words
    FROM (
        SELECT TRIM(REGEXP_REPLACE(UNNEST(STR_SPLIT_REGEX(blob, '\\|+')),
                                   ' +', ' ', 'g')) AS phrase
        FROM cleaned
    )
    WHERE phrase <> '' AND LEN(STR_SPLIT(phrase, ' ')) BETWEEN 2 AND {_RAKE_MAX_PHRASE}
),
pw AS (
    SELECT phrase, LEN(words) AS plen, UNNEST(words) AS word FROM phrases
),
wscore AS (
    SELECT word,
           CAST(ROUND(CAST(SUM(plen) AS DOUBLE) / COUNT(*), 6)
                AS DECIMAL(20,6)) AS wscore
    FROM pw GROUP BY word
),
occ AS (
    SELECT phrase, COUNT(*) AS n_occurrences, MAX(LEN(words)) AS n_words
    FROM phrases GROUP BY phrase
),
dw AS (
    SELECT phrase, UNNEST(STR_SPLIT(phrase, ' ')) AS word FROM occ
),
scored AS (
    SELECT dw.phrase, SUM(w.wscore) AS score_dec
    FROM dw JOIN wscore w USING (word)
    GROUP BY dw.phrase
)
SELECT s.phrase, o.n_words, o.n_occurrences,
       CAST(ROUND(s.score_dec, 6) AS DOUBLE) AS score
FROM scored s JOIN occ o USING (phrase)
ORDER BY score DESC, s.phrase
LIMIT {_RAKE_TOPK}
"""


# ---------------------------------------------------------------------------
# MASE forecast accuracy
# ---------------------------------------------------------------------------

_MASE_SEASON = 7


def mase_forecast_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MASE of the seasonal-naive forecaster (predict the value {s}
    steps back) on daily revenue per order priority, scaled by the
    in-sample one-step naive MAE — the Hyndman-Koehler scale-free
    accuracy score; MASE < 1 beats the random-walk baseline.

    Revenue per day is an exact decimal sum; both absolute-error series
    are decimal differences; the final ratio is one IEEE division. One
    shuffle to the (priority, day) grain, then windows over the tiny
    per-priority day series share a single Exchange.
    """
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(
        "o_orderpriority",
        F.date_trunc("day", F.col("o_orderdate").cast("timestamp_ntz")).alias("day"),
    ).agg(F.sum(F.col("o_totalprice").cast(DEC)).alias("rev"))
    w = Window.partitionBy("o_orderpriority").orderBy("day")
    err = daily.select(
        "o_orderpriority",
        F.abs(F.col("rev") - F.lag("rev", _MASE_SEASON).over(w)).alias("e_model"),
        F.abs(F.col("rev") - F.lag("rev", 1).over(w)).alias("e_naive"),
    )
    return (
        err.groupBy("o_orderpriority")
        .agg(
            F.count("e_model").alias("n_model"),
            F.count("e_naive").alias("n_naive"),
            F.round(F.sum("e_model").cast("double") / F.count("e_model"), 4).alias(
                "mae_model"
            ),
            F.round(F.sum("e_naive").cast("double") / F.count("e_naive"), 4).alias(
                "mae_naive"
            ),
            F.round(
                (F.sum("e_model").cast("double") / F.count("e_model"))
                / (F.sum("e_naive").cast("double") / F.count("e_naive")),
                6,
            ).alias("mase"),
        )
        .orderBy("o_orderpriority")
    )

mase_forecast_accuracy.__doc__ = mase_forecast_accuracy.__doc__.format(s=_MASE_SEASON)


MASE_SQL = f"""
WITH daily AS (
    SELECT o_orderpriority,
           DATE_TRUNC('day', o_orderdate) AS day,
           SUM(CAST(o_totalprice AS DECIMAL(20,6))) AS rev
    FROM orders GROUP BY 1, 2
),
err AS (
    SELECT o_orderpriority,
           ABS(rev - LAG(rev, {_MASE_SEASON}) OVER w) AS e_model,
           ABS(rev - LAG(rev, 1) OVER w) AS e_naive
    FROM daily
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY day)
)
SELECT o_orderpriority,
       COUNT(e_model) AS n_model,
       COUNT(e_naive) AS n_naive,
       ROUND(CAST(SUM(e_model) AS DOUBLE) / COUNT(e_model), 4) AS mae_model,
       ROUND(CAST(SUM(e_naive) AS DOUBLE) / COUNT(e_naive), 4) AS mae_naive,
       ROUND((CAST(SUM(e_model) AS DOUBLE) / COUNT(e_model))
             / (CAST(SUM(e_naive) AS DOUBLE) / COUNT(e_naive)), 6) AS mase
FROM err
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# KMV sketch set operations
# ---------------------------------------------------------------------------

_KMV_K = 256
_KMV_A = "view"
_KMV_B = "purchase"
_KMV_SPACE = float(16**12)  # hash domain (12 hex chars)


def kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct sketches over the user sets of two event types, with
    the full mergeable-set algebra: |A|, |B| from each sketch's k-th
    minimum ((k-1)/h_(k)), |A UNION B| from the merged sketch (k smallest
    of the union), Jaccard from the union sketch's members seen in both
    sets, and |A INTERSECT B| = J x |A U B| — each next to its exact
    counterpart, so the one-row report IS the error measurement.

    Scale: sketches shuffle only distinct (type, hash) pairs and every
    rank prune keeps k rows; the union/membership pass reuses the same
    md5 values, and all estimates are single IEEE divisions over exact
    integers — bit-identical in the oracle's window-function replica.
    """
    e = table(spark, sf_dir, "events")
    h = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 12), 16, 10
    ).cast("bigint")
    pts = (
        e.filter(F.col("event_type").isin(_KMV_A, _KMV_B))
        .select("event_type", h.alias("h"))
        .distinct()
    )
    pts = scope.persist(pts)

    # two-phase k-minimum selection: a local prune per (type, h%64)
    # bucket bounds every window partition to 1/64 of the hashes, then
    # the global per-type rank runs over <= 64k survivors — no
    # all-hashes-of-a-type window partition at any scale
    w_local = Window.partitionBy("event_type", F.col("h") % 64).orderBy("h")
    wt = Window.partitionBy("event_type").orderBy("h")
    per_type = (
        pts.select("event_type", "h", F.row_number().over(w_local).alias("lrk"))
        .filter(F.col("lrk") <= _KMV_K)
        .select("event_type", "h", F.row_number().over(wt).alias("rk"))
        .filter(F.col("rk") <= _KMV_K)
        .groupBy("event_type")
        .agg(F.max("h").alias("kth"), F.count(F.lit(1)).alias("sk_n"))
        .select(
            "event_type",
            F.when(
                F.col("sk_n") < _KMV_K, F.col("sk_n").cast("double")
            )  # undersaturated sketch holds the whole set: exact
            .otherwise(
                (_KMV_K - 1) * _KMV_SPACE / F.col("kth").cast("double")
            )
            .alias("est"),
        )
    )
    flags = pts.groupBy("h").agg(
        F.max((F.col("event_type") == _KMV_A).cast("int")).alias("in_a"),
        F.max((F.col("event_type") == _KMV_B).cast("int")).alias("in_b"),
    )
    wu_local = Window.partitionBy(F.col("h") % 64).orderBy("h")
    wu = Window.orderBy("h")
    union_sk = (
        flags.select(
            "h", "in_a", "in_b", F.row_number().over(wu_local).alias("lrk")
        )
        .filter(F.col("lrk") <= _KMV_K)
        .select("h", "in_a", "in_b", F.row_number().over(wu).alias("rk"))
        .filter(F.col("rk") <= _KMV_K)
        .agg(
            F.max("h").alias("kth"),
            F.count(F.lit(1)).alias("sk_n"),
            F.sum((F.col("in_a") * F.col("in_b"))).alias("n_both"),
        )
    )
    exact = flags.agg(
        F.sum("in_a").alias("exact_a"),
        F.sum("in_b").alias("exact_b"),
        F.count(F.lit(1)).alias("exact_union"),
        F.sum(F.col("in_a") * F.col("in_b")).alias("exact_inter"),
    )
    # r12: pivot the 2-row per-type relation into one (est_a, est_b) row
    # with conditional aggregates — the r11 pair of filters evaluated the
    # whole two-phase rank-window chain once PER SIDE (plan: 2x Window
    # chain -> 1x); exactly one row per type exists, so max(when(...))
    # is that row's est verbatim
    ests = per_type.agg(
        F.max(F.when(F.col("event_type") == _KMV_A, F.col("est"))).alias(
            "est_a"
        ),
        F.max(F.when(F.col("event_type") == _KMV_B, F.col("est"))).alias(
            "est_b"
        ),
    )
    return (
        union_sk.crossJoin(F.broadcast(ests))
        .crossJoin(F.broadcast(exact))
        .select(
            F.lit(_KMV_K).alias("k"),
            F.round("est_a", 2).alias("est_a"),
            "exact_a",
            F.round("est_b", 2).alias("est_b"),
            "exact_b",
            F.round(
                F.when(
                    F.col("sk_n") < _KMV_K, F.col("sk_n").cast("double")
                ).otherwise((_KMV_K - 1) * _KMV_SPACE / F.col("kth").cast("double")),
                2,
            ).alias("est_union"),
            "exact_union",
            F.round(F.col("n_both").cast("double") / F.col("sk_n"), 6).alias(
                "jaccard_est"
            ),
            F.round(
                F.col("n_both").cast("double")
                / F.col("sk_n")
                * F.when(
                    F.col("sk_n") < _KMV_K, F.col("sk_n").cast("double")
                ).otherwise((_KMV_K - 1) * _KMV_SPACE / F.col("kth").cast("double")),
                2,
            ).alias("est_inter"),
            "exact_inter",
        )
    )


KMV_SET_OPS_SQL = f"""
WITH pts AS (
    SELECT DISTINCT event_type,
           CAST(('0x' || SUBSTR(MD5(CAST(user_id AS VARCHAR)), 1, 12))
                AS UBIGINT)::BIGINT AS h
    FROM events
    WHERE event_type IN ('{_KMV_A}', '{_KMV_B}')
),
per_type AS (
    SELECT event_type,
           CASE WHEN COUNT(*) < {_KMV_K} THEN CAST(COUNT(*) AS DOUBLE)
                ELSE ({_KMV_K} - 1) * {_KMV_SPACE} / CAST(MAX(h) AS DOUBLE)
           END AS est
    FROM (
        SELECT event_type, h,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rk
        FROM pts
    ) WHERE rk <= {_KMV_K}
    GROUP BY event_type
),
flags AS (
    SELECT h,
           MAX(CASE WHEN event_type = '{_KMV_A}' THEN 1 ELSE 0 END) AS in_a,
           MAX(CASE WHEN event_type = '{_KMV_B}' THEN 1 ELSE 0 END) AS in_b
    FROM pts GROUP BY h
),
union_sk AS (
    SELECT MAX(h) AS kth, COUNT(*) AS sk_n, SUM(in_a * in_b) AS n_both
    FROM (
        SELECT h, in_a, in_b, ROW_NUMBER() OVER (ORDER BY h) AS rk FROM flags
    ) WHERE rk <= {_KMV_K}
),
exact AS (
    SELECT CAST(SUM(in_a) AS BIGINT) AS exact_a,
           CAST(SUM(in_b) AS BIGINT) AS exact_b,
           COUNT(*) AS exact_union,
           CAST(SUM(in_a * in_b) AS BIGINT) AS exact_inter
    FROM flags
)
SELECT {_KMV_K} AS k,
       ROUND(a.est, 2) AS est_a, exact_a,
       ROUND(b.est, 2) AS est_b, exact_b,
       ROUND(CASE WHEN u.sk_n < {_KMV_K} THEN CAST(u.sk_n AS DOUBLE)
                  ELSE ({_KMV_K} - 1) * {_KMV_SPACE} / CAST(u.kth AS DOUBLE)
             END, 2) AS est_union,
       exact_union,
       ROUND(CAST(u.n_both AS DOUBLE) / u.sk_n, 6) AS jaccard_est,
       ROUND(CAST(u.n_both AS DOUBLE) / u.sk_n
             * CASE WHEN u.sk_n < {_KMV_K} THEN CAST(u.sk_n AS DOUBLE)
                    ELSE ({_KMV_K} - 1) * {_KMV_SPACE} / CAST(u.kth AS DOUBLE)
               END, 2) AS est_inter,
       exact_inter
FROM union_sk u
CROSS JOIN (SELECT est FROM per_type WHERE event_type = '{_KMV_A}') a(est)
CROSS JOIN (SELECT est FROM per_type WHERE event_type = '{_KMV_B}') b(est)
CROSS JOIN exact
"""


QUERIES = {
    "target_encoding": target_encoding,
    "point_in_polygon": point_in_polygon,
    "rake_keywords": rake_keywords,
    "mase_forecast_accuracy": mase_forecast_accuracy,
    "kmv_set_ops": kmv_set_ops,
}

ORACLES = {
    "target_encoding": TARGET_ENCODING_SQL,
    "point_in_polygon": _pip_sql(),
    "rake_keywords": _rake_sql(),
    "mase_forecast_accuracy": MASE_SQL,
    "kmv_set_ops": KMV_SET_OPS_SQL,
}
