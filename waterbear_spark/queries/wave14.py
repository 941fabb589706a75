"""Round-4 wave-14 operators: multi-touch attribution, graph clustering
coefficient, tolerance-bounded as-of join, and embedding centroid drift.

* ``attribution_multitouch`` — linear and time-decay credit allocation
  across the touches (clicks AND views) preceding each purchase: the
  multi-touch upgrade of the last-touch [[attribution_join]]. Credit
  weights are per-row decimals (1/k and normalized 2^-floor(dt/h)
  rounded once), so the per-channel sums are exact and order-free.
* ``clustering_coefficient`` — the global clustering coefficient
  C = 6·T / Σ deg(deg−1) of the nation trade graph (triangle closure
  rate), the one-number summary on top of [[triangle_count_nations]];
  the doubled-wedge identity keeps every term integer.
* ``asof_tolerance_join`` — as-of join with a STALENESS BOUND (pandas
  ``merge_asof(tolerance=...)`` semantics): each event gets the user's
  most recent order only if it is at most 30 days old, else NULL — the
  match is nulled AFTER the unbounded as-of pick, which is equivalent
  because any older candidate is staler still.
* ``embedding_centroid_drift`` — per-label embedding centroids and
  their cosine to the global centroid: the drift monitor that catches
  a label's embedding distribution wandering (bad batch, encoder
  regression). Component sums run in decimal (order-free); the final
  64-term dot products fold in dimension order.

Float determinism follows the house rules in ``tables.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from waterbear_spark import scope
from waterbear_spark.queries.graph import _EDGES_CTE, _und_edges
from waterbear_spark.queries.tables import epoch_us, table

_D38 = "decimal(38,0)"


# ---------------------------------------------------------------------------
# Multi-touch attribution
# ---------------------------------------------------------------------------

_MT_WITHIN_MIN = 10  # attribution window (minutes)
_MT_HALFLIFE_MIN = 2  # decay half-life (minutes)


def attribution_multitouch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch attribution over the events stream: every purchase
    WITH at least one touch distributes one unit of credit across the
    same user's click/view touches in the preceding 10 minutes
    (touchless purchases are unattributed and carry no credit) — LINEAR (1/k each) and
    TIME-DECAY (weight 2^-floor(minutes_before / halflife), normalized
    per purchase) — reported per touch channel. The decay exponent is
    an integer floor, so the raw weight is an exact power of two;
    weights are rounded to DECIMAL(20,12) once per row and summed
    exactly, making the channel totals order-free.

    Scale: the touch join is the same user-keyed time-band join as
    [[attribution_join]] (one shuffle per side, state bounded by the
    window in the streaming twin); credit math is row-local plus one
    per-purchase aggregate over <= window-bounded touches.
    """
    ev = table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", epoch_us("ts").alias("us")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        F.col("user_id").alias("p_user"),
        F.col("us").alias("p_us"),
    )
    touches = ev.filter(F.col("event_type").isin("click", "view")).select(
        F.col("event_id").alias("t_id"),
        F.col("user_id").alias("t_user"),
        F.col("event_type").alias("channel"),
        F.col("us").alias("t_us"),
    )
    win_us = _MT_WITHIN_MIN * 60_000_000
    pairs = purchases.join(
        touches,
        (F.col("p_user") == F.col("t_user"))
        & (F.col("t_us") <= F.col("p_us"))
        & (F.col("t_us") > F.col("p_us") - F.lit(win_us)),
    )
    decay_exp = F.floor(
        (F.col("p_us") - F.col("t_us")) / F.lit(_MT_HALFLIFE_MIN * 60_000_000)
    )
    raw_w = F.pow(F.lit(2.0), -decay_exp.cast("double"))
    per_p = Window.partitionBy("p_id")
    k = F.count(F.lit(1)).over(per_p)
    wsum = F.sum(raw_w).over(per_p)  # <= 5 exact powers of two: exact sum
    credited = pairs.select(
        "channel",
        F.round(F.lit(1.0) / k, 12).cast("decimal(20,12)").alias("lin"),
        F.round(raw_w / wsum, 12).cast("decimal(20,12)").alias("dec"),
    )
    return (
        credited.groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_touches"),
            F.sum("lin").cast("double").alias("linear_credit"),
            F.sum("dec").cast("double").alias("decay_credit"),
        )
        .orderBy("channel")
    )


_MULTITOUCH_SQL = f"""
WITH ev AS MATERIALIZED (
    SELECT event_id, user_id, event_type, epoch_us(ts) AS us FROM events
),
pairs AS MATERIALIZED (
    SELECT p.event_id AS p_id, t.event_type AS channel,
           p.us - t.us AS dt
    FROM (SELECT * FROM ev WHERE event_type = 'purchase') p
    JOIN (SELECT * FROM ev WHERE event_type IN ('click', 'view')) t
      ON p.user_id = t.user_id
     AND t.us <= p.us
     AND t.us > p.us - {_MT_WITHIN_MIN * 60_000_000}
),
weighted AS (
    SELECT p_id, channel,
           POW(2.0, -CAST(dt // {_MT_HALFLIFE_MIN * 60_000_000} AS DOUBLE))
               AS raw_w
    FROM pairs
),
credited AS (
    SELECT channel,
           CAST(ROUND(1.0 / COUNT(*) OVER (PARTITION BY p_id), 12)
                AS DECIMAL(20,12)) AS lin,
           CAST(ROUND(raw_w / SUM(raw_w) OVER (PARTITION BY p_id), 12)
                AS DECIMAL(20,12)) AS "dec"
    FROM weighted
)
SELECT channel,
       COUNT(*) AS n_touches,
       CAST(SUM(lin) AS DOUBLE) AS linear_credit,
       CAST(SUM("dec") AS DOUBLE) AS decay_credit
FROM credited
GROUP BY channel
ORDER BY channel
"""


# ---------------------------------------------------------------------------
# Global clustering coefficient
# ---------------------------------------------------------------------------


def clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global clustering coefficient of the nation trade graph:
    C = 6·T / Σ deg(deg−1) (closed wedges over all wedges) — the
    one-number cohesion summary on top of [[triangle_count_nations]].
    Triangles close via the canonical a<b<c wedge join; the doubled
    wedge count Σ deg(deg−1) = 2·#wedges avoids the /2, keeping every
    aggregate integer until the single closing division.

    Scale: degree census is |nodes| rows; the wedge-close join runs on
    the bounded edge list exactly as in triangle counting.
    """
    und = scope.persist(_und_edges(spark, sf_dir))
    deg = und.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    wedges2 = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum(F.col("deg") * (F.col("deg") - 1)).alias("two_wedges"),
        (F.sum("deg") / 2).cast("bigint").alias("n_edges"),
    )
    # directed edges a->b with a<b (each undirected edge once)
    e = und.filter(F.col("src") < F.col("dst"))
    e2 = e.select(F.col("src").alias("b2"), F.col("dst").alias("c"))
    e3 = e.select(F.col("src").alias("a3"), F.col("dst").alias("c3"))
    tris = (
        e.join(e2, F.col("dst") == F.col("b2"))
        .join(
            e3,
            (F.col("src") == F.col("a3")) & (F.col("c") == F.col("c3")),
            "left_semi",
        )
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return wedges2.crossJoin(F.broadcast(tris)).select(
        "n_nodes",
        "n_edges",
        "n_triangles",
        F.when(
            F.col("two_wedges") > 0,
            F.round(
                6.0 * F.col("n_triangles") / F.col("two_wedges").cast("double"),
                6,
            ),
        ).alias("global_clustering"),
    )


_CLUSTERING_SQL = f"""
WITH {_EDGES_CTE},
deg AS MATERIALIZED (SELECT src, COUNT(*) AS deg FROM und GROUP BY src),
w2 AS (
    SELECT COUNT(*) AS n_nodes,
           CAST(SUM(deg * (deg - 1)) AS BIGINT) AS two_wedges,
           CAST(SUM(deg) // 2 AS BIGINT) AS n_edges
    FROM deg
),
e AS MATERIALIZED (SELECT src, dst FROM und WHERE src < dst),
tris AS (
    SELECT COUNT(*) AS n_triangles
    FROM e e1
    JOIN e e2 ON e1.dst = e2.src
    WHERE EXISTS (SELECT 1 FROM e e3
                  WHERE e3.src = e1.src AND e3.dst = e2.dst)
)
SELECT n_nodes, n_edges, CAST(n_triangles AS BIGINT) AS n_triangles,
       CASE WHEN two_wedges > 0
            THEN ROUND(6.0 * n_triangles / CAST(two_wedges AS DOUBLE), 6) END
           AS global_clustering
FROM w2, tris
"""


# ---------------------------------------------------------------------------
# Tolerance-bounded as-of join
# ---------------------------------------------------------------------------

_ASOF_TOL_MIN = 60  # staleness tolerance (minutes)


def asof_tolerance_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a staleness tolerance (pandas
    ``merge_asof(tolerance=...)`` semantics): each CLICK takes the same
    user's most recent PURCHASE at-or-before the click ONLY if it is at
    most 60 minutes old; staler matches become NULL ("was this click
    part of a live purchase session?"). Computed as the unbounded
    union-timeline as-of pick followed by a null-out — an EQUIVALENT
    rewrite, because every other candidate is older than the picked
    one, so "picked too stale" implies "all too stale". Both branches
    are live on the events data (purchase gaps range from minutes to
    days).

    Scale: identical to [[asof_last_order]] (one union-timeline shuffle
    on the key, no join operator); the tolerance adds one row-local
    comparison — no second pass, unlike the naive bounded LATERAL.
    """
    from waterbear_spark.operators.asof import asof_join

    ev = table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("p_id"),
        F.col("ts").alias("p_ts"),
    )
    joined = asof_join(
        clicks,
        purchases,
        on_left="user_id",
        on_right="p_user",
        left_time="ts",
        right_time="p_ts",
        value_cols=["p_id", "p_ts"],
        tiebreak="p_id",
    )
    staleness_us = epoch_us(F.col("ts")) - epoch_us(F.col("p_ts"))
    staleness_min = F.floor(staleness_us / 60_000_000)
    # tolerance applies at microsecond precision (the floored minutes
    # column is display-only — comparing the floor would smuggle in up
    # to 59.99s of extra tolerance the LATERAL oracle doesn't grant)
    fresh = staleness_us <= _ASOF_TOL_MIN * 60_000_000
    return joined.select(
        "event_id",
        "user_id",
        F.when(fresh, F.col("p_id")).alias("fresh_purchase_id"),
        F.when(fresh, staleness_min).cast("int").alias("staleness_min"),
    ).orderBy("event_id")


_ASOF_TOL_SQL = f"""
SELECT e.event_id, e.user_id,
       p.event_id AS fresh_purchase_id,
       CAST((epoch_us(e.ts) - epoch_us(p.ts)) // 60000000 AS INTEGER)
           AS staleness_min
FROM (SELECT * FROM events WHERE event_type = 'click') e
LEFT JOIN LATERAL (
    SELECT event_id, ts
    FROM events
    WHERE event_type = 'purchase'
      AND user_id = e.user_id
      AND ts <= e.ts
      AND epoch_us(ts) >= epoch_us(e.ts) - {_ASOF_TOL_MIN * 60_000_000}
    ORDER BY ts DESC, event_id DESC
    LIMIT 1
) p ON TRUE
ORDER BY e.event_id
"""


# ---------------------------------------------------------------------------
# Embedding centroid drift
# ---------------------------------------------------------------------------


def embedding_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid vs the global centroid: cosine
    similarity per label — the drift monitor for "did one label's
    embedding distribution wander?" (bad ingestion batch, encoder
    regression). Component sums accumulate in DECIMAL(20,6) after one
    per-row rounding (order-free, exact); each label's 64-term dot
    product folds in dimension order, so the cosine is bit-identical
    across engines.

    Scale: posexplode is docs × dims rows into ONE combinable aggregate
    on (label, dim) — the standard dense-vector reduction; the closing
    fold runs on |labels| × dims cells.
    """
    emb = table(spark, sf_dir, "embeddings").select(
        "label", F.posexplode("embedding").alias("dim", "x")
    )
    # widen float->double FIRST (exact), then the house double->decimal
    # quantization — the direct float->decimal casts disagree between
    # engines at half-ulp boundaries (measured: 1e-7 cosine drift)
    comp = F.col("x").cast("double").cast("decimal(20,6)")
    cells = emb.groupBy("label", "dim").agg(
        F.sum(comp).alias("s"), F.count(F.lit(1)).alias("n")
    )
    lab = cells.select(
        "label", "dim", (F.col("s").cast("double") / F.col("n")).alias("c")
    )
    glob = (
        cells.groupBy("dim")
        .agg(
            (F.sum("s").cast("double") / F.sum("n")).alias("g"),
        )
    )
    terms = lab.join(F.broadcast(glob), "dim").select(
        "label",
        "dim",
        (F.col("c") * F.col("g")).alias("dot_t"),
        (F.col("c") * F.col("c")).alias("cc_t"),
        (F.col("g") * F.col("g")).alias("gg_t"),
    )

    def fold(col):
        return F.aggregate(
            F.array_sort(F.collect_list(F.struct("dim", F.col(col).alias("v")))),
            F.lit(0.0),
            lambda acc, x: acc + x["v"],
        )

    counts = cells.groupBy("label").agg(
        (F.max("n")).alias("n_vecs")
    )
    return (
        terms.groupBy("label")
        .agg(
            fold("dot_t").alias("dot"),
            fold("cc_t").alias("cc"),
            fold("gg_t").alias("gg"),
        )
        .join(F.broadcast(counts), "label")
        .select(
            "label",
            "n_vecs",
            F.round(
                F.col("dot") / (F.sqrt("cc") * F.sqrt("gg")), 8
            ).alias("cos_to_global"),
        )
        .orderBy("label")
    )


_CENTROID_SQL = """
WITH emb AS MATERIALIZED (
    SELECT label, u.pos AS dim,
           CAST(CAST(u.x AS DOUBLE) AS DECIMAL(20,6)) AS x
    FROM (
        SELECT label,
               unnest(list_transform(embedding,
                      (x, i) -> struct_pack(pos := i - 1, x := x))) AS u
        FROM embeddings
    )
),
cells AS MATERIALIZED (
    SELECT label, dim, SUM(x) AS s, COUNT(*) AS n
    FROM emb GROUP BY label, dim
),
lab AS (SELECT label, dim, CAST(s AS DOUBLE) / n AS c FROM cells),
gcent AS (
    SELECT dim, CAST(SUM(s) AS DOUBLE) / SUM(n) AS g
    FROM cells GROUP BY dim
),
terms AS (
    SELECT label, dim, c * g AS dot_t, c * c AS cc_t, g * g AS gg_t
    FROM lab JOIN gcent USING (dim)
),
counts AS (SELECT label, CAST(MAX(n) AS BIGINT) AS n_vecs FROM cells GROUP BY label)
SELECT label, n_vecs,
       ROUND(list_aggregate(list(dot_t ORDER BY dim), 'sum')
             / (SQRT(list_aggregate(list(cc_t ORDER BY dim), 'sum'))
                * SQRT(list_aggregate(list(gg_t ORDER BY dim), 'sum'))), 8)
           AS cos_to_global
FROM terms
JOIN counts USING (label)
GROUP BY label, n_vecs
ORDER BY label
"""


QUERIES = {
    "attribution_multitouch": attribution_multitouch,
    "clustering_coefficient": clustering_coefficient,
    "asof_tolerance_join": asof_tolerance_join,
    "embedding_centroid_drift": embedding_centroid_drift,
}
ORACLES = {
    "attribution_multitouch": _MULTITOUCH_SQL,
    "clustering_coefficient": _CLUSTERING_SQL,
    "asof_tolerance_join": _ASOF_TOL_SQL,
    "embedding_centroid_drift": _CENTROID_SQL,
}
