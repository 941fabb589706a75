"""Round-3 wave-8 operators: grid-DBSCAN density clustering, rolling-
origin forecast backtesting, frequent triples, event trigram mining,
and the out-of-order arrival census that sizes streaming watermarks.

Operator families the catalog didn't cover yet:

* ``grid_dbscan`` — density-based clustering at scale: grid cells with
  >= minPts points are "core" cells, adjacent core cells (8-neighbor)
  merge into clusters via the large-star/small-star CC operator — the
  standard shuffle-friendly DBSCAN surrogate (cell-DBSCAN): no
  point-to-point epsilon join ever runs.
* ``rolling_origin_backtest`` — rolling-origin (walk-forward)
  evaluation of a 7-day moving-average forecaster: the time-series
  cross-validation discipline (never test on the past), reported as
  MAE / bias / MAPE over all one-step origins.
* ``frequent_triples`` — Apriori depth-3: frequent part triples from
  order baskets, the basket-bounded 3-way self-join that never
  approaches |items|^3.
* ``event_trigrams`` — sequential pattern depth-3: the most common
  3-step event-type paths per user timeline (two LEADs, one count).
* ``late_arrival_census`` — per event type, how many events arrive
  out-of-order w.r.t. their user's already-seen max timestamp, and how
  late — EXACTLY the statistic that sizes a streaming watermark
  (``streaming/windows.py`` consumes a delay chosen from this).

Float determinism follows the house rules in ``tables.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from waterbear_spark.queries.tables import DEC, epoch_us, table


# ---------------------------------------------------------------------------
# Grid-DBSCAN
# ---------------------------------------------------------------------------

_DB_CELL = 32    # cell width over the [0, 1024)^2 pseudo-coordinate space
_DB_MINPTS = 6   # core-cell density threshold
_DB_SPAN = 1024 // _DB_CELL  # cells per axis


def grid_dbscan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cell-DBSCAN over customers at md5 pseudo-coordinates (the
    [[grid_neighbor_join]] generator): bucket points into {c}x{c}-unit
    cells, keep cells with >= {m} points (core cells), union
    8-neighbor-adjacent core cells into clusters with
    [[dedup_clusters]]'s connected-components operator, and
    report each cluster's cell count, point count, and bounding box.

    This is THE scale-out DBSCAN shape: density decisions and cluster
    merges happen on the CELL relation (|occupied cells| rows, bounded
    by the grid, not the data), so no epsilon-join over points exists
    anywhere. Self-edges keep isolated core cells as singleton
    clusters. Points in non-core cells are noise by definition;
    [[grid_neighbor_join]] covers the point-level epsilon join where
    exact point adjacency matters.
    """
    from waterbear_spark.operators.starcc import star_connected_components
    from waterbear_spark.queries.relational_more import _pseudo_coord

    pts = table(spark, sf_dir, "customer").select(
        (_pseudo_coord(F.col("c_custkey"), "gx|") / _DB_CELL)
        .cast("bigint")
        .alias("cx"),
        (_pseudo_coord(F.col("c_custkey"), "gy|") / _DB_CELL)
        .cast("bigint")
        .alias("cy"),
    )
    cells = (
        pts.groupBy("cx", "cy")
        .agg(F.count(F.lit(1)).alias("n_pts"))
        .filter(F.col("n_pts") >= _DB_MINPTS)
        .select(
            "cx", "cy", "n_pts", (F.col("cx") * _DB_SPAN + F.col("cy")).alias("cid")
        )
    )
    cells = cells.persist()
    nbr = (
        cells.select(
            "cid",
            "cx",
            "cy",
            F.explode(F.sequence(F.lit(-1), F.lit(1))).alias("dx"),
        )
        .select(
            "cid",
            F.explode(F.sequence(F.lit(-1), F.lit(1))).alias("dy"),
            (F.col("cx") + F.col("dx")).alias("nx"),
            F.col("cy").alias("cy0"),
        )
        .select("cid", "nx", (F.col("cy0") + F.col("dy")).alias("ny"))
    )
    other = cells.select(
        F.col("cx").alias("nx"), F.col("cy").alias("ny"), F.col("cid").alias("cid2")
    )
    edges = nbr.join(other, ["nx", "ny"]).select("cid", "cid2")
    labels = star_connected_components(edges, src="cid", dst="cid2")
    return (
        # left join + coalesce: starcc drops self-loops, so an ISOLATED
        # core cell gets no label — it is its own singleton cluster
        cells.join(labels, cells["cid"] == labels["vertex"], "left")
        .groupBy(
            F.coalesce(F.col("component"), F.col("cid")).alias("cluster")
        )
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.sum("n_pts").alias("n_points"),
            F.min("cx").alias("min_cx"),
            F.max("cx").alias("max_cx"),
            F.min("cy").alias("min_cy"),
            F.max("cy").alias("max_cy"),
        )
        .orderBy(F.col("n_points").desc(), "cluster")
    )

grid_dbscan.__doc__ = grid_dbscan.__doc__.format(c=_DB_CELL, m=_DB_MINPTS)


def _dbscan_sql() -> str:
    from waterbear_spark.queries.relational_more import _pseudo_coord_sql

    return f"""
WITH RECURSIVE pts AS (
    SELECT ({_pseudo_coord_sql("c_custkey", "gx|")}) // {_DB_CELL} AS cx,
           ({_pseudo_coord_sql("c_custkey", "gy|")}) // {_DB_CELL} AS cy
    FROM customer
),
cells AS (
    SELECT cx, cy, COUNT(*) AS n_pts, cx * {_DB_SPAN} + cy AS cid
    FROM pts GROUP BY cx, cy
    HAVING COUNT(*) >= {_DB_MINPTS}
),
edges AS (
    SELECT a.cid AS s, b.cid AS d
    FROM cells a
    JOIN cells b
      ON b.cx BETWEEN a.cx - 1 AND a.cx + 1
     AND b.cy BETWEEN a.cy - 1 AND a.cy + 1
),
reach AS (
    SELECT s AS v, d AS r FROM edges
    UNION
    SELECT reach.v, edges.d FROM reach JOIN edges ON reach.r = edges.s
),
comp AS (
    SELECT v AS cid, LEAST(v, MIN(r)) AS component FROM reach GROUP BY v
)
SELECT c2.component AS cluster,
       COUNT(*) AS n_cells,
       CAST(SUM(c.n_pts) AS BIGINT) AS n_points,
       MIN(c.cx) AS min_cx, MAX(c.cx) AS max_cx,
       MIN(c.cy) AS min_cy, MAX(c.cy) AS max_cy
FROM cells c JOIN comp c2 USING (cid)
GROUP BY c2.component
ORDER BY n_points DESC, cluster
"""


# ---------------------------------------------------------------------------
# Rolling-origin forecast backtest
# ---------------------------------------------------------------------------

_RO_WINDOW = 7


def rolling_origin_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-origin (walk-forward) backtest of the {w}-day
    moving-average forecaster on daily revenue: every day with a full
    {w}-day history becomes a one-step test origin; the report is the
    out-of-sample MAE, bias (mean signed error), and MAPE — the
    time-series cross-validation that never leaks the future into the
    fit window.

    Exactness: daily revenue and the window sum are exact decimal; the
    forecast is one division rounded back into decimal, so every error
    term and the closing averages are order-free. One shuffle to day
    grain; the backtest window and the final aggregate ride the
    calendar-sized series.
    """
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.date_trunc("day", F.col("o_orderdate").cast("timestamp_ntz")).alias("day")
    ).agg(F.sum(F.col("o_totalprice").cast(DEC)).alias("rev"))
    w = (
        Window.orderBy("day").rowsBetween(-_RO_WINDOW, -1)
    )
    tested = daily.select(
        "day",
        "rev",
        F.count("rev").over(w).alias("hist_n"),
        F.round(
            F.sum("rev").over(w).cast("double") / _RO_WINDOW, 6
        )
        .cast(DEC)
        .alias("fcst"),
    ).filter(F.col("hist_n") == _RO_WINDOW)
    err = F.col("rev") - F.col("fcst")
    return tested.agg(
        F.count(F.lit(1)).alias("n_origins"),
        F.round(F.sum(F.abs(err)).cast("double") / F.count(F.lit(1)), 4).alias(
            "mae"
        ),
        F.round(F.sum(err).cast("double") / F.count(F.lit(1)), 4).alias("bias"),
        F.round(
            F.sum(
                F.round(F.abs(err).cast("double") / F.col("rev").cast("double"), 8)
                .cast(DEC)
            ).cast("double")
            / F.count(F.lit(1))
            * 100.0,
            4,
        ).alias("mape_pct"),
    )

rolling_origin_backtest.__doc__ = rolling_origin_backtest.__doc__.format(w=_RO_WINDOW)


ROLLING_ORIGIN_SQL = f"""
WITH daily AS (
    SELECT DATE_TRUNC('day', o_orderdate) AS day,
           SUM(CAST(o_totalprice AS DECIMAL(20,6))) AS rev
    FROM orders GROUP BY 1
),
tested AS (
    SELECT day, rev,
           COUNT(rev) OVER w AS hist_n,
           CAST(ROUND(CAST(SUM(rev) OVER w AS DOUBLE) / {_RO_WINDOW}, 6)
                AS DECIMAL(20,6)) AS fcst
    FROM daily
    WINDOW w AS (ORDER BY day ROWS BETWEEN {_RO_WINDOW} PRECEDING AND 1 PRECEDING)
)
SELECT COUNT(*) AS n_origins,
       ROUND(CAST(SUM(ABS(rev - fcst)) AS DOUBLE) / COUNT(*), 4) AS mae,
       ROUND(CAST(SUM(rev - fcst) AS DOUBLE) / COUNT(*), 4) AS bias,
       ROUND(CAST(SUM(CAST(ROUND(CAST(ABS(rev - fcst) AS DOUBLE)
                                 / CAST(rev AS DOUBLE), 8) AS DECIMAL(20,6)))
                  AS DOUBLE) / COUNT(*) * 100.0, 4) AS mape_pct
FROM tested
WHERE hist_n = {_RO_WINDOW}
"""


# ---------------------------------------------------------------------------
# Frequent triples (Apriori depth 3)
# ---------------------------------------------------------------------------

_TRI_TOPK = 15


def frequent_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent part TRIPLES from order baskets — Apriori depth 3,
    extending [[itemset_pair_lift]]: each order's sorted distinct item
    array unnests its own C(basket, 3) ascending triples ROW-LOCALLY
    (the oracle's per-basket form; the former 3-way self equi-join on
    the order key produced the identical relation through two extra
    exchanges). Baskets are single-digit, so the candidate space is
    sum-of-C(basket,3) over baskets — linear-ish in orders, never
    |parts|^3. Support = triple orders / total orders. Top {k} by count.
    """
    baskets = (
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("items"))
        .persist()
    )
    tot = baskets.agg(F.count(F.lit(1)).alias("tot_orders"))
    triple_arr = F.expr(
        "flatten(transform(items, (x, i) ->"
        " flatten(transform(slice(items, i + 2, size(items)), (y, j) ->"
        " transform(slice(items, i + j + 3, size(items)),"
        " z -> struct(x AS pa, y AS pb, z AS pc))))))"
    )
    return (
        baskets.select(F.explode(triple_arr).alias("t"))
        .select(
            F.col("t.pa").alias("pa"),
            F.col("t.pb").alias("pb"),
            F.col("t.pc").alias("pc"),
        )
        .groupBy("pa", "pb", "pc")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .crossJoin(F.broadcast(tot))
        .select(
            "pa",
            "pb",
            "pc",
            "n_orders",
            F.round(
                F.col("n_orders").cast("double") / F.col("tot_orders"), 6
            ).alias("support"),
        )
        .orderBy(F.col("n_orders").desc(), "pa", "pb", "pc")
        .limit(_TRI_TOPK)
    )

frequent_triples.__doc__ = frequent_triples.__doc__.format(k=_TRI_TOPK)


# per-basket enumeration, not a 3-way self-join: baskets are bounded
# (<=7 items), so unnesting each sorted basket's C(m,3) ascending triples
# is linear in orders — the former self-join twin was the one oracle that
# blew the sf1 certification budget (51 CPU-hours; the engine side takes
# ~4 s) while producing the identical relation.  Verified equal to the
# self-join form at sf0.01/sf0.1 before the swap.
FREQUENT_TRIPLES_SQL = f"""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM li),
b AS (SELECT l_orderkey, list_sort(list(l_partkey)) AS items
      FROM li GROUP BY l_orderkey)
SELECT i1.it AS pa, i2.it AS pb, i3.it AS pc,
       COUNT(*) AS n_orders,
       ROUND(CAST(COUNT(*) AS DOUBLE) / (SELECT n_orders FROM n), 6) AS support
FROM b,
     UNNEST(items) AS i1(it),
     UNNEST(items) AS i2(it),
     UNNEST(items) AS i3(it)
WHERE i1.it < i2.it AND i2.it < i3.it
GROUP BY pa, pb, pc
ORDER BY n_orders DESC, pa, pb, pc
LIMIT {_TRI_TOPK}
"""


# ---------------------------------------------------------------------------
# Event trigram mining
# ---------------------------------------------------------------------------

_TG_TOPK = 15


def event_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top {k} 3-step event-type paths over user timelines — sequential
    pattern depth 3 (extends [[top_event_paths]]'s transitions): two
    LEADs on the (ts, event_id)-ordered per-user window, one count.
    One shuffle on user_id; both LEADs share the window Exchange.
    """
    ev = table(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tri = ev.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).filter(F.col("e3").isNotNull())
    return (
        tri.groupBy("e1", "e2", "e3")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "e1", "e2", "e3")
        .limit(_TG_TOPK)
    )

event_trigrams.__doc__ = event_trigrams.__doc__.format(k=_TG_TOPK)


EVENT_TRIGRAMS_SQL = f"""
WITH tri AS (
    SELECT event_type AS e1,
           LEAD(event_type, 1) OVER w AS e2,
           LEAD(event_type, 2) OVER w AS e3
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT e1, e2, e3, COUNT(*) AS n
FROM tri WHERE e3 IS NOT NULL
GROUP BY e1, e2, e3
ORDER BY n DESC, e1, e2, e3
LIMIT {_TG_TOPK}
"""


# ---------------------------------------------------------------------------
# Late-arrival census (watermark sizing)
# ---------------------------------------------------------------------------

def late_arrival_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-order arrival census: within each user's timeline in
    ARRIVAL order (event_id — the ingestion sequence), an event is LATE
    if its event time precedes the running max event time already seen.
    Per event type: late share and the mean/max lateness in seconds —
    exactly the distribution a streaming job reads to size its
    watermark delay (``withWatermark`` holds state for max-lateness
    seconds; everything later is dropped).

    One shuffle on user_id for the running-max window, then a bounded
    per-type aggregate; lateness accumulates as exact integer
    microseconds.
    """
    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", epoch_us("ts").alias("us")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = ev.select(
        "event_type",
        (F.max("us").over(w) - F.col("us")).alias("late_us"),
    )
    late = F.when(F.col("late_us") > 0, F.col("late_us"))
    return (
        flagged.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count(late).alias("n_late"),
            F.round(F.count(late).cast("double") / F.count(F.lit(1)), 6).alias(
                "late_share"
            ),
            F.round(F.sum(late).cast("double") / F.count(late) / 1e6, 4).alias(
                "avg_lateness_sec"
            ),
            F.round(F.max(late).cast("double") / 1e6, 4).alias(
                "max_lateness_sec"
            ),
        )
        .orderBy("event_type")
    )


LATE_ARRIVAL_SQL = """
WITH flagged AS (
    SELECT event_type,
           MAX(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           - epoch_us(ts) AS late_us
    FROM events
)
SELECT event_type,
       COUNT(*) AS n,
       COUNT(CASE WHEN late_us > 0 THEN 1 END) AS n_late,
       ROUND(CAST(COUNT(CASE WHEN late_us > 0 THEN 1 END) AS DOUBLE)
             / COUNT(*), 6) AS late_share,
       ROUND(CAST(SUM(CASE WHEN late_us > 0 THEN late_us END) AS DOUBLE)
             / COUNT(CASE WHEN late_us > 0 THEN 1 END) / 1e6, 4)
           AS avg_lateness_sec,
       ROUND(CAST(MAX(CASE WHEN late_us > 0 THEN late_us END) AS DOUBLE)
             / 1e6, 4) AS max_lateness_sec
FROM flagged
GROUP BY event_type
ORDER BY event_type
"""


QUERIES = {
    "grid_dbscan": grid_dbscan,
    "rolling_origin_backtest": rolling_origin_backtest,
    "frequent_triples": frequent_triples,
    "event_trigrams": event_trigrams,
    "late_arrival_census": late_arrival_census,
}

ORACLES = {
    "grid_dbscan": _dbscan_sql(),
    "rolling_origin_backtest": ROLLING_ORIGIN_SQL,
    "frequent_triples": FREQUENT_TRIPLES_SQL,
    "event_trigrams": EVENT_TRIGRAMS_SQL,
    "late_arrival_census": LATE_ARRIVAL_SQL,
}
