"""Behavioral / event-sequence analytics over the ``events`` stream table:
funnel conversion, cohort retention, interval concurrency sweep, and a
deterministic reservoir (bottom-k) sample.

These extend the reference's capability matrix (SURVEY.md §2b — the
reference itself is a schema/data-quality library; its engine surface is
Spark) with the product-analytics operators every event pipeline needs.
Everything is built from built-in Catalyst expressions — no Python UDFs —
and every query has an exact DuckDB oracle twin.

Determinism notes:
- funnel stage boundaries use ``ts >= prev_stage_ts`` (inclusive), so ties
  resolve identically in both engines;
- the concurrency sweep orders by ``(t, delta)`` with ends (−1) before
  starts (+1) at the same instant — half-open ``[start, end)`` intervals —
  and the per-group peak is invariant to intra-tie ordering because equal
  ``(t, delta)`` rows carry the same sign;
- the reservoir sample orders by ``md5(key)`` (unique per row), so the
  selected k rows are identical in any engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from waterbear_spark import scope
from waterbear_spark.queries.tables import DEC, epoch_us, table

_FUNNEL_STEPS = ("view", "click", "purchase")


def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered three-step funnel (view → click → purchase): users counted
    at stage N only if the stage-N event occurs at-or-after their stage
    N-1 entry time.

    Scale: each stage is a shrinking per-user aggregate joined on
    ``user_id`` — the first shuffle partitions by user and every later
    stage reuses that key, so AQE coalesces the (much smaller) stage
    frames and can broadcast them; nothing is ever collected to the
    driver. This is the chained-min formulation, not a per-user sort —
    state per user is one timestamp per stage, not the event list.
    """
    ev = table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    s1 = (
        ev.filter(F.col("event_type") == _FUNNEL_STEPS[0])
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        ev.filter(F.col("event_type") == _FUNNEL_STEPS[1])
        .join(s1, "user_id")
        .filter(F.col("ts") >= F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.filter(F.col("event_type") == _FUNNEL_STEPS[2])
        .join(s2, "user_id")
        .filter(F.col("ts") >= F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )

    def stage(df: DataFrame, n: int, name: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit(n).alias("stage"), F.lit(name).alias("step"), "n_users"
        )

    return (
        stage(s1, 1, _FUNNEL_STEPS[0])
        .unionAll(stage(s2, 2, _FUNNEL_STEPS[1]))
        .unionAll(stage(s3, 3, _FUNNEL_STEPS[2]))
        .orderBy("stage")
    )


_FUNNEL_SQL = f"""
WITH s1 AS (
    SELECT user_id, MIN(ts) AS t1 FROM events
    WHERE event_type = '{_FUNNEL_STEPS[0]}' GROUP BY user_id
),
s2 AS (
    SELECT e.user_id, MIN(e.ts) AS t2
    FROM events e JOIN s1 ON e.user_id = s1.user_id
    WHERE e.event_type = '{_FUNNEL_STEPS[1]}' AND e.ts >= s1.t1
    GROUP BY e.user_id
),
s3 AS (
    SELECT e.user_id, MIN(e.ts) AS t3
    FROM events e JOIN s2 ON e.user_id = s2.user_id
    WHERE e.event_type = '{_FUNNEL_STEPS[2]}' AND e.ts >= s2.t2
    GROUP BY e.user_id
)
SELECT 1 AS stage, '{_FUNNEL_STEPS[0]}' AS step, COUNT(*) AS n_users FROM s1
UNION ALL
SELECT 2, '{_FUNNEL_STEPS[1]}', COUNT(*) FROM s2
UNION ALL
SELECT 3, '{_FUNNEL_STEPS[2]}', COUNT(*) FROM s3
ORDER BY stage
"""


def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users grouped by the ISO week of their
    first event; distinct active users per (cohort_week, weeks_since).

    Scale: one shuffle builds the per-user first-event frame (|users|
    rows); joining it back onto events reuses the ``user_id``
    partitioning, and the final distinct-count shuffles on the
    low-cardinality (cohort_week, week_no) pair. The first-event frame
    is broadcastable when users ≪ events.
    """
    ev = table(spark, sf_dir, "events").select("user_id", "ts")
    first = ev.groupBy("user_id").agg(F.min("ts").alias("first_ts"))
    return (
        ev.join(first, "user_id")
        .select(
            F.date_trunc("week", F.col("first_ts")).cast("date").alias("cohort_week"),
            F.expr(
                "datediff(date_trunc('week', ts), date_trunc('week', first_ts)) div 7"
            ).alias("week_no"),
            "user_id",
        )
        .groupBy("cohort_week", "week_no")
        .agg(F.countDistinct("user_id").alias("n_active"))
        .orderBy("cohort_week", "week_no")
    )


_COHORT_SQL = """
WITH first AS (
    SELECT user_id, MIN(ts) AS first_ts FROM events GROUP BY user_id
)
SELECT CAST(date_trunc('week', first_ts) AS DATE) AS cohort_week,
       datediff('day', CAST(date_trunc('week', first_ts) AS DATE),
                        CAST(date_trunc('week', ts) AS DATE)) // 7 AS week_no,
       COUNT(DISTINCT e.user_id) AS n_active
FROM events e JOIN first ON e.user_id = first.user_id
GROUP BY 1, 2
ORDER BY cohort_week, week_no
"""

_SPAN_MIN = 5  # minutes each event "occupies": interval [ts, ts + 5min)


def interval_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent activity per event type via the classic sweep-line:
    each event contributes +1 at ``ts`` and −1 at ``ts + 5min``; the peak
    is the max of the running sum ordered by (t, delta).

    Scale: a per-type window would cap parallelism at |types| (the
    low-cardinality window trap), so the sweep is SPLIT BY DAY and
    stitched: the intra-day running sum partitions by (type, day) —
    parallelism |types|x|days| — and each day's opening level is the
    cumulative sum of per-day NET deltas, a window over the tiny
    (type, day) relation. peak = max(opening + intra-day running).
    Associativity of the running max over segments is what makes the
    stitch exact; the sweep itself never materializes pairwise overlaps,
    which is what makes it viable where an interval self-join (O(n²) per
    hot window) is not.
    """
    ev = table(spark, sf_dir, "events").select("event_type", "ts")
    starts = ev.select(
        "event_type", F.col("ts").alias("t"), F.lit(1).alias("delta")
    )
    ends = ev.select(
        "event_type",
        (F.col("ts") + F.expr(f"INTERVAL {_SPAN_MIN} MINUTES")).alias("t"),
        F.lit(-1).alias("delta"),
    )
    sweep = starts.unionAll(ends).withColumn("day", F.to_date("t"))

    intra = (
        Window.partitionBy("event_type", "day")
        .orderBy("t", "delta")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    per_day = (
        sweep.withColumn("running", F.sum("delta").over(intra))
        .groupBy("event_type", "day")
        .agg(
            F.max("running").alias("day_peak"),
            F.sum("delta").alias("day_net"),
        )
    )
    opening = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        per_day.withColumn(
            "open_level", F.coalesce(F.sum("day_net").over(opening), F.lit(0))
        )
        .groupBy("event_type")
        .agg(
            F.max(F.col("open_level") + F.col("day_peak")).alias(
                "peak_concurrency"
            )
        )
        .orderBy("event_type")
    )


_CONCURRENCY_SQL = f"""
WITH sweep AS (
    SELECT event_type, ts AS t, 1 AS delta FROM events
    UNION ALL
    SELECT event_type, ts + INTERVAL {_SPAN_MIN} MINUTE, -1 FROM events
)
SELECT event_type,
       CAST(MAX(running) AS BIGINT) AS peak_concurrency
FROM (
    SELECT event_type,
           SUM(delta) OVER (
               PARTITION BY event_type ORDER BY t, delta
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS running
    FROM sweep
)
GROUP BY event_type
ORDER BY event_type
"""

_RESERVOIR_K = 100


def reservoir_sample_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic uniform k-sample of ``orders`` (k=100): bottom-k by
    ``md5(o_orderkey)``. Equivalent in distribution to reservoir sampling
    but stable across engines, re-runs, and input order — the property a
    training-data pipeline needs for reproducible holdouts.

    Scale: Spark plans this as TakeOrderedAndProject — each task keeps a
    local k-heap and the driver merges per-partition heads, so no global
    sort and no shuffle of the full table ever happens. The hash keys are
    uniform, so the sample is unbiased at any scale factor.
    """
    orders = table(spark, sf_dir, "orders")
    return (
        orders.select(
            "o_orderkey",
            "o_custkey",
            "o_totalprice",
            "o_orderdate",
            F.md5(F.col("o_orderkey").cast("string")).alias("sample_key"),
        )
        .orderBy("sample_key")
        .limit(_RESERVOIR_K)
    )


_RESERVOIR_SQL = f"""
SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate,
       md5(CAST(o_orderkey AS VARCHAR)) AS sample_key
FROM orders
ORDER BY sample_key
LIMIT {_RESERVOIR_K}
"""


def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of user behaviour: for each
    (event_type → next event_type) pair, the observed count and
    probability. Next-event lookup is a ``lead`` window ordered by
    ``(ts, event_id)`` — the unique event_id tiebreak makes same-instant
    sequences deterministic across engines.

    Scale: one shuffle partitions events by user for the window pass;
    the pair count then aggregates to |types|² rows. Probabilities are a
    broadcast-sized second aggregate joined back — exact integer counts,
    one deterministic double division at the end.
    """
    ev = table(spark, sf_dir, "events").select("user_id", "event_id", "event_type", "ts")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.withColumn("next_type", F.lead("event_type").over(w))
        .filter(F.col("next_type").isNotNull())
        .groupBy("event_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    totals = pairs.groupBy("event_type").agg(F.sum("n").alias("tot"))
    return (
        pairs.join(F.broadcast(totals), "event_type")
        .select(
            "event_type",
            "next_type",
            "n",
            F.round(F.col("n").cast("double") / F.col("tot"), 6).alias("p"),
        )
        .orderBy("event_type", "next_type")
    )


_TRANSITION_SQL = """
WITH seq AS (
    SELECT event_type,
           LEAD(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
           ) AS next_type
    FROM events
),
pairs AS (
    SELECT event_type, next_type, COUNT(*) AS n
    FROM seq WHERE next_type IS NOT NULL
    GROUP BY event_type, next_type
),
totals AS (SELECT event_type, SUM(n) AS tot FROM pairs GROUP BY event_type)
SELECT p.event_type, p.next_type, p.n,
       ROUND(CAST(p.n AS DOUBLE) / tot, 6) AS p
FROM pairs p JOIN totals t ON p.event_type = t.event_type
ORDER BY p.event_type, p.next_type
"""

_Z_TOP = 3


def anomalous_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-anomaly detection: per event type, the 3 days whose event
    count deviates most (|z-score|) from that type's daily mean. Mean and
    sample variance come from exact BIGINT sums (Σn, Σn²) so the final
    doubles are bit-identical across engines; z is rounded to 3 places.

    Scale: daily counts are one shuffle on (type, day); the per-type
    moment aggregate is |types| rows, broadcast back onto the daily
    frame. Nothing holds more than the daily-count relation — the
    classic two-pass z-score without a window over raw events.
    """
    daily = (
        table(spark, sf_dir, "events")
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    stats = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("d"),
        F.sum("n").alias("s1"),
        F.sum(F.col("n") * F.col("n")).alias("s2"),
    )
    z = (F.col("n") - F.col("mean")) / F.col("sd")
    scored = (
        daily.join(F.broadcast(stats.filter(F.col("d") >= 2)), "event_type")
        .withColumn("mean", F.col("s1").cast("double") / F.col("d"))
        .withColumn(
            "sd",
            F.sqrt(
                (F.col("d") * F.col("s2") - F.col("s1") * F.col("s1")).cast("double")
                / (F.col("d") * (F.col("d") - 1))
            ),
        )
        .withColumn("z", F.round(z, 3))
    )
    pick = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("z")).desc(), F.col("day")
    )
    return (
        scored.withColumn("rk", F.row_number().over(pick))
        .filter(F.col("rk") <= _Z_TOP)
        .select("event_type", "day", "n", "z")
        .orderBy("event_type", "day")
    )


_ANOMALY_SQL = f"""
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n
    FROM events GROUP BY 1, 2
),
stats AS (
    SELECT event_type, COUNT(*) AS d, SUM(n) AS s1, SUM(n * n) AS s2
    FROM daily GROUP BY event_type
),
scored AS (
    SELECT daily.event_type, day, n,
           ROUND((n - CAST(s1 AS DOUBLE) / d)
                 / SQRT(CAST(d * s2 - s1 * s1 AS DOUBLE) / (d * (d - 1))),
                 3) AS z
    FROM daily JOIN stats ON daily.event_type = stats.event_type
    WHERE d >= 2
)
SELECT event_type, day, n, z
FROM (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY event_type ORDER BY ABS(z) DESC, day
    ) AS rk
    FROM scored
)
WHERE rk <= {_Z_TOP}
ORDER BY event_type, day
"""


def time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average of ``value`` per event type (TWAP): each
    observation is held until the next one, so its weight is the exact
    microsecond gap to the next event. Weighted sums are exact
    decimal×BIGINT products; the single closing division is the only
    float op, making the result bit-identical to the oracle.

    Scale: a per-type lead window would sort every row in |types| tasks
    (low-cardinality window trap), so the lead is computed within
    (type, day) — parallelism |types|x|days| — and each day's LAST
    observation takes its gap from the next active day's first timestamp,
    a lead over the tiny per-day firsts relation broadcast back onto the
    boundary rows. Gap multiset identical to the global lead; then a
    map-side-combinable aggregate — the standard hypertable/financial-
    rollup pattern with state linear in groups, not rows.
    """
    ev = table(spark, sf_dir, "events").select("event_type", "event_id", "ts", "value")
    ev = ev.withColumn("us", epoch_us("ts")).withColumn("day", F.to_date("ts"))
    w_day = Window.partitionBy("event_type", "day").orderBy("us", "event_id")
    firsts = ev.groupBy("event_type", "day").agg(F.min("us").alias("first_us"))
    nxt = Window.partitionBy("event_type").orderBy("day")
    next_first = firsts.select(
        "event_type",
        "day",
        F.lead("first_us").over(nxt).alias("next_day_us"),
    )
    gaps = (
        ev.withColumn("lead_us", F.lead("us").over(w_day))
        .join(F.broadcast(next_first), ["event_type", "day"])
        .withColumn(
            "delta_us",
            F.coalesce(F.col("lead_us"), F.col("next_day_us")) - F.col("us"),
        )
        .filter(F.col("delta_us").isNotNull())
    )
    weighted = F.col("value").cast("decimal(20,6)") * F.col("delta_us")
    return (
        gaps.groupBy("event_type")
        .agg(
            F.round(
                F.sum(weighted).cast("double") / F.sum("delta_us").cast("double"), 6
            ).alias("twap"),
            F.count(F.lit(1)).alias("n_intervals"),
        )
        .orderBy("event_type")
    )


_TWAP_SQL = """
WITH gaps AS (
    SELECT event_type,
           value,
           LEAD(epoch_us(ts)) OVER (
               PARTITION BY event_type ORDER BY ts, event_id
           ) - epoch_us(ts) AS delta_us
    FROM events
)
SELECT event_type,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(20,6)) * delta_us) AS DOUBLE)
             / CAST(SUM(delta_us) AS DOUBLE), 6) AS twap,
       COUNT(*) AS n_intervals
FROM gaps
WHERE delta_us IS NOT NULL
GROUP BY event_type
ORDER BY event_type
"""


def skyline_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier (skyline) of orders: keep every order whose
    ``o_totalprice`` strictly beats the best price of any earlier order
    date — the 2-D dominance query (earlier AND cheaper loses).

    Scale: the fact table is reduced first (per-date max price — one
    shuffle to |dates| rows); the running-max frontier scan then runs on
    that tiny date relation, and survivors broadcast-join back onto
    orders. The full table never passes through a global window — the
    skyline's monotone structure is what lets partial per-range maxima
    compose.
    """
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", F.to_date("o_orderdate").alias("day"), "o_totalprice"
    )
    daily = orders.groupBy("day").agg(F.max("o_totalprice").alias("best"))
    prev = (
        Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    frontier = (
        daily.withColumn("prev_best", F.max("best").over(prev))
        .filter(F.col("prev_best").isNull() | (F.col("best") > F.col("prev_best")))
        .select(F.col("day").alias("f_day"), F.col("best").alias("f_best"))
    )
    return (
        orders.join(
            F.broadcast(frontier),
            (F.col("day") == F.col("f_day"))
            & (F.col("o_totalprice") == F.col("f_best")),
        )
        .select("o_orderkey", "day", "o_totalprice")
        .orderBy("day", "o_orderkey")
    )


_SKYLINE_SQL = """
WITH daily AS (
    SELECT CAST(o_orderdate AS DATE) AS day, MAX(o_totalprice) AS best
    FROM orders GROUP BY 1
),
frontier AS (
    SELECT day, best FROM (
        SELECT day, best,
               MAX(best) OVER (
                   ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS prev_best
        FROM daily
    )
    WHERE prev_best IS NULL OR best > prev_best
)
SELECT o_orderkey, CAST(o_orderdate AS DATE) AS day, o_totalprice
FROM orders JOIN frontier
  ON CAST(o_orderdate AS DATE) = frontier.day AND o_totalprice = frontier.best
ORDER BY day, o_orderkey
"""


def gapfill_locf_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style gap-fill: a complete (event_type × day) spine
    over the observed date range, daily event counts zero-filled, and the
    daily mean ``value`` carried forward over missing days (LOCF). Days
    before a type's first observation stay NULL.

    Scale: the spine is |types| × |days| — generated rows, never a
    shuffle of the fact table; the fact side reduces to daily aggregates
    first, so the left join and the LOCF window both run on the tiny
    rollup relation. Means follow the exact-decimal-sum rule, so the
    carried values are bit-identical across engines.
    """
    ev = table(spark, sf_dir, "events").select(
        "event_type", F.to_date("ts").alias("day"), "value"
    )
    daily = ev.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(
            F.sum(F.col("value").cast("decimal(20,6)")).cast("double")
            / F.count("value"),
            6,
        ).alias("avg_value"),
    )
    bounds = ev.agg(F.min("day").alias("mn"), F.max("day").alias("mx"))
    spine = bounds.select(
        F.explode(F.expr("sequence(mn, mx, interval 1 day)")).alias("day")
    )
    grid = ev.select("event_type").distinct().crossJoin(F.broadcast(spine))
    locf = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(daily, ["event_type", "day"], "left")
        .select(
            "event_type",
            "day",
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            F.last("avg_value", ignorenulls=True).over(locf).alias("value_locf"),
        )
        .orderBy("event_type", "day")
    )


_GAPFILL_SQL = """
WITH ev AS (
    SELECT event_type, CAST(ts AS DATE) AS day, value FROM events
),
daily AS (
    SELECT event_type, day, COUNT(*) AS n_events,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE)
                 / COUNT(value), 6) AS avg_value
    FROM ev GROUP BY event_type, day
),
b AS (SELECT MIN(day) AS mn, MAX(day) AS mx FROM ev),
spine AS (
    SELECT CAST(mn + i * INTERVAL 1 DAY AS DATE) AS day
    FROM b, range(0, 100000) t(i)
    WHERE i <= datediff('day', mn, mx)
),
grid AS (
    SELECT event_type, day
    FROM (SELECT DISTINCT event_type FROM ev), spine
)
SELECT g.event_type, g.day,
       COALESCE(d.n_events, 0) AS n_events,
       LAST_VALUE(d.avg_value IGNORE NULLS) OVER (
           PARTITION BY g.event_type ORDER BY g.day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS value_locf
FROM grid g LEFT JOIN daily d
  ON g.event_type = d.event_type AND g.day = d.day
ORDER BY g.event_type, g.day
"""


def funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion latency distribution: exact p50/p90 of the time from a
    user's first view to their first qualifying purchase (same chained
    stage semantics as ``funnel_conversion``). Gaps are exact BIGINT
    microsecond differences; the interpolated percentile is the single
    float step (Spark ``percentile`` == DuckDB ``quantile_cont``,
    rounded).

    Scale: the stage chain shuffles on ``user_id`` once and shrinks; the
    percentile aggregates one small converted-users frame into one row.
    """
    ev = table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    s1 = (
        ev.filter(F.col("event_type") == _FUNNEL_STEPS[0])
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        ev.filter(F.col("event_type") == _FUNNEL_STEPS[1])
        .join(s1, "user_id")
        .filter(F.col("ts") >= F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"), F.min("t1").alias("t1"))
    )
    s3 = (
        ev.filter(F.col("event_type") == _FUNNEL_STEPS[2])
        .join(s2, "user_id")
        .filter(F.col("ts") >= F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"), F.min("t1").alias("t1"))
    )
    secs = (epoch_us("t3") - epoch_us("t1")) / F.lit(1000000.0)
    return s3.select(secs.alias("s")).agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.round(F.expr("percentile(s, 0.5)"), 4).alias("p50_seconds"),
        F.round(F.expr("percentile(s, 0.9)"), 4).alias("p90_seconds"),
    )


_TIME_TO_CONVERT_SQL = f"""
WITH s1 AS (
    SELECT user_id, MIN(ts) AS t1 FROM events
    WHERE event_type = '{_FUNNEL_STEPS[0]}' GROUP BY user_id
),
s2 AS (
    SELECT e.user_id, MIN(e.ts) AS t2, MIN(s1.t1) AS t1
    FROM events e JOIN s1 ON e.user_id = s1.user_id
    WHERE e.event_type = '{_FUNNEL_STEPS[1]}' AND e.ts >= s1.t1
    GROUP BY e.user_id
),
s3 AS (
    SELECT e.user_id, MIN(e.ts) AS t3, MIN(s2.t1) AS t1
    FROM events e JOIN s2 ON e.user_id = s2.user_id
    WHERE e.event_type = '{_FUNNEL_STEPS[2]}' AND e.ts >= s2.t2
    GROUP BY e.user_id
)
SELECT COUNT(*) AS n_converted,
       ROUND(QUANTILE_CONT((epoch_us(t3) - epoch_us(t1)) / 1000000.0, 0.5), 4)
           AS p50_seconds,
       ROUND(QUANTILE_CONT((epoch_us(t3) - epoch_us(t1)) / 1000000.0, 0.9), 4)
           AS p90_seconds
FROM s3
"""


_PATH_TOP = 10


def top_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Path mining: the 10 most common within-day event sequences. Each
    (user, day) becomes a '>'-joined path of its event types in exact
    time order (ties broken by the unique event_id), then paths are
    counted globally. ``collect_list`` order is nondeterministic, so the
    list is gathered as (ts, event_id, type) structs and ``array_sort``
    imposes the total order row-locally — the same discipline as the
    catalog's window tiebreaks, applied to array aggregation.

    Scale: one shuffle on (user, day); path strings are bounded by the
    per-day event count and the final count aggregate sees only distinct
    paths. For unbounded sessions, cap the list with ``slice`` before
    joining — never collect raw event lists wider than the session
    definition allows.
    """
    ev = table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day"), "ts", "event_id", "event_type"
    )
    path = F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("ts", "event_id", "event_type"))
            ),
            lambda x: x["event_type"],
        ),
        ">",
    )
    return (
        ev.groupBy("user_id", "day")
        .agg(path.alias("path"))
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "path")
        .limit(_PATH_TOP)
    )


_PATHS_SQL = f"""
WITH paths AS (
    SELECT user_id, CAST(ts AS DATE) AS day,
           string_agg(event_type, '>' ORDER BY ts, event_id) AS path
    FROM events
    GROUP BY user_id, CAST(ts AS DATE)
)
SELECT path, COUNT(*) AS n
FROM paths
GROUP BY path
ORDER BY n DESC, path
LIMIT {_PATH_TOP}
"""


def null_safe_join_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (``<=>`` / IS NOT DISTINCT FROM): events
    bucketed by a *nullable* derived key (``k % 5`` with 0 mapped to
    NULL) joined against the view-only bucket counts so the NULL bucket
    matches itself — the semantics a plain ``=`` join silently drops.

    Scale: both sides are tiny aggregates of one shuffle each; the
    null-safe condition still hash-partitions (NULL hashes to a single
    key), unlike an OR-of-IS-NULL rewrite which would nested-loop.
    """
    k = F.nullif(
        F.get_json_object("props", "$.k").cast("int") % 5, F.lit(0)
    )
    ev = table(spark, sf_dir, "events").select(
        k.alias("bucket"), "event_type"
    )
    all_n = ev.groupBy("bucket").agg(F.count(F.lit(1)).alias("n_all"))
    view_n = (
        ev.filter(F.col("event_type") == "view")
        .groupBy(F.col("bucket").alias("v_bucket"))
        .agg(F.count(F.lit(1)).alias("n_view"))
    )
    return (
        all_n.join(view_n, F.col("bucket").eqNullSafe(F.col("v_bucket")))
        .select("bucket", "n_all", "n_view")
        .orderBy(F.col("bucket").asc_nulls_first())
    )


_NULL_SAFE_SQL = """
WITH ev AS (
    SELECT NULLIF(CAST(JSON_EXTRACT_STRING(props, '$.k') AS INTEGER) % 5, 0)
               AS bucket,
           event_type
    FROM events
),
all_n AS (SELECT bucket, COUNT(*) AS n_all FROM ev GROUP BY bucket),
view_n AS (
    SELECT bucket AS v_bucket, COUNT(*) AS n_view
    FROM ev WHERE event_type = 'view' GROUP BY bucket
)
SELECT bucket, n_all, n_view
FROM all_n JOIN view_n ON bucket IS NOT DISTINCT FROM v_bucket
ORDER BY bucket NULLS FIRST
"""


_DS_MINUTES = 360  # downsample bucket: 6-hour frames


def downsample_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min/max time-series decimation: per (event type, 6-hour frame),
    the earliest-reaching min and max observation with their timestamps —
    the hypertable downsampling that preserves extremes (what a charting
    rollup needs; averages flatten spikes). Ties on value resolve to the
    earliest (ts, event_id), so the picked points are engine-exact.

    Scale: one shuffle on (type, frame); ``min_by``/``max_by`` over a
    deterministic struct key is a map-side-combinable aggregate — no
    window, no sort, state is one candidate pair per frame.
    """
    frame_secs = (epoch_us("ts") / F.lit(1_000_000)).cast("long")
    frame_secs = (frame_secs - frame_secs % (_DS_MINUTES * 60)).cast("int")
    ntz_epoch = F.lit("1970-01-01 00:00:00").cast("timestamp_ntz")
    ev = table(spark, sf_dir, "events").select(
        "event_type",
        "ts",
        "event_id",
        F.col("value").cast("decimal(20,6)").alias("v"),
        # frame start built as wall-clock NTZ arithmetic — no session-
        # timezone dependence on either engine
        F.timestamp_add("SECOND", frame_secs, ntz_epoch).alias("frame"),
    )
    # pick keys: both extremes resolve value ties to the EARLIEST
    # (ts, event_id). min side orders (v asc, ts asc, id asc); the max
    # side must NOT be max_by on (v, ts, id) — that picks the LATEST tie —
    # so it is min_by on (-v, ts, id), matching the oracle's
    # ORDER BY v DESC, ts, event_id.
    pick_lo = F.struct("v", "ts", "event_id")
    pick_hi = F.struct((-F.col("v")).alias("nv"), "ts", "event_id")
    return (
        ev.groupBy("event_type", "frame")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.min_by(F.struct("ts", F.col("v")), pick_lo).alias("lo"),
            F.min_by(F.struct("ts", F.col("v")), pick_hi).alias("hi"),
        )
        .select(
            "event_type",
            "frame",
            "n_points",
            F.col("lo.v").cast("double").alias("min_value"),
            F.col("lo.ts").alias("min_ts"),
            F.col("hi.v").cast("double").alias("max_value"),
            F.col("hi.ts").alias("max_ts"),
        )
        .orderBy("event_type", "frame")
    )


_DOWNSAMPLE_SQL = f"""
WITH ev AS (
    SELECT event_type, ts, event_id,
           CAST(value AS DECIMAL(20,6)) AS v,
           TIMESTAMP '1970-01-01 00:00:00'
               + INTERVAL 1 SECOND
                 * ((epoch_us(ts) // 1000000)
                    - (epoch_us(ts) // 1000000) % {_DS_MINUTES * 60})
               AS frame
    FROM events
)
SELECT event_type, frame, COUNT(*) AS n_points,
       CAST(MIN(v) AS DOUBLE) AS min_value,
       (array_agg(ts ORDER BY v, ts, event_id))[1] AS min_ts,
       CAST(MAX(v) AS DOUBLE) AS max_value,
       (array_agg(ts ORDER BY v DESC, ts, event_id))[1] AS max_ts
FROM ev
GROUP BY event_type, frame
ORDER BY event_type, frame
"""


_SEQ_PATTERN = ">view>click>purchase>"  # contiguous, no intervening events


def sequence_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-style sequence detection: per day, the users whose
    within-day event stream contains a CONTIGUOUS view→click→purchase run
    (no intervening event — stricter than [[funnel_conversion]]'s
    gap-tolerant stages). The day's path is built once in exact
    (ts, event_id) order and the pattern is a plain substring test on the
    delimited path — the row-local reduction that turns sequence
    patterns into string ops.

    Scale: one shuffle on (user, day); the pattern test is codegen over
    bounded path strings. Richer patterns (Kleene stars, alternation)
    swap the LIKE for an RLIKE on the same path column — the shape holds.
    """
    ev = table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day"), "ts", "event_id", "event_type"
    )
    path = F.concat(
        F.lit(">"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("ts", "event_id", "event_type"))
                ),
                lambda x: x["event_type"],
            ),
            ">",
        ),
        F.lit(">"),
    )
    return (
        ev.groupBy("user_id", "day")
        .agg(path.alias("path"))
        .filter(F.col("path").contains(_SEQ_PATTERN))
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("n_matched_users"))
        .orderBy("day")
    )


_SEQ_MATCH_SQL = f"""
WITH paths AS (
    SELECT user_id, CAST(ts AS DATE) AS day,
           '>' || string_agg(event_type, '>' ORDER BY ts, event_id) || '>'
               AS path
    FROM events
    GROUP BY user_id, CAST(ts AS DATE)
)
SELECT day, COUNT(*) AS n_matched_users
FROM paths
WHERE position('{_SEQ_PATTERN}' IN path) > 0
GROUP BY day
ORDER BY day
"""


def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: per-customer Recency (days since last
    order, vs the newest order anywhere), Frequency (order count), and
    Monetary (exact lifetime cents), each cut into quintiles; output is
    the (R,F,M) segment census with average customer value — the
    workhorse marketing segmentation, and a three-fold exercise of the
    distributed exact NTILE.

    Scale: one combinable customer aggregate, then THREE quintile
    tilings — each via ``operators/ntile.py bucketed_ntile`` (two-pass
    bucketed order statistics), because three NTILE windows over an
    unpartitioned customer relation would funnel every customer through
    one partition three times. The anchor date is a 1-row broadcast
    scalar; the census aggregate has at most 125 groups.
    """
    from waterbear_spark.operators.ntile import ntile_bounds, ntile_tile_expr
    from waterbear_spark.queries.tables import DEC

    orders = table(spark, sf_dir, "orders").select(
        "o_custkey", F.to_date("o_orderdate").alias("day"), "o_totalprice"
    )
    per_cust = orders.groupBy("o_custkey").agg(
        F.max("day").alias("last_day"),
        F.count(F.lit(1)).alias("frequency"),
        (F.sum(F.col("o_totalprice").cast(DEC)) * 100)
        .cast("decimal(19,0)")
        .cast("bigint")
        .alias("monetary_cents"),
    )
    anchor = per_cust.agg(F.max("last_day").alias("g"))
    # the three quintile tilings are INDEPENDENT dimensions over the
    # same customer relation: compute each dimension's <= 4 boundary
    # rows as parallel subtrees of one job (they share the persisted
    # feats scan) and attach all three tiles in a single projection —
    # nesting whole tilings serially instead costs ~3x the stage depth
    # for identical values. Materialized BEFORE the parallel boundary
    # subtrees: they kick off as concurrent broadcast jobs, and racing on
    # a cold cache would re-derive the customer aggregate once per subtree
    feats = scope.persist(
        per_cust.crossJoin(F.broadcast(anchor))
        .select(
            "o_custkey",
            F.datediff(F.col("g"), F.col("last_day")).cast("bigint").alias(
                "recency_days"
            ),
            "frequency",
            "monetary_cents",
        ),
        eager=True,
    )
    b_r = ntile_bounds(
        feats, "recency_days", "o_custkey", 5, width=16.0, bnds_col="__b_r"
    )
    b_f = ntile_bounds(
        feats, "frequency", "o_custkey", 5, width=2.0, bnds_col="__b_f"
    )
    b_m = ntile_bounds(
        feats, "monetary_cents", "o_custkey", 5, width=1e7, bnds_col="__b_m"
    )
    tiled = (
        feats.crossJoin(F.broadcast(b_r))
        .crossJoin(F.broadcast(b_f))
        .crossJoin(F.broadcast(b_m))
        .withColumn("r_q", ntile_tile_expr("__b_r", "recency_days", "o_custkey"))
        .withColumn("f_q", ntile_tile_expr("__b_f", "frequency", "o_custkey"))
        .withColumn(
            "m_q", ntile_tile_expr("__b_m", "monetary_cents", "o_custkey")
        )
    )
    # avg to whole cents in exact integer arithmetic: HALF_UP of
    # sum/n == (2*sum + n) div (2*n) for positive cents — double-based
    # ROUND() straddles half-cent cells differently per engine (a
    # sum of 507430035 over n=2 lands on 2537150.175 and flips the
    # second decimal), while integer div is bit-identical everywhere
    avg_cents = F.expr(
        "(2 * sum(monetary_cents) + count(1)) div (2 * count(1))"
    )
    return (
        tiled.groupBy("r_q", "f_q", "m_q")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            (avg_cents.cast("double") / 100.0).alias("avg_monetary"),
        )
        .orderBy("r_q", "f_q", "m_q")
    )


_RFM_SQL = """
WITH per_cust AS (
    SELECT o_custkey,
           MAX(CAST(o_orderdate AS DATE)) AS last_day,
           COUNT(*) AS frequency,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(20,6))) * 100
                AS DECIMAL(19,0)) AS BIGINT) AS monetary_cents
    FROM orders GROUP BY o_custkey
),
anchor AS (SELECT MAX(last_day) AS g FROM per_cust),
feats AS (
    SELECT o_custkey,
           CAST(g - last_day AS BIGINT) AS recency_days,
           frequency, monetary_cents
    FROM per_cust CROSS JOIN anchor
),
tiled AS (
    SELECT *,
           NTILE(5) OVER (ORDER BY recency_days, o_custkey) AS r_q,
           NTILE(5) OVER (ORDER BY frequency, o_custkey) AS f_q,
           NTILE(5) OVER (ORDER BY monetary_cents, o_custkey) AS m_q
    FROM feats
)
SELECT r_q, f_q, m_q,
       COUNT(*) AS n_customers,
       -- exact integer HALF_UP to whole cents (see the Spark side):
       -- double ROUND() flips half-cent cells differently per engine
       CAST((2 * SUM(monetary_cents) + COUNT(*)) // (2 * COUNT(*))
            AS DOUBLE) / 100.0 AS avg_monetary
FROM tiled
GROUP BY r_q, f_q, m_q
ORDER BY r_q, f_q, m_q
"""


_GINI_BUCKET = 5_000_000  # cents per rank bucket for the distributed sort


def gini_customer_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer lifetime revenue — the
    revenue-concentration monitor ("do 20% of customers carry 80% of
    revenue?"). Uses the exact rank formula
    ``G = (2*Σ(i*x_i) - (n+1)*Σx) / (n*Σx)`` over cents sorted
    ascending (ties ranked by custkey, which leaves G unchanged since
    tied values commute in Σ i*x_i).

    Exactness: revenue is integer cents; the global rank i comes from
    the distributed bucketed-rank rewrite; Σ(i*x_i) accumulates in
    decimal128; the only float op is the single closing division.

    Scale: rank-by-value buckets on cents ranges, bucket subtotals
    prefix-sum on the micro-relation, within-bucket row_number windows
    partition BY BUCKET — no single-partition sort of the customer
    relation; everything else is combinable aggregates.
    """
    per_cust = (
        table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            (F.sum(F.col("o_totalprice").cast(DEC)) * 100)
            .cast("decimal(19,0)")
            .cast("bigint")
            .alias("cents")
        )
    )
    pb = (F.col("cents") - F.pmod(F.col("cents"), _GINI_BUCKET)) / _GINI_BUCKET
    pc = per_cust.withColumn("pb", pb.cast("long"))
    bucket = pc.groupBy("pb").agg(F.count(F.lit(1)).alias("bn"))
    w_off = Window.orderBy("pb").rowsBetween(Window.unboundedPreceding, -1)
    offs = bucket.select(
        "pb", F.coalesce(F.sum("bn").over(w_off), F.lit(0)).alias("off")
    )
    w_in = Window.partitionBy("pb").orderBy("cents", "o_custkey")
    ranked = (
        pc.join(F.broadcast(offs), "pb")
        .select(
            "cents",
            (F.col("off") + F.row_number().over(w_in)).alias("i"),
        )
    )
    sums = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").cast("decimal(38,0)").alias("sx"),
        F.sum(
            F.col("i").cast("decimal(19,0)") * F.col("cents").cast("decimal(19,0)")
        ).alias("six"),
    )
    gini = (
        (
            F.lit(2) * F.col("six")
            - (F.col("n") + 1).cast("decimal(19,0)") * F.col("sx")
        ).cast("double")
        / (F.col("n").cast("double") * F.col("sx").cast("double"))
    )
    return sums.filter(F.col("n") > 0).select(
        F.col("n").alias("n_customers"),
        F.col("sx").cast("bigint").alias("total_cents"),
        F.round(gini, 6).alias("gini"),
    )


_GINI_SQL = """
WITH per_cust AS (
    SELECT o_custkey,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(20,6))) * 100
                AS DECIMAL(19,0)) AS BIGINT) AS cents
    FROM orders GROUP BY o_custkey
),
ranked AS (
    SELECT cents,
           ROW_NUMBER() OVER (ORDER BY cents, o_custkey) AS i
    FROM per_cust
),
sums AS (
    SELECT COUNT(*) AS n,
           CAST(SUM(cents) AS DECIMAL(38,0)) AS sx,
           SUM(CAST(i AS DECIMAL(19,0)) * CAST(cents AS DECIMAL(19,0))) AS six
    FROM ranked
)
SELECT CAST(n AS BIGINT) AS n_customers,
       CAST(sx AS BIGINT) AS total_cents,
       ROUND(CAST(2 * six - CAST(n + 1 AS DECIMAL(19,0)) * sx AS DOUBLE)
             / (CAST(n AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS gini
FROM sums
WHERE n > 0
"""


QUERIES = {
    "downsample_minmax": downsample_minmax,
    "sequence_pattern_match": sequence_pattern_match,
    "null_safe_join_buckets": null_safe_join_buckets,
    "top_event_paths": top_event_paths,
    "funnel_time_to_convert": funnel_time_to_convert,
    "gapfill_locf_daily": gapfill_locf_daily,
    "time_weighted_avg": time_weighted_avg,
    "skyline_orders": skyline_orders,
    "funnel_conversion": funnel_conversion,
    "cohort_retention": cohort_retention,
    "rfm_segments": rfm_segments,
    "gini_customer_revenue": gini_customer_revenue,
    "interval_peak_concurrency": interval_peak_concurrency,
    "reservoir_sample_orders": reservoir_sample_orders,
    "event_transition_matrix": event_transition_matrix,
    "anomalous_days": anomalous_days,
}
ORACLES = {
    "downsample_minmax": _DOWNSAMPLE_SQL,
    "sequence_pattern_match": _SEQ_MATCH_SQL,
    "null_safe_join_buckets": _NULL_SAFE_SQL,
    "top_event_paths": _PATHS_SQL,
    "funnel_time_to_convert": _TIME_TO_CONVERT_SQL,
    "gapfill_locf_daily": _GAPFILL_SQL,
    "time_weighted_avg": _TWAP_SQL,
    "skyline_orders": _SKYLINE_SQL,
    "funnel_conversion": _FUNNEL_SQL,
    "cohort_retention": _COHORT_SQL,
    "rfm_segments": _RFM_SQL,
    "gini_customer_revenue": _GINI_SQL,
    "interval_peak_concurrency": _CONCURRENCY_SQL,
    "reservoir_sample_orders": _RESERVOIR_SQL,
    "event_transition_matrix": _TRANSITION_SQL,
    "anomalous_days": _ANOMALY_SQL,
}
