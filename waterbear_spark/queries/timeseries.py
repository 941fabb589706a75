"""Time-series operator extensions over ``events``: rolling distinct
counts, exponential smoothing, and SCD2 interval materialization.

These cover the three time-series shapes the rest of the catalog doesn't:
a sliding *distinct* aggregate (not decomposable into partial sums), a
sequential recurrence (EMA), and change-data-capture history building
(SCD2) as a batch query. All pure Catalyst; float determinism follows the
house rules in ``tables.py`` (decimal sums; any IEEE fold evaluated in an
explicitly pinned order on both engines).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from waterbear_spark import scope
from waterbear_spark.queries.tables import DEC, dsum, epoch_us, oracle_dsum, table

_ROLL_DAYS = 7
_EMA_ALPHA = 0.3


def rolling_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct active users per day. COUNT(DISTINCT) over
    a sliding window is the one windowed aggregate with no partial-merge
    decomposition, so the standard rewrite is *contribution expansion*:
    reduce to distinct (day, user) pairs first, then explode each pair
    into the 7 window-end days it contributes to and run one plain
    distinct-count aggregate. No self-join, no window function.

    Scale: the distinct pass shrinks events to (days x users) rows before
    the 7x fan-out, and the fan-out is map-side (``explode`` of a
    7-element sequence); the only shuffles are the distinct and the final
    day aggregate — both on bounded keys. A range self-join formulation
    would be a BroadcastNestedLoop (banned by the plan lint); this shape
    stays hash-partitioned at any scale.
    """
    events = table(spark, sf_dir, "events")
    day_user = events.select(
        F.to_date("ts").alias("day"), "user_id"
    ).distinct()
    max_day = day_user.agg(F.max("day").alias("max_day"))
    contrib = day_user.select(
        F.explode(F.sequence(F.lit(0), F.lit(_ROLL_DAYS - 1))).alias("i"),
        "day",
        "user_id",
    ).select(F.date_add("day", F.col("i")).alias("day_w"), "user_id")
    return (
        contrib.crossJoin(F.broadcast(max_day))
        .filter(F.col("day_w") <= F.col("max_day"))
        .groupBy("day_w")
        .agg(F.countDistinct("user_id").alias("n_users_7d"))
        .select(F.col("day_w").alias("day"), "n_users_7d")
        .orderBy("day")
    )


ROLLING_DISTINCT_USERS_SQL = f"""
WITH day_user AS (
    SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
),
contrib AS (
    SELECT day + CAST(i AS INTEGER) AS day_w, user_id
    FROM day_user, generate_series(0, {_ROLL_DAYS - 1}) AS t(i)
)
SELECT day_w AS day, COUNT(DISTINCT user_id) AS n_users_7d
FROM contrib
WHERE day_w <= (SELECT MAX(day) FROM day_user)
GROUP BY day_w
ORDER BY day
"""


def ema_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of daily revenue per event
    type — the classic sequential recurrence (``ema = a*x + (1-a)*ema``)
    that has no associative decomposition. The rewrite: aggregate to one
    row per (type, day) with an exact decimal sum, then fold the
    day-sorted array with ``F.aggregate`` so the IEEE operation order is
    pinned — DuckDB's ``list_reduce`` over ``list(... ORDER BY day)``
    performs the bit-identical fold (both seed the accumulator with the
    first element).

    Scale: the recurrence runs over the *aggregated* series (days per
    key, not raw events), so the array is bounded by the calendar, not
    the data; at 100 TB the shape is unchanged — one shuffle to (type,
    day), one to type. Long series would segment the fold per epoch and
    carry the closed-form decay ``(1-a)^len`` across segments.
    """
    events = table(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(dsum(F.col("value"), "rev"))
    arr = F.array_sort(F.collect_list(F.struct("day", "rev")))
    vals = F.transform(arr, lambda s: s["rev"])
    a = F.lit(float(_EMA_ALPHA))
    ema = F.aggregate(
        F.slice(vals, F.lit(2), F.size(vals) - 1),
        F.element_at(vals, 1),
        lambda acc, x: a * x + (F.lit(1.0) - a) * acc,
    )
    return (
        daily.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.max("day").alias("last_day"),
            F.round(ema, 4).alias("ema_revenue"),
        )
        .orderBy("event_type")
    )


EMA_DAILY_REVENUE_SQL = f"""
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS day,
           {oracle_dsum("value", "rev")}
    FROM events GROUP BY event_type, CAST(ts AS DATE)
),
folded AS (
    SELECT event_type,
           COUNT(*) AS n_days,
           MAX(day) AS last_day,
           list(rev ORDER BY day) AS vals
    FROM daily GROUP BY event_type
)
SELECT event_type, n_days, last_day,
       ROUND(list_reduce(vals, (acc, x) -> {_EMA_ALPHA}*x + {1.0 - _EMA_ALPHA}*acc), 4)
           AS ema_revenue
FROM folded
ORDER BY event_type
"""


def scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 history build from a change stream: treating each user's
    event_type sequence as a dimension attribute, emit one validity
    interval per attribute *change* (``valid_from`` = change timestamp,
    ``valid_to`` = next change, open for the current state) — the batch
    form of the CDC->SCD2 merge in ``streaming/cdc.py``. Output is the
    per-state interval census: interval count, open-interval count, and
    exact mean closed-interval duration.

    Scale: two windows over the same (user_id) partitioning — Catalyst
    evaluates both in a single sort+shuffle — then one bounded aggregate.
    Duration math is integer microseconds (exact); no floats until the
    final single division.
    """
    events = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changed = (
        events.select("user_id", "event_type", "ts", "event_id")
        .withColumn("prev_state", F.lag("event_type").over(w))
        .filter(
            F.col("prev_state").isNull()
            | (F.col("prev_state") != F.col("event_type"))
        )
    )
    w2 = Window.partitionBy("user_id").orderBy("ts", "event_id")
    intervals = changed.select(
        "user_id",
        "event_type",
        epoch_us("ts").alias("from_us"),
        epoch_us(F.lead("ts").over(w2)).alias("to_us"),
    )
    return (
        intervals.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_intervals"),
            F.count(F.when(F.col("to_us").isNull(), 1)).alias("n_open"),
            # integer DIV on both engines (DuckDB `//`): double division
            # then cast would truncate in Spark but round in DuckDB.
            # The duration sum accumulates in DECIMAL(38,0) — microsecond
            # sums cross int64 around 1e6 users x 1e12 us (the integer-
            # width discipline in SCALE.md); DuckDB's SUM is HUGEINT
            # natively
            F.expr(
                "sum(cast(case when to_us is not null then to_us - from_us end"
                " as decimal(38,0))) div count(to_us)"
            ).alias("mean_closed_us"),
            F.sum("user_id").cast("bigint").alias("user_checksum"),
        )
        .orderBy("event_type")
    )


SCD2_INTERVALS_SQL = """
WITH ordered AS (
    SELECT user_id, event_type, ts, event_id,
           LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_state
    FROM events
),
changes AS (
    SELECT user_id, event_type, ts, event_id FROM ordered
    WHERE prev_state IS NULL OR prev_state <> event_type
),
intervals AS (
    SELECT user_id, event_type,
           epoch_us(ts) AS from_us,
           epoch_us(LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
               AS to_us
    FROM changes
)
SELECT event_type,
       COUNT(*) AS n_intervals,
       COUNT(CASE WHEN to_us IS NULL THEN 1 END) AS n_open,
       CAST(SUM(CASE WHEN to_us IS NOT NULL THEN to_us - from_us END)
            // COUNT(to_us) AS BIGINT) AS mean_closed_us,
       CAST(SUM(user_id) AS BIGINT) AS user_checksum
FROM intervals
GROUP BY event_type
ORDER BY event_type
"""


def cumulative_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running distinct-user count by day ("total users ever seen"). A
    naive cumulative COUNT(DISTINCT) window rescans all history per day;
    the standard rewrite maps each user to their FIRST day (one
    aggregate), counts first-appearances per day, and takes a running
    sum over the tiny day-indexed relation — the distinct-to-first-
    occurrence reduction, dual of [[rolling_distinct_users]]'s
    contribution expansion.

    Scale: one user-keyed aggregate (combinable) + a window over
    |days| rows. History length never enters the cost.
    """
    events = table(spark, sf_dir, "events")
    first_day = events.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("day")
    )
    per_day = first_day.groupBy("day").agg(
        F.count(F.lit(1)).alias("n_new")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return (
        per_day.withColumn("cum_users", F.sum("n_new").over(w))
        .orderBy("day")
    )


CUMULATIVE_DISTINCT_USERS_SQL = """
WITH first_day AS (
    SELECT user_id, MIN(CAST(ts AS DATE)) AS day FROM events GROUP BY user_id
),
per_day AS (
    SELECT day, COUNT(*) AS n_new FROM first_day GROUP BY day
)
SELECT day, n_new,
       CAST(SUM(n_new) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS cum_users
FROM per_day
ORDER BY day
"""


_TOPK_PER_WINDOW = 2


def windowed_topk_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top event types per tumbling day window — the windowed-rank shape
    every monitoring dashboard runs (streaming twin: the same aggregate
    under ``F.window`` + watermark emits per-window leaders as windows
    close). Rank ties break on type name for determinism.

    Scale: one (window, type) aggregate — combinable — then a rank
    window over |types| rows per day.
    """
    events = table(spark, sf_dir, "events")
    counts = events.groupBy(
        F.to_date("ts").alias("day"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("day").orderBy(F.col("n").desc(), "event_type")
    return (
        counts.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _TOPK_PER_WINDOW)
        .select("day", "rnk", "event_type", "n")
        .orderBy("day", "rnk")
    )


WINDOWED_TOPK_TYPES_SQL = f"""
WITH counts AS (
    SELECT CAST(ts AS DATE) AS day, event_type, COUNT(*) AS n
    FROM events GROUP BY 1, 2
)
SELECT day, rnk, event_type, n
FROM (
    SELECT day, event_type, n,
           ROW_NUMBER() OVER (PARTITION BY day
                              ORDER BY n DESC, event_type) AS rnk
    FROM counts
)
WHERE rnk <= {_TOPK_PER_WINDOW}
ORDER BY day, rnk
"""


_ACF_MAX_LAG = 7


def acf_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of the daily order-revenue series at lags
    1..``_ACF_MAX_LAG`` — the weekly-seasonality probe (lag-7 spikes when
    weekdays rhyme). Estimator: Pearson correlation between the series
    and its k-shifted self over the overlapping days. Revenue is exact
    integer CENTS (decimal sum of 2-decimal prices, scaled), the five
    moment sums accumulate in DECIMAL(38,0) exactly as in
    [[spearman_price_quantity]], and the only float math is the closing
    formula — identical in both engines.

    Scale: the day-level series is a pre-aggregated micro-relation
    (|days| rows — thousands, at ANY corpus size), so the global-order
    lag window and the lag stack run on one partition by construction;
    the heavy lifting is the combinable daily aggregate underneath.
    """
    orders = table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        (F.sum(F.col("o_totalprice").cast(DEC)) * 100)
        .cast("decimal(19,0)")
        .alias("x")
    )
    w = Window.orderBy("day")
    shifted = daily.select(
        "x",
        *[
            F.lag("x", k).over(w).alias(f"xl{k}")
            for k in range(1, _ACF_MAX_LAG + 1)
        ],
    )
    lagged = shifted.select(
        "x",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("lag"), F.col(f"xl{k}").alias("xl")
                    )
                    for k in range(1, _ACF_MAX_LAG + 1)
                ]
            )
        ).alias("e"),
    ).select("x", F.col("e.lag").alias("lag"), F.col("e.xl").alias("xl"))
    pairs = lagged.filter(F.col("xl").isNotNull())
    mom = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("x").alias("sx"),
        F.sum("xl").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("xl") * F.col("xl")).alias("syy"),
        F.sum(F.col("x") * F.col("xl")).alias("sxy"),
    )
    n = F.col("n_pairs").cast("double")
    num = n * F.col("sxy").cast("double") - F.col("sx").cast(
        "double"
    ) * F.col("sy").cast("double")
    den = F.sqrt(
        n * F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx").cast("double")
    ) * F.sqrt(
        n * F.col("syy").cast("double")
        - F.col("sy").cast("double") * F.col("sy").cast("double")
    )
    return mom.select(
        "lag", "n_pairs", F.round(num / den, 6).alias("acf")
    ).orderBy("lag")


ACF_DAILY_REVENUE_SQL = f"""
WITH daily AS (
    SELECT CAST(o_orderdate AS DATE) AS day,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(20,6))) * 100
                AS DECIMAL(19,0)) AS x
    FROM orders GROUP BY 1
),
idx AS (
    SELECT day, x, ROW_NUMBER() OVER (ORDER BY day) AS i FROM daily
),
pairs AS (
    SELECT k.lag, a.x AS x, b.x AS xl
    FROM idx a
    CROSS JOIN (SELECT unnest(generate_series(1, {_ACF_MAX_LAG})) AS lag) k
    JOIN idx b ON b.i = a.i - k.lag
),
mom AS (
    SELECT lag, COUNT(*) AS n_pairs,
           SUM(x) AS sx, SUM(xl) AS sy,
           SUM(x * x) AS sxx, SUM(xl * xl) AS syy, SUM(x * xl) AS sxy
    FROM pairs GROUP BY lag
)
SELECT lag, n_pairs,
       ROUND((CAST(n_pairs AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (SQRT(CAST(n_pairs AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * SQRT(CAST(n_pairs AS DOUBLE) * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
           AS acf
FROM mom
ORDER BY lag
"""


_OLS_WINDOW_DAYS = 28


def rolling_ols_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling ``_OLS_WINDOW_DAYS``-day least-squares trend of daily
    revenue: for each day, the OLS slope (dollars/day) fitted over the
    trailing window — the local trend detector behind "revenue is
    decelerating" alerts, strictly sturdier than a moving-average delta.
    Closed form over window sums: slope = (nΣty − ΣtΣy)/(nΣt² − (Σt)²),
    with t = epoch-day (exact BIGINT) and y = exact integer cents, so
    every accumulation is integer-exact; one double division at the end.

    Scale: same micro-relation argument as [[acf_daily_revenue]] — the
    windows run over |days| pre-aggregated rows, the scan-side aggregate
    is combinable, nothing row-level crosses the shuffle.
    """
    orders = table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        (F.sum(F.col("o_totalprice").cast(DEC)) * 100)
        .cast("decimal(19,0)")
        .alias("y")
    )
    t = F.datediff(F.col("day"), F.lit("1992-01-01").cast("date")).cast(
        "bigint"
    )
    series = daily.select("day", t.alias("t"), "y")
    w = Window.orderBy("day").rowsBetween(1 - _OLS_WINDOW_DAYS, 0)
    ty = (F.col("t").cast("decimal(19,0)") * F.col("y")).alias("ty")
    sums = series.select(
        "day",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("t").over(w).alias("st"),
        F.sum("y").over(w).alias("sy"),
        F.sum(F.col("t") * F.col("t")).over(w).alias("stt"),
        F.sum(ty).over(w).alias("sty"),
    ).filter(F.col("n") == _OLS_WINDOW_DAYS)
    n = F.col("n").cast("double")
    num = n * F.col("sty").cast("double") - F.col("st").cast(
        "double"
    ) * F.col("sy").cast("double")
    den = n * F.col("stt").cast("double") - F.col("st").cast(
        "double"
    ) * F.col("st").cast("double")
    return sums.select(
        "day", F.round(num / den / 100.0, 4).alias("slope_per_day")
    ).orderBy("day")


ROLLING_OLS_SLOPE_SQL = f"""
WITH daily AS (
    SELECT CAST(o_orderdate AS DATE) AS day,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(20,6))) * 100
                AS DECIMAL(19,0)) AS y
    FROM orders GROUP BY 1
),
series AS (
    SELECT day, CAST(day - DATE '1992-01-01' AS BIGINT) AS t, y FROM daily
),
sums AS (
    SELECT day,
           COUNT(*) OVER w AS n,
           SUM(t) OVER w AS st,
           SUM(y) OVER w AS sy,
           SUM(t * t) OVER w AS stt,
           SUM(CAST(t AS DECIMAL(19,0)) * y) OVER w AS sty
    FROM series
    WINDOW w AS (ORDER BY day
                 ROWS BETWEEN {_OLS_WINDOW_DAYS - 1} PRECEDING
                          AND CURRENT ROW)
)
SELECT day,
       ROUND((CAST(n AS DOUBLE) * CAST(sty AS DOUBLE)
              - CAST(st AS DOUBLE) * CAST(sy AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(stt AS DOUBLE)
                - CAST(st AS DOUBLE) * CAST(st AS DOUBLE))
             / 100.0, 4) AS slope_per_day
FROM sums
WHERE n = {_OLS_WINDOW_DAYS}
ORDER BY day
"""


_CUSUM_FRAC = 0.1  # changepoint threshold: 10% of total abs deviation


def cusum_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection over the per-type daily value series:
    the running sum of deviations from the series mean, flagging days
    where |CUSUM| exceeds a fraction of the total absolute deviation — a
    persistent level shift drives the cumulative sum across the
    threshold where pointwise outlier rules stay silent.

    Determinism: daily sums are exact decimals; the mean is one rounded
    double division cast BACK to decimal, so deviations and their
    running/total sums stay exact decimal arithmetic on both engines;
    the only float ops are the final threshold compare and display
    rounding — identical single expressions.

    Scale: the per-type day series is a pre-aggregated micro-relation
    (|types| x |days|) — the CUSUM window runs per type on thousands of
    rows regardless of corpus size; the heavy work is the combinable
    daily aggregate underneath.
    """
    daily = (
        table(spark, sf_dir, "events")
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.sum(F.col("value").cast(DEC)).alias("rev"))
    )
    mean_dec = (
        F.round(F.sum("rev").over(Window.partitionBy("event_type")).cast("double")
                / F.count(F.lit(1)).over(Window.partitionBy("event_type")), 6)
        .cast(DEC)
    )
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("event_type")
    dev = daily.select(
        "event_type",
        "day",
        F.col("rev").cast("double").alias("rev"),
        (F.col("rev") - mean_dec).alias("dev"),
    )
    return (
        dev.select(
            "event_type",
            "day",
            F.round("rev", 2).alias("rev"),
            F.sum("dev").over(w_cum).cast("double").alias("cusum_d"),
            (F.sum(F.abs(F.col("dev"))).over(w_all).cast("double")
             * _CUSUM_FRAC).alias("thr"),
        )
        .select(
            "event_type",
            "day",
            "rev",
            # + 0.0 canonicalizes IEEE negative zero (-0.0 + 0.0 == +0.0):
            # a tiny negative running sum rounds to -0.0 and the two
            # engines disagree on its sign bit otherwise
            (F.round("cusum_d", 2) + F.lit(0.0)).alias("cusum"),
            (F.abs(F.col("cusum_d")) > F.col("thr")).alias("shift_flag"),
        )
        .orderBy("event_type", "day")
    )


CUSUM_SQL = f"""
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS day,
           SUM(CAST(value AS DECIMAL(20,6))) AS rev
    FROM events GROUP BY event_type, day
),
dev AS (
    SELECT event_type, day, CAST(rev AS DOUBLE) AS rev,
           rev - CAST(ROUND(
               CAST(SUM(rev) OVER (PARTITION BY event_type) AS DOUBLE)
               / COUNT(*) OVER (PARTITION BY event_type), 6)
             AS DECIMAL(20,6)) AS dev
    FROM daily
),
cum AS (
    SELECT event_type, day, ROUND(rev, 2) AS rev,
           CAST(SUM(dev) OVER (PARTITION BY event_type ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS DOUBLE) AS cusum_d,
           CAST(SUM(ABS(dev)) OVER (PARTITION BY event_type) AS DOUBLE)
               * {_CUSUM_FRAC} AS thr
    FROM dev
)
SELECT event_type, day, rev, ROUND(cusum_d, 2) + 0.0 AS cusum,
       ABS(cusum_d) > thr AS shift_flag
FROM cum
ORDER BY event_type, day
"""


_STL_HALF = 3  # centered 7-day trend window


def stl_decompose_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STL-lite seasonal decomposition of daily order revenue:
    trend = centered 7-day moving average (full windows only),
    seasonal = per-ISO-weekday mean of the detrended series,
    residual = detrended - seasonal. The classic additive
    trend/season/remainder split, exact where it can be.

    Determinism: revenue and the 7-day trend sum are exact decimals
    (trend = one rounded double division); the detrended doubles are
    rounded to 6 and re-cast to decimal before the seasonal mean, so
    every aggregate is order-free; residual is one double subtraction.
    Weekday is ISO (1=Mon..7=Sun) on both engines.

    Scale: the series is a |days|-sized micro-relation; windows and the
    weekday rollup are trivial at any corpus size — the combinable daily
    aggregate does the heavy lifting.
    """
    daily = (
        table(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(F.sum(F.col("o_totalprice").cast(DEC)).alias("rev"))
    )
    w_tr = Window.orderBy("day").rowsBetween(-_STL_HALF, _STL_HALF)
    trended = daily.select(
        "day",
        F.col("rev").cast("double").alias("rev_d"),
        F.when(
            F.count(F.lit(1)).over(w_tr) == 2 * _STL_HALF + 1,
            F.round(
                F.sum("rev").over(w_tr).cast("double") / (2 * _STL_HALF + 1), 6
            ),
        ).alias("trend"),
    ).filter(F.col("trend").isNotNull())
    detr = trended.select(
        "day",
        "rev_d",
        "trend",
        F.round(F.col("rev_d") - F.col("trend"), 6).cast(DEC).alias("detr"),
        (F.weekday("day") + 1).alias("dow"),
    )
    w_dow = Window.partitionBy("dow")
    return (
        detr.select(
            "day",
            "dow",
            F.round("rev_d", 2).alias("revenue"),
            "trend",
            F.col("detr").cast("double").alias("detr_d"),
            F.round(
                F.sum("detr").over(w_dow).cast("double")
                / F.count(F.lit(1)).over(w_dow),
                6,
            ).alias("seasonal"),
        )
        .select(
            "day",
            "dow",
            "revenue",
            "trend",
            "seasonal",
            # + 0.0: negative-zero canonicalization, as in cusum
            (F.round(F.col("detr_d") - F.col("seasonal"), 6) + F.lit(0.0)).alias(
                "residual"
            ),
        )
        .orderBy("day")
    )


STL_SQL = f"""
WITH daily AS (
    SELECT CAST(o_orderdate AS DATE) AS day,
           SUM(CAST(o_totalprice AS DECIMAL(20,6))) AS rev
    FROM orders GROUP BY day
),
trended AS (
    SELECT day, CAST(rev AS DOUBLE) AS rev_d,
           CASE WHEN COUNT(*) OVER w = {2 * _STL_HALF + 1}
                THEN ROUND(CAST(SUM(rev) OVER w AS DOUBLE)
                           / {2 * _STL_HALF + 1}, 6)
           END AS trend
    FROM daily
    WINDOW w AS (ORDER BY day
                 ROWS BETWEEN {_STL_HALF} PRECEDING AND {_STL_HALF} FOLLOWING)
),
detr AS (
    SELECT day, rev_d, trend,
           CAST(ROUND(rev_d - trend, 6) AS DECIMAL(20,6)) AS detr,
           isodow(day) AS dow
    FROM trended WHERE trend IS NOT NULL
)
SELECT day, dow, ROUND(rev_d, 2) AS revenue, trend,
       ROUND(CAST(SUM(detr) OVER (PARTITION BY dow) AS DOUBLE)
             / COUNT(*) OVER (PARTITION BY dow), 6) AS seasonal,
       ROUND(CAST(detr AS DOUBLE)
             - ROUND(CAST(SUM(detr) OVER (PARTITION BY dow) AS DOUBLE)
                     / COUNT(*) OVER (PARTITION BY dow), 6), 6) + 0.0 AS residual
FROM detr
ORDER BY day
"""


def gapfill_interpolate_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style gap-fill with LINEAR INTERPOLATION: the complete
    (event_type × day) spine as in [[gapfill_locf_daily]], but missing
    days blend the bracketing observations by time fraction
    (``prev + (next-prev) * gap_pos/gap_len``) instead of carrying the
    last value. Days outside a type's observed range stay NULL.

    Determinism: the bracketing values are the daily means (exact
    decimal sum, one rounded division); the blend is a single identical
    double expression on both engines, rounded for display.

    Scale: identical to the LOCF variant — the spine is generated rows,
    the fact side pre-aggregates to the daily micro-relation, and the
    four IGNORE NULLS edge-value windows run per type over |days| rows.
    """
    ev = table(spark, sf_dir, "events").select(
        "event_type", F.to_date("ts").alias("day"), "value"
    )
    daily = ev.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(
            F.sum(F.col("value").cast(DEC)).cast("double") / F.count("value"),
            6,
        ).alias("avg_value"),
    )
    bounds = ev.agg(F.min("day").alias("mn"), F.max("day").alias("mx"))
    spine = bounds.select(
        F.explode(F.expr("sequence(mn, mx, interval 1 day)")).alias("day")
    )
    grid = ev.select("event_type").distinct().crossJoin(F.broadcast(spine))
    w_prev = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_next = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_day = F.when(F.col("avg_value").isNotNull(), F.col("day"))
    obs_val = F.col("avg_value")
    joined = grid.join(daily, ["event_type", "day"], "left").select(
        "event_type",
        "day",
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        "avg_value",
        F.last(obs_day, ignorenulls=True).over(w_prev).alias("pd"),
        F.last(obs_val, ignorenulls=True).over(w_prev).alias("pv"),
        F.first(obs_day, ignorenulls=True).over(w_next).alias("nd"),
        F.first(obs_val, ignorenulls=True).over(w_next).alias("nv"),
    )
    frac = F.datediff("day", "pd").cast("double") / F.datediff("nd", "pd")
    return joined.select(
        "event_type",
        "day",
        "n_events",
        F.when(F.col("avg_value").isNotNull(), F.round("avg_value", 6))
        .when(
            F.col("pd").isNotNull() & F.col("nd").isNotNull(),
            F.round(F.col("pv") + (F.col("nv") - F.col("pv")) * frac, 6),
        )
        .alias("value_interp"),
    ).orderBy("event_type", "day")


GAPFILL_INTERP_SQL = """
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
),
edges AS (
    SELECT g.event_type, g.day,
           COALESCE(d.n_events, 0) AS n_events,
           d.avg_value,
           LAST_VALUE(CASE WHEN d.avg_value IS NOT NULL THEN g.day END
                      IGNORE NULLS) OVER wp AS pd,
           LAST_VALUE(d.avg_value IGNORE NULLS) OVER wp AS pv,
           FIRST_VALUE(CASE WHEN d.avg_value IS NOT NULL THEN g.day END
                       IGNORE NULLS) OVER wn AS nd,
           FIRST_VALUE(d.avg_value IGNORE NULLS) OVER wn AS nv
    FROM grid g LEFT JOIN daily d
      ON g.event_type = d.event_type AND g.day = d.day
    WINDOW wp AS (PARTITION BY g.event_type ORDER BY g.day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
           wn AS (PARTITION BY g.event_type ORDER BY g.day
                  ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT event_type, day, n_events,
       CASE WHEN avg_value IS NOT NULL THEN ROUND(avg_value, 6)
            WHEN pd IS NOT NULL AND nd IS NOT NULL THEN
                ROUND(pv + (nv - pv)
                      * (CAST(datediff('day', pd, day) AS DOUBLE)
                         / datediff('day', pd, nd)), 6)
       END AS value_interp
FROM edges
ORDER BY event_type, day
"""


_HOLT_ALPHA = 0.5
_HOLT_BETA = 0.3
_HOLT_HORIZON = 7


def holt_linear_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear-trend (double exponential) smoothing over the daily
    revenue series per event type, with a {h}-day-ahead forecast
    ``level + h * trend`` — the second sequential recurrence next to
    [[ema_daily_revenue]], this one carrying a 2-component state
    (level, trend) that no associative aggregate can express.

    The fold runs over the day-sorted array with a STRUCT accumulator
    seeded ``(l=x1, b=x2-x1)`` and folding x2..xn. The oracle is a
    recursive CTE stepping the same recurrence (NOT ``list_reduce``
    with a struct accumulator: DuckDB 1.0 evaluates the result-struct's
    fields with in-place accumulator update, so the ``b`` expression
    sees the already-updated ``l`` — measured, not documented); each CTE
    step writes the identical IEEE expression tree, so the doubles are
    bit-exact across engines.

    Scale: the recurrence runs on the pre-aggregated (type, day) series
    — calendar-bounded at any corpus size; the heavy work is the
    combinable daily aggregate underneath (same argument as the EMA).
    """
    daily = (
        table(spark, sf_dir, "events")
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(dsum(F.col("value"), "rev"))
    )
    arr = F.array_sort(F.collect_list(F.struct("day", "rev")))
    vals = F.transform(arr, lambda s: s["rev"])
    x1 = F.element_at(vals, 1)
    x2 = F.element_at(vals, 2)
    a, be = F.lit(_HOLT_ALPHA), F.lit(_HOLT_BETA)
    lvl = lambda acc, x: a * x + (F.lit(1.0) - a) * (acc["l"] + acc["b"])  # noqa: E731
    state = F.aggregate(
        F.slice(vals, 2, F.size(vals) - 1),
        F.struct(x1.alias("l"), (x2 - x1).alias("b")),
        lambda acc, x: F.struct(
            lvl(acc, x).alias("l"),
            (be * (lvl(acc, x) - acc["l"]) + (F.lit(1.0) - be) * acc["b"]).alias(
                "b"
            ),
        ),
    )
    return (
        daily.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.max("day").alias("last_day"),
            state.alias("st"),
        )
        .filter(F.col("n_days") >= 2)
        .select(
            "event_type",
            "n_days",
            "last_day",
            F.round(F.col("st.l"), 4).alias("level"),
            F.round(F.col("st.b"), 4).alias("trend"),
            F.round(F.col("st.l") + _HOLT_HORIZON * F.col("st.b"), 4).alias(
                "forecast"
            ),
        )
        .orderBy("event_type")
    )

holt_linear_forecast.__doc__ = holt_linear_forecast.__doc__.format(h=_HOLT_HORIZON)


HOLT_SQL = f"""
WITH RECURSIVE daily AS (
    SELECT event_type, CAST(ts AS DATE) AS day,
           {oracle_dsum("value", "rev")}
    FROM events GROUP BY event_type, CAST(ts AS DATE)
),
seq AS (
    SELECT event_type, rev,
           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS i
    FROM daily
),
meta AS (
    SELECT event_type, COUNT(*) AS n_days, MAX(day) AS last_day
    FROM daily GROUP BY event_type
),
rec AS (
    -- base: the fold's first iteration (acc = (x1, x2-x1), x = x2),
    -- written as the UNsimplified expression tree the fold executes
    SELECT s1.event_type, 2 AS i,
           {_HOLT_ALPHA} * s2.rev
               + {1.0 - _HOLT_ALPHA} * (s1.rev + (s2.rev - s1.rev)) AS l,
           {_HOLT_BETA} * ({_HOLT_ALPHA} * s2.rev
                + {1.0 - _HOLT_ALPHA} * (s1.rev + (s2.rev - s1.rev))
                - s1.rev)
               + {1.0 - _HOLT_BETA} * (s2.rev - s1.rev) AS b
    FROM seq s1 JOIN seq s2
      ON s1.event_type = s2.event_type AND s1.i = 1 AND s2.i = 2
    UNION ALL
    SELECT r.event_type, r.i + 1,
           {_HOLT_ALPHA} * s.rev + {1.0 - _HOLT_ALPHA} * (r.l + r.b),
           {_HOLT_BETA} * ({_HOLT_ALPHA} * s.rev
                + {1.0 - _HOLT_ALPHA} * (r.l + r.b) - r.l)
               + {1.0 - _HOLT_BETA} * r.b
    FROM rec r JOIN seq s
      ON s.event_type = r.event_type AND s.i = r.i + 1
)
SELECT m.event_type, m.n_days, m.last_day,
       ROUND(r.l, 4) AS level,
       ROUND(r.b, 4) AS trend,
       ROUND(r.l + {_HOLT_HORIZON} * r.b, 4) AS forecast
FROM rec r JOIN meta m
  ON r.event_type = m.event_type AND r.i = m.n_days
WHERE m.n_days >= 2
ORDER BY m.event_type
"""


_SNAPSHOT_AT = "2024-01-15 12:00:00"  # mid-range wall-clock instant


def scd2_snapshot_at(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal point-in-time query over the SCD2 history built by
    [[scd2_intervals]]: reconstruct every user's state AS OF a fixed
    instant (interval containing T: ``valid_from <= T < valid_to``,
    open intervals unbounded) and report the per-state census — the
    "what did the dimension look like last Tuesday" query that is the
    reason SCD2 history exists.

    Scale: identical to the interval build (two windows on one user_id
    partitioning); the snapshot filter is row-local on the intervals and
    the census aggregate is combinable. Time math is exact integer
    microseconds against a wall-clock NTZ literal — no session-timezone
    dependence.
    """
    t_us = epoch_us(F.lit(_SNAPSHOT_AT).cast("timestamp_ntz"))
    events = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changed = (
        events.select("user_id", "event_type", "ts", "event_id")
        .withColumn("prev_state", F.lag("event_type").over(w))
        .filter(
            F.col("prev_state").isNull()
            | (F.col("prev_state") != F.col("event_type"))
        )
    )
    intervals = changed.select(
        "user_id",
        "event_type",
        epoch_us("ts").alias("from_us"),
        epoch_us(F.lead("ts").over(w)).alias("to_us"),
    )
    return (
        intervals.filter(
            (F.col("from_us") <= t_us)
            & (F.col("to_us").isNull() | (F.col("to_us") > t_us))
        )
        .withColumn("age_us", t_us - F.col("from_us"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("user_id").cast("bigint").alias("user_checksum"),
            # mean state age at T: decimal128 sum, exact integer DIV
            F.expr(
                "cast(sum(cast(age_us as decimal(38,0))) div count(1)"
                " as bigint)"
            ).alias("mean_age_us"),
        )
        .orderBy("event_type")
    )


SCD2_SNAPSHOT_SQL = f"""
WITH ordered AS (
    SELECT user_id, event_type, ts, event_id,
           LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_state
    FROM events
),
changes AS (
    SELECT user_id, event_type, ts, event_id FROM ordered
    WHERE prev_state IS NULL OR prev_state <> event_type
),
intervals AS (
    SELECT user_id, event_type,
           epoch_us(ts) AS from_us,
           epoch_us(LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
               AS to_us
    FROM changes
)
SELECT event_type,
       COUNT(*) AS n_users,
       CAST(SUM(user_id) AS BIGINT) AS user_checksum,
       -- HUGEINT sum + integer //: a DECIMAL(38,0) sum here would make
       -- // ROUND (DuckDB decimal division), not floor — off-by-one vs
       -- Spark's div (same discipline as scd2_intervals)
       CAST(SUM(epoch_us(TIMESTAMP '{_SNAPSHOT_AT}') - from_us)
            // COUNT(1) AS BIGINT) AS mean_age_us
FROM intervals
WHERE from_us <= epoch_us(TIMESTAMP '{_SNAPSHOT_AT}')
  AND (to_us IS NULL OR to_us > epoch_us(TIMESTAMP '{_SNAPSHOT_AT}'))
GROUP BY event_type
ORDER BY event_type
"""


def theil_sen_revenue_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend estimate of daily order revenue: the
    MEDIAN of all pairwise slopes ``(rev_j - rev_i)/(day_j - day_i)`` —
    the estimator that shrugs off up to ~29% outlier days where OLS
    ([[rolling_ols_slope]]) chases every spike. Revenue is exact integer
    cents; the median is the same exact interpolated percentile both
    engines share (``percentile`` == ``quantile_cont``, the
    [[funnel_time_to_convert]] parity).

    Scale: the pair space is |days|² over the CALENDAR-bounded daily
    micro-relation (thousands of rows at any corpus size → millions of
    pairs, trivially partitioned); pairing is an EQUI-join on an
    exploded index — no theta/nested-loop join — and the heavy corpus
    work is the combinable daily aggregate underneath.
    """
    daily = (
        table(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(
            (F.sum(F.col("o_totalprice").cast(DEC)) * 100)
            .cast("decimal(19,0)")
            .cast("bigint")
            .alias("cents")
        )
    )
    # global index over the micro-relation (|days| rows — the one place
    # a single-partition window is free by construction, as in the ACF)
    w = Window.orderBy("day")
    idx = scope.persist(daily.select(
        "day", "cents", F.row_number().over(w).alias("i")
    ))
    n = idx.agg(F.max("i").alias("n"))
    a = (
        idx.crossJoin(F.broadcast(n))
        # guard i < n: Spark's sequence(start, stop) runs DESCENDING when
        # start > stop (the last row would pair backwards); DuckDB's
        # generate_series is empty there
        .filter(F.col("i") < F.col("n"))
        # the single-partition window above leaves idx in ONE partition;
        # spread the |days|²/2 explode across the cluster before it fans
        # out (measured 12.8s -> ~2s at sf0.1 on local[32])
        .repartition(spark.sparkContext.defaultParallelism, "i")
        .select(
            F.col("day").alias("day_a"),
            F.col("cents").alias("cents_a"),
            F.explode(F.sequence(F.col("i") + 1, F.col("n"))).alias("j"),
        )
    )
    b = idx.select(
        F.col("i").alias("j"),
        F.col("day").alias("day_b"),
        F.col("cents").alias("cents_b"),
    )
    slope = (F.col("cents_b") - F.col("cents_a")) / F.datediff(
        "day_b", "day_a"
    )
    sl = scope.persist(a.join(F.broadcast(b), "j").select(slope.alias("slope")))
    # materialize the two shared relations BEFORE building the selection
    # phases below: their broadcast subtrees (n, b, stats, hits, med)
    # kick off as concurrent jobs at action time and, racing on a cold
    # cache, each re-derived the slope pipeline from the orders scan
    # (measured at sf0.1: orders scanned 12x, 165 s of executor time for
    # a ~35 s DAG). One eager job pins idx; the stats collect below
    # materializes the slope cache.
    idx.count()

    # Exact median WITHOUT `percentile(...)`: Spark's exact percentile
    # buffers every value and merges them on ONE reducer (measured ~9 s
    # of this query's runtime at sf0.1). Instead, the equidepth_histogram
    # selection trick: the interpolated median is determined by at most
    # two order statistics (ranks floor/ceil of (N+1)/2), so bucket the
    # slopes by value, locate the bucket(s) holding those ranks, and sort
    # only inside the hit bucket(s) (~N/8192 rows). Every pass is fully
    # parallel; nothing ever concentrates the pair space on one task.
    #
    # The selection scalars are BOUNDED driver values — a 1-row stats
    # aggregate and a <= B-row bucket histogram (bounded by the constant
    # B, not by data) — so they are collected and drive the later passes
    # as literals. Kept as broadcast subtrees instead (the old shape),
    # every reference re-scanned the cached slope relation: stats was
    # re-aggregated 3x, the save phase alone measured 4.8 s at sf0.1 in
    # crossJoin/BNLJ subtrees and their AQE re-plans. Literal-driven
    # passes scan the cache exactly 3x total.
    B = 8192
    mn, mx, n_pairs = sl.agg(
        F.min("slope"), F.max("slope"), F.count(F.lit(1))
    ).collect()[0]
    if n_pairs and mx != mn:
        # identical IEEE arithmetic to the old column form: mn/mx are the
        # exact doubles the old crossJoin carried, (mx - mn) is the same
        # double subtraction
        pb_expr = F.least(
            F.floor((F.col("slope") - F.lit(mn)) / F.lit(mx - mn) * B),
            F.lit(B - 1),
        )
    else:
        pb_expr = F.lit(0)
    bucketed = sl.select("slope", pb_expr.alias("pb"))
    # ranks of the two central order statistics (equal when N is odd)
    r_lo, r_hi = (n_pairs + 1) // 2, n_pairs // 2 + 1
    cum = 0
    hits: dict[int, list[int]] = {}
    for row in sorted(
        bucketed.groupBy("pb").agg(F.count(F.lit(1)).alias("cnt")).collect()
    ):
        lo, hi = cum, cum + row["cnt"]
        for rk in {r_lo, r_hi}:
            if lo < rk <= hi:
                hits.setdefault(row["pb"], []).append(rk - lo)
        cum = hi
    if hits:
        rn_w = Window.partitionBy("pb").orderBy("slope")
        cand = bucketed.filter(
            F.col("pb").isin(*hits)
        ).withColumn("rn", F.row_number().over(rn_w))
        picked = cand.filter(
            reduce(
                lambda a, b: a | b,
                (
                    (F.col("pb") == pb) & F.col("rn").isin(*rks)
                    for pb, rks in hits.items()
                ),
            )
        ).select("slope")
    else:  # empty input: 1 output row with a NULL median, as before
        picked = bucketed.select("slope").filter(F.lit(False))
    med = picked.agg(
        (F.sum("slope") / F.count(F.lit(1))).alias("median_slope")
    )
    return med.select(
        F.lit(n_pairs).cast("bigint").alias("n_pairs"),
        F.round(F.col("median_slope") / 100.0, 4).alias("ts_slope_per_day"),
    )


THEIL_SEN_SQL = """
WITH daily AS (
    SELECT CAST(o_orderdate AS DATE) AS day,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(20,6))) * 100
                AS DECIMAL(19,0)) AS BIGINT) AS cents
    FROM orders GROUP BY day
),
idx AS (
    SELECT day, cents, ROW_NUMBER() OVER (ORDER BY day) AS i FROM daily
),
n AS (SELECT MAX(i) AS n FROM idx),
pairs AS (
    SELECT a.day AS day_a, a.cents AS cents_a, t.j
    FROM idx a CROSS JOIN n, unnest(generate_series(a.i + 1, n.n)) AS t(j)
),
slopes AS (
    SELECT CAST(p.cents_b - p2.cents_a AS DOUBLE)
           / datediff('day', p2.day_a, p.day_b) AS slope
    FROM (SELECT j, day_a, cents_a FROM pairs) p2
    JOIN (SELECT i AS j, day AS day_b, cents AS cents_b FROM idx) p
      USING (j)
)
SELECT COUNT(*) AS n_pairs,
       ROUND(quantile_cont(slope, 0.5) / 100.0, 4) AS ts_slope_per_day
FROM slopes
"""


_MED_WINDOW = 7  # trailing rolling-median width (odd: single-element pick)


def rolling_median_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact trailing-7-day rolling MEDIAN of daily revenue per event
    type — the robust smoother a spike-heavy ops series needs where the
    rolling mean chases outliers. Median has no partial-merge
    decomposition, so the rewrite collects the (bounded) window into an
    array and picks the middle element: with an ODD full window the
    median is a single element — an exact pick, no float interpolation.
    Partial (ramp-up) windows are excluded.

    Scale: the window runs on the pre-aggregated (type, day)
    micro-relation, and the collected array is WINDOW-sized (7), not
    data-sized — per-row cost is O(w log w) on a calendar-bounded
    relation at any corpus size.
    """
    daily = (
        table(spark, sf_dir, "events")
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(dsum(F.col("value"), "rev"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-(_MED_WINDOW - 1), Window.currentRow)
    )
    arr = F.array_sort(F.collect_list("rev").over(w))
    return (
        daily.select(
            "event_type",
            "day",
            F.round("rev", 2).alias("rev"),
            F.when(
                F.size(arr) == _MED_WINDOW,
                F.element_at(arr, (_MED_WINDOW + 1) // 2),
            ).alias("median_7d"),
        )
        .filter(F.col("median_7d").isNotNull())
        .orderBy("event_type", "day")
    )


ROLLING_MEDIAN_SQL = f"""
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS day,
           {oracle_dsum("value", "rev")}
    FROM events GROUP BY event_type, CAST(ts AS DATE)
),
win AS (
    SELECT event_type, day, ROUND(rev, 2) AS rev,
           COUNT(*) OVER w AS n_win,
           (list_sort(list(rev) OVER w))[{(_MED_WINDOW + 1) // 2}] AS med
    FROM daily
    WINDOW w AS (PARTITION BY event_type ORDER BY day
                 ROWS BETWEEN {_MED_WINDOW - 1} PRECEDING AND CURRENT ROW)
)
SELECT event_type, day, rev, med AS median_7d
FROM win WHERE n_win = {_MED_WINDOW}
ORDER BY event_type, day
"""


_SESSION_GAP_SEC = 1800


def interval_bucket_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted interval-to-bucket allocation: gap-based sessions
    (same 30-min rule as [[sessionize_events]]) are split across the
    hour buckets they span, each bucket receiving its exact overlap
    seconds — the hypertable "time-weighted occupancy" shape (billing,
    utilization, concurrency heatmaps all need interval seconds per
    bucket, not event counts).

    Scale: sessions come from the single-shuffle sessionization; each
    session explodes into only the hour buckets it spans (bounded by
    duration, not data size) with ``overlap = min(end, bucket_end) -
    max(start, bucket_start)`` in exact integer seconds; the final
    aggregate is a combinable sum per hour. Multi-day intervals widen
    the fan-out linearly — bucket granularity picks the trade.
    """
    ev = table(spark, sf_dir, "events").select("event_id", "ts", "user_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    sess = (
        ev.withColumn(
            "is_new", F.when(gap.isNull() | (gap > _SESSION_GAP_SEC), 1).otherwise(0)
        )
        .withColumn("session_idx", F.sum("is_new").over(wrun))
        .groupBy("user_id", "session_idx")
        .agg(
            F.unix_timestamp(F.min("ts")).alias("s"),
            F.unix_timestamp(F.max("ts")).alias("e"),
        )
    )
    h0 = F.floor(F.col("s") / 3600)
    h1 = F.floor(F.col("e") / 3600)
    exploded = sess.select(
        "s", "e", F.explode(F.sequence(h0, h1)).alias("hour_idx")
    )
    overlap = F.least(F.col("e"), (F.col("hour_idx") + 1) * 3600) - F.greatest(
        F.col("s"), F.col("hour_idx") * 3600
    )
    return (
        exploded.groupBy("hour_idx")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum(overlap).alias("busy_sec"),
        )
        .select(
            F.timestamp_seconds(F.col("hour_idx") * 3600)
            .cast("timestamp_ntz")
            .alias("hour"),
            "n_sessions",
            "busy_sec",
        )
        .orderBy("hour")
    )


INTERVAL_BUCKET_SQL = f"""
WITH flagged AS (
    SELECT user_id, ts, event_id,
           CASE WHEN LAG(ts) OVER w IS NULL
                  OR DATE_DIFF('second', LAG(ts) OVER w, ts) > {_SESSION_GAP_SEC}
                THEN 1 ELSE 0 END AS is_new
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessioned AS (
    SELECT *,
           SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
    FROM flagged
),
sess AS (
    -- FLOOR before the cast: CAST(DOUBLE AS BIGINT) rounds in DuckDB,
    -- while Spark's unix_timestamp truncates fractional seconds
    SELECT user_id, session_idx,
           CAST(FLOOR(epoch(MIN(ts))) AS BIGINT) AS s,
           CAST(FLOOR(epoch(MAX(ts))) AS BIGINT) AS e
    FROM sessioned GROUP BY user_id, session_idx
),
exploded AS (
    SELECT s, e, unnest(generate_series(s // 3600, e // 3600)) AS hour_idx
    FROM sess
)
SELECT CAST(to_timestamp(hour_idx * 3600) AS TIMESTAMP) AS hour,
       COUNT(*) AS n_sessions,
       -- BIGINT, not DuckDB's HUGEINT sum: bounded by n_sessions * 3600
       CAST(SUM(LEAST(e, (hour_idx + 1) * 3600)
                - GREATEST(s, hour_idx * 3600)) AS BIGINT) AS busy_sec
FROM exploded
GROUP BY hour_idx
ORDER BY hour
"""


QUERIES = {
    "rolling_distinct_users": rolling_distinct_users,
    "holt_linear_forecast": holt_linear_forecast,
    "interval_bucket_overlap": interval_bucket_overlap,
    "rolling_median_revenue": rolling_median_revenue,
    "theil_sen_revenue_trend": theil_sen_revenue_trend,
    "scd2_snapshot_at": scd2_snapshot_at,
    "acf_daily_revenue": acf_daily_revenue,
    "rolling_ols_slope": rolling_ols_slope,
    "ema_daily_revenue": ema_daily_revenue,
    "scd2_intervals": scd2_intervals,
    "cumulative_distinct_users": cumulative_distinct_users,
    "windowed_topk_types": windowed_topk_types,
    "cusum_changepoints": cusum_changepoints,
    "stl_decompose_daily": stl_decompose_daily,
    "gapfill_interpolate_daily": gapfill_interpolate_daily,
}

ORACLES = {
    "rolling_distinct_users": ROLLING_DISTINCT_USERS_SQL,
    "holt_linear_forecast": HOLT_SQL,
    "interval_bucket_overlap": INTERVAL_BUCKET_SQL,
    "rolling_median_revenue": ROLLING_MEDIAN_SQL,
    "theil_sen_revenue_trend": THEIL_SEN_SQL,
    "scd2_snapshot_at": SCD2_SNAPSHOT_SQL,
    "acf_daily_revenue": ACF_DAILY_REVENUE_SQL,
    "rolling_ols_slope": ROLLING_OLS_SLOPE_SQL,
    "ema_daily_revenue": EMA_DAILY_REVENUE_SQL,
    "scd2_intervals": SCD2_INTERVALS_SQL,
    "cumulative_distinct_users": CUMULATIVE_DISTINCT_USERS_SQL,
    "windowed_topk_types": WINDOWED_TOPK_TYPES_SQL,
    "cusum_changepoints": CUSUM_SQL,
    "stl_decompose_daily": STL_SQL,
    "gapfill_interpolate_daily": GAPFILL_INTERP_SQL,
}
