"""Round-3 wave-3 operators: survival analysis, apportionment, lagged
cross-correlation, winnowing fingerprints, Bloom-filter join pruning,
count-min heavy hitters, and Adamic-Adar link prediction.

Operator families the catalog didn't cover yet:

* ``kaplan_meier_risk`` — right-censored survival (Kaplan-Meier risk
  table) over customer order lifetimes; the standard churn/retention
  estimator, emitted as exact integer counts so both engines agree
  bit-for-bit.
* ``largest_remainder_allocation`` — Hamilton apportionment (largest
  remainder): proportional integer allocation of a fixed budget across
  groups, the canonical "split N samples across strata" primitive for
  corpus mixing.
* ``xcorr_lagged_revenue`` — lagged cross-correlation between two daily
  series, co-moments accumulated in exact decimal so Pearson r at each
  lag is one deterministic IEEE expression over exact inputs.
* ``winnowing_fingerprints`` — MOSS-style winnowing (Schleimer et al.,
  SIGMOD'03): select the minimum k-gram hash in every sliding window of
  w hashes; the guarantee-bearing local fingerprinting scheme used for
  plagiarism/near-dup detection.
* ``bloom_prune_join`` — the runtime-filter semi-join reduction pattern
  (build a Bloom filter on the small side, prune the probe scan), with
  the filter's exact false-positive census as the output.
* ``count_min_heavy_hitters`` — the classic bounded-memory frequency
  sketch, with the one-sided error visible next to exact counts.
* ``adamic_adar_links`` — common-neighbor link prediction with the
  degree-discounted Adamic-Adar score.
* ``haversine_nearest_hub`` — geospatial nearest-facility assignment by
  exact great-circle distance, argmin as an in-row array fold.

Float determinism follows the house rules in ``tables.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from waterbear_spark import scope
from waterbear_spark.queries.tables import table

_KM_SEATS = 1000
_XCORR_MAX_LAG = 7
_WIN_K = 8  # k-gram length (chars)
_WIN_W = 4  # winnowing window (hashes)


# ---------------------------------------------------------------------------
# Kaplan-Meier risk table
# ---------------------------------------------------------------------------

def kaplan_meier_risk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier risk table over customer order-span lifetimes.

    Subjects are customers with >= 1 order. A customer with >= 2 orders
    contributes an *observed* duration (days between first and last
    order); a single-order customer is *right-censored* at the days
    between their order and the global last order date. For every
    distinct observed event time t the table reports the at-risk count
    (subjects with duration >= t — censored-at-t subjects count as at
    risk, the standard convention), the event count d_t, the censored
    count at exactly t, and the running event total. All columns are
    exact integers, so the cross-engine comparison is bit-exact; the
    survival product itself is a client-side fold over (d_t, n_t) and
    deliberately not emitted (float product order is engine-specific).

    Scale: one aggregate over orders (per-customer first/last/count, a
    hash aggregate on o_custkey), one broadcast of the scalar max date,
    then all windows run on the per-duration aggregate — bounded by the
    number of distinct day-durations (the date span), not by data size,
    so the single-partition window is a deliberate, safe reduction at
    any corpus scale.
    """
    orders = table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.min("o_orderdate").alias("first_day"),
        F.max("o_orderdate").alias("last_day"),
    )
    max_day = orders.agg(F.max("o_orderdate").alias("max_day"))
    subj = per_cust.crossJoin(F.broadcast(max_day)).select(
        F.when(
            F.col("n_orders") >= 2,
            F.datediff(F.col("last_day"), F.col("first_day")),
        )
        .otherwise(F.datediff(F.col("max_day"), F.col("first_day")))
        .alias("t_day"),
        (F.col("n_orders") >= 2).cast("int").alias("event"),
    )
    per_t = subj.groupBy("t_day").agg(
        F.count(F.lit(1)).alias("n_subj"),
        F.sum("event").alias("d_events"),
    )
    w_cum = Window.orderBy("t_day").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.partitionBy()
    risk = per_t.select(
        "t_day",
        "d_events",
        (F.col("n_subj") - F.col("d_events")).alias("c_censored"),
        (
            F.sum("n_subj").over(w_all)
            - F.sum("n_subj").over(w_cum)
            + F.col("n_subj")
        ).alias("n_risk"),
    ).filter(F.col("d_events") > 0)
    w_ev = Window.orderBy("t_day").rowsBetween(Window.unboundedPreceding, 0)
    return risk.select(
        "t_day",
        "n_risk",
        "d_events",
        "c_censored",
        F.sum("d_events").over(w_ev).alias("cum_events"),
    ).orderBy("t_day")


KAPLAN_MEIER_RISK_SQL = """
WITH per_cust AS (
    SELECT o_custkey,
           COUNT(*) AS n_orders,
           MIN(o_orderdate) AS first_day,
           MAX(o_orderdate) AS last_day
    FROM orders GROUP BY o_custkey
),
subj AS (
    SELECT CASE WHEN n_orders >= 2
                THEN DATEDIFF('day', first_day, last_day)
                ELSE DATEDIFF('day', first_day,
                              (SELECT MAX(o_orderdate) FROM orders))
           END AS t_day,
           CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END AS event
    FROM per_cust
),
per_t AS (
    SELECT t_day, COUNT(*) AS n_subj, SUM(event) AS d_events
    FROM subj GROUP BY t_day
),
risk AS (
    SELECT t_day,
           d_events,
           n_subj - d_events AS c_censored,
           SUM(n_subj) OVER ()
             - SUM(n_subj) OVER (ORDER BY t_day
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND CURRENT ROW)
             + n_subj AS n_risk
    FROM per_t
)
SELECT CAST(t_day AS BIGINT) AS t_day,
       CAST(n_risk AS BIGINT) AS n_risk,
       CAST(d_events AS BIGINT) AS d_events,
       CAST(c_censored AS BIGINT) AS c_censored,
       CAST(SUM(d_events) OVER (ORDER BY t_day
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW) AS BIGINT)
           AS cum_events
FROM risk
WHERE d_events > 0
ORDER BY t_day
"""


# ---------------------------------------------------------------------------
# Largest-remainder (Hamilton) apportionment
# ---------------------------------------------------------------------------

def largest_remainder_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamilton / largest-remainder apportionment: split a fixed budget
    of 1000 "seats" across nations proportionally to customer count,
    entirely in integer arithmetic. Each nation first gets
    floor(votes * seats / total); the leftover seats go to the largest
    remainders (ties broken by nation key — deterministic). This is the
    exact primitive a corpus-mixing pipeline uses to turn fractional
    language/source weights into integer document budgets.

    Scale: the vote census is one hash aggregate over customer; the
    apportionment itself runs on one row per group (25 nations here,
    rarely more than thousands of strata in practice), so the
    single-partition ranking window is bounded by the number of strata,
    never by the fact-table size.
    """
    cust = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation")
    votes = cust.groupBy("c_nationkey").agg(F.count(F.lit(1)).alias("votes"))
    tot = votes.agg(F.sum("votes").alias("total"))
    base = (
        votes.crossJoin(F.broadcast(tot))
        .select(
            "c_nationkey",
            "votes",
            F.expr(f"(votes * {_KM_SEATS}) div total").alias("floor_share"),
            F.expr(f"(votes * {_KM_SEATS}) % total").alias("remainder"),
        )
    )
    w_extra = Window.partitionBy()
    w_rank = Window.orderBy(F.desc("remainder"), F.asc("c_nationkey"))
    alloc = base.select(
        "c_nationkey",
        "votes",
        "floor_share",
        "remainder",
        (F.lit(_KM_SEATS) - F.sum("floor_share").over(w_extra)).alias("extra"),
        F.row_number().over(w_rank).alias("rnk"),
    ).select(
        "c_nationkey",
        "votes",
        (
            F.col("floor_share")
            + F.when(F.col("rnk") <= F.col("extra"), 1).otherwise(0)
        ).alias("seats"),
    )
    return (
        alloc.join(F.broadcast(nation), alloc.c_nationkey == nation.n_nationkey)
        .select(
            "n_nationkey",
            "n_name",
            "votes",
            F.col("seats").cast("long").alias("seats"),
        )
        .orderBy("n_nationkey")
    )


LARGEST_REMAINDER_ALLOCATION_SQL = f"""
WITH votes AS (
    SELECT c_nationkey, COUNT(*) AS votes FROM customer GROUP BY c_nationkey
),
base AS (
    SELECT c_nationkey,
           votes,
           (votes * {_KM_SEATS}) // (SELECT SUM(votes) FROM votes)
               AS floor_share,
           (votes * {_KM_SEATS}) % (SELECT SUM(votes) FROM votes)
               AS remainder
    FROM votes
),
ranked AS (
    SELECT *,
           {_KM_SEATS} - SUM(floor_share) OVER () AS extra,
           ROW_NUMBER() OVER (ORDER BY remainder DESC, c_nationkey)
               AS rnk
    FROM base
)
SELECT n_nationkey,
       n_name,
       votes,
       CAST(floor_share + CASE WHEN rnk <= extra THEN 1 ELSE 0 END
            AS BIGINT) AS seats
FROM ranked JOIN nation ON c_nationkey = n_nationkey
ORDER BY n_nationkey
"""


# ---------------------------------------------------------------------------
# Lagged cross-correlation
# ---------------------------------------------------------------------------

def xcorr_lagged_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lagged cross-correlation between two daily revenue series (order
    status 'O' vs 'F'): for each lag in [-7, 7], align x(day) with
    y(day + lag) on days where both exist and report Pearson r. The
    co-moments (n, Σx, Σy, Σxy, Σx², Σy²) are accumulated as exact
    decimals — order-independent, bit-identical across engines
    (multiply operands are DECIMAL(19,2): width 18 is int64-backed in
    DuckDB and its product check overflowed at sf0.1 daily revenues;
    19+19 = 38 stays hugeint-exact in both engines) — and r is then a
    single fixed-shape IEEE expression over those exact inputs, so the
    rounded double matches DuckDB exactly.

    Scale: the per-day pre-aggregate shrinks orders to one row per
    (day, status); the 15-lag fan-out is a map-side explode on the
    already-tiny daily frame; the alignment is an equi-join on date.
    Nothing downstream of the first aggregate scales with row count.
    """
    orders = table(spark, sf_dir, "orders")
    daily = (
        orders.filter(F.col("o_orderstatus").isin("O", "F"))
        .groupBy("o_orderdate", "o_orderstatus")
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev"))
    )
    x = daily.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_orderdate").alias("day"), F.col("rev").alias("xv")
    )
    y = daily.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_orderdate").alias("day_y"), F.col("rev").alias("yv")
    )
    lagged = x.select(
        "day",
        "xv",
        F.explode(
            F.sequence(F.lit(-_XCORR_MAX_LAG), F.lit(_XCORR_MAX_LAG))
        ).alias("lag"),
    ).select("day", "xv", "lag", F.expr("date_add(day, lag)").alias("day_y"))
    joined = lagged.join(y, "day_y")
    mom = joined.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum(F.col("xv").cast("decimal(38,4)")).alias("sx"),
        F.sum(F.col("yv").cast("decimal(38,4)")).alias("sy"),
        F.sum(
            (F.col("xv").cast("decimal(19,2)") * F.col("yv").cast("decimal(19,2)"))
            .cast("decimal(38,4)")
        ).alias("sxy"),
        F.sum(
            (F.col("xv").cast("decimal(19,2)") * F.col("xv").cast("decimal(19,2)"))
            .cast("decimal(38,4)")
        ).alias("sxx"),
        F.sum(
            (F.col("yv").cast("decimal(19,2)") * F.col("yv").cast("decimal(19,2)"))
            .cast("decimal(38,4)")
        ).alias("syy"),
    )
    n = F.col("n_days").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx = F.col("sxx").cast("double")
    syy = F.col("syy").cast("double")
    r = (n * sxy - sx * sy) / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
    return mom.select(
        "lag",
        "n_days",
        F.round(sx, 2).alias("sum_x"),
        F.round(sy, 2).alias("sum_y"),
        F.round(r, 6).alias("pearson_r"),
    ).orderBy("lag")


XCORR_LAGGED_REVENUE_SQL = f"""
WITH daily AS (
    SELECT o_orderdate AS day,
           o_orderstatus AS st,
           SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
    FROM orders
    WHERE o_orderstatus IN ('O', 'F')
    GROUP BY 1, 2
),
x AS (SELECT day, rev AS xv FROM daily WHERE st = 'O'),
y AS (SELECT day AS day_y, rev AS yv FROM daily WHERE st = 'F'),
lagged AS (
    SELECT x.day, x.xv, l.lag,
           CAST(x.day + l.lag * INTERVAL 1 DAY AS DATE) AS day_y
    FROM x
    CROSS JOIN (SELECT UNNEST(generate_series(-{_XCORR_MAX_LAG},
                                              {_XCORR_MAX_LAG})) AS lag) l
),
mom AS (
    SELECT lag,
           COUNT(*) AS n_days,
           SUM(CAST(xv AS DECIMAL(38,4))) AS sx,
           SUM(CAST(yv AS DECIMAL(38,4))) AS sy,
           SUM(CAST(CAST(xv AS DECIMAL(19,2)) * CAST(yv AS DECIMAL(19,2))
                    AS DECIMAL(38,4))) AS sxy,
           SUM(CAST(CAST(xv AS DECIMAL(19,2)) * CAST(xv AS DECIMAL(19,2))
                    AS DECIMAL(38,4))) AS sxx,
           SUM(CAST(CAST(yv AS DECIMAL(19,2)) * CAST(yv AS DECIMAL(19,2))
                    AS DECIMAL(38,4))) AS syy
    FROM lagged JOIN y USING (day_y)
    GROUP BY lag
)
SELECT CAST(lag AS INT) AS lag,
       n_days,
       ROUND(CAST(sx AS DOUBLE), 2) AS sum_x,
       ROUND(CAST(sy AS DOUBLE), 2) AS sum_y,
       ROUND((CAST(n_days AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / SQRT((CAST(n_days AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * (CAST(n_days AS DOUBLE) * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
             6) AS pearson_r
FROM mom
ORDER BY lag
"""


# ---------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03)
# ---------------------------------------------------------------------------

def winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints: hash every k-gram (k=8 chars,
    md5-derived 48-bit hash — the engine-neutral stand-in for a rolling
    Karp-Rabin hash), then in every sliding window of w=4 consecutive
    k-gram hashes select the minimum (leftmost on ties, encoded by
    minimizing hash*1024+pos). The distinct selected hashes are the
    document's fingerprints — winnowing guarantees any shared substring
    of length >= k+w-1 yields a shared fingerprint, with density 2/(w+1).
    Reported as a per-source census: docs, total fingerprints, distinct
    fingerprints, and the mean fingerprint density.

    Scale: everything before the final census is row-local — the k-gram
    hashes AND the w-wide window mins are computed per doc inside one
    projection (no position-level rows ever shuffle), and only each
    doc's DISTINCT fingerprints are exploded into the one census
    aggregate on source. Identical shape at 100 TB; fingerprints (not
    text, not per-position hashes) are what shuffles.
    """
    # per-k-gram md5 hashing is the query's budget and runs in the scan
    # stage, i.e. at file-split width; widen to cluster width first
    # (AQE_PROBE_r11 A/B: 1.21x at sf1; no-op on wide production scans)
    from waterbear_spark.queries.llm import _fan_out

    docs = _fan_out(
        spark,
        table(spark, sf_dir, "documents")
        .select("doc_id", "source", "text")
        .filter(F.length("text") >= _WIN_K + _WIN_W - 1),
    )
    # r11 row-local rewrite (guide §2.4): the old form exploded every
    # k-gram position, shuffled the corpus-sized (doc, pos, hkey) stream
    # through a per-doc window-min and a DISTINCT, then aggregated. The
    # winnowing selection is per-document by definition, so the hash
    # array, the sliding mins, and the per-doc dedup all run in one
    # projection; the explode below emits only distinct fingerprints
    # (density 2/(w+1) before dedup). The single-element explode is the
    # generator barrier materializing ``hk`` once — without it the
    # interpreted slice/min lambda re-derives the md5 array per window
    # (the documented HOF re-evaluation trap, operators/microg.py).
    with_hk = docs.select(
        "doc_id",
        "source",
        F.expr(
            f"""
            transform(sequence(1, length(text) - {_WIN_K - 1}), pos ->
              CAST(CONV(SUBSTRING(md5(SUBSTRING(text, pos, {_WIN_K})), 1, 12),
                        16, 10) AS BIGINT) * 1024 + pos)
            """
        ).alias("hk"),
    )
    barrier = with_hk.select(
        "doc_id", "source", F.explode(F.array("hk")).alias("hk")
    )
    fps = barrier.select(
        "doc_id",
        "source",
        F.explode(
            F.expr(
                f"""
                array_distinct(transform(
                  sequence(1, size(hk) - {_WIN_W - 1}),
                  i -> array_min(slice(hk, i, {_WIN_W})) div 1024))
                """
            )
        ).alias("fp"),
    )
    # every doc passing the length filter yields >= 1 full window, so
    # n_docs == COUNT(DISTINCT doc_id) and total_fps == COUNT(*) over
    # the per-doc-distinct fingerprint rows — one aggregate, one scan
    return (
        fps.groupBy("source")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("total_fps"),
            F.countDistinct("fp").alias("distinct_fps"),
        )
        .select("source", "n_docs", "total_fps", "distinct_fps")
        .orderBy("source")
    )


WINNOWING_FINGERPRINTS_SQL = f"""
WITH docs AS (
    SELECT doc_id, source, text, LENGTH(text) AS len
    FROM documents WHERE LENGTH(text) >= {_WIN_K + _WIN_W - 1}
),
grams AS (
    SELECT doc_id, source, len, pos,
           CAST(('0x' || SUBSTR(md5(SUBSTR(text, CAST(pos AS INT), {_WIN_K})),
                                1, 12)) AS UBIGINT)::BIGINT * 1024 + pos
               AS hkey
    FROM docs,
         LATERAL (SELECT UNNEST(generate_series(1, len - {_WIN_K - 1}))
                  AS pos) g
),
selected AS (
    SELECT DISTINCT doc_id, source,
           (MIN(hkey) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN CURRENT ROW
                                     AND {_WIN_W - 1} FOLLOWING)) // 1024
               AS fp
    FROM grams
    QUALIFY pos <= len - {_WIN_K + _WIN_W - 2}
),
per_doc AS (
    SELECT doc_id, source, COUNT(*) AS n_fp
    FROM selected GROUP BY doc_id, source
)
SELECT p.source,
       COUNT(*) AS n_docs,
       CAST(SUM(n_fp) AS BIGINT) AS total_fps,
       (SELECT COUNT(DISTINCT fp) FROM selected s
        WHERE s.source = p.source) AS distinct_fps
FROM per_doc p
GROUP BY p.source
ORDER BY p.source
"""



# ---------------------------------------------------------------------------
# Bloom-filter join pruning (runtime-filter / semi-join reduction pattern)
# ---------------------------------------------------------------------------

_BLOOM_BITS = 16384  # m: filter size in bits (512 32-bit words (bit 31 max keeps the shift overflow-free on both engines))
_BLOOM_K = 2         # hash functions


def _bloom_pos(key, i: int):
    """Deterministic bloom bit position i for a bigint key: md5-derived,
    so DuckDB reproduces the identical filter bit-for-bit."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"bf{i}|"), key.cast("string"))), 1, 15
            ),
            16,
            10,
        ).cast("bigint")
        % _BLOOM_BITS
    )


def bloom_prune_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime-filter (Bloom) semi-join reduction, the pattern Spark's
    own `spark.sql.optimizer.runtimeFilter.bloomFilter.enabled` applies
    to big joins: build a {_BLOOM_BITS}-bit / k={_BLOOM_K} Bloom filter
    over the build side's join keys (customers with an urgent order),
    reduce the probe side (all customers) to filter-passing candidates,
    then verify with the exact join. The census reports build keys,
    Bloom candidates, true matches, and false positives — the filter's
    real selectivity, exact on both engines because the hash is md5.

    Scale: the filter is built by a hash aggregate on word index (512
    rows regardless of build size) and BROADCAST to the probe — this is
    exactly how a runtime filter prunes a 100 TB probe scan down to the
    semi-join survivors before the shuffle join; the probe never
    shuffles non-candidates. The final verify join runs only to measure
    the false-positive rate.
    """
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    build = (
        orders.filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
        .distinct()
    )
    hashes = F.array(
        *[_bloom_pos(F.col("o_custkey"), i) for i in range(_BLOOM_K)]
    )
    words = (
        build.select(F.explode(hashes).alias("pos"))
        .select(
            F.expr("pos div 32").alias("word"),
            F.pmod(F.col("pos"), F.lit(32)).alias("bit"),
        )
        .groupBy("word")
        .agg(F.bit_or(F.expr("shiftleft(1L, CAST(bit AS INT))")).alias("bits"))
    )
    probe = cust.select("c_custkey").select(
        "c_custkey",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("i"),
                    _bloom_pos(F.col("c_custkey"), i).alias("pos"),
                )
                for i in range(_BLOOM_K)
            ])
        ).alias("h"),
    ).select(
        "c_custkey",
        F.col("h.i").alias("i"),
        F.expr("h.pos div 32").alias("word"),
        F.pmod(F.col("h.pos"), F.lit(32)).alias("bit"),
    )
    candidates = (
        probe.join(F.broadcast(words), "word")
        .filter(F.expr("(bits & shiftleft(1L, CAST(bit AS INT))) != 0"))
        .groupBy("c_custkey")
        .agg(F.count_distinct("i").alias("n_hit"))
        .filter(F.col("n_hit") == _BLOOM_K)
        .select("c_custkey")
    )
    truth = cust.join(
        build, cust.c_custkey == build.o_custkey, "left_semi"
    ).select("c_custkey")
    n_build = build.agg(F.count(F.lit(1)).alias("n_build_keys"))
    n_cand = candidates.agg(F.count(F.lit(1)).alias("n_candidates"))
    n_true = truth.agg(F.count(F.lit(1)).alias("n_true_matches"))
    n_fp = (
        candidates.join(truth, "c_custkey", "left_anti")
        .agg(F.count(F.lit(1)).alias("n_false_pos"))
    )
    return (
        n_build.crossJoin(F.broadcast(n_cand))
        .crossJoin(F.broadcast(n_true))
        .crossJoin(F.broadcast(n_fp))
    )


def _bloom_pos_sql(key: str, i: int) -> str:
    return (
        f"CAST(('0x' || SUBSTR(md5('bf{i}|' || CAST({key} AS VARCHAR)), 1, 15))"
        f" AS UBIGINT)::BIGINT % {_BLOOM_BITS}"
    )


BLOOM_PRUNE_JOIN_SQL = f"""
WITH build AS (
    SELECT DISTINCT o_custkey FROM orders
    WHERE o_orderpriority = '1-URGENT'
),
positions AS (
    SELECT {_bloom_pos_sql("o_custkey", 0)} AS pos FROM build
    UNION ALL
    SELECT {_bloom_pos_sql("o_custkey", 1)} AS pos FROM build
),
words AS (
    SELECT pos // 32 AS word,
           BIT_OR(1::BIGINT << CAST(pos % 32 AS INT)) AS bits
    FROM positions GROUP BY 1
),
probe AS (
    SELECT c_custkey, 0 AS i, {_bloom_pos_sql("c_custkey", 0)} AS pos
    FROM customer
    UNION ALL
    SELECT c_custkey, 1 AS i, {_bloom_pos_sql("c_custkey", 1)} AS pos
    FROM customer
),
candidates AS (
    SELECT c_custkey
    FROM probe p JOIN words w ON p.pos // 32 = w.word
    WHERE (w.bits & (1::BIGINT << CAST(p.pos % 32 AS INT))) <> 0
    GROUP BY c_custkey
    HAVING COUNT(DISTINCT i) = {_BLOOM_K}
),
truth AS (
    SELECT c_custkey FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM build)
)
SELECT (SELECT COUNT(*) FROM build) AS n_build_keys,
       (SELECT COUNT(*) FROM candidates) AS n_candidates,
       (SELECT COUNT(*) FROM truth) AS n_true_matches,
       (SELECT COUNT(*) FROM candidates
        WHERE c_custkey NOT IN (SELECT c_custkey FROM truth))
           AS n_false_pos
"""


# ---------------------------------------------------------------------------
# Count-min sketch heavy hitters
# ---------------------------------------------------------------------------

_CMS_DEPTH = 4   # d: independent hash rows
_CMS_WIDTH = 512  # w: counters per row
_CMS_TOPK = 10


def count_min_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch heavy hitters over order customers: a d={_CMS_DEPTH}
    x w={_CMS_WIDTH} counter sketch (md5-derived bucket per row), point
    estimates as the min across rows, top-{_CMS_TOPK} keys by estimate
    (ties by key), with the exact count alongside so the one-sided error
    guarantee (estimate >= exact) is visible in the result itself.

    Scale: the sketch build is one hash aggregate producing at most
    d*w = {_CMS_DEPTH * _CMS_WIDTH} rows no matter the input size — the
    whole point of the sketch: it is merged map-side (partial aggregation)
    and broadcast back for the estimate join, so heavy-hitter detection
    over 100 TB shuffles only the 2k-row sketch plus one row per distinct
    candidate key. The sketch counters ride the per-key exact aggregate
    (a bucket is a function of the key alone), so the table is scanned
    exactly once.
    """
    orders = table(spark, sf_dir, "orders")

    def bucket(key, r: int):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(f"cms{r}|"), key.cast("string"))),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("bigint")
            % _CMS_WIDTH
        )

    # r11: the sketch rides the per-key exact aggregate instead of a
    # second full scan — a bucket is a function of the KEY alone, so
    # counting (r, b) over all order rows == summing exact_count over
    # distinct keys by bucket (identical counters, same oracle). This
    # drops one orders scan and cuts the md5 budget from 4 per ROW to
    # 4 per DISTINCT KEY (~15x fewer at sf0.1). On a stream where keys
    # cannot be pre-aggregated the classic row-feed applies; as a batch
    # operator the counter algebra is what makes the sketch mergeable
    # in the first place.
    exact = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("exact_count")
    )
    keyed = scope.persist(exact.select(
        "o_custkey",
        "exact_count",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(r).alias("r"),
                    bucket(F.col("o_custkey"), r).alias("b"),
                )
                for r in range(_CMS_DEPTH)
            ])
        ).alias("h"),
    ).select(
        "o_custkey", "exact_count",
        F.col("h.r").alias("r"), F.col("h.b").alias("b"),
    ))
    sketch = keyed.groupBy("r", "b").agg(
        F.sum("exact_count").alias("cnt")
    )
    est = (
        keyed.join(F.broadcast(sketch), ["r", "b"])
        .groupBy("o_custkey", "exact_count")
        .agg(F.min("cnt").alias("cms_estimate"))
    )
    return (
        est.orderBy(F.desc("cms_estimate"), F.asc("o_custkey"))
        .limit(_CMS_TOPK)
        .select("o_custkey", "cms_estimate", "exact_count")
    )


def _cms_bucket_sql(key: str, r: int) -> str:
    return (
        f"CAST(('0x' || SUBSTR(md5('cms{r}|' || CAST({key} AS VARCHAR)), 1, 15))"
        f" AS UBIGINT)::BIGINT % {_CMS_WIDTH}"
    )


COUNT_MIN_HEAVY_HITTERS_SQL = f"""
WITH rows_h AS (
    {" UNION ALL ".join(
        f"SELECT o_custkey, {r} AS r, {_cms_bucket_sql('o_custkey', r)} AS b FROM orders"
        for r in range(_CMS_DEPTH)
    )}
),
sketch AS (
    SELECT r, b, COUNT(*) AS cnt FROM rows_h GROUP BY r, b
),
exact AS (
    SELECT o_custkey, COUNT(*) AS exact_count FROM orders GROUP BY o_custkey
),
keyed AS (
    {" UNION ALL ".join(
        f"SELECT o_custkey, exact_count, {r} AS r,"
        f" {_cms_bucket_sql('o_custkey', r)} AS b FROM exact"
        for r in range(_CMS_DEPTH)
    )}
),
est AS (
    SELECT o_custkey, exact_count, MIN(cnt) AS cms_estimate
    FROM keyed JOIN sketch USING (r, b)
    GROUP BY o_custkey, exact_count
)
SELECT o_custkey,
       CAST(cms_estimate AS BIGINT) AS cms_estimate,
       CAST(exact_count AS BIGINT) AS exact_count
FROM est
ORDER BY cms_estimate DESC, o_custkey
LIMIT {_CMS_TOPK}
"""


# ---------------------------------------------------------------------------
# Adamic-Adar link prediction
# ---------------------------------------------------------------------------

_AA_TOPK = 20


def adamic_adar_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction on the bipartite customer-part
    purchase graph (edges = distinct (customer, part) from orders x
    lineitem, pruned to one part family to bound the pair space): for
    the top-{_AA_TOPK} part pairs by shared-customer count, the AA score
    sum(1/ln(deg(c))) over shared customers c — common neighbors
    discounted by how promiscuous they are. Degrees are >= 2 for every
    shared customer by construction (it bought both parts), so ln never
    hits zero. The float fold runs over the SORTED degree list on both
    engines (house determinism rule), making the rounded score exact.

    Scale: the pair space is sum of per-customer degree^2 — linear in
    customers at fixed basket width; pair counting is one equi-join on
    the customer key plus a hash aggregate on the pair; only the
    top-{_AA_TOPK} relation (TakeOrderedAndProject, no global sort)
    proceeds to the score pass, which re-joins two edge scans against a
    {_AA_TOPK}-row broadcast.
    """
    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    edges = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .filter(F.col("l_partkey") % 10 == 0)
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    deg = edges.groupBy("c").agg(F.count(F.lit(1)).alias("d"))
    e1 = edges.select("c", F.col("p").alias("p1"))
    e2 = edges.select(F.col("c").alias("c2"), F.col("p").alias("p2"))
    pairs = (
        e1.join(e2, (e1.c == e2.c2) & (e1.p1 < e2.p2))
        .groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    top = pairs.orderBy(
        F.desc("n_common"), F.asc("p1"), F.asc("p2")
    ).limit(_AA_TOPK)
    e2b = edges.select(F.col("c").alias("c2"), F.col("p").alias("p2b"))
    shared = (
        F.broadcast(top)
        .join(e1, "p1")
        .join(
            e2b,
            (F.col("c") == F.col("c2")) & (F.col("p2") == F.col("p2b")),
        )
        .join(deg, "c")
    )
    score = F.aggregate(
        F.array_sort(F.collect_list(F.col("d").cast("double"))),
        F.lit(0.0),
        lambda acc, x: acc + 1.0 / F.log(x),
    )
    return (
        shared.groupBy("p1", "p2", "n_common")
        .agg(F.round(score, 6).alias("aa_score"))
        .orderBy(F.desc("n_common"), F.asc("p1"), F.asc("p2"))
    )


ADAMIC_ADAR_LINKS_SQL = f"""
WITH edges AS (
    SELECT DISTINCT o_custkey AS c, l_partkey AS p
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_partkey % 10 = 0
),
deg AS (
    SELECT c, COUNT(*) AS d FROM edges GROUP BY c
),
pairs AS (
    SELECT e1.p AS p1, e2.p AS p2, COUNT(*) AS n_common
    FROM edges e1 JOIN edges e2 ON e1.c = e2.c AND e1.p < e2.p
    GROUP BY 1, 2
),
top AS (
    SELECT * FROM pairs ORDER BY n_common DESC, p1, p2 LIMIT {_AA_TOPK}
),
shared AS (
    SELECT t.p1, t.p2, t.n_common, d.d
    FROM top t
    JOIN edges e1 ON e1.p = t.p1
    JOIN edges e2 ON e2.p = t.p2 AND e2.c = e1.c
    JOIN deg d ON d.c = e1.c
)
SELECT p1, p2, n_common,
       ROUND(list_reduce(
           list_prepend(0.0, list_transform(
               list_sort(list(CAST(d AS DOUBLE))), x -> 1.0 / ln(x))),
           (a, b) -> a + b), 6) AS aa_score
FROM shared
GROUP BY p1, p2, n_common
ORDER BY n_common DESC, p1, p2
"""



# ---------------------------------------------------------------------------
# Haversine nearest-hub assignment (geospatial)
# ---------------------------------------------------------------------------

_N_HUBS = 8
_EARTH_KM = 6371.0


def _pseudo_deg(key, salt: str, span: int):
    """Deterministic pseudo-coordinate in [-span/2, span/2) degrees with
    1e-4 degree resolution, md5-derived so DuckDB reproduces it exactly."""
    return (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(salt), key.cast("string"))), 1, 12),
            16,
            10,
        ).cast("bigint")
        % (span * 10000)
    ) / 10000.0 - span / 2.0


def _pseudo_deg_sql(key: str, salt: str, span: int) -> str:
    return (
        f"(CAST(('0x' || SUBSTR(md5('{salt}' || CAST({key} AS VARCHAR)), 1, 12))"
        f" AS UBIGINT)::BIGINT % {span * 10000}) / 10000.0 - {span / 2.0}"
    )


def haversine_nearest_hub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geospatial nearest-facility assignment: every customer gets a
    deterministic pseudo lat/lon (md5 of the key — the engine-neutral
    stand-in for geocoded addresses), {_N_HUBS} fixed hubs likewise, and
    each customer is assigned to its nearest hub by exact great-circle
    (haversine) distance; ties break to the lowest hub id. The census
    per hub reports customer count, mean and max distance (km). The
    trig expression has the identical shape on both engines, so the
    doubles agree bit-for-bit and the decimal-summed mean is exact.

    Scale: the hub table is a constant-size broadcast; distance + argmin
    run map-side inside one aggregate per customer (no shuffle of the
    customer x hub fan-out — it is an in-row array fold); the only
    shuffle is the final census on hub id. The classic pattern for
    nearest-of-K-facilities at 100 TB — for huge K one would grid-bucket
    first ([[grid_neighbor_join]]).
    """
    from waterbear_spark.queries.llm import _fan_out

    # widen BEFORE the per-customer trig fold: 25 haversines per row is
    # the CPU-densest map stage in the catalog, and the single-file
    # bench split otherwise runs it all on one task (med 1.38 -> 0.50 s
    # at sf0.1, interleaved batch A/B); file-count-gated no-op on
    # production-width scans
    cust = _fan_out(spark, table(spark, sf_dir, "customer")).select(
        "c_custkey",
        _pseudo_deg(F.col("c_custkey"), "lat|", 180).alias("lat"),
        _pseudo_deg(F.col("c_custkey"), "lon|", 360).alias("lon"),
    )

    def hub_coord(salt: str, span: int) -> str:
        return (
            f"(cast(conv(substring(md5(concat('{salt}', cast(i as string))),"
            f" 1, 12), 16, 10) as bigint) % {span * 10000}) / 10000.0"
            f" - {span / 2.0}"
        )

    # the hub table is a CONSTANT: materialize it as an in-row array and
    # pick the argmin with one array_sort — no join, no 8x row fan-out,
    # no re-shuffle on c_custkey; the distance math runs inside
    # whole-stage codegen per customer row
    nearest = cust.select(
        "c_custkey",
        F.element_at(
            F.expr(
                f"""
                array_sort(transform(sequence(0, {_N_HUBS - 1}),
                  i -> named_struct(
                    'dist_km',
                    round(2 * {_EARTH_KM} * asin(sqrt(
                      pow(sin(radians(({hub_coord("hlat|", 180)}) - lat) / 2), 2)
                      + cos(radians(lat))
                        * cos(radians({hub_coord("hlat|", 180)}))
                        * pow(sin(radians(({hub_coord("hlon|", 360)}) - lon) / 2), 2)
                    )), 6),
                    'hub_id', cast(i as bigint))))
                """
            ),
            1,
        ).alias("best"),
    ).select(
        "c_custkey",
        F.col("best.hub_id").alias("hub_id"),
        F.col("best.dist_km").alias("dist_km"),
    )
    return (
        nearest.groupBy("hub_id")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(
                F.sum(F.col("dist_km").cast("decimal(20,6)")).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("avg_dist_km"),
            F.round(F.max("dist_km"), 4).alias("max_dist_km"),
        )
        .orderBy("hub_id")
    )


HAVERSINE_NEAREST_HUB_SQL = f"""
WITH cust AS (
    SELECT c_custkey,
           {_pseudo_deg_sql("c_custkey", "lat|", 180)} AS lat,
           {_pseudo_deg_sql("c_custkey", "lon|", 360)} AS lon
    FROM customer
),
hubs AS (
    SELECT hub_id,
           {_pseudo_deg_sql("hub_id", "hlat|", 180)} AS hlat,
           {_pseudo_deg_sql("hub_id", "hlon|", 360)} AS hlon
    FROM (SELECT UNNEST(generate_series(0, {_N_HUBS - 1})) AS hub_id)
),
pairs AS (
    SELECT c_custkey, hub_id,
           ROUND(2 * {_EARTH_KM} * ASIN(SQRT(
               POW(SIN(RADIANS(hlat - lat) / 2), 2)
               + COS(RADIANS(lat)) * COS(RADIANS(hlat))
                 * POW(SIN(RADIANS(hlon - lon) / 2), 2)
           )), 6) AS dist_km
    FROM cust CROSS JOIN hubs
),
nearest AS (
    SELECT c_custkey,
           (ARRAY_AGG(hub_id ORDER BY dist_km, hub_id))[1] AS hub_id,
           MIN(dist_km) AS dist_km
    FROM pairs GROUP BY c_custkey
)
SELECT hub_id,
       COUNT(*) AS n_customers,
       ROUND(CAST(SUM(CAST(dist_km AS DECIMAL(20,6))) AS DOUBLE)
             / COUNT(*), 4) AS avg_dist_km,
       ROUND(MAX(dist_km), 4) AS max_dist_km
FROM nearest
GROUP BY hub_id
ORDER BY hub_id
"""


QUERIES = {
    "kaplan_meier_risk": kaplan_meier_risk,
    "largest_remainder_allocation": largest_remainder_allocation,
    "xcorr_lagged_revenue": xcorr_lagged_revenue,
    "winnowing_fingerprints": winnowing_fingerprints,
    "bloom_prune_join": bloom_prune_join,
    "count_min_heavy_hitters": count_min_heavy_hitters,
    "adamic_adar_links": adamic_adar_links,
    "haversine_nearest_hub": haversine_nearest_hub,
}

ORACLES = {
    "kaplan_meier_risk": KAPLAN_MEIER_RISK_SQL,
    "largest_remainder_allocation": LARGEST_REMAINDER_ALLOCATION_SQL,
    "xcorr_lagged_revenue": XCORR_LAGGED_REVENUE_SQL,
    "winnowing_fingerprints": WINNOWING_FINGERPRINTS_SQL,
    "bloom_prune_join": BLOOM_PRUNE_JOIN_SQL,
    "count_min_heavy_hitters": COUNT_MIN_HEAVY_HITTERS_SQL,
    "adamic_adar_links": ADAMIC_ADAR_LINKS_SQL,
    "haversine_nearest_hub": HAVERSINE_NEAREST_HUB_SQL,
}
