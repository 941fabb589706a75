"""Round-3 relational catalog extensions: deterministic mode/median,
k-anonymity suppression over a cube, grid-bucketed spatial neighbor
joins, and hierarchy rollup (the recursive-CTE capability, expressed
Spark-natively).

Each query carries an exact DuckDB oracle; determinism notes inline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from waterbear_spark.queries.tables import DEC, dsum, oracle_dsum, table

_KANON_K = 12
_GRID_CELL = 64  # pseudo-coordinate space is [0, 1024) x [0, 1024)
_GRID_RADIUS2 = 900  # squared-distance threshold (30 units)
_BOM_MAX_DEPTH = 7  # 10^7 > any partkey at the tested SFs


def mode_median_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per return flag: deterministic MODE of the ship month (max count,
    ties broken by smallest month — built-in ``mode()`` is tie-arbitrary
    in both engines, so both sides compute it explicitly), interpolated
    MEDIAN of l_quantity, and row count.

    Scale: mode reduces to a (flag, month) count — bounded domain — then
    a tiny window; median over a window-free percentile aggregate. One
    shuffle each, both on low-cardinality keys.
    """
    li = table(spark, sf_dir, "lineitem").withColumn(
        "ship_month", F.month("l_shipdate")
    )
    counts = li.groupBy("l_returnflag", "ship_month").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("l_returnflag").orderBy(
        F.col("n").desc(), F.col("ship_month")
    )
    mode = (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "l_returnflag",
            F.col("ship_month").alias("mode_month"),
            F.col("n").alias("mode_count"),
        )
    )
    med = li.groupBy("l_returnflag").agg(
        F.round(F.median("l_quantity"), 2).alias("median_qty"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    return (
        mode.join(med, "l_returnflag")
        .select(
            "l_returnflag", "mode_month", "mode_count", "median_qty", "n_rows"
        )
        .orderBy("l_returnflag")
    )


MODE_MEDIAN_LINEITEM_SQL = """
WITH counts AS (
    SELECT l_returnflag, CAST(month(l_shipdate) AS INTEGER) AS ship_month,
           COUNT(*) AS n
    FROM lineitem GROUP BY 1, 2
),
mode AS (
    SELECT l_returnflag, ship_month AS mode_month, n AS mode_count,
           ROW_NUMBER() OVER (PARTITION BY l_returnflag
                              ORDER BY n DESC, ship_month) AS rn
    FROM counts
),
med AS (
    SELECT l_returnflag,
           ROUND(median(l_quantity), 2) AS median_qty,
           COUNT(*) AS n_rows
    FROM lineitem GROUP BY l_returnflag
)
SELECT m.l_returnflag, mode_month, mode_count, median_qty, n_rows
FROM mode m JOIN med USING (l_returnflag)
WHERE rn = 1
ORDER BY m.l_returnflag
"""


def kanon_suppressed_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-anonymity gate over a CUBE: aggregate customers by (segment,
    nation) with all subtotal combinations, then suppress any group with
    fewer than K members — the privacy pre-release step for sharing
    aggregate panels (and for filtering long-tail strata out of training
    mixes). Output: surviving cube rows plus a constant column counting
    the suppressed groups, so the oracle certifies both what was released
    and how much was withheld.

    Scale: CUBE is Spark's Expand + one hash aggregate (a 4x row
    multiplier before combine, no extra shuffle); the suppressed-count is
    a broadcast 1-row scalar.
    """
    cust = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation")
    joined = cust.join(
        F.broadcast(nation),
        cust.c_nationkey == nation.n_nationkey,
    ).select("c_mktsegment", F.col("n_name").alias("nation"), "c_acctbal")
    cube = joined.cube("c_mktsegment", "nation").agg(
        F.grouping_id().cast("int").alias("gid"),
        F.count(F.lit(1)).alias("n_custs"),
        dsum(F.col("c_acctbal"), "sum_acctbal"),
    )
    suppressed = cube.filter(F.col("n_custs") < _KANON_K).agg(
        F.count(F.lit(1)).alias("n_suppressed")
    )
    return (
        cube.filter(F.col("n_custs") >= _KANON_K)
        .crossJoin(F.broadcast(suppressed))
        .orderBy(
            "gid",
            F.col("c_mktsegment").asc_nulls_first(),
            F.col("nation").asc_nulls_first(),
        )
    )


KANON_SUPPRESSED_CUBE_SQL = f"""
WITH cube_t AS (
    SELECT c_mktsegment, n_name AS nation,
           CAST(GROUPING(c_mktsegment, n_name) AS INTEGER) AS gid,
           COUNT(*) AS n_custs,
           {oracle_dsum("c_acctbal", "sum_acctbal")}
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY CUBE(c_mktsegment, n_name)
)
SELECT c_mktsegment, nation, gid, n_custs, sum_acctbal,
       (SELECT COUNT(*) FROM cube_t WHERE n_custs < {_KANON_K}) AS n_suppressed
FROM cube_t
WHERE n_custs >= {_KANON_K}
ORDER BY gid, c_mktsegment NULLS FIRST, nation NULLS FIRST
"""


def _pseudo_coord(key: F.Column, salt: str) -> F.Column:
    """Deterministic pseudo-coordinate in [0, 1024): md5-derived integer,
    bit-identical across engines (no RNG, no libm)."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(salt), key.cast("string"))), 1, 15
            ),
            16,
            10,
        ).cast("bigint")
        % 1024
    )


def _pseudo_coord_sql(key: str, salt: str) -> str:
    return (
        f"CAST(('0x' || substr(md5('{salt}' || CAST({key} AS VARCHAR)), 1, 15))"
        f" AS UBIGINT)::BIGINT % 1024"
    )


def grid_neighbor_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial neighbor join via grid bucketing: suppliers get
    deterministic pseudo-coordinates (md5 of the key — the engine-neutral
    stand-in for real lat/lon), each point is assigned to a ``_GRID_CELL``
    cell, replicated to its 3x3 cell neighborhood, and pairs within a
    squared-distance radius are counted per cell row. The standard
    all-pairs-avoidance for distance joins: candidate pairs exist only
    inside a neighborhood, never across the full corpus. Distance math is
    pure integer multiply/add — bit-exact everywhere.

    Scale: replication is a fixed 9x map-side fan-out; the join is an
    equi-join on cell id, so it hash-partitions. Cell size is chosen
    ~2x the radius so every qualifying pair shares >= 1 neighborhood
    cell; the (a < b) guard plus home-cell ownership dedups pairs. Works
    unchanged at 100 TB with a finer grid; skewed cells fall to AQE.
    """
    supp = table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("k"),
        _pseudo_coord(F.col("s_suppkey"), "gx|").alias("x"),
        _pseudo_coord(F.col("s_suppkey"), "gy|").alias("y"),
    )
    cell = supp.select(
        "k",
        "x",
        "y",
        (F.col("x") / _GRID_CELL).cast("bigint").alias("cx"),
        (F.col("y") / _GRID_CELL).cast("bigint").alias("cy"),
    )
    # replicate each point into its 3x3 neighborhood (two bounded
    # explodes, map-side); a pair is counted once via the (k < k2) guard
    probe = (
        cell.select(
            "k", "x", "y", "cx", "cy",
            F.explode(F.sequence(F.lit(-1), F.lit(1))).alias("dx"),
        )
        .select(
            "k", "x", "y", "cx", "cy", "dx",
            F.explode(F.sequence(F.lit(-1), F.lit(1))).alias("dy"),
        )
        .select(
            "k",
            "x",
            "y",
            (F.col("cx") + F.col("dx")).alias("jx"),
            (F.col("cy") + F.col("dy")).alias("jy"),
        )
    )
    home = cell.select(
        F.col("k").alias("k2"),
        F.col("x").alias("x2"),
        F.col("y").alias("y2"),
        F.col("cx").alias("jx"),
        F.col("cy").alias("jy"),
    )
    d2 = (F.col("x") - F.col("x2")) * (F.col("x") - F.col("x2")) + (
        F.col("y") - F.col("y2")
    ) * (F.col("y") - F.col("y2"))
    pairs = (
        probe.join(home, ["jx", "jy"])
        .filter((F.col("k") < F.col("k2")) & (d2 <= _GRID_RADIUS2))
        .select("k", "k2")
        .distinct()
    )
    return pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.col("k") + F.col("k2")).alias("pair_checksum"),
        F.min(F.col("k")).alias("min_k"),
        F.max(F.col("k2")).alias("max_k2"),
    )


GRID_NEIGHBOR_JOIN_SQL = f"""
WITH pts AS (
    SELECT s_suppkey AS k,
           {_pseudo_coord_sql("s_suppkey", "gx|")} AS x,
           {_pseudo_coord_sql("s_suppkey", "gy|")} AS y
    FROM supplier
),
pairs AS (
    SELECT a.k AS k, b.k AS k2
    FROM pts a JOIN pts b
      ON a.k < b.k
     AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
         <= {_GRID_RADIUS2}
)
SELECT COUNT(*) AS n_pairs,
       CAST(SUM(k + k2) AS BIGINT) AS pair_checksum,
       MIN(k) AS min_k,
       MAX(k2) AS max_k2
FROM pairs
"""


def bom_rollup_cost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bill-of-materials subtree rollup over an implicit part hierarchy
    (parent(k) = k div 10): for every part, the count and total retail
    price of its descendants (self included). Spark has no recursive CTE,
    but a fixed-fan-out hierarchy closes in *closed form*: each node
    emits its full ancestor chain (k div 10^i, depth <= 7) via one
    map-side explode, and a single aggregate produces every subtree total
    — no iteration, no driver loop. The DuckDB oracle intentionally uses
    a genuine ``WITH RECURSIVE`` closure, so the two engines cross-check
    the semantics through entirely different mechanisms.

    Output: the 25 costliest subtrees (excluding trivial leaf-only ones).

    Scale: ancestor expansion is a bounded (depth x rows) map-side
    fan-out — the same technique as [[rolling_distinct_users]]'s
    contribution expansion — followed by one hash aggregate on the
    ancestor key. An *iterative* formulation (the general-DAG fallback,
    like the connected-components loop behind [[dedup_clusters]]) needs
    rounds of joins; the closed form trades that for one pass, which is
    the right call whenever the hierarchy is an arithmetic encoding.
    """
    part = table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("k"), F.col("p_retailprice").alias("cost")
    )
    anc = part.select(
        "k",
        "cost",
        F.explode(F.sequence(F.lit(0), F.lit(_BOM_MAX_DEPTH))).alias("i"),
    ).select(
        F.floor(F.col("k") / F.pow(F.lit(10.0), F.col("i")))
        .cast("bigint")
        .alias("anc"),
        "cost",
    ).filter(F.col("anc") >= 1)
    rolled = anc.groupBy("anc").agg(
        F.count(F.lit(1)).alias("n_desc"),
        dsum(F.col("cost"), "subtree_cost"),
    )
    return (
        rolled.filter(F.col("n_desc") > 1)
        .orderBy(F.col("subtree_cost").desc(), "anc")
        .limit(25)
        .select(F.col("anc").alias("p_partkey"), "n_desc", "subtree_cost")
    )


BOM_ROLLUP_COST_SQL = f"""
WITH RECURSIVE closure(node, anc) AS (
    SELECT p_partkey, p_partkey FROM part
    UNION ALL
    SELECT node, anc // 10 FROM closure WHERE anc >= 10
),
rolled AS (
    SELECT c.anc, COUNT(*) AS n_desc,
           {oracle_dsum("p.p_retailprice", "subtree_cost")}
    FROM closure c JOIN part p ON p.p_partkey = c.node
    GROUP BY c.anc
)
SELECT anc AS p_partkey, n_desc, subtree_cost
FROM rolled
WHERE n_desc > 1
ORDER BY subtree_cost DESC, anc
LIMIT 25
"""


def asof_next_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join with tolerance: each event picks up the
    customer's next order at or after the event time, but only within a
    7-day lookahead — the "did this interaction convert?" shape. Runs
    the same union-timeline operator as [[asof_last_order]] traversed in
    reverse (operators/asof.py direction="forward"): one shuffle,
    no pairwise intermediate, tolerance as a post-carry null-out.
    """
    from waterbear_spark.operators.asof import asof_join

    events = table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate"
    )
    joined = asof_join(
        events,
        orders,
        on_left="user_id",
        on_right="o_custkey",
        left_time="ts",
        right_time="o_orderdate",
        value_cols=["o_orderkey", "o_orderdate"],
        tiebreak="o_orderkey",
        tolerance="7 days",
        direction="forward",
    )
    return joined.select(
        "event_id",
        "user_id",
        F.col("o_orderkey").alias("next_orderkey"),
        F.col("o_orderdate").cast("date").alias("next_orderdate"),
    ).orderBy("event_id")


ASOF_NEXT_ORDER_SQL = """
SELECT e.event_id, e.user_id,
       o.o_orderkey AS next_orderkey,
       CAST(o.o_orderdate AS DATE) AS next_orderdate
FROM events e
LEFT JOIN LATERAL (
    SELECT o_orderkey, o_orderdate
    FROM orders
    WHERE o_custkey = e.user_id
      AND o_orderdate >= e.ts
      AND o_orderdate <= e.ts + INTERVAL 7 DAY
    ORDER BY o_orderdate ASC, o_orderkey DESC
    LIMIT 1
) o ON TRUE
ORDER BY e.event_id
"""


def yoy_growth_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year revenue growth per nation — the standard BI shape
    of a window function over an *already-aggregated* relation: yearly
    decimal-exact revenue per nation, LAG for the prior year, growth in
    basis points by integer arithmetic (no float division drift).

    Scale: the fact table reduces to |nations| x |years| rows in one
    combinable aggregate (dims broadcast onto the fact scan); the window
    runs on that tiny relation.
    """
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    yearly = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name", F.year("o_orderdate").alias("yr"))
        .agg(
            F.sum(F.col("o_totalprice").cast(DEC)).alias("rev_dec"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )
    w = Window.partitionBy("n_name").orderBy("yr")
    cents = (F.col("rev_dec") * 100).cast("bigint")
    prev_cents = F.lag(cents).over(w)
    return (
        yearly.select(
            "n_name",
            "yr",
            "n_orders",
            F.round(F.col("rev_dec"), 2).cast("double").alias("revenue"),
            # growth in basis points, integer DIV against the prior year
            F.expr(
                "(CAST(rev_dec * 100 AS BIGINT)"
                " - lag(CAST(rev_dec * 100 AS BIGINT))"
                "   OVER (PARTITION BY n_name ORDER BY yr)) * 10000"
                " div lag(CAST(rev_dec * 100 AS BIGINT))"
                "   OVER (PARTITION BY n_name ORDER BY yr)"
            ).alias("growth_bps"),
        )
        .orderBy("n_name", "yr")
    )


YOY_GROWTH_NATION_SQL = """
WITH yearly AS (
    SELECT n_name, CAST(year(o_orderdate) AS INTEGER) AS yr,
           SUM(CAST(o_totalprice AS DECIMAL(20,6))) AS rev_dec,
           COUNT(*) AS n_orders
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name, year(o_orderdate)
)
SELECT n_name, yr, n_orders,
       CAST(ROUND(rev_dec, 2) AS DOUBLE) AS revenue,
       CAST((CAST(rev_dec * 100 AS BIGINT)
             - LAG(CAST(rev_dec * 100 AS BIGINT))
                 OVER (PARTITION BY n_name ORDER BY yr)) * 10000
            // LAG(CAST(rev_dec * 100 AS BIGINT))
                 OVER (PARTITION BY n_name ORDER BY yr) AS BIGINT)
           AS growth_bps
FROM yearly
ORDER BY n_name, yr
"""


def _dbl_rank_relation(
    facts: DataFrame, part_col: str, value_col: str, width: int
) -> DataFrame:
    """(part, value) -> doubled average rank of ``value`` within its
    partition, computed WITHOUT a per-partition total sort.

    A rank depends only on the (part, value) census: the doubled
    average rank of a tie group is ``2*cum_before + cnt + 1`` (first
    rank + last rank). The census prefix sum runs on the two-level
    bucket scaffold ([[wilcoxon_signed_rank]] / [[equidepth_histogram]]):
    cross-bucket offsets come from a window over the ~|buckets|
    relation, the per-value cumulative window is partitioned by
    (part, bucket) — so the largest sort is one value-bucket of the
    census, parallel across buckets, never the fact table.
    """
    census = facts.groupBy(part_col, value_col).agg(
        F.count(F.lit(1)).alias("__cnt")
    )
    pv = census.withColumn(
        "__pb", F.floor(F.col(value_col) / F.lit(width)).cast("long")
    )
    w_off = (
        Window.partitionBy(part_col)
        .orderBy("__pb")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = (
        pv.groupBy(part_col, "__pb")
        .agg(F.sum("__cnt").alias("__bc"))
        .select(
            part_col,
            "__pb",
            F.coalesce(F.sum("__bc").over(w_off), F.lit(0)).alias("__off"),
        )
    )
    w_in = (
        Window.partitionBy(part_col, "__pb")
        .orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        pv.join(F.broadcast(offs), [part_col, "__pb"])
        .select(
            part_col,
            value_col,
            (
                2 * (F.col("__off") + F.sum("__cnt").over(w_in) - F.col("__cnt"))
                + F.col("__cnt")
                + 1
            ).alias("__dbl"),
        )
    )


def spearman_price_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between extended price and quantity per
    return flag — the robust (monotonic, outlier-proof) complement to
    the Pearson moments in [[correlation_matrix]]. Average ranks for
    ties are kept as exact *doubled* integers (sum of positions x 2 /
    count is computed as integer products), all five moment sums stay
    integral, and the only float work is the final correlation formula —
    one expression, identical shape in both engines.

    Scale (the round-5 rewrite): a rank depends only on (flag, value),
    so each rank column is a census + bucketed prefix sum
    (:func:`_dbl_rank_relation`) instead of a
    ``Window.partitionBy(l_returnflag).orderBy(v)`` total sort — with 3
    return flags that window capped parallelism at 3 and measured 7.1x
    at 10x data. Now the fact table is never sorted: the quantity rank
    relation (<=|flags| x 50 rows) broadcasts back, the price rank
    relation joins back on (flag, price) as an ordinary shuffle hash
    join, and the moments stay one combinable aggregate.
    """
    li = table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice", "l_quantity"
    )
    prank = _dbl_rank_relation(li, "l_returnflag", "l_extendedprice", 64)
    qrank = _dbl_rank_relation(li, "l_returnflag", "l_quantity", 4)
    ranked = (
        li.join(prank, ["l_returnflag", "l_extendedprice"])
        .join(
            F.broadcast(qrank.withColumnRenamed("__dbl", "__dblq")),
            ["l_returnflag", "l_quantity"],
        )
        .select(
            "l_returnflag",
            F.col("__dbl").alias("rx"),
            F.col("__dblq").alias("ry"),
        )
    )
    # moment sums in DECIMAL(38,0): BIGINT products of doubled ranks
    # overflow int64 around 5M rows per group (caught by the sf1 scaling
    # bench); exact 128-bit accumulation holds to ~1e12 rows
    rx_d = F.col("rx").cast("decimal(19,0)")
    ry_d = F.col("ry").cast("decimal(19,0)")
    mom = ranked.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("rx").alias("sx"),
        F.sum("ry").alias("sy"),
        F.sum(rx_d * rx_d).alias("sxx"),
        F.sum(ry_d * ry_d).alias("syy"),
        F.sum(rx_d * ry_d).alias("sxy"),
    )
    num = F.col("n").cast("double") * F.col("sxy").cast("double") - F.col(
        "sx"
    ).cast("double") * F.col("sy").cast("double")
    den = F.sqrt(
        F.col("n").cast("double") * F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx").cast("double")
    ) * F.sqrt(
        F.col("n").cast("double") * F.col("syy").cast("double")
        - F.col("sy").cast("double") * F.col("sy").cast("double")
    )
    return mom.select(
        "l_returnflag",
        "n",
        F.round(num / den, 6).alias("spearman_rho"),
    ).orderBy("l_returnflag")


SPEARMAN_SQL = """
WITH ranked AS (
    SELECT l_returnflag,
           CAST(2 * RANK() OVER (PARTITION BY l_returnflag
                                 ORDER BY l_extendedprice)
                + COUNT(*) OVER (PARTITION BY l_returnflag, l_extendedprice)
                - 1 AS BIGINT) AS rx,
           CAST(2 * RANK() OVER (PARTITION BY l_returnflag
                                 ORDER BY l_quantity)
                + COUNT(*) OVER (PARTITION BY l_returnflag, l_quantity)
                - 1 AS BIGINT) AS ry
    FROM lineitem
),
mom AS (
    SELECT l_returnflag,
           COUNT(*) AS n,
           CAST(SUM(rx) AS BIGINT) AS sx,
           CAST(SUM(ry) AS BIGINT) AS sy,
           -- 128-bit accumulation, mirroring the Spark side's DECIMAL(38,0)
           SUM(CAST(rx AS HUGEINT) * rx) AS sxx,
           SUM(CAST(ry AS HUGEINT) * ry) AS syy,
           SUM(CAST(rx AS HUGEINT) * ry) AS sxy
    FROM ranked
    GROUP BY l_returnflag
)
SELECT l_returnflag, n,
       ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
           AS spearman_rho
FROM mom
ORDER BY l_returnflag
"""


def listagg_priorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG / string_agg): per order
    status, the comma-joined sorted set of distinct priorities plus the
    dominant priority's share in basis points. Implemented as
    ``array_join(array_sort(collect_set))`` — deterministic regardless
    of partitioning, which raw LISTAGG without WITHIN GROUP is not.

    Scale: collect_set over a bounded domain (5 priorities); the heavy
    input reduces in the combinable (status, priority) count first.
    """
    orders = table(spark, sf_dir, "orders")
    counts = orders.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n")
    )
    return (
        counts.groupBy("o_orderstatus")
        .agg(
            F.array_join(
                F.array_sort(F.collect_set("o_orderpriority")), ","
            ).alias("priorities"),
            F.countDistinct("o_orderpriority").alias("n_priorities"),
            F.expr("max(n) * 10000 div sum(n)").alias("top_share_bps"),
        )
        .orderBy("o_orderstatus")
    )


LISTAGG_PRIORITIES_SQL = """
WITH counts AS (
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
    FROM orders GROUP BY 1, 2
)
SELECT o_orderstatus,
       string_agg(o_orderpriority, ',' ORDER BY o_orderpriority)
           AS priorities,
       COUNT(DISTINCT o_orderpriority) AS n_priorities,
       CAST(MAX(n) * 10000 // SUM(n) AS BIGINT) AS top_share_bps
FROM counts
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


def ansi_safe_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The try_* error-safe expression family under ANSI mode (Spark 4's
    default): division by a data-dependent zero (``try_divide``), a
    malformed numeric cast (``try_cast``), data-dependent bigint overflow
    (``try_add``), and out-of-bounds array access (``try_element_at``)
    — each yields NULL instead of failing the job, and the census
    proves exactly how many rows took the NULL path. The DuckDB twin
    expresses the same semantics via NULLIF / TRY_CAST / list bounds.

    Scale: all expressions are row-local; one combinable aggregate. The
    error paths are deliberately RARE (~0.1% of rows): try_* error
    handling is exception-driven on the JVM, so its cost scales with the
    number of errors, not rows — an always-overflowing try_add measured
    ~20x the whole-query runtime at sf0.1 (each throw pays a stack-trace
    fill). At 100 TB, a try_* hot path must treat errors as the
    exceptional case it is named for.
    """
    li = table(spark, sf_dir, "lineitem")
    div = F.try_divide(F.col("l_extendedprice"), F.col("l_quantity") - 25)
    cast_src = F.when(
        F.col("l_orderkey") % 997 == 0, F.lit("not-a-number")
    ).otherwise(F.col("l_quantity").cast("string"))
    casted = cast_src.try_cast("double")
    overflowed = F.try_add(
        F.col("l_orderkey"),
        F.when(F.col("l_orderkey") % 1000 == 0, F.lit(2**63 - 1)).otherwise(
            F.lit(1)
        ),
    )
    elem = F.try_element_at(
        F.array(F.col("l_returnflag"), F.col("l_linestatus")),
        F.col("l_linenumber").cast("int") + 1,
    )
    return li.select(
        div.alias("d"), casted.alias("c"), overflowed.alias("o"), elem.alias("e")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.col("d").isNull(), 1)).alias("n_div_null"),
        F.count(F.when(F.col("c").isNull(), 1)).alias("n_cast_null"),
        F.count(F.when(F.col("o").isNull(), 1)).alias("n_add_null"),
        F.count(F.when(F.col("e").isNull(), 1)).alias("n_elem_null"),
        F.round(F.sum(F.col("d").cast(DEC)), 2)
        .cast("double")
        .alias("sum_safe_div"),
    )


ANSI_SAFE_ARITHMETIC_SQL = """
WITH t AS (
    SELECT l_extendedprice / NULLIF(l_quantity - 25, 0) AS d,
           TRY_CAST(CASE WHEN l_orderkey % 997 = 0 THEN 'not-a-number'
                         ELSE CAST(l_quantity AS VARCHAR) END AS DOUBLE) AS c,
           -- the +BIGINT_MAX branch overflows int64 exactly when the
           -- key is positive (key 0 exists in the synthetic data)
           CASE WHEN l_orderkey % 1000 <> 0 THEN l_orderkey + 1
                WHEN l_orderkey <= 0
                THEN l_orderkey + 9223372036854775807 END AS o,
           list_extract([l_returnflag, l_linestatus],
                        CAST(l_linenumber AS INTEGER) + 1) AS e
    FROM lineitem
)
SELECT COUNT(*) AS n_rows,
       COUNT(CASE WHEN d IS NULL THEN 1 END) AS n_div_null,
       COUNT(CASE WHEN c IS NULL THEN 1 END) AS n_cast_null,
       COUNT(CASE WHEN o IS NULL THEN 1 END) AS n_add_null,
       COUNT(CASE WHEN e IS NULL THEN 1 END) AS n_elem_null,
       CAST(ROUND(SUM(CAST(d AS DECIMAL(20,6))), 2) AS DOUBLE) AS sum_safe_div
FROM t
"""


QUERIES = {
    "mode_median_lineitem": mode_median_lineitem,
    "kanon_suppressed_cube": kanon_suppressed_cube,
    "grid_neighbor_join": grid_neighbor_join,
    "bom_rollup_cost": bom_rollup_cost,
    "asof_next_order": asof_next_order,
    "yoy_growth_nation": yoy_growth_nation,
    "spearman_price_quantity": spearman_price_quantity,
    "listagg_priorities": listagg_priorities,
    "ansi_safe_arithmetic": ansi_safe_arithmetic,
}

ORACLES = {
    "mode_median_lineitem": MODE_MEDIAN_LINEITEM_SQL,
    "kanon_suppressed_cube": KANON_SUPPRESSED_CUBE_SQL,
    "grid_neighbor_join": GRID_NEIGHBOR_JOIN_SQL,
    "bom_rollup_cost": BOM_ROLLUP_COST_SQL,
    "asof_next_order": ASOF_NEXT_ORDER_SQL,
    "yoy_growth_nation": YOY_GROWTH_NATION_SQL,
    "spearman_price_quantity": SPEARMAN_SQL,
    "listagg_priorities": LISTAGG_PRIORITIES_SQL,
    "ansi_safe_arithmetic": ANSI_SAFE_ARITHMETIC_SQL,
}
