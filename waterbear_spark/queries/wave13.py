"""Round-4 wave-13 operators: weighted shortest paths, neighborhood
similarity, paired nonparametric testing, interval coverage, association
effect size, rendezvous sharding, deletion-neighborhood typo pairs, and
seasonal robust anomalies.

* ``weighted_sssp`` — Bellman-Ford single-source shortest paths with
  integer edge weights, iterated to a FIXPOINT (not a fixed round
  count), the weighted upgrade of [[bfs_shortest_paths]].
* ``graph_jaccard_links`` — neighborhood Jaccard similarity for node
  pairs (the classic link-prediction baseline next to
  [[adamic_adar_links]]) via the wedge join — candidate pairs come from
  shared neighbors, never the node cross product.
* ``wilcoxon_signed_rank`` — paired two-period test of customer spend
  (the paired complement to [[mannwhitney_order_status]]) on the
  distributed rank scaffold; doubled ranks keep every sum integer.
* ``interval_coverage_user`` — per-user union length of overlapping
  time intervals (sweep-line as windows: running max-end defines
  islands) — the dwell-time / sensor-coverage primitive.
* ``cramers_v_lang_source`` — Cramér's V effect size on the
  lang × source contingency ([[chi2_lang_source]] tells you IF they're
  associated; V tells you HOW MUCH on [0, 1]).
* ``rendezvous_sharding`` — highest-random-weight (rendezvous) hashing
  of documents onto shards, with the 10 -> 11 reshard movement census
  proving the minimal-disruption property (only ~1/11 of keys move).
* ``typo_dedup_vocab`` — edit-distance-1 vocabulary pairs via
  deletion-neighborhood blocking: candidates share a single-deletion
  variant, verified with exact levenshtein — never the vocab cross
  product.
* ``dow_mad_anomalies`` — per-weekday robust anomaly census on daily
  revenue: exact medians + MAD from integer rank picks; a day is
  anomalous when |x - median| > 3 * MAD (all in integers via doubling).

Float determinism follows the house rules in ``tables.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from waterbear_spark import scope
from waterbear_spark.queries.graph import _WEDGES_CTE, und_edges_weighted
from waterbear_spark.queries.llm import TOKENS_SQL, _tokens
from waterbear_spark.queries.tables import epoch_us, table

_D19 = "decimal(19,0)"
_D38 = "decimal(38,0)"


# ---------------------------------------------------------------------------
# Bellman-Ford weighted SSSP to fixpoint
# ---------------------------------------------------------------------------

# oracle unroll depth; extra rounds past the fixpoint are identities and
# the Spark side always reaches the fixpoint (|nodes|-1 relaxations), so
# a deeper-than-unroll dataset diverges loudly in the differential check
_SSSP_SQL_ROUNDS = 8


def weighted_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source shortest paths with integer edge weights
    (Bellman-Ford) on the nation trade graph; weight = the edge's
    revenue rank, source = the minimum node. Relaxation iterates until
    a round improves NO distance — the fixpoint that makes the output
    actual shortest paths on any graph shape (cf. the k-core lesson:
    fixed round counts silently truncate on long paths).

    Scale: the edge list is bounded at 2x``_TOP_EDGES`` rows BY
    CONSTRUCTION, so the relaxations run row-locally over one packed
    edge array (``operators/microg.py``): |nodes| - 1 rounds bound every
    simple path, extra rounds are no-ops under the monotone min fold, so
    the fixpoint is GUARANTEED — the same result as the previous
    iterate-until-unchanged driver loop without its per-round
    checkpoint + convergence-collect jobs (the distributed cost is the
    star-join aggregate that builds the graph). On an unbounded graph
    this collapses back to the Pregel loop [[pagerank_bipartite]] keeps.
    """
    from waterbear_spark.operators import microg

    packed = microg.pack_edges(
        und_edges_weighted(spark, sf_dir), "src", "dst", "w"
    )
    dist = microg.bellman_ford_distances(F.col("edges"))
    return (
        packed.select(F.explode(dist).alias("x"))
        .select(F.col("x.node").alias("node"), F.col("x.d").alias("d"))
        .orderBy("d", "node")
    )


def _sssp_sql() -> str:
    ctes = []
    prev = "s0"
    for i in range(1, _SSSP_SQL_ROUNDS + 1):
        ctes.append(
            f"""s{i} AS MATERIALIZED (
    SELECT node, MIN(d) AS d FROM (
        SELECT node, d FROM {prev}
        UNION ALL
        SELECT u.dst AS node, {prev}.d + u.w AS d
        FROM undw u JOIN {prev} ON u.src = {prev}.node
    ) GROUP BY node
)"""
        )
        prev = f"s{i}"
    return f"""
WITH {_WEDGES_CTE},
s0 AS (SELECT node, CAST(0 AS BIGINT) AS d
       FROM (SELECT MIN(src) AS node FROM undw) WHERE node IS NOT NULL),
{",".join(ctes)}
SELECT node, d FROM {prev} ORDER BY d, node
"""


# ---------------------------------------------------------------------------
# Neighborhood Jaccard link prediction
# ---------------------------------------------------------------------------

_GJ_TOPK = 25


def graph_jaccard_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighborhood Jaccard for node pairs of the nation trade graph:
    J(a,b) = |N(a) ∩ N(b)| / |N(a) ∪ N(b)| — the standard
    link-prediction score next to [[adamic_adar_links]]. Candidate
    pairs are generated by the WEDGE join (two edges sharing an
    endpoint), so only pairs with at least one common neighbor ever
    materialize; the top 25 by score are returned.

    Scale: the wedge join shuffles on the shared neighbor; degree is a
    |nodes|-row broadcast. On power-law graphs the standard hub cap
    (drop wedges through nodes above a degree bound) bolts onto the
    degree census.
    """
    und = scope.persist(und_edges_weighted(spark, sf_dir).select("src", "dst"))
    deg = und.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    e1 = und.select(F.col("dst").alias("a"), F.col("src").alias("x"))
    e2 = und.select(F.col("src").alias("x"), F.col("dst").alias("b"))
    common = (
        e1.join(e2, "x")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    da = deg.select(F.col("src").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("src").alias("b"), F.col("deg").alias("deg_b"))
    return (
        common.join(F.broadcast(da), "a")
        .join(F.broadcast(db), "b")
        .select(
            "a",
            "b",
            "n_common",
            F.round(
                F.col("n_common")
                / (F.col("deg_a") + F.col("deg_b") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
        .orderBy(F.col("jaccard").desc(), "a", "b")
        .limit(_GJ_TOPK)
    )


_GRAPH_JACCARD_SQL = f"""
WITH {_WEDGES_CTE},
deg AS MATERIALIZED (SELECT src, COUNT(*) AS deg FROM und GROUP BY src),
common AS MATERIALIZED (
    SELECT e1.dst AS a, e2.dst AS b, COUNT(*) AS n_common
    FROM und e1 JOIN und e2 ON e1.src = e2.src AND e1.dst < e2.dst
    GROUP BY 1, 2
)
SELECT a, b, n_common,
       ROUND(CAST(n_common AS DOUBLE)
             / (da.deg + db.deg - n_common), 6) AS jaccard
FROM common
JOIN deg da ON da.src = a
JOIN deg db ON db.src = b
ORDER BY jaccard DESC, a, b
LIMIT {_GJ_TOPK}
"""


# ---------------------------------------------------------------------------
# Wilcoxon signed-rank paired test
# ---------------------------------------------------------------------------

_WX_SPLIT = "1996-01-01"
_WX_BUCKET = 1_000_000  # |diff|-range bucket for the rank scaffold
_WX_CRIT = 1.959964  # two-sided 5%


def wilcoxon_signed_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank test: did per-customer spend shift between
    the pre- and post-1996 periods? Pairs are customers ordering in
    BOTH periods; zero diffs drop (standard practice); |diff| ranks are
    average-rank-tied via the distributed cumulative scaffold
    ([[mannwhitney_order_status]]'s), and doubled rank sums keep every
    aggregate integer until the final tie-corrected z.

    Scale: one customer aggregate, a census over distinct |diff|
    values with bucketed prefix sums (no single-partition sweep), one
    closing 1-row readout.
    """
    orders = table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        (F.to_date("o_orderdate") < F.lit(_WX_SPLIT)).alias("pre"),
    )
    per = orders.groupBy("o_custkey").agg(
        F.sum(F.when(F.col("pre"), F.col("cents"))).alias("a"),
        F.sum(F.when(~F.col("pre"), F.col("cents"))).alias("b"),
    )
    diffs = (
        per.filter(F.col("a").isNotNull() & F.col("b").isNotNull())
        .select((F.col("b") - F.col("a")).alias("diff"))
        .filter(F.col("diff") != 0)
        .select(
            F.abs(F.col("diff")).alias("v"),
            (F.col("diff") > 0).cast("int").alias("pos"),
        )
    )
    per_value = diffs.groupBy("v").agg(
        F.sum("pos").alias("p"), F.sum(1 - F.col("pos")).alias("m")
    )
    pb = (F.col("v") - F.pmod(F.col("v"), _WX_BUCKET)) / _WX_BUCKET
    pv = per_value.withColumn("pb", pb.cast("long"))
    bucket = pv.groupBy("pb").agg(F.sum(F.col("p") + F.col("m")).alias("bc"))
    w_off = Window.orderBy("pb").rowsBetween(Window.unboundedPreceding, -1)
    offs = bucket.select(
        "pb", F.coalesce(F.sum("bc").over(w_off), F.lit(0)).alias("off")
    )
    w_in = (
        Window.partitionBy("pb")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cnt = F.col("p") + F.col("m")
    cums = pv.join(F.broadcast(offs), "pb").select(
        "p",
        "m",
        cnt.alias("cnt"),
        (F.col("off") + F.sum(cnt).over(w_in) - cnt).alias("cum_before"),
    )
    two_avg_rank = 2 * F.col("cum_before") + F.col("cnt") + 1
    sums = cums.select(
        "p",
        "m",
        "cnt",
        (F.col("p").cast(_D19) * two_avg_rank.cast(_D19)).alias("two_wp_term"),
        (F.col("cnt").cast(_D19) * F.col("cnt") * F.col("cnt") - F.col("cnt")).alias(
            "tie_term"
        ),
    ).agg(
        F.sum(F.col("p") + F.col("m")).alias("n"),
        F.sum("p").alias("n_pos"),
        F.sum("two_wp_term").cast(_D38).alias("two_wp"),
        F.sum("tie_term").cast(_D38).alias("tie_sum"),
    )
    nd = F.col("n").cast("double")
    two_mean = nd * (nd + 1) / 2.0  # 2 * n(n+1)/4
    var_w = nd * (nd + 1) * (2 * nd + 1) / 24.0 - F.col("tie_sum").cast(
        "double"
    ) / 48.0
    z = (F.col("two_wp").cast("double") - two_mean) / (2.0 * F.sqrt(var_w))
    # n IS NULL (no pairs at all) would otherwise seed one all-NULL
    # readout row from the ungrouped aggregate
    return sums.filter(F.col("n").isNotNull() & (F.col("n") > 0)).select(
        F.col("n").alias("n_pairs"),
        F.col("n_pos").alias("n_increased"),
        (F.col("two_wp").cast("double") / 2.0).alias("w_plus"),
        F.round(z, 6).alias("z_score"),
        (F.abs(z) > _WX_CRIT).alias("spend_shifted"),
    )


_WILCOXON_SQL = f"""
WITH per AS MATERIALIZED (
    SELECT o_custkey,
           SUM(CASE WHEN o_orderdate < TIMESTAMP '{_WX_SPLIT}'
                    THEN CAST(ROUND(o_totalprice * 100) AS BIGINT) END) AS a,
           SUM(CASE WHEN o_orderdate >= TIMESTAMP '{_WX_SPLIT}'
                    THEN CAST(ROUND(o_totalprice * 100) AS BIGINT) END) AS b
    FROM orders GROUP BY o_custkey
),
diffs AS (
    SELECT ABS(b - a) AS v, CASE WHEN b - a > 0 THEN 1 ELSE 0 END AS pos
    FROM per WHERE a IS NOT NULL AND b IS NOT NULL AND b <> a
),
per_value AS (
    SELECT v, SUM(pos) AS p, SUM(1 - pos) AS m FROM diffs GROUP BY v
),
cums AS (
    SELECT p, m, p + m AS cnt,
           SUM(p + m) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - (p + m) AS cum_before
    FROM per_value
),
sums AS (
    SELECT SUM(p + m) AS n, SUM(p) AS n_pos,
           CAST(SUM(CAST(p AS DECIMAL(19,0))
                * CAST(2 * cum_before + cnt + 1 AS DECIMAL(19,0)))
             AS DECIMAL(38,0)) AS two_wp,
           CAST(SUM(CAST(cnt AS DECIMAL(19,0)) * cnt * cnt - cnt)
             AS DECIMAL(38,0)) AS tie_sum
    FROM cums
)
SELECT CAST(n AS BIGINT) AS n_pairs,
       CAST(n_pos AS BIGINT) AS n_increased,
       CAST(two_wp AS DOUBLE) / 2.0 AS w_plus,
       ROUND((CAST(two_wp AS DOUBLE) - CAST(n AS DOUBLE) * (n + 1) / 2.0)
             / (2.0 * SQRT(CAST(n AS DOUBLE) * (n + 1) * (2 * n + 1) / 24.0
                           - CAST(tie_sum AS DOUBLE) / 48.0)), 6) AS z_score,
       ABS((CAST(two_wp AS DOUBLE) - CAST(n AS DOUBLE) * (n + 1) / 2.0)
           / (2.0 * SQRT(CAST(n AS DOUBLE) * (n + 1) * (2 * n + 1) / 24.0
                         - CAST(tie_sum AS DOUBLE) / 48.0))) > {_WX_CRIT}
           AS spend_shifted
FROM sums
WHERE n IS NOT NULL AND n > 0
"""


# ---------------------------------------------------------------------------
# Interval union coverage per user
# ---------------------------------------------------------------------------


def interval_coverage_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user union length of overlapping time intervals: each event
    opens an interval [ts, ts + (event_id % 30 + 1) minutes]; the
    answer is how much wall-clock each user's intervals COVER (overlaps
    merged) and in how many contiguous islands — the dwell-time /
    uptime primitive. Sweep-line as windows: within a user, an
    interval starts a new island iff its start exceeds the running max
    end of everything before it; island id = running count of starts.

    Scale: every window partitions by user (bounded timelines) — the
    shuffle key is the user, islands never materialize pairwise
    overlaps. Microsecond integers end to end.
    """
    ev = table(spark, sf_dir, "events").select(
        "user_id",
        epoch_us("ts").alias("s"),
        (
            epoch_us("ts")
            + (F.col("event_id") % 30 + 1) * F.lit(60_000_000)
        ).alias("e"),
        "event_id",
    )
    w = Window.partitionBy("user_id").orderBy("s", "event_id")
    prev_max_end = F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    marked = ev.withColumn(
        "new_island",
        F.when(
            prev_max_end.isNull() | (F.col("s") > prev_max_end), 1
        ).otherwise(0),
    )
    islands = marked.withColumn(
        "island",
        F.sum("new_island").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    per_island = islands.groupBy("user_id", "island").agg(
        F.min("s").alias("s0"), F.max("e").alias("e1")
    )
    return (
        per_island.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_islands"),
            F.sum(F.col("e1") - F.col("s0")).alias("covered_us"),
        )
        .orderBy("user_id")
    )


_INTERVAL_SQL = """
WITH ev AS MATERIALIZED (
    SELECT user_id, event_id,
           epoch_us(ts) AS s,
           epoch_us(ts) + (event_id % 30 + 1) * 60000000 AS e
    FROM events
),
marked AS (
    SELECT user_id, s, e, event_id,
           CASE WHEN MAX(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
                  OR s > MAX(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                THEN 1 ELSE 0 END AS new_island
    FROM ev
),
islands AS (
    SELECT user_id, s, e,
           SUM(new_island) OVER (PARTITION BY user_id ORDER BY s, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
    FROM marked
),
per_island AS (
    SELECT user_id, island, MIN(s) AS s0, MAX(e) AS e1
    FROM islands GROUP BY user_id, island
)
SELECT user_id, COUNT(*) AS n_islands,
       CAST(SUM(e1 - s0) AS BIGINT) AS covered_us
FROM per_island
GROUP BY user_id
ORDER BY user_id
"""


# ---------------------------------------------------------------------------
# Cramér's V effect size
# ---------------------------------------------------------------------------


def cramers_v_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V for the lang × source contingency table:
    V = sqrt(chi² / (n · (min(r,c) − 1))) ∈ [0, 1] — the effect-size
    companion to [[chi2_lang_source]] (a huge corpus makes chi²
    significant at trivially small associations; V is the
    size-invariant readout a data mixer actually thresholds on).
    Counts and margins are exact; the per-cell chi² terms fold in
    sorted cell order.

    Scale: one count aggregate to |langs| × |sources| cells; margins,
    fold, and the closing row never scale with corpus size.
    """
    docs = table(spark, sf_dir, "documents").select("lang", "source")
    cells = docs.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("o"))
    rows = cells.groupBy("lang").agg(F.sum("o").alias("rn"))
    colsm = cells.groupBy("source").agg(F.sum("o").alias("cn"))
    n = cells.agg(
        F.sum("o").alias("n"),
        F.count_distinct("lang").alias("r"),
        F.count_distinct("source").alias("c"),
    )
    terms = (
        cells.join(F.broadcast(rows), "lang")
        .join(F.broadcast(colsm), "source")
        .crossJoin(F.broadcast(n))
        .select(
            "lang",
            "source",
            "n",
            "r",
            "c",
            (
                (F.col("o") - F.col("rn") * F.col("cn") / F.col("n"))
                * (F.col("o") - F.col("rn") * F.col("cn") / F.col("n"))
                / (F.col("rn") * F.col("cn") / F.col("n"))
            ).alias("term"),
        )
    )
    return terms.groupBy("n", "r", "c").agg(
        F.round(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("lang", "source", "term"))),
                F.lit(0.0),
                lambda acc, x: acc + x["term"],
            ),
            6,
        ).alias("chi2"),
    ).select(
        F.col("n").alias("n_docs"),
        ((F.col("r") - 1) * (F.col("c") - 1)).cast("bigint").alias("dof"),
        "chi2",
        # V is undefined (NULL, not a 0/0) for a 1xk table
        F.when(
            F.least("r", "c") > 1,
            F.round(
                F.sqrt(
                    F.col("chi2")
                    / (F.col("n") * (F.least("r", "c") - F.lit(1)))
                ),
                6,
            ),
        ).alias("cramers_v"),
    )


_CRAMERS_SQL = """
WITH cells AS MATERIALIZED (
    SELECT lang, source, COUNT(*) AS o FROM documents GROUP BY lang, source
),
rm AS (SELECT lang, SUM(o) AS rn FROM cells GROUP BY lang),
cm AS (SELECT source, SUM(o) AS cn FROM cells GROUP BY source),
nt AS (SELECT SUM(o) AS n, COUNT(DISTINCT lang) AS r,
              COUNT(DISTINCT source) AS c FROM cells),
terms AS (
    SELECT cells.lang, cells.source, nt.n, nt.r, nt.c,
           (o - rn * cn / CAST(n AS DOUBLE))
           * (o - rn * cn / CAST(n AS DOUBLE))
           / (rn * cn / CAST(n AS DOUBLE)) AS term
    FROM cells JOIN rm USING (lang) JOIN cm USING (source), nt
),
agg AS (
    SELECT n, r, c,
           ROUND(list_aggregate(list(term ORDER BY lang, source), 'sum'), 6)
               AS chi2
    FROM terms GROUP BY n, r, c
)
SELECT CAST(n AS BIGINT) AS n_docs,
       CAST((r - 1) * (c - 1) AS BIGINT) AS dof,
       chi2,
       CASE WHEN LEAST(r, c) > 1
            THEN ROUND(SQRT(chi2 / (n * (LEAST(r, c) - 1))), 6) END
           AS cramers_v
FROM agg
"""


# ---------------------------------------------------------------------------
# Rendezvous (highest-random-weight) sharding
# ---------------------------------------------------------------------------

_RV_SHARDS = 10


def rendezvous_sharding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous (HRW) hashing of documents onto shards, and the
    movement census when the cluster grows 10 -> 11 shards: each doc
    goes to argmax_s md5(doc|s), so adding a shard moves ONLY the docs
    whose new shard wins — expected 1/11 of keys, with no ring
    metadata. Output per shard: population under 10 and under 11, and
    how many of its 11-shard docs already lived there (stayed).

    Scale: assignment is row-local (a 10/11-element in-row argmax);
    the census is a |shards|-row aggregate. This is THE deterministic
    re-partitioning primitive for stateful services and cache tiers.
    """
    docs = table(spark, sf_dir, "documents").select("doc_id")

    def assign(n_shards):
        arr = F.transform(
            F.sequence(F.lit(0), F.lit(n_shards - 1)),
            lambda s: F.struct(
                F.md5(
                    F.concat(
                        F.col("doc_id").cast("string"), F.lit("|"), s.cast("string")
                    )
                ).alias("k"),
                s.alias("s"),
            ),
        )
        return F.array_max(arr)["s"]

    assigned = docs.select(
        "doc_id",
        assign(_RV_SHARDS).alias("s10"),
        assign(_RV_SHARDS + 1).alias("s11"),
    )
    by10 = assigned.groupBy(F.col("s10").alias("shard")).agg(
        F.count(F.lit(1)).alias("n_at_10")
    )
    by11 = assigned.groupBy(F.col("s11").alias("shard")).agg(
        F.count(F.lit(1)).alias("n_at_11"),
        F.sum((F.col("s10") == F.col("s11")).cast("int")).alias("n_stayed"),
    )
    return (
        by11.join(by10, "shard", "full")
        .select(
            "shard",
            F.coalesce("n_at_10", F.lit(0)).alias("n_at_10"),
            F.coalesce("n_at_11", F.lit(0)).alias("n_at_11"),
            F.coalesce("n_stayed", F.lit(0)).alias("n_stayed"),
        )
        .orderBy("shard")
    )


_RENDEZVOUS_SQL = f"""
WITH a10 AS MATERIALIZED (
    SELECT doc_id,
           arg_max(s, md5(CAST(doc_id AS VARCHAR) || '|' || CAST(s AS VARCHAR)))
               AS s10
    FROM documents, (SELECT unnest(range(0, {_RV_SHARDS})) AS s)
    GROUP BY doc_id
),
a11 AS MATERIALIZED (
    SELECT doc_id,
           arg_max(s, md5(CAST(doc_id AS VARCHAR) || '|' || CAST(s AS VARCHAR)))
               AS s11
    FROM documents, (SELECT unnest(range(0, {_RV_SHARDS + 1})) AS s)
    GROUP BY doc_id
),
assigned AS MATERIALIZED (
    SELECT a10.doc_id, s10, s11 FROM a10 JOIN a11 USING (doc_id)
),
by10 AS (SELECT s10 AS shard, COUNT(*) AS n_at_10 FROM assigned GROUP BY s10),
by11 AS (
    SELECT s11 AS shard, COUNT(*) AS n_at_11,
           SUM(CASE WHEN s10 = s11 THEN 1 ELSE 0 END) AS n_stayed
    FROM assigned GROUP BY s11
)
SELECT shard,
       COALESCE(n_at_10, 0) AS n_at_10,
       COALESCE(n_at_11, 0) AS n_at_11,
       CAST(COALESCE(n_stayed, 0) AS BIGINT) AS n_stayed
FROM by11 FULL JOIN by10 USING (shard)
ORDER BY shard
"""


# ---------------------------------------------------------------------------
# Deletion-neighborhood typo pairs
# ---------------------------------------------------------------------------

_TYPO_TOPK = 50


def typo_dedup_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance-1 vocabulary pairs (the spelling-variant dedup
    primitive) without a vocab cross product: every word emits its
    DELETION NEIGHBORHOOD (itself + each single-character deletion);
    two words within Levenshtein 1 necessarily share a variant
    (deletion/insertion share the shorter word; substitution shares
    the common deletion), so the equi-join on variants is a LOSSLESS
    candidate generator, verified by exact ``levenshtein``. Top pairs
    by combined corpus frequency.

    Scale: a word of length L emits L+1 variants (map-only, vocab-
    sized, Heaps-law sublinear); the join shuffles on the variant
    string. This is the same block-then-verify economics as
    [[jaccard_prefix_join]], specialized to edit distance.
    """
    docs = table(spark, sf_dir, "documents").select("text")
    words = docs.select(F.explode(_tokens(F.col("text"))).alias("w")).filter(
        F.col("w").rlike("^[a-z]{4,12}$")
    )
    vocab = scope.persist(words.groupBy("w").agg(F.count(F.lit(1)).alias("f")))
    variants = vocab.select(
        "w",
        F.explode(
            F.array_union(
                F.array(F.col("w")),
                F.transform(
                    F.sequence(F.lit(1), F.length("w")),
                    lambda i: F.concat(
                        F.substr(F.col("w"), F.lit(1), i - 1),
                        F.substr(F.col("w"), i + 1, F.length("w")),
                    ),
                ),
            )
        ).alias("v"),
    ).distinct()
    a = variants.select(F.col("v").alias("key"), F.col("w").alias("w1"))
    b = variants.select(F.col("v").alias("key"), F.col("w").alias("w2"))
    cand = (
        a.join(b, "key")
        .filter(F.col("w1") < F.col("w2"))
        .select("w1", "w2")
        .distinct()
        .filter(F.levenshtein("w1", "w2") <= 1)
    )
    f1 = vocab.select(F.col("w").alias("w1"), F.col("f").alias("f1"))
    f2 = vocab.select(F.col("w").alias("w2"), F.col("f").alias("f2"))
    return (
        cand.join(f1, "w1")
        .join(f2, "w2")
        .select("w1", "w2", "f1", "f2")
        .orderBy((F.col("f1") + F.col("f2")).desc(), "w1", "w2")
        .limit(_TYPO_TOPK)
    )


_TYPO_SQL = f"""
WITH vocab AS MATERIALIZED (
    SELECT w, COUNT(*) AS f
    FROM (SELECT unnest({TOKENS_SQL}) AS w FROM documents)
    WHERE regexp_matches(w, '^[a-z]{{4,12}}$')
    GROUP BY w
),
variants AS MATERIALIZED (
    SELECT DISTINCT w, v FROM (
        SELECT w, unnest(list_append(
            list_transform(range(1, length(w) + 1),
                i -> substring(w, 1, CAST(i AS INTEGER) - 1)
                     || substring(w, CAST(i AS INTEGER) + 1, length(w))),
            w)) AS v
        FROM vocab
    )
),
cand AS MATERIALIZED (
    SELECT DISTINCT a.w AS w1, b.w AS w2
    FROM variants a JOIN variants b ON a.v = b.v AND a.w < b.w
)
SELECT w1, w2, f1.f AS f1, f2.f AS f2
FROM cand
JOIN vocab f1 ON f1.w = w1
JOIN vocab f2 ON f2.w = w2
WHERE levenshtein(w1, w2) <= 1
ORDER BY f1.f + f2.f DESC, w1, w2
LIMIT {_TYPO_TOPK}
"""


# ---------------------------------------------------------------------------
# Per-weekday robust (MAD) anomalies
# ---------------------------------------------------------------------------


def dow_mad_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal robust anomaly census: daily order revenue grouped by
    weekday (epoch-relative index 0-6, identical arithmetic in both
    engines), a day is anomalous when its revenue deviates from its
    weekday's MEDIAN by more than 3 MADs. Medians are exact two-middle
    rank picks; DOUBLING keeps the even-count midpoint and all
    deviations integer, so the 3-MAD test is the exact integer
    comparison 2·|2v − med2| > 3·mad2of2.

    Scale: the daily census is |days| rows; all windows partition by
    weekday (bounded groups that grow with the date span, not the data
    volume). The raw shuffle is one combinable day aggregate.
    """
    orders = table(spark, sf_dir, "orders").select(
        F.to_date("o_orderdate").alias("day"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    daily = orders.groupBy("day").agg(F.sum("cents").alias("v"))
    daily = daily.withColumn(
        "dow", F.pmod(F.datediff(F.col("day"), F.lit("1970-01-01")), F.lit(7))
    )
    w = Window.partitionBy("dow").orderBy("v", "day")
    ranked = daily.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count(F.lit(1)).over(Window.partitionBy("dow"))
    )
    # doubled exact median: value at floor((n+1)/2) + value at ceil((n+1)/2)
    lo = F.floor((F.col("n") + 1) / 2)
    hi = F.col("n") + 1 - lo  # ceil((n+1)/2)
    med2 = ranked.groupBy("dow").agg(
        F.sum(
            F.when(F.col("rn") == lo, F.col("v")).otherwise(0)
            + F.when(F.col("rn") == hi, F.col("v")).otherwise(0)
        ).alias("med2"),
        F.max("n").alias("n_days"),
    )
    devs = daily.join(F.broadcast(med2), "dow").select(
        "dow",
        "day",
        "v",
        "med2",
        "n_days",
        F.abs(2 * F.col("v") - F.col("med2")).alias("dev2"),
    )
    wd = Window.partitionBy("dow").orderBy("dev2", "day")
    dranked = devs.withColumn("rn", F.row_number().over(wd)).withColumn(
        "dn", F.count(F.lit(1)).over(Window.partitionBy("dow"))
    )
    dlo = F.floor((F.col("dn") + 1) / 2)
    dhi = F.col("dn") + 1 - dlo
    mad = dranked.groupBy("dow").agg(
        F.sum(
            F.when(F.col("rn") == dlo, F.col("dev2")).otherwise(0)
            + F.when(F.col("rn") == dhi, F.col("dev2")).otherwise(0)
        ).alias("mad2of2")
    )
    flagged = devs.join(F.broadcast(mad), "dow").select(
        "dow",
        "med2",
        "n_days",
        "mad2of2",
        (2 * F.col("dev2") > 3 * F.col("mad2of2")).cast("int").alias("anom"),
    )
    return (
        flagged.groupBy("dow")
        .agg(
            F.max("n_days").alias("n_days"),
            (F.max("med2") / 2.0).alias("median_cents"),
            (F.max("mad2of2") / 4.0).alias("mad_cents"),
            F.sum("anom").alias("n_anomalies"),
        )
        .orderBy("dow")
    )


_DOW_MAD_SQL = """
WITH daily AS MATERIALIZED (
    SELECT day, v,
           CAST(date_diff('day', DATE '1970-01-01', day) % 7 AS BIGINT) AS dow
    FROM (
        SELECT CAST(o_orderdate AS DATE) AS day,
               SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS v
        FROM orders GROUP BY 1
    )
),
ranked AS (
    SELECT dow, day, v,
           ROW_NUMBER() OVER (PARTITION BY dow ORDER BY v, day) AS rn,
           COUNT(*) OVER (PARTITION BY dow) AS n
    FROM daily
),
med AS MATERIALIZED (
    SELECT dow,
           SUM(CASE WHEN rn = (n + 1) // 2 THEN v ELSE 0 END
               + CASE WHEN rn = n + 1 - (n + 1) // 2 THEN v ELSE 0 END) AS med2,
           MAX(n) AS n_days
    FROM ranked GROUP BY dow
),
devs AS MATERIALIZED (
    SELECT d.dow, d.day, d.v, m.med2, m.n_days,
           ABS(2 * d.v - m.med2) AS dev2
    FROM daily d JOIN med m USING (dow)
),
dranked AS (
    SELECT dow, dev2,
           ROW_NUMBER() OVER (PARTITION BY dow ORDER BY dev2, day) AS rn,
           COUNT(*) OVER (PARTITION BY dow) AS n
    FROM devs
),
mad AS MATERIALIZED (
    SELECT dow,
           SUM(CASE WHEN rn = (n + 1) // 2 THEN dev2 ELSE 0 END
               + CASE WHEN rn = n + 1 - (n + 1) // 2 THEN dev2 ELSE 0 END)
               AS mad2of2
    FROM dranked GROUP BY dow
)
SELECT d.dow,
       MAX(d.n_days) AS n_days,
       MAX(d.med2) / 2.0 AS median_cents,
       MAX(m.mad2of2) / 4.0 AS mad_cents,
       CAST(SUM(CASE WHEN 2 * d.dev2 > 3 * m.mad2of2 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_anomalies
FROM devs d JOIN mad m USING (dow)
GROUP BY d.dow
ORDER BY d.dow
"""


QUERIES = {
    "weighted_sssp": weighted_sssp,
    "graph_jaccard_links": graph_jaccard_links,
    "wilcoxon_signed_rank": wilcoxon_signed_rank,
    "interval_coverage_user": interval_coverage_user,
    "cramers_v_lang_source": cramers_v_lang_source,
    "rendezvous_sharding": rendezvous_sharding,
    "typo_dedup_vocab": typo_dedup_vocab,
    "dow_mad_anomalies": dow_mad_anomalies,
}
ORACLES = {
    "weighted_sssp": _sssp_sql(),
    "graph_jaccard_links": _GRAPH_JACCARD_SQL,
    "wilcoxon_signed_rank": _WILCOXON_SQL,
    "interval_coverage_user": _INTERVAL_SQL,
    "cramers_v_lang_source": _CRAMERS_SQL,
    "rendezvous_sharding": _RENDEZVOUS_SQL,
    "typo_dedup_vocab": _TYPO_SQL,
    "dow_mad_anomalies": _DOW_MAD_SQL,
}
