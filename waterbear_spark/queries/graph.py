"""Graph analytics over relational data: PageRank via power iteration.

Complements the connected-components clustering in ``llm.py`` (both are
the iterative driver-loop pattern: a small state DataFrame refined by a
fixed number of join+aggregate rounds — each round one shuffle, state
linear in nodes, never in edges).

Determinism: ranks are fixed-point BIGINTs (1e12 units) and every update
is integer arithmetic (``div`` floor division, exact sums), so five
iterations are bit-identical between Spark and the DuckDB chained-CTE
oracle — no float summation-order hazard.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from waterbear_spark import scope
from waterbear_spark.queries.tables import table

_SCALE = 10**12  # rank fixed-point unit
_SUPP_OFF = 1_000_000  # supplier node-id offset (disjoint from custkeys)
_DAMP_NUM, _DAMP_DEN = 85, 100  # damping 0.85 as a ratio
_ITERS = 5


def _pagerank_setup(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, int]:
    """(edges_deg persisted, nodes, n_nodes) — the static graph state
    shared by every power iteration. Split out so setup and per-round
    cost could be timed apart on the exact production code
    (PAGERANK_ROUNDS.json, by ``scripts/pagerank_rounds.py`` at commit
    ``bcd9c6e``).

    r12: the graph is persisted in DIRECTED-edge form (src, dst, deg)
    with the out-degree attached, instead of the r11 pair form probed at
    both endpoints. Each round then needs ONE broadcast of the rank
    vector (one build job + one exchange) instead of two, and the
    per-round explode moves here, paid once. Degrees also collapse to a
    single aggregate: deg(src) over directed edges IS cdeg/sdeg of the
    pair form (each pair row contributes one out-edge per endpoint)."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pairs = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .select("o_custkey", "l_suppkey")
        .distinct()
    )
    edges = scope.persist(pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("o_custkey").alias("src"),
                    (F.col("l_suppkey") + _SUPP_OFF).alias("dst"),
                ),
                F.struct(
                    (F.col("l_suppkey") + _SUPP_OFF).alias("src"),
                    F.col("o_custkey").alias("dst"),
                ),
            )
        ).alias("e")
    ).select("e.src", "e.dst"))
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    edges_deg = scope.persist(edges.join(F.broadcast(deg), "src"))
    # node list = out-degree keys (symmetric graph: every node has >= 1
    # out-edge), same key set as the old cdeg+supp union
    nodes = deg.select(F.col("src").alias("node"))
    # max(.., 1): on an empty graph every frame below has zero rows, so
    # the sentinel only keeps the scalar math defined — no row uses it
    n_nodes = max(deg.count(), 1)
    return edges_deg, nodes, n_nodes


def _pagerank_round(edges_deg: DataFrame, ranks: DataFrame, base: int) -> DataFrame:
    """One power iteration: broadcast the node-sized rank vector onto the
    persisted directed-edge list, aggregate contributions by
    destination. Same per-edge floor division on the same contribution
    multiset as the pair-probed / 2x edge-union forms — bit-identical
    ranks; one broadcast + one shuffle per round."""
    return (
        edges_deg.join(
            F.broadcast(ranks.withColumnRenamed("node", "src")), "src"
        )
        .groupBy("dst")
        .agg(
            (
                F.lit(base) + F.expr(f"sum(r div deg) * {_DAMP_NUM} div {_DAMP_DEN}")
            ).alias("r")
        )
        .withColumnRenamed("dst", "node")
    )


def pagerank_bipartite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank on the customer↔supplier interaction graph (an edge per
    distinct trading pair, both directions), 5 power iterations; returns
    the 25 most central suppliers.

    Scale: edges shuffle once to build; each iteration joins the rank
    vector (|nodes| rows — tiny, broadcastable) onto the edge list and
    aggregates contributions by destination: one shuffle per round over
    data proportional to |edges|, with AQE free to broadcast the rank
    side. State never exceeds one row per node — this is the same loop
    discipline GraphX/Pregel uses, expressed in plain DataFrame ops.
    """
    edges_deg, nodes, n_nodes = _pagerank_setup(spark, sf_dir)
    base = _SCALE * (_DAMP_DEN - _DAMP_NUM) // _DAMP_DEN // n_nodes

    # the rank vector is one row per NODE (not per edge) — broadcast it
    # onto the partitioned pair list each round, so the only shuffle per
    # iteration is the contribution aggregate on dst. Symmetry also means
    # every node receives contributions, so the aggregate output IS the
    # next rank vector — no join back onto a node list. (On a graph whose
    # rank vector outgrows a broadcast, drop the hint and AQE falls back
    # to a shuffle join — the loop shape is unchanged.)
    ranks = nodes.select("node", F.lit(_SCALE // n_nodes).alias("r"))
    for _ in range(_ITERS):
        # cut lineage every round: the chained 5-deep broadcast plan
        # costs ~2x the sum of its rounds at sf1 (plan depth + AQE
        # re-planning), while checkpointed rounds measure flat 0.6 s each
        # (PAGERANK_ROUNDS.json) — and at 100 TB per-round
        # materialization is the standard Pregel discipline anyway.
        # eager=False does not keep construction lazy: under AQE,
        # creating each round's checkpoint RDD runs that round's query
        # stages, so merely building this frame fires Spark jobs (22
        # cold and 20 warm at sf0.01; perfbench's queries.build_jobs
        # reads 20)
        ranks = scope.checkpoint(
            _pagerank_round(edges_deg, ranks, base), eager=False
        )
    return (
        ranks.filter(F.col("node") >= _SUPP_OFF)
        .select((F.col("node") - _SUPP_OFF).alias("supp_id"), F.col("r").alias("rank_fp"))
        .orderBy(F.col("rank_fp").desc(), "supp_id")
        .limit(25)
    )


def _pagerank_sql() -> str:
    iter_ctes = []
    prev = "r0"
    for i in range(1, _ITERS + 1):
        iter_ctes.append(
            f"""r{i} AS MATERIALIZED (
    SELECT dst AS node,
           (SELECT ({_SCALE} * {_DAMP_DEN - _DAMP_NUM}) // {_DAMP_DEN} // c FROM n)
           + (SUM({prev}.r // deg.deg) * {_DAMP_NUM}) // {_DAMP_DEN} AS r
    FROM edges
    JOIN {prev} ON edges.src = {prev}.node
    JOIN deg ON edges.src = deg.src
    GROUP BY dst
)"""
        )
        prev = f"r{i}"
    return f"""
WITH pairs AS (
    SELECT DISTINCT o_custkey, l_suppkey
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
edges AS (
    SELECT o_custkey AS src, l_suppkey + {_SUPP_OFF} AS dst FROM pairs
    UNION ALL
    SELECT l_suppkey + {_SUPP_OFF} AS src, o_custkey AS dst FROM pairs
),
deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
nodes AS (SELECT DISTINCT src AS node FROM edges),
n AS (SELECT COUNT(*) AS c FROM nodes),
r0 AS (SELECT node, {_SCALE} // (SELECT c FROM n) AS r FROM nodes),
{",".join(iter_ctes)}
SELECT node - {_SUPP_OFF} AS supp_id, CAST(r AS BIGINT) AS rank_fp
FROM {prev}
WHERE node >= {_SUPP_OFF}
ORDER BY rank_fp DESC, supp_id
LIMIT 25
"""


_TOP_EDGES = 100


def _triangle_nations(es) -> F.Column:
    """Per-triangle nation memberships of a packed (a < b) edge array:
    one flat array holding a, b, c for every a<b<c triangle, each
    triangle exactly once. For e1=(a,b), every e2=(b,c) is a wedge
    (c > b since stored pairs are least<greatest), closed iff (a,c) is
    also an edge."""
    return F.flatten(
        F.flatten(
            F.transform(
                es,
                lambda e1: F.transform(
                    F.filter(
                        es,
                        lambda e2: (e2["a"] == e1["b"])
                        & F.exists(
                            es,
                            lambda e3: (e3["a"] == e1["a"])
                            & (e3["b"] == e2["b"]),
                        ),
                    ),
                    lambda e2: F.array(e1["a"], e1["b"], e2["b"]),
                ),
            )
        )
    )


def triangle_count_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting on the nation trade graph: nodes are nations,
    undirected edges are the top-100 supplier-nation↔customer-nation
    pairs by revenue; per-nation triangle membership via the canonical
    wedge-close join (e1(a,b) ⋈ e2(b,c) on b, closed by e3(a,c), with
    a<b<c so each triangle counts once).

    Scale: the edge list is an aggregate of the q7-shaped star join
    (one fact shuffle, dims broadcast) reduced to ≤100 rows — the
    triangle joins run on that tiny relation. On a billion-edge graph
    the same three-way self-join partitions by the join node; the a<b<c
    canonicalization is what keeps it from counting each triangle 6×.
    """
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    supp = table(spark, sf_dir, "supplier")
    cust = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    revenue = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(20,6)"
    )
    pair_rev = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(nation.withColumnRenamed("n_name", "sn")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .drop("n_nationkey")
        .join(
            F.broadcast(nation.withColumnRenamed("n_name", "cn")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .filter(F.col("sn") != F.col("cn"))
        .groupBy(
            F.least("sn", "cn").alias("a"), F.greatest("sn", "cn").alias("b")
        )
        .agg(F.sum(revenue).alias("rev"))
    )
    from pyspark.sql import Window

    ranked = pair_rev.withColumn(
        "rk",
        F.row_number().over(
            Window.orderBy(F.col("rev").desc(), F.col("a"), F.col("b"))
        ),
    )
    edges = ranked.filter(F.col("rk") <= _TOP_EDGES).select("a", "b")
    # the edge list is <= _TOP_EDGES rows BY CONSTRUCTION (the rank
    # filter, not the data, sets the size) — close the wedges row-locally
    # over ONE packed array (the microg pattern) instead of a three-way
    # self-join whose physical plan re-derived the whole star-join
    # subtree once per join arm (40 Exchange / 3 duplicated fact scans).
    # Same canonical a<b<c closure: for e1=(a,b), every e2=(b,c) is a
    # wedge (c>b since stored pairs are least<greatest), closed iff
    # (a,c) is also an edge — each triangle counted exactly once.
    packed = edges.agg(
        F.array_sort(F.collect_list(F.struct("a", "b"))).alias("es")
    )
    return (
        packed.select(F.explode(_triangle_nations(F.col("es"))).alias("nation"))
        .groupBy("nation")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
        .orderBy(F.col("n_triangles").desc(), "nation")
    )


TRIANGLE_SQL = f"""
WITH pair_rev AS MATERIALIZED (
    SELECT LEAST(n1.n_name, n2.n_name) AS a,
           GREATEST(n1.n_name, n2.n_name) AS b,
           SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,6))) AS rev
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE n1.n_name <> n2.n_name
    GROUP BY 1, 2
),
edges AS (
    SELECT a, b FROM (
        SELECT a, b, ROW_NUMBER() OVER (ORDER BY rev DESC, a, b) AS rk
        FROM pair_rev
    ) WHERE rk <= {_TOP_EDGES}
),
tris AS (
    SELECT e1.a, e1.b, e2.b AS c
    FROM edges e1
    JOIN edges e2 ON e1.b = e2.a
    WHERE EXISTS (SELECT 1 FROM edges e3 WHERE e3.a = e1.a AND e3.b = e2.b)
)
SELECT nation, COUNT(*) AS n_triangles
FROM (SELECT unnest([a, b, c]) AS nation FROM tris)
GROUP BY nation
ORDER BY n_triangles DESC, nation
"""


_LPA_ROUNDS = 3


def label_propagation_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label propagation (community detection) on the same
    top-100 nation trade graph as ``triangle_count_nations``: labels start
    as each node's own name; each round every node adopts the most
    frequent label among its neighbours, ties broken by lexicographic min
    — fully deterministic, so 3 rounds are bit-identical to the DuckDB
    chained-CTE oracle. Unlike the connected components of
    ``llm.dedup_clusters`` (``operators/starcc.py``), mode-propagation
    finds dense sub-communities inside a single connected component.

    Scale: the edge list is bounded at 2x``_TOP_EDGES`` rows by
    construction, so the rounds run row-locally over one packed edge
    array (``operators/microg.py``); the distributed cost is the
    star-join aggregate that builds the graph. On an unbounded graph the
    rounds collapse back to the Pregel loop discipline (label vector
    join + count aggregate + argmax per round).
    """
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    supp = table(spark, sf_dir, "supplier")
    cust = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    revenue = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(20,6)"
    )
    pair_rev = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(nation.withColumnRenamed("n_name", "sn")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .drop("n_nationkey")
        .join(
            F.broadcast(nation.withColumnRenamed("n_name", "cn")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .filter(F.col("sn") != F.col("cn"))
        .groupBy(
            F.least("sn", "cn").alias("a"), F.greatest("sn", "cn").alias("b")
        )
        .agg(F.sum(revenue).alias("rev"))
    )
    from pyspark.sql import Window

    ranked = pair_rev.withColumn(
        "rk",
        F.row_number().over(
            Window.orderBy(F.col("rev").desc(), F.col("a"), F.col("b"))
        ),
    )
    edges = ranked.filter(F.col("rk") <= _TOP_EDGES).select("a", "b")
    und = edges.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionAll(
        edges.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    # bounded graph (2 x _TOP_EDGES rows by construction): the three
    # mode-propagation rounds run row-locally over one packed edge array
    # (operators/microg.py) instead of three broadcast+shuffle+window
    # micro-stage rounds; the distributed cost stays the star-join
    # aggregate that builds the edge list
    from waterbear_spark.operators import microg

    packed = microg.pack_edges(und)
    labels = microg.lpa_labels(F.col("edges"), _LPA_ROUNDS)
    return (
        packed.select(F.explode(labels).alias("x"))
        .groupBy(F.col("x.label").alias("community"))
        .agg(F.count(F.lit(1)).alias("n_members"))
        .orderBy(F.col("n_members").desc(), "community")
    )


def _lpa_sql() -> str:
    ctes = []
    prev = "l0"
    for i in range(1, _LPA_ROUNDS + 1):
        ctes.append(
            f"""l{i} AS MATERIALIZED (
    SELECT src AS node, label FROM (
        SELECT u.src, {prev}.label,
               ROW_NUMBER() OVER (
                   PARTITION BY u.src
                   ORDER BY COUNT(*) DESC, {prev}.label
               ) AS rk
        FROM und u JOIN {prev} ON u.dst = {prev}.node
        GROUP BY u.src, {prev}.label
    ) WHERE rk = 1
)"""
        )
        prev = f"l{i}"
    return f"""
WITH pair_rev AS MATERIALIZED (
    SELECT LEAST(n1.n_name, n2.n_name) AS a,
           GREATEST(n1.n_name, n2.n_name) AS b,
           SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,6))) AS rev
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE n1.n_name <> n2.n_name
    GROUP BY 1, 2
),
edges AS MATERIALIZED (
    SELECT a, b FROM (
        SELECT a, b, ROW_NUMBER() OVER (ORDER BY rev DESC, a, b) AS rk
        FROM pair_rev
    ) WHERE rk <= {_TOP_EDGES}
),
und AS MATERIALIZED (
    SELECT a AS src, b AS dst FROM edges
    UNION ALL
    SELECT b AS src, a AS dst FROM edges
),
l0 AS (SELECT DISTINCT src AS node, src AS label FROM und),
{",".join(ctes)}
SELECT label AS community, COUNT(*) AS n_members
FROM {prev}
GROUP BY label
ORDER BY n_members DESC, community
"""


_BFS_ROUNDS = 4

# AS MATERIALIZED throughout the chained-CTE oracles: DuckDB inlines
# plain CTEs, so a round that references its predecessor m times costs
# m^rounds re-evaluations of this whole star join (the 3-ref k-core
# unroll at 8 rounds exhausted file descriptors re-opening the parquet
# 6561 times). Materialization makes every unroll linear.
_EDGES_CTE = f"""
pair_rev AS MATERIALIZED (
    SELECT LEAST(n1.n_name, n2.n_name) AS a,
           GREATEST(n1.n_name, n2.n_name) AS b,
           SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,6))) AS rev
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE n1.n_name <> n2.n_name
    GROUP BY 1, 2
),
edges AS MATERIALIZED (
    SELECT a, b FROM (
        SELECT a, b, ROW_NUMBER() OVER (ORDER BY rev DESC, a, b) AS rk
        FROM pair_rev
    ) WHERE rk <= {_TOP_EDGES}
),
und AS MATERIALIZED (
    SELECT a AS src, b AS dst FROM edges
    UNION ALL
    SELECT b AS src, a AS dst FROM edges
)"""


def _und_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetrized top-100 nation trade edge list (src, dst) — the shared
    graph behind triangle counting, label propagation, and BFS."""
    return und_edges_weighted(spark, sf_dir).select("src", "dst")


def und_edges_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetrized top-100 nation trade edges with an integer weight
    (src, dst, w): w is the edge's revenue RANK (1 = heaviest pair), so
    weighted traversals are fully integer/deterministic — the shared
    weighted graph behind Bellman-Ford and neighborhood similarity."""
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    supp = table(spark, sf_dir, "supplier")
    cust = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    revenue = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(20,6)"
    )
    pair_rev = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(nation.withColumnRenamed("n_name", "sn")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .drop("n_nationkey")
        .join(
            F.broadcast(nation.withColumnRenamed("n_name", "cn")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .filter(F.col("sn") != F.col("cn"))
        .groupBy(
            F.least("sn", "cn").alias("a"), F.greatest("sn", "cn").alias("b")
        )
        .agg(F.sum(revenue).alias("rev"))
    )
    from pyspark.sql import Window

    ranked = pair_rev.withColumn(
        "rk",
        F.row_number().over(
            Window.orderBy(F.col("rev").desc(), F.col("a"), F.col("b"))
        ),
    )
    edges = ranked.filter(F.col("rk") <= _TOP_EDGES).select("a", "b", "rk")
    # symmetrize ROW-LOCALLY: a unionAll of two projections plans the
    # whole star-join + aggregate subtree TWICE (measured: no exchange
    # reuse across the union children — the base cost doubled for every
    # graph query). One explode emits both directions from one subtree
    # (r11; guide §2.4).
    return edges.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("a").alias("src"),
                    F.col("b").alias("dst"),
                    F.col("rk").alias("w"),
                ),
                F.struct(
                    F.col("b").alias("src"),
                    F.col("a").alias("dst"),
                    F.col("rk").alias("w"),
                ),
            )
        ).alias("e")
    ).select("e.src", "e.dst", "e.w")


# weighted twin of _EDGES_CTE: undw carries the revenue-rank weight
_WEDGES_CTE = (
    _EDGES_CTE.replace(
        """edges AS MATERIALIZED (
    SELECT a, b FROM (""",
        """edges AS MATERIALIZED (
    SELECT a, b, rk FROM (""",
    ).replace(
        """und AS MATERIALIZED (
    SELECT a AS src, b AS dst FROM edges
    UNION ALL
    SELECT b AS src, a AS dst FROM edges
)""",
        """undw AS MATERIALIZED (
    SELECT a AS src, b AS dst, rk AS w FROM edges
    UNION ALL
    SELECT b AS src, a AS dst, rk AS w FROM edges
),
und AS MATERIALIZED (SELECT src, dst FROM undw)""",
    )
)


def bfs_shortest_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unweighted single-source shortest paths (BFS) on the nation trade
    graph, source = lexicographically smallest node; 4 synchronous
    relaxation rounds of the (min, +1) semiring. Deterministic, so the
    distance table is bit-identical to the chained-CTE oracle.

    Scale: the edge list is bounded at 2x``_TOP_EDGES`` rows BY
    CONSTRUCTION (the rank filter, not the data, sets its size), so the
    relaxation rounds run row-locally over one packed edge array
    (``operators/microg.py``) — the distributed cost is the star-join
    aggregate that builds the graph, and the four bounded rounds add a
    single projection instead of four serialized broadcast+shuffle
    micro-stages (measured 4.3 s of round overhead at sf0.1). On an
    UNbounded graph this collapses back to the Pregel loop discipline
    PageRank uses — state linear in nodes, one shuffle per round.
    """
    from waterbear_spark.operators import microg

    packed = microg.pack_edges(_und_edges(spark, sf_dir))
    edges = F.col("edges")
    dist = microg.bfs_distances(
        edges,
        _BFS_ROUNDS,
        F.array_min(F.transform(edges, lambda e: e["src"])),
    )
    return (
        packed.select(F.explode(dist).alias("x"))
        .select(F.col("x.node").alias("node"), F.col("x.d").alias("d"))
        .orderBy("d", "node")
    )


def _bfs_sql() -> str:
    ctes = []
    prev = "d0"
    for i in range(1, _BFS_ROUNDS + 1):
        ctes.append(
            f"""d{i} AS MATERIALIZED (
    SELECT node, MIN(d) AS d FROM (
        SELECT node, d FROM {prev}
        UNION ALL
        SELECT u.dst AS node, {prev}.d + 1 AS d
        FROM und u JOIN {prev} ON u.src = {prev}.node
    ) GROUP BY node
)"""
        )
        prev = f"d{i}"
    return f"""
WITH {_EDGES_CTE},
d0 AS (SELECT (SELECT MIN(src) FROM und) AS node, 0 AS d),
{",".join(ctes)}
SELECT node, d FROM {prev} ORDER BY d, node
"""




_KCORE_K = 3
# peeling runs to a FIXPOINT (a round that drops no edge), never to a
# fixed round count: on adversarial shapes (a path graph peels one node
# per round) truncation would return nodes whose degree is still < k,
# i.e. not a k-core at all (ADVICE round 3). |nodes| row-local rounds
# guarantee the fixpoint — every effective round removes >= 1 node.
# the oracle unrolls this many peel rounds; past the fixpoint extra
# rounds are identities, so it is exact as long as the test data
# converges within the unroll (measured: sf0.01 converges by round 4 —
# rounds 4 and 6 return identical cores; and the Spark side runs to a
# true fixpoint, so a dataset needing more rounds diverges loudly in
# the differential check rather than silently truncating both engines)
_KCORE_SQL_ROUNDS = 6


def kcore_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition (k=3) of the nation trade graph by
    synchronous peeling: each round drops every node whose degree in the
    surviving subgraph is below k, then drops edges touching dropped
    nodes, iterating until a round drops nothing — the fixpoint is what
    makes the survivors a true k-core (every remaining node has degree
    >= k IN the surviving subgraph). The output is the core's per-node
    degree — the standard graph-sampling/community-seed primitive.
    Integer degrees only, so the chained-CTE oracle is bit-identical.

    Scale: the edge list is bounded at 2x``_TOP_EDGES`` rows by
    construction, so the peel runs row-locally over one packed edge
    array (``operators/microg.py``) with |nodes| rounds — every
    effective round removes at least one node, so the fixpoint is
    GUARANTEED, replacing the previous per-round checkpoint +
    convergence-count driver loop. The distributed cost is the star-join
    aggregate that builds the graph; an unbounded graph swaps back to
    the degree-aggregate + semi-join Pregel loop.
    """
    alive = peel_kcore(_und_edges(spark, sf_dir), _KCORE_K)
    return (
        alive.groupBy(F.col("src").alias("node"))
        .agg(F.count(F.lit(1)).alias("core_degree"))
        .orderBy("node")
    )


def peel_kcore(edges: DataFrame, k: int) -> DataFrame:
    """Peel a symmetric (both-directions) edge list to its k-core
    fixpoint; returns the surviving edges.

    The input contract is a BOUNDED edge list (the callers pass top-K
    subgraphs), so the peel runs row-locally (``operators/microg.py``)
    with a guaranteed fixpoint in |nodes| rounds — no per-round
    checkpoint/count driver loop (which previously cost 2 jobs per peel
    round; lineage no longer grows because the whole peel is ONE
    expression)."""
    from waterbear_spark.operators import microg

    packed = microg.pack_edges(edges)
    alive = microg.kcore_surviving_edges(F.col("edges"), k)
    return packed.select(F.explode(alive).alias("x")).select(
        F.col("x.src").alias("src"), F.col("x.dst").alias("dst")
    )


def _kcore_sql() -> str:
    ctes = []
    prev = "e0"
    for i in range(1, _KCORE_SQL_ROUNDS + 1):
        ctes.append(
            f"""k{i} AS MATERIALIZED (
    SELECT src AS node FROM {prev}
    GROUP BY src HAVING COUNT(*) >= {_KCORE_K}
),
e{i} AS MATERIALIZED (
    SELECT e.src, e.dst FROM {prev} e
    JOIN k{i} a ON e.src = a.node
    JOIN k{i} b ON e.dst = b.node
)"""
        )
        prev = f"e{i}"
    return f"""
WITH {_EDGES_CTE},
e0 AS MATERIALIZED (SELECT src, dst FROM und),
{",".join(ctes)}
SELECT src AS node, COUNT(*) AS core_degree
FROM {prev} GROUP BY src ORDER BY node
"""


QUERIES = {
    "pagerank_bipartite": pagerank_bipartite,
    "triangle_count_nations": triangle_count_nations,
    "label_propagation_communities": label_propagation_communities,
    "bfs_shortest_paths": bfs_shortest_paths,
    "kcore_decomposition": kcore_decomposition,
}
ORACLES = {
    "pagerank_bipartite": _pagerank_sql(),
    "triangle_count_nations": TRIANGLE_SQL,
    "label_propagation_communities": _lpa_sql(),
    "bfs_shortest_paths": _bfs_sql(),
    "kcore_decomposition": _kcore_sql(),
}
