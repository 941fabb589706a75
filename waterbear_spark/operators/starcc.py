"""Connected components: the package's one CC implementation, with two
tiers chosen by the edge count.

* **Bounded graphs** (at most ``DRIVER_MAX_EDGES`` distinct edges, e.g. a
  near-dup pair graph or grid_dbscan's cell adjacency): one bounded
  collect and a driver union-find rooted at the minimum vertex id.
* **Everything larger:** alternating large-star/small-star (Kiveris et
  al. 2014, "Connected Components in MapReduce and Beyond"), which
  converges in O(log^2 n) rounds on ANY graph shape where min-label
  propagation pays O(diameter) — the difference between 3 rounds and
  300 on a chain-y near-dup graph. Each round is two shuffles (a
  min-aggregate and an edge re-emit join); no step materializes
  anything larger than the edge list, and every operation is a
  combinable DataFrame aggregate or equi-join.

Contract: input is an undirected edge list in any orientation (self-loops
ignored); output is one (vertex, component) row per vertex incident to at
least one edge, with component = the minimum vertex id in its component —
identical on both tiers, so every consumer shares one oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from waterbear_spark import scope

# Largest distinct-edge count computed by the driver tier: <= 65536
# 16-byte rows, ~1 MB per collect. Measured on the 256-edge sf0.1 near-dup
# graph, the union-find takes ~0.05 s where a star round pays 3 shuffles
# and 2 driver jobs.
DRIVER_MAX_EDGES = 65536


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of u to min(N(u) + {u}).

    No trailing ``distinct``: every consumer is duplicate-insensitive
    (``_small_star``'s min-aggregate, and its OWN output distinct), so
    the dedup exchange here bought nothing — one round used to pay 5
    shuffles, this and the ``nbrs`` dedup below bring it to 3.
    """
    sym = edges.union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    mins = (
        sym.groupBy("u")
        .agg(F.min("v").alias("mn"))
        .select("u", F.least("mn", "u").alias("m"))
    )
    return (
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient to (larger, smaller), then point every smaller-or-equal
    neighbor (and u itself) at min(N(u) + {u}). Tolerates duplicate
    input edges (min-aggregate; the output distinct dedupes), which lets
    ``_large_star`` skip its own dedup exchange."""
    orient = edges.filter(F.col("u") != F.col("v")).select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    )
    mins = (
        orient.groupBy("u")
        .agg(F.min("v").alias("mn"))
        .select("u", F.least("mn", "u").alias("m"))
    )
    nbrs = orient.union(orient.select("u", F.col("u").alias("v")))
    return (
        nbrs.join(mins, "u")
        .filter(F.col("v") != F.col("m"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _driver_components(edges: DataFrame, session) -> DataFrame:
    """Components of a BOUNDED (u, v) edge frame via one bounded collect
    + driver union-find rooted at the minimum vertex id — the
    (vertex, component) contract of both tiers. Callers gate
    on an already-paid edge count; see star_connected_components."""
    parent: dict[int, int] = {}

    def _find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for row in edges.collect():
        u, v = row[0], row[1]
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = _find(u), _find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    labels = sorted((x, _find(x)) for x in parent)
    return session.createDataFrame(labels, "vertex bigint, component bigint")


def star_connected_components(
    edges_df: DataFrame, src: str = "src", dst: str = "dst",
    max_rounds: int = 50,
) -> DataFrame:
    """(vertex BIGINT, component BIGINT) of an undirected edge list.

    The deduped edges are cached once and their signature's count picks
    the tier; the cache is released before returning on either tier (the
    union-find result is a local frame, the star loop's result reads its
    last checkpoint), so the driver tier leaves no persisted RDD behind
    and the star tier leaves one, released with the query scope.
    ``max_rounds`` is a safety cap far above the O(log^2 n) bound;
    convergence is detected by the canonical edge set reaching a
    fixpoint (checked with one count per round — a scalar, not a collect
    of the edges).
    """
    edges = scope.persist(
        edges_df.select(
            F.col(src).cast("bigint").alias("u"),
            F.col(dst).cast("bigint").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    try:
        sig = _signature(edges)
        # the collect is gated on the count the signature already paid,
        # so an over-bound graph never reaches the driver
        if sig[0] <= DRIVER_MAX_EDGES:
            return _driver_components(edges, edges_df.sparkSession)
        return _star_loop(edges, sig, max_rounds)
    finally:
        scope.release(edges)


def _signature(e: DataFrame):
    """One combinable aggregate: (n_edges, sum(u), sum(v), sum(hash)).
    Cheap per-round change detector — a differing signature proves
    non-convergence without touching the exact set-equality path."""
    row = e.agg(
        F.count(F.lit(1)),
        F.sum(F.col("u").cast("decimal(38,0)")),
        F.sum(F.col("v").cast("decimal(38,0)")),
        # 64-bit hashes summed exactly in decimal128 (ANSI-safe)
        F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")),
    ).collect()[0]
    return tuple(row)


def _star_loop(edges: DataFrame, sig: tuple, max_rounds: int) -> DataFrame:
    """Alternating large-star/small-star to a fixpoint; each round's
    edges are checkpointed, so the result no longer reads ``edges``. A
    superseded round's checkpoint is released once the next round is
    materialized and compared, so only the last one, which the result
    reads, stays persisted (the first round releases the input edges the
    same way)."""
    for _ in range(max_rounds):
        after = scope.checkpoint(_small_star(_large_star(edges)))
        new_sig = _signature(after)
        changed = 1
        if new_sig == sig:
            # signatures agree -> run the EXACT set-equality confirm
            # (empty symmetric difference); in practice this executes
            # once, at the true fixpoint, so the two anti-join jobs are
            # paid a single time rather than every round
            changed = (
                after.join(edges, ["u", "v"], "left_anti").limit(1).count()
                + edges.join(after, ["u", "v"], "left_anti").limit(1).count()
            )
        scope.release(edges)
        edges, sig = after, new_sig
        if changed == 0:
            break
    return (
        edges.select(F.col("u").alias("vertex"), F.col("v").alias("component"))
        .union(edges.select(F.col("v").alias("vertex"), F.col("v").alias("component")))
        .groupBy("vertex")
        .agg(F.min("component").alias("component"))
    )
