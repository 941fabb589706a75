"""Connected components (operators/starcc.py): both tiers — the bounded
driver union-find and the large-star/small-star loop — against a
union-find reference on adversarial graph shapes, the single catalog
function behind both CC names, and the session left as found."""

import random

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from waterbear_spark.operators import starcc
from waterbear_spark.operators.starcc import star_connected_components
from waterbear_spark.scope import persisted_ids


def _union_find_components(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    # component id = min vertex id reachable
    comp = {}
    for x in list(parent):
        root = find(x)
        comp.setdefault(root, root)
    return {x: find(x) for x in parent}


def _check(spark, edges):
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        (r.vertex, r.component)
        for r in star_connected_components(df).collect()
    }
    want = set(_union_find_components(edges).items())
    assert got == want


def test_chain_graph_high_diameter(spark):
    # worst case for min-label (O(diameter) rounds); star CC must still
    # produce min-vertex labels
    _check(spark, [(i, i + 1) for i in range(60)])


def test_star_and_cliques(spark):
    edges = [(0, i) for i in range(1, 10)]
    edges += [(a, b) for a in range(100, 105) for b in range(a + 1, 105)]
    _check(spark, edges)


def test_random_graphs_match_union_find(spark):
    rng = random.Random(7)
    for _ in range(3):
        n = 40
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(45)
        ]
        edges = [(u, v) for u, v in edges if u != v]
        _check(spark, edges)


def test_catalog_names_resolve_to_one_function():
    from waterbear_spark.queries.catalog import ORACLE_SQL, QUERIES

    assert QUERIES["dedup_clusters"] is QUERIES["dedup_clusters_star"]
    assert ORACLE_SQL["dedup_clusters"] is ORACLE_SQL["dedup_clusters_star"]


@pytest.mark.parametrize(
    "name", ["dedup_clusters", "dedup_clusters_star", "leakage_free_split"]
)
def test_warm_call_leaves_no_persisted_rdds(spark, name):
    """A query leaves the session as it found it: from a cleared cache
    neither a first call nor a second adds a persisted RDD (the CC edge
    cache and the shingle-set cache are released before returning)."""
    from waterbear_spark.queries.catalog import QUERIES

    spark.catalog.clearCache()
    before = persisted_ids(spark)
    QUERIES[name](spark, SF_SMOKE).collect()
    assert persisted_ids(spark) == before, "first call"
    QUERIES[name](spark, SF_SMOKE).collect()
    assert persisted_ids(spark) == before, "warm call"


def test_lateral_decorrelates_to_window_join(spark):
    """The LATERAL top-k must become a ranked window join, not a
    per-row nested loop."""
    from waterbear_spark.queries.sqlsurface import lateral_top_orders

    plan = (
        lateral_top_orders(spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def _random_graph(seed, n_edges, n_nodes):
    rng = random.Random(seed)
    seen = set()
    while len(seen) < n_edges:
        a, b = rng.randrange(n_nodes), rng.randrange(n_nodes)
        if a != b:
            seen.add((min(a, b), max(a, b)))
    return sorted(seen)


def test_above_threshold_driver_tier_matches(spark):
    # 700 distinct edges, under DRIVER_MAX_EDGES: the bounded-collect
    # union-find answers
    _check(spark, _random_graph(11, 700, 500))


def test_above_threshold_distributed_path_matches(spark, monkeypatch):
    # driver tier disabled: exercises the alternating-star loop (the
    # 100 TB path) on the same 700-edge graph
    monkeypatch.setattr(starcc, "DRIVER_MAX_EDGES", 0)
    _check(spark, _random_graph(11, 700, 500))


def test_local_and_distributed_paths_agree(spark, monkeypatch):
    # same 300-edge graph through both tiers: identical label sets
    df = spark.createDataFrame(_random_graph(13, 300, 150), "src long, dst long")
    driver = {
        (r.vertex, r.component) for r in star_connected_components(df).collect()
    }
    monkeypatch.setattr(starcc, "DRIVER_MAX_EDGES", 0)
    dist = {
        (r.vertex, r.component) for r in star_connected_components(df).collect()
    }
    assert driver == dist


def test_over_threshold_graph_never_collects(spark, monkeypatch):
    """The driver tier's collect is gated on the already-paid signature
    count: a graph over DRIVER_MAX_EDGES edges must go to the star loop
    without _driver_components ever being invoked — an unbounded future
    consumer cannot silently collect."""

    def _boom(*a, **k):
        raise AssertionError("driver tier collected an over-threshold graph")

    monkeypatch.setattr(starcc, "_driver_components", _boom)
    monkeypatch.setattr(starcc, "DRIVER_MAX_EDGES", 10)
    edges = [(i, i + 1) for i in range(40)]  # 40 > 10: over the tier bound
    _check(spark, edges)


def test_long_chain_above_threshold(spark, monkeypatch):
    # 600-edge path graph: adversarial diameter for the distributed loop
    monkeypatch.setattr(starcc, "DRIVER_MAX_EDGES", 0)
    _check(spark, [(i, i + 1) for i in range(600)])


def test_star_tier_keeps_only_its_last_checkpoint(spark, monkeypatch):
    """The star loop releases each superseded round's checkpoint once
    the next round is compared: a warm call leaves at most the last one,
    which its result reads (not one per round)."""
    monkeypatch.setattr(starcc, "DRIVER_MAX_EDGES", 0)
    df = spark.createDataFrame([(i, i + 1) for i in range(60)], "src long, dst long")
    star_connected_components(df).collect()
    before = persisted_ids(spark)
    star_connected_components(df).collect()
    assert len(persisted_ids(spark) - before) <= 1
