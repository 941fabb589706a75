"""Semantic invariants for the round-3 wave-6 operators. Exact oracle
equality runs in scripts/graft.py oracle; these tests pin what equality
can't explain — the bootstrap CI brackets the truth with correct Poisson
mass, scipy-free z-test recomputation, a pure-Python Dijkstra-by-BFS for
harmonic centrality, brute-force containment parity on the reported
pairs, and lift-table conservation laws."""

import math
from collections import defaultdict

from tests.conftest import SF_SMOKE
from waterbear_spark.queries.tables import table
from waterbear_spark.queries.wave6 import (
    _AB_A,
    _AB_B,
    _CT_MIN,
    _LIFT_K,
    _POIS_CDF,
    ab_test_proportions,
    bootstrap_ci_mean,
    containment_join,
    decile_lift_table,
    harmonic_centrality,
)


def test_bootstrap_ci_brackets_the_mean(spark):
    r = bootstrap_ci_mean(spark, SF_SMOKE).collect()[0]
    assert r.n_replicates == 32
    assert r.ci_lo <= r.ci_hi
    # the full-sample mean and the bootstrap mean agree to sampling noise,
    # and the 95% interval contains both
    assert r.ci_lo <= r.mean_full <= r.ci_hi
    assert r.ci_lo <= r.boot_mean <= r.ci_hi
    # CI width is a few standard errors, not degenerate, not huge
    o = [x.o_totalprice for x in table(spark, SF_SMOKE, "orders").collect()]
    se = (sum((v - sum(o) / len(o)) ** 2 for v in o) / (len(o) - 1)) ** 0.5 / math.sqrt(
        len(o)
    )
    assert 1.0 * se < (r.ci_hi - r.ci_lo) < 8.0 * se


def test_poisson_cdf_matches_closed_form():
    e1 = math.exp(-1)
    acc, fact = 0.0, 1
    for i, t in enumerate(_POIS_CDF):
        if i:
            fact *= i
        acc += e1 / fact
        assert abs(t - acc) < 1e-15


def test_ab_test_matches_python(spark):
    r = ab_test_proportions(spark, SF_SMOKE).collect()[0]
    rows = table(spark, SF_SMOKE, "orders").collect()
    arm = {
        _AB_A: [x for x in rows if x.o_orderpriority == _AB_A],
        _AB_B: [x for x in rows if x.o_orderpriority == _AB_B],
    }
    n1, n2 = len(arm[_AB_A]), len(arm[_AB_B])
    x1 = sum(1 for x in arm[_AB_A] if x.o_orderstatus == "F")
    x2 = sum(1 for x in arm[_AB_B] if x.o_orderstatus == "F")
    assert (r.n1, r.x1, r.n2, r.x2) == (n1, x1, n2, x2)
    p1, p2 = x1 / n1, x2 / n2
    pp = (x1 + x2) / (n1 + n2)
    z = (p1 - p2) / math.sqrt(pp * (1 - pp) * (1 / n1 + 1 / n2))
    assert abs(r.z - z) < 1e-3
    assert r.ci_lo <= r.diff <= r.ci_hi


def _py_harmonic(edges):
    adj = defaultdict(set)
    for s, t in edges:
        adj[s].add(t)
    out = {}
    for v in adj:
        dist = {v: 0}
        frontier = [v]
        while frontier:
            nxt = []
            for u in frontier:
                for w in adj[u]:
                    if w not in dist:
                        dist[w] = dist[u] + 1
                        nxt.append(w)
            frontier = nxt
        out[v] = sum(round(1.0 / d, 6) for u, d in dist.items() if u != v)
    return out


def test_harmonic_matches_python_bfs(spark):
    from waterbear_spark.queries.graph import _und_edges

    edges = [(r.src, r.dst) for r in _und_edges(spark, SF_SMOKE).collect()]
    expect = _py_harmonic(edges)
    got = {r.node: r for r in harmonic_centrality(spark, SF_SMOKE).collect()}
    assert set(got) == set(expect)
    for node, h in expect.items():
        # the operator truncates at _HC_ROUNDS hops; the nation graph's
        # diameter is within that, so values must match exactly
        assert abs(got[node].harmonic - h) < 1e-6


def test_containment_matches_brute_force_on_reported_pairs(spark):
    rows = table(spark, SF_SMOKE, "documents").select("doc_id", "text").collect()
    shingles = {}
    for r in rows:
        toks = [t for t in r.text.lower().split() if t]
        if len(toks) >= 3:
            shingles[r.doc_id] = {
                " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
            }
    got = containment_join(spark, SF_SMOKE).collect()
    assert got
    for r in got:
        a, b = shingles[r.da], shingles[r.db]
        inter = len(a & b)
        assert r.n_inter == inter
        assert r.sz_a == len(a)
        assert abs(r.containment - inter / len(a)) < 1e-6
        assert r.containment >= _CT_MIN


def test_decile_lift_conservation(spark):
    got = decile_lift_table(spark, SF_SMOKE).collect()
    assert len(got) == _LIFT_K
    n_orders = table(spark, SF_SMOKE, "orders").count()
    assert sum(r.n for r in got) == n_orders
    # deciles are balanced within 1 row
    sizes = [r.n for r in got]
    assert max(sizes) - min(sizes) <= 1
    # cumulative gain is monotone in rank order and ends at 1
    ordered = sorted(got, key=lambda r: -r.decile)
    gains = [r.cum_gain for r in ordered]
    assert gains == sorted(gains)
    assert abs(gains[-1] - 1.0) < 1e-9
    # lift averages to ~1 weighted by n
    total_pos = sum(r.pos for r in got)
    base = total_pos / n_orders
    wavg = sum(r.rate * r.n for r in got) / n_orders
    assert abs(wavg - base) < 1e-6
