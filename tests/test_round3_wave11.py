"""Semantic invariants for the round-3 wave-11 operators. Oracle
equality runs in scripts/graft.py oracle; these pin the statistics —
percentiles against numpy-free sorted picks, bipartite verdict against a
pure-Python 2-coloring, Neyman budget conservation + optimality
direction, and ANOVA/Welch against textbook recomputations."""

import math
from collections import defaultdict

from tests.conftest import SF_SMOKE
from waterbear_spark.queries.tables import table
from waterbear_spark.queries.wave11 import (
    _NEY_BUDGET,
    _SLA_QS,
    _WT_A,
    _WT_B,
    anova_oneway_dow,
    bipartite_check,
    neyman_allocation,
    percentile_sla_by_type,
    welch_ttest_segments,
)


def test_percentiles_match_sorted_pick(spark):
    got = {r.event_type: r for r in percentile_sla_by_type(spark, SF_SMOKE).collect()}
    ev = table(spark, SF_SMOKE, "events").collect()
    by_type = defaultdict(list)
    for e in ev:
        by_type[e.event_type].append(round(e.value * 100))
    assert set(got) == set(by_type)
    for et, vals in by_type.items():
        vals.sort()
        assert got[et].n == len(vals)
        for q in _SLA_QS:
            rank = math.ceil(len(vals) * q / 100.0)
            expect = vals[rank - 1] / 100.0
            assert abs(getattr(got[et], f"p{q}") - expect) < 1e-9
    # SLA sanity: percentiles are monotone
    for r in got.values():
        assert r.p50 <= r.p90 <= r.p99


def test_bipartite_matches_python_coloring(spark):
    from waterbear_spark.queries.graph import _und_edges

    edges = [(r.src, r.dst) for r in _und_edges(spark, SF_SMOKE).collect()]
    adj = defaultdict(set)
    for s, t in edges:
        adj[s].add(t)
    start = min(adj)
    color = {start: 0}
    frontier = [start]
    while frontier:
        nxt = []
        for u in frontier:
            for v in adj[u]:
                if v not in color:
                    color[v] = color[u] ^ 1
                    nxt.append(v)
        frontier = nxt
    conflicts = sum(
        1 for s, t in edges if s in color and t in color and color[s] == color[t]
    )
    r = bipartite_check(spark, SF_SMOKE).collect()[0]
    assert r.n_nodes == len(adj)
    assert r.n_reached == len(color)
    assert r.n_conflicts == conflicts // 2
    assert r.is_bipartite == (conflicts == 0)


def test_neyman_budget_and_optimality_direction(spark):
    got = neyman_allocation(spark, SF_SMOKE).collect()
    # accounting identity: the apportionment spends the budget exactly;
    # only a binding n_pop cap (flagged per row) may leave surplus unspent
    assert all(r.n_sample <= r.n_pop for r in got)
    assert all(r.n_sample == r.n_pop for r in got if r.capped)
    if not any(r.capped for r in got):
        assert sum(r.n_sample for r in got) == _NEY_BUDGET
    else:
        assert sum(r.n_sample for r in got) < _NEY_BUDGET
    # allocation ordering follows N*sigma ordering (Neyman direction),
    # modulo the n_pop cap
    uncapped = [r for r in got if r.n_sample < r.n_pop]
    weights = [(r.n_pop * r.sigma, r.n_sample) for r in uncapped]
    weights.sort()
    samples = [s for _, s in weights]
    assert all(a <= b + 1 for a, b in zip(samples, samples[1:]))


def test_anova_matches_python(spark):
    rows = table(spark, SF_SMOKE, "orders").collect()
    groups = defaultdict(list)
    for r in rows:
        # Spark dayofweek: 1=Sunday..7
        dow = (r.o_orderdate.weekday() + 1) % 7 + 1
        groups[dow].append(round(r.o_totalprice * 100))
    k = len(groups)
    n = sum(len(v) for v in groups.values())
    grand = sum(sum(v) for v in groups.values()) / n
    ssb = sum(len(v) * (sum(v) / len(v) - grand) ** 2 for v in groups.values())
    ssw = sum(
        sum((x - sum(v) / len(v)) ** 2 for x in v) for v in groups.values()
    )
    f = (ssb / (k - 1)) / (ssw / (n - k))
    got = anova_oneway_dow(spark, SF_SMOKE).collect()[0]
    assert got.n_groups == k and got.n == n
    assert abs(got.ss_between - ssb / 1e4) / (ssb / 1e4) < 1e-6
    assert abs(got.ss_within - ssw / 1e4) / (ssw / 1e4) < 1e-6
    assert abs(got.f_stat - f) < 1e-4


def test_welch_matches_python(spark):
    orders = table(spark, SF_SMOKE, "orders").collect()
    seg = {
        r.c_custkey: r.c_mktsegment
        for r in table(spark, SF_SMOKE, "customer").collect()
    }
    a = [
        r.o_totalprice for r in orders if seg.get(r.o_custkey) == _WT_A
    ]
    b = [
        r.o_totalprice for r in orders if seg.get(r.o_custkey) == _WT_B
    ]

    def stats(xs):
        m = sum(xs) / len(xs)
        v = sum((x - m) ** 2 for x in xs) / (len(xs) - 1)
        return m, v / len(xs)

    ma, va = stats(a)
    mb, vb = stats(b)
    t = (ma - mb) / math.sqrt(va + vb)
    df = (va + vb) ** 2 / (va * va / (len(a) - 1) + vb * vb / (len(b) - 1))
    got = welch_ttest_segments(spark, SF_SMOKE).collect()[0]
    assert (got.n_a, got.n_b) == (len(a), len(b))
    assert abs(got.mean_a - ma) < 0.01 and abs(got.mean_b - mb) < 0.01
    assert abs(got.t_stat - t) < 1e-3
    assert abs(got.df_welch - df) / df < 1e-3
