"""Semantic invariants for the round-3 wave-8 operators. Oracle
equality runs in scripts/graft.py oracle; these pin the definitions —
a pure-Python union-find replica of cell-DBSCAN, the backtest's
no-future-leakage law, triple/pair Apriori monotonicity, trigram mass
conservation, and the late-arrival census against a replayed timeline."""

from collections import Counter, defaultdict

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from waterbear_spark.queries.tables import table
from waterbear_spark.queries.wave8 import (
    _DB_CELL,
    _DB_MINPTS,
    _RO_WINDOW,
    event_trigrams,
    frequent_triples,
    grid_dbscan,
    late_arrival_census,
    rolling_origin_backtest,
)

SF_MID = SF_SMOKE.replace("sf0.001", "sf0.01")


def test_grid_dbscan_matches_union_find(spark):
    from waterbear_spark.queries.relational_more import _pseudo_coord

    # sf0.01: the smoke scale has no dense cells (empty result is the
    # oracle-checked answer there)
    pts = table(spark, SF_MID, "customer").select(
        (_pseudo_coord(F.col("c_custkey"), "gx|") / _DB_CELL)
        .cast("bigint")
        .alias("cx"),
        (_pseudo_coord(F.col("c_custkey"), "gy|") / _DB_CELL)
        .cast("bigint")
        .alias("cy"),
    )
    counts = Counter((r.cx, r.cy) for r in pts.collect())
    core = {c for c, n in counts.items() if n >= _DB_MINPTS}
    parent = {c: c for c in core}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for (cx, cy) in core:
        for dx in (-1, 0, 1):
            for dy in (-1, 0, 1):
                nb = (cx + dx, cy + dy)
                if nb in core:
                    ra, rb = find((cx, cy)), find(nb)
                    if ra != rb:
                        parent[max(ra, rb)] = min(ra, rb)
    clusters = defaultdict(lambda: [0, 0])
    for c in core:
        root = find(c)
        clusters[root][0] += 1
        clusters[root][1] += counts[c]
    got = grid_dbscan(spark, SF_MID).collect()
    assert len(got) == len(clusters)
    assert sorted((r.n_cells, r.n_points) for r in got) == sorted(
        (v[0], v[1]) for v in clusters.values()
    )
    # bounding boxes contain their cells
    for r in got:
        assert r.min_cx <= r.max_cx and r.min_cy <= r.max_cy


def test_rolling_origin_never_leaks_future(spark):
    import pandas as pd

    got = rolling_origin_backtest(spark, SF_SMOKE).collect()[0]
    o = table(spark, SF_SMOKE, "orders").select(
        "o_orderdate", "o_totalprice"
    ).toPandas()
    o["day"] = o["o_orderdate"].dt.floor("D")
    daily = o.groupby("day")["o_totalprice"].sum().sort_index()
    fcst = daily.shift(1).rolling(_RO_WINDOW).mean()
    mask = fcst.notna()
    err = daily[mask] - fcst[mask]
    assert got.n_origins == int(mask.sum())
    assert abs(got.mae - err.abs().mean()) < 0.05
    assert abs(got.bias - err.mean()) < 0.05
    assert abs(got.mape_pct - (err.abs() / daily[mask]).mean() * 100) < 0.05


def test_frequent_triples_apriori_monotone(spark):
    from waterbear_spark.queries.mining import itemset_pair_lift

    triples = frequent_triples(spark, SF_SMOKE).collect()
    li = (
        table(spark, SF_SMOKE, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .collect()
    )
    baskets = defaultdict(set)
    for r in li:
        baskets[r.l_orderkey].add(r.l_partkey)
    pair_count = Counter()
    triple_count = Counter()
    from itertools import combinations

    for items in baskets.values():
        s = sorted(items)
        for p in combinations(s, 2):
            pair_count[p] += 1
        for t in combinations(s, 3):
            triple_count[t] += 1
    for r in triples:
        t = (r.pa, r.pb, r.pc)
        assert triple_count[t] == r.n_orders
        # Apriori: a triple's support never exceeds any sub-pair's
        assert r.n_orders <= pair_count[(r.pa, r.pb)]
        assert r.n_orders <= pair_count[(r.pb, r.pc)]
        assert r.n_orders <= pair_count[(r.pa, r.pc)]
    # top-k floor: no unreported triple beats the cutoff
    if triples:
        cutoff = min(r.n_orders for r in triples)
        better = sum(1 for v in triple_count.values() if v > cutoff)
        assert better <= len(triples)


def test_event_trigrams_mass(spark):
    got = event_trigrams(spark, SF_SMOKE).collect()
    ev = table(spark, SF_SMOKE, "events").collect()
    per_user = Counter(r.user_id for r in ev)
    total_trigrams = sum(max(0, n - 2) for n in per_user.values())
    assert sum(r.n for r in got) <= total_trigrams
    assert all(r.n >= 1 for r in got)
    counts = [r.n for r in got]
    assert counts == sorted(counts, reverse=True)


def test_late_arrival_census_matches_replay(spark):
    got = {r.event_type: r for r in late_arrival_census(spark, SF_SMOKE).collect()}
    ev = sorted(
        table(spark, SF_SMOKE, "events").collect(), key=lambda r: r.event_id
    )
    seen_max = {}
    stats = defaultdict(lambda: [0, 0, 0, 0])  # n, n_late, sum_us, max_us
    for r in ev:
        s = stats[r.event_type]
        s[0] += 1
        prev = seen_max.get(r.user_id)
        if prev is not None and r.ts < prev:
            late_us = int((prev - r.ts).total_seconds() * 1e6)
            s[1] += 1
            s[2] += late_us
            s[3] = max(s[3], late_us)
        if prev is None or r.ts > prev:
            seen_max[r.user_id] = r.ts
    assert set(got) == set(stats)
    for et, (n, n_late, sum_us, max_us) in stats.items():
        assert got[et].n == n
        assert got[et].n_late == n_late
        if n_late:
            assert abs(got[et].avg_lateness_sec - sum_us / n_late / 1e6) < 1e-3
            assert abs(got[et].max_lateness_sec - max_us / 1e6) < 1e-3
