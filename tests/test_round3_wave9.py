"""Semantic invariants for the round-3 wave-9 operators. Oracle
equality (byte-identical SQL for the surface trio) runs in
scripts/graft.py oracle; these pin the semantics — multiset identities
for INTERSECT/EXCEPT ALL, FILTER-vs-CASE equivalence, calibration
conservation laws, and a pure-Python Holt-Winters recurrence replay."""

from collections import Counter

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from waterbear_spark.queries.tables import table
from waterbear_spark.queries.wave9 import (
    _CAL_BINS,
    _HW_ALPHA,
    _HW_BETA,
    _HW_GAMMA,
    _HW_M,
    calibration_brier,
    filter_clause_aggs,
    group_order_by_all,
    holt_winters_seasonal,
    set_ops_all,
)


def test_filter_clause_equals_case_when(spark):
    got = {r.o_orderpriority: r for r in filter_clause_aggs(spark, SF_SMOKE).collect()}
    rows = table(spark, SF_SMOKE, "orders").collect()
    by_prio = Counter(r.o_orderpriority for r in rows)
    for prio, n in by_prio.items():
        grp = [r for r in rows if r.o_orderpriority == prio]
        assert got[prio].n == n
        assert got[prio].n_finished == sum(
            1 for r in grp if r.o_orderstatus == "F"
        )
        assert got[prio].n_big == sum(1 for r in grp if r.o_totalprice > 200000)
        opens = [r.o_totalprice for r in grp if r.o_orderstatus == "O"]
        if opens:
            assert abs(got[prio].max_open - max(opens)) < 1e-9


def test_set_ops_all_multiset_identities(spark):
    got = {r.op: r for r in set_ops_all(spark, SF_SMOKE).collect()}
    rows = table(spark, SF_SMOKE, "orders").collect()
    f = Counter(r.o_custkey for r in rows if r.o_orderstatus == "F")
    o = Counter(r.o_custkey for r in rows if r.o_orderstatus == "O")
    inter = sum(min(f[k], o[k]) for k in f.keys() & o.keys())
    exc = sum(max(0, f[k] - o[k]) for k in f)
    assert got["intersect_all"].n == inter
    assert got["except_all"].n == exc
    # |F| = |F EXCEPT ALL O| + |F INTERSECT ALL O| (bag identity)
    assert sum(f.values()) == exc + inter


def test_group_by_all_covers_grid(spark):
    got = group_order_by_all(spark, SF_SMOKE).collect()
    rows = table(spark, SF_SMOKE, "orders").collect()
    grid = Counter((r.o_orderpriority, r.o_orderstatus) for r in rows)
    assert len(got) == len(grid)
    assert sum(r.n for r in got) == len(rows)
    keys = [(r.o_orderpriority, r.o_orderstatus, r.n, r.revenue) for r in got]
    assert keys == sorted(keys)  # ORDER BY ALL


def test_calibration_conservation(spark):
    got = calibration_brier(spark, SF_SMOKE).collect()
    assert len(got) == _CAL_BINS
    n_orders = table(spark, SF_SMOKE, "orders").count()
    assert sum(r.n for r in got) == n_orders
    assert len({r.brier_total for r in got}) == 1
    # overall Brier is the n-weighted mean of the per-bin Briers
    wavg = sum(r.brier_bin * r.n for r in got) / n_orders
    assert abs(got[0].brier_total - wavg) < 1e-4
    for r in got:
        assert abs(r.gap - (r.obs_rate - r.p_hat)) < 1e-5
        assert 0.0 <= r.p_hat <= 1.0 and 0.0 <= r.obs_rate <= 1.0


def test_holt_winters_matches_python_recurrence(spark):
    import pandas as pd

    o = table(spark, SF_SMOKE, "orders").select(
        "o_orderdate", "o_totalprice"
    ).toPandas()
    o["day"] = o["o_orderdate"].dt.floor("D")
    from decimal import Decimal

    daily = (
        o.assign(d=o["o_totalprice"].map(lambda v: Decimal(str(round(v, 6)))))
        .groupby("day")["d"]
        .sum()
        .sort_index()
        .map(lambda d: float(round(d, 2)))
    )
    xs = list(daily)
    assert len(xs) >= 2 * _HW_M
    l = sum(xs[:_HW_M]) / 7.0
    b = (xs[6] - xs[0]) / 6.0
    s = [x - l for x in xs[:_HW_M]]
    for x in xs[_HW_M:]:
        l_new = _HW_ALPHA * (x - s[0]) + (1 - _HW_ALPHA) * (l + b)
        b_new = _HW_BETA * (l_new - l) + (1 - _HW_BETA) * b
        s_new = _HW_GAMMA * (x - (l + b)) + (1 - _HW_GAMMA) * s[0]
        s = s[1:] + [s_new]
        l, b = l_new, b_new
    got = sorted(holt_winters_seasonal(spark, SF_SMOKE).collect(), key=lambda r: r.h)
    assert len(got) == _HW_M
    for r in got:
        assert abs(r.level - l) < 1e-3
        assert abs(r.trend - b) < 1e-3
        assert abs(r.seasonal - s[r.h - 1]) < 1e-3
        assert abs(r.forecast - (l + r.h * b + s[r.h - 1])) < 1e-3
