"""Semantic invariants for the round-3 operators (time-series,
relational extensions, corpus-prep). Exact oracle equality runs in
scripts/graft.py oracle; these tests pin the properties that equality
alone wouldn't explain — recurrence math vs an independent
implementation, closed-form vs brute-force equivalence, and census
conservation laws."""

import math

from tests.conftest import SF_SMOKE
from waterbear_spark.queries.corpusprep import (
    _INC_MOD,
    _PMI_MIN_COUNT,
    bigram_pmi,
    incremental_dedup_merge,
    lm_quality_score,
    mixing_water_fill,
)
from waterbear_spark.queries.relational_more import (
    _GRID_RADIUS2,
    _KANON_K,
    _pseudo_coord,
    bom_rollup_cost,
    grid_neighbor_join,
    kanon_suppressed_cube,
    mode_median_lineitem,
)
from waterbear_spark.queries.timeseries import (
    _EMA_ALPHA,
    ema_daily_revenue,
    rolling_distinct_users,
    scd2_intervals,
)


def test_rolling_distinct_ramps_then_dominates_daily(spark):
    from pyspark.sql import functions as F

    from waterbear_spark.queries.tables import table

    rows = {r.day: r.n_users_7d for r in rolling_distinct_users(spark, SF_SMOKE).collect()}
    daily = {
        r.day: r.n
        for r in table(spark, SF_SMOKE, "events")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert rows, "empty rolling output"
    first = min(daily)
    # day 1's trailing window contains only day 1
    assert rows[first] == daily[first]
    # every trailing-7d count dominates that day's own distinct count
    for day, n in daily.items():
        assert rows[day] >= n


def test_ema_matches_pandas_ewm(spark):
    import pandas as pd
    from pyspark.sql import functions as F

    from waterbear_spark.queries.tables import dsum, table

    got = {r.event_type: r.ema_revenue for r in ema_daily_revenue(spark, SF_SMOKE).collect()}
    daily = (
        table(spark, SF_SMOKE, "events")
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(dsum(F.col("value"), "rev"))
        .toPandas()
    )
    for etype, grp in daily.groupby("event_type"):
        series = grp.sort_values("day")["rev"]
        expect = series.ewm(alpha=_EMA_ALPHA, adjust=False).mean().iloc[-1]
        assert math.isclose(got[etype], expect, rel_tol=0, abs_tol=5e-5), etype


def test_scd2_census_conserves_users(spark):
    from pyspark.sql import functions as F

    from waterbear_spark.queries.tables import table

    rows = scd2_intervals(spark, SF_SMOKE).collect()
    n_users = (
        table(spark, SF_SMOKE, "events").select("user_id").distinct().count()
    )
    # exactly one open (current-state) interval per user
    assert sum(r.n_open for r in rows) == n_users
    # every user contributes >= 1 interval, durations are positive
    assert sum(r.n_intervals for r in rows) >= n_users
    assert all(r.mean_closed_us is None or r.mean_closed_us > 0 for r in rows)


def test_mode_count_satisfies_pigeonhole(spark):
    rows = mode_median_lineitem(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        # 12 possible months: the mode must hold at least a 1/12 share
        assert r.mode_count * 12 >= r.n_rows
        assert 1 <= r.mode_month <= 12


def test_kanon_suppression_is_complete(spark):
    rows = kanon_suppressed_cube(spark, SF_SMOKE).collect()
    assert rows, "everything suppressed at smoke scale?"
    assert all(r.n_custs >= _KANON_K for r in rows)
    n_suppressed = rows[0].n_suppressed
    assert all(r.n_suppressed == n_suppressed for r in rows)
    # kept + suppressed == all cube groups (2 keys -> 4 grouping sets)
    from pyspark.sql import functions as F

    from waterbear_spark.queries.tables import table

    cust = table(spark, SF_SMOKE, "customer")
    nation = table(spark, SF_SMOKE, "nation")
    joined = cust.join(nation, cust.c_nationkey == nation.n_nationkey)
    total_groups = (
        joined.cube("c_mktsegment", "n_name").agg(F.count(F.lit(1))).count()
    )
    assert len(rows) + n_suppressed == total_groups


def test_grid_neighbor_matches_brute_force(spark):
    from pyspark.sql import functions as F

    from waterbear_spark.queries.tables import table

    # sf0.001's handful of suppliers yields zero qualifying pairs; use
    # the oracle scale so the brute-force comparison is non-vacuous
    sf = SF_SMOKE.replace("sf0.001", "sf0.01")
    (census,) = grid_neighbor_join(spark, sf).collect()
    pts = (
        table(spark, sf, "supplier")
        .select(
            F.col("s_suppkey").alias("k"),
            _pseudo_coord(F.col("s_suppkey"), "gx|").alias("x"),
            _pseudo_coord(F.col("s_suppkey"), "gy|").alias("y"),
        )
        .collect()
    )
    brute = [
        (a.k, b.k)
        for i, a in enumerate(pts)
        for b in pts[i + 1 :]
        if (a.x - b.x) ** 2 + (a.y - b.y) ** 2 <= _GRID_RADIUS2
    ]
    brute = [(min(p), max(p)) for p in brute]
    assert census.n_pairs == len(brute)
    assert census.pair_checksum == sum(a + b for a, b in brute)


def test_bom_rollup_matches_python_closure(spark):
    from waterbear_spark.queries.tables import table

    parts = {
        r.p_partkey: r.p_retailprice
        for r in table(spark, SF_SMOKE, "part").collect()
    }
    subtree: dict[int, list[float]] = {}
    for k, cost in parts.items():
        node = k
        while node >= 1:
            subtree.setdefault(node, []).append(cost)
            node //= 10
    rows = bom_rollup_cost(spark, SF_SMOKE).collect()
    assert rows
    for r in rows[:5]:
        costs = subtree[r.p_partkey]
        assert r.n_desc == len(costs)
        assert math.isclose(r.subtree_cost, round(sum(costs), 2), abs_tol=0.02)


def test_lm_scores_are_log_probabilities(spark):
    rows = lm_quality_score(spark, SF_SMOKE).collect()
    assert rows
    # mean log-prob of a unigram LM is strictly negative and no lower
    # than ln(1/total_tokens)
    assert all(r.avg_logp < 0 for r in rows)
    assert all(r.n_tokens > 0 for r in rows)


def test_bigram_pmi_recomputes_from_counts(spark):
    from collections import Counter

    from pyspark.sql import functions as F

    from waterbear_spark.queries.llm import _tokens
    from waterbear_spark.queries.tables import table

    rows = bigram_pmi(spark, SF_SMOKE).collect()
    assert rows
    assert all(r.cxy >= _PMI_MIN_COUNT for r in rows)
    docs = (
        table(spark, SF_SMOKE, "documents")
        .select(_tokens(F.col("text")).alias("toks"))
        .collect()
    )
    uni: Counter = Counter()
    big: Counter = Counter()
    for d in docs:
        uni.update(d.toks)
        big.update(zip(d.toks, d.toks[1:]))
    nu, nb = sum(uni.values()), sum(big.values())
    top = rows[0]
    expect = math.log(
        (big[(top.w1, top.w2)] * nu * nu) / (nb * uni[top.w1] * uni[top.w2])
    )
    assert math.isclose(top.pmi, expect, abs_tol=1e-3)


def test_water_fill_exhausts_budget_within_k(spark):
    rows = mixing_water_fill(spark, SF_SMOKE).collect()
    assert rows
    budget = rows[0].budget
    allocated = sum(r.alloc_tokens for r in rows)
    # floor-level water filling: can't overshoot, and the slack is less
    # than one unit per at-level source
    assert allocated <= budget
    assert budget - allocated < len(rows)
    for r in rows:
        assert r.alloc_tokens == min(r.n_tokens, r.level)


def test_incremental_dedup_census_conserves(spark):
    from waterbear_spark.queries.tables import table

    (census,) = incremental_dedup_merge(spark, SF_SMOKE).collect()
    n_incoming = (
        table(spark, SF_SMOKE, "documents")
        .filter(f"doc_id % {_INC_MOD} = 0")
        .count()
    )
    assert census.n_incoming == n_incoming
    assert (
        census.n_exact_dropped + census.n_near_dropped + census.n_kept
        == census.n_incoming
    )
    assert census.n_kept > 0

def test_asof_forward_matches_naive(spark):
    """Forward as-of join with tolerance vs a naive per-row scan over the
    same data — nearest following order within 7 days, greatest orderkey
    on date ties."""
    import datetime as dt
    from collections import defaultdict

    from waterbear_spark.queries.relational_more import asof_next_order
    from waterbear_spark.queries.tables import table

    got = {
        r.event_id: (r.next_orderkey, r.next_orderdate)
        for r in asof_next_order(spark, SF_SMOKE).collect()
    }
    orders = defaultdict(list)
    for r in table(spark, SF_SMOKE, "orders").collect():
        orders[r.o_custkey].append((r.o_orderdate, r.o_orderkey))
    events = table(spark, SF_SMOKE, "events").collect()
    for e in events:
        cand = [
            (d, k)
            for d, k in orders.get(e.user_id, [])
            if e.ts <= d <= e.ts + dt.timedelta(days=7)
        ]
        expect = min(cand, key=lambda x: (x[0], -x[1])) if cand else None
        if expect is None:
            assert got[e.event_id] == (None, None), e.event_id
        else:
            assert got[e.event_id] == (expect[1], expect[0].date()), e.event_id


def test_chi2_is_nonnegative_with_consistent_dof(spark):
    from waterbear_spark.queries.quality_queries import chi2_lang_source

    (row,) = chi2_lang_source(spark, SF_SMOKE).collect()
    assert row.chi2 >= 0.0
    assert row.dof == (row.n_langs - 1) * (row.n_sources - 1)


def test_mad_outliers_are_a_minority(spark):
    from waterbear_spark.queries.quality_queries import mad_outlier_docs

    rows = mad_outlier_docs(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r.mad_chars >= 0.0
        # by construction at least half the docs sit within 1 MAD
        assert r.n_outliers <= r.n_docs / 2

def test_spearman_matches_pandas(spark):
    from waterbear_spark.queries.relational_more import spearman_price_quantity
    from waterbear_spark.queries.tables import table

    got = {
        r.l_returnflag: r.spearman_rho
        for r in spearman_price_quantity(spark, SF_SMOKE).collect()
    }
    pdf = (
        table(spark, SF_SMOKE, "lineitem")
        .select("l_returnflag", "l_extendedprice", "l_quantity")
        .toPandas()
    )
    for flag, grp in pdf.groupby("l_returnflag"):
        # rank-then-pearson == spearman (avoids the scipy dependency the
        # method="spearman" path would pull in)
        rx = grp["l_extendedprice"].rank(method="average")
        ry = grp["l_quantity"].rank(method="average")
        expect = rx.corr(ry)
        assert math.isclose(got[flag], expect, abs_tol=1e-6), flag


def test_yoy_growth_recomputes_from_revenue(spark):
    from collections import defaultdict

    from waterbear_spark.queries.relational_more import yoy_growth_nation

    rows = yoy_growth_nation(spark, SF_SMOKE).collect()
    assert rows
    by_nation = defaultdict(list)
    for r in rows:
        by_nation[r.n_name].append(r)
    for series in by_nation.values():
        series.sort(key=lambda r: r.yr)
        assert series[0].growth_bps is None, "first year has no prior"
        for prev, cur in zip(series, series[1:]):
            pc, cc = round(prev.revenue * 100), round(cur.revenue * 100)
            # integer-DIV semantics: truncation toward zero on exact cents
            q = (cc - pc) * 10000
            expect = q // pc if q >= 0 else -((-q) // pc)
            assert cur.growth_bps == expect, (cur.n_name, cur.yr)
