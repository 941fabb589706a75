"""Behavioral-analytics operators: funnel, cohort, concurrency sweep,
deterministic reservoir sample, label propagation. Exact oracle equality
runs in scripts/graft.py oracle; these tests guard the semantic and
plan-shape invariants."""

from tests.conftest import SF_SMOKE
from waterbear_spark.queries.behavior import (
    _RESERVOIR_K,
    cohort_retention,
    funnel_conversion,
    interval_peak_concurrency,
    reservoir_sample_orders,
)
from waterbear_spark.queries.graph import label_propagation_communities


def test_funnel_is_monotone(spark):
    rows = funnel_conversion(spark, SF_SMOKE).collect()
    counts = [r.n_users for r in sorted(rows, key=lambda r: r.stage)]
    assert len(counts) == 3
    assert counts == sorted(counts, reverse=True), "later stages can't gain users"
    assert counts[0] > 0


def test_cohort_offsets_are_nonnegative(spark):
    rows = cohort_retention(spark, SF_SMOKE).collect()
    assert rows, "cohort table is empty"
    assert all(r.week_no >= 0 for r in rows), "activity can't precede the cohort"
    # week 0 of each cohort contains every user of that cohort, so it is
    # the cohort's max
    by_cohort = {}
    for r in rows:
        by_cohort.setdefault(r.cohort_week, []).append(r)
    for members in by_cohort.values():
        week0 = [r.n_active for r in members if r.week_no == 0]
        assert week0 and week0[0] == max(r.n_active for r in members)


def test_peak_concurrency_bounds(spark):
    rows = interval_peak_concurrency(spark, SF_SMOKE).collect()
    assert {r.event_type for r in rows} >= {"view", "click"}
    # a peak is at least 1 (every event overlaps itself) and at most the
    # per-type event count
    from waterbear_spark.queries.tables import table

    totals = {
        r.event_type: r.n
        for r in table(spark, SF_SMOKE, "events")
        .groupBy("event_type")
        .count()
        .withColumnRenamed("count", "n")
        .collect()
    }
    for r in rows:
        assert 1 <= r.peak_concurrency <= totals[r.event_type]


def test_reservoir_sample_is_deterministic_topk(spark):
    df = reservoir_sample_orders(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # bottom-k must plan as TakeOrdered (per-partition heaps, no global
    # sort-shuffle of the full table)
    assert "TakeOrderedAndProject" in plan
    a = [r.o_orderkey for r in df.collect()]
    b = [r.o_orderkey for r in reservoir_sample_orders(spark, SF_SMOKE).collect()]
    assert a == b
    assert len(a) == _RESERVOIR_K
    assert len(set(a)) == _RESERVOIR_K


def test_label_propagation_partitions_all_nodes(spark):
    rows = label_propagation_communities(spark, SF_SMOKE).collect()
    assert rows
    # every node ends with exactly one label: community sizes sum to the
    # node count of the top-edge graph (25 nations at most)
    total = sum(r.n_members for r in rows)
    assert 2 <= total <= 25
    assert all(r.n_members >= 1 for r in rows)


def test_transition_probabilities_sum_to_one(spark):
    from waterbear_spark.queries.behavior import event_transition_matrix

    rows = event_transition_matrix(spark, SF_SMOKE).collect()
    by_src = {}
    for r in rows:
        by_src.setdefault(r.event_type, 0.0)
        by_src[r.event_type] += r.p
    for src, total in by_src.items():
        assert abs(total - 1.0) < 1e-4, f"{src} probabilities sum to {total}"


def test_anomalous_days_are_per_type_extremes(spark):
    from waterbear_spark.queries.behavior import anomalous_days

    rows = anomalous_days(spark, SF_SMOKE).collect()
    by_type = {}
    for r in rows:
        by_type.setdefault(r.event_type, []).append(r)
    for members in by_type.values():
        assert len(members) == 3
        assert all(r.z is not None for r in members)


def test_fuzzy_join_pairs_are_canonical(spark):
    from waterbear_spark.queries.textops import _FUZZY_MAX_DIST, fuzzy_join_parts

    rows = fuzzy_join_parts(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r.name_a < r.name_b
        assert 1 <= r.dist <= _FUZZY_MAX_DIST


def test_ols_fit_is_sane(spark):
    from waterbear_spark.queries.relational_ext import ols_quantity_price

    (row,) = ols_quantity_price(spark, SF_SMOKE).collect()
    assert row.n > 0
    assert -1.0 <= row.r <= 1.0
    # slope and correlation share a sign (both are cov/var-scaled)
    assert (row.slope > 0) == (row.r > 0)


def test_skyline_has_no_dominated_points(spark):
    from waterbear_spark.queries.behavior import skyline_orders

    rows = skyline_orders(spark, SF_SMOKE).collect()
    assert rows
    pts = [(r.day, r.o_totalprice) for r in rows]
    for d1, p1 in pts:
        assert not any(
            d2 < d1 and p2 > p1 for d2, p2 in pts
        ), f"({d1},{p1}) is dominated"


def test_twap_lies_within_value_range(spark):
    from waterbear_spark.queries.behavior import time_weighted_avg
    from waterbear_spark.queries.tables import table

    import pyspark.sql.functions as F

    rows = time_weighted_avg(spark, SF_SMOKE).collect()
    bounds = {
        r.event_type: (r.lo, r.hi)
        for r in table(spark, SF_SMOKE, "events")
        .groupBy("event_type")
        .agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
        .collect()
    }
    assert rows
    for r in rows:
        lo, hi = bounds[r.event_type]
        assert lo - 1e-9 <= r.twap <= hi + 1e-9
        assert r.n_intervals > 0


def test_weighted_median_is_within_price_range(spark):
    import pyspark.sql.functions as F

    from waterbear_spark.queries.relational_ext import weighted_median_price
    from waterbear_spark.queries.tables import table

    rows = weighted_median_price(spark, SF_SMOKE).collect()
    bounds = {
        r.l_returnflag: (r.lo, r.hi)
        for r in table(spark, SF_SMOKE, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.min("l_extendedprice").alias("lo"), F.max("l_extendedprice").alias("hi"))
        .collect()
    }
    assert rows
    for r in rows:
        lo, hi = bounds[r.l_returnflag]
        assert lo <= r.weighted_median <= hi
        assert r.total_weight > 0


def test_equidepth_buckets_are_balanced_and_ordered(spark):
    from waterbear_spark.queries.relational_ext import (
        _NTILE_BUCKETS,
        equidepth_histogram,
    )

    rows = sorted(equidepth_histogram(spark, SF_SMOKE).collect(), key=lambda r: r.bucket)
    assert [r.bucket for r in rows] == list(range(1, _NTILE_BUCKETS + 1))
    counts = [r.n for r in rows]
    assert max(counts) - min(counts) <= 1, "equi-depth buckets must balance"
    for prev, nxt in zip(rows, rows[1:]):
        assert prev.hi <= nxt.lo


def test_gapfill_spine_is_complete_and_locf_monotone(spark):
    from waterbear_spark.queries.behavior import gapfill_locf_daily

    rows = gapfill_locf_daily(spark, SF_SMOKE).collect()
    by_type = {}
    for r in rows:
        by_type.setdefault(r.event_type, []).append(r)
    sizes = {len(v) for v in by_type.values()}
    assert len(sizes) == 1, "every type must cover the same full date spine"
    for members in by_type.values():
        members.sort(key=lambda r: r.day)
        # consecutive days, no holes
        for prev, nxt in zip(members, members[1:]):
            assert (nxt.day - prev.day).days == 1
        # once a value appears it never becomes NULL again (LOCF)
        seen = False
        for r in members:
            if r.value_locf is not None:
                seen = True
            assert not (seen and r.value_locf is None)
        assert any(r.n_events > 0 for r in members)


def test_bfs_distances_are_triangle_consistent(spark):
    from waterbear_spark.queries.graph import bfs_shortest_paths

    rows = bfs_shortest_paths(spark, SF_SMOKE).collect()
    assert rows
    dists = [r.d for r in rows]
    assert dists.count(0) == 1, "exactly one source"
    # BFS levels are contiguous: if level k is populated, so is k-1
    for k in range(1, max(dists) + 1):
        if k in dists:
            assert (k - 1) in dists


def test_key_islands_are_disjoint_and_maximal(spark):
    from waterbear_spark.queries.relational_ext import key_islands

    rows = sorted(key_islands(spark, SF_SMOKE).collect(), key=lambda r: r.island_start)
    assert rows
    for r in rows:
        assert r.island_end - r.island_start + 1 == r.n_keys, "island must be contiguous"
    for prev, nxt in zip(rows, rows[1:]):
        assert prev.island_end + 1 < nxt.island_start, "islands must be separated by gaps"


def test_downsample_minmax_ties_pick_earliest(spark, tmp_path):
    """Crafted value ties inside one frame: BOTH extremes must resolve to
    the earliest (ts, event_id) — the max side diverged from the oracle
    before (max_by on (v, ts, id) picks the LATEST tie). Verified against
    the committed DuckDB SQL, not just a hand-computed expectation."""
    import datetime as dt

    import duckdb

    from waterbear_spark.queries import behavior

    def t(minute):
        return dt.datetime(2024, 1, 1, 0, minute)

    rows = [
        # (event_id, ts, user_id, event_type, value, props) — one 6h frame:
        # max value 9.0 duplicated at 00:10 and 00:40; min 1.0 at 00:20/00:05
        (1, t(10), 1, "view", 9.0, "{}"),
        (2, t(40), 1, "view", 9.0, "{}"),
        (3, t(20), 1, "view", 1.0, "{}"),
        (4, t(5), 1, "view", 1.0, "{}"),
        (5, t(30), 1, "view", 5.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long, "
        "event_type string, value double, props string"
    )
    sf = str(tmp_path)
    df.coalesce(1).write.parquet(f"{sf}/events.parquet")

    got = {
        (r.event_type,): (r.min_ts, r.max_ts, r.min_value, r.max_value)
        for r in behavior.downsample_minmax(spark, sf).collect()
    }
    assert got[("view",)][0] == t(5), "min tie must pick earliest ts"
    assert got[("view",)][1] == t(10), "max tie must pick earliest ts"

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{sf}/events.parquet/*.parquet'"
    )
    oracle = con.execute(behavior._DOWNSAMPLE_SQL).fetchall()
    con.close()
    assert [(r[4], r[6], r[3], r[5]) for r in oracle] == [
        got[("view",)]
    ], "spark and oracle must agree on tie-broken extremes"


def test_time_to_convert_is_consistent_with_funnel(spark):
    from waterbear_spark.queries.behavior import (
        funnel_conversion,
        funnel_time_to_convert,
    )

    (row,) = funnel_time_to_convert(spark, SF_SMOKE).collect()
    stage3 = {
        r.stage: r.n_users for r in funnel_conversion(spark, SF_SMOKE).collect()
    }[3]
    assert row.n_converted == stage3, "latency population == stage-3 users"
    assert 0 <= row.p50_seconds <= row.p90_seconds


def test_band_join_has_no_nested_loop(spark):
    from waterbear_spark.queries.relational_ext import band_join_orders

    df = band_join_orders(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    rows = df.collect()
    assert rows and all(r.n_pairs > 0 for r in rows)


def test_winsorized_mean_is_between_bounds(spark):
    import pyspark.sql.functions as F

    from waterbear_spark.queries.relational_ext import winsorized_mean_price
    from waterbear_spark.queries.tables import table

    rows = winsorized_mean_price(spark, SF_SMOKE).collect()
    bounds = {
        r.o_orderstatus: (r.lo, r.hi)
        for r in table(spark, SF_SMOKE, "orders")
        .groupBy("o_orderstatus")
        .agg(F.min("o_totalprice").alias("lo"), F.max("o_totalprice").alias("hi"))
        .collect()
    }
    for r in rows:
        lo, hi = bounds[r.o_orderstatus]
        assert lo <= r.winsorized_mean <= hi


def test_correlation_matrix_values_are_valid(spark):
    from waterbear_spark.queries.relational_ext import correlation_matrix

    rows = correlation_matrix(spark, SF_SMOKE).collect()
    assert len(rows) == 3
    assert {(r.col_a, r.col_b) for r in rows} == {
        ("qty", "price"),
        ("qty", "disc"),
        ("price", "disc"),
    }
    assert all(-1.0 <= r.r <= 1.0 for r in rows)


def test_top_event_paths_are_deterministic_and_bounded(spark):
    from waterbear_spark.queries.behavior import _PATH_TOP, top_event_paths

    a = [(r.path, r.n) for r in top_event_paths(spark, SF_SMOKE).collect()]
    b = [(r.path, r.n) for r in top_event_paths(spark, SF_SMOKE).collect()]
    assert a == b, "path mining must be deterministic despite collect_list"
    assert 0 < len(a) <= _PATH_TOP
    counts = [n for _, n in a]
    assert counts == sorted(counts, reverse=True)
    assert all(set(p.split(">")) <= {"view", "click", "purchase", "signup", "error"}
               for p, _ in a)


def test_null_safe_join_matches_null_bucket(spark):
    from waterbear_spark.queries.behavior import null_safe_join_buckets

    rows = null_safe_join_buckets(spark, SF_SMOKE).collect()
    buckets = [r.bucket for r in rows]
    assert None in buckets, "the NULL bucket must survive the null-safe join"
    for r in rows:
        assert 0 < r.n_view <= r.n_all
