"""Semantic invariants for the round-3 wave-2 operators (retrieval,
mining, time-series additions). Exact oracle equality runs in
scripts/graft.py oracle; these tests pin the properties equality alone
wouldn't explain — independent reimplementations (pure-Python BM25 and
sorted-neighborhood), conservation laws (decomposition re-adds,
CUSUM telescoping), and bracketing bounds (interpolation)."""

import math
from collections import Counter

from tests.conftest import SF_SMOKE
from waterbear_spark.queries.mining import (
    _SN_MAX_DIST,
    _SN_WINDOW,
    itemset_pair_lift,
    sorted_neighborhood_pairs,
)
from waterbear_spark.queries.retrieval import (
    _BM25_B,
    _BM25_K1,
    _BM25_QUERY,
    _BM25_TOPK,
    _POSTINGS_CAP,
    bm25_search,
    inverted_index_postings,
)
from waterbear_spark.queries.tables import table
from waterbear_spark.queries.timeseries import (
    _CUSUM_FRAC,
    cusum_changepoints,
    gapfill_interpolate_daily,
    stl_decompose_daily,
)


def _doc_tokens(spark):
    rows = table(spark, SF_SMOKE, "documents").select("doc_id", "text").collect()
    return {r.doc_id: [t for t in r.text.lower().split() if t] for r in rows}


def test_bm25_matches_pure_python(spark):
    docs = _doc_tokens(spark)
    n = len(docs)
    avgdl = sum(len(t) for t in docs.values()) / n
    df = Counter(t for toks in docs.values() for t in set(toks) if t in _BM25_QUERY)
    scores = {}
    for doc_id, toks in docs.items():
        tf = Counter(t for t in toks if t in _BM25_QUERY)
        s = 0.0
        for term, f in tf.items():
            idf = math.log(1.0 + (n - df[term] + 0.5) / (df[term] + 0.5))
            denom = f + _BM25_K1 * (1.0 - _BM25_B + _BM25_B * len(toks) / avgdl)
            s += round(idf * f * (_BM25_K1 + 1) / denom, 6)
        if tf:
            scores[doc_id] = round(s, 4)
    expect = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:_BM25_TOPK]
    got = [(r.doc_id, r.score) for r in bm25_search(spark, SF_SMOKE).collect()]
    assert got == expect


def test_inverted_index_postings_shape(spark):
    docs = _doc_tokens(spark)
    rows = inverted_index_postings(spark, SF_SMOKE).collect()
    by_term = {r.term: r for r in rows}
    # every corpus term appears; df == docs containing it; postings are
    # sorted, capped, and prefixed by the true smallest doc ids
    expect_df = Counter(t for toks in docs.values() for t in set(toks))
    assert set(by_term) == set(expect_df)
    for term, r in by_term.items():
        assert r.df == expect_df[term]
        # postings serialized to one comma-joined string (driver-hashable)
        plist = r.postings.split(",")
        assert plist == sorted(plist)
        assert len(plist) == min(r.df, _POSTINGS_CAP)
        # spot-verify first posting: doc id and 1-based first position
        doc_str, pos_str = plist[0].split(":")
        doc_id, pos = int(doc_str), int(pos_str)
        assert docs[doc_id][pos - 1] == term
        assert term not in docs[doc_id][: pos - 1]


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


def test_sorted_neighborhood_matches_brute_force(spark):
    parts = sorted(
        (r.p_name, r.p_partkey)
        for r in table(spark, SF_SMOKE, "part").collect()
    )
    expect = set()
    for i, (name_a, key_a) in enumerate(parts):
        for j in range(i + 1, min(i + 1 + _SN_WINDOW, len(parts))):
            name_b, key_b = parts[j]
            if _lev(name_a, name_b) <= _SN_MAX_DIST:
                expect.add((key_a, key_b, j - i))
    got = {
        (r.key_a, r.key_b, r.rank_gap)
        for r in sorted_neighborhood_pairs(spark, SF_SMOKE).collect()
    }
    assert got == expect


def test_itemset_pair_lift_consistency(spark):
    li = {
        (r.l_orderkey, r.l_partkey)
        for r in table(spark, SF_SMOKE, "lineitem")
        .select("l_orderkey", "l_partkey")
        .collect()
    }
    n_orders = len({o for o, _ in li})
    item = Counter(p for _, p in li)
    rows = itemset_pair_lift(spark, SF_SMOKE).collect()
    assert rows, "empty pair mining output"
    for r in rows:
        assert r.n_a == item[r.pa] and r.n_b == item[r.pb]
        assert r.n_pair <= min(r.n_a, r.n_b)
        assert math.isclose(
            r.lift, round(r.n_pair * n_orders / (r.n_a * r.n_b), 4), abs_tol=1e-9
        )
        assert math.isclose(
            r.support, round(r.n_pair / n_orders, 6), abs_tol=1e-9
        )
    # top-k really is the head: a pair outside the result can't beat the
    # weakest returned support count
    if len(rows) == 20:
        counts = Counter()
        by_order = {}
        for o, p in li:
            by_order.setdefault(o, []).append(p)
        for ps in by_order.values():
            ps = sorted(ps)
            for i, a in enumerate(ps):
                for b in ps[i + 1 :]:
                    counts[(a, b)] += 1
        returned = {(r.pa, r.pb) for r in rows}
        floor = min(r.n_pair for r in rows)
        for pair, c in counts.items():
            if pair not in returned:
                assert c <= floor


def test_cusum_telescopes_and_flags(spark):
    rows = cusum_changepoints(spark, SF_SMOKE).collect()
    by_type = {}
    for r in rows:
        by_type.setdefault(r.event_type, []).append(r)
    for etype, series in by_type.items():
        series.sort(key=lambda r: r.day)
        # final CUSUM telescopes to sum(x) - n*mean; mean is rounded to
        # 1e-6 so the residue is bounded by n * 0.5e-6 (plus display
        # rounding of the cusum itself)
        assert abs(series[-1].cusum) <= len(series) * 0.5e-6 + 0.005 + 1e-9, etype
        # flags must be monotone in |cusum| against one per-type threshold:
        # no flagged row may sit strictly inside an unflagged row's band
        flagged = [abs(r.cusum) for r in series if r.shift_flag]
        clear = [abs(r.cusum) for r in series if not r.shift_flag]
        if flagged and clear:
            assert min(flagged) >= max(clear) - 0.01, etype


def test_stl_components_readd(spark):
    rows = stl_decompose_daily(spark, SF_SMOKE).collect()
    assert rows, "empty decomposition"
    dows = set()
    for r in rows:
        assert math.isclose(
            r.revenue,
            round(r.trend + r.seasonal + r.residual, 2),
            abs_tol=0.02,  # three 1e-6-rounded components + 2dp display
        ), r.day
        dows.add(r.dow)
    assert dows <= set(range(1, 8))
    # seasonal is a per-dow constant
    per_dow = {}
    for r in rows:
        per_dow.setdefault(r.dow, set()).add(r.seasonal)
    assert all(len(v) == 1 for v in per_dow.values())


def test_gapfill_interpolation_brackets(spark):
    from pyspark.sql import functions as F

    daily = {
        (r.event_type, r.day): r.avg
        for r in table(spark, SF_SMOKE, "events")
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.avg("value").alias("avg"))
        .collect()
    }
    rows = gapfill_interpolate_daily(spark, SF_SMOKE).collect()
    by_type = {}
    for r in rows:
        by_type.setdefault(r.event_type, []).append(r)
    for etype, series in by_type.items():
        series.sort(key=lambda r: r.day)
        obs_days = [r.day for r in series if (etype, r.day) in daily]
        assert obs_days, etype
        first_obs, last_obs = min(obs_days), max(obs_days)
        for r in series:
            if (etype, r.day) in daily:
                assert math.isclose(
                    r.value_interp, daily[(etype, r.day)], abs_tol=5e-6
                )
            elif r.day < first_obs or r.day > last_obs:
                assert r.value_interp is None
            else:
                prev = max(d for d in obs_days if d < r.day)
                nxt = min(d for d in obs_days if d > r.day)
                lo = min(daily[(etype, prev)], daily[(etype, nxt)])
                hi = max(daily[(etype, prev)], daily[(etype, nxt)])
                assert lo - 5e-6 <= r.value_interp <= hi + 5e-6


def test_benford_shares_and_total(spark):
    import math as m

    from pyspark.sql import functions as F

    from waterbear_spark.queries.quality_queries import benford_first_digit

    rows = benford_first_digit(spark, SF_SMOKE).collect()
    n_pos = (
        table(spark, SF_SMOKE, "orders").filter(F.col("o_totalprice") > 0).count()
    )
    assert sum(r.n for r in rows) == n_pos
    assert {r.digit for r in rows} <= set(range(1, 10))
    assert m.isclose(sum(r.obs_share for r in rows), 1.0, abs_tol=1e-4)
    for r in rows:
        assert m.isclose(
            r.benford_share, round(m.log10(1 + 1 / r.digit), 6), abs_tol=1e-9
        )
        assert r.chi2_term >= 0


def test_holt_matches_pure_python(spark):
    import math as m

    from pyspark.sql import functions as F

    from waterbear_spark.queries.tables import dsum
    from waterbear_spark.queries.timeseries import (
        _HOLT_ALPHA,
        _HOLT_BETA,
        _HOLT_HORIZON,
        holt_linear_forecast,
    )

    got = {r.event_type: r for r in holt_linear_forecast(spark, SF_SMOKE).collect()}
    daily = (
        table(spark, SF_SMOKE, "events")
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(dsum(F.col("value"), "rev"))
        .collect()
    )
    series = {}
    for r in daily:
        series.setdefault(r.event_type, []).append((r.day, r.rev))
    for etype, pts in series.items():
        vals = [v for _, v in sorted(pts)]
        if len(vals) < 2:
            assert etype not in got
            continue
        a, be = _HOLT_ALPHA, _HOLT_BETA
        lvl, b = vals[0], vals[1] - vals[0]
        for x in vals[1:]:
            nl = a * x + (1 - a) * (lvl + b)
            b = be * (nl - lvl) + (1 - be) * b
            lvl = nl
        r = got[etype]
        assert r.n_days == len(vals)
        assert m.isclose(r.level, round(lvl, 4), abs_tol=1e-9), etype
        assert m.isclose(r.trend, round(b, 4), abs_tol=1e-9), etype
        assert m.isclose(
            r.forecast, round(lvl + _HOLT_HORIZON * b, 4), abs_tol=1e-9
        ), etype


def test_interval_overlap_conserves_session_seconds(spark):
    from pyspark.sql import functions as F

    from waterbear_spark.queries.relational_ext import sessionize_events
    from waterbear_spark.queries.timeseries import interval_bucket_overlap

    buckets = interval_bucket_overlap(spark, SF_SMOKE).collect()
    total_busy = sum(r.busy_sec for r in buckets)
    total_duration = (
        sessionize_events(spark, SF_SMOKE)
        .agg(F.sum("duration_sec").alias("d"))
        .collect()[0]
        .d
    )
    # splitting intervals across buckets must neither create nor lose time
    assert total_busy == total_duration
    # bucket occupancy can never exceed capacity: n_sessions * 3600
    for r in buckets:
        assert 0 <= r.busy_sec <= r.n_sessions * 3600


def test_zipf_matches_numpy_ols(spark):
    import math as m

    import numpy as np

    from waterbear_spark.queries.corpusprep import zipf_fit_tokens

    docs = _doc_tokens(spark)
    freqs = Counter(t for toks in docs.values() for t in toks)
    ranked = sorted(freqs.items(), key=lambda kv: (-kv[1], kv[0]))
    x = np.log(np.arange(1, len(ranked) + 1, dtype=float))
    y = np.log(np.array([n for _, n in ranked], dtype=float))
    slope, intercept = np.polyfit(x, y, 1)
    r = zipf_fit_tokens(spark, SF_SMOKE).collect()[0]
    assert r.n_terms == len(ranked)
    assert m.isclose(r.zipf_slope, slope, abs_tol=1e-3)
    assert m.isclose(r.intercept, intercept, abs_tol=1e-3)
    # natural-ish corpus: slope is negative and meaningfully so
    assert r.zipf_slope < -0.1


def test_er_golden_records_matches_union_find(spark):
    from waterbear_spark.queries.mining import _ER_MAX_DIST, er_golden_records

    rows = table(spark, SF_SMOKE, "part").collect()
    parts = sorted((r.p_name, r.p_partkey) for r in rows)
    price = {r.p_partkey: r.p_retailprice for r in rows}
    name = {r.p_partkey: r.p_name for r in rows}
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for i, (name_a, key_a) in enumerate(parts):
        for j in range(i + 1, min(i + 1 + _SN_WINDOW, len(parts))):
            name_b, key_b = parts[j]
            if _lev(name_a, name_b) <= _ER_MAX_DIST:
                union(key_a, key_b)
    clusters = {}
    for k in parent:
        clusters.setdefault(find(k), []).append(k)
    expect = {}
    for root, members in clusters.items():
        cid = min(members)
        golden = min(members, key=lambda k: (-price[k], k))
        expect[cid] = (
            len(members),
            golden,
            name[golden],
            round(price[golden], 2),
            round(max(price[k] for k in members) - min(price[k] for k in members), 2),
        )
    got = {
        r.cluster_id: (
            r.n_members,
            r.golden_key,
            r.golden_name,
            r.golden_price,
            r.price_spread,
        )
        for r in er_golden_records(spark, SF_SMOKE).collect()
    }
    assert got == expect


def test_rolling_median_matches_pandas(spark):
    from pyspark.sql import functions as F

    from waterbear_spark.queries.tables import dsum
    from waterbear_spark.queries.timeseries import (
        _MED_WINDOW,
        rolling_median_revenue,
    )

    daily = (
        table(spark, SF_SMOKE, "events")
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(dsum(F.col("value"), "rev"))
        .collect()
    )
    series = {}
    for r in daily:
        series.setdefault(r.event_type, []).append((r.day, r.rev))
    got = {}
    for r in rolling_median_revenue(spark, SF_SMOKE).collect():
        got[(r.event_type, r.day)] = r.median_7d
    n_expected = 0
    for etype, pts in series.items():
        vals = [v for _, v in sorted(pts)]
        days = [d for d, _ in sorted(pts)]
        for i in range(_MED_WINDOW - 1, len(vals)):
            window = sorted(vals[i - _MED_WINDOW + 1 : i + 1])
            n_expected += 1
            assert got[(etype, days[i])] == window[_MED_WINDOW // 2]
    assert len(got) == n_expected


def test_theil_sen_matches_numpy(spark):
    import math as m

    import numpy as np
    from pyspark.sql import functions as F

    from waterbear_spark.queries.tables import DEC
    from waterbear_spark.queries.timeseries import theil_sen_revenue_trend

    daily = (
        table(spark, SF_SMOKE, "orders")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(
            (F.sum(F.col("o_totalprice").cast(DEC)) * 100)
            .cast("decimal(19,0)")
            .cast("bigint")
            .alias("cents")
        )
        .collect()
    )
    pts = sorted((r.day, r.cents) for r in daily)
    slopes = []
    for i in range(len(pts)):
        for j in range(i + 1, len(pts)):
            dd = (pts[j][0] - pts[i][0]).days
            slopes.append((pts[j][1] - pts[i][1]) / dd)
    r = theil_sen_revenue_trend(spark, SF_SMOKE).collect()[0]
    assert r.n_pairs == len(slopes)
    assert m.isclose(
        r.ts_slope_per_day, round(float(np.median(slopes)) / 100.0, 4), abs_tol=1e-9
    )


def test_ks_stat_matches_pure_python(spark):
    import math as m

    from waterbear_spark.queries.quality_queries import (
        _KS_CRIT,
        ks_test_order_status,
    )

    rows = table(spark, SF_SMOKE, "orders").collect()
    f = sorted(round(r.o_totalprice * 100) for r in rows if r.o_orderstatus == "F")
    o = sorted(round(r.o_totalprice * 100) for r in rows if r.o_orderstatus == "O")
    n1, n2 = len(f), len(o)
    values = sorted(set(f) | set(o))
    import bisect

    d = max(
        abs(bisect.bisect_right(f, v) * n2 - bisect.bisect_right(o, v) * n1)
        for v in values
    )
    r = ks_test_order_status(spark, SF_SMOKE).collect()[0]
    assert (r.n_finished, r.n_open) == (n1, n2)
    assert m.isclose(r.ks_stat, round(d / (n1 * n2), 6), abs_tol=1e-9)
    crit = _KS_CRIT * m.sqrt((n1 + n2) / (n1 * n2))
    assert r.distributions_differ == (d / (n1 * n2) > crit)


def test_gini_matches_pure_python(spark):
    import math as m

    from pyspark.sql import functions as F

    from waterbear_spark.queries.behavior import gini_customer_revenue
    from waterbear_spark.queries.tables import DEC

    cents = [
        r.c
        for r in table(spark, SF_SMOKE, "orders")
        .groupBy("o_custkey")
        .agg(
            (F.sum(F.col("o_totalprice").cast(DEC)) * 100)
            .cast("decimal(19,0)")
            .cast("bigint")
            .alias("c")
        )
        .collect()
    ]
    xs = sorted(cents)
    n, sx = len(xs), sum(xs)
    six = sum((i + 1) * x for i, x in enumerate(xs))
    expect = (2 * six - (n + 1) * sx) / (n * sx)
    r = gini_customer_revenue(spark, SF_SMOKE).collect()[0]
    assert r.n_customers == n and r.total_cents == sx
    assert m.isclose(r.gini, round(expect, 6), abs_tol=1e-9)
    assert 0.0 <= r.gini < 1.0


def test_scd2_snapshot_matches_pure_python(spark):
    from waterbear_spark.queries.timeseries import (
        _SNAPSHOT_AT,
        scd2_snapshot_at,
    )
    from datetime import datetime

    t = datetime.fromisoformat(_SNAPSHOT_AT)
    rows = table(spark, SF_SMOKE, "events").collect()
    by_user = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append((r.ts, r.event_id, r.event_type))
    expect = {}
    for uid, evs in by_user.items():
        evs.sort()
        # state changes: first event and every type flip
        state, since = None, None
        for ts, _, et in evs:
            if et != state:
                state, since = et, ts
            if ts > t:
                break
        # reconstruct state AS OF t: last change at or before t
        cur, cur_since = None, None
        prev_state = None
        for ts, _, et in evs:
            if et != prev_state:
                if ts <= t:
                    cur, cur_since = et, ts
                prev_state = et
        if cur is not None:
            n, ck, age = expect.get(cur, (0, 0, 0))
            expect[cur] = (
                n + 1,
                ck + uid,
                age + int((t - cur_since).total_seconds() * 1_000_000),
            )
    got = {
        r.event_type: (r.n_users, r.user_checksum, r.mean_age_us)
        for r in scd2_snapshot_at(spark, SF_SMOKE).collect()
    }
    assert set(got) == set(expect)
    for et, (n, ck, age_sum) in expect.items():
        assert got[et] == (n, ck, age_sum // n), et


def test_mannwhitney_matches_pure_python(spark):
    import math as m

    from waterbear_spark.queries.quality_queries import (
        _MW_CRIT,
        mannwhitney_order_status,
    )

    rows = table(spark, SF_SMOKE, "orders").collect()
    f = [round(r.o_totalprice * 100) for r in rows if r.o_orderstatus == "F"]
    o = [round(r.o_totalprice * 100) for r in rows if r.o_orderstatus == "O"]
    n1, n2 = len(f), len(o)
    pooled = sorted((v, 0) for v in f) + sorted((v, 1) for v in o)
    pooled.sort()
    # average ranks over tie runs
    r1 = 0.0
    i = 0
    vals = sorted(v for v, _ in pooled)
    from collections import Counter

    cnt = Counter(vals)
    cum = 0
    avg_rank = {}
    for v in sorted(cnt):
        c = cnt[v]
        avg_rank[v] = cum + (c + 1) / 2
        cum += c
    r1 = sum(avg_rank[v] for v in f)
    u1 = r1 - n1 * (n1 + 1) / 2
    tie = sum(c**3 - c for c in cnt.values())
    n = n1 + n2
    var = n1 * n2 / 12 * ((n + 1) - tie / (n * (n - 1)))
    z = (u1 - n1 * n2 / 2) / m.sqrt(var)
    got = mannwhitney_order_status(spark, SF_SMOKE).collect()[0]
    assert (got.n_finished, got.n_open) == (n1, n2)
    assert m.isclose(got.rank_sum_f, r1, abs_tol=1e-6)
    assert m.isclose(got.u_stat, round(u1, 1), abs_tol=1e-6)
    assert m.isclose(got.z_score, z, abs_tol=1e-4)
    assert got.location_shift == (abs(z) > _MW_CRIT)
