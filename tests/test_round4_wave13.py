"""Wave-13 operator coherence: planted-data and pure-Python replays
(the DuckDB differential runs via scripts/graft.py oracle)."""

import math
from collections import defaultdict

from tests.conftest import SF_SMOKE
from waterbear_spark.queries import wave13
from waterbear_spark.queries.graph import und_edges_weighted
from waterbear_spark.queries.tables import table


def test_weighted_sssp_matches_dijkstra_replay(spark):
    got = {
        r["node"]: r["d"] for r in wave13.weighted_sssp(spark, SF_SMOKE).collect()
    }
    edges = defaultdict(list)
    nodes = set()
    for r in und_edges_weighted(spark, SF_SMOKE).collect():
        edges[r["src"]].append((r["dst"], r["w"]))
        nodes.add(r["src"])
    src = min(nodes)
    import heapq

    dist = {src: 0}
    pq = [(0, src)]
    while pq:
        d, u = heapq.heappop(pq)
        if d > dist.get(u, math.inf):
            continue
        for v, w in edges[u]:
            nd = d + w
            if nd < dist.get(v, math.inf):
                dist[v] = nd
                heapq.heappush(pq, (nd, v))
    assert got == dist


def test_weighted_sssp_converges_past_any_fixed_round_count(spark, tmp_path):
    # a long weighted path: BF needs one round per hop — 12 hops would
    # silently truncate under any small fixed round count
    import pyspark.sql.functions as F

    n = 13
    rows = []
    for i in range(n - 1):
        rows.append((f"N{i:02d}", f"N{i + 1:02d}", 1))
        rows.append((f"N{i + 1:02d}", f"N{i:02d}", 1))
    df = spark.createDataFrame(rows, "src string, dst string, w int")

    import waterbear_spark.queries.wave13 as w13

    orig = w13.und_edges_weighted
    try:
        w13.und_edges_weighted = lambda spark_, sf_: df
        got = {r["node"]: r["d"] for r in w13.weighted_sssp(spark, "unused").collect()}
    finally:
        w13.und_edges_weighted = orig
    assert got == {f"N{i:02d}": i for i in range(n)}


def test_graph_jaccard_bounds_and_symmetry(spark):
    rows = wave13.graph_jaccard_links(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r["a"] < r["b"]
        assert 0.0 < r["jaccard"] <= 1.0
    scores = [r["jaccard"] for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_wilcoxon_matches_scipy_free_replay(spark):
    got = wave13.wilcoxon_signed_rank(spark, SF_SMOKE).collect()[0]
    per = defaultdict(lambda: [None, None])
    for r in table(spark, SF_SMOKE, "orders").collect():
        cents = round(r.o_totalprice * 100)
        k = 0 if str(r.o_orderdate) < "1996-01-01" else 1
        cur = per[r.o_custkey][k]
        per[r.o_custkey][k] = cents if cur is None else cur + cents
    diffs = [
        b - a for a, b in per.values() if a is not None and b is not None and a != b
    ]
    n = len(diffs)
    assert got["n_pairs"] == n
    # average ranks of |diff|
    by_abs = sorted(range(n), key=lambda i: abs(diffs[i]))
    ranks = [0.0] * n
    i = 0
    while i < n:
        j = i
        while j < n and abs(diffs[by_abs[j]]) == abs(diffs[by_abs[i]]):
            j += 1
        avg = (i + 1 + j) / 2.0
        for k in range(i, j):
            ranks[by_abs[k]] = avg
        i = j
    w_plus = sum(r for r, d in zip(ranks, diffs) if d > 0)
    assert abs(got["w_plus"] - w_plus) < 1e-9
    ties = defaultdict(int)
    for d in diffs:
        ties[abs(d)] += 1
    tie_sum = sum(t**3 - t for t in ties.values())
    var = n * (n + 1) * (2 * n + 1) / 24.0 - tie_sum / 48.0
    z = (w_plus - n * (n + 1) / 4.0) / math.sqrt(var)
    assert abs(got["z_score"] - round(z, 6)) < 1e-9


def test_interval_coverage_replay(spark):
    got = {
        r["user_id"]: (r["n_islands"], r["covered_us"])
        for r in wave13.interval_coverage_user(spark, SF_SMOKE).collect()
    }
    import datetime

    epoch = datetime.datetime(1970, 1, 1)
    per = defaultdict(list)
    for r in table(spark, SF_SMOKE, "events").collect():
        # wall-clock micros (NTZ semantics) — NOT .timestamp(), which
        # would apply the machine's local timezone
        s = int((r.ts - epoch).total_seconds() * 1_000_000)
        per[r.user_id].append((s, s + (r.event_id % 30 + 1) * 60_000_000))
    for uid, ivals in per.items():
        ivals.sort()
        islands = []
        for s, e in ivals:
            if islands and s <= islands[-1][1]:
                islands[-1][1] = max(islands[-1][1], e)
            else:
                islands.append([s, e])
        covered = sum(e - s for s, e in islands)
        assert got[uid] == (len(islands), covered), uid


def test_cramers_v_range(spark):
    r = wave13.cramers_v_lang_source(spark, SF_SMOKE).collect()[0]
    assert 0.0 <= r["cramers_v"] <= 1.0
    assert r["chi2"] >= 0.0
    assert r["dof"] >= 1


def test_rendezvous_moves_about_one_eleventh(spark):
    rows = wave13.rendezvous_sharding(spark, SF_SMOKE).collect()
    n = sum(r["n_at_10"] for r in rows)
    assert sum(r["n_at_11"] for r in rows) == n
    stayed = sum(r["n_stayed"] for r in rows)
    moved = n - stayed
    # HRW guarantee: only keys whose argmax becomes the NEW shard move,
    # and those all land on shard 10
    shard10 = next(r for r in rows if r["shard"] == 10)
    assert shard10["n_at_10"] == 0
    assert shard10["n_stayed"] == 0
    assert moved == shard10["n_at_11"]
    # expected n/11 — generous tolerance for a 500-doc sample
    assert moved < n / 4


def test_typo_pairs_found_on_planted_corpus(spark, tmp_path):
    docs = [
        (1, "the quick brown fox jumps"),
        (2, "the quikc brown fox jumps"),  # transposition: lev 2, excluded
        (3, "the quickk brown fox jumps"),  # insertion: lev 1
        (4, "the qick brown fox jumps"),  # deletion: lev 1
        (5, "the quack brown fox jumps"),  # substitution: lev 1
        (6, "totally different words here"),
    ]
    sf = str(tmp_path)
    spark.createDataFrame(docs, "doc_id long, text string").write.parquet(
        f"{sf}/documents.parquet"
    )
    rows = wave13.typo_dedup_vocab(spark, sf).collect()
    pairs = {(r["w1"], r["w2"]) for r in rows}
    assert ("quick", "quickk") in pairs
    assert ("qick", "quick") in pairs
    assert ("quack", "quick") in pairs
    assert ("quick", "quikc") not in pairs  # lev 2 must not appear
    for r in rows:
        assert r["w1"] < r["w2"]


def test_dow_mad_replay(spark):
    got = {
        r["dow"]: (r["n_days"], r["median_cents"], r["mad_cents"], r["n_anomalies"])
        for r in wave13.dow_mad_anomalies(spark, SF_SMOKE).collect()
    }
    daily = defaultdict(int)
    for r in table(spark, SF_SMOKE, "orders").collect():
        day = str(r.o_orderdate)[:10]
        daily[day] += round(r.o_totalprice * 100)
    import datetime

    by_dow = defaultdict(list)
    for day, v in daily.items():
        d = datetime.date.fromisoformat(day)
        by_dow[(d - datetime.date(1970, 1, 1)).days % 7].append(v)

    def med(xs):
        xs = sorted(xs)
        n = len(xs)
        return (xs[(n - 1) // 2] + xs[n // 2]) / 2.0

    for dow, vals in by_dow.items():
        m = med(vals)
        mad = med([abs(v - m) for v in vals])
        anoms = sum(1 for v in vals if abs(v - m) > 3 * mad)
        assert got[dow] == (len(vals), m, mad, anoms), dow
