"""Semantic invariants for the round-3 wave-10 operators. Oracle
equality runs in scripts/graft.py oracle; these pin the semantics —
l-diversity gate laws, triangle inequality and replay for trajectories,
the join-size identity against a Python join, backoff-vs-bigram score
ordering, and RRF's fusion arithmetic."""

import math
from collections import Counter, defaultdict

from tests.conftest import SF_SMOKE
from waterbear_spark.queries.tables import table
from waterbear_spark.queries.wave10 import (
    _BB_BACKOFF,
    _LD_K,
    _LD_L,
    _RRF_K,
    bigram_backoff_perplexity,
    join_size_product_sum,
    ldiversity_release,
    rrf_fusion,
    trajectory_length,
)


def test_ldiversity_gate_laws(spark):
    got = ldiversity_release(spark, SF_SMOKE).collect()
    cust = table(spark, SF_SMOKE, "customer").collect()
    n_name = {
        r.n_nationkey: r.n_name
        for r in table(spark, SF_SMOKE, "nation").collect()
    }
    groups = defaultdict(list)
    for c in cust:
        groups[(n_name[c.c_nationkey], c.c_mktsegment)].append(
            math.floor(c.c_acctbal / 1000.0)
        )
    released = {
        k
        for k, v in groups.items()
        if len(v) >= _LD_K and len(set(v)) >= _LD_L
    }
    assert {(r.nation, r.segment) for r in got} == released
    failed_k = sum(1 for v in groups.values() if len(v) < _LD_K)
    failed_l = sum(
        1 for v in groups.values() if len(v) >= _LD_K and len(set(v)) < _LD_L
    )
    for r in got:
        assert r.n >= _LD_K and r.n_sensitive >= _LD_L
        assert r.n_failed_k == failed_k and r.n_failed_l == failed_l


def test_trajectory_matches_python_replay(spark):
    from waterbear_spark.queries.wave3 import _pseudo_deg
    from pyspark.sql import functions as F

    got = {r.user_id: r for r in trajectory_length(spark, SF_SMOKE).collect()}
    pts = (
        table(spark, SF_SMOKE, "events")
        .select(
            "user_id",
            "ts",
            "event_id",
            _pseudo_deg(F.col("event_id"), "elat|", 180).alias("lat"),
            _pseudo_deg(F.col("event_id"), "elon|", 360).alias("lon"),
        )
        .collect()
    )
    by_user = defaultdict(list)
    for p in pts:
        by_user[p.user_id].append(p)
    for uid, r in got.items():
        seq = sorted(by_user[uid], key=lambda p: (p.ts, p.event_id))
        total = 0.0
        for a, b in zip(seq, seq[1:]):
            d = (
                2
                * 6371.0
                * math.asin(
                    math.sqrt(
                        math.sin(math.radians(b.lat - a.lat) / 2) ** 2
                        + math.cos(math.radians(a.lat))
                        * math.cos(math.radians(b.lat))
                        * math.sin(math.radians(b.lon - a.lon) / 2) ** 2
                    )
                )
            )
            total += round(d, 6)
        assert r.n_points == len(seq)
        assert r.n_segments == len(seq) - 1
        assert abs(r.total_km - total) < 1e-2


def test_join_size_identity(spark):
    r = join_size_product_sum(spark, SF_SMOKE).collect()[0]
    assert r.identity_holds
    ev = Counter(
        x.user_id for x in table(spark, SF_SMOKE, "events").collect()
    )
    o = Counter(
        x.o_custkey for x in table(spark, SF_SMOKE, "orders").collect()
    )
    pred = sum(ev[k] * o[k] for k in ev.keys() & o.keys())
    assert r.predicted_rows == pred == r.actual_rows
    assert r.n_common_keys == len(ev.keys() & o.keys())
    assert 0 < r.top_key_share <= 1


def test_backoff_scores_below_seen_bigrams(spark):
    """Every reported doc's mean log-prob must be <= 0, the held-out
    construction must reproduce in Python on the worst doc, and the
    backoff branch must actually execute (the model is fit on the train
    split, so held-out docs contain unseen bigrams)."""
    import hashlib

    got = bigram_backoff_perplexity(spark, SF_SMOKE).collect()
    assert got and all(r.mean_lp < 0 for r in got)
    # unreachable-branch guard: at least one reported doc hit backoff
    assert any(r.n_backoff > 0 for r in got)

    def is_train(doc_id):
        h = hashlib.md5(f"split|{doc_id}".encode()).hexdigest()
        return int(h[:15], 16) % 100 < 80

    docs = {
        r.doc_id: [t for t in r.text.lower().split() if t]
        for r in table(spark, SF_SMOKE, "documents").collect()
    }
    train = {d: ts for d, ts in docs.items() if is_train(d)}
    uni = Counter(t for ts in train.values() for t in ts)
    total = sum(uni.values())
    big = Counter(
        (ts[i], ts[i + 1])
        for ts in train.values()
        if len(ts) >= 2
        for i in range(len(ts) - 1)
    )
    worst = got[0]
    assert not is_train(worst.doc_id)
    ts = docs[worst.doc_id]
    lp, n_backoff, n_oov = 0, 0, 0
    for i in range(len(ts) - 1):
        pair = (ts[i], ts[i + 1])
        if pair in big:
            lp += math.floor(math.log(big[pair] / uni[ts[i]]) * 1e6)
        elif ts[i + 1] in uni:
            n_backoff += 1
            lp += math.floor(math.log(_BB_BACKOFF * uni[ts[i + 1]] / total) * 1e6)
        else:
            n_backoff += 1
            n_oov += 1
            lp += math.floor(math.log(_BB_BACKOFF / total) * 1e6)
    assert worst.n_bigrams == len(ts) - 1
    assert worst.n_backoff == n_backoff
    assert worst.n_oov == n_oov
    assert abs(worst.mean_lp - lp / (len(ts) - 1) / 1e6) < 1e-5


def test_rrf_fusion_arithmetic(spark):
    got = rrf_fusion(spark, SF_SMOKE).collect()
    assert got
    for r in got:
        expect = 0.0
        if r.rank_a is not None:
            expect += 1.0 / (_RRF_K + r.rank_a)
        if r.rank_b is not None:
            expect += 1.0 / (_RRF_K + r.rank_b)
        assert abs(r.rrf_score - expect) < 1e-8
        assert r.rank_a is not None or r.rank_b is not None
    scores = [r.rrf_score for r in got]
    assert scores == sorted(scores, reverse=True)
    # a doc on BOTH lists at rank 1 would dominate: check the top row is
    # at least as good as any single-list doc's best possible score
    assert got[0].rrf_score >= 1.0 / (_RRF_K + 1) - 1e-8 or (
        got[0].rank_a is not None and got[0].rank_b is not None
    )
