"""Semantic invariants for the round-3 wave-5 operators. Exact oracle
equality runs in scripts/graft.py oracle; these tests pin the properties
equality can't explain — pure-Python ray casting and RAKE scoring, the
shrinkage direction law of the target encoder, MASE recomputation, and
the KMV estimator's error bound / undersaturation-exactness."""

import math
import re
from collections import defaultdict

from tests.conftest import SF_SMOKE
from waterbear_spark.queries.tables import table
from waterbear_spark.queries.wave3 import _pseudo_deg
from waterbear_spark.queries.wave5 import (
    _KMV_K,
    _POLY,
    _RAKE_MAX_PHRASE,
    _RAKE_STOP,
    _TE_M,
    kmv_set_ops,
    mase_forecast_accuracy,
    point_in_polygon,
    rake_keywords,
    target_encoding,
)


def test_target_encoding_shrinks_toward_prior(spark):
    rows = target_encoding(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        raw = r.pos / r.n
        # enc lies strictly between the raw rate and the prior
        lo, hi = sorted((raw, r.prior))
        assert lo - 1e-9 <= r.enc <= hi + 1e-9
        # recompute the m-estimate directly
        expect = (r.pos + _TE_M * r.prior) / (r.n + _TE_M)
        assert abs(r.enc - expect) < 1e-5
        assert abs(r.shrinkage - (raw - expect)) < 1e-5


def _py_inside(px, py):
    crossings = 0
    for (x1, y1), (x2, y2) in zip(_POLY, _POLY[1:] + _POLY[:1]):
        if (y1 > py) != (y2 > py):
            if px < (x2 - x1) * (py - y1) / (y2 - y1) + x1:
                crossings += 1
    return crossings % 2 == 1


def test_point_in_polygon_matches_python_ray_cast(spark):
    from pyspark.sql import functions as F

    c = table(spark, SF_SMOKE, "customer")
    pts = c.select(
        "c_nationkey",
        _pseudo_deg(F.col("c_custkey"), "lat|", 180).alias("lat"),
        _pseudo_deg(F.col("c_custkey"), "lon|", 360).alias("lon"),
    ).collect()
    n_name = {
        r.n_nationkey: r.n_name
        for r in table(spark, SF_SMOKE, "nation").collect()
    }
    expect = defaultdict(lambda: [0, 0])
    for r in pts:
        s = expect[n_name[r.c_nationkey]]
        s[0] += 1
        s[1] += _py_inside(r.lon, r.lat)
    got = {r.n_name: r for r in point_in_polygon(spark, SF_SMOKE).collect()}
    assert set(got) == set(expect)
    for name, (n, inside) in expect.items():
        assert got[name].n_customers == n
        assert got[name].n_inside == inside


def _py_rake(texts):
    stop_re = re.compile(r"\b(" + "|".join(_RAKE_STOP) + r")\b")
    phrases = []
    for t in texts:
        blob = stop_re.sub("|", re.sub(r"[^a-z0-9 ]+", "|", t.lower()))
        for raw in re.split(r"\|+", blob):
            p = re.sub(r" +", " ", raw).strip()
            if p and 2 <= len(p.split()) <= _RAKE_MAX_PHRASE:
                phrases.append(p)
    freq, degree = defaultdict(int), defaultdict(int)
    for p in phrases:
        ws = p.split()
        for w in ws:
            freq[w] += 1
            degree[w] += len(ws)
    wscore = {w: round(degree[w] / freq[w], 6) for w in freq}
    scores = {}
    for p in set(phrases):
        scores[p] = round(sum(wscore[w] for w in p.split()), 6)
    return scores


def test_rake_matches_python_reimplementation(spark):
    texts = [
        r.text for r in table(spark, SF_SMOKE, "documents").select("text").collect()
    ]
    scores = _py_rake(texts)
    got = rake_keywords(spark, SF_SMOKE).collect()
    assert got
    for r in got:
        assert r.phrase in scores
        assert abs(r.score - scores[r.phrase]) < 1e-4
    # top-k really is the top: no unreturned phrase beats the cutoff
    cutoff = min(r.score for r in got)
    better = sum(1 for s in scores.values() if s > cutoff + 1e-4)
    assert better <= len(got)


def test_mase_matches_pandas(spark):
    import pandas as pd

    o = table(spark, SF_SMOKE, "orders").select(
        "o_orderpriority", "o_orderdate", "o_totalprice"
    )
    pdf = o.toPandas()
    pdf["day"] = pdf["o_orderdate"].dt.floor("D")
    got = {
        r.o_orderpriority: r
        for r in mase_forecast_accuracy(spark, SF_SMOKE).collect()
    }
    for prio, g in pdf.groupby("o_orderpriority"):
        daily = g.groupby("day")["o_totalprice"].sum().sort_index()
        e_model = (daily - daily.shift(7)).abs().dropna()
        e_naive = (daily - daily.shift(1)).abs().dropna()
        expect = e_model.mean() / e_naive.mean()
        assert abs(got[prio].mase - expect) < 1e-3
        assert got[prio].n_model == len(e_model)
        assert got[prio].n_naive == len(e_naive)


def test_kmv_error_bound_and_undersaturation_exactness(spark):
    r = kmv_set_ops(spark, SF_SMOKE).collect()[0]
    # KMV relative standard error is ~1/sqrt(k-2); allow 6 sigma
    tol = 6.0 / math.sqrt(_KMV_K - 2)
    for est, exact in [
        (r.est_a, r.exact_a),
        (r.est_b, r.exact_b),
        (r.est_union, r.exact_union),
        (r.est_inter, r.exact_inter),
    ]:
        if exact == 0:
            assert est == 0
            continue
        assert abs(est - exact) / exact <= tol
        # an undersaturated sketch (n < k) holds the whole set: exact
        # (est_inter is rho * est_union, so allow its 2-decimal rounding)
        if exact < _KMV_K:
            assert abs(est - exact) < 0.011
    assert 0.0 <= r.jaccard_est <= 1.0
    # inclusion-exclusion coherence of the exact side
    assert r.exact_union == r.exact_a + r.exact_b - r.exact_inter
