"""Semantic invariants for the round-3 wave-7 operators (model-eval and
linkage-calibration family). Oracle equality runs in
scripts/graft.py oracle; these pin the definitions themselves — AUC
against a brute-force pair count, PSI against a scipy-free
recomputation, DiD cell algebra, nDCG bounds and ideal-ordering, and
the Fellegi-Sunter m>u sanity for informative fields."""

import math
from collections import defaultdict

from tests.conftest import SF_SMOKE
from waterbear_spark.queries.tables import table
from waterbear_spark.queries.wave7 import (
    _DID_CTRL,
    _DID_TREAT,
    _EVAL_K,
    _EVAL_TERMS,
    _PSI_BINS,
    _PSI_WIDTH,
    diff_in_diff,
    fellegi_sunter_weights,
    psi_stability,
    retrieval_eval_ndcg,
    roc_auc_exact,
)


def test_roc_auc_matches_pair_count(spark):
    """AUC == P(score_pos > score_neg) + 0.5 P(tie), by brute force."""
    rows = [
        (r.o_totalprice, r.o_orderstatus)
        for r in table(spark, SF_SMOKE, "orders").collect()
        if r.o_orderstatus in ("F", "O")
    ]
    pos = sorted(round(v * 100) for v, s in rows if s == "F")
    neg = sorted(round(v * 100) for v, s in rows if s == "O")
    import bisect

    wins = ties = 0
    for p in pos:
        wins += bisect.bisect_left(neg, p)
        ties += bisect.bisect_right(neg, p) - bisect.bisect_left(neg, p)
    auc = (wins + 0.5 * ties) / (len(pos) * len(neg))
    got = roc_auc_exact(spark, SF_SMOKE).collect()[0]
    assert got.n_pos == len(pos) and got.n_neg == len(neg)
    assert abs(got.auc - auc) < 1e-6
    assert abs(got.gini - (2 * auc - 1)) < 1e-5


def test_psi_matches_python(spark):
    rows = table(spark, SF_SMOKE, "orders").collect()
    lo = min(r.o_orderdate for r in rows)
    hi = max(r.o_orderdate for r in rows)
    cut = lo + (hi - lo) / 2
    exp = defaultdict(int)
    act = defaultdict(int)
    for r in rows:
        b = min(int(r.o_totalprice // _PSI_WIDTH), _PSI_BINS - 1)
        (act if r.o_orderdate >= cut else exp)[b] += 1
    t_e, t_a = sum(exp.values()), sum(act.values())
    psi = 0.0
    for b in sorted(set(exp) | set(act) | set(range(_PSI_BINS))):
        p = (act.get(b, 0) + 1.0) / (t_a + _PSI_BINS)
        q = (exp.get(b, 0) + 1.0) / (t_e + _PSI_BINS)
        if b in set(exp) | set(act):
            psi += (p - q) * math.log(p / q)
    got = psi_stability(spark, SF_SMOKE).collect()
    assert got
    # every output row carries the same PSI; bins partition the data
    assert len({r.psi for r in got}) == 1
    assert abs(got[0].psi - psi) < 1e-6
    assert sum(r.n_exp for r in got) == t_e
    assert sum(r.n_act for r in got) == t_a


def test_did_cell_algebra(spark):
    r = diff_in_diff(spark, SF_SMOKE).collect()[0]
    did = (r.mean_treat_post - r.mean_treat_pre) - (
        r.mean_ctrl_post - r.mean_ctrl_pre
    )
    assert abs(r.did - did) < 2e-4  # rounding of the four means
    assert r.se > 0
    assert abs(r.t_stat - r.did / r.se) < 2e-2
    # cells cover exactly the two segments' orders
    o = table(spark, SF_SMOKE, "orders").collect()
    c = {
        x.c_custkey: x.c_mktsegment
        for x in table(spark, SF_SMOKE, "customer").collect()
    }
    n = sum(1 for x in o if c.get(x.o_custkey) in (_DID_TREAT, _DID_CTRL))
    assert r.n_tpre + r.n_tpost + r.n_cpre + r.n_cpost == n


def test_ndcg_bounds_and_ideal(spark):
    r = retrieval_eval_ndcg(spark, SF_SMOKE).collect()[0]
    assert r.k == _EVAL_K
    assert 0.0 <= r.ndcg <= 1.0 + 1e-9
    assert r.dcg <= r.idcg + 1e-9
    if r.retrieved_relevant > 0:
        assert r.mrr is not None and 0 < r.mrr <= 1.0
    # recompute relevance grades and the ideal DCG in Python
    docs = table(spark, SF_SMOKE, "documents").collect()
    rels = sorted(
        (
            sum(1 for t in _EVAL_TERMS if t in d.text.lower().split())
            for d in docs
        ),
        reverse=True,
    )[:_EVAL_K]
    idcg = sum(
        (2**rel - 1) / math.log2(i + 2) for i, rel in enumerate(rels)
    )
    assert abs(r.idcg - idcg) < 1e-4


def test_fellegi_sunter_informative_fields(spark):
    rows = {r.field: r for r in fellegi_sunter_weights(spark, SF_SMOKE).collect()}
    assert set(rows) == {"brand", "type", "size", "price_band"}
    for r in rows.values():
        assert 0 < r.m_prob < 1 and 0 < r.u_prob < 1
        # weight signs follow the m/u ratio by definition
        assert (r.agree_weight > 0) == (r.m_prob > r.u_prob)
        assert r.a_m <= r.n_m and r.a_u <= r.n_u
    # brute-force recount of the brand field from the pair definition
    # (synthetic brands are independent of names, so no m>u assumption —
    # the estimator must still count exactly)
    from waterbear_spark.queries.mining import _SN_WINDOW
    from waterbear_spark.queries.wave7 import _FS_MATCH_DIST, _FS_NONMATCH_DIST

    try:
        from Levenshtein import distance as lev
    except ImportError:
        def lev(a, b):
            if len(a) < len(b):
                a, b = b, a
            prev = list(range(len(b) + 1))
            for i, ca in enumerate(a):
                cur = [i + 1]
                for j, cb in enumerate(b):
                    cur.append(
                        min(prev[j + 1] + 1, cur[j] + 1, prev[j] + (ca != cb))
                    )
                prev = cur
            return prev[-1]

    parts = sorted(
        table(spark, SF_SMOKE, "part").collect(),
        key=lambda r: (r.p_name, r.p_partkey),
    )
    n_m = a_m = n_u = a_u = 0
    for i, a in enumerate(parts):
        for b in parts[i + 1 : i + 1 + _SN_WINDOW]:
            d = lev(a.p_name, b.p_name)
            if d <= _FS_MATCH_DIST:
                n_m += 1
                a_m += a.p_brand == b.p_brand
            elif d >= _FS_NONMATCH_DIST:
                n_u += 1
                a_u += a.p_brand == b.p_brand
    r = rows["brand"]
    assert (r.n_m, r.a_m, r.n_u, r.a_u) == (n_m, a_m, n_u, a_u)
