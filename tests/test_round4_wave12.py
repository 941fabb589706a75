"""Wave-12 operator coherence: pure-Python replays of the statistics and
the iterative BPE loop at smoke scale (the DuckDB differential runs via
scripts/graft.py oracle; these tests pin the SEMANTICS independently)."""

import math
from collections import Counter, defaultdict

from tests.conftest import SF_SMOKE
from waterbear_spark.queries import wave12
from waterbear_spark.queries.tables import table


def test_kendall_tau_matches_pair_replay(spark):
    got = wave12.kendall_tau_qty_disc(spark, SF_SMOKE).collect()[0]
    rows = [
        (int(r.l_quantity), round(r.l_discount * 100))
        for r in table(spark, SF_SMOKE, "lineitem")
        .select("l_quantity", "l_discount")
        .collect()
    ]
    # census-based replay (the row-pair loop is O(n^2); the census loop
    # is the same math over ~550 cells)
    cells = Counter(rows)
    items = list(cells.items())
    c = d = 0
    for i, ((q1, d1), n1) in enumerate(items):
        for (q2, d2), n2 in items[i + 1 :]:
            if q1 == q2 or d1 == d2:
                continue
            if (q1 < q2) == (d1 < d2):
                c += n1 * n2
            else:
                d += n1 * n2
    n = len(rows)
    tq = Counter(q for q, _ in rows)
    td = Counter(dd for _, dd in rows)
    t0 = n * (n - 1)
    t1 = sum(t * (t - 1) for t in tq.values())
    t2 = sum(t * (t - 1) for t in td.values())
    tau = 2.0 * (c - d) / math.sqrt(float(t0 - t1) * float(t0 - t2))
    assert got["n_rows"] == n
    assert got["concordant"] == float(c)
    assert got["discordant"] == float(d)
    assert abs(got["tau_b"] - tau) < 1e-6
    assert -1.0 <= got["tau_b"] <= 1.0


def test_hhi_bounds_and_share_identity(spark):
    rows = wave12.hhi_supplier_concentration(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        # HHI of k suppliers lives in [1/k, 1]; the top share bounds it
        assert 1.0 / r["n_suppliers"] - 1e-9 <= r["hhi"] <= 1.0
        assert r["hhi"] >= r["top_share"] ** 2 - 1e-6
        assert 0.0 < r["top_share"] <= 1.0


def test_lorenz_is_a_lorenz_curve(spark):
    rows = wave12.lorenz_curve_deciles(spark, SF_SMOKE).collect()
    assert [r["decile"] for r in rows] == list(range(1, 11))
    # population deciles partition the customers (sizes differ by <= 1)
    sizes = [r["n_cust"] for r in rows]
    assert max(sizes) - min(sizes) <= 1
    # shares are increasing by decile (sorted by revenue), cum hits 1
    shares = [r["rev_share"] for r in rows]
    assert shares == sorted(shares)
    cums = [r["cum_share"] for r in rows]
    assert cums == sorted(cums)
    assert abs(cums[-1] - 1.0) < 1e-6
    # convexity: the curve lies under the diagonal
    for i, r in enumerate(rows[:-1], 1):
        assert r["cum_share"] <= i / 10 + 1e-9


def test_bpe_merges_match_python_trainer(spark):
    got = [
        (r["merge_round"], r["pair"], r["n"])
        for r in wave12.bpe_merge_rounds(spark, SF_SMOKE).collect()
    ]
    # pure-Python BPE over the same vocab
    texts = [
        r["text"] for r in table(spark, SF_SMOKE, "documents").collect()
    ]
    vocab = Counter()
    for t in texts:
        for w in t.lower().split():
            if len(w) >= 2 and w.isascii() and w.isalpha() and w == w.lower():
                vocab[w] += 1
    symbols = {w: list(w) for w in vocab}
    rules = []
    for rnd in range(1, 4):
        counts = defaultdict(int)
        for w, f in vocab.items():
            s = symbols[w]
            for i in range(len(s) - 1):
                counts[(s[i], s[i + 1])] += f
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        (a, b), nbest = best
        rules.append((rnd, f"{a} {b}", nbest))
        for w in symbols:
            s = symbols[w]
            out, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            symbols[w] = out
    assert got == rules


def test_novelty_rate_bounds(spark):
    r = wave12.ngram_novelty_rate(spark, SF_SMOKE).collect()[0]
    assert r["n_test_grams"] > 0
    assert 0 <= r["n_novel"] <= r["n_test_grams"]
    assert abs(r["novelty_rate"] - round(r["n_novel"] / r["n_test_grams"], 6)) < 1e-9


def test_fanout_histogram_accounts_for_every_row(spark):
    rows = wave12.join_fanout_histogram(spark, SF_SMOKE).collect()
    li_n = table(spark, SF_SMOKE, "lineitem").count()
    assert sum(r["n_rows"] for r in rows) == li_n
    assert abs(sum(r["pct_rows"] for r in rows) - 1.0) < 1e-4
    assert all(r["multiplicity"] >= 1 for r in rows)


def test_copurchase_pairs_are_canonical(spark):
    rows = wave12.copurchase_projection(spark, SF_SMOKE).collect()
    assert rows
    assert all(r["s1"] < r["s2"] for r in rows)
    weights = [r["n_orders"] for r in rows]
    assert weights == sorted(weights, reverse=True)


def test_markov_entropy_bounds(spark):
    rows = wave12.markov_conditional_entropy(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        # 0 <= H <= ln(branching factor)
        assert -1e-9 <= r["cond_entropy"] <= math.log(r["n_next_types"]) + 1e-9


def test_pearson_matches_python(spark):
    rows = {
        (r["col_x"], r["col_y"]): r["r"]
        for r in wave12.pearson_matrix(spark, SF_SMOKE).collect()
    }
    data = [
        (int(r.l_quantity), round(r.l_extendedprice * 100), round(r.l_discount * 100))
        for r in table(spark, SF_SMOKE, "lineitem").collect()
    ]
    cols = {"quantity": 0, "price": 1, "discount": 2}
    n = len(data)
    for (x, y), got in rows.items():
        xs = [d[cols[x]] for d in data]
        ys = [d[cols[y]] for d in data]
        sx, sy = sum(xs), sum(ys)
        sxx = sum(v * v for v in xs)
        syy = sum(v * v for v in ys)
        sxy = sum(a * b for a, b in zip(xs, ys))
        r = (n * sxy - sx * sy) / math.sqrt(
            float(n * sxx - sx * sx) * float(n * syy - sy * sy)
        )
        assert abs(got - r) < 1e-6
