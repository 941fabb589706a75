"""Semantic invariants for the round-3 wave-4 operators. Exact oracle
equality runs in scripts/graft.py oracle; these tests pin the properties
equality alone wouldn't explain — pure-Python reimplementations of the
bit folds and streak runs, the hypothetical-rank insertion law, ledger
conservation, and the hashing trick's token-mass conservation."""

import functools
from collections import Counter, defaultdict

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from waterbear_spark.queries.tables import table
from waterbear_spark.queries.wave4 import (
    _BIG_ORDER,
    _FH_BUCKETS,
    _HYP_PRICE,
    bool_bit_aggs,
    feature_hashing,
    hypothetical_rank,
    semi_additive_balance,
    status_streaks,
)


def _orders(spark):
    return table(spark, SF_SMOKE, "orders").collect()


def test_bool_bit_aggs_match_python_folds(spark):
    rows = {r.o_orderpriority: r for r in bool_bit_aggs(spark, SF_SMOKE).collect()}
    groups = defaultdict(list)
    for r in _orders(spark):
        groups[r.o_orderpriority].append(r)
    assert set(rows) == set(groups)
    for prio, members in groups.items():
        bytes_ = [r.o_orderkey % 256 for r in members]
        big = [r.o_totalprice > _BIG_ORDER for r in members]
        got = rows[prio]
        assert got.n == len(members)
        assert got.all_big == all(big)
        assert got.any_big == any(big)
        assert got.key_bit_and == functools.reduce(lambda a, b: a & b, bytes_)
        assert got.key_bit_or == functools.reduce(lambda a, b: a | b, bytes_)
        assert got.key_bit_xor == functools.reduce(lambda a, b: a ^ b, bytes_)


def test_hypothetical_rank_equals_rank_after_insertion(spark):
    """The defining law: hyp_rank(v) == the RANK v actually receives
    when appended to the group and ranked ascending."""
    got = {r.o_orderpriority: r for r in hypothetical_rank(spark, SF_SMOKE).collect()}
    groups = defaultdict(list)
    for r in _orders(spark):
        groups[r.o_orderpriority].append(r.o_totalprice)
    for prio, vals in groups.items():
        inserted = sorted(vals + [_HYP_PRICE])
        real_rank = 1 + sum(1 for v in inserted if v < _HYP_PRICE)
        assert got[prio].hyp_rank == real_rank
        assert got[prio].n == len(vals)
        assert 0.0 <= got[prio].hyp_percent_rank <= 1.0
        assert 0.0 < got[prio].hyp_cume_dist <= 1.0


def test_semi_additive_ledger_conserves_and_is_dense(spark):
    out = semi_additive_balance(spark, SF_SMOKE).collect()
    months = sorted({r.month for r in out})
    segments = {r.month for r in out}
    # dense spine: every segment covers every month exactly once
    per_seg = Counter(r.segment for r in out)
    assert len(set(per_seg.values())) == 1
    assert next(iter(set(per_seg.values()))) == len(months)
    # conservation: last closing balance == total inflow, per segment
    by_seg = defaultdict(list)
    for r in out:
        by_seg[r.segment].append(r)
    for seg, rows in by_seg.items():
        rows.sort(key=lambda r: r.month)
        total_inflow = round(sum(r.inflow for r in rows), 2)
        assert abs(rows[-1].closing_balance - total_inflow) < 0.02
        # carry-forward: balances never decrease (deposits only)
        bals = [r.closing_balance for r in rows]
        assert bals == sorted(bals)


def test_feature_hashing_conserves_token_mass(spark):
    out = feature_hashing(spark, SF_SMOKE).collect()
    n_orders = len(_orders(spark))
    assert sum(r.n_tokens for r in out) == 3 * n_orders
    assert all(0 <= r.bucket < _FH_BUCKETS for r in out)
    assert all(abs(r.signed_sum) <= r.n_tokens for r in out)
    # the collision census is honest: distinct tokens across buckets
    # equals the true distinct token count
    o = table(spark, SF_SMOKE, "orders")
    true_distinct = (
        o.select(
            F.explode(
                F.array(
                    F.concat(F.lit("status="), "o_orderstatus"),
                    F.concat(F.lit("priority="), "o_orderpriority"),
                    F.concat(
                        F.lit("band="),
                        (F.col("o_totalprice") / 50_000).cast("int").cast("string"),
                    ),
                )
            ).alias("tok")
        )
        .distinct()
        .count()
    )
    assert sum(r.n_distinct for r in out) == true_distinct


def test_status_streaks_match_python_runs(spark):
    got = {r.o_orderstatus: r for r in status_streaks(spark, SF_SMOKE).collect()}
    by_cust = defaultdict(list)
    for r in _orders(spark):
        by_cust[r.o_custkey].append(r)
    runs = []  # (status, length)
    for members in by_cust.values():
        members.sort(key=lambda r: (r.o_orderdate, r.o_orderkey))
        for r in members:
            if runs and runs[-1][2] == r.o_custkey and runs[-1][0] == r.o_orderstatus:
                runs[-1][1] += 1
            else:
                runs.append([r.o_orderstatus, 1, r.o_custkey])
    by_status = defaultdict(list)
    for status, length, _ in runs:
        by_status[status].append(length)
    assert set(got) == set(by_status)
    for status, lens in by_status.items():
        assert got[status].n_runs == len(lens)
        assert got[status].max_len == max(lens)
        assert abs(got[status].avg_len - sum(lens) / len(lens)) < 1e-6
