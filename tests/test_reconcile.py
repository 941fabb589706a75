"""Reconciliation primitives: generic table diff and order-insensitive
checksum. Oracle equality runs in graft.py oracle; these tests pin the
operator semantics on constructed frames."""

from tests.conftest import SF_SMOKE
from waterbear_spark.operators.diff import CHANGE_COL, table_diff
from waterbear_spark.queries.reconcile import checksum_orders, table_diff_orders


def test_table_diff_classifies_each_case(spark):
    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", None), (4, "d", 40.0)],
        "k int, s string, v double",
    )
    new = spark.createDataFrame(
        # 1 unchanged, 2 changed, 3 unchanged (NULL == NULL null-safely),
        # 4 removed, 5 added
        [(1, "a", 10.0), (2, "b", 25.0), (3, "c", None), (5, "e", 50.0)],
        "k int, s string, v double",
    )
    got = {
        r.k: r[CHANGE_COL]
        for r in table_diff(old, new, keys=["k"], compare=["s", "v"]).collect()
    }
    assert got == {
        1: "unchanged",
        2: "changed",
        3: "unchanged",
        4: "removed",
        5: "added",
    }


def test_table_diff_orders_counts_are_coherent(spark):
    from waterbear_spark.queries.tables import table

    counts = {r[CHANGE_COL]: r.n for r in table_diff_orders(spark, SF_SMOKE).collect()}
    total_orders = table(spark, SF_SMOKE, "orders").count()
    assert set(counts) == {"added", "removed", "changed", "unchanged"}
    # every original key is classified exactly once
    assert (
        counts["removed"] + counts["changed"] + counts["unchanged"] == total_orders
    )
    assert counts["added"] > 0


def test_checksum_detects_single_row_change(spark):
    base = checksum_orders(spark, SF_SMOKE).collect()[0]
    assert base.n_rows > 0 and base.checksum is not None
    # same computation over a 1-row-perturbed view must differ
    from pyspark.sql import functions as F

    from waterbear_spark.queries import reconcile
    from waterbear_spark.queries.tables import table

    orders = table(spark, SF_SMOKE, "orders")
    perturbed = orders.withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") == orders.limit(1).collect()[0].o_orderkey,
               F.col("o_totalprice") + 0.01).otherwise(F.col("o_totalprice")),
    )
    row_str = F.concat_ws(
        "|",
        F.col("o_orderkey"),
        F.col("o_custkey"),
        F.col("o_totalprice").cast("decimal(20,2)"),
        F.to_date("o_orderdate"),
        F.col("o_orderstatus"),
    )
    h = F.conv(F.substring(F.md5(row_str), 1, 15), 16, 10).cast("decimal(38,0)")
    other = perturbed.agg(F.sum(h).cast("decimal(38,0)").alias("c")).collect()[0].c
    assert other != base.checksum
