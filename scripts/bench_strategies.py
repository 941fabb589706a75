#!/usr/bin/env python
"""Strategy A/B bench: time the engine's physical rewrites against the
naive formulation of the same result, on the same data, in one session.

SCALE.md argues each rewrite; the plan-lint proves the SHAPE; this
script proves the WIN in seconds — "measure, don't guess" as an
artifact. Each case computes the identical result both ways (asserted)
and reports min-of-2 wall times plus the speedup.

Cases:
  ntile          exact NTILE(10): single-partition global window vs the
                 two-pass bucketed order statistics (operators/ntile.py)
  skew_agg       heavy-hitter groupBy: plain vs salted two-phase
  rolling_dist   trailing-7d COUNT(DISTINCT): windowed self-join vs the
                 contribution-expansion rewrite
  broadcast_join fact-dim join: shuffle-hint vs broadcast-hint
  topk           global top 100: orderBy.limit (TakeOrdered) vs
                 row_number over a global window

Prints one JSON line; committed as STRATEGY_BENCH.json.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Window
from pyspark.sql import functions as F

from waterbear_spark.conf import session

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def timed(df):
    t0 = time.perf_counter()
    df.write.mode("overwrite").format("noop").save()
    return time.perf_counter() - t0


def best2(spark, build):
    times = []
    for _ in range(2):
        spark.catalog.clearCache()
        times.append(timed(build()))
    return round(min(times), 3)


def fingerprint(df):
    cols = sorted(df.columns)
    return (
        df.select(*cols)
        .agg(
            F.count(F.lit(1)).alias("n"),
            *[
                F.sum(F.xxhash64(c).cast("decimal(38,0)")).alias(f"h_{c}")
                for c in cols
            ],
        )
        .collect()[0]
    )


def main():
    spark = session(int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet").persist()
    events = spark.read.parquet(f"{SF_DIR}/events.parquet").persist()
    nation = spark.read.parquet(f"{SF_DIR}/nation.parquet")
    customer = spark.read.parquet(f"{SF_DIR}/customer.parquet").persist()
    orders.count(), events.count(), customer.count()

    out = {}

    # --- exact NTILE ------------------------------------------------------
    from waterbear_spark.operators.ntile import bucketed_ntile

    def ntile_naive():
        w = Window.orderBy("o_totalprice", "o_orderkey")
        return orders.select(
            "o_orderkey", F.ntile(10).over(w).alias("tile")
        )

    def ntile_engine():
        return bucketed_ntile(
            orders.select("o_orderkey", "o_totalprice"),
            "o_totalprice",
            "o_orderkey",
            10,
            out_col="tile",
            width=1024.0,
        ).select("o_orderkey", "tile")

    assert fingerprint(ntile_naive()) == fingerprint(ntile_engine())
    out["ntile"] = {"naive": best2(spark, ntile_naive), "engine": best2(spark, ntile_engine)}

    # --- skewed aggregate --------------------------------------------------
    # synthetic 90%-one-key skew over events
    skewed = events.select(
        F.when(F.col("event_id") % 10 < 9, F.lit(0))
        .otherwise(F.col("event_id") % 1000)
        .alias("k"),
        "value",
    ).persist()
    skewed.count()

    def agg_plain():
        return skewed.groupBy("k").agg(
            F.sum(F.col("value").cast("decimal(20,6)")).alias("s"),
            F.count(F.lit(1)).alias("n"),
        )

    def agg_salted():
        part = skewed.withColumn("salt", F.pmod(F.xxhash64("value"), F.lit(32)))
        partial = part.groupBy("k", "salt").agg(
            F.sum(F.col("value").cast("decimal(20,6)")).alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
        return partial.groupBy("k").agg(
            F.sum("s").alias("s"), F.sum("n").alias("n")
        )

    assert fingerprint(agg_plain()) == fingerprint(agg_salted())
    out["skew_agg"] = {"naive": best2(spark, agg_plain), "engine": best2(spark, agg_salted)}

    # --- trailing-7d rolling distinct --------------------------------------
    daily = events.select(
        F.to_date("ts").alias("day"), "user_id"
    ).distinct().persist()
    daily.count()

    def rdist_naive():
        a = daily.select(F.col("day").alias("d"), F.col("user_id").alias("u"))
        days = daily.select("day").distinct()
        j = days.join(
            a,
            (F.col("d") <= F.col("day"))
            & (F.col("d") >= F.date_sub(F.col("day"), 6)),
        )
        return j.groupBy("day").agg(F.countDistinct("u").alias("n7"))

    def rdist_engine():
        contrib = daily.select(
            "user_id", F.explode(F.sequence(F.lit(0), F.lit(6))).alias("off"), "day"
        ).select("user_id", F.date_add("day", F.col("off")).alias("day"))
        max_day = daily.agg(F.max("day").alias("mx"))
        return (
            contrib.join(F.broadcast(max_day), F.col("day") <= F.col("mx"))
            .select("day", "user_id")
            .distinct()
            .groupBy("day")
            .agg(F.count(F.lit(1)).alias("n7"))
        )

    # the naive variant only produces days present in the data; align
    naive_fp = fingerprint(rdist_naive())
    eng = rdist_engine().join(daily.select("day").distinct(), "day")
    assert naive_fp == fingerprint(eng)
    out["rolling_distinct"] = {
        "naive": best2(spark, rdist_naive),
        "engine": best2(
            spark, lambda: rdist_engine().join(daily.select("day").distinct(), "day")
        ),
    }

    # --- broadcast vs shuffle dim join -------------------------------------
    cust_nat = customer.join(nation, customer.c_nationkey == nation.n_nationkey)

    def join_shuffle():
        return orders.join(
            customer.hint("shuffle_hash"), orders.o_custkey == customer.c_custkey
        ).groupBy("c_mktsegment").agg(F.count(F.lit(1)).alias("n"))

    def join_broadcast():
        return orders.join(
            F.broadcast(customer), orders.o_custkey == customer.c_custkey
        ).groupBy("c_mktsegment").agg(F.count(F.lit(1)).alias("n"))

    assert fingerprint(join_shuffle()) == fingerprint(join_broadcast())
    out["dim_join"] = {
        "naive": best2(spark, join_shuffle),
        "engine": best2(spark, join_broadcast),
    }

    # --- exact median: single-partition sort-pick vs bucketed two-pass -----
    def median_naive():
        w = Window.orderBy("o_totalprice", "o_orderkey")
        n = orders.count()
        mid = (n + 1) // 2
        return (
            orders.select("o_totalprice", "o_orderkey")
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == mid)
            .select(F.col("o_totalprice").alias("median"))
        )

    def median_engine():
        # two-pass bucketed order statistic: bucket counts locate the
        # crossing bucket; only that bucket sorts
        n = orders.count()
        mid = (n + 1) // 2
        b = orders.select(
            F.floor(F.col("o_totalprice") / 1024.0).alias("pb"),
            "o_totalprice",
            "o_orderkey",
        )
        counts = b.groupBy("pb").agg(F.count(F.lit(1)).alias("c"))
        w_off = Window.orderBy("pb").rowsBetween(Window.unboundedPreceding, -1)
        hit = (
            counts.select(
                "pb", F.coalesce(F.sum("c").over(w_off), F.lit(0)).alias("off"), "c"
            )
            .filter((F.col("off") < mid) & (F.col("off") + F.col("c") >= mid))
            .select("pb", "off")
        )
        w_in = Window.partitionBy("pb").orderBy("o_totalprice", "o_orderkey")
        return (
            b.join(F.broadcast(hit), "pb")
            .withColumn("rn", F.row_number().over(w_in) + F.col("off"))
            .filter(F.col("rn") == mid)
            .select(F.col("o_totalprice").alias("median"))
        )

    assert fingerprint(median_naive()) == fingerprint(median_engine())
    out["exact_median"] = {
        "naive": best2(spark, median_naive),
        "engine": best2(spark, median_engine),
    }

    # --- global top-k -------------------------------------------------------
    def topk_window():
        w = Window.orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        return (
            orders.select("o_orderkey", "o_totalprice")
            .withColumn("rn", F.row_number().over(w))
            .filter("rn <= 100")
            .drop("rn")
        )

    def topk_takeordered():
        return (
            orders.select("o_orderkey", "o_totalprice")
            .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
            .limit(100)
        )

    assert fingerprint(topk_window()) == fingerprint(topk_takeordered())
    out["global_topk"] = {
        "naive": best2(spark, topk_window),
        "engine": best2(spark, topk_takeordered),
    }

    # --- Lorenz deciles: global row window vs value-census scaffold --------
    from waterbear_spark.queries import wave12

    def lorenz_naive():
        rev = orders.groupBy("o_custkey").agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("v")
        )
        w = Window.orderBy("v", "o_custkey")
        n = rev.count()
        ranked = rev.withColumn("p", F.row_number().over(w))
        per = (
            ranked.select(
                # cast to int: xxhash64 is type-sensitive and the engine
                # side's decile comes from an int sequence explode
                (F.floor((10 * (F.col("p") - 1)) / n) + 1)
                .cast("int")
                .alias("decile"),
                "v",
            )
            .groupBy("decile")
            .agg(
                F.count(F.lit(1)).alias("n_cust"),
                F.sum(F.col("v").cast("decimal(38,0)")).alias("rev"),
            )
        )
        tot = F.sum("rev").over(
            Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        )
        wc = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
        return per.select(
            "decile",
            "n_cust",
            F.round(F.col("rev").cast("double") / tot.cast("double"), 8).alias(
                "rev_share"
            ),
            F.round(
                F.sum("rev").over(wc).cast("double") / tot.cast("double"), 8
            ).alias("cum_share"),
        )

    def lorenz_engine():
        return wave12.lorenz_curve_deciles(spark, SF_DIR)

    assert fingerprint(lorenz_naive()) == fingerprint(lorenz_engine())
    out["lorenz_deciles"] = {
        "naive": best2(spark, lorenz_naive),
        "engine": best2(spark, lorenz_engine),
    }

    # --- sparse cosine top-k: doc cross join vs inverted-index join --------
    from waterbear_spark.queries.llm import _tokens
    from waterbear_spark.queries.wave12 import _SC_MAXDF, _SC_TERMS, _SC_TOPK

    documents = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    tf = (
        documents.select(
            "doc_id", F.explode(_tokens(F.col("text"))).alias("term")
        )
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    keepw = Window.partitionBy("doc_id").orderBy(F.col("tf").desc(), "term")
    pruned = (
        tf.withColumn("rk", F.row_number().over(keepw))
        .filter(F.col("rk") <= _SC_TERMS)
        .drop("rk")
        .join(
            tf.withColumn("rk", F.row_number().over(keepw))
            .filter(F.col("rk") <= _SC_TERMS)
            .groupBy("term")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= _SC_MAXDF)
            .select("term"),
            "term",
        )
        .persist()
    )
    pruned.count()

    def cosine_naive():
        vecs = pruned.groupBy("doc_id").agg(
            F.map_from_entries(
                F.collect_list(F.struct("term", "tf"))
            ).alias("m"),
            F.sum(F.col("tf") * F.col("tf")).alias("ss"),
        )
        a = vecs.select(
            F.col("doc_id").alias("doc_a"),
            F.col("m").alias("ma"),
            F.col("ss").alias("ssa"),
        )
        b = vecs.select(
            F.col("doc_id").alias("doc_b"),
            F.col("m").alias("mb"),
            F.col("ss").alias("ssb"),
        )
        pairs = a.crossJoin(b).filter(F.col("doc_a") < F.col("doc_b"))
        dot = F.aggregate(
            F.map_entries("ma"),
            F.lit(0).cast("bigint"),
            lambda acc, e: acc
            + e["value"] * F.coalesce(F.element_at("mb", e["key"]), F.lit(0)),
        )
        return (
            pairs.select("doc_a", "doc_b", dot.alias("dot"), "ssa", "ssb")
            .filter(F.col("dot") > 0)
            .select(
                "doc_a",
                "doc_b",
                "dot",
                F.round(
                    F.col("dot") / (F.sqrt("ssa") * F.sqrt("ssb")), 6
                ).alias("cosine"),
            )
            .orderBy(F.col("cosine").desc(), "doc_a", "doc_b")
            .limit(_SC_TOPK)
        )

    def cosine_engine():
        return wave12.sparse_cosine_topk(spark, SF_DIR)

    assert fingerprint(cosine_naive()) == fingerprint(cosine_engine())
    out["sparse_cosine_topk"] = {
        "naive": best2(spark, cosine_naive),
        "engine": best2(spark, cosine_engine),
    }

    # --- spearman: flag-partitioned fact sort vs bucketed census ranks -----
    # naive = the round-4 formulation the verdict flagged (7.1x at 10x
    # data): both rank windows partition by l_returnflag (3 keys), so
    # three tasks each total-order a third of the fact table
    from waterbear_spark.queries import relational_more

    lineitem = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_returnflag", "l_extendedprice", "l_quantity"
    )

    def spearman_naive():
        def dbl(col):
            w = Window.partitionBy("l_returnflag").orderBy(col)
            rmin = F.rank().over(w)  # = cum_before + 1
            cnt = F.count(F.lit(1)).over(
                Window.partitionBy("l_returnflag", col)
            )
            # doubled average rank of the tie group: 2*cum_before+cnt+1
            return (2 * rmin + cnt - 1).cast("bigint")

        ranked = lineitem.select(
            "l_returnflag",
            dbl(F.col("l_extendedprice")).alias("rx"),
            dbl(F.col("l_quantity")).alias("ry"),
        )
        rx_d = F.col("rx").cast("decimal(19,0)")
        ry_d = F.col("ry").cast("decimal(19,0)")
        mom = ranked.groupBy("l_returnflag").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("rx").alias("sx"),
            F.sum("ry").alias("sy"),
            F.sum(rx_d * rx_d).alias("sxx"),
            F.sum(ry_d * ry_d).alias("syy"),
            F.sum(rx_d * ry_d).alias("sxy"),
        )
        num = F.col("n").cast("double") * F.col("sxy").cast("double") - F.col(
            "sx"
        ).cast("double") * F.col("sy").cast("double")
        den = F.sqrt(
            F.col("n").cast("double") * F.col("sxx").cast("double")
            - F.col("sx").cast("double") * F.col("sx").cast("double")
        ) * F.sqrt(
            F.col("n").cast("double") * F.col("syy").cast("double")
            - F.col("sy").cast("double") * F.col("sy").cast("double")
        )
        return mom.select(
            "l_returnflag",
            "n",
            F.round(num / den, 6).alias("spearman_rho"),
        )

    def spearman_engine():
        return relational_more.spearman_price_quantity(spark, SF_DIR)

    assert fingerprint(spearman_naive()) == fingerprint(spearman_engine())
    out["spearman_ranks"] = {
        "naive": best2(spark, spearman_naive),
        "engine": best2(spark, spearman_engine),
    }

    # --- bootstrap draw: md5 oracle determinism vs xxhash64 production ----
    # the r8 verdict's ask: the bootstrap_ci_mean docstring claims the
    # md5+conv draw exists only for cross-engine oracle determinism and
    # that production would swap F.xxhash64 at a large constant-factor
    # win (the r x |rows| hashing IS the operator's budget) — measure
    # it. Here "naive" = the SHIPPED md5 variant (kept for DuckDB
    # parity), "engine" = the xxhash64 production draw; same inverse-CDF
    # Poisson weights, statistically equivalent replicates.
    from waterbear_spark.queries import wave6
    from waterbear_spark.queries.tables import DEC

    def boot_report(u_fn):
        # repartition mirrors the shipped query's _fan_out so the A/B
        # isolates the DRAW cost, not scan-split parallelism
        rep = (
            orders.select("o_orderkey", "o_totalprice")
            .repartition(spark.sparkContext.defaultParallelism)
            .select(
                "o_orderkey",
                "o_totalprice",
                F.explode(
                    F.sequence(F.lit(0), F.lit(wave6._BOOT_R - 1))
                ).alias("b"),
            )
        )
        weighted = rep.select(
            "b", "o_totalprice", wave6._pois_w(u_fn()).alias("w")
        )
        return (
            weighted.groupBy("b")
            .agg(
                (
                    F.sum((F.col("o_totalprice") * F.col("w")).cast(DEC)).cast(
                        "double"
                    )
                    / F.sum("w")
                ).alias("m")
            )
            .agg(
                F.count(F.lit(1)).alias("n_replicates"),
                F.round(F.avg("m"), 4).alias("boot_mean"),
            )
        )

    def boot_md5():
        # the r9 shipped draw: ONE md5 per (row, replicate)
        return boot_report(
            lambda: wave6._u48(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("b").cast("string"),
                            F.lit("|"),
                            F.col("o_orderkey").cast("string"),
                        )
                    ),
                    1,
                    12,
                )
            )
        )

    def boot_xxhash():
        return boot_report(
            lambda: F.pmod(F.xxhash64("b", "o_orderkey"), F.lit(2**48))
            / F.lit(float(2**48))
        )

    def boot_split():
        # the r10 SHIPPED draw: split each digest into two 48-bit
        # uniforms, halving the md5 budget while staying
        # DuckDB-derivable (wave6.bootstrap_ci_mean)
        return wave6.bootstrap_ci_mean(spark, SF_DIR).select(
            "n_replicates", "boot_mean"
        )

    md5_row, xx_row = boot_md5().collect()[0], boot_xxhash().collect()[0]
    split_row = boot_split().collect()[0]
    assert (
        md5_row["n_replicates"]
        == xx_row["n_replicates"]
        == split_row["n_replicates"]
        == wave6._BOOT_R
    )
    # different draws, same estimator: replicate means agree statistically
    for other in (xx_row, split_row):
        assert (
            abs(md5_row["boot_mean"] - other["boot_mean"]) / md5_row["boot_mean"]
            < 0.01
        )
    out["bootstrap_hash_draw"] = {
        "naive": best2(spark, boot_md5),
        "engine": best2(spark, boot_xxhash),
    }
    # per-replicate md5 (r9 shipped) vs split-digest md5 (r10 shipped):
    # the harvested half of the hash budget, oracle determinism intact
    out["bootstrap_digest_split"] = {
        "naive": best2(spark, boot_md5),
        "engine": best2(spark, boot_split),
    }

    for k, v in out.items():
        v["speedup"] = round(v["naive"] / v["engine"], 2) if v["engine"] else None
    print(json.dumps({"metric": "strategy_ab", "unit": "sec", "sf_dir": SF_DIR, "cases": out}))


if __name__ == "__main__":
    main()
