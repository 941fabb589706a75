#!/usr/bin/env python
"""sf1 planted-hub certification of the LSH band-degree cap (r11).

The r10 round added ``max_band_degree`` (llm._band_candidates): hub band
keys — boilerplate/template documents sharing a band — are salted into
bounded sub-buckets so LSH's one O(n^2) failure mode stays linear. The
catalog twin ``dedup_near_minhash_capped`` certifies the salted join
cross-engine, but at the cert scales the engaged hubs are small. This
script builds the pathology the dial exists for, AT sf1:

corpus = the sf1 documents table + a planted boilerplate slice (400
docs sharing a 60-token template with unique 3-token tails), which
yields band keys of degree ~300-400 >> cap and genuine within-hub
near-dups (pairwise shingle Jaccard ~0.9).

Certified claims, all measured here and written to HUB_CAP_CERT_r11.json:

1. the degree census sees the hub (max band degree >> cap) — the
   pre-flight instrument and the dial agree on what a hub is;
2. candidate work is BOUNDED: capped candidate count is an order of
   magnitude under uncapped (which carries the ~C(400,2)-scale hub
   blowup);
3. recall outside the hub is UNCHANGED: restricted to non-planted
   documents, capped == uncapped == the unplanted sf1 baseline — every
   pair the cap drops is within-hub boilerplate, the documented trade;
4. cross-engine: the capped Spark result on the hub corpus hash-matches
   ``DEDUP_NEAR_CAPPED_SQL`` in DuckDB — the salted join is certified
   while actually engaged on a >> cap hub at sf1.

Usage: python scripts/hub_cap_sf1_cert.py
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
from pyspark.sql import functions as F

from waterbear_spark.conf import session
from waterbear_spark.queries import llm
from waterbear_spark.queries.tables import table
from waterbear_spark.testing import frame_fingerprint

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF1 = os.path.join(REPO, "localdata", "sf1")
HUB_DIR = os.path.join(REPO, "localdata", "sf1_hub")

N_PLANTED = 400
BASE_ID = 10_000_000
TEMPLATE = " ".join(f"tmpl{i:02d}" for i in range(60))


def build_corpus(spark) -> None:
    docs = table(spark, SF1, "documents")
    planted = spark.range(N_PLANTED).select(
        (F.col("id") + BASE_ID).alias("doc_id"),
        F.lit("en").alias("lang"),
        F.lit("boilerplate").alias("source"),
        F.concat(
            F.lit(TEMPLATE + " "),
            F.concat_ws(
                " ",
                F.concat(F.lit("tail"), F.col("id").cast("string"), F.lit("a")),
                F.concat(F.lit("tail"), F.col("id").cast("string"), F.lit("b")),
                F.concat(F.lit("tail"), F.col("id").cast("string"), F.lit("c")),
            ),
        ).alias("text"),
    ).withColumn("n_chars", F.length("text"))
    out = os.path.join(HUB_DIR, "documents.parquet")
    shutil.rmtree(HUB_DIR, ignore_errors=True)
    docs.select(planted.columns).unionByName(
        planted
    ).write.mode("overwrite").parquet(out)


def band_relation(spark, sf_dir):
    """The query's own band relation (built from llm's helpers — the
    same code path dedup_near_minhash uses), for candidate counting."""
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", llm._tokens(F.col("text")).alias("toks")
    )
    sets = docs.filter(F.size("toks") >= 3).select(
        "doc_id", F.array_distinct(llm._shingles(F.col("toks"))).alias("arr")
    )
    sig = sets.select("doc_id", llm._minhash_struct("arr").alias("mh")).select(
        "doc_id", "mh.*"
    )
    band_entries = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat(F.col(f"h{2 * b}"), F.col(f"h{2 * b + 1}")).alias("bkey"),
            )
            for b in range(llm.N_BANDS)
        ]
    )
    return sig.select("doc_id", F.explode(band_entries).alias("e")).select(
        "doc_id", F.col("e.band").alias("band"), F.col("e.bkey").alias("bkey")
    )


def main():
    spark = session(
        int(os.environ.get("SPARK_GRAFT_CPUS", "32")),
        driver_memory=os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
    )

    build_corpus(spark)
    cap = llm._CAPPED_DIAL

    # 1. the census sees the hub
    bands = band_relation(spark, HUB_DIR).persist()
    deg = bands.groupBy("band", "bkey").count()
    max_deg = deg.agg(F.max("count")).collect()[0][0]
    n_hub_keys = deg.filter(F.col("count") > 100).count()

    # 2. candidate work bounded
    t0 = time.perf_counter()
    n_uncapped = llm._band_candidates(bands).count()
    t_uncapped = round(time.perf_counter() - t0, 2)
    t0 = time.perf_counter()
    n_capped = llm._band_candidates(bands, max_band_degree=cap).count()
    t_capped = round(time.perf_counter() - t0, 2)
    bands.unpersist()

    # 3. recall outside the hub unchanged (verified pairs, full
    # pipeline). dial=2 salts ordinary sf1 band keys too (its baseline
    # trade, certified separately by dedup_near_minhash_capped), so the
    # apples-to-apples claim is capped-vs-capped and uncapped-vs-
    # uncapped: PLANTING the hub must not change what either variant
    # finds among the non-planted documents.
    def pairs(df):
        return {(r["doc_a"], r["doc_b"]) for r in df.collect()}

    base_uncapped = pairs(llm.dedup_near_minhash(spark, SF1))
    base_capped = pairs(llm.dedup_near_minhash_capped(spark, SF1))
    uncapped_hub = pairs(llm.dedup_near_minhash(spark, HUB_DIR))
    capped_hub = pairs(llm.dedup_near_minhash_capped(spark, HUB_DIR))
    non_planted = lambda ps: {
        p for p in ps if p[0] < BASE_ID and p[1] < BASE_ID
    }
    dropped = uncapped_hub - capped_hub
    dropped_within_hub = {
        p for p in dropped if p[0] >= BASE_ID and p[1] >= BASE_ID
    }
    recall_ok = (
        non_planted(uncapped_hub) == base_uncapped
        and non_planted(capped_hub) == base_capped
        # every drop beyond the dial's pre-existing baseline trade is
        # within the planted hub; no planted-x-original pair exists
        and (dropped - dropped_within_hub) == (base_uncapped - base_capped)
    )

    # 4. cross-engine: capped Spark vs DuckDB on the hub corpus
    sdf = llm.dedup_near_minhash_capped(spark, HUB_DIR)
    s_cols = sdf.columns
    s_rows = [tuple(r) for r in sdf.collect()]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{HUB_DIR}/documents.parquet/*.parquet'"
    )
    res = con.execute(llm.DEDUP_NEAR_CAPPED_SQL)
    d_cols = [d[0] for d in res.description]
    d_rows = res.fetchall()
    hash_match = (
        len(s_rows) == len(d_rows)
        and frame_fingerprint(s_cols, s_rows)
        == frame_fingerprint(d_cols, d_rows)
    )

    out = {
        "metric": "hub_cap_sf1_cert",
        "corpus": {
            "base": SF1,
            "planted_docs": N_PLANTED,
            "template_tokens": 60,
            "tail_tokens": 3,
        },
        "cap": cap,
        "census": {"max_band_degree": max_deg, "keys_over_100": n_hub_keys},
        "candidates": {
            "uncapped": n_uncapped,
            "capped": n_capped,
            "bound_ratio": round(n_uncapped / max(n_capped, 1), 2),
            "uncapped_sec": t_uncapped,
            "capped_sec": t_capped,
        },
        "verified_pairs": {
            "sf1_baseline_uncapped": len(base_uncapped),
            "sf1_baseline_capped": len(base_capped),
            "hub_uncapped": len(uncapped_hub),
            "hub_capped": len(capped_hub),
            "dropped_by_cap": len(dropped),
            "dropped_within_hub": len(dropped_within_hub),
            "baseline_dial_trade": len(base_uncapped - base_capped),
            "non_hub_recall_unchanged": recall_ok,
        },
        "oracle_hash_match": hash_match,
        "pass": bool(
            max_deg > 100 * cap
            and n_capped * 5 < n_uncapped
            and recall_ok
            and hash_match
        ),
    }
    print(json.dumps(out))
    shutil.rmtree(HUB_DIR, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
