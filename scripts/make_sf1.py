#!/usr/bin/env python
"""Deterministically scale the sf0.1 testdata 10x into localdata/sf1
(gitignored) for scaling-curve benchmarks (scripts/bench_scaling.py).

The driver testdata is read-only and sf1 is not provided, so sf1 is
synthesized as 10 key-shifted copies of sf0.1:

- fact/dim keys get a per-copy offset (copy c's keys = key + c * stride,
  stride > max key) so foreign keys stay consistent within a copy and
  group-by/join cardinalities scale linearly — exactly what a 10x data
  volume does to the relational operators;
- `documents.text` is perturbed per copy by prefixing every token with
  the copy tag, which zeroes cross-copy shingle overlap: each copy keeps
  the ORIGINAL corpus's near-dup pair structure, so dedup outputs scale
  exactly 10x (replicating text verbatim would instead explode the pair
  space combinatorially and measure the wrong thing);
- `region`/`nation` stay single-copy (dims that don't scale in TPC-H;
  nationkey references remain valid);
- `embeddings` copies shift ``vec_id`` only — fine for the bucketed ANN
  scans benched here; note cross-copy vectors ARE exact duplicates, so
  pair-emitting embedding queries would over-report at sf1 (not part of
  the scaling bench).

No rand(): byte-deterministic output. Rerunning overwrites.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from waterbear_spark.conf import session

SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
DST = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "localdata", "sf1"
)
COPIES = 10

# per-table key columns to offset, with strides comfortably above the
# sf0.1 max key so copies never collide
STRIDES = {
    "o_orderkey": 1_000_000,
    "l_orderkey": 1_000_000,
    "o_custkey": 1_000_000,
    "c_custkey": 1_000_000,
    "l_suppkey": 100_000,
    "s_suppkey": 100_000,
    "l_partkey": 1_000_000,
    "p_partkey": 1_000_000,
    "event_id": 10_000_000,
    "user_id": 10_000_000,
    "doc_id": 1_000_000,
    "vec_id": 1_000_000,
}


def scaled(df: DataFrame, copy_col_exprs) -> DataFrame:
    parts = []
    for c in range(COPIES):
        parts.append(df.select(*copy_col_exprs(c)))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def shift_keys(df: DataFrame, table: str):
    cols = df.columns

    def exprs(c: int):
        out = []
        for name in cols:
            if name in STRIDES:
                out.append((F.col(name) + F.lit(c * STRIDES[name])).alias(name))
            elif table == "documents" and name == "text" and True:
                # copy 0 keeps the original text; others prefix every
                # token with the copy tag (kills cross-copy overlap)
                if c == 0:
                    out.append(F.col("text"))
                else:
                    out.append(
                        F.array_join(
                            F.transform(
                                F.split(F.col("text"), r"\s+"),
                                lambda t: F.concat(F.lit(f"c{c}_"), t),
                            ),
                            " ",
                        ).alias("text")
                    )
            elif table == "documents" and name == "n_chars":
                # recomputed after the text rewrite below via length()
                out.append(F.lit(None).cast("long").alias("n_chars"))
            else:
                out.append(F.col(name))
        return out

    out = scaled(df, exprs)
    if table == "documents":
        out = out.withColumn("n_chars", F.length("text").cast("long"))
    return out


def main():
    spark = session(16)
    os.makedirs(DST, exist_ok=True)

    single_copy = {"region", "nation"}
    tables = (
        "region nation customer supplier part orders lineitem "
        "events documents embeddings"
    ).split()
    for t in tables:
        df = spark.read.parquet(f"{SRC}/{t}.parquet")
        out = df if t in single_copy else shift_keys(df, t)
        out.write.mode("overwrite").parquet(f"{DST}/{t}.parquet")
        print(f"{t}: {out.count()} rows")
    spark.stop()


if __name__ == "__main__":
    main()
