#!/usr/bin/env python
"""sf1 oracle certification for the 7 pairwise-heavy mining queries —
the round-5 verdict's Missing #2 (CORRECTNESS_LOCAL_SF1E).

Six of the seven run against their regular catalog oracles: DuckDB's
IEJoin handles sorted_neighborhood's rank-range join and the basket
self-joins fine at sf1 (they were only ever *slow*, not intractable —
the prior block was a shared 10-minute command window, not the plans).
``frequent_triples``' catalog oracle was restructured in round 8 from a
3-way basket self-join (which blew a 51 CPU-hour budget at sf1) to a
per-basket UNNEST enumeration — identical relation, linear in orders —
so it now certifies at sf1 like the rest.

``er_golden_records`` is the one true blocker: its catalog oracle
builds connected components with a recursive-CTE transitive closure,
and at sf1 the dist<=2 candidate graph puts ALL 200k parts into 64
~3000-member components (measured: 999,040 edges), so the closure is
~sum(size^2) ≈ 576M rows across ~600 window-5 chaining rounds — the
closure ALGORITHM is quadratic at this scale, not the engine's plan
(the engine's star-CC finishes in ~24 s). Here the oracle swaps in a
third, independent CC algorithm: the candidate pairs still come from
the same DuckDB pair SQL, components are rebuilt with a driver-side
UNION-FIND (path-halving, min-id roots — matching the min-member
label both the star-CC and the recursive closure converge to), and
the survivorship tail runs in DuckDB over the injected component
table. Three algorithms (Spark star-CC, DuckDB recursive closure at
sf<=0.1, union-find at sf1), one answer.

Usage: python scripts/check_sf1e.py [sf_dir]
Writes CORRECTNESS_LOCAL_SF1E.json at the repo root.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from waterbear_spark.conf import session
from waterbear_spark.queries.catalog import ORACLE_SQL, QUERIES
from waterbear_spark.queries.mining import _ER_MAX_DIST, _SN_WINDOW
from waterbear_spark.queries.tables import TABLES
from waterbear_spark.testing import compare_frames

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# fast-first order: the two basket self-joins run LAST (their DuckDB
# oracles are the slowest stages by far — itemset measured ~35 min at
# sf1), so an interrupted run still certifies everything else; the
# artifact is rewritten after every query (see below).
PLAIN = [
    "sorted_neighborhood_pairs",
    "jaccard_prefix_join",
    "fuzzy_join_parts",
    "ngram_jaccard_pairs",
    "itemset_pair_lift",
    "frequent_triples",
]

# same candidate-pair SQL as mining.ER_GOLDEN_SQL's `pairs` CTE
_ER_PAIRS_SQL = f"""
WITH ranked AS (
    SELECT p_partkey, p_name,
           ROW_NUMBER() OVER (ORDER BY p_name, p_partkey) AS rn
    FROM part
)
SELECT a.p_partkey AS key_a, b.p_partkey AS key_b
FROM ranked a
JOIN ranked b ON b.rn > a.rn AND b.rn <= a.rn + {_SN_WINDOW}
WHERE levenshtein(a.p_name, b.p_name) <= {_ER_MAX_DIST}
"""

# same survivorship tail as mining.ER_GOLDEN_SQL — since round 8 that is
# plain per-component survivorship (the engine's internal saturation
# sub-blocking is output-invariant: its two-stage reduce composes to the
# per-component answer) — reading components from the injected
# union-find table instead of the recursive closure
_ER_TAIL_SQL = """
WITH members AS (
    SELECT c.component, p.p_partkey, p.p_name, p.p_retailprice
    FROM comp c JOIN part p USING (p_partkey)
),
surv AS (
    SELECT component, p_partkey, p_name, p_retailprice,
           ROW_NUMBER() OVER (PARTITION BY component
                              ORDER BY p_retailprice DESC, p_partkey) AS rk,
           COUNT(*) OVER (PARTITION BY component) AS n_members,
           MIN(p_partkey) OVER (PARTITION BY component) AS cluster_id,
           MIN(p_retailprice) OVER (PARTITION BY component) AS min_price,
           MAX(p_retailprice) OVER (PARTITION BY component) AS max_price
    FROM members
)
SELECT cluster_id, n_members,
       p_partkey AS golden_key, p_name AS golden_name,
       ROUND(p_retailprice, 2) AS golden_price,
       ROUND(max_price - min_price, 2) AS price_spread
FROM surv WHERE rk = 1
ORDER BY cluster_id
"""


def _union_find_components(pairs):
    """(key -> min-member component id) over every key in the pair list."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]  # path halving
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {k: find(k) for k in parent}


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.path.join(REPO, "localdata", "sf1")

    spark = session(8, driver_memory=os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))

    con = duckdb.connect()
    for t in TABLES:
        src = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(src):
            src = f"{src}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")

    results: dict[str, dict] = {}

    def record(name, s_cols, s_rows, d_cols, d_rows, t0):
        problems = compare_frames(s_cols, s_rows, d_cols, d_rows)
        if problems:
            results[name] = {"status": "mismatch", "problems": problems}
            print(f"FAIL  {name}: {'; '.join(problems)}")
        else:
            results[name] = {"status": "hash_match", "rows": len(s_rows)}
            print(f"ok    {name}: {len(s_rows)} rows ({time.time() - t0:.1f}s)")

    artifact = os.path.join(REPO, "CORRECTNESS_LOCAL_SF1E.json")

    def flush():
        with open(artifact, "w") as fh:
            json.dump(
                {
                    "sf_dir": sf_dir,
                    "n_queries": len(results),
                    "n_hash_match": sum(
                        1 for r in results.values() if r["status"] == "hash_match"
                    ),
                    "er_golden_oracle": "union-find CC + DuckDB survivorship "
                    "(recursive closure quadratic at sf1 — see module docstring)",
                    "results": results,
                },
                fh,
                indent=2,
            )

    # er_golden_records FIRST (the round-5/6 brief item this artifact
    # exists for): union-find CC + DuckDB survivorship (see module doc)
    t0 = time.time()
    sdf = QUERIES["er_golden_records"](spark, sf_dir)
    s_cols, s_rows = sdf.columns, [tuple(r) for r in sdf.collect()]
    comp = _union_find_components(con.execute(_ER_PAIRS_SQL).fetchall())
    con.execute("CREATE TEMP TABLE comp (p_partkey BIGINT, component BIGINT)")
    con.executemany(
        "INSERT INTO comp VALUES (?, ?)", list(comp.items())
    )
    res = con.execute(_ER_TAIL_SQL)
    record(
        "er_golden_records",
        s_cols,
        s_rows,
        [d[0] for d in res.description],
        res.fetchall(),
        t0,
    )
    flush()

    for name in PLAIN:
        t0 = time.time()
        sdf = QUERIES[name](spark, sf_dir)
        s_cols, s_rows = sdf.columns, [tuple(r) for r in sdf.collect()]
        res = con.execute(ORACLE_SQL[name])
        record(name, s_cols, s_rows, [d[0] for d in res.description], res.fetchall(), t0)
        flush()

    print(f"wrote {artifact}")
    spark.stop()
    if any(r["status"] != "hash_match" for r in results.values()):
        sys.exit(1)


if __name__ == "__main__":
    main()
