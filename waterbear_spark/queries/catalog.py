"""Unified query registry: every implemented operator from SURVEY.md §2
-> (Spark callable, DuckDB oracle SQL). ``__spark_entry__.py`` re-exports
this for the driver harness.
"""

from __future__ import annotations

from waterbear_spark.functions import udfs
from waterbear_spark.queries import (
    behavior,
    corpusprep,
    graph,
    llm,
    mining,
    multimodal_queries,
    quality_queries,
    reconcile,
    relational,
    relational_ext,
    relational_more,
    retrieval,
    skew_queries,
    sqlsurface,
    streaming_queries,
    textops,
    timeseries,
    tpch_more,
    tpch_rest,
    wave3,
    wave4,
    wave5,
    wave6,
    wave7,
    wave8,
    wave9,
    wave10,
    wave11,
    wave12,
    wave13,
    wave14,
    wave15,
    wave16,
    wave17,
    wave18,
    wave19,
    wave20,
    wave21,
    wave22,
    wave23,
    wave24,
    wave25,
    wave26,
    wave27,
    wave28,
    wave29,
    wave30,
)

# Every module that registers catalog queries, each contributing its
# QUERIES and ORACLES. A name may be registered by one module only
# (tests/test_catalog.py), so no merge silently picks a winner; the
# final order is set by _reorder below.
_MODULES = (
    relational,
    behavior,
    relational_ext,
    relational_more,
    tpch_more,
    tpch_rest,
    graph,
    llm,
    textops,
    quality_queries,
    reconcile,
    multimodal_queries,
    streaming_queries,
    skew_queries,
    sqlsurface,
    corpusprep,
    timeseries,
    retrieval,
    mining,
    wave3,
    wave4,
    wave5,
    wave6,
    wave7,
    wave8,
    wave9,
    wave10,
    wave11,
    wave12,
    wave13,
    wave14,
    wave15,
    wave16,
    wave17,
    wave18,
    wave19,
    wave20,
    wave21,
    wave22,
    wave23,
    wave24,
    wave25,
    wave26,
    wave27,
    wave28,
    wave29,
    wave30,
    # pandas_* queries intentionally exercise the Arrow/pandas UDF surface.
    # Everything else stays UDF-free by policy EXCEPT the documented
    # per-bucket BLAS family (embedding_knn_label, dedup_embedding_cosine,
    # semdedup_cells, knn_hubness_audit): bounded-bucket cosine scoring is the one shape where
    # an Arrow-batched matmul beats Catalyst folds ~8-15x (see SCALE.md)
    udfs,
)

QUERIES = {k: v for m in _MODULES for k, v in m.QUERIES.items()}
ORACLE_SQL = {k: v for m in _MODULES for k, v in m.ORACLES.items()}

# every oracle key must have a query twin (the reverse may lag for
# non-SQL-expressible ops, which get rows-only checks)
assert set(ORACLE_SQL) <= set(QUERIES), "oracle without query"


def _last_verified_round() -> dict[str, int]:
    """name -> latest driver round whose CORRECTNESS_r*.json records a
    passing check (hash match, or rows match for rows-only ops). A failed
    or absent check contributes nothing, so such queries sort as stale."""
    import json
    import re
    from pathlib import Path

    last: dict[str, int] = {}
    root = Path(__file__).resolve().parents[2]
    for path in sorted(root.glob("CORRECTNESS_r*.json")):
        m = re.search(r"r(\d+)", path.stem)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            data = json.loads(path.read_text())
        except (OSError, ValueError):
            continue
        for name, res in data.items():
            if not isinstance(res, dict):
                continue
            ok = res.get("hash_match") or (
                res.get("err") is None and res.get("rows_match")
            )
            if ok:
                last[name] = max(last.get(name, 0), rnd)
    return last


def _reorder(mapping: dict) -> dict:
    """The driver's correctness harness validates the catalog in dict
    order with a bounded window (first 50), so ordering decides which
    operators get cross-engine evidence each round. The order is a
    round-robin driven by the committed evidence itself: least-recently
    driver-verified first (never verified sorts as round 0), name as the
    deterministic tie-break. So the window covers the never-verified
    slice, then the STALEST previously-verified queries; no query parks
    permanently outside it, and a regression in a long-validated query
    resurfaces once its evidence becomes the oldest.
    CORRECTNESS_LOCAL.json (``scripts/graft.py oracle``, full catalog)
    remains the per-round local certification on top."""
    last = _last_verified_round()
    order = sorted(mapping, key=lambda k: (last.get(k, 0), k))
    return {k: mapping[k] for k in order}


QUERIES = _reorder(QUERIES)
ORACLE_SQL = _reorder(ORACLE_SQL)
