"""Catalog sanity inside pytest: a representative subset of queries is
compared against its DuckDB oracle at sf0.001 (the full sweep runs via
scripts/graft.py oracle at sf0.01); plus plan-shape assertions that guard
the scale properties .explain() claims."""

import duckdb
import pytest

from tests.conftest import SF_SMOKE
from waterbear_spark.queries.catalog import ORACLE_SQL, QUERIES
from waterbear_spark.queries.tables import TABLES
from waterbear_spark.testing import compare_frames
pytestmark = pytest.mark.smoke  # <10-min certification subset

REPRESENTATIVE = [
    "q1_pricing_summary",
    "asof_last_order",
    "window_topk_parts",
    "dedup_near_minhash",
    "dedup_clusters",
    "embedding_topk",
    "rollup_orders",
]


@pytest.fixture(scope="module")
def oracle():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_SMOKE}/{t}.parquet'")
    yield con
    con.close()


def test_catalog_is_complete():
    assert len(QUERIES) >= 27
    assert set(ORACLE_SQL) <= set(QUERIES)


def test_no_query_name_registered_twice():
    """Every module registers its own names: a name in two modules would
    let merge order silently pick one callable (or oracle)."""
    from collections import Counter

    from waterbear_spark.queries import catalog

    for attr in ("QUERIES", "ORACLES"):
        counts = Counter(k for m in catalog._MODULES for k in getattr(m, attr))
        assert [k for k, n in counts.items() if n > 1] == [], attr


def test_every_query_has_a_docstring():
    """Introspection contract (r10 advisor): a catalog query whose doc
    is a ``"..." .format(...)`` expression statement has __doc__ None —
    the idiom was scrubbed in r11; this pins it out for good."""
    missing = [k for k, fn in QUERIES.items() if not getattr(fn, "__doc__", None)]
    assert missing == []


@pytest.mark.parametrize("name", REPRESENTATIVE)
def test_query_matches_oracle(spark, oracle, name):
    sdf = QUERIES[name](spark, SF_SMOKE)
    s_rows = [tuple(r) for r in sdf.collect()]
    res = oracle.execute(ORACLE_SQL[name])
    d_cols = [d[0] for d in res.description]
    d_rows = res.fetchall()
    assert compare_frames(sdf.columns, s_rows, d_cols, d_rows) == []


def test_equidepth_histogram_tiny_input(spark, tmp_path):
    """n_total < bucket count: NTILE emits fewer buckets; the rank
    arithmetic must drop its zero-size tiles instead of letting their
    degenerate boundary ranks land inside other tiles."""
    from waterbear_spark.queries import relational_ext

    rows = [(1, 100.0), (2, 50.0), (3, 300.0), (4, 200.0), (5, 250.0)]
    df = spark.createDataFrame(rows, ["o_orderkey", "o_totalprice"])
    sf = str(tmp_path)
    df.coalesce(1).write.parquet(f"{sf}/orders.parquet")

    sdf = relational_ext.equidepth_histogram(spark, sf)
    s_rows = [tuple(r) for r in sdf.collect()]

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW orders AS SELECT * FROM '{sf}/orders.parquet/*.parquet'"
    )
    res = con.execute(relational_ext.EQUIDEPTH_SQL)
    d_cols = [d[0] for d in res.description]
    d_rows = res.fetchall()
    con.close()
    assert compare_frames(sdf.columns, s_rows, d_cols, d_rows) == []


def test_coverage_doc_counts_match():
    """COVERAGE.md's harness block states the catalog size; it must not
    drift from the real registry (the round-2 review caught it stale)."""
    import pathlib
    import re

    doc = (pathlib.Path(__file__).parents[1] / "COVERAGE.md").read_text()
    m = re.search(r"(\d+) catalog queries; (\d+) with exact DuckDB oracles", doc)
    assert m, "COVERAGE.md harness block missing the catalog-count line"
    assert int(m.group(1)) == len(QUERIES)
    assert int(m.group(2)) == len(ORACLE_SQL)


def test_no_python_udf_anywhere(spark):
    """Every catalog query stays JVM-side — except the pandas_* entries,
    which exist precisely to exercise the Arrow-batched UDF surface (and
    must use ArrowEvalPython / FlatMapGroupsInPandas, never row-at-a-time
    BatchEvalPython)."""
    # embedding_knn_label is deliberately Arrow+BLAS: bucketed matmul is
    # the one family where numpy beats Catalyst (see its docstring)
    arrow_allowed = {"embedding_knn_label"}
    # udtf_* deliberately exercises the Python UDTF (table function)
    # surface — the one sanctioned row-wise generator
    udtf_allowed = {"udtf_tokenize"}
    for name, fn in QUERIES.items():
        plan = fn(spark, SF_SMOKE)._jdf.queryExecution().executedPlan().toString()
        if name in udtf_allowed:
            assert "EvalPythonUDTF" in plan, f"{name} should run a UDTF"
        elif name.startswith("pandas_") or name in arrow_allowed:
            assert "BatchEvalPython" not in plan, f"{name} is row-at-a-time"
        else:
            assert "EvalPython" not in plan, f"{name} falls back to Python"


def test_q1_plan_is_scan_plus_hashagg(spark):
    plan = (
        QUERIES["q1_pricing_summary"](spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "HashAggregate" in plan
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_q5_broadcasts_dimensions(spark):
    plan = (
        QUERIES["q5_region_revenue"](spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("BroadcastHashJoin") >= 4
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_priority_window_integrity():
    """The driver validates the first 50 catalog entries in dict order;
    the rotation machinery must keep that window well-formed: no
    duplicates anywhere, and the catalog ordered least-recently-driver-
    verified first (genuine round-robin — nothing parks permanently
    outside the window)."""
    from waterbear_spark.queries import catalog

    names = list(catalog.QUERIES)
    assert len(names) == len(set(names))

    # sorted by (last verified round, name): stalest evidence rotates to
    # the front, never-verified (round 0) before all
    last = catalog._last_verified_round()
    assert names == sorted(names, key=lambda k: (last.get(k, 0), k))

    window = names[:50]
    rows_only = [k for k in window if k not in catalog.ORACLE_SQL]
    assert rows_only in ([], ["approx_distinct"]), rows_only
