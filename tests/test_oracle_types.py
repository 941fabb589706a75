"""Every oracle's output schema must collect to clean primitive types.

DuckDB widens SUM-over-integer to HUGEINT and keeps DECIMAL aggregates
decimal; both surface as float64/decimal128 when a harness collects via
pandas/arrow, normalizing "5" into "5.0" and breaking the cross-engine
value hash even on identical data (the round-1 failure mode of
``interval_peak_concurrency`` / ``rollup_cascade``). This test is the
sweep (the one-off ``scripts/audit_types.py``, last held by commit
``bcd9c6e``, ran the same one), so a new oracle can't reintroduce the
escape.
"""

from __future__ import annotations

import duckdb
import pytest

from tests.conftest import SF_SMOKE
from waterbear_spark.queries.catalog import ORACLE_SQL
from waterbear_spark.queries.tables import TABLES

CLEAN_DUCK = {
    "BIGINT", "INTEGER", "SMALLINT", "TINYINT", "DOUBLE", "FLOAT",
    "VARCHAR", "DATE", "TIMESTAMP", "TIMESTAMP_NS", "BOOLEAN",
    "TIMESTAMP WITH TIME ZONE",
}


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_SMOKE}/{t}.parquet'")
    return c


def test_no_wide_types_escape_any_oracle(con):
    flagged = []
    for name, sql in sorted(ORACLE_SQL.items()):
        rel = con.sql(sql)
        bad = [
            f"{c}:{t}"
            for c, t in zip(rel.columns, [str(t) for t in rel.types])
            if t not in CLEAN_DUCK
            and not t.startswith(("VARCHAR", "LIST", "STRUCT"))
        ]
        if bad:
            flagged.append(f"{name}: {', '.join(bad)}")
    assert flagged == []
