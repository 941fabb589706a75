"""Boundary sweep: every catalog query must execute (plan + run to
completion) over ZERO-ROW tables without raising. Empty partitions are
routine at 100 TB (a filter that eliminates a day, a new tenant, a
just-created stream) — an operator that throws on empty input is a
pager at 3am. Row counts may legitimately be 0 or small (global
aggregates produce one row of nulls/zeros); the contract here is "no
crash", plus schema stability against the non-empty run. Each query runs
inside ``query_scope`` and must leave no persisted RDD behind."""

import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from waterbear_spark.queries.catalog import QUERIES
from waterbear_spark.queries.tables import TABLES, table
from waterbear_spark.scope import persisted_ids, query_scope

# iterative/loop queries whose fixpoint scaffolding is exercised
# elsewhere and which would spend many empty jobs here — still required
# not to crash, just sampled separately to keep the sweep fast
_SLOW = {"ann_ivf_kmeans"}


@pytest.fixture(scope="module")
def empty_sf(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("empty_sf"))
    for name in TABLES:
        df = table(spark, SF_SMOKE, name)
        df.filter(F.lit(False)).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(path, f"{name}.parquet")
        )
    return path


@pytest.mark.parametrize(
    "name", sorted(n for n in QUERIES if n not in _SLOW)
)
def test_runs_on_empty_input(spark, empty_sf, name):
    before = persisted_ids(spark)
    with query_scope(spark):
        df = QUERIES[name](spark, empty_sf)
        rows = df.collect()
    assert rows is not None  # completing without raising is the contract
    assert persisted_ids(spark) - before == set()


def test_sampled_iterative_on_empty(spark, empty_sf):
    before = persisted_ids(spark)
    with query_scope(spark):
        QUERIES["ann_ivf_kmeans"](spark, empty_sf).collect()
    assert persisted_ids(spark) - before == set()
