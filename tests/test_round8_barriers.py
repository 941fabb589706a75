"""Structural guard from the round-8 postmortems.

The Generate materialization barrier: the three shingle-exploding
queries that regressed to quadratic per-doc cost when their persists
were dropped (bloom 21 s, novelty 21 s, contamination 50 s at sf0.1;
2.1/1.5/1.8 s with the barrier) must keep a cached relation in their
physical plans — the plan-level witness that the explode reads a
materialized shingle-set frame instead of re-evaluating it.
"""

import pytest

from tests.conftest import SF_SMOKE
from waterbear_spark.queries.wave24 import contamination_ngram_sweep
from waterbear_spark.queries.wave26 import bloom_decontaminate
from waterbear_spark.queries.wave27 import novelty_profile_by_source

pytestmark = pytest.mark.usefixtures("spark")


@pytest.mark.parametrize(
    "fn",
    [bloom_decontaminate, novelty_profile_by_source, contamination_ngram_sweep],
    ids=lambda f: f.__name__,
)
def test_shingle_explode_reads_cached_frame(spark, fn):
    spark.catalog.clearCache()
    try:
        plan = (
            fn(spark, SF_SMOKE)._jdf.queryExecution().executedPlan().toString()
        )
    finally:
        spark.catalog.clearCache()
    assert "InMemoryTableScan" in plan or "InMemoryRelation" in plan, (
        f"{fn.__name__} lost its materialization barrier — the shingle "
        "explode re-evaluates the array expression per output row "
        "(quadratic per doc; see SCALE.md round-8 results)"
    )
