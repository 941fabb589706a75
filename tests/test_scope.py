"""waterbear_spark/scope.py: the one owner of cached intermediates.

A source census keeps every persist, checkpoint, unpersist and memo
dict in scope.py; unit tests pin what a scope records and releases; and
the catalog queries that used to leak leave no persisted RDD behind when
run inside ``query_scope``."""

import pathlib
import re

import pytest
from pyspark.sql import functions as F

import waterbear_spark
from tests.conftest import SF_SMOKE
from waterbear_spark import scope
from waterbear_spark.queries.catalog import QUERIES
from waterbear_spark.scope import persisted_ids, query_scope

_ROOT = pathlib.Path(waterbear_spark.__file__).parent
_CACHE_CALL = re.compile(
    r"(?<!scope)\.(persist|cache|unpersist|checkpoint)\(|localCheckpoint\("
)
_MEMO_DICT = re.compile(r"^\w*MEMO\w*\s*(:[^=]*)?=")


def _census(pat: re.Pattern) -> list[str]:
    return [
        f"{p.relative_to(_ROOT)}:{i}"
        for p in sorted(_ROOT.rglob("*.py"))
        if p.name != "scope.py" or p.parent != _ROOT
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if pat.search(line)
    ]


def test_cache_calls_only_in_scope_module():
    """Only scope.py decides what outlives a statement: no ``.persist(``,
    ``.cache(``, ``.unpersist(``, ``.checkpoint(`` or ``localCheckpoint(``
    anywhere else in the package."""
    assert _census(_CACHE_CALL) == []


def test_memo_dicts_only_in_scope_module():
    """No module-level memo dict outside scope.py: memos go through
    ``scope.memo`` / ``scope.memoised``."""
    assert _census(_MEMO_DICT) == []


def test_scope_releases_persisted_frames(spark):
    before = persisted_ids(spark)
    with query_scope(spark):
        df = scope.persist(spark.range(100).withColumn("x", F.col("id") * 2))
        assert df.count() == 100
        assert persisted_ids(spark) - before
    assert persisted_ids(spark) - before == set()


def test_scope_releases_lazy_and_eager_checkpoints(spark):
    before = persisted_ids(spark)
    with query_scope(spark):
        lazy = scope.checkpoint(spark.range(10), eager=False)
        eager = scope.checkpoint(spark.range(20))
        assert len(persisted_ids(spark) - before) == 2
        assert lazy.count() + eager.count() == 30
    assert persisted_ids(spark) - before == set()


def test_release_drops_the_checkpoint_not_the_cache_it_materialized(spark):
    """Building a lazy checkpoint over an unmaterialized cache runs query
    stages that fill the cache: the call adds two persisted RDDs, and
    ``release`` of the checkpoint must drop only its own."""
    before = persisted_ids(spark)
    base = scope.persist(spark.range(1000))
    ckpt = scope.checkpoint(
        base.groupBy((F.col("id") % 7).alias("k")).count(), eager=False
    )
    assert len(persisted_ids(spark) - before) == 2
    scope.release(ckpt)
    assert len(persisted_ids(spark) - before) == 1
    assert base.count() == 1000
    scope.release(base)
    assert persisted_ids(spark) - before == set()


def test_outside_a_scope_nothing_is_recorded(spark):
    before = persisted_ids(spark)
    df = scope.persist(spark.range(7))
    ckpt = scope.checkpoint(spark.range(8))
    df.count()
    with query_scope(spark):
        pass
    assert len(persisted_ids(spark) - before) == 2
    scope.release(df, ckpt)
    assert persisted_ids(spark) - before == set()


def test_release_inside_a_scope_is_idempotent(spark):
    before = persisted_ids(spark)
    with query_scope(spark):
        df = scope.persist(spark.range(5))
        ckpt = scope.checkpoint(spark.range(6))
        df.count()
        scope.release(df, ckpt)
        assert persisted_ids(spark) - before == set()
    assert persisted_ids(spark) - before == set()


def test_memo_keeps_plans_and_forgets_checkpoint_readers(spark):
    """A memoised plan outlives its scope and still runs once its cache
    is released; an entry built over a checkpoint, or over such an
    entry, is forgotten with the scope that released the checkpoint."""
    builds = []

    def cached():
        builds.append("cached")
        return scope.persist(spark.range(30))

    def cut():
        builds.append("cut")
        return scope.checkpoint(spark.range(40), eager=False)

    def over_cut():
        builds.append("over_cut")
        return scope.memo(spark, "t-cut", cut).filter("id < 10")

    try:
        with query_scope(spark):
            assert scope.memo(spark, "t-cached", cached).count() == 30
            assert scope.memo(spark, "t-over", over_cut).count() == 10
        with query_scope(spark):
            assert scope.memo(spark, "t-cached", cached).count() == 30
            assert scope.memo(spark, "t-over", over_cut).count() == 10
        assert builds == ["cached", "over_cut", "cut", "over_cut", "cut"]
    finally:
        scope.forget()


@pytest.mark.parametrize(
    "name",
    [
        "pagerank_bipartite",
        "dedup_near_minhash_capped",
        "contamination_ngram_sweep",
        "ann_index_manifest",
    ],
)
def test_query_in_scope_leaves_nothing_persisted(spark, name):
    """Queries that left 7, 2, 4 and 4 persisted RDDs at sf0.001 before
    scope.py owned their caches leave none when run in a query scope."""
    before = persisted_ids(spark)
    with query_scope(spark):
        assert QUERIES[name](spark, SF_SMOKE).collect()
    assert persisted_ids(spark) - before == set()
