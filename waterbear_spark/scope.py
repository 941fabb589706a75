"""Lifetimes of cached intermediates: the only code that decides what
outlives a statement.

The rule. Builders cache (``persist``) and cut lineage (``checkpoint``)
through this module, never with the DataFrame calls. Inside
``query_scope(spark)`` each cache and checkpoint is recorded and released
when the scope exits, so a query run in a scope leaves the session as it
found it. A builder that is done with a cache before it returns gives it
back early with ``release``. Outside any scope nothing is recorded and each
helper is the plain Spark call: a cache lives until the caller clears it
(``clearCache()``) or the session ends, a local checkpoint until the
session ends.

``memo`` keeps values across the statements of one application: table
readers, scalars, index relations. A memoised plan outlives the scope
that built it, but the cache under it does not: it is released with that
scope and the plan recomputes from its lineage on the next use. A plan
that reads a released checkpoint cannot recompute, so an entry whose
build checkpointed, or read such an entry, is forgotten with its scope.

Two facts of Spark 4.1 shape the bookkeeping:

* ``DataFrame.persist()`` adds no RDD id until the frame is first
  materialized, so persisted *frames* are recorded and released with
  ``DataFrame.unpersist()``, which goes through the CacheManager.
* ``localCheckpoint``, eager or not, persists its RDD at call time, and
  ``DataFrame.unpersist`` never reaches that RDD, so checkpoints are
  recorded by RDD id: the largest id in ``getPersistentRDDs()`` right
  after the call. RDD ids grow in creation order, and the checkpoint's
  RDD is the last one the call makes; under AQE the call first runs query
  stages, which can materialize upstream caches too. The maximum is taken
  on the JVM: iterating the id set through py4j costs about 2 ms per id
  (measured on a 4-vCPU host).
"""

from __future__ import annotations

import contextlib
import functools
import threading
import weakref
from collections.abc import Callable, Hashable, Iterator
from typing import Any

from pyspark.sql import DataFrame, SparkSession

_MEMO: dict = {}
_CHECKPOINT_RDD = weakref.WeakKeyDictionary()  # checkpoint frame -> its RDD id
_open = threading.local()


class _Scope:
    """What one open scope releases on exit. ``cuts`` counts the
    checkpoints made inside it and the reads of memo entries that are
    forgotten with an open scope: a memo build that moves it is forgotten
    with this scope."""

    def __init__(self) -> None:
        self.frames, self.rdd_ids, self.memo_keys, self.cuts = [], [], set(), 0


def _scopes() -> list[_Scope]:
    """This thread's open scopes, innermost last."""
    return _open.__dict__.setdefault("scopes", [])


def persisted_ids(spark: SparkSession) -> set[int]:
    """Ids of the session's persisted RDDs (caches and checkpoints)."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _drop_rdd(spark: SparkSession, rdd_id: int) -> None:
    rdd = spark.sparkContext._jsc.getPersistentRDDs().get(rdd_id)
    if rdd is not None:
        rdd.unpersist(False)


def persist(df: DataFrame, eager: bool = False) -> DataFrame:
    """``df.persist()``, materialized at once by a count when ``eager``,
    and released when the enclosing scope exits."""
    df = df.persist()
    if _scopes():
        _scopes()[-1].frames.append(df)
    if eager:
        df.count()
    return df


def checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    """``df.localCheckpoint(eager)``, released when the enclosing scope
    exits or by ``release``."""
    ckpt = df.localCheckpoint(eager)
    spark = df.sparkSession
    ids = spark.sparkContext._jsc.getPersistentRDDs().keySet()
    rdd_id = _CHECKPOINT_RDD[ckpt] = spark._jvm.java.util.Collections.max(ids)
    if _scopes():
        _scopes()[-1].rdd_ids.append(rdd_id)
        _scopes()[-1].cuts += 1
    return ckpt


def release(*frames: DataFrame) -> None:
    """Release caches and checkpoints made by ``persist`` / ``checkpoint``
    before the scope ends (a second release at scope exit is a no-op)."""
    for df in frames:
        if df in _CHECKPOINT_RDD:
            _drop_rdd(df.sparkSession, _CHECKPOINT_RDD.pop(df))
        else:
            df.unpersist()


@contextlib.contextmanager
def query_scope(spark: SparkSession) -> Iterator[None]:
    """Run a statement (build plus actions): on exit, release every cache
    and checkpoint recorded inside and forget the memo entries that read
    released checkpoints."""
    scope = _Scope()
    _scopes().append(scope)
    try:
        yield
    finally:
        _scopes().remove(scope)
        for key in scope.memo_keys:
            _MEMO.pop(key, None)
        for df in reversed(scope.frames):  # dependents before their inputs
            df.unpersist()
        for rdd_id in scope.rdd_ids:
            _drop_rdd(spark, rdd_id)


def memo(spark: SparkSession, key: Hashable, build: Callable[[], Any]) -> Any:
    """``build()``, computed once per (application, key)."""
    full = (spark.sparkContext.applicationId, key)
    scopes = _scopes()
    if full in _MEMO:
        if any(full in s.memo_keys for s in scopes):
            scopes[-1].cuts += 1
        return _MEMO[full]
    cuts = scopes[-1].cuts if scopes else 0
    value = _MEMO[full] = build()
    if scopes and scopes[-1].cuts != cuts:
        scopes[-1].memo_keys.add(full)
    return value


def memoised(fn: Callable) -> Callable:
    """Decorator: ``fn(spark, *args)`` through ``memo``, keyed by the
    function and ``str`` of each argument."""

    @functools.wraps(fn)
    def wrapper(spark: SparkSession, *args: Any) -> Any:
        key = (fn.__module__, fn.__qualname__, *map(str, args))
        return memo(spark, key, lambda: fn(spark, *args))

    return wrapper


def forget() -> None:
    """Drop every memo entry (a new application's view of the memos)."""
    _MEMO.clear()
