"""Staged ANN index store (sources/ann_index.py): the round-9
ship-the-index-as-a-table layer behind ``llm._ivf_index`` and
``wave20._pq_codes``.

Contract under test:
* a staged component round-trips bit-exactly (staged read == the build
  it came from);
* the meta contract invalidates on ANY drift — corpus fingerprint or
  quantizer dial — and on absence/corruption;
* writes are atomic (no partial component is ever readable, no tmp
  debris survives);
* the end-to-end path: an IVF index staged by one "session" and read
  back produces the identical cells relation a fresh build produces.
"""

import json
import os

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from waterbear_spark import scope
from waterbear_spark.sources import ann_index as store


def _fp_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_roundtrip_and_meta_gate(spark, tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_ANN_INDEX_DIR", str(tmp_path))
    path = store.component_dir("/some/corpus", "ivf")
    frames = {
        "cells": spark.createDataFrame(
            [(1, 0), (2, 1), (3, 0)], "vec_id long, cell int"
        ),
        "centroids": spark.createDataFrame(
            [(0, [1.0, 2.0]), (1, [3.0, 4.0])], "cluster int, c array<double>"
        ),
    }
    meta = {"n": 3, "max_vec_id": 3, "sum_vec_id": 6, "k1": 1, "k2": 2}
    store.staged_write(spark, path, frames, meta)

    got = store.staged_read(spark, path, meta)
    assert got is not None and set(got) == {"cells", "centroids"}
    assert _fp_rows(got["cells"]) == _fp_rows(frames["cells"])
    assert _fp_rows(got["centroids"]) == _fp_rows(frames["centroids"])

    # any meta drift reads as absent: data fingerprint or a dial
    assert store.staged_read(spark, path, {**meta, "n": 4}) is None
    assert store.staged_read(spark, path, {**meta, "k2": 3}) is None
    # absence and corruption read as absent
    assert store.staged_read(spark, store.component_dir("/x", "ivf"), meta) is None
    with open(os.path.join(path, "meta.json"), "w") as fh:
        fh.write("{not json")
    assert store.staged_read(spark, path, meta) is None


def test_restage_replaces_and_leaves_no_debris(spark, tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_ANN_INDEX_DIR", str(tmp_path))
    path = store.component_dir("/c", "ivf")
    old = {"cells": spark.createDataFrame([(1, 0)], "vec_id long, cell int")}
    new = {"cells": spark.createDataFrame([(1, 5)], "vec_id long, cell int")}
    store.staged_write(spark, path, old, {"n": 1, "rev": 1})
    store.staged_write(spark, path, new, {"n": 1, "rev": 2})
    assert store.staged_read(spark, path, {"n": 1, "rev": 1}) is None
    got = store.staged_read(spark, path, {"n": 1, "rev": 2})
    assert _fp_rows(got["cells"]) == [(1, 5)]
    # no tmp or renamed-aside siblings survive (the restage swap renames
    # the old component aside rather than rmtree-ing it in place, so the
    # path is never observed absent — but the aside copy must be reaped)
    parent = os.path.dirname(path)
    assert [d for d in os.listdir(parent) if ".tmp-" in d or ".old-" in d] == []


def test_failed_swap_restores_old_stage(spark, tmp_path, monkeypatch):
    """If the tmp->path swap fails for a reason OTHER than a concurrent
    winner (path absent afterwards), the renamed-aside old stage must be
    restored and the failure surfaced — never 'success' with the
    component silently absent (round-10 advisor finding)."""
    import pytest

    monkeypatch.setenv("SPARK_GRAFT_ANN_INDEX_DIR", str(tmp_path))
    path = store.component_dir("/c", "ivf")
    old = {"cells": spark.createDataFrame([(1, 0)], "vec_id long, cell int")}
    new = {"cells": spark.createDataFrame([(1, 5)], "vec_id long, cell int")}
    store.staged_write(spark, path, old, {"n": 1, "rev": 1})

    real_rename = os.rename

    def failing_rename(src, dst):
        if ".tmp-" in src and dst == path:
            raise OSError("simulated swap failure")
        return real_rename(src, dst)

    monkeypatch.setattr(store.os, "rename", failing_rename)
    with pytest.raises(OSError, match="simulated swap failure"):
        store.staged_write(spark, path, new, {"n": 1, "rev": 2})
    monkeypatch.setattr(store.os, "rename", real_rename)

    # the OLD complete stage is back at path, and no debris survives
    got = store.staged_read(spark, path, {"n": 1, "rev": 1})
    assert got is not None and _fp_rows(got["cells"]) == [(1, 0)]
    parent = os.path.dirname(path)
    assert [d for d in os.listdir(parent) if ".tmp-" in d or ".old-" in d] == []


def test_corpus_fingerprint_matches_sql(spark):
    fp = store.corpus_fingerprint(spark, SF_SMOKE)
    emb = spark.read.parquet(os.path.join(SF_SMOKE, "embeddings.parquet"))
    row = emb.agg(
        F.count(F.lit(1)),
        F.min("vec_id"),
        F.max("vec_id"),
        F.sum("vec_id"),
        F.expr("bit_xor(xxhash64(vec_id, embedding))"),
    ).collect()[0]
    assert (
        fp["n"],
        fp["min_vec_id"],
        fp["max_vec_id"],
        fp["sum_vec_id"],
        fp["content_hash"],
    ) == tuple(row)


def test_fingerprint_sees_value_changes_under_same_ids(spark, tmp_path):
    """Regenerating embedding VALUES with unchanged vec_ids must change
    the fingerprint (the advisor's round-9 staleness gap): id-shape
    fields (n/min/max/sum) agree, the content hash must not."""
    a_dir, b_dir = str(tmp_path / "a"), str(tmp_path / "b")
    rows_a = [(i, [float(i), 1.0]) for i in range(5)]
    rows_b = [(i, [float(i), 2.0]) for i in range(5)]
    schema = "vec_id long, embedding array<float>"
    spark.createDataFrame(rows_a, schema).write.parquet(
        os.path.join(a_dir, "embeddings.parquet")
    )
    spark.createDataFrame(rows_b, schema).write.parquet(
        os.path.join(b_dir, "embeddings.parquet")
    )
    fa = store.corpus_fingerprint(spark, a_dir)
    fb = store.corpus_fingerprint(spark, b_dir)
    for k in ("n", "min_vec_id", "max_vec_id", "sum_vec_id"):
        assert fa[k] == fb[k]
    assert fa["content_hash"] != fb["content_hash"]


def test_staged_ivf_equals_fresh_build(spark, tmp_path, monkeypatch):
    """End to end through llm._ivf_index: build+stage in one 'session'
    (memo cleared to simulate a new one), then a staged read must hand
    back the identical cells/centroids relations."""
    from waterbear_spark.queries import llm

    monkeypatch.setenv("SPARK_GRAFT_ANN_INDEX_DIR", str(tmp_path))
    scope.forget()
    built_cells, built_cent, params = llm._ivf_index(spark, SF_SMOKE)
    built = (_fp_rows(built_cells), _fp_rows(built_cent))
    # the stage must exist and carry the dials
    slug_dir = store.component_dir(SF_SMOKE, "ivf")
    meta = json.load(open(os.path.join(slug_dir, "meta.json")))
    assert meta["meta"]["k1"] == params["k1"]

    scope.forget()  # new "session": must hit the staged path
    staged_cells, staged_cent, params2 = llm._ivf_index(spark, SF_SMOKE)
    assert params2 == params
    assert (_fp_rows(staged_cells), _fp_rows(staged_cent)) == built
    built_cells.unpersist()
    built_cent.unpersist()
    staged_cells.unpersist()
    staged_cent.unpersist()
    scope.forget()


def test_rebuild_path_serves_staged_relations(spark, tmp_path, monkeypatch):
    """After a from-scratch build stages the index, the memoised frames
    must be the STAGED parquet relations, not the build lineage: a later
    ``clearCache()`` (bench iterations run one per pass) must leave every
    consumer re-reading two small tables — never re-running the k-means
    build — and plan lint must hold without cache state (the
    ``ann_index_manifest`` BroadcastNestedLoopJoin flake)."""
    from waterbear_spark.queries import llm, wave20, wave30

    monkeypatch.setenv("SPARK_GRAFT_ANN_INDEX_DIR", str(tmp_path))
    scope.forget()
    try:
        cells, cent, _params = llm._ivf_index(spark, SF_SMOKE)
        codes, cb = wave20._pq_codes(spark, SF_SMOKE)
        spark.catalog.clearCache()
        for df in (cells, cent, codes, cb):
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "FileScan parquet" in plan
            assert "BroadcastNestedLoopJoin" not in plan
        manifest_plan = (
            wave30.ann_index_manifest(spark, SF_SMOKE)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BroadcastNestedLoopJoin" not in manifest_plan
    finally:
        spark.catalog.clearCache()
        scope.forget()
