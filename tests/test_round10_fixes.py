"""Round-10 advisor fixes: the sparse-vec_id training-prefix guard in
the PQ and IVF builders (ADVICE r9: a corpus whose vec_ids all sit at or
above the training cap seeded an EMPTY codebook, and ``_kmeans``'s
empty-init branch silently returned an empty assignment — with the
oracle mirroring the bug, so certification could not catch it).

The guard: ``corpus_fingerprint`` now carries ``min_vec_id``; when no id
falls under the cap, training falls back to the full relation (the
pre-sample recipe) on the Spark side, and the oracle CTEs mirror it with
a ``NOT EXISTS`` branch — so the fix itself stays cross-engine-certified
on exactly the corpus shape that used to break.
"""

import os

import duckdb
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE

from waterbear_spark import scope
from waterbear_spark.queries import llm, wave20
from waterbear_spark.testing import compare_frames

_OFFSET = 20000  # > both training caps (PQ 16384, IVF max(16384, 32*kneed))


@pytest.fixture()
def sparse_corpus(spark, tmp_path, monkeypatch):
    """A tiny embeddings corpus whose vec_ids ALL exceed the training
    caps, with a fresh staged-index dir and cleared memos."""
    monkeypatch.setenv("SPARK_GRAFT_ANN_INDEX_DIR", str(tmp_path / "idx"))
    sf_dir = str(tmp_path / "corpus")
    rows = [
        (_OFFSET + i, [float((7 * i + j * j) % 13) for j in range(8)])
        for i in range(24)
    ]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).write.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    scope.forget()
    yield sf_dir
    scope.forget()


def _duck(sf_dir: str, sql: str):
    con = duckdb.connect()
    glob = os.path.join(sf_dir, "embeddings.parquet", "*.parquet")
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{glob}')"
    )
    res = con.execute(sql)
    return [d[0] for d in res.description], res.fetchall()


def test_pq_codes_nonempty_on_sparse_ids(spark, sparse_corpus):
    codes, cb = wave20._pq_codes(spark, sparse_corpus)
    n_codes = codes.filter(F.col("code").isNotNull()).count()
    assert n_codes == 24 * wave20._PQ_M  # every (vector, subspace) coded
    assert cb.count() > 0


def test_pq_audit_oracle_parity_on_sparse_ids(spark, sparse_corpus):
    sdf = wave20.pq_reconstruction_audit(spark, sparse_corpus)
    d_cols, d_rows = _duck(sparse_corpus, wave20.PQ_AUDIT_SQL)
    assert compare_frames(sdf.columns, sdf.collect(), d_cols, d_rows) == []


def test_ivf_cells_assigned_on_sparse_ids(spark, sparse_corpus):
    cells, centroids, params = llm._ivf_index(spark, sparse_corpus)
    assert cells.filter(F.col("cell").isNotNull()).count() == 24
    assert centroids.count() > 0


def test_ivf_kmeans_oracle_parity_on_sparse_ids(spark, sparse_corpus):
    sdf = llm.ann_ivf_kmeans(spark, sparse_corpus)
    d_cols, d_rows = _duck(sparse_corpus, llm.ANN_IVF_SQL)
    assert compare_frames(sdf.columns, sdf.collect(), d_cols, d_rows) == []


# ---------------------------------------------------------------------------
# max_band_degree: the LSH hub dial (r9 verdict ask #6)
# ---------------------------------------------------------------------------

from waterbear_spark.queries.llm import _band_candidates, dedup_near_minhash


def _bands_frame(spark):
    """A planted band graph: a 200-doc boilerplate HUB on one band key
    (the template-document pathology the degree census pre-flights),
    plus genuine pair keys — three that ALSO ride the hub and one that
    does not."""
    rows = [(i, 0, "HUB") for i in range(200)]
    rows += [(0, 1, "P01"), (1, 1, "P01")]
    rows += [(2, 1, "P23"), (3, 1, "P23")]
    rows += [(4, 2, "P45"), (5, 2, "P45")]
    rows += [(500, 2, "Q"), (501, 2, "Q")]
    return spark.createDataFrame(rows, "doc_id long, band int, bkey string")


def test_band_degree_cap_bounds_hub_candidates(spark):
    bands = _bands_frame(spark)
    uncapped = _band_candidates(bands).count()
    capped = _band_candidates(bands, max_band_degree=16).count()
    # hub alone is C(200,2) = 19900 uncapped; salting into ceil(200/16)
    # = 13 sub-buckets bounds it near 13 * C(~16,2) — an order of
    # magnitude less. Exact counts depend on the salt hash, so assert
    # the bound, not a constant.
    assert uncapped >= 19900
    assert capped < uncapped / 5


def test_band_degree_cap_keeps_non_hub_pairs(spark):
    bands = _bands_frame(spark)
    capped = {
        (r["doc_a"], r["doc_b"])
        for r in _band_candidates(bands, max_band_degree=16).collect()
    }
    uncapped = {
        (r["doc_a"], r["doc_b"])
        for r in _band_candidates(bands).collect()
    }
    # every pair that agrees on a NON-hub band key survives the cap —
    # this is the recall argument: genuine near-dups are caught by the
    # bands the cap never touches
    assert {(0, 1), (2, 3), (4, 5), (500, 501)} <= capped
    assert capped <= uncapped


def test_band_degree_cap_identity_when_above_degrees(spark):
    """A cap at/above every key degree salts everything into one
    sub-bucket — candidates must be IDENTICAL to the unsalted join."""
    bands = _bands_frame(spark)
    a = sorted(map(tuple, _band_candidates(bands).collect()))
    b = sorted(
        map(tuple, _band_candidates(bands, max_band_degree=200).collect())
    )
    assert a == b


def test_dedup_near_minhash_verified_output_stable_under_cap(spark):
    """End to end on the smoke corpus: the verified (jaccard-thresholded)
    near-dup pairs are unchanged under a tight cap — candidates lost to
    hub salting are below-threshold boilerplate collisions or pairs
    re-surfaced by their other bands."""
    base = sorted(map(tuple, dedup_near_minhash(spark, SF_SMOKE).collect()))
    capped = sorted(
        map(
            tuple,
            dedup_near_minhash(spark, SF_SMOKE, max_band_degree=8).collect(),
        )
    )
    assert base == capped


def test_capped_catalog_twin_is_subset_of_uncapped(spark):
    """dedup_near_minhash_capped (the certified dial=2 twin): salting
    only ever REMOVES candidates, so its verified pairs are a subset of
    the uncapped query's — and on the smoke corpus the dial engages
    (strictly fewer rows), so the certified path is the salted join,
    not a degenerate n_sub=1 pass-through."""
    from waterbear_spark.queries.llm import dedup_near_minhash_capped

    capped = {
        (r["doc_a"], r["doc_b"])
        for r in dedup_near_minhash_capped(spark, SF_SMOKE).collect()
    }
    full = {
        (r["doc_a"], r["doc_b"])
        for r in dedup_near_minhash(spark, SF_SMOKE).collect()
    }
    assert capped <= full
