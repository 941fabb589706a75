"""Staged ANN index store: ship the IVF(+PQ) index as a table, not a
per-query rebuild.

At production scale an ANN index is BUILT once (a batch job over the
corpus) and SERVED many times (query paths read the staged cells /
centroids / PQ codes from storage) — rebuilding a billion-vector
quantizer inside every search query would be absurd. This module gives
the repo that shape: small parquet relations under
``spark-warehouse/ann_index/<corpus slug>/<component>/`` plus a
``meta.json`` staleness contract, written atomically (tmp dir + rename)
so concurrent sessions never observe a half-staged index.

Staleness contract: the staged component carries the corpus fingerprint
(row count, min/max/sum of ``vec_id`` PLUS an order-insensitive content
hash ``bit_xor(xxhash64(vec_id, embedding))`` — still one column-pruned
aggregate over the embeddings table) and every quantizer dial (k1/k2/cap
for IVF, M/K/iters for PQ). A reader presents the meta it EXPECTS; any
mismatch — data changed, knobs changed — reads as "absent" and triggers
a rebuild-and-restage. The content hash is what makes "regenerate the
embedding VALUES under unchanged vec_ids" read as stale (the round-9
fingerprint was id-shape only and would have served the old index).
Forcing a from-scratch build (the certification / bench twin) is an
empty ``SPARK_GRAFT_ANN_INDEX_DIR``.

Correctness is continuously certified, not assumed: the DuckDB oracles
for the IVF/PQ query family re-derive the index from scratch on every
check, so a staged index only hash-matches if it is bit-identical to a
fresh build — which it is, because the build recipe is deterministic
(see ``llm._ivf_index``) and parquet round-trips int/double exactly.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from waterbear_spark import scope

_REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def store_root() -> str:
    """Root of the staged-index store (env-overridable for tests)."""
    return os.environ.get(
        "SPARK_GRAFT_ANN_INDEX_DIR",
        os.path.join(_REPO, "spark-warehouse", "ann_index"),
    )


def component_dir(sf_dir: str, component: str) -> str:
    slug = "".join(c if c.isalnum() or c in "._-" else "_" for c in str(sf_dir))
    return os.path.join(store_root(), slug, component)


@scope.memoised
def corpus_fingerprint(spark: SparkSession, sf_dir: str) -> dict:
    """(n, min/max/sum of vec_id, content hash) of the embeddings table
    — one column-pruned aggregate, memoised per (application, corpus).

    The content hash is ``bit_xor(xxhash64(vec_id, embedding))``:
    order-insensitive (partition layout cannot move it), overflow-free
    under ANSI (unlike a bigint SUM of hashes), and sensitive to the
    embedding VALUES, not just the id shape — so regenerating vectors
    under the same vec_ids invalidates a staged index instead of
    silently serving the stale one. ``min_vec_id`` additionally lets
    the PQ/IVF builders detect an empty ``vec_id < cap`` training
    prefix (sparse ids) without an extra job."""
    from waterbear_spark.queries.tables import table

    row = (
        table(spark, sf_dir, "embeddings")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("vec_id").alias("mn"),
            F.max("vec_id").alias("mx"),
            F.sum("vec_id").alias("sm"),
            F.expr("bit_xor(xxhash64(vec_id, embedding))").alias("ch"),
        )
        .collect()[0]
    )
    return {
        "n": int(row["n"]),
        "min_vec_id": None if row["mn"] is None else int(row["mn"]),
        "max_vec_id": None if row["mx"] is None else int(row["mx"]),
        "sum_vec_id": None if row["sm"] is None else int(row["sm"]),
        "content_hash": None if row["ch"] is None else int(row["ch"]),
    }


def staged_read(
    spark: SparkSession, path: str, expect_meta: dict
) -> dict[str, DataFrame] | None:
    """Load a staged component iff its meta matches ``expect_meta``
    exactly; None (-> caller rebuilds) on absence or any mismatch."""
    meta_path = os.path.join(path, "meta.json")
    try:
        with open(meta_path) as fh:
            meta = json.load(fh)
    except (OSError, ValueError):
        return None
    frames = meta.get("frames")
    if meta.get("meta") != expect_meta or not frames:
        return None
    out = {}
    for name in frames:
        sub = os.path.join(path, name)
        if not os.path.isdir(sub):
            return None
        out[name] = spark.read.parquet(sub)
    return out


def staged_write(
    spark: SparkSession, path: str, frames: dict[str, DataFrame], meta: dict
) -> None:
    """Atomically (re)stage a component: write every frame plus
    meta.json into a tmp sibling, then swap it onto ``path``. A restage
    renames the OLD directory aside before renaming the new one in —
    never ``rmtree(path)`` first — so no window exposes an absent or
    partial component: a concurrent reader sees either the old complete
    stage or the new one (its lazy scans keep working against the
    renamed-aside files until the final rmtree, by which point any
    meta-checked read has re-resolved). A concurrent winner's directory
    is left in place (it passed the same deterministic build); failures
    leave no debris."""
    tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
    try:
        for name, df in frames.items():
            df.write.mode("overwrite").parquet(os.path.join(tmp, name))
        with open(os.path.join(tmp, "meta.json"), "w") as fh:
            json.dump({"meta": meta, "frames": sorted(frames)}, fh)
        old = None
        if os.path.isdir(path):
            old = f"{path}.old-{uuid.uuid4().hex[:8]}"
            try:
                os.rename(path, old)
            except OSError:  # a concurrent restager moved it first
                old = None
        try:
            os.rename(tmp, path)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)
            if not os.path.isdir(path):
                # Not a concurrent winner: the swap failed for another
                # reason AFTER the old stage was renamed aside. Restore
                # the aside copy so the component is never observed
                # absent, then surface the failure (readers would
                # otherwise silently rebuild every session).
                if old is not None:
                    os.rename(old, path)
                    old = None
                raise
            # else: a concurrent restager won the swap; its complete
            # stage is at ``path`` — fall through and reap our aside copy
        if old is not None:
            shutil.rmtree(old, ignore_errors=True)
    except Exception:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
