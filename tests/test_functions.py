"""Pandas-UDF surface + multimodal plumbing tests."""

import math
import os
import subprocess
import sys
import textwrap

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from waterbear_spark.functions import normalize_embedding, zscore_by_group
from waterbear_spark.functions.multimodal import (
    FEATURE_SCHEMA,
    attach_fake_media,
    decode_media,
    fake_decode_features,
    sample_frames,
)
from waterbear_spark.queries.tables import table


def test_scalar_pandas_udf_normalizes(spark):
    emb = table(spark, SF_SMOKE, "embeddings").limit(20)
    out = emb.select("vec_id", normalize_embedding("embedding").alias("unit"))
    norms = out.select(
        F.aggregate(
            F.transform("unit", lambda x: x * x), F.lit(0.0), lambda a, x: a + x
        ).alias("sq")
    ).collect()
    for row in norms:
        assert math.isclose(row["sq"], 1.0, rel_tol=1e-9)


def test_applyinpandas_zscore_matches_sql(spark):
    docs = table(spark, SF_SMOKE, "documents").select("doc_id", "lang", "n_chars")
    out = zscore_by_group(docs, "lang", "n_chars")
    # z-scores sum to ~0 within each group and have unit variance
    stats = (
        out.groupBy("lang")
        .agg(
            F.round(F.sum("zscore"), 1).alias("s"),
            F.round(F.stddev("zscore"), 1).alias("sd"),
        )
        .collect()
    )
    for row in stats:
        assert row["s"] == 0.0
        assert row["sd"] == 1.0


def test_fake_decode_schema_and_determinism(spark):
    docs = table(spark, SF_SMOKE, "documents").limit(50)
    media = attach_fake_media(docs)
    feats = fake_decode_features(media)
    assert feats.schema == FEATURE_SCHEMA
    rows = {r["media_id"]: r for r in feats.collect()}
    assert len(rows) == 50
    sample = rows["m0"]
    assert sample["n_bytes"] == 128
    assert sample["kind"] == "image"
    assert len(sample["head_hex"]) == 8
    # deterministic: same input -> same features
    again = {r["media_id"]: r for r in fake_decode_features(media).collect()}
    assert {k: tuple(v) for k, v in rows.items()} == {
        k: tuple(v) for k, v in again.items()
    }


def test_decode_media_is_stubbed_without_codecs(spark):
    docs = table(spark, SF_SMOKE, "documents").limit(1)
    media = attach_fake_media(docs)
    try:
        import PIL  # noqa: F401

        pytest.skip("codec present; stub path not applicable")
    except ImportError:
        pass
    with pytest.raises(NotImplementedError):
        decode_media(media)


def test_frame_sampling_is_jvm_side(spark):
    docs = table(spark, SF_SMOKE, "documents").limit(10)
    media = attach_fake_media(docs, kind="video")  # 128 bytes = 4 x 32b frames
    frames = sample_frames(media, frame_bytes=32, every_k=2, max_frames=4)
    rows = frames.collect()
    # frames 0 and 2 per media item
    assert {r["frame_no"] for r in rows} == {0, 2}
    assert all(len(r["frame"]) == 32 for r in rows)
    assert frames.count() == 20
    plan = frames._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan  # slicing happens before any Python


def test_png_dimensions_parsed_jvm_side(spark):
    """Handcrafted PNG headers parse to the right dimensions with zero
    Python in the plan; non-PNG bytes yield NULLs."""
    import struct

    from waterbear_spark.functions.multimodal import png_dimensions

    def png_bytes(w, h):
        sig = bytes.fromhex("89504E470D0A1A0A")
        ihdr = struct.pack(">I", 13) + b"IHDR" + struct.pack(">II", w, h) + b"\x08\x02\x00\x00\x00"
        return sig + ihdr

    rows = [
        ("a", bytearray(png_bytes(640, 480))),
        ("b", bytearray(png_bytes(32, 1080))),
        ("c", bytearray(b"not a png at all, just bytes")),
    ]
    df = spark.createDataFrame(rows, "media_id string, data binary")
    out = {r["media_id"]: (r["png_width"], r["png_height"])
           for r in png_dimensions(df).collect()}
    assert out == {"a": (640, 480), "b": (32, 1080), "c": (None, None)}
    plan = png_dimensions(df)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "Python" not in plan


def test_gif_dimensions_parsed_jvm_side(spark):
    """Real GIF Logical Screen Descriptors (both 87a and 89a) parse to
    the right little-endian dimensions; junk bytes yield NULLs; zero
    Python in the plan."""
    import struct

    from waterbear_spark.functions.multimodal import gif_dimensions

    def gif_bytes(sig, w, h):
        return sig + struct.pack("<HH", w, h) + b"\x00\x00\x00"

    rows = [
        ("a", bytearray(gif_bytes(b"GIF89a", 640, 480))),
        ("b", bytearray(gif_bytes(b"GIF87a", 1, 65535))),
        ("c", bytearray(b"GIFxx not really")),
        ("d", bytearray(b"\x89PNG\r\n\x1a\n")),
    ]
    df = spark.createDataFrame(rows, "media_id string, data binary")
    out = {r["media_id"]: (r["gif_width"], r["gif_height"])
           for r in gif_dimensions(df).collect()}
    assert out == {
        "a": (640, 480),
        "b": (1, 65535),
        "c": (None, None),
        "d": (None, None),
    }
    plan = gif_dimensions(df)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "Python" not in plan


def test_mapinarrow_batch_transform(spark):
    """mapInArrow: zero-copy Arrow batches through Python — compute L2
    norms on the embedding column and check against the JVM-side result."""
    import pyarrow as pa

    emb = table(spark, SF_SMOKE, "embeddings").limit(50)

    def norms(batches):
        for batch in batches:
            tbl = pa.table(batch)
            vecs = tbl.column("embedding").to_pylist()
            out = pa.table(
                {
                    "vec_id": tbl.column("vec_id"),
                    "norm": pa.array(
                        [math.sqrt(sum(x * x for x in v)) for v in vecs],
                        type=pa.float64(),
                    ),
                }
            )
            yield from out.to_batches()

    got = {
        r["vec_id"]: r["norm"]
        for r in emb.mapInArrow(norms, "vec_id long, norm double").collect()
    }
    expected = {
        r["vec_id"]: r["n"]
        for r in emb.select(
            "vec_id",
            F.sqrt(
                F.aggregate(
                    F.transform("embedding", lambda x: x.cast("double") * x),
                    F.lit(0.0),
                    lambda a, x: a + x,
                )
            ).alias("n"),
        ).collect()
    }
    assert got.keys() == expected.keys() and len(got) == 50
    for k in got:
        assert math.isclose(got[k], expected[k], rel_tol=1e-6)


def test_wav_metadata_parsed_jvm_side(spark):
    """Handcrafted RIFF/WAVE headers parse to channels + sample rate with
    zero Python in the plan; non-WAV bytes yield NULLs."""
    import struct

    from waterbear_spark.functions.multimodal import wav_metadata

    def wav_bytes(channels, rate):
        fmt = struct.pack("<HHIIHH", 1, channels, rate, rate * channels * 2, channels * 2, 16)
        return b"RIFF" + struct.pack("<I", 36) + b"WAVE" + b"fmt " + struct.pack("<I", 16) + fmt

    rows = [
        ("a", bytearray(wav_bytes(2, 44100))),
        ("b", bytearray(wav_bytes(1, 16000))),
        ("c", bytearray(b"RIFFxxxxNOPE definitely not wav")),
    ]
    df = spark.createDataFrame(rows, "media_id string, data binary")
    out = {r["media_id"]: (r["wav_channels"], r["wav_sample_rate"])
           for r in wav_metadata(df).collect()}
    assert out == {"a": (2, 44100), "b": (1, 16000), "c": (None, None)}
    plan = wav_metadata(df)._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan


def test_udtf_query_runs_off_the_repo_path(tmp_path):
    """A UDTF query runs when the Python workers cannot import the
    package: the driver puts the repo on ``sys.path`` itself (no
    ``PYTHONPATH``) and runs from a directory outside the repo, as
    ``bench.py`` does. Before the package was pickled by value, the
    worker failed with ``ModuleNotFoundError: waterbear_spark``."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {repo!r})
        from waterbear_spark.conf import session
        from waterbear_spark.queries.catalog import QUERIES
        spark = session(2, driver_memory="1g")
        print("rows", QUERIES["udtf_tokenize"](spark, {SF_SMOKE!r}).count())
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "ModuleNotFoundError" not in proc.stderr
    assert int(proc.stdout.split("rows")[-1]) > 0
