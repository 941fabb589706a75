"""Environment-gate probes (verdict r4 ask #8).

Two capabilities are honestly gated on packages this container lacks:
Delta Lake (delta-spark) and real media codecs (PIL/libav). These tests
pin the CURRENT state of each gate: while the package is absent they
assert the gate raises/falls back cleanly; the moment a future
environment gains the package, the corresponding branch here FAILS
loudly (xpassing assertions flip), forcing the real integration test to
be written instead of silently shipping the fallback.
"""

import importlib.util

import pytest

from waterbear_spark.functions import multimodal
from waterbear_spark.sources import sinks
pytestmark = pytest.mark.smoke  # <10-min certification subset


def _has(pkg: str) -> bool:
    try:
        return importlib.util.find_spec(pkg) is not None
    except ModuleNotFoundError:  # dotted name whose parent is absent
        return False


def test_delta_gate_state_matches_import_reality():
    assert sinks.HAS_DELTA == _has("delta"), (
        "delta-spark availability changed: flip the sinks to real Delta "
        "and exercise MERGE/SCD2/CHECK-DDL as Delta, not parquet fallback"
    )
    if not sinks.HAS_DELTA:
        # fallback contract: format resolution must choose parquet
        assert sinks.DeltaTable is None


def test_codec_gate_raises_not_implemented(spark):
    if _has("PIL"):
        pytest.fail(
            "PIL appeared in the environment: decode_media no longer "
            "needs its stub — write the real decode test"
        )
    df = spark.createDataFrame([], multimodal.MEDIA_SCHEMA)
    with pytest.raises(NotImplementedError, match="codec"):
        multimodal.decode_media(df)

