"""Bronze -> silver medallion pipeline test (quality gating end-to-end)."""

from tests.conftest import DATA_DIR, MODEL_DIR
from waterbear_spark import SchemaCompiler
from waterbear_spark.quality.medallion import bronze_ingest, silver_refine

import os


def test_bronze_silver_quarantine(spark, tmp_path):
    compiled = SchemaCompiler(MODEL_DIR).compile("staff")
    bronze_path = str(tmp_path / "bronze")
    silver_path = str(tmp_path / "silver")
    quarantine_path = str(tmp_path / "quarantine")

    bronze = bronze_ingest(
        spark,
        os.path.join(DATA_DIR, "staff.jsonl"),
        compiled,
        bronze_path,
        fmt="json",
    )
    assert bronze.count() == 13
    assert {"_ingest_ts", "_ingest_date", "_source_file"} <= set(bronze.columns)

    silver, quarantine = silver_refine(
        spark, compiled, bronze_path, silver_path, quarantine_path
    )
    assert silver.count() == 2
    assert quarantine.count() == 11
    assert "violations" in quarantine.columns
    # bronze is partitioned by ingest date on disk
    assert any(p.startswith("_ingest_date=") for p in os.listdir(bronze_path))


def test_zero_rule_entity_passes_everything(spark, tmp_path):
    """An entity with no properties compiles to zero rules: split, report
    and silver_refine must treat every row as valid, not fail to type the
    empty rule array."""
    from waterbear_spark.quality.expectations import Expectations

    compiled = SchemaCompiler(MODEL_DIR).compile("empty")
    assert compiled.constraints == {}
    raw = tmp_path / "raw.jsonl"
    raw.write_text('{"a": 1}\n{}\n{"b": "x"}\n')
    bronze_path = str(tmp_path / "bronze")
    bronze = bronze_ingest(spark, str(raw), compiled, bronze_path, fmt="json")
    assert bronze.count() == 3

    expectations = Expectations.for_entity(compiled)
    valid, quarantined = expectations.split(bronze)
    assert (valid.count(), quarantined.count()) == (3, 0)
    assert expectations.report(bronze).collect() == []

    silver, quarantine = silver_refine(
        spark,
        compiled,
        bronze_path,
        str(tmp_path / "silver"),
        str(tmp_path / "quarantine"),
    )
    assert (silver.count(), quarantine.count()) == (3, 0)
    assert dict(quarantine.dtypes)["violations"] == "array<string>"
