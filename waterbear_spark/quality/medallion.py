"""Medallion (bronze -> silver) pipeline without a DLT dependency.

Parity target: the reference's documented production pattern
(README.md:39-111): schema-enforced ingest into bronze, expectation gating
into silver with quarantine. Delta Lake is used when the ``delta`` package
is importable (CHECK constraints + column comments); otherwise parquet,
with the same layout and semantics.

Scale notes: bronze is partitioned by ingest date, but ``silver_refine``
reads all of bronze and rewrites silver on every run (no incremental
pruning yet); the silver and quarantine writes each scan bronze and
evaluate the expectations once, in one codegen pass per write (see
quality.expectations).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from waterbear_spark.quality.expectations import Expectations
from waterbear_spark.schema.compiler import CompiledEntity
from waterbear_spark.sources.readers import read_entity
from waterbear_spark.sources.sinks import DEFAULT_FORMAT as _FORMAT


def bronze_ingest(
    spark: SparkSession,
    raw_path: str,
    compiled: CompiledEntity,
    bronze_path: str,
    fmt: str = "json",
    **options: str,
) -> DataFrame:
    """Schema-enforced read of raw files -> bronze table with lineage
    columns, partitioned by ingest date."""
    df = read_entity(spark, raw_path, compiled.schema, fmt=fmt, **options)
    bronze = df.withColumns(
        {
            "_ingest_ts": F.current_timestamp(),
            "_ingest_date": F.current_date(),
            "_source_file": F.input_file_name(),
        }
    )
    (
        bronze.write.mode("append")
        .format(_FORMAT)
        .partitionBy("_ingest_date")
        .save(bronze_path)
    )
    return spark.read.format(_FORMAT).load(bronze_path)


def silver_refine(
    spark: SparkSession,
    compiled: CompiledEntity,
    bronze_path: str,
    silver_path: str,
    quarantine_path: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Expectation-gate bronze into silver + quarantine (the engine-native
    equivalent of ``@dlt.expect_all`` gating, README.md:104-109).

    Returns (silver, quarantined) as written.
    """
    bronze = spark.read.format(_FORMAT).load(bronze_path)
    expectations = Expectations.for_entity(compiled)
    valid, quarantined = expectations.split(bronze)

    valid.write.mode("overwrite").format(_FORMAT).save(silver_path)
    if quarantine_path:
        (
            quarantined.withColumn(
                "violations", F.col("violations").cast("array<string>")
            )
            .write.mode("overwrite")
            .format(_FORMAT)
            .save(quarantine_path)
        )
    silver = spark.read.format(_FORMAT).load(silver_path)
    quarantine = (
        spark.read.format(_FORMAT).load(quarantine_path)
        if quarantine_path
        else quarantined
    )
    return silver, quarantine
