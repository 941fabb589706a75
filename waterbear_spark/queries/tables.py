"""Parquet table access + numeric determinism helpers shared by the catalog.

Float determinism strategy (SURVEY.md §7 "determinism rules"): double
summation order differs between Spark partial aggregation and DuckDB, so
any SUM over doubles is computed over ``DECIMAL(20,6)`` — per-row casts are
IEEE-deterministic and decimal addition is exact, making the aggregate
bit-identical across engines — then rounded and cast back to double for a
stable comparison schema. Averages divide the exact decimal sum (as double)
by the count, which is a single deterministic IEEE division.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from waterbear_spark import scope

DEC = "decimal(20,6)"

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The reader of ``<sf_dir>/<name>.parquet``, memoised per
    (application, path, dir-mtime). ``spark.read.parquet`` runs a
    schema-inference job (a footer read) and builds a fresh file index
    on EVERY call — ~0.2 s of driver+job overhead per table reference,
    paid hundreds of times across the catalog. Production engines
    resolve tables through a catalog/metastore exactly once; this memo
    is that shape. It holds only the unresolved reader (schema + file
    list) — never data or results: every action still recomputes from
    the parquet files. The directory mtime keys the entry, so a
    rewritten table (tests stage fresh corpora in place) re-lists
    instead of serving a stale file index."""
    path = f"{sf_dir}/{name}.parquet"
    try:
        mtime = os.path.getmtime(path)
    except OSError:
        # absent table: fall through so the reader raises its usual error
        return spark.read.parquet(path)
    return scope.memo(spark, ("table", path, mtime), lambda: spark.read.parquet(path))


def epoch_us(col: Column | str) -> Column:
    """Microseconds since epoch as BIGINT, tolerant of both TIMESTAMP and
    TIMESTAMP_NTZ inputs (parquet timestamps surface as NTZ when
    ``spark.sql.parquet.inferTimestampNTZ.enabled`` is on, and
    ``unix_micros`` rejects NTZ). Computed as wall-clock NTZ arithmetic so
    the value is independent of the session timezone — bit-identical to
    DuckDB's ``epoch_us`` on naive parquet timestamps.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.timestamp_diff(
        "MICROSECOND",
        F.lit("1970-01-01 00:00:00").cast("timestamp_ntz"),
        c.cast("timestamp_ntz"),
    )


def dsum(col: Column, alias: str, scale: int = 2) -> Column:
    """Exact decimal SUM, rounded, surfaced as double."""
    return F.round(F.sum(col.cast(DEC)), scale).cast("double").alias(alias)


def davg(col: Column, alias: str, scale: int = 2) -> Column:
    """Deterministic average: exact decimal sum -> double -> one division."""
    return F.round(
        F.sum(col.cast(DEC)).cast("double") / F.count(col), scale
    ).alias(alias)


def oracle_dsum(expr: str, alias: str, scale: int = 2) -> str:
    return f"CAST(ROUND(SUM(CAST({expr} AS DECIMAL(20,6))), {scale}) AS DOUBLE) AS {alias}"


def oracle_davg(expr: str, alias: str, scale: int = 2) -> str:
    return (
        f"ROUND(CAST(SUM(CAST({expr} AS DECIMAL(20,6))) AS DOUBLE)"
        f" / COUNT({expr}), {scale}) AS {alias}"
    )
