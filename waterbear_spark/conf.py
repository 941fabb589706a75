"""Spark session configuration for this engine.

``session(cores)`` is the one way to build a local session: the conf the
catalog is tuned and benchmarked under (``bench.py`` builds the same
conf by hand). ``recommended_conf(input_tb=...)`` is the cluster posture
the operators are designed against, sized by a rough data-scale hint;
apply it at cluster session build time.

Rationale per knob is inline — these are the levers the 100 TB design
notes throughout the repo assume (AQE on, skew-join on, partition sizes
that keep shuffle blocks in executor memory).
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def session(cores: int, driver_memory: str = "8g") -> SparkSession:
    """A ``local[cores]`` session with the conf the catalog's speed
    depends on (``pagerank_bipartite`` runs ~8x slower under Spark's
    default 200 shuffle partitions). Reuses a live session, re-applying
    the runtime settings to it."""
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("waterbear-spark")
        # one task per core, floored so small hosts still split shuffles
        .config("spark.sql.shuffle.partitions", str(max(cores, 8)))
        # deterministic timestamps for cross-engine comparison
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.driver.memory", driver_memory)
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def recommended_conf(
    input_tb: float = 1.0,
    executor_mem_gb: int = 16,
    total_cores: int = 32,
) -> dict[str, str]:
    """Session configs sized to an input scale hint.

    :param input_tb: rough scan volume per query in terabytes.
    :param executor_mem_gb: memory per executor (sizes spill thresholds).
    :param total_cores: cluster parallelism (floors the partition count).
    """
    # target ~128-256 MB of post-shuffle data per partition: big enough to
    # amortize task overhead, small enough to sort/aggregate in memory
    target_partition_mb = 192
    shuffle_partitions = max(
        2 * total_cores,
        int(input_tb * 1024 * 1024 / target_partition_mb),
    )
    return {
        # AQE re-plans with real sizes: coalesces tiny post-shuffle
        # partitions, splits skewed ones, demotes SMJ->broadcast when a
        # side turns out small
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # upper bound; AQE coalesces downward, it never splits upward
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        # scan-side parallelism: one task per ~128 MB of parquet
        "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
        # dimensions up to 64 MB broadcast (executor_mem permitting);
        # fact-fact joins must never broadcast
        "spark.sql.autoBroadcastJoinThreshold": str(
            min(64, executor_mem_gb * 2) * 1024 * 1024
        ),
        # runtime bloom-filter pruning: when a shuffle join's build side
        # is selective, inject might_contain() on the probe side so the
        # fact scan drops non-joining rows before the exchange — at
        # 100 TB this is the difference between shuffling the whole fact
        # table and shuffling the ~1% that joins
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        # Arrow for every pandas-UDF exchange (the only sanctioned Python)
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # deterministic timestamps for cross-engine comparison
        "spark.sql.session.timeZone": "UTC",
    }
