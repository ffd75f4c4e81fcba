"""Custom stateful streaming operators via ``applyInPandasWithState`` —
the escape hatch for stateful logic that windows/aggregations can't
express (SURVEY §2 Part C: 'applyInPandasWithState for custom stateful
operators').

``running_user_totals`` keeps per-user cumulative counters across
micro-batches: the state store holds one small row per user, each trigger
updates only the users present in that batch, and emission is per-update.
At 100 TB the state is partitioned by the group key across executors and
checkpointed; eviction is by timeout (set a ProcessingTimeTimeout and
drop idle users) — here NoTimeout since the driver data is bounded.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
        T.StructField("batch_events", T.LongType()),
    ]
)

# state keeps the value total as a scale-4 INTEGER so accumulation is
# exact and order-independent across micro-batches/row order — the same
# decimal-sum discipline as functions.exact_sum, which is what lets the
# streaming entry share an exact DuckDB oracle (sum(DECIMAL(25,4))).
STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_events", T.LongType()),
        T.StructField("total_scaled", T.LongType()),
    ]
)


def _scaled_sum(values: pd.Series) -> int:
    """Sum of round-half-away(value * 10^4) over the NON-NULL values, as a
    plain int. Nulls are skipped (SQL sum semantics — the oracle's
    sum(DECIMAL(25,4)) ignores NULLs; the previous int cast would raise on
    the first NaN), and rounding is half-AWAY-from-zero to match the
    DECIMAL cast the oracle applies (pandas .round() is half-to-even —
    divergent only for >4-decimal inputs, but match the contract anyway)."""
    vals = values.dropna()
    if vals.empty:
        return 0
    scaled = np.floor(vals.abs().mul(10_000).add(0.5)).mul(np.sign(vals))
    return int(scaled.astype("int64").sum())


def _update_user_totals(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    n, total_scaled = state.get if state.exists else (0, 0)
    batch_n = 0
    for pdf in pdfs:
        batch_n += len(pdf)
        n += len(pdf)
        total_scaled += _scaled_sum(pdf["value"])
    state.update((n, total_scaled))
    yield pd.DataFrame(
        {
            "user_id": [user_id],
            "n_events": [n],
            "total_value": [round(total_scaled / 10000.0, 6)],
            "batch_events": [batch_n],
        }
    )


def running_user_totals(events_stream: DataFrame) -> DataFrame:
    """Per-user cumulative (count, value-sum) maintained in the state store
    across micro-batches; emits the updated totals for users seen in each
    trigger."""
    return events_stream.groupBy("user_id").applyInPandasWithState(
        _update_user_totals,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
