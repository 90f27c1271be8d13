"""Streaming EWMA with ``applyInPandasWithState`` — the scale answer
for non-prefix-decomposable folds (r6 verdict task 6).

The skew-safe window twins (attribution, drawdown, sessionize) work
by bucketed prefix decomposition; EWMA's recurrence
``s_t = a*x_t + (1-a)*s_{t-1}`` has no such decomposition — every
value depends on the entire prefix. The batch formulation
(queries/timeseries.py:timeseries_ewma) therefore collects each
user's full series; on an unbounded stream the right shape is
per-key streaming state instead: carry ``(s, n)`` — the smoothed
value and the event count — across microbatches, O(1) state per key,
no history retained.

IEEE contract: the carried fold executes ``a*x + (1-a)*s`` in
exactly the batch fold's operation order (same multiply/add
sequence, events sorted by (ts, event_id)), so under the
availableNow batch-twin protocol the streamed result is bit-identical
to the batch query and shares its DuckDB oracle verbatim.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from chiv_spark.sources.catalog import read_table_stream
from chiv_spark.streaming.runner import run_to_table

#: smoothing factor — MUST equal queries/timeseries.py:_EWMA_A (the
#: shared-oracle contract); imported there from this constant's twin
#: would be circular, so both pin 0.3 and the batch-twin test asserts
#: value equality end-to-end.
EWMA_ALPHA = 0.3

EWMA_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("ewma_raw", T.DoubleType()),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("s", T.DoubleType()),
        T.StructField("n", T.LongType()),
    ]
)


def _ewma(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-user EWMA carry. Self-contained closure shape (stdlib +
    pandas only) so workers need no chiv_spark import. Emits one
    running (user_id, n_events, ewma) row per microbatch the user
    appears in; under availableNow's single batch that is exactly the
    batch query's one final row per user."""
    import pandas as _pd

    (user_id,) = key
    events: list[tuple[int, int, float]] = []  # (ts_us, event_id, value)
    for pdf in pdfs:
        events.extend(
            (int(ts), int(eid), float(v))
            for ts, eid, v in zip(pdf["ts_us"], pdf["event_id"], pdf["value"])
        )
    events.sort()
    if not events:
        return

    if state.exists:
        s, n = state.get
    else:
        s, n = None, 0
    a = EWMA_ALPHA
    for _ts, _eid, x in events:
        # identical op order to the batch F.aggregate fold:
        # init = first value, then a*x + (1-a)*acc
        s = x if s is None else a * x + (1.0 - a) * s
        n += 1
    state.update((s, n))
    yield _pd.DataFrame({"user_id": [user_id], "n_events": [n], "ewma_raw": [s]})


def run_streaming_ewma(
    spark: SparkSession, sf_dir: str, checkpoint_dir: str
) -> DataFrame:
    """Run the stateful EWMA as a real stream over events
    (availableNow, memory sink); one row per (user, microbatch) with
    the running smoothed value — the final row per user equals the
    batch timeseries_ewma."""
    from pyspark.sql import functions as F

    from chiv_spark.pyship import ensure_shipped

    ensure_shipped(spark)
    stream = read_table_stream(spark, sf_dir, "events")
    events = stream.filter(F.col("value").isNotNull()).select(
        "user_id",
        "event_id",
        F.col("value").cast("double").alias("value"),
        F.unix_micros("ts").alias("ts_us"),
    )
    # value IS NOT NULL pins the contract against the batch twin and
    # the shared oracle (which propagate/skip NULLs): without it the
    # pandas float() coercion would fold a NULL in as NaN
    smoothed = events.groupBy("user_id").applyInPandasWithState(
        _ewma,
        outputStructType=EWMA_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        # NoTimeout: state is the point — it carries the smoothed
        # value forever; availableNow terminates after the data batches
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return run_to_table(smoothed, checkpoint_dir, "append")
