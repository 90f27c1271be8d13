"""Streaming Holt double exponential smoothing with
``applyInPandasWithState`` — the second member of the
non-prefix-decomposable-fold family (r6 verdict task 6; the EWMA
twin is streaming/ewma.py).

Holt's TWO-variable recurrence
``l' = a*x + (1-a)*(l+b); b' = g*(l'-l) + (1-g)*b`` depends on the
entire prefix through both level and trend, so like EWMA it has no
bucketed prefix decomposition — the batch form
(queries/timeseries.py:timeseries_holt_linear) folds each user's
collected series. On an unbounded stream the scale shape is per-key
state: carry ``(l, b, n)`` across microbatches, O(1) per key, no
history retained.

IEEE contract: the carried fold executes the level update, then the
trend update from the NEW level, in exactly the batch
``F.aggregate`` step's operation order over events sorted by
(ts, event_id) — so under the availableNow batch-twin protocol the
streamed result is bit-identical to timeseries_holt_linear and
shares its DuckDB recursive-CTE oracle verbatim.
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

#: smoothing factors — MUST equal queries/timeseries.py:_HOLT_A/_HOLT_G
#: (the shared-oracle contract, same convention as EWMA_ALPHA).
HOLT_ALPHA = 0.5
HOLT_GAMMA = 0.25

HOLT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("level_raw", T.DoubleType()),
        T.StructField("trend_raw", T.DoubleType()),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("l", T.DoubleType()),
        T.StructField("b", T.DoubleType()),
        T.StructField("n", T.LongType()),
    ]
)


def _holt(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-user Holt carry. Self-contained closure (stdlib + pandas
    only) so workers need no chiv_spark import. Emits one running
    (user_id, n_events, level, trend) row per microbatch the user
    appears in; under availableNow's single batch that is exactly
    the batch query's one final row per user."""
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
        lvl, tr, n = state.get
    else:
        lvl, tr, n = None, 0.0, 0
    a, g = HOLT_ALPHA, HOLT_GAMMA
    for _ts, _eid, x in events:
        if lvl is None:
            # batch fold seed: l0 = first value, b0 = 0.0
            lvl, tr = x, 0.0
        else:
            # identical op order to the batch F.aggregate step:
            # level from (l+b), then trend from the NEW level
            new_l = a * x + (1.0 - a) * (lvl + tr)
            tr = g * (new_l - lvl) + (1.0 - g) * tr
            lvl = new_l
        n += 1
    state.update((lvl, tr, n))
    yield _pd.DataFrame(
        {
            "user_id": [user_id],
            "n_events": [n],
            "level_raw": [lvl],
            "trend_raw": [tr],
        }
    )


def run_streaming_holt(
    spark: SparkSession, sf_dir: str, checkpoint_dir: str
) -> DataFrame:
    """Run the stateful Holt smoother as a real stream over events
    (availableNow, memory sink); one row per (user, microbatch) with
    the running (level, trend) — the final row per user equals the
    batch timeseries_holt_linear."""
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
        _holt,
        outputStructType=HOLT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        # NoTimeout: the carried (level, trend) IS the operator;
        # availableNow terminates after the data batches
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return run_to_table(smoothed, checkpoint_dir, "append")
