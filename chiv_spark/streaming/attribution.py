"""Streaming last-touch attribution with ``applyInPandasWithState``
— the canonical streaming-state use case the batch attribution family
(queries/events.py) models offline (r5 verdict task 6).

State per user: the most recent preceding click/view (its event-time
in epoch-micros plus its type). Each purchase emits one attribution
row the moment it is processed; touches only update state. Under the
availableNow batch-twin protocol every user's full history arrives in
one group sorted here by event time, so the streamed result equals
the batch window formulation exactly (the shared oracle asserts it).
On a live unbounded stream the same operator keeps per-user state of
O(1) — two fields — versus the batch variant's full-history shuffle.
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

ATTRIB_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("purchase_us", T.LongType()),
        T.StructField("touch_us", T.LongType()),
        T.StructField("touch_type", T.StringType()),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("touch_us", T.LongType()),
        T.StructField("touch_type", T.StringType()),
    ]
)

TOUCH_TYPES = ("click", "view")


def _attribute(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Stateful last-touch tracker. Self-contained closure shape
    (stdlib + pandas only) so workers need no chiv_spark import."""
    import pandas as _pd

    (user_id,) = key
    events: list[tuple[int, int, str]] = []  # (ts_us, event_id, type)
    for pdf in pdfs:
        events.extend(
            (int(ts), int(eid), str(et))
            for ts, eid, et in zip(pdf["ts_us"], pdf["event_id"], pdf["event_type"])
        )
    events.sort()

    if state.exists:
        touch_us, touch_type = state.get
    else:
        touch_us, touch_type = None, None

    out = []
    for ts_us, event_id, event_type in events:
        if event_type in ("click", "view"):
            touch_us, touch_type = ts_us, event_type
        elif event_type == "purchase":
            out.append((event_id, user_id, ts_us, touch_us, touch_type))
    state.update((touch_us, touch_type))
    if out:
        yield _pd.DataFrame(
            {
                "event_id": [o[0] for o in out],
                "user_id": [o[1] for o in out],
                "purchase_us": [o[2] for o in out],
                "touch_us": [o[3] for o in out],
                "touch_type": [o[4] for o in out],
            }
        )


def run_streaming_attribution(
    spark: SparkSession, sf_dir: str, checkpoint_dir: str
) -> DataFrame:
    """Run the stateful attributor as a real stream over events
    (availableNow, memory sink); returns one row per purchase with
    its most recent preceding click/view (NULLs when touchless)."""
    from pyspark.sql import functions as F

    from chiv_spark.pyship import ensure_shipped

    # _attribute is a module-level function → cloudpickle serializes
    # it by reference; ship the package so workers can import it
    ensure_shipped(spark)
    stream = read_table_stream(spark, sf_dir, "events")
    events = stream.select(
        "user_id", "event_id", "event_type", F.unix_micros("ts").alias("ts_us")
    )
    attributed = events.groupBy("user_id").applyInPandasWithState(
        _attribute,
        outputStructType=ATTRIB_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        # NoTimeout: availableNow terminates after the data batches;
        # purchases emit immediately so nothing dangles in state
        # except each user's final touch (by design — it would
        # attribute that user's NEXT purchase on a longer run)
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return run_to_table(attributed, checkpoint_dir, "append")
