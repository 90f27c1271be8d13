"""Custom stateful streaming operator: per-user session tracking with
``applyInPandasWithState`` — the mechanism for operators Structured
Streaming lacks natively (SURVEY.md §2.9 lists this whole tier as
net-new vs the reference).

State per user: running session count + current-session window. A new
event extends the current session unless the gap exceeds the session
gap, which closes the previous session and emits it. The in-progress
session per user remains in the state store (emitted on the next
batch that closes it) — standard append-mode stateful semantics.
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

SESSION_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("start_us", T.LongType()),
        T.StructField("end_us", T.LongType()),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("session_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("start_us", T.LongType()),
        T.StructField("end_us", T.LongType()),
    ]
)

GAP_US = 1_800_000_000  # 30 min, matches the batch sessionizer


def _track(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Stateful session tracker. Self-contained closure shape (stdlib +
    pandas only) so workers need no chiv_spark import."""
    import pandas as _pd

    (user_id,) = key
    ts_list: list[int] = []
    for pdf in pdfs:
        ts_list.extend(int(v) for v in pdf["ts_us"])
    ts_list.sort()

    if state.exists:
        sid, n, start, end = state.get
    else:
        sid, n, start, end = 1, 0, None, None

    closed = []
    for ts in ts_list:
        if end is not None and ts - end > GAP_US:
            closed.append((user_id, sid, n, start, end))
            sid += 1
            n, start = 0, None
        n += 1
        start = ts if start is None else start
        end = ts
    state.update((sid, n, start, end))
    if closed:
        yield _pd.DataFrame(
            {
                "user_id": [c[0] for c in closed],
                "session_id": [c[1] for c in closed],
                "n_events": [c[2] for c in closed],
                "start_us": [c[3] for c in closed],
                "end_us": [c[4] for c in closed],
            }
        )


def run_stateful_sessions(
    spark: SparkSession, sf_dir: str, checkpoint_dir: str
) -> DataFrame:
    """Run the stateful sessionizer as a real stream over events
    (availableNow, memory sink); returns closed sessions. Dangling
    sessions remain in state (flushed by the timeout path on longer
    runs) — the batch twin events_sessionize covers full-history
    semantics."""
    from pyspark.sql import functions as F

    from chiv_spark.pyship import ensure_shipped

    # _track is a module-level function → cloudpickle serializes it by
    # reference; ship the package so workers can import it
    ensure_shipped(spark)
    stream = read_table_stream(spark, sf_dir, "events")
    events = stream.select("user_id", F.unix_micros("ts").alias("ts_us"))
    sessions = events.groupBy("user_id").applyInPandasWithState(
        _track,
        outputStructType=SESSION_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        # NoTimeout: availableNow terminates after the data batches;
        # a processing-time timeout would keep scheduling empty
        # microbatches until every per-key timer fires. The dangling
        # last session per user stays in state (documented).
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return run_to_table(sessions, checkpoint_dir, "append")
