"""Bounded stream runs: the one place a streaming query starts.

Every streaming twin here runs its stream as a bounded job: an
``availableNow`` trigger processes every offset available at start,
then the query terminates, so tests and the driver run a real stream
to completion over static files. Two sink shapes:

- :func:`run_batches` — ``foreachBatch``: the per-microbatch side
  effect (an index fold, a MERGE, an archive) is the result;
- :func:`run_to_table` — the memory sink: the sink's rows are the
  result, returned as a DataFrame.

A memory sink's query name is also a session-wide temp view, so each
run names its sink ``<VIEW_PREFIX>_<uuid4 hex>``: two runs on one
session (driver threads, ``session.overlap``) never collide on an
active query name. The query is stopped in a ``finally``, so a failed
run leaves no active query behind, and the view is dropped once its
rows are bound to the returned DataFrame.
"""

from __future__ import annotations

import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql.streaming import DataStreamWriter

#: name prefix of every memory sink (and so temp view) a run creates
VIEW_PREFIX = "chiv_stream"


def _run(writer: DataStreamWriter, checkpoint_dir: str) -> None:
    q = writer.option("checkpointLocation", checkpoint_dir).trigger(availableNow=True).start()
    try:
        q.awaitTermination()
    finally:
        q.stop()


def run_batches(
    stream: DataFrame, checkpoint_dir: str, on_batch: Callable[[DataFrame, int], None]
) -> None:
    """Run ``stream`` to completion, calling ``on_batch(batch_df,
    batch_id)`` on every microbatch. An exception in ``on_batch``
    fails the run and re-raises here."""
    _run(stream.writeStream.foreachBatch(on_batch), checkpoint_dir)


def run_to_table(stream: DataFrame, checkpoint_dir: str, mode: str) -> DataFrame:
    """Run ``stream`` to completion into a memory sink in output
    ``mode`` (``append`` / ``complete`` / ``update``) and return the
    sink's rows. The returned DataFrame keeps the sink's plan, so it
    and frames derived from it still read the rows after the view is
    dropped."""
    spark = stream.sparkSession
    name = f"{VIEW_PREFIX}_{uuid.uuid4().hex}"
    try:
        _run(stream.writeStream.format("memory").queryName(name).outputMode(mode), checkpoint_dir)
        return spark.table(name)
    finally:
        spark.catalog.dropTempView(name)
