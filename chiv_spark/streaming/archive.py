"""Streaming archive sink: the reference's archive operation
(extract → format → load, /root/reference/chiv.go:121-143) applied
per microbatch via foreachBatch.

Each microbatch is a plain DataFrame, so the full Archiver surface
(formats, key templates, null placeholder, column projection, the
distributed part-file sink) works unchanged; exactly-once comes from
the checkpoint + idempotent per-batch keys (batch id in the key).
At 100 TB/day this is the continuous-ingest shape: bounded state
(none beyond the source offsets), each batch written independently,
keys never colliding across retries of the same epoch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from chiv_spark.core.archiver import Archiver
from chiv_spark.streaming.runner import run_batches


def archive_stream(
    stream_df: DataFrame,
    bucket: str,
    checkpoint_dir: str,
    key_template: str = "events-batch-{batch_id}.csv",
    order_by: list[str] | None = None,
    **archive_opts: object,
) -> list[str]:
    """Archive a streaming DataFrame, one object per microbatch.

    ``key_template`` must contain ``{batch_id}`` so retried epochs
    overwrite their own object instead of duplicating data
    (idempotent sink → effectively exactly-once end to end).
    ``order_by`` makes each object's row order deterministic —
    required when byte-comparing against a batch archive. Runs
    bounded via availableNow; returns the keys written."""
    if "{batch_id}" not in key_template:
        raise ValueError("key_template must contain '{batch_id}' for idempotent retries")
    archiver = Archiver(stream_df.sparkSession)
    written: list[str] = []

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.take(1):
            return
        if order_by:
            batch_df = batch_df.orderBy(*order_by)
        key = key_template.format(batch_id=batch_id)
        archiver.archive_df(batch_df, bucket, key=key, **archive_opts)
        written.append(key)

    run_batches(stream_df, checkpoint_dir, _sink)
    return written
