"""Structured Streaming over the events table.

Net-new surface vs the reference (its "streaming" is bounded-memory
pipelining of a batch job, SURVEY.md §2.9). Here: a real
stream of the events table → watermark → tumbling-window aggregation
→ memory sink, run as a bounded job by streaming/runner.py so tests
and the driver execute it to completion on the static parquet events
table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from chiv_spark.sources.catalog import read_table_stream
from chiv_spark.streaming.runner import run_to_table


def windowed_event_counts(events: DataFrame, window: str = "1 hour", watermark: str = "2 hours") -> DataFrame:
    """Tumbling-window per-type aggregation with late-data watermark —
    works on both a static and a streaming events DataFrame."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            # decimal sum: exact and order-free, so the streaming result
            # is bit-identical to the batch twin and its DuckDB oracle
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def run_events_stream(
    spark: SparkSession,
    sf_dir: str,
    checkpoint_dir: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Run the windowed aggregation as a real stream over the events
    parquet (file source, availableNow trigger, memory sink) and
    return the completed result as a DataFrame."""
    stream = read_table_stream(spark, sf_dir, "events")
    agg = windowed_event_counts(stream, window=window, watermark=watermark)
    return run_to_table(agg, checkpoint_dir, "complete")


def run_windowed_distinct_users(
    spark: SparkSession,
    sf_dir: str,
    checkpoint_dir: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming distinct-user counting at sketch cost: a real
    readStream → watermark → per-window ``hll_sketch_agg(user_id)``
    → writeStream run (availableNow, memory sink). The state per
    window is ONE fixed-size HLL register array instead of the user
    set itself — the streaming form of the MAU-sketch argument
    (queries/events.py events_active_users_mau_approx): an exact
    streaming COUNT(DISTINCT) would hold every user id in the state
    store. Returns (window_start, approx_users) with the estimate
    materialized from the final sketch."""
    stream = read_table_stream(spark, sf_dir, "events")
    agg = (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"))
        .agg(F.hll_sketch_agg("user_id", F.lit(14)).alias("sk"))
        .select(
            F.col("w.start").alias("window_start"),
            F.hll_sketch_estimate("sk").alias("approx_users"),
        )
    )
    return run_to_table(agg, checkpoint_dir, "complete")


def run_native_session_windows(
    spark: SparkSession,
    sf_dir: str,
    checkpoint_dir: str,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Native ``session_window`` aggregation as a real APPEND-mode
    stream: Structured Streaming merges per-user session windows in
    the state store and emits each session once its window closes
    beyond the watermark. Under availableNow the final watermark is
    max(event time) - delay, so the emitted set is exactly the batch
    sessions whose end (last event + gap) is at or below it — the
    oracle states that closure in SQL."""
    stream = read_table_stream(spark, sf_dir, "events")
    agg = (
        stream.withWatermark("ts", watermark)
        .groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )
    return run_to_table(agg, checkpoint_dir, "append")
