"""Stream-static enrichment and streaming deduplication.

Two more Structured Streaming shapes beyond the window/join/session
trio (net-new surface vs the reference, whose "streaming" is bounded
-memory batch pipelining — /root/reference/chiv.go:210-260 sink loop):

- stream ⋈ static dimension: stateless per-microbatch join; the
  static side is re-planned each batch, so Catalyst broadcasts it
  when it fits and shuffles otherwise — no watermark state involved.
- dropDuplicatesWithinWatermark: watermark-bounded dedup state keyed
  on the dedup columns; at 100 TB/day the state store holds only keys
  inside the watermark horizon instead of the full key history
  (unlike plain dropDuplicates on a stream, which grows forever).

Both run as bounded memory-sink jobs through streaming/runner.py on
the static events parquet, so tests and the driver run them to
completion.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from chiv_spark.sources.catalog import read_table, read_table_stream
from chiv_spark.streaming.runner import run_to_table


def purchases_by_segment(spark: SparkSession, sf_dir: str, checkpoint_dir: str) -> DataFrame:
    """Stream purchases enriched with the static customer dimension,
    aggregated to revenue per market segment.

    The stream-static join is stateless: each microbatch joins against
    the (unhinted) static side, so the plan survives any customer-table
    size. The aggregation is the only stateful operator."""
    events = read_table_stream(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase")
    cust = read_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    agg = (
        purchases.join(cust, purchases.user_id == cust.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_purchases"),
            # decimal sum: exact/order-free → bit-identical to the batch twin
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
    )
    return run_to_table(agg, checkpoint_dir, "complete")


def deduped_user_types(spark: SparkSession, sf_dir: str, checkpoint_dir: str) -> DataFrame:
    """Watermark-bounded streaming dedup on (user_id, event_type):
    emits each pair's first-seen row, append mode.

    The availableNow run processes the file in one batch before the
    watermark advances, so nothing is dropped as late and the emitted
    set is exactly the batch DISTINCT (first occurrence per pair)."""
    events = read_table_stream(spark, sf_dir, "events")
    deduped = (
        events.withWatermark("ts", "2 hours")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    return run_to_table(deduped, checkpoint_dir, "append")
