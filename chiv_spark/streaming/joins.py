"""Stream-stream interval join.

``purchases_with_clicks``: a real stream-stream inner join with
watermarks on both sides and an interval condition (click within 1h
before the purchase) — the stateful join surface of Structured
Streaming (state bounded by the watermark + interval). Archiving a
stream, micro-batch by micro-batch, is ``streaming.archive.archive_stream``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from chiv_spark.sources.catalog import read_table_stream
from chiv_spark.streaming.runner import run_to_table


def purchases_with_clicks(
    spark: SparkSession, sf_dir: str, checkpoint_dir: str, window: str = "1 hour"
) -> DataFrame:
    """Run a stream-stream interval join (purchase ⋈ prior click of
    the same user within ``window``) to completion under availableNow
    and return the joined rows."""
    ev = read_table_stream(spark, sf_dir, "events")
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "2 hours")
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {window}")),
        "inner",
    ).select("purchase_id", F.col("p_user").alias("user_id"), "click_id", "p_ts", "c_ts")
    return run_to_table(joined, checkpoint_dir, "append")

