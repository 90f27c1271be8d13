"""Stream-stream interval join and streaming archival.

- ``purchases_with_clicks``: a real stream-stream inner join with
  watermarks on both sides and an interval condition (click within 1h
  before the purchase) — the stateful join surface of Structured
  Streaming (state bounded by the watermark + interval).
- ``run_streaming_archive``: foreachBatch → ``Archiver`` — the
  reference's archival job made continuous: each micro-batch of the
  event stream lands as part files under the bucket. At scale this is
  the canonical "CDC/event firehose → object store" pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from chiv_spark.sources.catalog import read_event_stream


def purchases_with_clicks(
    spark: SparkSession, sf_dir: str, checkpoint_dir: str, window: str = "1 hour"
) -> DataFrame:
    """Run a stream-stream interval join (purchase ⋈ prior click of
    the same user within ``window``) to completion under availableNow
    and return the joined rows."""
    ev = read_event_stream(spark, sf_dir)
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
    name = "purchases_with_clicks"
    q = (
        joined.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def run_streaming_archive(
    spark: SparkSession,
    sf_dir: str,
    bucket: str,
    checkpoint_dir: str,
    fmt: str = "csv",
) -> int:
    """Continuously archive the event stream: every micro-batch lands
    via the Archiver's distributed sink under ``bucket/events_stream.
    <fmt>/batch=<id>/``. Returns the number of micro-batches run."""
    from chiv_spark.core.archiver import Archiver

    ev = read_event_stream(spark, sf_dir)
    a = Archiver(spark)
    batches: list[int] = []

    def archive_batch(batch_df: DataFrame, batch_id: int) -> None:
        batches.append(batch_id)
        a.archive_df(
            batch_df,
            bucket,
            key=f"events_stream.{fmt}/batch={batch_id}",
            format=fmt,
            distributed=True,
        )

    q = (
        ev.writeStream.foreachBatch(archive_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return len(batches)
