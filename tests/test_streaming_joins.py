"""Stream-stream join and streaming-archive tests."""

from __future__ import annotations

import glob

import pytest

from pyspark.sql import functions as F

from chiv_spark.queries.base import t as read_t
from chiv_spark.sources.catalog import read_table_stream
from chiv_spark.streaming.archive import archive_stream
from chiv_spark.streaming.joins import purchases_with_clicks


@pytest.mark.slow
class TestStreamStreamJoin:
    def test_matches_batch_interval_join(self, spark, sf_dir, tmp_path):
        streamed = purchases_with_clicks(spark, sf_dir, str(tmp_path / "ck"))
        srows = {(r.purchase_id, r.click_id) for r in streamed.collect()}
        # batch twin: same interval condition on the static table
        e = read_t(spark, sf_dir, "events")
        p = e.filter(F.col("event_type") == "purchase").select(
            F.col("user_id").alias("p_user"), F.col("event_id").alias("purchase_id"), F.col("ts").alias("p_ts")
        )
        c = e.filter(F.col("event_type") == "click").select(
            F.col("user_id").alias("c_user"), F.col("event_id").alias("click_id"), F.col("ts").alias("c_ts")
        )
        batch = p.join(
            c,
            (F.col("p_user") == F.col("c_user"))
            & (F.col("c_ts") <= F.col("p_ts"))
            & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 hour")),
        )
        brows = {(r.purchase_id, r.click_id) for r in batch.collect()}
        assert srows == brows
        assert len(srows) > 0


@pytest.mark.slow
class TestStreamingArchive:
    def test_foreachbatch_archives_parts(self, spark, sf_dir, tmp_path):
        keys = archive_stream(
            read_table_stream(spark, sf_dir, "events"),
            str(tmp_path / "bucket"),
            str(tmp_path / "ck"),
            key_template="events_stream.csv/batch={batch_id}",
            format="csv",
            distributed=True,
        )
        n = len(keys)
        assert n >= 1
        parts = glob.glob(str(tmp_path / "bucket" / "events_stream.csv" / "batch=*" / "part-*"))
        assert parts, "no part files archived"
        back = spark.read.option("header", True).csv(
            str(tmp_path / "bucket" / "events_stream.csv" / "batch=*")
        )
        assert back.count() == read_t(spark, sf_dir, "events").count()
