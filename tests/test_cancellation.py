"""Cooperative cancellation — the reference's ArchiveWithContext
semantics (ctx cancelled mid-archive aborts the pipeline,
chiv_integration_test.go:324-351)."""

from __future__ import annotations

import threading
import time

import pytest

from pyspark.sql import functions as F

from chiv_spark import Archiver
from chiv_spark.core.errors import ArchiveError


@pytest.mark.slow
class TestCancellation:
    def test_cancel_aborts_running_archive(self, spark, tmp_path):
        # a deliberately slow but MEMORY-LIGHT plan: range() generates
        # lazily (no materialization), and the single-object sink
        # drains it through the Python encoder at ~70k rows/s, so this
        # would take ~10 minutes if not cancelled
        big = spark.range(50_000_000).select(
            F.col("id").alias("v"), (F.col("id") * 2).alias("w")
        )
        a = Archiver(spark)
        errors: list[BaseException] = []

        def run():
            try:
                a.archive_df(big, str(tmp_path), key="never.csv", job_group="cancel-me")
            except BaseException as e:  # noqa: BLE001
                errors.append(e)

        t = threading.Thread(target=run, daemon=True)
        t.start()
        time.sleep(3)  # let jobs start
        a.cancel("cancel-me")
        t.join(timeout=60)
        assert not t.is_alive(), "archive did not abort after cancellation"
        assert errors, "cancelled archive should raise"
        # surfaces through the stage-chained wrapper or Spark's own
        # cancellation exception — either way the caller sees a failure
        assert isinstance(errors[0], (ArchiveError, Exception))

    def test_cancel_after_job_finished_stops_driver_encode(self, spark, tmp_path, monkeypatch):
        """A one-partition frame encodes in the driver, so its one Spark
        job ends before the encode does: a cancel that arrives then
        must still abort the archive, and no object may remain."""
        from chiv_spark.core import archiver

        a = Archiver(spark)
        group = "cancel-after-job"
        tracker = spark.sparkContext.statusTracker()
        real = archiver._partition_encoder
        finished: list[bool] = []

        def jobs_done() -> bool:
            ids = tracker.getJobIdsForGroup(group)
            return bool(ids) and all(tracker.getJobInfo(j).status == "SUCCEEDED" for j in ids)

        def cancel_after_job(fmt, schema, null):
            gap, enc = real(fmt, schema, null)

            def enc_then_cancel(rows):
                for chunk in enc(rows):
                    deadline = time.monotonic() + 30
                    while not jobs_done() and time.monotonic() < deadline:
                        time.sleep(0.05)
                    finished.append(jobs_done())
                    a.cancel(group)
                    yield chunk

            return gap, enc_then_cancel

        monkeypatch.setattr(archiver, "_partition_encoder", cancel_after_job)
        df = spark.range(1_000, numPartitions=1).select(
            F.col("id").alias("v"), (F.col("id") * 2).alias("w")
        )
        with pytest.raises(ArchiveError, match=r"^chiv: downloading: scanning rows: .*cancelled"):
            a.archive_df(df, str(tmp_path), key="late.csv", job_group=group)
        assert finished == [True]  # one chunk, cancelled after the job ended
        assert not (tmp_path / "late.csv").exists()

        # entering the group again clears the record
        monkeypatch.setattr(archiver, "_partition_encoder", real)
        a.archive_df(df, str(tmp_path), key="late.csv", job_group=group)
        assert (tmp_path / "late.csv").read_bytes().count(b"\n") == 1_001
