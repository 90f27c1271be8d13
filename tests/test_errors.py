"""Error-path parity tests — the reference's tier-1 strategy
(chiv_test.go:61-148): every pipeline failure site wraps with a
stage-chained message."""

from __future__ import annotations

import pytest

from chiv_spark import Archiver
from chiv_spark.core.errors import ArchiveError, UploadError


@pytest.fixture(scope="module")
def small_df(spark):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string").coalesce(1)
    df.createOrReplaceTempView("err_table")
    return df


class TestStageChainedErrors:
    def test_querying_stage(self, spark, small_df, tmp_path):
        with pytest.raises(ArchiveError, match=r"^chiv: querying 'missing_table':"):
            Archiver(spark).archive("missing_table", str(tmp_path))

    def test_formatting_stage(self, spark, small_df, tmp_path):
        class ExplodingFormatter:
            extension = "x"

            def __init__(self, sink, columns):
                pass

            def open(self):
                pass

            def format_row(self, record):
                raise ValueError("boom")

            def close(self):
                pass

        with pytest.raises(ArchiveError, match=r"^chiv: downloading: formatting row: boom"):
            Archiver(spark).archive_df(small_df, str(tmp_path), format=ExplodingFormatter)

    @pytest.mark.parametrize("fmt", ["csv", "json", "yaml"])
    @pytest.mark.parametrize("parts", [1, 2])
    def test_non_finite_double_is_formatting_stage(self, spark, tmp_path, fmt, parts):
        # a one-partition frame encodes in the driver, a two-partition
        # one on the executors; a value no format can render must
        # report the formatting stage in both
        df = spark.createDataFrame(
            [(1, float("nan")), (2, float("nan"))], "id long, v double"
        ).repartition(parts)
        assert df.rdd.getNumPartitions() == parts
        with pytest.raises(ArchiveError, match=r"^chiv: downloading: formatting row"):
            Archiver(spark).archive_df(df, str(tmp_path), format=fmt)

    @pytest.mark.parametrize("fmt", ["csv", "json", "yaml"])
    @pytest.mark.parametrize("parts", [1, 2])
    def test_failing_scan_is_scanning_stage(self, spark, tmp_path, fmt, parts):
        # a row the query itself cannot produce fails the scan, not the
        # encode, in the driver form and on the executors alike
        from pyspark.sql import functions as F

        df = spark.range(10, numPartitions=parts).select(
            F.when(F.col("id") == 5, F.raise_error(F.lit("bad row")))
            .otherwise(F.col("id"))
            .alias("id")
        )
        with pytest.raises(ArchiveError, match=r"^chiv: downloading: scanning rows"):
            Archiver(spark).archive_df(df, str(tmp_path), format=fmt, key=f"scan.{fmt}")
        assert not (tmp_path / f"scan.{fmt}").exists()

    def test_opening_formatter_stage(self, spark, small_df, tmp_path):
        class BadOpen:
            extension = "x"

            def __init__(self, sink, columns):
                pass

            def open(self):
                raise RuntimeError("no header for you")

            def format_row(self, record):
                pass

            def close(self):
                pass

        with pytest.raises(ArchiveError, match=r"^chiv: downloading: opening formatter:"):
            Archiver(spark).archive_df(small_df, str(tmp_path), format=BadOpen)

    def test_closing_formatter_stage(self, spark, small_df, tmp_path):
        class BadClose:
            extension = "x"

            def __init__(self, sink, columns):
                pass

            def open(self):
                pass

            def format_row(self, record):
                pass

            def close(self):
                raise RuntimeError("flush failed")

        with pytest.raises(ArchiveError, match=r"^chiv: downloading: closing formatter:"):
            Archiver(spark).archive_df(small_df, str(tmp_path), format=BadClose)

    def test_uploading_stage_from_sink_write(self, spark, small_df, tmp_path):
        """A failure inside sink.write surfaces as the uploading stage
        even though it's raised mid-format (the pipe separation the
        reference gets from its errgroup, chiv.go:130-142)."""
        import chiv_spark.core.archiver as archiver_mod

        class BadSink:
            def write(self, data):
                raise OSError("disk full")

        class BadStorage:
            def writer(self, bucket, key):
                from contextlib import contextmanager

                @contextmanager
                def cm():
                    yield BadSink()

                return cm()

        orig = archiver_mod.storage_for
        archiver_mod.storage_for = lambda bucket, spark=None: BadStorage()
        try:
            with pytest.raises(UploadError, match=r"^chiv: uploading: disk full"):
                Archiver(spark).archive_df(small_df, str(tmp_path))
        finally:
            archiver_mod.storage_for = orig

    def test_unwritable_bucket_is_uploading(self, spark, small_df):
        with pytest.raises(ArchiveError, match=r"^chiv: uploading:"):
            Archiver(spark).archive_df(small_df, "/proc/definitely/not/writable")

    def test_error_carries_stage_and_cause(self, spark, small_df, tmp_path):
        try:
            Archiver(spark).archive("missing_table", str(tmp_path))
        except ArchiveError as e:
            assert e.stage == "querying 'missing_table'"
            assert e.cause is not None


class TestNoPartialObjectOnFailure:
    """The reference aborts the S3 multipart upload on error (ctx
    cancellation through the errgroup, chiv.go:126-143), so no object
    appears at bucket/key; a truncated object here would read as a
    complete archive."""

    class _ExplodesMidway:
        extension = "x"

        def __init__(self, sink, columns):
            self._sink = sink
            self._n = 0

        def open(self):
            self._sink.write(b"partial header\n")

        def format_row(self, record):
            self._n += 1
            if self._n == 2:
                raise RuntimeError("boom")
            self._sink.write(b"row\n")

        def close(self):
            pass

    def test_local_storage_partial_object_removed(self, spark, small_df, tmp_path):
        with pytest.raises(ArchiveError, match="formatting"):
            Archiver(spark).archive_df(
                small_df, str(tmp_path), format=self._ExplodesMidway, key="part.x"
            )
        assert not (tmp_path / "part.x").exists()

    def test_hadoop_storage_partial_object_removed(self, spark, small_df, tmp_path):
        with pytest.raises(ArchiveError, match="formatting"):
            Archiver(spark).archive_df(
                small_df, f"file://{tmp_path}", format=self._ExplodesMidway, key="part.x"
            )
        assert not (tmp_path / "part.x").exists()

    def test_close_failure_chains_not_masks(self, spark, small_df, tmp_path):
        """If the body failed AND the writer close failed, the original
        ArchiveError propagates with the close error attached as a note
        (not replaced by an UploadError)."""
        import chiv_spark.core.archiver as archiver_mod

        class BadCloseStorage:
            def writer(self, bucket, key):
                from contextlib import contextmanager

                @contextmanager
                def cm():
                    try:
                        yield type("W", (), {"write": lambda self, d: None})()
                    finally:
                        raise OSError("close failed")

                return cm()

            def delete(self, bucket, key):
                pass

        orig = archiver_mod.storage_for
        archiver_mod.storage_for = lambda bucket, spark=None: BadCloseStorage()
        try:
            with pytest.raises(ArchiveError, match="formatting") as ei:
                Archiver(spark).archive_df(
                    small_df, str(tmp_path), format=TestNoPartialObjectOnFailure._ExplodesMidway
                )
            assert any("close failed" in n for n in getattr(ei.value, "__notes__", []))
        finally:
            archiver_mod.storage_for = orig

    def test_close_failure_alone_is_upload_error_and_removes_object(
        self, spark, small_df, tmp_path
    ):
        import chiv_spark.core.archiver as archiver_mod
        from chiv_spark.core.storage import LocalStorage

        class BadCloseLocal(LocalStorage):
            def writer(self, bucket, key):
                from contextlib import contextmanager

                @contextmanager
                def cm():
                    import os

                    path = os.path.join(bucket, key)
                    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
                    with open(path, "wb") as f:
                        yield f
                    raise OSError("finalize failed")

                return cm()

        orig = archiver_mod.storage_for
        archiver_mod.storage_for = lambda bucket, spark=None: BadCloseLocal()
        try:
            with pytest.raises(UploadError, match="finalize failed"):
                Archiver(spark).archive_df(small_df, str(tmp_path), format="csv", key="t.csv")
            assert not (tmp_path / "t.csv").exists()
        finally:
            archiver_mod.storage_for = orig


class TestJobGroupOption:
    def test_archive_accepts_job_group(self, spark, small_df, tmp_path):
        """archive() must pop job_group like archive_df does — it is a
        runtime tag, not an ArchiveOptions field (a bare TypeError from
        dataclasses.replace is the bug)."""
        key = Archiver(spark).archive(
            "err_table", str(tmp_path), job_group="jg-archive", format="csv"
        )
        assert (tmp_path / key).exists()

    def test_archive_query_accepts_job_group(self, spark, small_df, tmp_path):
        key = Archiver(spark).archive_query(
            "SELECT * FROM err_table", str(tmp_path), job_group="jg-q", format="csv"
        )
        assert (tmp_path / key).exists()


class TestLazyPlaceholderParity:
    """The reference substitutes the placeholder into NULL cells only
    and parses at format time (chiv.go:175-181): an int column with an
    unparseable placeholder errors only if that column actually holds
    a NULL."""

    def test_no_null_in_typed_column_succeeds(self, spark, tmp_path):
        df = spark.createDataFrame([(1, None), (2, "x")], "id long, s string").coalesce(1)
        key = Archiver(spark).archive_df(
            df, str(tmp_path), format="json", key="ok.json", null="NA"
        )
        body = (tmp_path / key).read_text()
        assert '"s":"NA"' in body  # string NULL takes the placeholder

    def test_null_hitting_typed_column_fails_at_format_stage(self, spark, tmp_path):
        df = spark.createDataFrame(
            [(1, "a"), (None, "b")], "id long, s string"
        ).coalesce(1)
        with pytest.raises(ArchiveError, match="formatting"):
            Archiver(spark).archive_df(
                df, str(tmp_path), format="json", key="bad.json", null="NA"
            )
        assert not (tmp_path / "bad.json").exists()  # failure leaves no object
