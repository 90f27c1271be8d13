"""Real S3-protocol sink tests against moto's in-process S3.

The reference's integration tier uploads through
``s3manager.UploadWithContext`` to localstack and download-back
byte-compares the object (/root/reference/chiv_integration_test.go:
313-319); on error the errgroup context aborts the multipart upload so
no object appears (chiv.go:126-143). These tests run the identical
loop against the S3 *API* (moto): streaming multipart upload, byte
compare on download, abort-on-failure leaving neither an object nor a
dangling multipart upload.
"""

from __future__ import annotations

import pytest

boto3 = pytest.importorskip("boto3")
pytest.importorskip("moto")

from moto import mock_aws  # noqa: E402

from chiv_spark import Archiver  # noqa: E402
from chiv_spark.core.errors import ArchiveError  # noqa: E402
from chiv_spark.core.storage import S3BotoStorage, storage_for  # noqa: E402

BUCKET = "chiv-test-bucket"


@pytest.fixture()
def s3(monkeypatch):
    monkeypatch.setenv("AWS_ACCESS_KEY_ID", "testing")
    monkeypatch.setenv("AWS_SECRET_ACCESS_KEY", "testing")
    monkeypatch.setenv("AWS_DEFAULT_REGION", "us-east-1")
    with mock_aws():
        client = boto3.client("s3", region_name="us-east-1")
        client.create_bucket(Bucket=BUCKET)
        yield client


@pytest.fixture(scope="module")
def small_df(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id long, s string"
    ).coalesce(1)
    return df


class TestS3Storage:
    def test_storage_for_picks_boto_for_s3_scheme(self, s3):
        assert isinstance(storage_for(f"s3://{BUCKET}"), S3BotoStorage)

    def test_archive_upload_download_back(self, spark, small_df, s3, tmp_path):
        """The reference loop: archive to S3, download the object back,
        byte-compare with the same archive written locally."""
        a = Archiver(spark)
        key = a.archive_df(small_df, f"s3://{BUCKET}", format="csv", key="t.csv")
        local_key = a.archive_df(small_df, str(tmp_path), format="csv", key="t.csv")
        s3_bytes = s3.get_object(Bucket=BUCKET, Key=key)["Body"].read()
        local_bytes = (tmp_path / local_key).read_bytes()
        assert s3_bytes == local_bytes
        assert s3_bytes.startswith(b"id,s\n1,a\n")

    def test_streaming_multipart_parts(self, s3):
        """Data larger than part_size streams as real multiple parts
        (bounded memory — the s3manager behavior). moto enforces S3's
        genuine 5 MiB minimum part size, so this uses it: ~10.5 MiB
        in odd-sized chunks -> 3 parts (5 MiB, 5 MiB, remainder)."""
        part = 5 * 1024 * 1024
        st = S3BotoStorage(part_size=part, client=s3)
        payload = bytes(range(256)) * 43008  # 10.5 MiB
        with st.writer(f"s3://{BUCKET}", "big.bin") as w:
            for i in range(0, len(payload), 700_001):  # odd chunks cross part edges
                w.write(payload[i : i + 700_001])
        assert st.read_bytes(f"s3://{BUCKET}", "big.bin") == payload

    def test_failure_aborts_multipart_no_object(self, spark, small_df, s3):
        """Mid-archive failure: abort_multipart_upload runs — no object
        at the key AND no dangling multipart upload."""

        class Boom:
            extension = "x"

            def __init__(self, sink, columns):
                self._sink = sink

            def open(self):
                self._sink.write(b"partial bytes that must never become an object")

            def format_row(self, record):
                raise RuntimeError("boom")

            def close(self):
                pass

        with pytest.raises(ArchiveError, match="formatting"):
            Archiver(spark).archive_df(small_df, f"s3://{BUCKET}", format=Boom, key="p.x")
        from botocore.exceptions import ClientError

        with pytest.raises(ClientError, match="NoSuchKey"):
            s3.get_object(Bucket=BUCKET, Key="p.x")
        uploads = s3.list_multipart_uploads(Bucket=BUCKET).get("Uploads", [])
        assert uploads == []

    def test_delete(self, s3):
        st = S3BotoStorage(client=s3)
        with st.writer(f"s3://{BUCKET}", "d.bin") as w:
            w.write(b"x")
        st.delete(f"s3://{BUCKET}", "d.bin")
        from botocore.exceptions import ClientError

        with pytest.raises(ClientError):
            s3.get_object(Bucket=BUCKET, Key="d.bin")

    def test_failed_complete_aborts_upload(self, s3):
        """If complete_multipart_upload itself fails (e.g. a part under
        the 5 MiB minimum — moto enforces it), the upload must be
        aborted, not left dangling."""
        from botocore.exceptions import ClientError

        st = S3BotoStorage(part_size=1024, client=s3)  # parts too small: complete fails
        with pytest.raises(ClientError, match="EntityTooSmall"):
            with st.writer(f"s3://{BUCKET}", "small-parts.bin") as w:
                w.write(bytes(5000))
        assert s3.list_multipart_uploads(Bucket=BUCKET).get("Uploads", []) == []


class TestDistributedS3Sink:
    """Executor-side parallel part uploads against a REAL S3 HTTP
    server (moto's ThreadedMotoServer): Spark python workers are
    separate processes, so in-process mocks can't see their traffic —
    this exercises genuine network S3 calls from every partition."""

    @pytest.fixture()
    def s3_server(self, monkeypatch):
        from moto.server import ThreadedMotoServer

        server = ThreadedMotoServer(port=0)
        server.start()
        port = server._server.socket.getsockname()[1]  # noqa: SLF001
        endpoint = f"http://127.0.0.1:{port}"
        monkeypatch.setenv("AWS_ENDPOINT_URL", endpoint)
        monkeypatch.setenv("AWS_ACCESS_KEY_ID", "testing")
        monkeypatch.setenv("AWS_SECRET_ACCESS_KEY", "testing")
        monkeypatch.setenv("AWS_DEFAULT_REGION", "us-east-1")
        # creds must ship by value here: these env vars were set after
        # the Spark JVM launched, so workers can't inherit them (the
        # production default is executors resolving their own creds)
        monkeypatch.setenv("CHIV_SPARK_SHIP_S3_CREDS", "1")
        client = boto3.client(
            "s3",
            endpoint_url=endpoint,
            region_name="us-east-1",
            aws_access_key_id="testing",
            aws_secret_access_key="testing",
        )
        client.create_bucket(Bucket=BUCKET)
        yield client
        server.stop()

    def test_parallel_csv_parts_upload_and_reassemble(self, spark, s3_server):
        df = spark.createDataFrame(
            [(i, f"name-{i}") for i in range(100)], "id long, name string"
        ).repartition(4)
        Archiver(spark).archive_df(
            df, f"s3://{BUCKET}", format="csv", key="dist", distributed=True
        )
        keys = [
            o["Key"]
            for o in s3_server.list_objects_v2(Bucket=BUCKET, Prefix="dist/")["Contents"]
        ]
        assert len(keys) == 4 and all(k.endswith(".csv") for k in keys)
        rows = set()
        for k in keys:
            body = s3_server.get_object(Bucket=BUCKET, Key=k)["Body"].read().decode()
            lines = body.splitlines()
            assert lines[0] == "id,name"  # each part carries the header
            rows.update(lines[1:])
        assert rows == {f"{i},name-{i}" for i in range(100)}

    def test_ndjson_parts(self, spark, s3_server):
        df = spark.createDataFrame([(1, None), (2, "x")], "id long, s string").repartition(2)
        Archiver(spark).archive_df(
            df, f"s3://{BUCKET}", format="json", key="nd", null="NA", distributed=True
        )
        objs = s3_server.list_objects_v2(Bucket=BUCKET, Prefix="nd/")["Contents"]
        lines = []
        for o in objs:
            lines += (
                s3_server.get_object(Bucket=BUCKET, Key=o["Key"])["Body"]
                .read()
                .decode()
                .splitlines()
            )
        assert sorted(lines) == ['{"id":1,"s":"NA"}', '{"id":2,"s":"x"}']

    def test_csv_part_matches_single_object(self, spark, s3_server):
        """The s3:// CSV part and the single-object CSV come from the
        same encoder: a one-partition frame gives the same bytes."""
        df = spark.createDataFrame(
            [(1, None, 0.5), (2, ' x,"y"', None), (3, "", 1e21)], "id long, s string, v double"
        ).coalesce(1)
        a = Archiver(spark)
        a.archive_df(df, f"s3://{BUCKET}", format="csv", key="one.csv", null="NA")
        a.archive_df(df, f"s3://{BUCKET}", format="csv", key="csvpart", null="NA", distributed=True)
        objs = s3_server.list_objects_v2(Bucket=BUCKET, Prefix="csvpart/")["Contents"]
        assert len(objs) == 1
        part = s3_server.get_object(Bucket=BUCKET, Key=objs[0]["Key"])["Body"].read()
        single = s3_server.get_object(Bucket=BUCKET, Key="one.csv")["Body"].read()
        assert part == single
        assert single.startswith(b"id,s,v\n1,NA,0.5\n")

    def test_parquet_rejected_with_clear_error(self, spark, s3_server):
        df = spark.createDataFrame([(1,)], "id long")
        with pytest.raises(ValueError, match="parquet"):
            Archiver(spark).archive_df(
                df, f"s3://{BUCKET}", format="parquet", key="p", distributed=True
            )

    def test_streaming_archive_to_s3(self, spark, s3_server, tmp_path):
        """The continuous-archival job (foreachBatch -> distributed
        sink) lands micro-batches as part objects on real S3: the
        reference's archival made continuous AND cloud-parallel."""
        from chiv_spark.sources.catalog import read_table_stream
        from chiv_spark.streaming.archive import archive_stream

        keys = archive_stream(
            read_table_stream(spark, "/root/testdata/sf0.001", "events"),
            f"s3://{BUCKET}",
            str(tmp_path / "ckpt"),
            key_template="events_stream.csv/batch={batch_id}",
            format="csv",
            distributed=True,
        )
        n = len(keys)
        assert n >= 1
        objs = s3_server.list_objects_v2(Bucket=BUCKET, Prefix="events_stream.csv/")[
            "Contents"
        ]
        assert objs, "no part objects uploaded"
        total_rows = 0
        for o in objs:
            body = s3_server.get_object(Bucket=BUCKET, Key=o["Key"])["Body"].read().decode()
            lines = body.splitlines()
            assert lines[0].startswith("event_id,") or "," in lines[0]  # header
            total_rows += len(lines) - 1
        import duckdb

        expected = duckdb.sql(
            "SELECT COUNT(*) FROM '/root/testdata/sf0.001/events.parquet'"
        ).fetchone()[0]
        assert total_rows == expected
