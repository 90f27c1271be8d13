"""Distributed S3 sink: every partition uploads its own part object.

The single-object path streams through the driver (reference parity);
this is the 100 TB path for ``s3://`` buckets — N partitions encode
and upload N part objects concurrently from the executors, so
throughput scales with cores/executors and the driver never touches
the bytes. No Hadoop S3 connector is required: each partition talks
to the S3 API directly with boto3. Each part is encoded by the
single-object sink's partition encoder (``archiver._part_encoder``):
a CSV part is the header plus its rows with Go quoting, a YAML part
its rows, and JSON becomes NDJSON — one JSON object per line, the
only framing that can be produced in parallel.

Connection config (endpoint/credentials/region) is read from the
DRIVER's environment at plan-build time and shipped to workers by
value — executors need no AWS environment of their own, which also
makes the moto-server integration test honest: workers are separate
processes that cannot see in-process mocks.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame


def _client_cfg() -> dict[str, str]:
    """Driver-side boto3 client kwargs shipped (by value) into the
    per-partition upload closures.

    Endpoint and region are plain configuration and always ship. The
    access key / secret ship ONLY when ``CHIV_SPARK_SHIP_S3_CREDS=1``:
    serializing long-lived secrets into task closures spreads them
    across executor heaps/logs/shuffle — on a real cluster the
    executors should resolve credentials themselves (instance
    profile / IRSA / env, boto3's default chain). The opt-in exists
    for dev setups (and this repo's moto tests) where the driver
    process's env changed after the JVM launched, so the executors'
    inherited env doesn't have the test credentials."""
    cfg: dict[str, str] = {}
    if os.environ.get("AWS_ENDPOINT_URL"):
        cfg["endpoint_url"] = os.environ["AWS_ENDPOINT_URL"]
    if os.environ.get("CHIV_SPARK_SHIP_S3_CREDS") == "1":
        if os.environ.get("AWS_ACCESS_KEY_ID"):
            cfg["aws_access_key_id"] = os.environ["AWS_ACCESS_KEY_ID"]
        if os.environ.get("AWS_SECRET_ACCESS_KEY"):
            cfg["aws_secret_access_key"] = os.environ["AWS_SECRET_ACCESS_KEY"]
    cfg["region_name"] = os.environ.get("AWS_DEFAULT_REGION", "us-east-1")
    return cfg


def write_distributed_s3(
    df: DataFrame, bucket: str, key: str, fmt: str, null: str | None
) -> list[tuple[str, int]]:
    """Upload one part object per partition under ``bucket/key/``.

    Returns [(part_key, n_bytes), ...] for the uploaded parts. Empty
    partitions upload nothing (no zero-byte part objects).
    """
    from chiv_spark.core.archiver import _part_encoder
    from chiv_spark.pyship import ensure_shipped

    # partition closures import chiv_spark on the workers
    ensure_shipped(df.sparkSession)

    cfg = _client_cfg()  # driver env, shipped by value
    bkt = bucket[len("s3://") :].strip("/")
    prefix = key.strip("/")
    part = _part_encoder("ndjson" if fmt == "json" else fmt, df.schema, null)

    def upload_partition(idx: int, rows):
        import boto3

        body = part(rows)
        if not body:
            return  # empty partition: no part object
        part_key = f"{prefix}/part-{idx:05d}.{fmt}"
        boto3.client("s3", **cfg).put_object(Bucket=bkt, Key=part_key, Body=body)
        yield (part_key, len(body))

    return df.rdd.mapPartitionsWithIndex(upload_partition).collect()
