"""Test-data catalog: the driver's parquet star schema.

The reference's source is any ``database/sql`` handle
(/root/reference/chiv.go:17-19); our correctness harness sources are
the driver-generated parquet tables (TESTDATA.md). Parquet is
self-describing, so this is the analog of the reference's
runtime-inferred column metadata (SURVEY.md §1.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from chiv_spark.core import state

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def normalize_event_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize the events timestamp column to TIMESTAMP regardless of
    how the parquet encoded it. Three encodings have been observed from
    the generator across rounds:

    - ``TIMESTAMP(NANOS)`` read as ``bigint`` under
      ``spark.sql.legacy.parquet.nanosAsLong`` → floor-divide to micros
      (matches DuckDB's ns→us truncation bit-exactly);
    - tz-less ``timestamp[us]`` read as ``timestamp_ntz`` (PySpark 4.1
      infers NTZ by default) → cast to ``timestamp``, exact under the
      engine's UTC session timezone;
    - plain ``timestamp`` → no-op.

    Every events consumer (``read_table`` and ``read_table_stream``)
    goes through this: ``unix_micros()`` and ``withWatermark()``
    both reject TIMESTAMP_NTZ.
    """
    from pyspark.sql import functions as F

    dtype = dict(df.dtypes).get(col)
    if dtype == "bigint":
        return df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
    if dtype == "timestamp_ntz":
        return df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The table's DataFrame, kept per (path, content fingerprint):
    ``spark.read.parquet`` costs a ~90 ms JVM round per call, and
    composed queries call t() for one table several times. DataFrames
    are immutable, so sharing one is safe; a rewritten table re-reads.
    Only the plan handle is kept, never rows."""
    path = f"{sf_dir.rstrip('/')}/{name}.parquet"
    if name == "events":
        # execution-time conf: set on every call (cache hit included)
        # so a session whose conf was reset still scans NANOS correctly
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    def build(_stale):
        df = spark.read.parquet(path)
        return normalize_event_ts(df) if name == "events" else df

    return state.get_or_build(spark, "table", path, state.fingerprint([path]), build)


def read_table_stream(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Table ``name`` of ``sf_dir`` as a streaming DataFrame under the
    table file's own schema (``events`` with the normalized ``ts`` of
    :func:`read_table`). A ``<name>.parquet`` directory, the layout
    appends land in, is streamed directly, so a newly added part file
    is what the checkpoint sees as the delta. The file stream source
    needs a directory, so a single file is streamed from ``sf_dir``
    through a glob filter selecting just that file. The layout is read
    through the Hadoop FileSystem: an ``os.path`` check is False for a
    ``scheme://`` URI and would glob a directory's part files away."""
    from chiv_spark.streaming import store

    sf = sf_dir.rstrip("/")
    path = f"{sf}/{name}.parquet"
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        # the raw file schema: read_table's ts is already normalized
        schema = spark.read.parquet(path).schema
    else:
        schema = read_table(spark, sf_dir, name).schema
    reader = spark.readStream.schema(schema)
    if store.is_dir(spark, path):
        stream = reader.parquet(path)
    else:
        stream = reader.option("pathGlobFilter", f"{name}.parquet").parquet(sf)
    return normalize_event_ts(stream) if name == "events" else stream


def load_tables(spark: SparkSession, sf_dir: str, register: bool = True) -> dict[str, DataFrame]:
    """Load every table; optionally register temp views so
    ``spark.sql`` / ``Archiver.archive(table, ...)`` can name them."""
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        df = read_table(spark, sf_dir, name)
        if register:
            df.createOrReplaceTempView(name)
        out[name] = df
    return out
