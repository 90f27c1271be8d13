"""Streaming CDC apply: maintain a keyed materialized table in plain
parquet from a stream of change rows (foreachBatch + dynamic
partition overwrite).

Without a transactional table format (no Delta/Iceberg in this
container), the scale-correct plain-parquet MERGE is a
*partition-scoped rewrite*: the target is laid out in key-hash bucket
partitions (``kb = pmod(xxhash64(keys), n_buckets)``); each microbatch

1. reduces to latest-per-key by the sequence columns (CDC streams
   replay and arrive out of order — the max-seq row must win no
   matter which batch carries it),
2. reads back ONLY the buckets the batch touches (partition pruning
   on ``kb`` — the touched-bucket list is ≤ n_buckets values, a
   driver-safe collect at any scale),
3. full-merges old and new rows keeping max-seq per key (delete
   tombstones stay in stored state so out-of-order older updates
   cannot resurrect a deleted key; ``read_target`` hides them), and
4. rewrites just those bucket directories via
   ``spark.sql.sources.partitionOverwriteMode=dynamic``.

Cost per batch is O(batch + touched-bucket bytes), never O(table):
with n_buckets sized so a bucket holds ~1 task's worth of rows, a
small batch rewrites a small slice of a 100 TB table. Exactly-once
comes from the stream checkpoint plus idempotence — replaying an
epoch recomputes byte-identical bucket contents (latest-per-seq is
order-free), so a retried rewrite converges instead of duplicating.

Because merge priority is carried by the data (seq), not by batch
arrival order, the final table is independent of how the change log
is chopped into microbatches — the property the tests pin by
comparing a multi-batch streamed apply against a single-pass batch
MERGE of the same change set.

Reference parity: the batch MERGE semantics match
``cdc_merge_upsert`` (queries/timeseries.py); this module is the
continuous-ingest version of the same operation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from chiv_spark.streaming.runner import run_batches

#: partition column name for the key-hash bucket
_KB = "kb"


def _with_bucket(df: DataFrame, keys: list[str], n_buckets: int) -> DataFrame:
    return df.withColumn(_KB, F.pmod(F.xxhash64(*keys), F.lit(n_buckets)).cast("int"))


def _latest_per_key(df: DataFrame, keys: list[str], seq_cols: list[str]) -> DataFrame:
    w = Window.partitionBy(*keys).orderBy(*[F.col(c).desc() for c in seq_cols])
    return df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")


def read_touched_buckets(spark: SparkSession, target_dir: str, touched: list[int]) -> DataFrame:
    """Read back only the bucket partitions a batch touches. ``kb`` is
    a physical partition column, so the IN-filter prunes directories
    at planning time (asserted in tests/test_streaming_cdc.py) — the
    merge reads O(touched buckets), not O(table)."""
    return spark.read.parquet(target_dir).filter(F.col(_KB).isin(touched))


def apply_changes_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    target_dir: str,
    keys: list[str],
    seq_cols: list[str],
    op_col: str | None = None,
    n_buckets: int = 16,
) -> None:
    """Merge one batch of change rows into the bucketed parquet target.

    ``op_col``, when given, marks delete tombstones with the value
    ``'D'``: a delete with the winning sequence removes the key from
    the live view (``read_target``). The tombstone row itself is
    retained in stored state — see the module docstring.
    """
    if batch_df.isEmpty():
        return
    fresh = _latest_per_key(_with_bucket(batch_df, keys, n_buckets), keys, seq_cols)
    # ≤ n_buckets ints — bounded regardless of batch or table size
    touched = [r[_KB] for r in fresh.select(_KB).distinct().collect()]

    # explicit existence probe, NOT try/except around the read: a
    # transient FS error or corrupt footer on a non-first batch must
    # PROPAGATE — swallowing it would treat the batch as the first one
    # and the dynamic overwrite below would wipe every touched bucket's
    # prior keys. Hadoop FS API so hdfs:// and s3a:// targets probe the
    # same way as local paths.
    jpath = spark._jvm.org.apache.hadoop.fs.Path(target_dir)  # noqa: SLF001
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())  # noqa: SLF001
    if fs.exists(jpath):
        merged_input = read_touched_buckets(spark, target_dir, touched).unionByName(fresh)
    else:  # first batch: no target yet
        merged_input = fresh
    # tombstones are RETAINED in the stored state (only read_table
    # filters them out): dropping a winning delete would let an
    # out-of-order older update in a later batch resurrect the key.
    # At scale, tombstones older than the maximum replay lag are
    # GC-able by a periodic compaction pass.
    merged = _latest_per_key(merged_input, keys, seq_cols)

    # writer-scoped dynamic overwrite — setting the session conf here
    # would silently flip every later partitioned overwrite in the
    # session from static to dynamic semantics
    (
        merged.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(_KB)
        .parquet(target_dir)
    )


def apply_changes_stream(
    spark: SparkSession,
    changes_dir: str,
    schema,
    target_dir: str,
    checkpoint_dir: str,
    keys: list[str],
    seq_cols: list[str],
    op_col: str | None = None,
    n_buckets: int = 16,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Stream change files from ``changes_dir`` and apply them to the
    target via foreachBatch; runs bounded (availableNow) and returns
    the final materialized table."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", int(max_files_per_trigger))
    stream = reader.parquet(changes_dir)

    def _apply(batch_df: DataFrame, _batch_id: int) -> None:
        apply_changes_batch(
            spark, batch_df, target_dir, keys, seq_cols, op_col=op_col, n_buckets=n_buckets
        )

    run_batches(stream, checkpoint_dir, _apply)
    return read_target(spark, target_dir, op_col=op_col)


def read_target(spark: SparkSession, target_dir: str, op_col: str | None = None) -> DataFrame:
    """The live view of the materialized table: stored state minus
    retained delete tombstones."""
    df = spark.read.parquet(target_dir)
    if op_col is not None:
        df = df.filter(F.col(op_col) != "D")
    return df
