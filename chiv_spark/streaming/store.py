"""The generational store: one layout, one writer, one reader, one
forget, one compaction and one swap for every persisted incremental
index (the dedup band index, the suffix window index and doc store,
the ANN codes, the ingest tiers and the domain counters).

Layout of a store rooted at ``<root>``::

    <root>/<bucket>=<b>/src_batch=<g>/part-*.parquet   bucketed stores
    <root>/src_batch=<g>/part-*.parquet                unbucketed sinks
    <root>/_tombstones/part-*.parquet                  pending deletions
    <root>/_schema.json                                the schema sidecar

- **Generations**: every write is one ``src_batch`` generation with
  dynamic partition overwrite, so a replayed microbatch replaces its
  own partitions instead of appending twice. Rows are clustered by
  the bucket column first: one file per (bucket, src_batch) dir.
- **No schema inference**: the first write leaves a ``_schema.json``
  sidecar (the leading underscore hides it from partition discovery,
  like ``_tombstones``) and every read passes it, so building a read
  fires no job and a store emptied by forget + compact stays
  readable. A root without a sidecar (written before the sidecar
  existed, or by hand) is read by inference.
- **Tombstones** are generation-scoped: each carries a half-open
  ``(frm, thru]`` src_batch range and suppresses only rows whose
  generation falls inside it, so an id re-ingested after its delete
  stays visible.
- Every file-system step (existence, listing, rename, delete) goes
  through the Hadoop ``FileSystem`` of the path, so ``file:``,
  ``s3a://`` and bare local roots run the same code, and a
  misconfigured scheme raises instead of reading as empty.
"""

from __future__ import annotations

import json
import re

from py4j.protocol import Py4JJavaError
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

#: src_batch generation of a seed (pre-stream) write and of every row
#: a full compaction collapses
SEED_BATCH = -1

_SIDECAR = "_schema.json"
_TOMB_SCHEMA = "doc_id bigint, frm bigint, thru bigint"
_GEN_DIR = re.compile(r"/src_batch=(-?\d+)(?=[,}])")


def _fs(spark: SparkSession, path: str):
    p = spark._jvm.org.apache.hadoop.fs.Path(path)  # noqa: SLF001
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p  # noqa: SLF001


def _tombstone_dir(root: str) -> str:
    return f"{root.rstrip('/')}/_tombstones"


def _glob(spark: SparkSession, pattern: str):
    """Hadoop globStatus: a Java FileStatus[] (None when nothing can
    match, e.g. under a missing root on some file systems)."""
    fs, p = _fs(spark, pattern)
    return fs.globStatus(p)


def _count(spark: SparkSession, pattern: str) -> int:
    found = _glob(spark, pattern)
    return 0 if found is None else len(found)


def _load_schema(spark: SparkSession, root: str) -> StructType | None:
    fs, p = _fs(spark, f"{root.rstrip('/')}/{_SIDECAR}")
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    try:
        raw = spark._jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")  # noqa: SLF001
    finally:
        stream.close()
    return StructType.fromJson(json.loads(raw))


def _save_schema(spark: SparkSession, root: str, schema: StructType) -> None:
    # only when absent: a local Hadoop create forks a chmod, which
    # would tax every fold if the sidecar were rewritten per generation
    fs, p = _fs(spark, f"{root.rstrip('/')}/{_SIDECAR}")
    if fs.exists(p):
        return
    out = fs.create(p, True)
    try:
        out.write(bytearray(schema.json().encode("utf-8")))
    finally:
        out.close()


def exists(spark: SparkSession, path: str) -> bool:
    """Existence through the Hadoop FileSystem of ``path``: a bare
    ``os.path`` check is always False for a ``scheme://`` URI, which
    would silently scope a delete to the seed generation or drop the
    pending deletion set."""
    fs, p = _fs(spark, path)
    return bool(fs.exists(p))


def is_dir(spark: SparkSession, path: str) -> bool:
    """Whether ``path`` is a directory, read through its Hadoop
    FileSystem for the same reason as :func:`exists`; raises if
    ``path`` does not exist."""
    fs, p = _fs(spark, path)
    return bool(fs.getFileStatus(p).isDirectory())


def write_gen(
    rel: DataFrame, root: str, batch_id: int, bucket: str | None = None
) -> None:
    """Write ``rel`` as generation ``batch_id`` under
    ``[bucket, ]src_batch`` partitions with dynamic partition
    overwrite: re-writing the same batch_id replaces its own
    partitions and touches nothing else. With a ``bucket`` column the
    rows are clustered on it first, one file per (bucket, src_batch)
    dir instead of one sliver per upstream task per dir (the suffix
    tier measured ~1,000 tiny files per generation without it)."""
    rel = rel.withColumn("src_batch", F.lit(int(batch_id)))
    if bucket is not None:
        rel = rel.repartition(F.col(bucket))
    (
        rel.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*([bucket] if bucket else []), "src_batch")
        .parquet(root)
    )
    _save_schema(rel.sparkSession, root, rel.schema)


def _scan(spark: SparkSession, root: str, schema=None) -> DataFrame:
    schema = schema if schema is not None else _load_schema(spark, root)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(root)


def _tombstones(spark: SparkSession, root: str) -> DataFrame | None:
    d = _tombstone_dir(root)
    # read the part files through a glob, not the directory: Spark's
    # hidden-path filter flags a read root named ``_tombstones`` and
    # logs "All paths were ignored" on every probe
    src = f"{d}/*.parquet"
    if _count(spark, src) == 0:
        return None
    # tombstones written before generation scoping carry doc_id only:
    # they default to the widest scope, suppressing the id in every
    # generation (the old semantics)
    return spark.read.schema(_TOMB_SCHEMA).parquet(src).select(
        "doc_id",
        F.coalesce("frm", F.lit(SEED_BATCH - 1).cast("long")).alias("frm"),
        F.coalesce("thru", F.lit(1 << 62).cast("long")).alias("thru"),
    )


def read_tombstones(spark: SparkSession, root: str) -> DataFrame | None:
    """The pending (not yet compacted) deletion set, one row per
    (doc_id, frm, thru) scope, or None when the store has none."""
    tomb = _tombstones(spark, root)
    return None if tomb is None else tomb.distinct()


def anti_join_tombstones(rel: DataFrame, tomb: DataFrame, id_col: str) -> DataFrame:
    """Drop rows of ``rel`` (which must carry ``src_batch``) whose id
    is tombstoned AND whose generation falls inside the tombstone's
    ``(frm, thru]`` scope. Broadcast anti-join: deletion requests are
    tiny relative to the corpus by nature."""
    t = tomb.select(
        F.col("doc_id").alias("__ts_id"),
        F.col("frm").alias("__ts_frm"),
        F.col("thru").alias("__ts_thru"),
    )
    cond = (
        (rel[id_col] == t["__ts_id"])
        & (rel["src_batch"] > t["__ts_frm"])
        & (rel["src_batch"] <= t["__ts_thru"])
    )
    return rel.join(F.broadcast(t), cond, "left_anti")


def read(
    spark: SparkSession,
    root: str,
    buckets: list[int] | None = None,
    exclude_batch: int | None = None,
    id_col: str = "doc_id",
    bucket: str = "pb",
    schema=None,
) -> DataFrame:
    """The store's visible rows: only the ``buckets`` partitions when
    given (a partition-pruned scan), minus generation
    ``exclude_batch`` (a replayed batch must not see what it already
    folded), minus rows a pending tombstone scopes out. ``schema``
    overrides the sidecar."""
    rel = _scan(spark, root, schema)
    if buckets is not None:
        rel = rel.filter(F.col(bucket).isin([int(b) for b in buckets]))
    if exclude_batch is not None:
        rel = rel.filter(F.col("src_batch") != int(exclude_batch))
    tomb = read_tombstones(spark, root)
    return rel if tomb is None else anti_join_tombstones(rel, tomb, id_col)


def forget(
    spark: SparkSession,
    root: str,
    ids,
    id_col: str = "doc_id",
    thru: int | None = None,
) -> None:
    """Tombstone ``ids`` (a one-column DataFrame or an iterable of
    ints): they leave every read at once and are physically dropped
    at the next :func:`compact`. ``thru`` defaults to the newest
    generation the store holds, taken from one listing of its
    ``src_batch=`` directory names; a missing or empty store scopes
    the delete to the seed generation. Rows re-ingested for the same
    id after the delete land in a later generation and stay visible.
    Append-only: one tiny file per call."""
    rel = (
        ids
        if isinstance(ids, DataFrame)
        else spark.createDataFrame([(int(d),) for d in ids], f"{id_col} bigint")
    )
    if thru is None:
        jvm = spark._jvm  # noqa: SLF001
        found = _glob(spark, f"{root.rstrip('/')}/*/src_batch=*")
        # one string for the whole listing: no py4j call per directory
        listed = jvm.org.apache.commons.lang3.ArrayUtils.toString(
            jvm.org.apache.hadoop.fs.FileUtil.stat2Paths(found)
        )
        thru = max((int(g) for g in _GEN_DIR.findall(listed)), default=SEED_BATCH)
    (
        rel.selectExpr(f"CAST({id_col} AS BIGINT) AS doc_id")
        .withColumn("frm", F.lit(int(SEED_BATCH - 1)).cast("long"))
        .withColumn("thru", F.lit(int(thru)).cast("long"))
        .coalesce(1)
        .write.mode("append")
        .parquet(_tombstone_dir(root))
    )


def _scoped_out(tombs: list[tuple], id_col: str) -> Column:
    """True for rows some collected tombstone scopes out: compaction's
    form of :func:`anti_join_tombstones` once the tombstones are on the
    driver — a filter, so the rewrite runs without a broadcast job."""
    out = F.lit(False)
    for frm, thru in sorted({(f, t) for _, f, t in tombs}):
        ids = [d for d, f, t in tombs if (f, t) == (frm, thru)]
        out = out | (
            F.col(id_col).isin(ids)
            & (F.col("src_batch") > frm)
            & (F.col("src_batch") <= thru)
        )
    return F.coalesce(out, F.lit(False))


def compact(
    spark: SparkSession,
    root: str,
    committed_through: int | None = None,
    id_col: str = "doc_id",
    bucket: str = "pb",
    n_buckets: int = 16,
) -> tuple[int, int]:
    """Fold the generations into one file per bucket, physically drop
    tombstoned rows, and swap the result in for the live root.
    Returns (files_before, files_after) from Hadoop listings.

    ``committed_through`` governs the replay guard (the
    ``exclude_batch`` filter keys on src_batch):

    - an int: only generations with ``src_batch <= committed_through``
      collapse to SEED_BATCH; newer generations keep their label, so a
      batch that folded but whose checkpoint commit had not landed can
      still replay without self-joining its own rows. Always safe:
      pass the last batch id the checkpoint shows committed.
    - None: all generations collapse. Needs a cleanly committed
      checkpoint (no batch in flight). If violated, the id inequality
      of the vs-index joins still keeps a replay from self-pairing;
      the residue is duplicate cross-pair rows, not corruption.

    Tombstones are collected once. They drop rows on the ORIGINAL
    generation labels, before the collapse relabels them, so a
    re-ingested id's newer rows are never caught by an older
    tombstone. Then they are consumed: all of them on a full
    collapse; on a partial one each is carried into the new root with
    ``frm = max(frm, committed_through)`` (its compacted range is
    spent, but a replayed uncommitted batch in (committed_through,
    thru] would re-fold the id's rows), and one whose scope empties
    drops out. The schema sidecar is carried too, so a store whose
    every row was dropped stays readable. The data is written once.
    A store with no data files is left as it is."""
    root = root.rstrip("/")
    files = f"{root}/*/src_batch=*/*.parquet"
    before = _count(spark, files)
    if before == 0:
        return 0, 0
    tomb = _tombstones(spark, root)
    tombs = sorted({tuple(r) for r in tomb.collect()}) if tomb is not None else []
    rows = scan = _scan(spark, root)
    if tombs:
        rows = rows.filter(~_scoped_out(tombs, id_col))
    gen = F.col("src_batch")
    if committed_through is None:
        label = F.lit(SEED_BATCH)
    else:
        label = F.when(gen <= int(committed_through), F.lit(SEED_BATCH)).otherwise(gen)
    staged = root + ".compacting"
    (
        rows.withColumn("src_batch", label)
        .repartition(n_buckets, bucket)
        .write.mode("overwrite")
        .partitionBy(bucket, "src_batch")
        .parquet(staged)
    )
    if committed_through is not None:
        carried = [
            (d, max(f, int(committed_through)), t)
            for d, f, t in tombs
            if max(f, int(committed_through)) < t
        ]
        if carried:
            spark.createDataFrame(carried, _TOMB_SCHEMA).coalesce(1).write.parquet(
                _tombstone_dir(staged)
            )
    _save_schema(spark, staged, scan.schema)
    swap(spark, root, staged)
    return before, _count(spark, files)


def delete(spark: SparkSession, path: str) -> None:
    """Remove ``path`` recursively; a missing path is a no-op."""
    fs, p = _fs(spark, path)
    fs.delete(p, True)


def swap(spark: SparkSession, live: str, staged: str) -> None:
    """Replace the directory ``live`` by ``staged``: rename live aside
    to ``<live>.precompact``, rename staged to live, delete the old
    dir. A Hadoop rename onto an EXISTING directory nests the source
    inside it and still reports success, which is why live moves
    aside first. Raises, with live left readable and unchanged, when
    staged is missing or cannot be moved in. A live dir that does not
    exist yet is simply created.

    Not atomic: on a local or HDFS root each rename is, but between
    the two a reader sees no live dir; on ``s3a://`` a rename is a
    copy plus delete, so that window grows with the store. Run it
    between stream restarts, never under a concurrent reader."""
    live = live.rstrip("/")
    fs, live_p = _fs(spark, live)
    staged_p = _fs(spark, staged)[1]
    old = _fs(spark, live + ".precompact")[1]
    if not fs.exists(staged_p):
        raise FileNotFoundError(f"staged store {staged} does not exist")
    has_live = bool(fs.exists(live_p))
    if fs.exists(old):
        if not has_live:
            raise FileExistsError(
                f"{live} is missing and {live}.precompact holds its last state "
                "(an earlier swap was cut short): move it back first"
            )
        fs.delete(old, True)
    if has_live and not fs.rename(live_p, old):
        raise OSError(f"could not move {live} aside")
    try:
        moved = bool(fs.rename(staged_p, live_p))
    except Py4JJavaError:  # e.g. staged vanished: roll back below
        moved = False
    if not moved:
        if has_live:
            fs.rename(old, live_p)
        raise OSError(f"could not move {staged} to {live}; {live} is unchanged")
    if has_live:
        fs.delete(old, True)
