"""Streaming incremental ExactSubstr against the persisted window
index — the suffix tier's fold twin (every other incremental dedup
tier — MinHash, embedding, paragraph, bloom — already has one).

Shape: the corpus's 8-gram window index (operators/suffixes.py
``window_index``: per-doc occurrence counts keyed by the window's
xxhash64, pb-bucketed on pmod(wh, WINDOW_PB))
is seeded once from the resident base; each arriving microbatch is
span-checked and trimmed against the pb-PRUNED index through the
SHARED ``incremental_span_trim`` core (one implementation with the
batch registry query — the two cannot drift), then the batch's own
windows fold into the index and its raw text into a doc store so
later batches catch cross-batch repeats THROUGH the index — never a
cross-batch join.

Why a doc store alongside the index: pigeonhole makes {delta
candidates + index twins} a complete detector subcorpus, but the
suffix detector needs the twin documents' full TOKEN SEQUENCES, not
just their window counts — in production that is one pruned read of
the corpus table; here arrived generations persist next to the index
(the resident base stays a static relation). Only twin docs' text is
ever re-read.

Both stores are generational stores (streaming/store.py): dynamic
partition overwrite keyed on src_batch for replay idempotence, each
batch's index read excluding its own generation, tombstones and
compaction shared; the touched-bucket collect is bounded (≤ WINDOW_PB
values). Under availableNow with the whole delta in one batch the
result equals the batch query's relation, so the registry twins
share their DuckDB oracle verbatim.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from chiv_spark.operators.suffixes import (
    WINDOW_PB,
    incremental_span_trim,
    window_index,
)
from chiv_spark.session import overlap
from chiv_spark.streaming import store
from chiv_spark.streaming.runner import run_batches
from chiv_spark.streaming.store import SEED_BATCH

OUT_COLS = ["doc_id", "n_tokens", "span_ge8", "trimmed_text", "keep"]
OUT_SCHEMA = (
    "doc_id bigint, n_tokens bigint, span_ge8 bigint,"
    " trimmed_text string, keep boolean"
)

#: directory-partition fan-out of the DOC STORE on pmod(doc_id, P) —
#: gives the store the same bucketed/compactable layout as the window
#: index so one compaction lifecycle (store.compact) serves both
DOC_PB = 16

#: the window index's read schema (pb and src_batch are partition
#: columns); a store written by this module carries it as its sidecar
WINIDX_SCHEMA = "doc_id bigint, wh bigint, cnt bigint, pb int, src_batch int"


def _doc_pb():
    return F.pmod(F.col("doc_id"), F.lit(DOC_PB)).cast("int")


def _read_winidx(
    spark: SparkSession,
    index_dir: str,
    buckets: list[int] | None = None,
    exclude_batch: int | None = None,
) -> DataFrame:
    """The window index through the store, failing LOUDLY on a pre-r17
    layout: that format keyed windows by the joined window string
    ``w`` instead of ``wh bigint`` (xxhash64), and reading it as the
    new layout fills ``wh`` with nulls, so index joins match nothing
    and incremental dedup silently misses every resident duplicate.
    Such a store has no schema sidecar, so its read infers the schema
    and the legacy column shows."""
    idx = store.read(spark, index_dir, buckets, exclude_batch, id_col="doc_id")
    if "wh" not in idx.columns:
        raise ValueError(
            f"window index at {index_dir} uses the pre-r17 string-keyed "
            "layout (column 'w'); the engine now keys windows by xxhash64 "
            "('wh'). Re-seed the store (seed_suffix_store / the streaming "
            "fold) from the corpus — reading it as-is would silently "
            "nominate zero twins."
        )
    return idx


def _check_before_seed(spark: SparkSession, index_dir: str) -> None:
    # seeding into a PRE-EXISTING legacy store would dynamic-overwrite
    # only the seed generation, leave string-keyed generations in place
    # and stamp the new schema on them; a root with no data yet has no
    # layout to check
    from pyspark.errors import AnalysisException

    if store.exists(spark, index_dir):
        try:
            _read_winidx(spark, index_dir)
        except AnalysisException:
            pass


def read_doc_store(
    spark: SparkSession, docs_dir: str, exclude_batch: int | None = None
) -> DataFrame:
    """The doc store's visible (doc_id, text) relation: a GDPR-style
    forget takes effect at READ time, before compaction physically
    drops the text (raw document text is the most sensitive store the
    lifecycle guards)."""
    return store.read(spark, docs_dir, exclude_batch=exclude_batch).select(
        "doc_id", "text"
    )


def suffix_forget(spark: SparkSession, work_dir: str, doc_ids) -> None:
    """GDPR-style forget across BOTH of the suffix tier's persisted
    stores: the window index (the doc's 8-gram counts stop nominating
    it as a twin) and the doc store (its raw text is never re-read).
    Generation-scoped tombstones (store.forget), so a
    re-ingest of the same id after the delete lands in a later
    generation and stays visible; compact_suffix_store physically
    drops the suppressed rows from both stores."""
    work = work_dir.rstrip("/")
    # overlapped: exact_substr_delete_then_probe 6.55 → 5.95 s at sf0.1
    overlap(
        spark,
        lambda: store.forget(spark, f"{work}/winidx", doc_ids),
        lambda: store.forget(spark, f"{work}/docs", doc_ids),
    )


def seed_suffix_store(spark: SparkSession, docs: DataFrame, work_dir: str) -> None:
    """Persist a corpus snapshot as the suffix tier's generation-SEED
    state: its window index under pb(hash(w)) buckets and its raw
    text under pb(doc_id) buckets — what a production pipeline has on
    disk before any arrival, and the store the deletion lifecycle
    operates on."""
    work = work_dir.rstrip("/")
    _check_before_seed(docs.sparkSession, f"{work}/winidx")
    # overlapped: exact_substr_delete_then_probe 6.55 → 5.95 s at sf0.1
    overlap(
        spark,
        lambda: store.write_gen(window_index(docs), f"{work}/winidx", SEED_BATCH, "pb"),
        lambda: store.write_gen(
            docs.select("doc_id", "text").withColumn("pb", _doc_pb()),
            f"{work}/docs",
            SEED_BATCH,
            "pb",
        ),
    )


def probe_suffix_store(
    spark: SparkSession,
    delta: DataFrame,
    work_dir: str,
    threshold: int,
    scratch_dir: str | None = None,
) -> DataFrame:
    """Span-check and trim an arriving shard against the PERSISTED
    suffix store (window index + doc store), honoring pending
    tombstones on both reads — the probe half of the deletion
    lifecycle: a tombstoned doc's windows no longer nominate twins
    and its text is never re-read. Shares incremental_span_trim with
    the batch and streaming rows, so the three cannot drift."""
    work = work_dir.rstrip("/")
    delta = delta.select("doc_id", "text")
    dwin = window_index(delta).persist()
    touched = [r.pb for r in dwin.select("pb").distinct().collect()]
    if not touched:
        out = delta.select(
            "doc_id",
            F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
            F.lit(0).cast("long").alias("span_ge8"),
            F.col("text").alias("trimmed_text"),
            F.lit(True).alias("keep"),
        )
        dwin.unpersist()
        return out
    idx = _read_winidx(spark, f"{work}/winidx", touched)
    resident = read_doc_store(spark, f"{work}/docs")
    out = incremental_span_trim(
        delta, dwin, idx, resident, threshold, scratch_dir=scratch_dir
    )
    dwin.unpersist()
    return out


def compact_suffix_store(
    spark: SparkSession, work_dir: str, committed_through: int | None = None
) -> tuple[tuple[int, int], tuple[int, int]]:
    """Fold both stores' generations and PHYSICALLY drop tombstoned
    rows — window counts and raw text (the one store where 'physically
    dropped' is a privacy obligation, not just hygiene). Returns the
    (files_before, files_after) pair per store."""
    work = work_dir.rstrip("/")
    widx = store.compact(
        spark, f"{work}/winidx", committed_through, n_buckets=WINDOW_PB
    )
    docs = store.compact(spark, f"{work}/docs", committed_through, n_buckets=DOC_PB)
    return widx, docs


def incremental_exact_substr_stream(
    spark: SparkSession,
    base_docs: DataFrame,
    doc_stream: DataFrame,
    work_dir: str,
    threshold: int,
    delta_predicate: Column | None = None,
    scratch_dir: str | None = None,
) -> DataFrame:
    """Run the bounded streaming incremental-ExactSubstr job; returns
    the accumulated per-arrival (doc_id, n_tokens, span_ge8,
    trimmed_text, keep) relation read back from the sink."""
    work = work_dir.rstrip("/")
    index_dir = f"{work}/winidx"
    docs_dir = f"{work}/docs"
    out_dir = f"{work}/out"
    ckpt_dir = f"{work}/ckpt"

    _check_before_seed(spark, index_dir)
    store.write_gen(window_index(base_docs), index_dir, SEED_BATCH, "pb")

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        delta = (
            batch_df if delta_predicate is None else batch_df.filter(delta_predicate)
        ).select("doc_id", "text")
        dwin = window_index(delta).persist()
        touched = [r.pb for r in dwin.select("pb").distinct().collect()]
        if touched:
            # pruned + tombstone-aware reads (r13 verdict task 3):
            # a suffix_forget issued between batches takes effect on
            # the NEXT batch's index probe and twin-text read
            idx = _read_winidx(spark, index_dir, touched, exclude_batch=batch_id)
            if store.exists(spark, docs_dir):
                arrived = read_doc_store(spark, docs_dir, exclude_batch=batch_id)
            else:
                arrived = spark.createDataFrame([], "doc_id bigint, text string")
            resident = base_docs.select("doc_id", "text").unionByName(arrived)
            out = incremental_span_trim(
                delta, dwin, idx, resident, threshold, scratch_dir=scratch_dir
            )
        else:
            # r13 ADVICE (medium): window_index drops sub-WINDOW_N-token
            # docs, so a microbatch whose delta is ALL such docs has an
            # empty dwin. Skipping the output write here would silently
            # drop those arrivals from the returned relation, while the
            # batch twin's incremental_span_trim emits them through its
            # non-candidate branch — the "shared core" twins would
            # diverge. Emit the same out_non-shaped rows; nothing folds
            # (a sub-8-token doc has no windows, so it can never be a
            # later arrival's twin and its text need not persist).
            out = delta.select(
                "doc_id",
                F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
                F.lit(0).cast("long").alias("span_ge8"),
                F.col("text").alias("trimmed_text"),
                F.lit(True).alias("keep"),
            )
        store.write_gen(out, out_dir, batch_id)
        if touched:
            # AFTER the output action: fold this batch's windows and
            # text in, so a replay's excluded-own-generation read and
            # the dynamic overwrite keep the run idempotent; the doc
            # store shares the window index's bucketed layout (pb on
            # doc_id) so compact_suffix_store serves both. Not overlapped:
            # streaming_incremental_exact_substr gained less than the noise
            # at sf0.1 (ROADMAP direction 7)
            store.write_gen(dwin, index_dir, batch_id, "pb")
            store.write_gen(delta.withColumn("pb", _doc_pb()), docs_dir, batch_id, "pb")
        dwin.unpersist()

    run_batches(doc_stream, ckpt_dir, _apply)
    if not store.exists(spark, out_dir):
        return spark.createDataFrame([], OUT_SCHEMA)
    # explicit schema: a batch whose delta was EMPTY writes a file-less
    # sink directory (dynamic overwrite of zero rows), which schema
    # inference rejects — that is a legitimately empty result, not a
    # corrupt sink, so read it as such
    return spark.read.schema(f"{OUT_SCHEMA}, src_batch bigint").parquet(
        out_dir
    ).select(*OUT_COLS)
