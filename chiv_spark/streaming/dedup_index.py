"""Streaming incremental near-dup detection against a persisted,
BUCKETED band index — text MinHash and embedding hyperplane variants
over one shared fold harness.

The streaming form of the batch ``dedup_incremental_lsh`` /
``dedup_incremental_embed`` queries — the shape a production ingest
pipeline actually runs: document (or vector) shards ARRIVE as a
stream; each microbatch is deduped against the corpus's persisted
band-signature index plus within-batch self-pairs, and then the
batch's own signatures are FOLDED INTO the index so every later batch
sees them. Cross-batch near-dup pairs are therefore caught through
the index, not through any cross-batch join — per-arrival cost stays
O(|batch| + matching index buckets) and the raw corpus is never
re-read.

Why ``foreachBatch`` and not a stream-stream/stream-static join: the
MinHash signature of an arriving document is a shingle-explode →
16-way min aggregation, and Structured Streaming cannot place a
stateful aggregation below a join without unsupported-operation
errors; more fundamentally the index UPDATE (fold this batch's
signatures in) is a side effect no declarative streaming join
expresses. ``foreachBatch`` is the documented escape hatch for
exactly this merge-into-index shape (the same reason streaming/cdc.py
uses it for MERGE semantics). Everything inside the batch function is
JVM-side DataFrame API — no Python row UDFs; the only collect is the
bounded touched-bucket list (≤ P_BUCKETS values, the cdc.py
precedent).

The 100 TB layout is the generational store's (streaming/store.py),
which owns the directories, the schema sidecar, tombstones,
compaction and the swap; this module keeps the band-index specifics:

- **Bucketed**: index rows live under ``pb = pmod(key, P_BUCKETS)``
  directory partitions, so each microbatch's band join reads ONLY
  the partitions its delta touches — the pruned scan is plan-pinned
  by tests/test_streaming.py::TestIndexLayout (PartitionFilters on
  pb), not asserted in prose.
- **Idempotent** (the foreachBatch exactly-once caveat): pairs and
  index generations are ``src_batch`` generations with dynamic
  partition overwrite — a replayed microbatch OVERWRITES its own
  partitions instead of appending twice — and each batch's index
  read EXCLUDES its own ``src_batch`` so a replay that already folded
  its signatures does not self-join against them.
- **Compactable**: every batch appends one small generation per
  touched bucket; :func:`compact_index` folds all generations into
  one file per bucket (pairs unchanged, file count drops — pytest'd)
  through ``store.compact``, whose swap runs on the root's Hadoop
  FileSystem, so local, ``file://`` and ``s3a://`` roots share it
  (on ``s3a://`` the swap is not atomic; see ``store.swap``).

Each fold runs as a bounded ``foreachBatch`` stream through
streaming/runner.py. With the whole delta in one availableNow batch
the result equals the corresponding batch query's relation, which is
how the registry queries share their DuckDB oracles verbatim.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from chiv_spark.operators import dedup, similarity
from chiv_spark.streaming import store
from chiv_spark.streaming.runner import run_batches
from chiv_spark.streaming.store import (  # noqa: F401 — the index's public names
    SEED_BATCH,
    _tombstone_dir,
    anti_join_tombstones,
    read_tombstones,
)

#: directory-partition fan-out of the index on pmod(band key, P).
#: 16 here (tests read partition listings); thousands at 100 TB —
#: the knob trades listing cost against pruning granularity.
P_BUCKETS = 16

#: the (doc_a, doc_b, est_jaccard) text sink columns
PAIR_COLS = ["doc_a", "doc_b", "est_jaccard"]
PAIR_SCHEMA = "doc_a bigint, doc_b bigint, est_jaccard double"

#: the (id_a, id_b, cosine) embedding sink columns
EMB_PAIR_COLS = ["id_a", "id_b", "cosine"]
EMB_PAIR_SCHEMA = "id_a bigint, id_b bigint, cosine double"


def _pb(key_col: str) -> Column:
    return F.pmod(F.col(key_col), F.lit(P_BUCKETS)).cast("int")


def write_tombstones(
    spark: SparkSession,
    index_dir: str,
    doc_ids,
    id_col: str = "doc_id",
    thru: int | None = None,
) -> None:
    """Record source-doc deletion requests (GDPR-style forget) against
    the index: a tombstoned id leaves every later read_index_pruned
    scan at once, and compact_index physically drops its rows.
    Generation-scoped, with ``thru`` defaulting to the index's newest
    generation (:func:`store.forget`)."""
    store.forget(spark, index_dir, doc_ids, id_col=id_col, thru=thru)


def write_index_generation(
    index_rel: DataFrame, key_col: str, index_dir: str, batch_id: int
) -> None:
    """Write one index generation under (pb, src_batch) partitions,
    pb = pmod(key_col, P_BUCKETS) (:func:`store.write_gen`: replaying
    a batch_id replaces its own partitions)."""
    store.write_gen(index_rel.withColumn("pb", _pb(key_col)), index_dir, batch_id, "pb")


def read_index_pruned(
    spark: SparkSession,
    index_dir: str,
    touched_pbs: list[int],
    exclude_batch: int | None = None,
    id_col: str = "doc_id",
    schema: str | None = None,
) -> DataFrame:
    """The per-batch index relation: only the pb partitions the
    arriving delta touches (PartitionFilters on pb, plan-pinned in
    tests), minus the batch's own generation so a replayed batch never
    joins against the signatures it already folded in, minus pending
    tombstones (:func:`store.read`). ``schema`` overrides the store's
    schema sidecar."""
    return store.read(
        spark, index_dir, touched_pbs, exclude_batch, id_col=id_col, bucket="pb",
        schema=schema,
    )


def compact_index(
    spark: SparkSession,
    index_dir: str,
    committed_through: int | None = None,
    id_col: str = "doc_id",
    part_col: str = "pb",
    n_parts: int = P_BUCKETS,
) -> tuple[int, int]:
    """Fold the per-batch generation files into one file per
    ``part_col`` bucket and physically drop tombstoned ids; returns
    (files_before, files_after). Run between stream restarts: a steady
    ingest appends one small file per touched bucket per batch, and
    listing/open cost eventually dominates the pruned join. See
    :func:`store.compact` for ``committed_through`` and the tombstone
    rules, and :func:`store.swap` for the commit."""
    return store.compact(
        spark, index_dir, committed_through, id_col=id_col, bucket=part_col,
        n_buckets=n_parts,
    )


def index_fold_stream(
    spark: SparkSession,
    base_rel: DataFrame,
    stream: DataFrame,
    work_dir: str,
    *,
    index_builder: Callable[[DataFrame], DataFrame],
    pairs_builder: Callable[[DataFrame, DataFrame], DataFrame],
    key_col: str,
    pair_cols: list[str],
    pair_schema: str,
    delta_predicate: Column | None = None,
    id_col: str = "doc_id",
    fold_cols: list[str] | None = None,
) -> DataFrame:
    """Run a bounded streaming incremental-dedup job over the shared
    fold harness.

    ``fold_cols``: optional projection applied before every index
    write — for tiers whose per-batch relation carries payload the
    index must never store (the paragraph tier's chunk text: the
    batch function needs it to rebuild cleaned_text, the index holds
    fingerprints + sites only).

    ``base_rel``: the already-resident corpus; its index is written
    to ``<work_dir>/index`` ONCE before the stream starts (in
    production the index already exists — tests assert the original
    generation survives every batch untouched). ``index_builder``
    maps raw rows to the persistable index relation (must contain
    ``key_col``); ``pairs_builder`` maps (delta_index, pruned_index)
    to the pair relation. ``delta_predicate``: optional per-batch
    filter (the registry queries stream the full table and carve out
    the 1-in-10 delta fate slice; a real ingest stream carries only
    new rows and passes None).

    Returns the accumulated pair relation read back from the sink."""
    work = work_dir.rstrip("/")
    index_dir = f"{work}/index"
    out_dir = f"{work}/pairs"
    ckpt_dir = f"{work}/ckpt"

    def _fold_rel(rel: DataFrame) -> DataFrame:
        return rel.select(*fold_cols) if fold_cols is not None else rel

    write_index_generation(
        _fold_rel(index_builder(base_rel)), key_col, index_dir, SEED_BATCH
    )

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        delta = batch_df if delta_predicate is None else batch_df.filter(delta_predicate)
        # built once, used twice (band join + index fold); delta-sized
        dsig = index_builder(delta).persist()
        touched = [
            r.pb for r in dsig.select(_pb(key_col).alias("pb")).distinct().collect()
        ]
        # r13 ADVICE: the output write is NOT gated on `touched` — for
        # a tier whose index_builder drops input rows, a batch whose
        # delta all falls in the dropped class has an empty dsig, and
        # skipping pairs_builder would silently drop whatever the
        # builder emits for that case (today every builder derives its
        # output from dsig, so batch and stream drop identically — this
        # keeps the harness safe for ones that don't). An empty touched
        # list reads an empty (isin([])) pruned index.
        index = read_index_pruned(
            spark, index_dir, touched, exclude_batch=batch_id, id_col=id_col
        )
        store.write_gen(pairs_builder(dsig, index), out_dir, batch_id)
        if touched:
            # AFTER the pairs action: fold this batch's signatures into
            # the index so later batches dedup against them (folding
            # first would double-count within-batch self-pairs — and
            # the exclude_batch guard above keeps even a replay clean)
            write_index_generation(_fold_rel(dsig), key_col, index_dir, batch_id)
        dsig.unpersist()

    run_batches(stream, ckpt_dir, _apply)
    # explicit missing-sink check, not a bare except: an unreadable or
    # corrupt sink must RAISE, never silently report "no duplicates"
    # (infrastructure failure masquerading as a clean result); remote
    # URI sinks resolve through the Hadoop FS API (r12 ADVICE)
    if not store.exists(spark, out_dir):
        return spark.createDataFrame([], pair_schema)
    # explicit schema: a batch with zero output rows leaves a file-less
    # sink dir that schema inference rejects — legitimately empty, not
    # corrupt (missing/unreadable dirs still raise above)
    return spark.read.schema(f"{pair_schema}, src_batch bigint").parquet(
        out_dir
    ).select(*pair_cols)


def incremental_dedup_stream(
    spark: SparkSession,
    base_docs: DataFrame,
    doc_stream: DataFrame,
    work_dir: str,
    delta_predicate: Column | None = None,
    threshold: float = 0.5,
) -> DataFrame:
    """Text variant: MinHash band index (dedup.minhash_band_index),
    pairs via dedup.incremental_lsh_pairs on the pruned index."""
    return index_fold_stream(
        spark,
        base_docs,
        doc_stream,
        work_dir,
        index_builder=dedup.minhash_band_index,
        pairs_builder=lambda dsig, index: dedup.incremental_lsh_pairs(
            None, index, threshold=threshold, delta_index=dsig
        ),
        key_col="bh",
        pair_cols=PAIR_COLS,
        pair_schema=PAIR_SCHEMA,
        delta_predicate=delta_predicate,
    )


def incremental_embed_dedup_stream(
    spark: SparkSession,
    base_emb: DataFrame,
    emb_stream: DataFrame,
    work_dir: str,
    delta_predicate: Column | None = None,
    threshold: float = 0.3,
    dim: int | None = None,
) -> DataFrame:
    """Embedding variant: random-hyperplane band index
    (similarity.embedding_band_index), pairs via
    similarity.incremental_neardup_pairs on the pruned index."""
    if dim is None:
        dim = len(base_emb.select("embedding").first()[0])
    return index_fold_stream(
        spark,
        base_emb,
        emb_stream,
        work_dir,
        index_builder=lambda rel: similarity.embedding_band_index(rel, dim=dim),
        pairs_builder=lambda dsig, index: similarity.incremental_neardup_pairs(
            None, index, threshold=threshold, dim=dim, delta_index=dsig
        ),
        key_col="bits",
        pair_cols=EMB_PAIR_COLS,
        pair_schema=EMB_PAIR_SCHEMA,
        delta_predicate=delta_predicate,
        id_col="id",
    )


def bloom_membership_stream(
    spark: SparkSession,
    prior_texts: DataFrame,
    arrivals_stream: DataFrame,
    work_dir: str,
    m_bits: int,
    k: int,
    exact_audit: DataFrame | None = None,
    delta_predicate: Column | None = None,
) -> DataFrame:
    """Streaming bloom-membership dedup: arriving batches probe the
    PERSISTED packed-long bitmap (dedup.bloom_bitmap layout), then
    fold their own bits in so later batches see earlier arrivals —
    constant-size state (bounded by m/64 words regardless of corpus
    size) where the index-fold tiers grow with the corpus.

    Persistence is generational like the signature indexes —
    (word_idx, bits, src_batch) with dynamic partition overwrite on
    src_batch — but the collapse is a bit_or at READ time, which
    makes replay idempotence free: re-folding the same batch ORs in
    bits that are already set. The probe excludes the batch's own
    generation so a replayed batch never self-hits.

    ``exact_audit``: optional (text, is_prior) relation joined onto
    the result for the ground-truth exact_dup column (the registry
    row's audit; a production pipeline passes None). Under
    availableNow with the whole delta in one batch the relation
    equals the batch query's, so the DuckDB oracle is shared
    verbatim."""
    from chiv_spark.operators import dedup

    work = work_dir.rstrip("/")
    bloom_dir = f"{work}/bloom"
    out_dir = f"{work}/hits"
    ckpt_dir = f"{work}/ckpt"

    store.write_gen(dedup.bloom_bitmap(prior_texts, m_bits, k), bloom_dir, SEED_BATCH)

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        delta = (
            batch_df if delta_predicate is None else batch_df.filter(delta_predicate)
        )
        bm = (
            store.read(spark, bloom_dir, exclude_batch=batch_id)
            .groupBy("word_idx")
            .agg(F.expr("bit_or(bits)").alias("bits"))
        )
        res = dedup.bloom_probe(delta, bm, m_bits, k)
        if exact_audit is not None:
            res = (
                delta.join(res, "doc_id")
                .join(exact_audit, "text", "left")
                .select(
                    "doc_id",
                    "bloom_hit",
                    F.coalesce("is_prior", F.lit(False)).alias("exact_dup"),
                )
            )
        store.write_gen(res, out_dir, batch_id)
        # fold AFTER the probe action: within-batch self-hits stay
        # absent (batch semantics), later batches see these bits
        store.write_gen(dedup.bloom_bitmap(delta, m_bits, k), bloom_dir, batch_id)

    run_batches(arrivals_stream, ckpt_dir, _apply)
    if not store.exists(spark, out_dir):
        return spark.createDataFrame(
            [], "doc_id bigint, bloom_hit boolean, exact_dup boolean"
        )
    cols = ["doc_id", "bloom_hit"] + (
        ["exact_dup"] if exact_audit is not None else []
    )
    schema = ", ".join(
        {"doc_id": "doc_id bigint"}.get(c, f"{c} boolean") for c in cols
    )
    return spark.read.schema(f"{schema}, src_batch bigint").parquet(
        out_dir
    ).select(*cols)


def heavy_hitters_stream(
    spark: SparkSession,
    corpus: DataFrame,
    arrivals_stream: DataFrame,
    work_dir: str,
    width: int,
    summaries_fn,
    delta_predicate: Column | None = None,
) -> DataFrame:
    """Streaming CANDIDATE fold for exact heavy hitters — the
    two-pass pattern of queries.mining.text_heavy_hitters with pass 1
    distributed over microbatches: each arriving batch runs the
    per-partition Misra-Gries summaries (``summaries_fn``, <= width
    candidate rows per partition) and folds the candidate tokens into
    a persisted generational store; after the stream drains, pass 2
    exact-counts ONLY the accumulated candidates over ``corpus`` and
    applies the n/width threshold on TRUE counts.

    Soundness across batches: freq(w) > n/width corpus-wide implies
    freq_b(w) > n_b/width in at least one batch (averaging over
    batches), and Misra-Gries retains any such token in >= 1
    partition summary of that batch — so the union of all batches'
    candidates is a certified superset of the corpus heavy hitters,
    and the exact pass makes the final output EXACT regardless of
    sketch behavior (replayed or reordered batches only re-add
    candidate tokens: the store is a set, replay is idempotent).
    State is bounded by width x partitions rows per batch, never
    corpus-sized. Under availableNow the batch twin's DuckDB oracle
    is shared verbatim."""
    work = work_dir.rstrip("/")
    cand_dir = f"{work}/candidates"
    ckpt_dir = f"{work}/ckpt"

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        delta = (
            batch_df if delta_predicate is None else batch_df.filter(delta_predicate)
        )
        store.write_gen(
            delta.select("text").mapInPandas(summaries_fn, "w string").distinct(),
            cand_dir,
            batch_id,
        )

    run_batches(arrivals_stream, ckpt_dir, _apply)
    if not store.exists(spark, cand_dir):
        return spark.createDataFrame([], "w string, freq bigint")
    cand = (
        spark.read.schema("w string, src_batch bigint")
        .parquet(cand_dir)
        .select("w")
        .distinct()
    )
    toks = corpus.select(F.explode(F.split("text", " ")).alias("w"))
    total = toks.agg(F.count(F.lit(1)).alias("n"))
    return (
        toks.join(F.broadcast(cand), "w", "left_semi")
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
        .join(F.broadcast(total))
        .filter(F.col("freq") > F.col("n") / float(width))
        .select("w", "freq")
    )
