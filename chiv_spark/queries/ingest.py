"""The composed delta-cost ingest capstone (r15 verdict task 1).

Every incremental tier in the repo folds in isolation — LSH band
index, suffix window index, paragraph fingerprint index, eval-decon
dims, media chunk indexes, domain counters — but the curation
capstone itself was still a batch recompute (172 s at organic sf1).
This module is the terminus of that work: a 1-in-10 arriving shard
flows through the INCREMENTAL form of every capstone stage against
PERSISTED state seeded once from the resident corpus, producing

- ``pipeline_incremental_ingest``: the shard's per-doc survival
  flags (f1..f6 + keep) — exactly the capstone's flag semantics,
  full-recompute-restricted-to-delta (the dedup_incremental_lsh
  oracle pattern), and
- ``pipeline_incremental_ingest_card``: the updated dataset card —
  per funnel stage, resident counts (the persisted counter
  generations, ARRIVAL semantics: each shard's flags as computed
  when it arrived) + the arriving shard's counts + their sum.

Arrival cost is O(|shard| + touched index rows): the resident
corpus's raw text is read ONLY for suffix twin docs, and from the
state's own doc-store, never from the source table —
tests/test_ingest.py proves it by corrupting the source corpus after
seeding and re-running the ingest unchanged. The 100 TB story: seed
= one pass at corpus load; each arriving shard then pays its own
size, the indexes are directory-bucketed for pruned reads
(streaming.dedup_index conventions), and the counter store is a
monoid fold like streaming/domain_stats.py.

Stage semantics and why delta-restriction is EXACT per stage:
- f1 paragraph dedup: the index stores every resident occurrence's
  (h, site), so min-site over (index ∪ shard) equals the global
  minimum (operators/dedup.py incremental_paragraph_rebuild).
- f2 repeated spans: pigeonhole — every repeated span >= 8 contains
  a repeated 8-gram, so {shard candidates + index twins} is a
  complete detector subcorpus (operators/suffixes.py
  incremental_span_trim).
- f3 near-dup: a shard doc is dropped iff some pair flags it as
  doc_b; every pair involving a shard doc is either shard-resident
  (via the band index) or shard-shard — both emitted by
  incremental_lsh_pairs.
- f4/f5 decontamination: per-doc verdicts depend only on the doc's
  own shingles/signature vs the EVAL dims = persisted resident eval
  dims ∪ the shard's own eval-fated docs.
- f6 media linkage: keeper dims are full-universe and text-shard
  arrival never changes them (media arrive through their own tier).
"""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from chiv_spark.core import state
from chiv_spark.functions.hashing import hash64
from chiv_spark.operators import dedup
from chiv_spark.queries.base import query, t
from chiv_spark.session import overlap
from chiv_spark.streaming import store
from chiv_spark.streaming.store import SEED_BATCH

#: the standing 1-in-10 stable-hash arrival fate (queries/llm.py)
from chiv_spark.queries.llm import _INC_FATE


def _fate_col():
    return hash64(F.concat(F.lit("inc:"), F.col("doc_id").cast("string"))) % 10


def _smp_col():
    return hash64(F.concat(F.lit("smp:"), F.col("doc_id").cast("string"))) % 100


#: funnel stage labels, shared by counters, card and oracle
_TEXT_STAGES = [
    "0_total",
    "1_paragraph_dedup",
    "2_repeated_spans",
    "3_neardup_dedup",
    "4_exact_overlap_decon",
    "5_neardup_decon",
    "6_media_linkage",
]
_MEDIA_STAGES = [
    ("img", "7_image_canonical"),
    ("aud", "8_audio_canonical"),
    ("vid", "9_video_canonical"),
]


def _flags_to_funnel(flags_df):
    """(stage, n_surviving, n_removed) over the capstone's text
    stages from a (doc_id, f1..f6) relation — the capstone report's
    conditional-count fold, shared by the seed counters and the
    shard's card contribution."""
    agg = flags_df.agg(
        F.count(F.lit(1)).alias("total"),
        F.count(F.when(F.col("f1"), 1)).alias("s1"),
        F.count(F.when(F.col("f1") & F.col("f2"), 1)).alias("s2"),
        F.count(F.when(F.col("f1") & F.col("f2") & F.col("f3"), 1)).alias("s3"),
        F.count(
            F.when(F.col("f1") & F.col("f2") & F.col("f3") & F.col("f4"), 1)
        ).alias("s4"),
        F.count(
            F.when(
                F.col("f1") & F.col("f2") & F.col("f3") & F.col("f4") & F.col("f5"),
                1,
            )
        ).alias("s5"),
        F.count(
            F.when(
                F.col("f1")
                & F.col("f2")
                & F.col("f3")
                & F.col("f4")
                & F.col("f5")
                & F.col("f6"),
                1,
            )
        ).alias("s6"),
    )
    return agg.selectExpr(
        "stack(7, "
        "'0_total', total, 0L, "
        "'1_paragraph_dedup', s1, total - s1, "
        "'2_repeated_spans', s2, s1 - s2, "
        "'3_neardup_dedup', s3, s2 - s3, "
        "'4_exact_overlap_decon', s4, s3 - s4, "
        "'5_neardup_decon', s5, s4 - s5, "
        "'6_media_linkage', s6, s5 - s6"
        ") as (stage, n_surviving, n_removed)"
    ).selectExpr(
        "stage",
        "CAST(n_surviving AS BIGINT) AS n_surviving",
        "CAST(n_removed AS BIGINT) AS n_removed",
    )


def _linkage_drops(docs_ids, keepers):
    """doc_ids whose attached media triple is NOT fully canonical —
    the capstone's media-linkage stage against persisted keeper
    dims (bounded relations, broadcast)."""
    from chiv_spark.queries.mlprep import _ATT_MODS, _att_col

    att = docs_ids.select(
        "doc_id", *[_att_col(m).alias(f"{m}_mid") for m in _ATT_MODS]
    )
    out = att
    for m in _ATT_MODS:
        k = keepers[m].select(F.col("media_id").alias(f"{m}_k"))
        out = out.join(
            F.broadcast(k), F.col(f"{m}_mid") == F.col(f"{m}_k"), "left"
        )
    return out.filter(
        (F.col("img_mid").isNotNull() & F.col("img_k").isNull())
        | (F.col("aud_mid").isNotNull() & F.col("aud_k").isNull())
        | (F.col("vid_mid").isNotNull() & F.col("vid_k").isNull())
    ).select("doc_id")


def _resident_flags(spark, resident, keepers):
    """The capstone flag relation computed over a RESIDENT corpus
    relation (seed-time only — this is the one full pass the ingest
    design pays, once, when the corpus becomes resident). Media
    keeper dims are the full-universe relations: media arrive
    through their own tier, so at text-seed time they are whatever
    the media lifecycle last produced."""
    from chiv_spark.operators.suffixes import max_repeated_spans_pruned
    from chiv_spark.queries.curation import (
        EXACTSUBSTR_THRESHOLD,
        _suffix_scratch,
    )

    chunks = dedup.paragraph_chunks(resident)
    firsts = chunks.groupBy("h").agg(F.min("site").alias("s0"))
    para = dedup.paragraph_rebuild(chunks, firsts).select(
        "doc_id", (F.col("cleaned_text") != "").alias("f1")
    )
    spans = max_repeated_spans_pruned(
        resident.select("doc_id", "text"), scratch_dir=_suffix_scratch()
    ).select(
        "doc_id",
        (F.col("max_rep_span") < EXACTSUBSTR_THRESHOLD).alias("f2"),
    )
    ndrop = (
        dedup.minhash_lsh_pairs(resident)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
        .withColumn("__nd", F.lit(1))
    )
    smp = _smp_col()
    sh = dedup.shingles(resident, words=4)
    ev = sh.filter(smp < 2).select("shingle").distinct()
    ov = (
        sh.filter(smp >= 2)
        # no broadcast hint: ev is the distinct 4-grams of the 2%
        # eval-fated slice, which grows LINEARLY with the corpus — a
        # forced broadcast blows the driver at scale (r16 verdict
        # task 1). AQE still picks broadcast when the estimate is
        # small; at 100 TB this becomes a shuffled hash/sort-merge
        # semi-join on the shingle key, the correct plan.
        .join(ev, "shingle")
        .select("doc_id")
        .distinct()
        .withColumn("__ov", F.lit(1))
    )
    ev_idx = dedup.minhash_band_index(resident.filter(smp < 2))
    tr_idx = dedup.minhash_band_index(resident.filter(smp >= 2))
    ne = (
        dedup.crosscorpus_lsh_pairs(tr_idx, ev_idx, threshold=0.5)
        .select("doc_id")
        .distinct()
        .withColumn("__ne", F.lit(1))
    )
    md = _linkage_drops(resident.select("doc_id"), keepers).withColumn(
        "__md", F.lit(1)
    )
    return (
        resident.select("doc_id")
        .join(para, "doc_id")
        .join(spans, "doc_id")
        .join(ndrop, "doc_id", "left")
        .join(ov, "doc_id", "left")
        .join(ne, "doc_id", "left")
        .join(md, "doc_id", "left")
        .select(
            "doc_id",
            "f1",
            "f2",
            F.col("__nd").isNull().alias("f3"),
            F.col("__ov").isNull().alias("f4"),
            F.col("__ne").isNull().alias("f5"),
            F.col("__md").isNull().alias("f6"),
        )
    )


# --------------------------------------------------------------------------
# The persisted state's GENERATION layout (r16 verdict tasks 2+3).
#
# Every deletable tier is a generational store (streaming/store.py):
# rows live under (pb, src_batch) directory partitions, each fold is
# one generation written with DYNAMIC partition overwrite keyed by
# batch_id (a crashed-and-retried fold REPLACES its own partitions —
# replay-idempotent, never double-counts), reads honor pending
# generation-scoped tombstones (a GDPR-style takedown takes effect at
# READ time), and compact_ingest_state folds generations into one and
# PHYSICALLY drops tombstoned rows — including the raw text in
# text_store, the one tier where physical drop is a privacy
# obligation. eval_grams is stored DOC-ATTRIBUTED ((doc_id, shingle),
# distinct applied at read) precisely so the takedown anti-join works
# at this tier too — a global-distinct gram set cannot subtract one
# document's grams.

#: directory-partition fan-out of every ingest tier (matches
#: streaming.dedup_index.P_BUCKETS / suffixes.WINDOW_PB at test
#: scale; thousands at 100 TB)
ING_PB = 16

#: every tombstone-capable tier, in fold order
_DEL_TIERS = (
    "para_index",
    "win_index",
    "band_index",
    "eval_grams",
    "eval_bands",
    "text_store",
    "flags_store",
)


def _pb_of(col: str):
    return F.pmod(F.col(col), F.lit(ING_PB)).cast("int")


def _read_tier(spark, state_dir: str, tier: str, exclude_batch: int | None = None):
    """A tier's visible relation (:func:`store.read`: the reader's own
    generation and tombstoned rows left out) with the bookkeeping
    columns dropped, so downstream operators see the builder schema."""
    rel = store.read(spark, f"{state_dir}/{tier}", exclude_batch=exclude_batch)
    return rel.drop("pb", "src_batch")


def _fold_tiers(spark, docs, state_dir: str, batch_id: int) -> None:
    """One generation of every index tier + the doc-store from
    ``docs`` — shared verbatim between the seed (batch_id =
    SEED_BATCH) and every shard fold, so the two layouts can never
    drift."""
    from chiv_spark.operators.suffixes import window_index

    store.write_gen(
        dedup.paragraph_index(docs).withColumn("pb", _pb_of("h")),
        f"{state_dir}/para_index",
        batch_id,
        "pb",
    )
    store.write_gen(window_index(docs), f"{state_dir}/win_index", batch_id, "pb")
    store.write_gen(
        dedup.minhash_band_index(docs).withColumn("pb", _pb_of("bh")),
        f"{state_dir}/band_index",
        batch_id,
        "pb",
    )
    smp = _smp_col()
    store.write_gen(
        dedup.shingles(docs.filter(smp < 2), words=4).withColumn(
            "pb", F.pmod(hash64(F.col("shingle")), F.lit(ING_PB)).cast("int")
        ),
        f"{state_dir}/eval_grams",
        batch_id,
        "pb",
    )
    store.write_gen(
        dedup.minhash_band_index(docs.filter(smp < 2)).withColumn(
            "pb", _pb_of("bh")
        ),
        f"{state_dir}/eval_bands",
        batch_id,
        "pb",
    )
    store.write_gen(
        docs.select("doc_id", "text").withColumn("pb", _pb_of("doc_id")),
        f"{state_dir}/text_store",
        batch_id,
        "pb",
    )


def seed_ingest_state(spark, resident, keepers, state_dir) -> None:
    """Write the persisted per-tier state the ingest path reads:
    fingerprint/window/band indexes, eval dims, the twin-lookup
    doc-store, keeper dims, the per-doc flags store (counter
    provenance — what a takedown negates), and the seed counter
    generation. One full pass over the resident corpus — paid once,
    at corpus load."""
    _fold_tiers(spark, resident, state_dir, SEED_BATCH)
    for m, rel in keepers.items():
        rel.write.mode("overwrite").parquet(f"{state_dir}/keepers_{m}")
    store.write_gen(
        _resident_flags(spark, resident, keepers).withColumn(
            "pb", _pb_of("doc_id")
        ),
        f"{state_dir}/flags_store",
        SEED_BATCH,
        "pb",
    )
    # the seed counters derive FROM the stored flags (one compute,
    # and the counters provably equal what a later negation subtracts)
    _flags_to_funnel(_read_tier(spark, state_dir, "flags_store")).write.mode(
        "overwrite"
    ).parquet(f"{state_dir}/counters/gen=seed")


def _read_keepers(spark, state_dir):
    return {
        m: spark.read.parquet(f"{state_dir}/keepers_{m}")
        for m, _label in _MEDIA_STAGES
    }


def ingest_state(spark, sf_dir) -> str:
    """Seed-once state dir per (session, sf_dir, input fingerprint)
    — the registered rows' self-contained entry: resident = the
    9-in-10 fate slice, keepers = the registered canonical rows."""
    import shutil

    from chiv_spark.queries.base import REGISTRY

    def build(_stale):
        docs = t(spark, sf_dir, "documents").select("doc_id", "text")
        resident = docs.filter(_fate_col() != 0)
        keepers = {
            m: REGISTRY[f"dedup_{name}_canonical"].fn(spark, sf_dir)
            for m, name in [("img", "image"), ("aud", "audio"), ("vid", "video")]
        }
        state_dir = tempfile.mkdtemp(prefix="chiv-ingest-")
        seed_ingest_state(spark, resident, keepers, state_dir)
        return state_dir

    fp = state.fingerprint([f"{sf_dir}/documents.parquet"])
    return state.get_or_build(spark, "ingest", sf_dir, fp, build, shutil.rmtree)


def shard_flags(spark, shard, state_dir, exclude_batch: int | None = None):
    """The arriving shard's per-doc survival flags against the
    persisted state — every stage in its incremental form, resident
    text touched only via the doc-store twin lookup. Pass
    ``exclude_batch`` when probing as part of a fold (fold_shard): a
    replayed fold must not see the generation it already wrote."""
    from chiv_spark.operators.suffixes import window_index
    from chiv_spark.queries.curation import (
        EXACTSUBSTR_THRESHOLD,
        _suffix_scratch,
    )

    para_idx = _read_tier(spark, state_dir, "para_index", exclude_batch)
    para = dedup.incremental_paragraph_rebuild(
        dedup.paragraph_chunks(shard), para_idx
    ).select("doc_id", (F.col("cleaned_text") != "").alias("f1"))

    from chiv_spark.operators.suffixes import incremental_span_trim

    win_idx = _read_tier(spark, state_dir, "win_index", exclude_batch)
    doc_store = _read_tier(spark, state_dir, "text_store", exclude_batch)
    spans = incremental_span_trim(
        shard.select("doc_id", "text"),
        window_index(shard),
        win_idx,
        doc_store,
        EXACTSUBSTR_THRESHOLD,
        scratch_dir=_suffix_scratch(),
    ).select("doc_id", F.col("keep").alias("f2"))

    shard_bands = dedup.minhash_band_index(shard)
    band_idx = _read_tier(spark, state_dir, "band_index", exclude_batch)
    ndrop = (
        dedup.incremental_lsh_pairs(None, band_idx, delta_index=shard_bands)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
        .withColumn("__nd", F.lit(1))
    )

    smp = _smp_col()
    sh = dedup.shingles(shard, words=4)
    ev_all = (
        _read_tier(spark, state_dir, "eval_grams", exclude_batch)
        .select("shingle")
        .unionByName(sh.filter(smp < 2).select("shingle"))
        .distinct()
    )
    ov = (
        sh.filter(smp >= 2)
        # no broadcast hint — ev_all is corpus-proportional (resident
        # eval grams ∪ shard's): see the identical note in
        # _resident_flags; AQE chooses the strategy (r16 task 1).
        .join(ev_all, "shingle")
        .select("doc_id")
        .distinct()
        .withColumn("__ov", F.lit(1))
    )
    ev_bands_all = _read_tier(
        spark, state_dir, "eval_bands", exclude_batch
    ).unionByName(shard_bands.filter(smp < 2))
    ne = (
        dedup.crosscorpus_lsh_pairs(
            shard_bands.filter(smp >= 2), ev_bands_all, threshold=0.5
        )
        .select("doc_id")
        .distinct()
        .withColumn("__ne", F.lit(1))
    )
    md = _linkage_drops(
        shard.select("doc_id"), _read_keepers(spark, state_dir)
    ).withColumn("__md", F.lit(1))
    return (
        shard.select("doc_id")
        .join(para, "doc_id")
        .join(spans, "doc_id")
        .join(ndrop, "doc_id", "left")
        .join(ov, "doc_id", "left")
        .join(ne, "doc_id", "left")
        .join(md, "doc_id", "left")
        .select(
            "doc_id",
            "f1",
            "f2",
            F.col("__nd").isNull().alias("f3"),
            F.col("__ov").isNull().alias("f4"),
            F.col("__ne").isNull().alias("f5"),
            F.col("__md").isNull().alias("f6"),
        )
    )


def fold_shard(spark, shard, state_dir, batch_id: int) -> None:
    """Fold an ingested shard's contributions into the persisted
    state so the NEXT shard dedups against resident ∪ this shard —
    the cross-batch path the harness pytest drives. Every write is
    one GENERATION keyed by batch_id with dynamic partition
    overwrite (r16 verdict task 3 — the streaming twins' layout, no
    bare parquet appends): a crashed-and-retried fold REPLACES its
    own partitions, the flag probe excludes the fold's own
    generation, and the counter generation directory is overwritten
    whole — so replaying the same (shard, batch_id) leaves the state
    (and the card) bit-identical, pytest-pinned."""
    flags = shard_flags(spark, shard, state_dir, exclude_batch=batch_id)
    store.write_gen(
        flags.withColumn("pb", _pb_of("doc_id")),
        f"{state_dir}/flags_store",
        batch_id,
        "pb",
    )
    # counters derive from the generation just written (read-back:
    # one materialization, and negation-by-provenance stays exact)
    gen_flags = (
        spark.read.parquet(f"{state_dir}/flags_store")
        .filter(F.col("src_batch") == int(batch_id))
        .drop("pb", "src_batch")
    )
    _flags_to_funnel(gen_flags).write.mode("overwrite").parquet(
        f"{state_dir}/counters/gen=b{batch_id}"
    )
    _fold_tiers(spark, shard, state_dir, batch_id)


def ingest_forget(spark, state_dir, doc_ids, request_id: int = 0) -> None:
    """GDPR-style takedown across the composed ingest state (r16
    verdict task 2): negate the deleted docs' counter contributions
    and tombstone their rows in every tier.

    - **Counter negation, in the monoid** (the domain_stats
      delete_docs_counts shape): the flags store holds each doc's
      flags exactly as they were counted when its generation folded
      (arrival semantics), so subtracting the deleted docs' funnel
      fold leaves the counters equal to a fold that had never seen
      them. Written as one ``gen=d{request_id}`` negative generation
      — replay of the same request_id overwrites, never
      double-subtracts. The negation reads the flags store RAW
      (tombstones not yet written; after compaction has physically
      dropped the rows, a replay negates zero — idempotent there
      too).
    - **Tombstone folds** on all seven tiers: the doc's paragraph
      fingerprints stop winning min-site, its windows stop
      nominating suffix twins, its bands stop emitting near-dup
      pairs, its eval grams/bands leave the decon dims, its raw text
      is never re-read, and its flag rows leave the provenance
      store. Generation-scoped (store.forget): a
      re-ingest of the same id after the delete lands in a later
      generation and stays visible.

    Physical drop happens at compact_ingest_state."""
    # pin the deletion set once: it feeds the counter negation plus
    # seven per-tier tombstone folds — unpinned, each consumer re-ran
    # the caller's filter scan (ids are a bounded id-only relation)
    ids = doc_ids.select("doc_id").localCheckpoint(eager=True)
    del_flags = (
        spark.read.parquet(f"{state_dir}/flags_store")
        .drop("pb", "src_batch")
        .join(ids, "doc_id", "left_semi")
    )
    _flags_to_funnel(del_flags).select(
        "stage",
        (-F.col("n_surviving")).cast("long").alias("n_surviving"),
        (-F.col("n_removed")).cast("long").alias("n_removed"),
    ).write.mode("overwrite").parquet(
        f"{state_dir}/counters/gen=d{int(request_id)}"
    )
    # overlapped: ingest_delete_then_probe 16.93 → 15.18 s at sf0.1 (ROADMAP
    # direction 7); a failed tier re-raises, and a retry is idempotent
    overlap(
        spark,
        *[
            lambda tier=tier: store.forget(spark, f"{state_dir}/{tier}", ids)
            for tier in _DEL_TIERS
        ],
    )


def compact_ingest_state(spark, state_dir) -> dict:
    """Fold every tier's generations into one and PHYSICALLY drop
    tombstoned rows (:func:`store.compact` per tier — the deleted text
    is GONE from the post-compaction parquet bytes, pytest-pinned),
    then fold the counter generations into one ``gen=seed`` (summing
    is associative; negations disappear into the fold). Run between
    folds/forgets, never concurrently with one. Returns {tier:
    (files_before, files_after)}."""
    # overlapped, each tier in its own directory: ingest_delete_then_probe
    # 16.93 → 15.18 s at sf0.1 (ROADMAP direction 7)
    stats = dict(
        zip(
            _DEL_TIERS,
            overlap(
                spark,
                *[
                    lambda tier=tier: store.compact(
                        spark, f"{state_dir}/{tier}", n_buckets=ING_PB
                    )
                    for tier in _DEL_TIERS
                ],
            ),
        )
    )
    cdir = f"{state_dir}/counters"
    folded = (
        spark.read.parquet(cdir)
        .groupBy("stage")
        .agg(
            F.sum("n_surviving").cast("long").alias("n_surviving"),
            F.sum("n_removed").cast("long").alias("n_removed"),
        )
    )
    staged = cdir + ".compacting"
    folded.coalesce(1).write.mode("overwrite").parquet(f"{staged}/gen=seed")
    store.swap(spark, cdir, staged)
    return stats


def updated_card(spark, shard, state_dir):
    """The updated dataset card: per stage, resident counts (sum of
    persisted counter generations — arrival semantics), the arriving
    shard's counts, and totals; media rows from the keeper dims
    (unchanged by a text arrival, shard contribution zero)."""
    resident = (
        spark.read.parquet(f"{state_dir}/counters")
        .groupBy("stage")
        .agg(
            F.sum("n_surviving").cast("long").alias("n_surviving_resident"),
            F.sum("n_removed").cast("long").alias("n_removed_resident"),
        )
    )
    arrived = _flags_to_funnel(shard_flags(spark, shard, state_dir)).select(
        "stage",
        F.col("n_surviving").alias("n_surviving_arrived"),
        F.col("n_removed").alias("n_removed_arrived"),
    )
    text = resident.join(arrived, "stage")
    keepers = _read_keepers(spark, state_dir)
    media = None
    for m, label in _MEDIA_STAGES:
        row = keepers[m].agg(
            F.count(F.lit(1)).alias("surv"),
            F.sum("cluster_size").alias("tot"),
        ).selectExpr(
            f"'{label}' AS stage",
            "CAST(surv AS BIGINT) AS n_surviving_resident",
            "CAST(tot - surv AS BIGINT) AS n_removed_resident",
            "CAST(0 AS BIGINT) AS n_surviving_arrived",
            "CAST(0 AS BIGINT) AS n_removed_arrived",
        )
        media = row if media is None else media.unionByName(row)
    return (
        text.unionByName(media)
        .select(
            "stage",
            "n_surviving_resident",
            "n_removed_resident",
            "n_surviving_arrived",
            "n_removed_arrived",
            (F.col("n_surviving_resident") + F.col("n_surviving_arrived"))
            .cast("long")
            .alias("n_surviving_total"),
            (F.col("n_removed_resident") + F.col("n_removed_arrived"))
            .cast("long")
            .alias("n_removed_total"),
        )
    )


def _ingest_flags_oracle() -> str:
    from chiv_spark.queries.mlprep import (
        _capstone_media_ctes,
        _capstone_text_flag_ctes,
    )

    return f"""
    WITH {_capstone_media_ctes()},
    {_capstone_text_flag_ctes()},
    fate AS (SELECT doc_id, {_INC_FATE} AS f FROM documents)
    SELECT f.doc_id, f.f1, f.f2, f.f3, f.f4, f.f5, f.f6,
           (f.f1 AND f.f2 AND f.f3 AND f.f4 AND f.f5 AND f.f6) AS keep
    FROM flags f JOIN fate USING (doc_id)
    WHERE fate.f = 0 AND f.in1 AND f.in2
    """


def _ingest_card_oracle() -> str:
    from chiv_spark.queries.mlprep import (
        _capstone_media_ctes,
        _capstone_text_flag_ctes,
    )

    base_fate = _INC_FATE  # predicate over the shadowed relation's doc_id
    agg_cols = """COUNT(*) AS total,
             COUNT(*) FILTER (WHERE f1) AS s1,
             COUNT(*) FILTER (WHERE f1 AND f2) AS s2,
             COUNT(*) FILTER (WHERE f1 AND f2 AND f3) AS s3,
             COUNT(*) FILTER (WHERE f1 AND f2 AND f3 AND f4) AS s4,
             COUNT(*) FILTER (WHERE f1 AND f2 AND f3 AND f4 AND f5) AS s5,
             COUNT(*) FILTER (WHERE f1 AND f2 AND f3 AND f4 AND f5 AND f6) AS s6"""
    # CTE ordering is load-bearing: DuckDB resolves a nested WITH's
    # names against every OUTER CTE already defined at that point, so
    # the base-only nested block (whose embedded stage oracles define
    # their own inner 'spans'/'fate' CTEs) must come BEFORE the
    # full-corpus text block defines those names at the outer level —
    # the same reason 'fate' is defined after the text block.
    return f"""
    WITH {_capstone_media_ctes()},
    resident_flags AS MATERIALIZED (
      SELECT * FROM (
        WITH documents AS (
          SELECT * FROM main.documents WHERE {base_fate} <> 0),
        {_capstone_text_flag_ctes(ns="b")}
        SELECT * FROM bflags)),
    {_capstone_text_flag_ctes()},
    fate AS (SELECT doc_id, {_INC_FATE} AS f FROM documents),
    dagg AS MATERIALIZED (
      SELECT {agg_cols}
      FROM flags JOIN fate USING (doc_id)
      WHERE fate.f = 0 AND in1 AND in2),
    bagg AS MATERIALIZED (
      SELECT {agg_cols} FROM resident_flags WHERE in1 AND in2)
    SELECT stage,
           CAST(nsb AS BIGINT) AS n_surviving_resident,
           CAST(nrb AS BIGINT) AS n_removed_resident,
           CAST(nsd AS BIGINT) AS n_surviving_arrived,
           CAST(nrd AS BIGINT) AS n_removed_arrived,
           CAST(nsb + nsd AS BIGINT) AS n_surviving_total,
           CAST(nrb + nrd AS BIGINT) AS n_removed_total
    FROM (
      SELECT '0_total' AS stage, b.total AS nsb, 0 AS nrb,
             d.total AS nsd, 0 AS nrd FROM bagg b, dagg d
      UNION ALL SELECT '1_paragraph_dedup', b.s1, b.total - b.s1,
             d.s1, d.total - d.s1 FROM bagg b, dagg d
      UNION ALL SELECT '2_repeated_spans', b.s2, b.s1 - b.s2,
             d.s2, d.s1 - d.s2 FROM bagg b, dagg d
      UNION ALL SELECT '3_neardup_dedup', b.s3, b.s2 - b.s3,
             d.s3, d.s2 - d.s3 FROM bagg b, dagg d
      UNION ALL SELECT '4_exact_overlap_decon', b.s4, b.s3 - b.s4,
             d.s4, d.s3 - d.s4 FROM bagg b, dagg d
      UNION ALL SELECT '5_neardup_decon', b.s5, b.s4 - b.s5,
             d.s5, d.s4 - d.s5 FROM bagg b, dagg d
      UNION ALL SELECT '6_media_linkage', b.s6, b.s5 - b.s6,
             d.s6, d.s5 - d.s6 FROM bagg b, dagg d
      UNION ALL SELECT '7_image_canonical', surv, tot - surv, 0, 0 FROM img
      UNION ALL SELECT '8_audio_canonical', surv, tot - surv, 0, 0 FROM aud
      UNION ALL SELECT '9_video_canonical', surv, tot - surv, 0, 0 FROM vid)
    """


@query(
    "pipeline_incremental_ingest",
    None,  # oracle attached below (composes the capstone flag CTEs)
    doc="the DELTA-COST ingest capstone (r15 verdict task 1 — the "
    "natural terminus of three rounds of incremental work): a "
    "1-in-10 arriving shard flows through the INCREMENTAL form of "
    "every curation-capstone stage against state seeded ONCE from "
    "the resident corpus — paragraph fingerprint index (min-site "
    "identity), suffix window index (pigeonhole-complete candidate "
    "predicate, twin text from the state's own doc-store), LSH band "
    "index (shard-vs-index + shard self-pairs), eval-decon gram/band "
    "dims (resident dims ∪ shard's own eval-fated docs), and the "
    "full-universe media keeper dims — emitting per shard doc the "
    "capstone's f1..f6 survival flags + keep. Arrival cost is "
    "O(|shard| + touched index rows); resident raw text is read "
    "only for suffix twins and only from the persisted doc-store "
    "(tests/test_ingest.py corrupts the source corpus after seeding "
    "and the ingest result is unchanged). Oracle = the capstone's "
    "flag CTEs verbatim, restricted to the arrival slice — each "
    "stage's delta-restriction exactness argument is in the module "
    "docstring (queries/ingest.py)",
)
def pipeline_incremental_ingest(spark, sf_dir):
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    shard = docs.filter(_fate_col() == 0)
    state_dir = ingest_state(spark, sf_dir)
    flags = shard_flags(spark, shard, state_dir)
    return flags.select(
        "doc_id",
        "f1",
        "f2",
        "f3",
        "f4",
        "f5",
        "f6",
        (
            F.col("f1")
            & F.col("f2")
            & F.col("f3")
            & F.col("f4")
            & F.col("f5")
            & F.col("f6")
        ).alias("keep"),
    )


@query(
    "pipeline_incremental_ingest_card",
    None,  # oracle attached below
    doc="the UPDATED dataset card after a shard arrival, touching "
    "only persisted counters + keeper dims + the shard itself (r15 "
    "verdict task 1's second deliverable): per funnel stage, "
    "resident counts = the persisted counter generations summed "
    "(ARRIVAL semantics — each shard's flags as computed when it "
    "arrived, the domain_stats counter-monoid shape), arrived "
    "counts = this shard's incremental flags, plus totals; media "
    "rows read the bounded keeper dims with zero shard "
    "contribution (text arrivals never change media state). The "
    "resident corpus text is NOT re-read to produce the card — "
    "that is the whole point. Oracle recomputes resident counts as "
    "the base-only capstone flags (documents shadowed to the "
    "9-in-10 slice, media CTEs full-universe) and arrived counts "
    "as the full-recompute flags restricted to the shard",
)
def pipeline_incremental_ingest_card(spark, sf_dir):
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    shard = docs.filter(_fate_col() == 0)
    state_dir = ingest_state(spark, sf_dir)
    return updated_card(spark, shard, state_dir)


# --------------------------------------------------------------------------
# ingest_delete_then_probe — the takedown lifecycle of the COMPOSED
# ingest state (r16 verdict task 2): every other persisted tier has a
# delete-then-probe row; the capstone state they compose into now has
# one too.

#: deterministic 1-in-2 stable-hash deletion slice of the RESIDENT
#: corpus (the _XS_DEL rationale, queries/curation.py: wide enough
#: that arriving docs lose their only index twin, so the delete
#: observably flips probe verdicts at both sweep SFs)
_ING_DEL = (
    "(('0x' || substring(md5('ingdel:' || doc_id::VARCHAR), 1, 15))"
    "::BIGINT % 2 = 0)"
)


def _ing_del_pred():
    return hash64(F.concat(F.lit("ingdel:"), F.col("doc_id").cast("string"))) % 2 == 0


def _ingest_delete_oracle() -> str:
    from chiv_spark.queries.mlprep import (
        _capstone_media_ctes,
        _capstone_text_flag_ctes,
    )

    flag_row = (
        "f.doc_id, f.f1, f.f2, f.f3, f.f4, f.f5, f.f6, "
        "(f.f1 AND f.f2 AND f.f3 AND f.f4 AND f.f5 AND f.f6) AS keep"
    )
    # CTE ordering is load-bearing (the ingest-card oracle's rule):
    # the nested filtered-corpus block must precede the outer
    # full-corpus text block, which defines 'spans'/'fate' names the
    # nested block's embedded stage oracles also use internally.
    return f"""
    WITH {_capstone_media_ctes()},
    after_flags AS MATERIALIZED (
      SELECT * FROM (
        WITH documents AS (
          SELECT * FROM main.documents
          WHERE {_INC_FATE} = 0 OR NOT {_ING_DEL}),
        {_capstone_text_flag_ctes(ns="a")}
        SELECT * FROM aflags)),
    {_capstone_text_flag_ctes()},
    fate AS (SELECT doc_id, {_INC_FATE} AS f FROM documents)
    SELECT 'before' AS phase, {flag_row}
    FROM flags f JOIN fate USING (doc_id)
    WHERE fate.f = 0 AND f.in1 AND f.in2
    UNION ALL
    SELECT 'after' AS phase, {flag_row}
    FROM after_flags f JOIN fate USING (doc_id)
    WHERE fate.f = 0 AND f.in1 AND f.in2
    """


@query(
    "ingest_delete_then_probe",
    None,  # oracle attached below (composes the capstone flag CTEs)
    doc="the takedown lifecycle of the COMPOSED ingest state (r16 "
    "verdict task 2 — the GDPR/opt-out operational reality every "
    "100 TB corpus faces, previously a full re-seed): copy-on-write "
    "the seeded state, probe the arriving 1-in-10 shard (before "
    "phase), ingest_forget a 1-in-2 stable-hash slice of the "
    "RESIDENT docs — counter negation in the monoid from the flags "
    "store's arrival-time provenance plus generation-scoped "
    "tombstones across all seven tiers — then compact_ingest_state "
    "(tombstoned rows PHYSICALLY dropped, generations folded to "
    "one, the deleted text gone from the parquet bytes) and "
    "re-probe THROUGH the compacted state (after phase). A former "
    "near-dup of a deleted doc now survives: its paragraph "
    "fingerprints win min-site again, its suffix twins are gone, "
    "its bands match nothing. Both probes are materialized to the "
    "work tree before the state mutates, so the returned relation "
    "is stable across the compaction renames (one outstanding "
    "result per session — the media_delete_then_probe contract). "
    "Oracle = re-seed-from-filtered-corpus equivalence: the "
    "capstone flag CTEs verbatim over the full corpus (before) and "
    "over the corpus minus the deleted slice (after), restricted to "
    "the arrival slice — so tombstone reads, counter-store "
    "consistency AND compaction itself are all value-gated, not "
    "just row-counted",
)
def ingest_delete_then_probe(spark, sf_dir):
    import shutil

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    shard = docs.filter(_fate_col() == 0)
    resident = docs.filter(_fate_col() != 0)
    # copy-on-write: the shared seed-once state stays pristine for
    # the other ingest rows; the lifecycle mutates its own copy (at
    # 100 TB the forget runs against the real store — the copy is
    # the test-harness economy that avoids paying the seed twice)
    src = ingest_state(spark, sf_dir)
    work = tempfile.mkdtemp(prefix="chiv-ingdel-")
    shutil.copytree(src, work, dirs_exist_ok=True)
    cols = ["doc_id", "f1", "f2", "f3", "f4", "f5", "f6"]
    shard_flags(spark, shard, work).select(*cols).write.mode(
        "overwrite"
    ).parquet(f"{work}/probe_before")
    ingest_forget(spark, work, resident.filter(_ing_del_pred()))
    compact_ingest_state(spark, work)
    shard_flags(spark, shard, work).select(*cols).write.mode(
        "overwrite"
    ).parquet(f"{work}/probe_after")
    # one outstanding work dir per application: the returned relation
    # is lazy over this invocation's probe parquet, so registering it
    # releases the previous invocation's tree (a caller holding an
    # earlier invocation's DataFrame must evaluate it before calling
    # again)
    state.get_or_build(spark, "ingest_delete", None, None, lambda _stale: work, shutil.rmtree)
    out = None
    for phase in ("before", "after"):
        rel = spark.read.parquet(f"{work}/probe_{phase}").withColumn(
            "phase", F.lit(phase)
        )
        out = rel if out is None else out.unionByName(rel)
    return out.select(
        "phase",
        *cols,
        (
            F.col("f1")
            & F.col("f2")
            & F.col("f3")
            & F.col("f4")
            & F.col("f5")
            & F.col("f6")
        ).alias("keep"),
    )


from chiv_spark.queries.base import REGISTRY as _ING_REG  # noqa: E402

for _nm, _orc in (
    ("pipeline_incremental_ingest", _ingest_flags_oracle()),
    ("pipeline_incremental_ingest_card", _ingest_card_oracle()),
    ("ingest_delete_then_probe", _ingest_delete_oracle()),
):
    _ING_REG[_nm] = _ING_REG[_nm].__class__(
        name=_nm, fn=_ING_REG[_nm].fn, oracle=_orc, doc=_ING_REG[_nm].doc
    )
