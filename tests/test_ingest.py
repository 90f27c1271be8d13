"""The composed delta-cost ingest capstone's contracts (r15 verdict
task 1) — what the oracle sweep can't see:

1. NO stage re-reads resident corpus text: after seeding, the source
   corpus's resident rows are CORRUPTED on disk and the ingest
   result is byte-identical (base contributions come from the
   persisted indexes + the state's own doc-store).
2. Cross-batch: folding shard A into the state makes shard B dedup
   against A through the INDEXES (a B-doc near-dupping an A-doc
   flips f3 only after the fold) — never a cross-batch join.
3. The card is a counter-monoid fold: after folding A, the resident
   counts equal seed + A's generation, and the shard column carries
   B's own funnel.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import warnings

import pytest
from pyspark.sql import functions as F

from chiv_spark.queries.ingest import (
    fold_shard,
    seed_ingest_state,
    shard_flags,
    updated_card,
)

#: ~30 distinct tokens per doc: enough for 3-word shingles and 8-token
#: windows, no internal repeats (suffix stage keeps everything)
def _text(seed: str) -> str:
    return " ".join(f"{seed}tok{i}" for i in range(30))


@pytest.fixture(scope="class")
def tiny_state(spark):
    """base d1..d4 seeded; shard A = {d10, d11}; shard B = {d20 (verbatim
    near-dup of d10 — NOT of any base doc), d21 (clean)}."""
    base = spark.createDataFrame(
        [(i, _text(f"base{i}")) for i in (1, 2, 3, 4)], "doc_id long, text string"
    )
    a = spark.createDataFrame(
        [(10, _text("ashard")), (11, _text("aclean"))], "doc_id long, text string"
    )
    b = spark.createDataFrame(
        [(20, _text("ashard")), (21, _text("bclean"))], "doc_id long, text string"
    )
    keepers = {
        m: spark.createDataFrame(
            [(i, i, 1) for i in range(60)],
            "media_id long, cluster_id long, cluster_size long",
        )
        for m in ("img", "aud", "vid")
    }
    state = tempfile.mkdtemp(prefix="chiv-ingest-test-")
    seed_ingest_state(spark, base, keepers, state)
    yield {"base": base, "a": a, "b": b, "state": state}
    shutil.rmtree(state, ignore_errors=True)


class TestCrossBatchIngest:
    def test_pre_fold_shard_b_sees_only_base(self, spark, tiny_state):
        flags = {
            r["doc_id"]: r.asDict()
            for r in shard_flags(spark, tiny_state["b"], tiny_state["state"]).collect()
        }
        # d20 duplicates an A doc that is NOT folded yet -> clean
        assert flags[20]["f3"] is True
        assert flags[21]["f3"] is True

    def test_fold_then_cross_batch_dedup(self, spark, tiny_state):
        fold_shard(spark, tiny_state["a"], tiny_state["state"], batch_id=1)
        flags = {
            r["doc_id"]: r.asDict()
            for r in shard_flags(spark, tiny_state["b"], tiny_state["state"]).collect()
        }
        # d20 is a verbatim dup of folded d10: near-dup flag flips
        # (f3 false) AND paragraph tier drops its chunks (f1 false —
        # d10's fingerprints are in the index with the smaller site)
        assert flags[20]["f3"] is False
        assert flags[20]["f1"] is False
        # the clean B doc is untouched by the fold
        assert flags[21]["f3"] is True and flags[21]["f1"] is True

    def test_card_is_a_counter_fold(self, spark, tiny_state):
        # runs after the fold above (same class-scoped state): the
        # resident column = seed (4 docs) + folded A (2 docs)
        card = {
            r["stage"]: r.asDict()
            for r in updated_card(spark, tiny_state["b"], tiny_state["state"]).collect()
        }
        assert card["0_total"]["n_surviving_resident"] == 6
        assert card["0_total"]["n_surviving_arrived"] == 2
        assert card["0_total"]["n_surviving_total"] == 8
        # B's funnel in the arrived column: d20 fell at stage 1
        # (paragraph) so stage-6 survivors among arrivals <= 1
        assert card["6_media_linkage"]["n_surviving_arrived"] <= 1
        # media rows: full-universe keepers, zero shard contribution
        assert card["7_image_canonical"]["n_surviving_resident"] == 60
        assert card["7_image_canonical"]["n_surviving_arrived"] == 0


class TestIngestLifecycle:
    """r16 verdict tasks 2+3: the takedown lifecycle of the composed
    state, and fold replay idempotence — what the oracle sweep can't
    see (physical drop, counter-negation identity, bit-stable
    replays)."""

    @pytest.fixture()
    def lifecycle_state(self, spark):
        """base d1..d4 (d1 = the takedown target); shard s20 is a
        verbatim dup of d1 (every tier flags it), s21 clean."""
        base = spark.createDataFrame(
            [(1, _text("victim")), (2, _text("b2")), (3, _text("b3")), (4, _text("b4"))],
            "doc_id long, text string",
        )
        shard = spark.createDataFrame(
            [(20, _text("victim")), (21, _text("clean"))], "doc_id long, text string"
        )
        keepers = {
            m: spark.createDataFrame(
                [(i, i, 1) for i in range(60)],
                "media_id long, cluster_id long, cluster_size long",
            )
            for m in ("img", "aud", "vid")
        }
        state = tempfile.mkdtemp(prefix="chiv-ingdel-test-")
        from chiv_spark.queries.ingest import seed_ingest_state

        seed_ingest_state(spark, base, keepers, state)
        yield {"base": base, "shard": shard, "state": state}
        shutil.rmtree(state, ignore_errors=True)

    def test_forget_then_compact_lifecycle(self, spark, lifecycle_state):
        from chiv_spark.queries.ingest import (
            _flags_to_funnel,
            _read_tier,
            compact_ingest_state,
            ingest_forget,
        )

        state, shard = lifecycle_state["state"], lifecycle_state["shard"]
        before = {
            r["doc_id"]: r.asDict()
            for r in shard_flags(spark, shard, state).collect()
        }
        # s20 verbatim-dups resident d1: every text tier flags it
        assert before[20]["f1"] is False  # d1's chunks win min-site
        assert before[20]["f2"] is False  # 30-token twin span >= 10
        assert before[20]["f3"] is False  # near-dup of d1
        assert before[21]["f1"] is True and before[21]["f3"] is True

        ids = spark.createDataFrame([(1,)], "doc_id long")
        # the per-tier jobs inherit the caller's job group and tags: all
        # of forget's and compact's jobs land in group "g", and neither
        # logs pyspark's "Spark session is not provided" warning
        sc = spark.sparkContext
        dag = sc._jsc.sc().dagScheduler()  # noqa: SLF001

        def nid():
            n = dag.nextJobId()
            return int(n if isinstance(n, int) else n.get())

        sc.setJobGroup("g", "ingest lifecycle")
        try:
            first = nid()
            with warnings.catch_warnings(record=True) as caught:
                warnings.simplefilter("always")
                ingest_forget(spark, state, ids, request_id=0)
            fired = set(range(first, nid()))
        finally:
            sc._jsc.clearJobGroup()  # noqa: SLF001

        # probe THROUGH the tombstones (pre-compaction): the former
        # near-dup of the deleted doc now survives every tier
        mid = {
            r["doc_id"]: r.asDict()
            for r in shard_flags(spark, shard, state).collect()
        }
        assert mid[20]["f1"] is True
        assert mid[20]["f2"] is True
        assert mid[20]["f3"] is True

        # counter negation is EXACT in the monoid: summed counters ==
        # the funnel over the surviving docs' stored flags (funnel
        # counts are additive per doc, so subtracting d1's rows
        # equals never having counted them)
        summed = {
            r["stage"]: (r["n_surviving"], r["n_removed"])
            for r in spark.read.parquet(f"{state}/counters")
            .groupBy("stage")
            .agg(
                F.sum("n_surviving").alias("n_surviving"),
                F.sum("n_removed").alias("n_removed"),
            )
            .collect()
        }
        survivors = _read_tier(spark, state, "flags_store").filter(
            F.col("doc_id") != 1
        )
        expected = {
            r["stage"]: (r["n_surviving"], r["n_removed"])
            for r in _flags_to_funnel(survivors).collect()
        }
        assert summed == expected
        assert summed["0_total"][0] == 3

        # compaction: physical drop — the deleted text is GONE from
        # the post-compaction parquet bytes, and the probe result is
        # unchanged (tombstone reads == compacted reads)
        sc.setJobGroup("g", "ingest lifecycle")
        try:
            first = nid()
            with warnings.catch_warnings(record=True) as caught_compact:
                warnings.simplefilter("always")
                compact_ingest_state(spark, state)
            fired |= set(range(first, nid()))
        finally:
            sc._jsc.clearJobGroup()  # noqa: SLF001
        assert fired <= set(sc.statusTracker().getJobIdsForGroup("g"))
        untagged = [
            str(w.message)
            for w in caught + caught_compact
            if "Tags will not be inherited" in str(w.message)
        ]
        assert untagged == []
        import glob

        blob = b"".join(
            open(p, "rb").read()
            for p in glob.glob(f"{state}/text_store/**/*.parquet", recursive=True)
        )
        assert b"victimtok" not in blob
        assert b"b2tok" in blob
        after = {
            r["doc_id"]: r.asDict()
            for r in shard_flags(spark, shard, state).collect()
        }
        assert after == mid
        # counters folded to one generation, sums unchanged
        gens = spark.read.parquet(f"{state}/counters").select("gen").distinct().collect()
        assert [r["gen"] for r in gens] == ["seed"]

    def test_fold_replay_is_idempotent(self, spark, lifecycle_state):
        from chiv_spark.queries.ingest import fold_shard, updated_card

        state, shard = lifecycle_state["state"], lifecycle_state["shard"]
        probe = spark.createDataFrame(
            [(30, _text("victim")), (31, _text("probe"))], "doc_id long, text string"
        )

        def snapshot():
            card = sorted(
                tuple(r)
                for r in updated_card(spark, probe, state).collect()
            )
            counts = {
                tier: spark.read.parquet(f"{state}/{tier}").count()
                for tier in ("para_index", "band_index", "text_store", "flags_store")
            }
            return card, counts

        fold_shard(spark, shard, state, batch_id=1)
        first = snapshot()
        # crashed-and-retried fold: same shard, same batch_id
        fold_shard(spark, shard, state, batch_id=1)
        second = snapshot()
        assert first == second


class TestNoResidentTextReread:
    def test_source_corruption_does_not_change_ingest(self, spark, tmp_path):
        """Seed from a corpus COPY, corrupt every resident row's text
        on disk, re-run the ingest reading the corrupted source: the
        flags are identical, so no stage read resident text from the
        source after seeding (suffix twins come from the state's own
        doc-store)."""
        from chiv_spark.queries.ingest import _fate_col

        src = "/root/testdata/sf0.001/documents.parquet"
        work = str(tmp_path / "docs.parquet")
        shutil.copy(src, work)
        docs = spark.read.parquet(work).select("doc_id", "text")
        resident = docs.filter(_fate_col() != 0)
        shard = docs.filter(_fate_col() == 0)
        keepers = {
            m: spark.createDataFrame(
                [(i, i, 1) for i in range(60)],
                "media_id long, cluster_id long, cluster_size long",
            )
            for m in ("img", "aud", "vid")
        }
        state = tempfile.mkdtemp(prefix="chiv-ingest-corrupt-")
        try:
            seed_ingest_state(spark, resident, keepers, state)
            before = {
                r["doc_id"]: tuple(r)
                for r in shard_flags(spark, shard, state).collect()
            }
            # corrupt resident text in the source (shard rows intact),
            # atomically replacing the parquet file
            corrupted = docs.select(
                "doc_id",
                F.when(_fate_col() != 0, F.lit("CORRUPTED"))
                .otherwise(F.col("text"))
                .alias("text"),
            ).toPandas()
            import pyarrow as pa
            import pyarrow.parquet as pq

            pq.write_table(pa.Table.from_pandas(corrupted), work)
            docs2 = spark.read.parquet(work).select("doc_id", "text")
            spark.catalog.clearCache()
            shard2 = docs2.filter(_fate_col() == 0)
            after = {
                r["doc_id"]: tuple(r)
                for r in shard_flags(spark, shard2, state).collect()
            }
            assert before == after
            assert before  # non-vacuous
        finally:
            shutil.rmtree(state, ignore_errors=True)
