"""Structured Streaming tests: the real readStream pipeline completes
under availableNow and matches the batch twin."""

from __future__ import annotations

from chiv_spark.queries.base import t as read_t
from chiv_spark.streaming.events import run_events_stream, windowed_event_counts


class TestEventsStream:
    def test_stream_matches_batch(self, spark, sf_dir, tmp_path):
        streamed = run_events_stream(spark, sf_dir, str(tmp_path / "ckpt"))
        batch = windowed_event_counts(read_t(spark, sf_dir, "events"))
        srows = {tuple(r) for r in streamed.collect()}
        brows = {tuple(r) for r in batch.collect()}
        assert srows == brows
        assert len(srows) > 0

    def test_watermark_present_in_stream_plan(self, spark, sf_dir):
        agg = windowed_event_counts(read_t(spark, sf_dir, "events"))
        assert "window_start" in agg.columns


class TestStreamStaticJoin:
    def test_matches_batch_join(self, spark, sf_dir, tmp_path):
        from pyspark.sql import functions as F

        from chiv_spark.streaming.enrich import purchases_by_segment

        streamed = purchases_by_segment(spark, sf_dir, str(tmp_path / "ckpt-ssj"))
        cust = read_t(spark, sf_dir, "customer")
        batch = (
            read_t(spark, sf_dir, "events")
            .filter(F.col("event_type") == "purchase")
            .join(cust, F.col("user_id") == cust.c_custkey)
            .groupBy(F.col("c_mktsegment").alias("segment"))
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_purchases"),
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
            )
        )
        assert {tuple(r) for r in streamed.collect()} == {tuple(r) for r in batch.collect()}
        assert streamed.count() > 0


class TestStreamingDedup:
    def test_emits_exactly_batch_distinct(self, spark, sf_dir, tmp_path):
        from chiv_spark.streaming.enrich import deduped_user_types

        deduped = deduped_user_types(spark, sf_dir, str(tmp_path / "ckpt-dd"))
        batch = read_t(spark, sf_dir, "events").select("user_id", "event_type").distinct()
        got = sorted(tuple(r) for r in deduped.collect())
        want = sorted(tuple(r) for r in batch.collect())
        assert got == want
        # append-mode emit: no pair appears twice
        assert len(got) == len(set(got))


class TestStreamingArchive:
    def test_foreachbatch_csv_matches_batch_archive(self, spark, sf_dir, tmp_path):
        from chiv_spark.core.archiver import Archiver
        from chiv_spark.sources.catalog import read_table_stream
        from chiv_spark.streaming.archive import archive_stream

        stream = read_table_stream(spark, sf_dir, "events").select(
            "event_id", "user_id", "event_type"
        )
        bucket = str(tmp_path / "bucket")
        keys = archive_stream(
            stream,
            bucket,
            str(tmp_path / "ckpt-arch"),
            key_template="events-{batch_id}.csv",
            order_by=["event_id"],
        )
        assert keys, "stream wrote no objects"
        streamed = b"".join((tmp_path / "bucket" / k).read_bytes() for k in sorted(keys))
        # availableNow on one static file = a single batch, so the
        # concatenated stream output equals one batch archive
        batch_bucket = str(tmp_path / "bucket-batch")
        from chiv_spark.queries.base import t as read_t

        batch_df = (
            read_t(spark, sf_dir, "events")
            .select("event_id", "user_id", "event_type")
            .orderBy("event_id")
        )
        Archiver(spark).archive_df(batch_df, batch_bucket, key="all.csv")
        batch_bytes = (tmp_path / "bucket-batch" / "all.csv").read_bytes()
        assert streamed == batch_bytes

    def test_key_template_requires_batch_id(self, spark, sf_dir, tmp_path):
        import pytest

        from chiv_spark.sources.catalog import read_table_stream
        from chiv_spark.streaming.archive import archive_stream

        stream = read_table_stream(spark, sf_dir, "events")
        with pytest.raises(ValueError, match="batch_id"):
            archive_stream(stream, str(tmp_path / "b"), str(tmp_path / "c"), key_template="fixed.csv")


class TestStreamingAttribution:
    def test_state_carries_touch_across_batches(self):
        """Unit-drive the stateful tracker through two microbatches:
        a touch in batch 1 must attribute a purchase in batch 2 via
        the state store (the path availableNow's single batch never
        exercises)."""
        import pandas as pd

        from chiv_spark.streaming.attribution import _attribute

        class FakeState:
            def __init__(self):
                self._v = None

            @property
            def exists(self):
                return self._v is not None

            @property
            def get(self):
                return self._v

            def update(self, v):
                self._v = v

        st = FakeState()
        b1 = pd.DataFrame({"ts_us": [100], "event_id": [1], "event_type": ["click"]})
        assert list(_attribute((7,), iter([b1]), st)) == []  # touch only: no emit
        assert st.get == (100, "click")
        b2 = pd.DataFrame({"ts_us": [200], "event_id": [2], "event_type": ["purchase"]})
        out = pd.concat(list(_attribute((7,), iter([b2]), st)))
        assert out.iloc[0].tolist() == [2, 7, 200, 100, "click"]

    def test_matches_batch_attribution(self, spark, sf_dir, tmp_path):
        from chiv_spark.queries import REGISTRY
        from chiv_spark.streaming.attribution import run_streaming_attribution

        streamed = {
            tuple(r)
            for r in run_streaming_attribution(
                spark, sf_dir, str(tmp_path / "ckpt-attr")
            ).collect()
        }
        batch = {
            (
                r["event_id"],
                r["user_id"],
                int(r["purchase_ts"].timestamp() * 1_000_000),
                None if r["touch_ts"] is None else int(r["touch_ts"].timestamp() * 1_000_000),
                r["touch_type"],
            )
            for r in REGISTRY["events_attribution_last_touch"].fn(spark, sf_dir).collect()
        }
        assert streamed == batch
        assert len(streamed) > 0


class TestStreamingEwma:
    def test_state_carries_fold_across_batches(self):
        """Drive the stateful EWMA through two microbatches: batch 2
        must continue the fold from batch 1's carried (s, n) with the
        exact IEEE op order of the batch F.aggregate twin."""
        import pandas as pd

        from chiv_spark.streaming.ewma import EWMA_ALPHA, _ewma

        class FakeState:
            def __init__(self):
                self._v = None

            @property
            def exists(self):
                return self._v is not None

            @property
            def get(self):
                return self._v

            def update(self, v):
                self._v = v

        st = FakeState()
        b1 = pd.DataFrame(
            {"ts_us": [100, 200], "event_id": [1, 2], "value": [10.0, 4.0]}
        )
        out1 = pd.concat(list(_ewma((7,), iter([b1]), st)))
        a = EWMA_ALPHA
        s_exp = a * 4.0 + (1.0 - a) * 10.0
        assert out1.iloc[0].tolist() == [7, 2, s_exp]
        assert st.get == (s_exp, 2)
        # out-of-order arrival INSIDE the batch is sorted by (ts, id)
        b2 = pd.DataFrame(
            {"ts_us": [400, 300], "event_id": [4, 3], "value": [8.0, 2.0]}
        )
        out2 = pd.concat(list(_ewma((7,), iter([b2]), st)))
        s_exp = a * 2.0 + (1.0 - a) * s_exp
        s_exp = a * 8.0 + (1.0 - a) * s_exp
        assert out2.iloc[0].tolist() == [7, 4, s_exp]
        assert st.get == (s_exp, 4)

    def test_matches_batch_ewma(self, spark, sf_dir, tmp_path):
        from chiv_spark.queries import REGISTRY
        from chiv_spark.streaming.ewma import run_streaming_ewma
        from chiv_spark.functions.detmath import det_round
        from pyspark.sql import functions as F

        streamed = {
            tuple(r)
            for r in run_streaming_ewma(spark, sf_dir, str(tmp_path / "ckpt-ewma"))
            .select("user_id", "n_events", det_round(F.col("ewma_raw")).alias("v"))
            .collect()
        }
        batch = {
            tuple(r) for r in REGISTRY["timeseries_ewma"].fn(spark, sf_dir).collect()
        }
        assert streamed == batch
        assert len(streamed) > 0


class TestStreamingHolt:
    def test_state_carries_two_variable_fold_across_batches(self):
        """Drive the stateful Holt smoother through two microbatches:
        batch 2 must continue BOTH carried variables (level, trend)
        from batch 1 with the exact IEEE op order of the batch
        F.aggregate struct-fold twin (level from l+b first, trend
        from the new level second)."""
        import pandas as pd

        from chiv_spark.streaming.holt import HOLT_ALPHA, HOLT_GAMMA, _holt

        class FakeState:
            def __init__(self):
                self._v = None

            @property
            def exists(self):
                return self._v is not None

            @property
            def get(self):
                return self._v

            def update(self, v):
                self._v = v

        def step(l, b, x):
            a, g = HOLT_ALPHA, HOLT_GAMMA
            nl = a * x + (1.0 - a) * (l + b)
            nb = g * (nl - l) + (1.0 - g) * b
            return nl, nb

        st = FakeState()
        b1 = pd.DataFrame(
            {"ts_us": [100, 200], "event_id": [1, 2], "value": [10.0, 4.0]}
        )
        out1 = pd.concat(list(_holt((7,), iter([b1]), st)))
        l_exp, b_exp = step(10.0, 0.0, 4.0)
        assert out1.iloc[0].tolist() == [7, 2, l_exp, b_exp]
        assert st.get == (l_exp, b_exp, 2)
        # out-of-order arrival INSIDE the batch is sorted by (ts, id)
        b2 = pd.DataFrame(
            {"ts_us": [400, 300], "event_id": [4, 3], "value": [8.0, 2.0]}
        )
        out2 = pd.concat(list(_holt((7,), iter([b2]), st)))
        l_exp, b_exp = step(l_exp, b_exp, 2.0)
        l_exp, b_exp = step(l_exp, b_exp, 8.0)
        assert out2.iloc[0].tolist() == [7, 4, l_exp, b_exp]
        assert st.get == (l_exp, b_exp, 4)

    def test_matches_batch_holt(self, spark, sf_dir, tmp_path):
        from chiv_spark.functions.detmath import det_round
        from chiv_spark.queries import REGISTRY
        from chiv_spark.streaming.holt import run_streaming_holt
        from pyspark.sql import functions as F

        streamed = {
            tuple(r)
            for r in run_streaming_holt(spark, sf_dir, str(tmp_path / "ckpt-holt"))
            .select(
                "user_id",
                "n_events",
                det_round(F.col("level_raw")).alias("level"),
                det_round(F.col("trend_raw")).alias("trend"),
                det_round(F.col("level_raw") + F.col("trend_raw")).alias("forecast_1"),
            )
            .collect()
        }
        batch = {
            tuple(r)
            for r in REGISTRY["timeseries_holt_linear"].fn(spark, sf_dir).collect()
        }
        assert streamed == batch
        assert len(streamed) > 0


class TestIncrementalDedupStream:
    def test_cross_batch_pairs_via_index_fold(self, spark, tmp_path):
        """Two shard files under maxFilesPerTrigger=1 -> two
        microbatches. Docs 10 and 20 arrive in DIFFERENT batches with
        identical text: their pair can only surface if the earlier
        batch's signatures were folded into the persisted index before
        the later batch joined against it (order-insensitive: either
        processing order leaves one batch 'later')."""
        from chiv_spark.streaming.dedup_index import incremental_dedup_stream

        text = " ".join(f"w{i}" for i in range(10))
        other = " ".join(f"x{i}" for i in range(10))
        schema = "doc_id long, text string"
        base = spark.createDataFrame([(1, text), (2, other)], schema)
        shards = tmp_path / "shards"
        spark.createDataFrame([(10, text)], schema).coalesce(1).write.parquet(
            str(shards / "part0")
        )
        spark.createDataFrame([(20, text)], schema).coalesce(1).write.parquet(
            str(shards / "part1")
        )
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(shards / "part*"))
        )
        work = tmp_path / "work"
        out = incremental_dedup_stream(spark, base, stream, str(work))
        got = {(r.doc_a, r.doc_b, r.est_jaccard) for r in out.collect()}
        assert got == {(1, 10, 1.0), (1, 20, 1.0), (10, 20, 1.0)}
        # the index now holds base AND both deltas (4 band rows each)
        idx = spark.read.parquet(str(work / "index"))
        assert {r.doc_id for r in idx.select("doc_id").distinct().collect()} == {1, 2, 10, 20}
        assert idx.count() == 16


class TestIncrementalPhashStream:
    def test_cross_batch_image_pairs_via_chunk_index_fold(self, spark, tmp_path):
        """r13 verdict task 2 — the media tiers' incremental path.
        Images 0, 12, 24 share a dHash group (media_id % 12): 0 is
        resident, 12 and 24 arrive in DIFFERENT batches. The (12, 24)
        pair can only surface if batch one's 4-rows-per-image chunk
        index was folded before batch two probed — the earlier batch
        saw only the base index. Exercises the real PNG codec path
        inside foreachBatch and the pb-partitioned index layout."""
        from chiv_spark.operators import dedup, multimodal
        from chiv_spark.streaming.dedup_index import SEED_BATCH, index_fold_stream

        schema = "doc_id long"
        base = spark.createDataFrame([(0,)], schema)
        shards = tmp_path / "shards"
        spark.createDataFrame([(12,)], schema).coalesce(1).write.parquet(
            str(shards / "part0")
        )
        spark.createDataFrame([(24,)], schema).coalesce(1).write.parquet(
            str(shards / "part1")
        )
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(shards / "part*"))
        )

        def media_index(rel):
            from pyspark.sql import functions as F

            ids = rel.select(F.col("doc_id").alias("media_id"))
            return dedup.hamming_chunk_index(
                multimodal.image_dhash(ids), id_col="media_id", sig_col="dhash"
            )

        work = tmp_path / "work"
        out = index_fold_stream(
            spark,
            base,
            stream,
            str(work),
            index_builder=media_index,
            pairs_builder=lambda dsig, index: dedup.incremental_hamming_pairs(
                dsig, index, id_col="media_id"
            ).selectExpr("doc_a AS media_a", "doc_b AS media_b", "hamming"),
            key_col="ck",
            pair_cols=["media_a", "media_b", "hamming"],
            pair_schema="media_a bigint, media_b bigint, hamming int",
            id_col="media_id",
        )
        got = {(r.media_a, r.media_b, r.hamming) for r in out.collect()}
        assert got == {(0, 12, 0), (0, 24, 0), (12, 24, 0)}
        # index holds base + both folded generations, 4 chunk rows each,
        # and the base generation survives untouched
        idx = spark.read.parquet(str(work / "index"))
        assert {
            r.media_id for r in idx.select("media_id").distinct().collect()
        } == {0, 12, 24}
        assert idx.count() == 12
        assert (
            idx.filter(f"src_batch = {SEED_BATCH}")
            .select("media_id")
            .distinct()
            .collect()[0][0]
            == 0
        )


class TestIncrementalParagraphStream:
    def test_cross_batch_chunk_dedup_and_textless_index(self, spark, tmp_path):
        """r12 verdict task 6. Two shard files under
        maxFilesPerTrigger=1 -> two microbatches. Chunk Z appears in
        BOTH shards: the later batch can only drop it if the earlier
        batch's fingerprints were folded into the persisted index
        (order-insensitive). The index must hold fingerprints + sites
        ONLY — never the chunk text (fold_cols contract)."""
        from chiv_spark.operators import dedup
        from chiv_spark.streaming.dedup_index import index_fold_stream

        def toks(prefix):
            return " ".join(f"{prefix}{i}" for i in range(10))

        X, Y, Z, W = toks("x"), toks("y"), toks("z"), toks("w")
        schema = "doc_id long, text string"
        base = spark.createDataFrame([(1, f"{X} {Y}")], schema)
        shards = tmp_path / "shards"
        spark.createDataFrame([(10, f"{X} {Z}")], schema).coalesce(1).write.parquet(
            str(shards / "part0")
        )
        spark.createDataFrame([(20, f"{Z} {W}")], schema).coalesce(1).write.parquet(
            str(shards / "part1")
        )
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(shards / "part*"))
        )
        work = tmp_path / "work"
        out = index_fold_stream(
            spark,
            base,
            stream,
            str(work),
            index_builder=dedup.paragraph_chunks,
            pairs_builder=dedup.incremental_paragraph_rebuild,
            key_col="h",
            pair_cols=["doc_id", "n_chunks", "n_dropped", "cleaned_text"],
            pair_schema="doc_id bigint, n_chunks bigint, n_dropped bigint,"
            " cleaned_text string",
            fold_cols=["doc_id", "h", "site"],
        )
        got = {r.doc_id: (r.n_chunks, r.n_dropped, r.cleaned_text) for r in out.collect()}
        # doc 10: X dropped (base doc 1 holds it), Z kept (first sight)
        # doc 20: Z dropped — ONLY reachable through the index fold of
        # the other shard's batch — W kept
        assert got == {10: (2, 1, Z), 20: (2, 1, W)}
        idx = spark.read.parquet(str(work / "index"))
        assert set(idx.columns) == {"doc_id", "h", "site", "pb", "src_batch"}
        # base (2 chunks @ SEED) + both deltas (2 chunks each)
        assert idx.count() == 6
        assert {r.doc_id for r in idx.select("doc_id").distinct().collect()} == {1, 10, 20}


class TestParagraphIndexTombstones:
    def test_gdpr_delete_frees_first_occurrence(self, spark, tmp_path):
        """The GDPR lifecycle applies to the PARAGRAPH index too (it
        rides the same read_index_pruned machinery): tombstoning a
        base doc removes its fingerprint rows from every pruned read,
        so a later arrival carrying the same chunk becomes the FIRST
        occurrence and keeps it — forgetting a document must also
        forget that it ever claimed its paragraphs."""
        from chiv_spark.operators import dedup
        from chiv_spark.streaming.dedup_index import (
            SEED_BATCH,
            read_index_pruned,
            write_index_generation,
            write_tombstones,
        )

        X = " ".join(f"x{i}" for i in range(10))
        Y = " ".join(f"y{i}" for i in range(10))
        base = spark.createDataFrame([(1, f"{X} {Y}")], "doc_id long, text string")
        delta = spark.createDataFrame([(10, X)], "doc_id long, text string")
        index_dir = str(tmp_path / "paraidx")
        write_index_generation(
            dedup.paragraph_index(base), "h", index_dir, SEED_BATCH
        )

        def rebuild():
            idx = read_index_pruned(spark, index_dir, list(range(16)))
            out = dedup.incremental_paragraph_rebuild(
                dedup.paragraph_chunks(delta), idx.select("h", "site")
            )
            r = out.collect()[0]
            return (r.n_chunks, r.n_dropped, r.cleaned_text)

        # before the delete: doc 1 owns chunk X, the arrival drops it
        assert rebuild() == (1, 1, "")
        write_tombstones(spark, index_dir, [1])
        # after: doc 1's claim is gone — the arrival is first and keeps X
        assert rebuild() == (1, 0, X)


class TestMediaIndexDeletion:
    """The media chunk indexes' GDPR lifecycle (r14 verdict task 3):
    a forgotten media_id stops nominating pairs immediately (the
    tombstone anti-join) and is PHYSICALLY dropped at compact_index —
    pinned for all THREE modalities, which share the
    hamming_chunk_index layout the registered image row
    (media_delete_then_probe) exercises."""

    import pytest as _pytest

    @_pytest.mark.parametrize("modality", ["img", "aud", "vid"])
    def test_delete_stops_pairs_and_compaction_drops_rows(
        self, spark, sf_dir, tmp_path, modality
    ):
        from pyspark.sql import functions as F

        from chiv_spark.functions.hashing import hash64
        from chiv_spark.operators import multimodal
        from chiv_spark.queries import llm
        from chiv_spark.streaming.dedup_index import (
            _tombstone_dir,
            compact_index,
        )

        sig_prefix, del_prefix, sig_builder, sig_col = {
            "img": ("incimg:", "delimg:", multimodal.image_dhash, "dhash"),
            "aud": (
                "incaud:",
                "delaud:",
                lambda ids: multimodal.audio_fingerprint(
                    multimodal.synth_audio_fp(ids)
                ),
                "afp",
            ),
            "vid": ("incvid:", "delvid:", llm._video_fp_sig, "vhash"),
        }[modality]
        rel, index_dir = llm.media_delete_then_probe_rel(
            spark,
            sf_dir,
            sig_prefix,
            del_prefix,
            sig_builder,
            sig_col,
            work_dir=str(tmp_path / modality),
        )
        rows = rel.collect()
        ids = (
            read_t(spark, sf_dir, "documents")
            .filter(F.col("doc_id") < 60)
            .select(F.col("doc_id").alias("media_id"))
        )
        fate = hash64(
            F.concat(F.lit(sig_prefix), F.col("media_id").cast("string"))
        ) % 10
        d5 = hash64(
            F.concat(F.lit(del_prefix), F.col("media_id").cast("string"))
        ) % 5
        deleted = {
            r.media_id for r in ids.filter((fate != 0) & (d5 == 0)).collect()
        }
        assert deleted  # the fate slice is non-empty at sf0.001
        before = [r for r in rows if r.phase == "before"]
        after = [r for r in rows if r.phase == "after"]
        # non-vacuous: the before phase HAS pairs touching deleted ids
        assert any(
            r.media_a in deleted or r.media_b in deleted for r in before
        )
        # the delete took effect at read time: no after pair touches a
        # deleted id, and every ok gate holds
        assert all(
            r.media_a not in deleted and r.media_b not in deleted
            for r in after
        )
        assert all(r.ok for r in rows)
        # compaction PHYSICALLY drops the tombstoned rows and consumes
        # the fully-applied tombstones
        compact_index(spark, index_dir, id_col="media_id")
        surviving = {
            r.media_id
            for r in spark.read.parquet(index_dir)
            .select("media_id")
            .distinct()
            .collect()
        }
        assert not (surviving & deleted)
        import os

        tdir = _tombstone_dir(index_dir)
        assert not os.path.isdir(tdir) or not any(
            f.endswith(".parquet") for f in os.listdir(tdir)
        )


class TestIncrementalExactSubstrStream:
    def test_cross_batch_span_via_index_and_doc_store(self, spark, tmp_path):
        """r13: the suffix tier's fold twin. A 12-token span S appears
        in docs 10 and 20, arriving in DIFFERENT batches (and nowhere
        in the base): the later batch can only detect it if the
        earlier batch's windows were folded into the index AND its
        text into the doc store (the detector needs the twin's token
        sequence, not just counts). Order-insensitive: exactly one of
        the two reports the span and is trimmed; the earlier one saw
        no twin at its arrival time."""
        from chiv_spark.streaming.suffix_index import (
            incremental_exact_substr_stream,
        )

        S = " ".join(f"s{i}" for i in range(12))
        schema = "doc_id long, text string"
        base = spark.createDataFrame(
            [(1, "base words with no repeats whatsoever in here at all")], schema
        )
        shards = tmp_path / "shards"
        spark.createDataFrame(
            [(10, f"a1 a2 {S} a3")], schema
        ).coalesce(1).write.parquet(str(shards / "part0"))
        spark.createDataFrame(
            [(20, f"b1 {S} b2 b3")], schema
        ).coalesce(1).write.parquet(str(shards / "part1"))
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(shards / "part*"))
        )
        out = incremental_exact_substr_stream(
            spark, base, stream, str(tmp_path / "work"), threshold=10
        )
        got = {r.doc_id: (r.span_ge8, r.keep, r.trimmed_text) for r in out.collect()}
        assert set(got) == {10, 20}
        spans = sorted((got[10][0], got[20][0]))
        assert spans == [0, 12]  # exactly the later arrival detects S
        late = 10 if got[10][0] == 12 else 20
        early = 30 - late
        assert got[early] == (0, True, dict([(10, f"a1 a2 {S} a3"), (20, f"b1 {S} b2 b3")])[early])
        assert got[late][1] is False  # span >= threshold -> trimmed, not kept
        assert S not in got[late][2]  # the repeated span is gone
        # the index holds base + both folded generations
        idx = spark.read.parquet(str(tmp_path / "work" / "winidx"))
        assert {r.src_batch for r in idx.select("src_batch").distinct().collect()} >= {0, 1}
        docs = spark.read.parquet(str(tmp_path / "work" / "docs"))
        assert {r.doc_id for r in docs.select("doc_id").collect()} == {10, 20}

    def test_all_sub_window_batch_still_emits_rows(self, spark, tmp_path):
        """r13 ADVICE (medium): window_index drops docs with fewer than
        WINDOW_N (8) tokens, so a microbatch consisting ONLY of such
        docs has an empty window relation. The stream must still emit
        the batch twin's non-candidate rows (span 0, keep=true, text
        unchanged) — previously the whole batch silently vanished from
        the returned relation."""
        from chiv_spark.streaming.suffix_index import (
            incremental_exact_substr_stream,
        )

        schema = "doc_id long, text string"
        base = spark.createDataFrame(
            [(1, "base words with no repeats whatsoever in here at all")], schema
        )
        shards = tmp_path / "shards"
        # batch 0: every doc under 8 tokens -> empty dwin
        spark.createDataFrame(
            [(10, "tiny doc"), (11, "three tokens here")], schema
        ).coalesce(1).write.parquet(str(shards / "part0"))
        # batch 1: a normal doc, so the fix is exercised mid-stream,
        # not just on a degenerate single-batch run
        spark.createDataFrame(
            [(20, " ".join(f"w{i}" for i in range(15)))], schema
        ).coalesce(1).write.parquet(str(shards / "part1"))
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(shards / "part*"))
        )
        out = incremental_exact_substr_stream(
            spark, base, stream, str(tmp_path / "work"), threshold=10
        )
        got = {r.doc_id: (r.n_tokens, r.span_ge8, r.keep, r.trimmed_text) for r in out.collect()}
        assert set(got) == {10, 11, 20}
        assert got[10] == (2, 0, True, "tiny doc")
        assert got[11] == (3, 0, True, "three tokens here")
        assert got[20][1:3] == (0, True)


class TestLegacyWindowIndexGuard:
    """r17 advice (medium): a pre-r17 window index keyed by the window
    STRING ('w') must fail LOUDLY when probed with the r17+ xxhash64
    layout ('wh') — Spark fills the missing column with nulls, so the
    probe would otherwise silently nominate zero twins."""

    def test_legacy_layout_raises_with_reseed_instructions(self, spark, tmp_path):
        import pytest

        from chiv_spark.streaming.suffix_index import (
            probe_suffix_store,
        )

        work = str(tmp_path / "legacy_store")
        legacy = spark.createDataFrame(
            [(1, "tok0 tok1 tok2 tok3 tok4 tok5 tok6 tok7", 3, 2, -1)],
            "doc_id long, w string, cnt long, pb int, src_batch int",
        )
        legacy.write.partitionBy("pb", "src_batch").parquet(f"{work}/winidx")
        delta = spark.createDataFrame(
            [(100, " ".join(f"t{i}" for i in range(12)))],
            "doc_id long, text string",
        )
        with pytest.raises(ValueError, match="pre-r17|Re-seed"):
            probe_suffix_store(spark, delta, work, threshold=8)

    def test_recreated_store_is_checked_again(self, spark, tmp_path):
        """A window index deleted and re-created at the same path in
        the same process is checked afresh: nothing remembers that an
        earlier store at that path was sound."""
        import shutil

        import pytest

        from chiv_spark.streaming.suffix_index import (
            probe_suffix_store,
            seed_suffix_store,
        )

        span = " ".join(f"t{i}" for i in range(12))
        work = str(tmp_path / "store")
        seed_suffix_store(
            spark,
            spark.createDataFrame([(1, f"lead {span} tail")], "doc_id long, text string"),
            work,
        )
        delta = spark.createDataFrame([(100, span)], "doc_id long, text string")
        assert probe_suffix_store(spark, delta, work, threshold=8).collect()
        shutil.rmtree(f"{work}/winidx")
        spark.createDataFrame(
            [(1, " ".join(f"t{i}" for i in range(8)), 1, 2, -1)],
            "doc_id long, w string, cnt long, pb int, src_batch int",
        ).write.partitionBy("pb", "src_batch").parquet(f"{work}/winidx")
        with pytest.raises(ValueError, match="pre-r17|Re-seed"):
            probe_suffix_store(spark, delta, work, threshold=8).collect()


class TestSuffixStoreDeletion:
    """r13 verdict task 3: the suffix tier's doc store persists RAW
    TEXT — the most privacy-sensitive artifact in the repo — and must
    honor the same forget lifecycle as every other persisted index:
    tombstones take effect at read time (the deleted doc's windows
    stop nominating twins, its text is never re-read), and compaction
    physically drops both stores' rows."""

    # a 12-token span shared by resident doc 1 and arrival 100; the
    # unique marker token proves physical deletion from parquet bytes
    SPAN = "ZZSECRET " + " ".join(f"s{i}" for i in range(11))

    def _seed(self, spark, tmp_path):
        from chiv_spark.streaming.suffix_index import seed_suffix_store

        schema = "doc_id long, text string"
        base = spark.createDataFrame(
            [
                (1, f"lead tokens {self.SPAN} trailing bits"),
                # 7 tokens: contributes to the doc store but never the
                # window index (sub-WINDOW_N)
                (2, "completely unrelated resident text with no repeats"),
                (3, "an unrelated resident document long enough to hold windows"),
            ],
            schema,
        )
        work = str(tmp_path / "store")
        seed_suffix_store(spark, base, work)
        delta = spark.createDataFrame([(100, f"a1 {self.SPAN} a2 a3")], schema)
        return work, delta

    def test_forget_flips_probe_and_compaction_drops_text(self, spark, tmp_path):
        import glob

        from chiv_spark.streaming.suffix_index import (
            compact_suffix_store,
            probe_suffix_store,
            read_doc_store,
            suffix_forget,
        )

        work, delta = self._seed(spark, tmp_path)

        def probe():
            return {
                r.doc_id: (r.span_ge8, r.keep, r.trimmed_text)
                for r in probe_suffix_store(spark, delta, work, 10).collect()
            }

        before = probe()
        assert before[100][0] == 12 and before[100][1] is False
        assert "ZZSECRET" not in before[100][2]  # span trimmed out

        suffix_forget(spark, work, [1])
        after = probe()
        # doc 1's windows no longer nominate it: the span has no twin,
        # the arrival passes untouched
        assert after[100] == (0, True, delta.collect()[0].text)
        # and its text is invisible to the twin-text read
        assert {
            r.doc_id for r in read_doc_store(spark, f"{work}/docs").collect()
        } == {2, 3}

        # compaction physically drops the deleted rows from BOTH stores
        compact_suffix_store(spark, work)
        raw = b"".join(
            open(f, "rb").read()
            for f in glob.glob(f"{work}/docs/**/*.parquet", recursive=True)
        )
        assert b"ZZSECRET" not in raw  # the forgotten text is GONE
        assert b"unrelated resident" in raw  # surviving docs intact
        from chiv_spark.streaming.suffix_index import WINIDX_SCHEMA

        idx = spark.read.schema(WINIDX_SCHEMA).parquet(f"{work}/winidx")
        assert {r.doc_id for r in idx.select("doc_id").distinct().collect()} == {3}
        # tombstones are consumed by the full collapse
        import os

        assert not os.path.isdir(f"{work}/docs/_tombstones")
        # post-compaction probe still returns the forgotten verdicts
        assert probe()[100][0] == 0

    def test_forget_everything_leaves_readable_stores(self, spark, tmp_path):
        """The forget-EVERYTHING edge: tombstone all resident docs,
        compact, and both stores end file-less — the explicit-schema
        reads must see legitimately-empty stores, not an
        unable-to-infer-schema crash."""
        from chiv_spark.streaming.suffix_index import (
            compact_suffix_store,
            probe_suffix_store,
            read_doc_store,
            suffix_forget,
        )

        work, delta = self._seed(spark, tmp_path)
        suffix_forget(spark, work, [1, 2, 3])
        compact_suffix_store(spark, work)
        assert read_doc_store(spark, f"{work}/docs").count() == 0
        got = {
            r.doc_id: (r.span_ge8, r.keep)
            for r in probe_suffix_store(spark, delta, work, 10).collect()
        }
        assert got == {100: (0, True)}

    def test_overlapped_jobs_stay_in_the_callers_job_group(self, spark, tmp_path):
        """Every job the suffix store's seed and forget fire, and every
        job of a direct overlap() call, runs in the caller's job group,
        so cancelJobGroup reaches the work done on driver threads."""
        from chiv_spark.session import overlap
        from chiv_spark.streaming.suffix_index import suffix_forget

        sc = spark.sparkContext
        dag = sc._jsc.sc().dagScheduler()  # noqa: SLF001

        def nid():
            n = dag.nextJobId()
            return int(n if isinstance(n, int) else n.get())

        sc.setJobGroup("g", "overlap reach")
        spark.addTag("t")
        try:
            first = nid()
            work, _ = self._seed(spark, tmp_path)
            suffix_forget(spark, work, [1])
            counts = overlap(
                spark, lambda: spark.range(3).count(), lambda: spark.range(5).count()
            )
            fired = set(range(first, nid()))
        finally:
            spark.removeTag("t")
            sc._jsc.clearJobGroup()  # noqa: SLF001
        assert counts == [3, 5]
        assert fired, "no jobs in the window"
        assert fired <= set(sc.statusTracker().getJobIdsForGroup("g"))


class TestIndexLayout:
    """r8 verdict task 2 + the r8 foreachBatch-idempotency advice: the
    dedup index's 100 TB claims made mechanical. (a) the per-batch
    index read is a PARTITION-PRUNED scan (PartitionFilters on pb in
    the physical plan, not a full-index read); (b) a replayed
    microbatch overwrites its own generation instead of appending
    (pairs and index byte-stable across a replay); (c) compaction
    folds per-batch generation files into one per bucket with the
    pair relation unchanged."""

    def _seed(self, spark, tmp_path):
        from chiv_spark.operators import dedup
        from chiv_spark.streaming.dedup_index import (
            SEED_BATCH,
            write_index_generation,
        )

        text = " ".join(f"w{i}" for i in range(10))
        other = " ".join(f"x{i}" for i in range(10))
        base = spark.createDataFrame(
            [(1, text), (2, other)], "doc_id long, text string"
        )
        index_dir = str(tmp_path / "index")
        write_index_generation(
            dedup.minhash_band_index(base), "bh", index_dir, SEED_BATCH
        )
        return index_dir, text

    def test_pruned_scan_plan_pinned(self, spark, tmp_path):
        import re

        from chiv_spark.plans import physical_plan
        from chiv_spark.streaming.dedup_index import read_index_pruned

        index_dir, _ = self._seed(spark, tmp_path)
        pruned = read_index_pruned(spark, index_dir, [3, 7], exclude_batch=5)
        plan = physical_plan(pruned)
        # partition pruning reaches the scan: pb is a directory key,
        # so the IN filter must appear under PartitionFilters (file
        # skipping), not PushedFilters (row-group skipping)
        m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
        assert m, plan[:800]
        assert "pb" in m.group(1) and "IN" in m.group(1).upper(), m.group(1)
        assert "src_batch" in m.group(1), m.group(1)

    def test_replayed_batch_is_idempotent(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from chiv_spark.operators import dedup
        from chiv_spark.streaming.dedup_index import (
            read_index_pruned,
            write_index_generation,
        )

        index_dir, text = self._seed(spark, tmp_path)
        delta = spark.createDataFrame([(10, text)], "doc_id long, text string")
        dsig = dedup.minhash_band_index(delta)

        def run_batch():
            touched = [
                r.pb
                for r in dsig.select(
                    F.pmod(F.col("bh"), F.lit(16)).cast("int").alias("pb")
                )
                .distinct()
                .collect()
            ]
            idx = read_index_pruned(spark, index_dir, touched, exclude_batch=7)
            pairs = dedup.incremental_lsh_pairs(None, idx, delta_index=dsig)
            got = {tuple(r) for r in pairs.collect()}
            write_index_generation(dsig, "bh", index_dir, 7)
            return got

        first = run_batch()
        assert first == {(1, 10, 1.0)}
        # replay: the index already holds batch 7's generation; the
        # exclude_batch guard keeps the join clean and the dynamic
        # overwrite replaces (not duplicates) the generation
        second = run_batch()
        assert second == first
        idx_rows = spark.read.parquet(index_dir)
        assert idx_rows.count() == 3 * 4  # base(2) + delta(1), 4 bands each
        assert (
            idx_rows.filter(F.col("src_batch") == 7)
            .select("doc_id")
            .distinct()
            .count()
            == 1
        )

    def test_compaction_shrinks_files_keeps_rows(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from chiv_spark.operators import dedup
        from chiv_spark.streaming.dedup_index import (
            compact_index,
            write_index_generation,
        )

        index_dir, text = self._seed(spark, tmp_path)
        # simulate a steady ingest: five one-doc generations
        for bid in range(5):
            d = spark.createDataFrame(
                [(100 + bid, f"{text} extra{bid}")], "doc_id long, text string"
            )
            write_index_generation(dedup.minhash_band_index(d), "bh", index_dir, bid)
        before_rows = {
            tuple(r)
            for r in spark.read.parquet(index_dir).drop("src_batch").collect()
        }
        n_before, n_after = compact_index(spark, index_dir)
        assert n_after < n_before
        after = spark.read.parquet(index_dir)
        after_rows = {tuple(r) for r in after.drop("src_batch").collect()}
        assert after_rows == before_rows  # compaction moves bytes, not data
        from chiv_spark.streaming.dedup_index import SEED_BATCH

        assert after.select("src_batch").distinct().collect()[0][0] == SEED_BATCH

    def test_partial_compaction_preserves_replay_guard(self, spark, tmp_path):
        """committed_through=N collapses only generations <= N: a
        crashed-uncommitted batch's generation keeps its src_batch so
        read_index_pruned's exclude_batch guard still bites on replay
        (the r10 ADVICE compaction/replay hazard)."""
        from pyspark.sql import functions as F

        from chiv_spark.operators import dedup
        from chiv_spark.streaming.dedup_index import (
            SEED_BATCH,
            compact_index,
            write_index_generation,
        )

        index_dir, text = self._seed(spark, tmp_path)
        for bid in range(3):
            d = spark.createDataFrame(
                [(100 + bid, f"{text} extra{bid}")], "doc_id long, text string"
            )
            write_index_generation(dedup.minhash_band_index(d), "bh", index_dir, bid)
        # batch 2 folded its index but its checkpoint never committed
        compact_index(spark, index_dir, committed_through=1)
        gens = {
            r.src_batch
            for r in spark.read.parquet(index_dir).select("src_batch").distinct().collect()
        }
        assert gens == {SEED_BATCH, 2}
        # replayed batch 2 excludes its own surviving generation
        from chiv_spark.streaming.dedup_index import read_index_pruned

        idx = read_index_pruned(spark, index_dir, list(range(16)), exclude_batch=2)
        assert idx.filter(F.col("doc_id") == 102).count() == 0
        assert idx.filter(F.col("doc_id") == 101).count() > 0

    def test_vs_index_join_never_self_pairs(self, spark, tmp_path):
        """Even when the exclude_batch guard is DEFEATED (full
        compaction between fold and checkpoint commit — the ADVICE
        crash window), the doc-id inequality on the vs-index join
        keeps the replayed batch from pairing a doc with itself."""
        from pyspark.sql import functions as F

        from chiv_spark.operators import dedup
        from chiv_spark.streaming.dedup_index import (
            compact_index,
            read_index_pruned,
            write_index_generation,
        )

        index_dir, text = self._seed(spark, tmp_path)
        delta = spark.createDataFrame([(10, text)], "doc_id long, text string")
        dsig = dedup.minhash_band_index(delta)
        write_index_generation(dsig, "bh", index_dir, 7)
        compact_index(spark, index_dir)  # batch 7's rows now SEED_BATCH
        idx = read_index_pruned(spark, index_dir, list(range(16)), exclude_batch=7)
        pairs = dedup.incremental_lsh_pairs(None, idx, delta_index=dsig).collect()
        assert all(r.doc_a != r.doc_b for r in pairs)
        assert {(r.doc_a, r.doc_b) for r in pairs} == {(1, 10)}

    def test_tombstone_delete_then_compact(self, spark, tmp_path):
        """GDPR-style forget: a tombstoned doc stops matching
        IMMEDIATELY (read-time anti-join) and its rows are physically
        dropped at compaction, after which the tombstone is consumed."""
        from pyspark.sql import functions as F

        from chiv_spark.operators import dedup
        from chiv_spark.streaming.dedup_index import (
            compact_index,
            read_index_pruned,
            read_tombstones,
            write_index_generation,
            write_tombstones,
        )

        index_dir, text = self._seed(spark, tmp_path)
        delta = spark.createDataFrame([(10, text)], "doc_id long, text string")
        dsig = dedup.minhash_band_index(delta)

        def pairs_now():
            idx = read_index_pruned(spark, index_dir, list(range(16)))
            return {
                (r.doc_a, r.doc_b)
                for r in dedup.incremental_lsh_pairs(None, idx, delta_index=dsig).collect()
            }

        assert pairs_now() == {(1, 10)}  # doc 1 is the near-dup of the delta
        write_tombstones(spark, index_dir, [1])
        assert pairs_now() == set()  # effective before any rewrite
        rows_before = spark.read.parquet(index_dir).count()
        compact_index(spark, index_dir)
        after = spark.read.parquet(index_dir)
        assert after.count() == rows_before - 4  # doc 1's 4 band rows dropped
        assert after.filter(F.col("doc_id") == 1).count() == 0
        assert read_tombstones(spark, index_dir) is None  # consumed
        assert pairs_now() == set()  # still gone post-compaction

    def test_legacy_unscoped_tombstones_still_read(self, spark, tmp_path):
        """r11 ADVICE: tombstone files written by the pre-generation-
        scoped code carry doc_id only; reads must tolerate them by
        defaulting to the widest scope (suppress in every generation —
        exactly the old semantics), not raise AnalysisException."""
        from pyspark.sql import functions as F

        from chiv_spark.streaming.dedup_index import (
            anti_join_tombstones,
            read_tombstones,
        )

        index_dir = str(tmp_path / "idx")
        rows = spark.range(0, 6).selectExpr(
            "id AS doc_id", "CAST(id * 3 AS LONG) AS bh"
        )
        rows.withColumn("pb", F.lit(0)).withColumn(
            "src_batch", F.lit(4)
        ).write.partitionBy("pb", "src_batch").parquet(index_dir)
        # legacy layout: one column, no frm/thru
        spark.createDataFrame([(2,), (5,)], "doc_id bigint").coalesce(
            1
        ).write.parquet(str(tmp_path / "idx" / "_tombstones"))
        tomb = read_tombstones(spark, index_dir)
        assert set(tomb.columns) == {"doc_id", "frm", "thru"}
        kept = anti_join_tombstones(
            spark.read.parquet(index_dir), tomb, "doc_id"
        )
        assert {r.doc_id for r in kept.collect()} == {0, 1, 3, 4}

    def test_default_thru_on_missing_or_empty_index(self, spark, tmp_path):
        """r11 ADVICE: the default-thru read distinguishes 'no index
        visible yet' (missing dir / no parquet committed -> scope to
        the seed generation) from genuine read failures, which must
        raise instead of silently under-scoping a deletion."""
        from chiv_spark.streaming.dedup_index import (
            SEED_BATCH,
            read_tombstones,
            write_tombstones,
        )

        missing = str(tmp_path / "never-written")
        write_tombstones(spark, missing, [3])
        tomb = read_tombstones(spark, missing)
        row = tomb.collect()[0]
        assert (row.doc_id, row.frm, row.thru) == (3, SEED_BATCH - 1, SEED_BATCH)

    def test_remote_uri_tombstones_not_fail_open(self, spark, tmp_path):
        """r12 ADVICE: for a '://' index root the old os.path.isdir
        check was always False, silently scoping deletes to the seed
        generation and dropping the pending deletion set on read. With
        existence resolved through the Hadoop FS API, a file:// root
        (the remote-scheme path Spark itself uses in local mode)
        behaves exactly like the bare-path root: the delete scopes to
        the index watermark and the tombstone set is readable."""
        from chiv_spark.operators import dedup
        from chiv_spark.streaming.dedup_index import (
            read_tombstones,
            write_index_generation,
            write_tombstones,
        )

        index_dir, text = self._seed(spark, tmp_path)  # doc 1 @ SEED
        d = spark.createDataFrame([(2, text)], "doc_id long, text string")
        write_index_generation(dedup.minhash_band_index(d), "bh", index_dir, 5)
        uri = "file://" + index_dir
        write_tombstones(spark, uri, [1])  # default thru via Hadoop FS
        tomb = read_tombstones(spark, uri)
        assert tomb is not None
        row = tomb.collect()[0]
        # thru = max src_batch visible (5), NOT the SEED fail-open
        assert (row.doc_id, row.thru) == (1, 5)

    def test_tombstone_scope_allows_reingest(self, spark, tmp_path):
        """Generation-scoped tombstones (r10 ADVICE): a delete only
        suppresses rows folded up to the index watermark it saw; the
        same id legitimately RE-INGESTED afterwards lands in a later
        generation and is visible immediately, survives partial
        compaction, and survives full compaction."""
        from pyspark.sql import functions as F

        from chiv_spark.operators import dedup
        from chiv_spark.streaming.dedup_index import (
            SEED_BATCH,
            compact_index,
            read_index_pruned,
            read_tombstones,
            write_index_generation,
            write_tombstones,
        )

        index_dir, text = self._seed(spark, tmp_path)  # doc 1 @ SEED
        write_tombstones(spark, index_dir, [1])  # thru = SEED watermark
        assert (
            read_index_pruned(spark, index_dir, list(range(16)))
            .filter(F.col("doc_id") == 1)
            .count()
            == 0
        )
        # doc 1 re-ingested as batch 3 — past the tombstone's scope
        d = spark.createDataFrame([(1, text)], "doc_id long, text string")
        write_index_generation(dedup.minhash_band_index(d), "bh", index_dir, 3)
        vis = read_index_pruned(spark, index_dir, list(range(16))).filter(
            F.col("doc_id") == 1
        )
        assert vis.count() > 0
        assert {r.src_batch for r in vis.select("src_batch").collect()} == {3}
        # partial compaction: batch 3 uncommitted -> keeps its label;
        # the tombstone's (frm, thru] = (-2, -1] range is fully spent
        # by the collapse of the seed range, so it drops out
        compact_index(spark, index_dir, committed_through=2)
        assert read_tombstones(spark, index_dir) is None
        vis = read_index_pruned(spark, index_dir, list(range(16))).filter(
            F.col("doc_id") == 1
        )
        assert vis.count() > 0
        # full compaction: re-ingested rows collapse to SEED and remain
        compact_index(spark, index_dir)
        vis = read_index_pruned(spark, index_dir, list(range(16))).filter(
            F.col("doc_id") == 1
        )
        assert vis.count() > 0
        assert {r.src_batch for r in vis.select("src_batch").collect()} == {SEED_BATCH}

    def test_tombstone_retained_scope_guards_uncommitted_replay(self, spark, tmp_path):
        """Partial compaction retains a tombstone whose scope reaches
        past committed_through: a crashed-uncommitted batch that
        refolds the deleted id's rows after compaction is still
        suppressed, while rows re-ingested past the scope are not."""
        from pyspark.sql import functions as F

        from chiv_spark.operators import dedup
        from chiv_spark.streaming.dedup_index import (
            compact_index,
            read_index_pruned,
            read_tombstones,
            write_index_generation,
            write_tombstones,
        )

        index_dir, text = self._seed(spark, tmp_path)
        d = spark.createDataFrame([(10, text)], "doc_id long, text string")
        sig10 = dedup.minhash_band_index(d)
        write_index_generation(sig10, "bh", index_dir, 2)  # uncommitted batch
        write_tombstones(spark, index_dir, [10])  # thru = 2
        compact_index(spark, index_dir, committed_through=1)
        tomb = read_tombstones(spark, index_dir)
        assert tomb is not None  # (frm=1, thru=2] survives
        assert {(r.frm, r.thru) for r in tomb.collect()} == {(1, 2)}
        # the crash-replay refolds batch 2 — rows come back but the
        # retained tombstone keeps every read clean
        write_index_generation(sig10, "bh", index_dir, 2)
        assert (
            read_index_pruned(spark, index_dir, list(range(16)))
            .filter(F.col("doc_id") == 10)
            .count()
            == 0
        )
        # a genuine re-ingest lands PAST the scope and is visible
        write_index_generation(sig10, "bh", index_dir, 5)
        vis = read_index_pruned(spark, index_dir, list(range(16))).filter(
            F.col("doc_id") == 10
        )
        assert {r.src_batch for r in vis.select("src_batch").collect()} == {5}


class TestIncrementalEmbedDedup:
    """r8 verdict task 5: the embedding twin of the index fold. Two
    vector shards under maxFilesPerTrigger=1 -> two microbatches;
    near-identical vectors arriving in DIFFERENT batches can only
    pair if the earlier batch's signatures were folded into the
    persisted index. The base generation's files must survive every
    batch untouched (no index rebuild)."""

    def test_cross_batch_pairs_and_index_untouched(self, spark, tmp_path):
        import glob
        import os

        from chiv_spark.streaming.dedup_index import (
            incremental_embed_dedup_stream,
        )

        dim = 4
        schema = "vec_id long, embedding array<float>"
        base = spark.createDataFrame(
            [(1, [1.0, 0.02, 0.0, 0.0]), (2, [0.0, 0.0, 1.0, 0.0])], schema
        )
        shards = tmp_path / "shards"
        spark.createDataFrame([(10, [1.0, 0.01, 0.0, 0.0])], schema).coalesce(
            1
        ).write.parquet(str(shards / "part0"))
        spark.createDataFrame([(20, [1.0, 0.03, 0.0, 0.0])], schema).coalesce(
            1
        ).write.parquet(str(shards / "part1"))
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(shards / "part*"))
        )
        work = tmp_path / "work"
        index_dir = work / "index"

        out = incremental_embed_dedup_stream(
            spark, base, stream, str(work), threshold=0.9, dim=dim
        )
        got = {(r.id_a, r.id_b) for r in out.collect()}
        # 10 pairs with base vector 1 (vs index), 20 pairs with 1 (vs
        # index) AND with 10 (cross-batch, via the folded index)
        assert got == {(1, 10), (1, 20), (10, 20)}
        # the base generation (src_batch=-1) survives both batches
        # untouched and each batch folded its OWN generation in — the
        # index was appended to, never rebuilt
        seed_files = sorted(
            glob.glob(
                str(index_dir / "**" / "src_batch=-1" / "*.parquet"),
                recursive=True,
            )
        )
        assert seed_files, "seed generation missing"
        assert all(os.path.exists(f) for f in seed_files)
        idx = spark.read.parquet(str(index_dir))
        assert {r[0] for r in idx.select("src_batch").distinct().collect()} == {
            -1,
            0,
            1,
        }
        assert {r[0] for r in idx.select("id").distinct().collect()} == {1, 2, 10, 20}

    def test_batch_matches_streaming_relation(self, spark):
        from chiv_spark.operators import similarity

        schema = "vec_id long, embedding array<float>"
        rows = [
            (i, [1.0 + 0.001 * i, 0.5, 0.0, 0.0]) for i in range(1, 6)
        ] + [(9, [0.0, 0.0, 0.0, 1.0])]
        emb = spark.createDataFrame(rows, schema)
        base = emb.filter("vec_id <= 3")
        delta = emb.filter("vec_id > 3")
        index = similarity.embedding_band_index(base, dim=4)
        inc = similarity.incremental_neardup_pairs(delta, index, threshold=0.9, dim=4)
        got = {(r.id_a, r.id_b) for r in inc.collect()}
        full = {
            (r.id_a, r.id_b)
            for r in similarity.embedding_neardup(emb, threshold=0.9, dim=4).collect()
            if r.id_a > 3 or r.id_b > 3
        }
        assert got == full
        assert got, "no delta-involving pairs — test vacuous"


class TestIvfpqFold:
    """r10: streaming incremental IVFPQ index maintenance — frozen
    artifacts from the base, per-batch encode against the read-back
    copies, (cell, src_batch)-partitioned codes sink with pruning and
    replay idempotency."""

    DIM, M = 4, 2

    def _emb(self, spark, ids):
        import math

        rows = [
            (
                i,
                [
                    round(math.sin(i * 7.3 + d) * 0.9, 6)
                    for d in range(self.DIM)
                ],
            )
            for i in ids
        ]
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def test_fold_equals_batch_and_artifacts_frozen(self, spark, tmp_path):
        import glob
        import os

        from pyspark.sql import functions as F

        from chiv_spark.operators import similarity
        from chiv_spark.streaming.ann_index import ivfpq_fold_stream

        all_ids = list(range(20))
        emb = self._emb(spark, all_ids)
        delta_pred = F.col("vec_id") >= 15
        base = emb.filter(~delta_pred)
        src = tmp_path / "src"
        emb.write.parquet(str(src))
        stream = spark.readStream.schema(emb.schema).parquet(str(src))
        work = tmp_path / "work"
        out = ivfpq_fold_stream(
            spark, base, stream, str(work), delta_predicate=delta_pred, dim=self.DIM, m=self.M
        )
        got = {(r.vec_id, r.cell, r.q_err) for r in out.collect()}
        expect = {
            (r.vec_id, r.cell, r.q_err)
            for r in similarity.ivfpq_incremental_codes(
                emb, delta_pred, dim=self.DIM, m=self.M
            ).collect()
        }
        assert got == expect and len(got) == 5
        # artifacts were written once, before the stream — one parquet
        # part file each, and the codes sink is (cell, src_batch)-laid
        assert len(glob.glob(str(work / "artifacts" / "cents" / "*.parquet"))) == 1
        assert any(
            p.startswith("cell=")
            for p in os.listdir(str(work / "codes"))
            if not p.startswith("_")
        )

    def test_replayed_batch_is_idempotent(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from chiv_spark.operators import similarity
        from chiv_spark.streaming.ann_index import write_ivfpq_artifacts

        emb = self._emb(spark, range(20))
        base = emb.filter(F.col("vec_id") < 15)
        delta = emb.filter(F.col("vec_id") >= 15)
        art = str(tmp_path / "art")
        codes_dir = str(tmp_path / "codes")
        write_ivfpq_artifacts(base, art, dim=self.DIM, m=self.M)
        cents = spark.read.parquet(f"{art}/cents")
        cb = spark.read.parquet(f"{art}/codebook")

        def run_batch():
            codes = similarity.ivfpq_encode_against(delta, cents, cb, dim=self.DIM, m=self.M)
            (
                codes.groupBy("vec_id", "cell")
                .agg(F.sum("qerr").cast("long").alias("q_err"))
                .select("vec_id", F.col("cell").cast("long").alias("cell"), "q_err")
                .withColumn("src_batch", F.lit(7))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("cell", "src_batch")
                .parquet(codes_dir)
            )
            return {tuple(r) for r in spark.read.parquet(codes_dir).collect()}

        first = run_batch()
        second = run_batch()  # replay overwrites its own generation
        assert second == first
        assert spark.read.parquet(codes_dir).count() == 5

    def test_pruned_codes_scan_plan_pinned(self, spark, tmp_path):
        import re

        from pyspark.sql import functions as F

        from chiv_spark.plans import physical_plan
        from chiv_spark.streaming.ann_index import read_codes_pruned

        emb = self._emb(spark, range(20))
        (
            emb.select("vec_id", (F.col("vec_id") % 8).cast("long").alias("cell"))
            .withColumn("q_err", F.lit(0).cast("long"))
            .withColumn("src_batch", F.lit(0))
            .write.partitionBy("cell", "src_batch")
            .parquet(str(tmp_path / "codes"))
        )
        pruned = read_codes_pruned(spark, str(tmp_path / "codes"), [2, 5])
        plan = physical_plan(pruned)
        m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
        assert m, plan[:800]
        assert "cell" in m.group(1) and "IN" in m.group(1).upper(), m.group(1)


class TestAnnIndexDeletion:
    """r10: vector deletion against the codes index — the dedup
    index's tombstone lifecycle on the (cell, src_batch) layout."""

    def test_delete_then_compact(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from chiv_spark.streaming.ann_index import (
            compact_codes,
            delete_vectors,
            read_codes_pruned,
        )
        from chiv_spark.streaming.dedup_index import read_tombstones

        codes_dir = str(tmp_path / "codes")
        (
            spark.range(0, 40)
            .selectExpr(
                "id AS vec_id",
                "CAST(id % 8 AS LONG) AS cell",
                "CAST(id * 11 AS LONG) AS q_err",
            )
            .withColumn("src_batch", (F.col("vec_id") % 3).cast("int"))
            .write.partitionBy("cell", "src_batch")
            .parquet(codes_dir)
        )
        all_cells = list(range(8))
        assert read_codes_pruned(spark, codes_dir, all_cells).count() == 40
        delete_vectors(spark, codes_dir, [5, 13])
        # effective at read time, before any rewrite
        ids = {r.vec_id for r in read_codes_pruned(spark, codes_dir, all_cells).collect()}
        assert 5 not in ids and 13 not in ids and len(ids) == 38
        before, after = compact_codes(spark, codes_dir)
        assert after <= before
        rows = spark.read.parquet(codes_dir)
        assert rows.count() == 38
        assert rows.filter(F.col("vec_id").isin(5, 13)).count() == 0
        assert read_tombstones(spark, codes_dir) is None  # consumed
        # partial mode preserves uncommitted generations AND tombstones
        delete_vectors(spark, codes_dir, [7])
        (
            spark.range(100, 103)
            .selectExpr("id AS vec_id", "CAST(id % 8 AS LONG) AS cell", "CAST(0 AS LONG) AS q_err")
            .withColumn("src_batch", F.lit(9))
            .write.mode("append").partitionBy("cell", "src_batch").parquet(codes_dir)
        )
        compact_codes(spark, codes_dir, committed_through=0)
        after2 = spark.read.parquet(codes_dir)
        assert {r.src_batch for r in after2.select("src_batch").distinct().collect()} == {-1, 9}
        assert after2.filter(F.col("vec_id") == 7).count() == 0
        # the tombstone's whole (frm, thru] scope fell at or below
        # committed_through, so scoping lets partial compaction consume
        # it outright — and a later re-ingest of the id is visible
        assert read_tombstones(spark, codes_dir) is None
        (
            spark.range(7, 8)
            .selectExpr("id AS vec_id", "CAST(id % 8 AS LONG) AS cell", "CAST(0 AS LONG) AS q_err")
            .withColumn("src_batch", F.lit(11))
            .write.mode("append").partitionBy("cell", "src_batch").parquet(codes_dir)
        )
        assert (
            read_codes_pruned(spark, codes_dir, all_cells)
            .filter(F.col("vec_id") == 7)
            .count()
            == 1
        )

    def test_persisted_codes_are_searchable_per_sub(self, spark, tmp_path):
        """r11 ADVICE: the fold persists PER-SUB code rows (vec_id,
        sub, code, qerr) — the layout ivfpq_search_index's ADC join
        needs — not only the per-vector q_err aggregate."""
        import math

        from pyspark.sql import functions as F

        from chiv_spark.streaming.ann_index import ivfpq_fold_stream

        rows = [
            (i, [round(math.sin(i * 7.3 + d) * 0.9, 6) for d in range(4)])
            for i in range(20)
        ]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        delta_pred = F.col("vec_id") >= 15
        src = tmp_path / "src"
        emb.write.parquet(str(src))
        stream = spark.readStream.schema(emb.schema).parquet(str(src))
        work = tmp_path / "work"
        ivfpq_fold_stream(
            spark, emb.filter(~delta_pred), stream, str(work),
            delta_predicate=delta_pred, dim=4, m=2,
        )
        persisted = spark.read.parquet(str(work / "codes"))
        assert {"vec_id", "sub", "code", "qerr", "cell", "src_batch"} <= set(
            persisted.columns
        )
        # m=2 subspaces -> two rows per arriving vector
        assert persisted.count() == 10
        assert {r.sub for r in persisted.select("sub").distinct().collect()} == {0, 1}

    def test_fold_stream_return_applies_pending_deletes(self, spark, tmp_path):
        """r10 ADVICE: the relation ivfpq_fold_stream RETURNS must honor
        tombstones written mid-stream, same as read_codes_pruned — a
        caller that ran delete_vectors never gets deleted vectors back."""
        import math

        from pyspark.sql import functions as F

        from chiv_spark.streaming.ann_index import delete_vectors, ivfpq_fold_stream

        rows = [
            (i, [round(math.sin(i * 7.3 + d) * 0.9, 6) for d in range(4)])
            for i in range(20)
        ]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        delta_pred = F.col("vec_id") >= 15
        src = tmp_path / "src"
        emb.write.parquet(str(src))
        stream = spark.readStream.schema(emb.schema).parquet(str(src))
        work = tmp_path / "work"
        out = ivfpq_fold_stream(
            spark, emb.filter(~delta_pred), stream, str(work),
            delta_predicate=delta_pred, dim=4, m=2,
        )
        assert {r.vec_id for r in out.collect()} == {15, 16, 17, 18, 19}
        delete_vectors(spark, str(work / "codes"), [16, 19])
        # resume against the same checkpoint: no new batches arrive,
        # the accumulated relation comes back minus the tombstoned ids
        stream2 = spark.readStream.schema(emb.schema).parquet(str(src))
        out2 = ivfpq_fold_stream(
            spark, emb.filter(~delta_pred), stream2, str(work),
            delta_predicate=delta_pred, dim=4, m=2,
        )
        assert {r.vec_id for r in out2.collect()} == {15, 17, 18}


class TestSearchIndex:
    """r11 verdict task 2: ivfpq_search_index wired against the
    persisted index — expression identity with ivfpq_topk's inline
    tail, and the delete-then-probe lifecycle (the integer
    set-difference contract the ann_delete_then_probe registry row
    oracle-pairs)."""

    DIM, M = 4, 2

    def _emb(self, spark, n=24):
        import math

        rows = [
            (i, [round(math.sin(i * 7.3 + d) * 0.9, 6) for d in range(self.DIM)])
            for i in range(n)
        ]
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def test_search_equals_inline_topk(self, spark):
        """Search against artifacts + encode_against codes must equal
        ivfpq_topk end to end — the identity that makes the persisted
        index path trustworthy without its own recall study."""
        from chiv_spark.operators import similarity

        emb = self._emb(spark)
        kw = dict(k=3, dim=self.DIM, m=self.M, n_queries=5, n_probes=3, r_candidates=10)
        cents, cb = similarity.ivfpq_artifacts(emb, dim=self.DIM, m=self.M)
        codes = similarity.ivfpq_encode_against(
            emb, cents, cb, dim=self.DIM, m=self.M
        )
        got = {
            tuple(r)
            for r in similarity.ivfpq_search_index(emb, cents, cb, codes, **kw).collect()
        }
        want = {tuple(r) for r in similarity.ivfpq_topk(emb, **kw).collect()}
        assert got == want and len(want) == 15  # 5 queries x k=3

    def test_delete_then_probe_set_difference(self, spark, tmp_path):
        """After delete_vectors, a re-probe through read_codes_pruned
        must never return a tombstoned neighbor, and the pre-delete
        probe must have contained at least one (the delete visibly
        changed results)."""
        from pyspark.sql import functions as F

        from chiv_spark.operators import similarity
        from chiv_spark.streaming.ann_index import (
            delete_vectors,
            read_codes_pruned,
            write_codes_generation,
            write_ivfpq_artifacts,
        )

        emb = self._emb(spark)
        kw = dict(k=3, dim=self.DIM, m=self.M, n_queries=5, n_probes=3, r_candidates=10)
        art, codes_dir = str(tmp_path / "art"), str(tmp_path / "codes")
        write_ivfpq_artifacts(emb, art, dim=self.DIM, m=self.M)
        cents = spark.read.parquet(f"{art}/cents")
        cb = spark.read.parquet(f"{art}/codebook")
        write_codes_generation(
            similarity.ivfpq_encode_against(emb, cents, cb, dim=self.DIM, m=self.M),
            codes_dir,
            0,
        )
        _, probes = similarity.ivfpq_query_probes(
            emb, cents, n_queries=5, n_probes=3
        )
        cells = sorted(r.cell for r in probes.select("cell").distinct().collect())

        def topk():
            return {
                (r.query_id, r.neighbor_id)
                for r in similarity.ivfpq_search_index(
                    emb, cents, cb, read_codes_pruned(spark, codes_dir, cells), **kw
                ).collect()
            }

        before = topk()
        victims = {
            r.neighbor_id for r in spark.createDataFrame(
                [(q, n) for q, n in before], "query_id long, neighbor_id long"
            ).filter(F.col("neighbor_id") >= 10).limit(3).collect()
        }
        assert victims  # the probe surfaced deletable neighbors
        delete_vectors(spark, codes_dir, sorted(victims))
        after = topk()
        assert {n for _, n in after}.isdisjoint(victims)
        assert {n for _, n in before} & victims  # delete changed results
        # every query still gets k results (index holds spares)
        assert len(after) == len(before)


class TestMaintainCodes:
    """r10 verdict task 4: drift-ACTING maintenance against the
    persisted codes index — cells over the drift bound are retrained
    and re-encoded, every other cell's parquet files stay
    byte-identical (the partition-scoped contract)."""

    DIM, M = 4, 2

    def _emb(self, spark, rows):
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def _cell_bytes(self, codes_dir):
        import glob
        import os

        out = {}
        for cd in glob.glob(os.path.join(codes_dir, "cell=*")):
            cell = int(cd.split("=")[-1])
            blobs = []
            for p in sorted(
                glob.glob(os.path.join(cd, "**", "*.parquet"), recursive=True)
            ):
                with open(p, "rb") as f:
                    blobs.append((os.path.relpath(p, cd), f.read()))
            out[cell] = blobs
        return out

    def test_partition_scoped_reencode(self, spark, tmp_path):
        import math

        from pyspark.sql import functions as F

        from chiv_spark.operators import similarity
        from chiv_spark.streaming.ann_index import (
            SEED_BATCH,
            maintain_codes,
            write_codes_generation,
            write_ivfpq_artifacts,
        )

        # base: smooth sin pattern; delta: a few vectors with amplified
        # values — large residuals under base-trained codebooks, so
        # whichever cells they land in drift past the 23/20 bound while
        # cells with no (or well-fitting) arrivals stay healthy
        base_rows = [
            (i, [round(math.sin(i * 7.3 + d) * 0.9, 6) for d in range(self.DIM)])
            for i in range(20)
        ]
        delta_rows = [
            (i, [round(math.sin(i * 1.9 + d) * 3.0 + 1.7, 6) for d in range(self.DIM)])
            for i in range(20, 26)
        ]
        base = self._emb(spark, base_rows)
        emb = self._emb(spark, base_rows + delta_rows)
        art, codes_dir = str(tmp_path / "art"), str(tmp_path / "codes")
        write_ivfpq_artifacts(base, art, dim=self.DIM, m=self.M)
        cents = spark.read.parquet(f"{art}/cents")
        cb = spark.read.parquet(f"{art}/codebook")
        enc = lambda rel, cbk: similarity.ivfpq_encode_against(  # noqa: E731
            rel, cents, cbk, dim=self.DIM, m=self.M
        )
        write_codes_generation(enc(base, cb), codes_dir, SEED_BATCH)
        delta = emb.filter(F.col("vec_id") >= 20)
        write_codes_generation(enc(delta, cb), codes_dir, 0)
        before = self._cell_bytes(codes_dir)

        drifted = maintain_codes(
            spark, codes_dir, art, emb, dim=self.DIM, m=self.M
        )
        assert drifted, "synthetic drift did not trip the bound"
        healthy = sorted(set(before) - set(drifted))
        assert healthy, "every cell drifted — the mix contract is untestable"
        after = self._cell_bytes(codes_dir)
        # untouched cells: files byte-identical (same names, same bytes)
        for c in healthy:
            assert after[c] == before[c], f"healthy cell {c} was rewritten"
        # drifted cells: exactly the full-membership re-encode under
        # the retrained codebook, collapsed to the seed generation
        cb2 = spark.read.parquet(f"{art}/codebook_gen2")
        rel = spark.read.parquet(codes_dir)
        for c in drifted:
            got = {
                (r.vec_id, r.sub, r.code, r.qerr, r.src_batch)
                for r in rel.filter(F.col("cell") == c).collect()
            }
            want = {
                (r.vec_id, r.sub, r.code, r.qerr, SEED_BATCH)
                for r in enc(emb, cb2).filter(F.col("cell") == c).collect()
            }
            assert got == want
        # the version map records the retrained cells
        vers = spark.read.parquet(f"{art}/cell_versions")
        assert {r.cell for r in vers.collect()} == set(drifted)
        # idempotence: a second pass with the already-re-encoded index
        # sees the drifted cells collapsed to SEED (no delta cohort) —
        # nothing further to do, nothing rewritten
        snap = self._cell_bytes(codes_dir)
        assert maintain_codes(spark, codes_dir, art, emb, dim=self.DIM, m=self.M) == []
        assert self._cell_bytes(codes_dir) == snap


class TestHeavyHittersStream:
    def test_candidates_fold_across_batches(self, spark, tmp_path):
        """Two shard files under maxFilesPerTrigger=1 -> two
        microbatches. Token 'hot' is heavy ONLY corpus-wide (spread
        over both batches); each batch's MG summaries still retain it
        (freq_b > n_b/width in both), and tokens heavy in just one
        batch must also survive the fold. The final exact pass over
        the full corpus makes the output exact — equal to the batch
        formulation computed directly."""
        from chiv_spark.queries.mining import _MG_WIDTH, _mg_summaries
        from chiv_spark.streaming.dedup_index import heavy_hitters_stream

        # width=4 forces real MG decrements inside each batch
        width = 4
        b0 = "hot hot alpha beta gamma delta one two three four"
        b1 = "hot hot epsi zeta eta theta five six seven eight"
        schema = "text string"
        shards = tmp_path / "shards"
        spark.createDataFrame([(b0,)], schema).coalesce(1).write.parquet(
            str(shards / "part0")
        )
        spark.createDataFrame([(b1,)], schema).coalesce(1).write.parquet(
            str(shards / "part1")
        )
        corpus = spark.createDataFrame([(b0,), (b1,)], schema)
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(shards / "part*"))
        )
        out = heavy_hitters_stream(
            spark,
            corpus,
            stream,
            str(tmp_path / "work"),
            width,
            _mg_summaries(width),
        )
        got = {(r.w, r.freq) for r in out.collect()}
        # oracle: the exact batch formulation over the same corpus
        from pyspark.sql import functions as F

        toks = corpus.select(F.explode(F.split("text", " ")).alias("w"))
        n = toks.count()
        exact = {
            (r.w, r.freq)
            for r in toks.groupBy("w")
            .agg(F.count(F.lit(1)).cast("long").alias("freq"))
            .filter(F.col("freq") > n / float(width))
            .collect()
        }
        assert got == exact

    def test_cross_batch_heavy_token_survives(self, spark, tmp_path):
        """A corpus-heavy token spread over three batches: 'hh' is
        heavy within each batch (freq_b > n_b/width, so MG certifies
        retention per batch) and corpus-heavy overall; the candidate
        store must carry it through all three generations and the
        final count must be its TRUE corpus count (6) — pinning that
        counts come from the corpus scan, not retained sketch
        counters (any single batch's retained counter is <= 2)."""
        from chiv_spark.queries.mining import _mg_summaries
        from chiv_spark.streaming.dedup_index import heavy_hitters_stream

        width = 2
        batches = [f"hh hh filler{i}" for i in range(3)]
        schema = "text string"
        shards = tmp_path / "shards"
        for i, b in enumerate(batches):
            spark.createDataFrame([(b,)], schema).coalesce(1).write.parquet(
                str(shards / f"part{i}")
            )
        corpus = spark.createDataFrame([(b,) for b in batches], schema)
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(shards / "part*"))
        )
        out = heavy_hitters_stream(
            spark,
            corpus,
            stream,
            str(tmp_path / "work"),
            width,
            _mg_summaries(width),
        )
        # n=9 tokens, threshold > 4.5: exactly {('hh', 6)}
        assert {(r.w, r.freq) for r in out.collect()} == {("hh", 6)}
        cand = spark.read.parquet(str(tmp_path / "work" / "candidates"))
        assert "hh" in {r.w for r in cand.select("w").distinct().collect()}
        assert cand.select("src_batch").distinct().count() == 3


class TestIncrementalBoilerplateStream:
    def test_df_accumulates_across_batches(self, spark, tmp_path):
        """Chunk X sits in the base corpus (df 1). It arrives again in
        batch A (global df 2 -> below threshold 3, survives) and again
        in batch B (df now 3 -> boilerplate, dropped). The B-time
        verdict requires batch A's fingerprints to have FOLDED into
        the persisted index — and batch A's already-emitted row keeps
        its arrival-time verdict (the incremental tiers' documented
        arrival-order semantics; a retroactive pass is the batch
        dedup_paragraph_boilerplate row)."""
        from pyspark.sql import functions as F

        from chiv_spark.operators import dedup
        from chiv_spark.streaming.dedup_index import index_fold_stream

        w = dedup.PARA_W
        x = " ".join(f"x{i}" for i in range(w))
        ua = " ".join(f"a{i}" for i in range(w))
        ub = " ".join(f"b{i}" for i in range(w))
        schema = "doc_id long, text string"
        base = spark.createDataFrame([(1, x)], schema)
        shards = tmp_path / "shards"
        spark.createDataFrame([(10, f"{x} {ua}")], schema).coalesce(1).write.parquet(
            str(shards / "part0")
        )
        spark.createDataFrame([(20, f"{x} {ub}")], schema).coalesce(1).write.parquet(
            str(shards / "part1")
        )
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(shards / "part*"))
        )
        out = index_fold_stream(
            spark,
            base,
            stream,
            str(tmp_path / "work"),
            index_builder=dedup.paragraph_chunks,
            pairs_builder=lambda d, i: dedup.incremental_boilerplate_rebuild(d, i, 3),
            key_col="h",
            pair_cols=["doc_id", "n_chunks", "n_boilerplate", "cleaned_text"],
            pair_schema=(
                "doc_id bigint, n_chunks bigint, n_boilerplate bigint, "
                "cleaned_text string"
            ),
            fold_cols=["doc_id", "h", "site"],
        )
        got = {r.doc_id: r for r in out.collect()}
        # file order maps to batch order under maxFilesPerTrigger=1,
        # but either order leaves exactly one of the two docs seeing
        # df=2 (keeps x) and the other df=3 (drops it)
        kept_x = [d for d in (10, 20) if x in got[d].cleaned_text]
        dropped_x = [d for d in (10, 20) if got[d].n_boilerplate == 1]
        assert len(kept_x) == 1 and len(dropped_x) == 1
        assert kept_x != dropped_x
        assert all(got[d].n_chunks == 2 for d in (10, 20))


class TestDomainStatsStream:
    def test_retroactively_exact_across_batches(self, spark, tmp_path):
        """The counter fold's headline property: splitting the corpus
        into microbatches does NOT change the report — including
        duplicate detection across batches (doc 1 and doc 20 share a
        normalized fingerprint but arrive in different batches; both
        must count as duplicates because global multiplicity is summed
        at read time). The expected relation is the BATCH report
        computed directly over the union."""
        from chiv_spark.queries.quality import (
            domain_counts,
            domain_report_from_counts,
        )
        from chiv_spark.streaming.domain_stats import domain_stats_stream

        good = " ".join(f"w{i}" for i in range(20))
        schema = "doc_id long, text string, source string"
        rows0 = [(1, good, "sA"), (2, "spam " * 20, "sB")]
        rows1 = [(20, good.upper(), "sB"), (21, good + " tail", "sA")]
        shards = tmp_path / "shards"
        spark.createDataFrame(rows0, schema).coalesce(1).write.parquet(
            str(shards / "part0")
        )
        spark.createDataFrame(rows1, schema).coalesce(1).write.parquet(
            str(shards / "part1")
        )
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(shards / "part*"))
        )
        got = {
            r.source: r
            for r in domain_stats_stream(
                spark, stream, str(tmp_path / "work")
            ).collect()
        }
        union = spark.createDataFrame(rows0 + rows1, schema)
        want = {
            r.source: r
            for r in domain_report_from_counts(domain_counts(union)).collect()
        }
        assert {s: tuple(r) for s, r in got.items()} == {
            s: tuple(r) for s, r in want.items()
        }
        # the cross-batch duplicate pair (docs 1 and 20 — same
        # normalized fingerprint, different batches AND sources) was
        # counted on both sides
        assert got["sA"].n_dup >= 1 and got["sB"].n_dup >= 1

    def test_compaction_preserves_report(self, spark, tmp_path):
        from chiv_spark.queries.quality import domain_report_from_counts
        from chiv_spark.streaming.domain_stats import (
            compact_counts,
            domain_stats_stream,
            read_counts,
        )

        schema = "doc_id long, text string, source string"
        good = " ".join(f"v{i}" for i in range(15))
        shards = tmp_path / "shards"
        for i in range(3):
            spark.createDataFrame(
                [(10 * i + j, f"{good} b{i}d{j}", f"s{j % 2}") for j in range(4)],
                schema,
            ).coalesce(1).write.parquet(str(shards / f"part{i}"))
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(shards / "part*"))
        )
        before = {
            tuple(r)
            for r in domain_stats_stream(
                spark, stream, str(tmp_path / "work")
            ).collect()
        }
        counts_dir = str(tmp_path / "work" / "counts")
        gens = spark.read.parquet(counts_dir).select("src_batch").distinct().count()
        assert gens == 3
        compact_counts(spark, counts_dir)
        after = {
            tuple(r)
            for r in domain_report_from_counts(
                read_counts(spark, counts_dir)
            ).collect()
        }
        assert after == before
        assert (
            spark.read.parquet(counts_dir).select("src_batch").distinct().count()
            == 1
        )

    def test_gate_from_counters_matches_batch_gate_cross_batch(
        self, spark, sf_dir, tmp_path
    ):
        """r14 verdict task 5: the domain gate computed FROM the
        folded counter store must equal the batch-recompute gate
        (quality_domain_gate) even when the corpus arrived in several
        microbatches — the counter monoid makes the verdict
        retroactively exact, so gating is delta-cost at ingest."""
        from pyspark.sql import functions as F

        from chiv_spark.queries.base import REGISTRY
        from chiv_spark.streaming.domain_stats import (
            domain_gate_from_counts,
            domain_stats_stream,
        )

        docs = read_t(spark, sf_dir, "documents")
        shards = tmp_path / "shards"
        for i in range(3):
            docs.filter(F.col("doc_id") % 3 == i).coalesce(1).write.parquet(
                str(shards / f"part{i}")
            )
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(shards / "part*"))
        )
        domain_stats_stream(spark, stream, str(tmp_path / "work"))
        counts_dir = str(tmp_path / "work" / "counts")
        gens = (
            spark.read.parquet(counts_dir)
            .select("src_batch")
            .distinct()
            .count()
        )
        assert gens == 3  # the corpus really arrived cross-batch
        doc_keep = (
            REGISTRY["text_quality_filter"].fn(spark, sf_dir)
            .filter(F.col("keep"))
            .select("doc_id")
        )
        got = {
            tuple(r)
            for r in domain_gate_from_counts(
                spark, counts_dir, docs, doc_keep
            ).collect()
        }
        want = {
            tuple(r)
            for r in REGISTRY["quality_domain_gate"].fn(spark, sf_dir).collect()
        }
        assert got == want
        assert got  # non-vacuous: the gate keeps documents at sf0.001

    def test_deletion_is_a_negative_generation(self, spark, tmp_path):
        """GDPR forget in the monoid: deleting a doc writes its own
        counters negated; the report then equals the recompute
        WITHOUT it — including duplicate demotion (the deleted doc
        was one side of a duplicate pair; its partner must stop
        counting as a duplicate). Replaying the deletion generation
        id must not double-subtract."""
        from chiv_spark.queries.quality import (
            domain_counts,
            domain_report_from_counts,
        )
        from chiv_spark.streaming.domain_stats import (
            delete_docs_counts,
            domain_stats_stream,
            read_counts,
        )

        good = " ".join(f"w{i}" for i in range(20))
        schema = "doc_id long, text string, source string"
        rows = [(1, good, "sA"), (2, good, "sB"), (3, good + " x", "sB")]
        shards = tmp_path / "shards"
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(shards / "part0")
        )
        stream = spark.readStream.schema(schema).parquet(str(shards / "part*"))
        domain_stats_stream(spark, stream, str(tmp_path / "work"))
        counts_dir = str(tmp_path / "work" / "counts")
        doomed = spark.createDataFrame([rows[0]], schema)
        delete_docs_counts(doomed, counts_dir, 1000)
        delete_docs_counts(doomed, counts_dir, 1000)  # replay: no-op
        got = {
            tuple(r)
            for r in domain_report_from_counts(
                read_counts(spark, counts_dir)
            ).collect()
        }
        survivors = spark.createDataFrame(rows[1:], schema)
        want = {
            tuple(r)
            for r in domain_report_from_counts(domain_counts(survivors)).collect()
        }
        assert got == want
        # sB's doc 2 lost its duplicate partner: no dups remain
        assert all(r[3] == 0 for r in got)
        # the deletion landed in the reserved DELETE_BASE range and
        # left every stream generation (>= 0) physically intact — a
        # deletion id equal to an existing generation id would
        # otherwise dynamic-overwrite that generation's counters with
        # the negation instead of subtracting
        from chiv_spark.streaming.domain_stats import DELETE_BASE

        gens = {
            r[0]
            for r in spark.read.parquet(counts_dir)
            .select("src_batch")
            .distinct()
            .collect()
        }
        assert DELETE_BASE - 1000 in gens
        assert 0 in gens  # stream generation 0 survived the deletion
        import pytest as _pytest

        with _pytest.raises(ValueError):
            delete_docs_counts(doomed, counts_dir, -1)

    def test_deletion_id_reuse_of_stream_generation_is_safe(
        self, spark, tmp_path
    ):
        """A deletion request id that NUMERICALLY equals an existing
        stream generation id (0) must subtract, not replace: before
        the reserved range, delete_docs_counts(…, 0) dynamically
        overwrote generation 0 with the negation, corrupting the
        store."""
        from chiv_spark.queries.quality import (
            domain_counts,
            domain_report_from_counts,
        )
        from chiv_spark.streaming.domain_stats import (
            delete_docs_counts,
            domain_stats_stream,
            read_counts,
        )

        good = " ".join(f"w{i}" for i in range(20))
        schema = "doc_id long, text string, source string"
        rows = [(1, good, "sA"), (2, good + " y", "sA")]
        shards = tmp_path / "shards"
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(shards / "part0")
        )
        stream = spark.readStream.schema(schema).parquet(str(shards / "part*"))
        domain_stats_stream(spark, stream, str(tmp_path / "work"))
        counts_dir = str(tmp_path / "work" / "counts")
        delete_docs_counts(
            spark.createDataFrame([rows[0]], schema), counts_dir, 0
        )
        got = {
            tuple(r)
            for r in domain_report_from_counts(
                read_counts(spark, counts_dir)
            ).collect()
        }
        want = {
            tuple(r)
            for r in domain_report_from_counts(
                domain_counts(spark.createDataFrame([rows[1]], schema))
            ).collect()
        }
        assert got == want


class TestPersistentDomainStore:
    """r15 verdict task 6: the gating store is PERSISTENT — a second
    fold against the same work dir processes only files the stream
    checkpoint has not seen (the delta), leaving the existing counter
    generations byte-untouched (the dedup_incremental_lsh
    index-untouched pattern, via Structured Streaming's own file
    tracking instead of a bespoke delta detector)."""

    def test_second_fold_touches_only_the_new_shard(self, spark, tmp_path):
        import os

        from chiv_spark.queries.quality import (
            domain_counts,
            domain_report_from_counts,
        )
        from chiv_spark.streaming.domain_stats import domain_stats_stream

        good = " ".join(f"w{i}" for i in range(20))
        schema = "doc_id long, text string, source string"
        rows0 = [(1, good, "sA"), (2, "spam " * 20, "sB")]
        rows1 = [(20, good.upper(), "sB"), (21, good + " tail", "sA")]
        shards = tmp_path / "shards"
        work = str(tmp_path / "work")
        spark.createDataFrame(rows0, schema).coalesce(1).write.parquet(
            str(shards / "part0")
        )

        def _stream():
            return (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(str(shards / "part*"))
            )

        domain_stats_stream(spark, _stream(), work)

        def _store_files():
            out = {}
            for root, _dirs, files in os.walk(f"{work}/counts"):
                for fn in files:
                    p = os.path.join(root, fn)
                    st = os.stat(p)
                    out[p] = (st.st_size, st.st_mtime_ns)
            return out

        gen1 = _store_files()
        assert gen1  # the seed fold wrote generations

        # shard 2 ARRIVES; re-trigger against the same work dir
        spark.createDataFrame(rows1, schema).coalesce(1).write.parquet(
            str(shards / "part1")
        )
        got = {
            r.source: tuple(r)
            for r in domain_stats_stream(spark, _stream(), work).collect()
        }
        gen2 = _store_files()
        # every generation file from fold 1 is byte-untouched
        assert all(gen2.get(p) == meta for p, meta in gen1.items())
        # and the delta fold added at least one NEW generation file
        assert set(gen2) - set(gen1)
        # the report equals the batch recompute over the union —
        # retroactive exactness carries across persistent folds
        union = spark.createDataFrame(rows0 + rows1, schema)
        want = {
            r.source: tuple(r)
            for r in domain_report_from_counts(domain_counts(union)).collect()
        }
        assert got == want

    def test_unchanged_corpus_refold_is_a_noop(self, spark, tmp_path):
        import os

        from chiv_spark.streaming.domain_stats import domain_stats_stream

        schema = "doc_id long, text string, source string"
        good = " ".join(f"w{i}" for i in range(20))
        shards = tmp_path / "shards"
        work = str(tmp_path / "work")
        spark.createDataFrame(
            [(1, good, "sA")], schema
        ).coalesce(1).write.parquet(str(shards / "part0"))

        def _stream():
            return (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(str(shards / "part*"))
            )

        r1 = {r.source: tuple(r) for r in domain_stats_stream(spark, _stream(), work).collect()}

        def _listing():
            out = {}
            for root, _dirs, files in os.walk(f"{work}/counts"):
                for fn in files:
                    p = os.path.join(root, fn)
                    st = os.stat(p)
                    out[p] = (st.st_size, st.st_mtime_ns)
            return out

        before = _listing()
        r2 = {r.source: tuple(r) for r in domain_stats_stream(spark, _stream(), work).collect()}
        assert _listing() == before  # zero new generations, zero rewrites
        assert r1 == r2

    def test_store_cache_append_only_reuses_checkpoint(self, spark, tmp_path):
        """r16 advice: an append-only corpus change (new part files in
        the documents.parquet DIRECTORY, every resident file
        byte-identical) must KEEP the session store and fold only the
        delta through its checkpoint — not rmtree and re-fold from
        scratch; a resident-file rewrite must still drop the store."""
        import os

        from pyspark.sql import functions as F

        from chiv_spark.core import state
        from chiv_spark.queries.quality import _domain_counts_store
        from chiv_spark.streaming.domain_stats import read_counts

        schema = "doc_id long, text string, source string"
        good = " ".join(f"w{i}" for i in range(20))
        sf = tmp_path / "sf"
        tbl = sf / "documents.parquet"
        spark.createDataFrame(
            [(1, good, "sA"), (2, good + " x", "sB")], schema
        ).coalesce(1).write.parquet(str(tbl))

        released = state.stats().get("domgate", {}).get("releases", 0)
        work1 = _domain_counts_store(spark, str(sf))
        n1 = read_counts(spark, f"{work1}/counts").agg(F.sum("n")).collect()[0][0]
        assert n1 == 2

        def _gen_files():
            out = {}
            for root, _dirs, files in os.walk(f"{work1}/counts"):
                for fn in files:
                    p = os.path.join(root, fn)
                    st = os.stat(p)
                    out[p] = (st.st_size, st.st_mtime_ns)
            return out

        gen1 = _gen_files()

        # APPEND a shard: new part file, resident files untouched
        import pyarrow as pa
        import pyarrow.parquet as pq

        pq.write_table(
            pa.table(
                {"doc_id": [30], "text": [good + " y"], "source": ["sA"]}
            ),
            str(tbl / "part-appended.parquet"),
        )
        work2 = _domain_counts_store(spark, str(sf))
        assert work2 == work1  # store reused, not re-seeded
        n2 = read_counts(spark, f"{work2}/counts").agg(F.sum("n")).collect()[0][0]
        assert n2 == 3  # the delta folded through the checkpoint
        gen2 = _gen_files()
        assert all(gen2.get(p) == meta for p, meta in gen1.items())

        # REWRITE a resident file: the store must drop and re-fold
        part0 = next(
            p
            for p in os.listdir(str(tbl))
            if p.endswith(".parquet") and p != "part-appended.parquet"
        )
        pq.write_table(
            pa.table({"doc_id": [1], "text": [good], "source": ["sC"]}),
            str(tbl / part0),
        )
        crc = tbl / f".{part0}.crc"
        if crc.exists():
            crc.unlink()  # stale LocalFS checksum sidecar
        spark.catalog.clearCache()
        work3 = _domain_counts_store(spark, str(sf))
        assert work3 != work1
        srcs = {
            r["source"]
            for r in read_counts(spark, f"{work3}/counts").collect()
        }
        assert "sC" in srcs
        # the rewrite released the old store exactly once; the append
        # did not
        assert state.stats()["domgate"]["releases"] == released + 1
        assert not os.path.exists(work1)
        # session-store hygiene for other tests
        state.clear("domgate")

    def test_store_cache_folds_a_uri_directory_table(self, spark, tmp_path):
        """A ``file://`` sf_dir whose documents.parquet is a DIRECTORY
        folds the same docs as its bare path: the stream's layout is
        read through the Hadoop FileSystem, where an ``os.path`` check
        is False for any URI and globs the part files away, folding
        nothing and writing no counts store at all."""
        from pyspark.sql import functions as F

        from chiv_spark.core import state
        from chiv_spark.queries.quality import _domain_counts_store
        from chiv_spark.streaming.domain_stats import read_counts

        good = " ".join(f"w{i}" for i in range(20))
        sf = tmp_path / "sf"
        spark.createDataFrame(
            [(1, good, "sA"), (2, good + " x", "sB")],
            "doc_id long, text string, source string",
        ).coalesce(1).write.parquet(str(sf / "documents.parquet"))
        try:
            work = _domain_counts_store(spark, f"file://{sf}")
            n = read_counts(spark, f"{work}/counts").agg(F.sum("n")).collect()[0][0]
            assert n == 2
        finally:
            state.clear("domgate")
