"""Operator-level unit tests on small constructed corpora (known
answers, independent of the test-data tables)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from chiv_spark.operators import dedup, multimodal, similarity, text


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog", "en", "s", 43),
        (2, "the quick brown fox jumps over the lazy cat", "en", "s", 43),  # near-dup of 1
        (3, "completely different words appear here now", "en", "s", 41),
        (4, "the quick brown fox jumps over the lazy dog", "en", "s", 43),  # exact dup of 1
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string, source string, n_chars long")


class TestExactDedup:
    def test_groups(self, docs):
        groups = dedup.exact_duplicates(docs).collect()
        assert len(groups) == 1
        assert groups[0]["keep_doc_id"] == 1
        assert groups[0]["group_size"] == 2

    def test_normalization_collapses_whitespace_and_case(self, spark):
        rows = [(1, "Hello  World", "en", "s", 11), (2, "hello world", "en", "s", 11)]
        df = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string, n_chars long")
        assert dedup.exact_duplicates(df).count() == 1


class TestMinHash:
    def test_near_dup_found_exact_dup_certain(self, docs):
        pairs = {(r.doc_a, r.doc_b): r.est_jaccard for r in dedup.minhash_lsh_pairs(docs).collect()}
        assert pairs.get((1, 4)) == 1.0  # identical docs: all minhashes equal
        assert (1, 2) in pairs or (2, 4) in pairs  # near-dups collide in >=1 band
        assert all(b != 3 and a != 3 for a, b in pairs)  # distinct doc never pairs

    def test_signature_shape(self, docs):
        sig = dedup.minhash_signatures(docs)
        assert sig.count() == 4 * dedup.NUM_PERMS


class TestMinLabelComponents:
    # a 6-node path (five propagation rounds to converge) plus two cliques
    PAIRS = (
        [(10 + i, 11 + i) for i in range(5)]
        + [(a, b) for a in range(20, 24) for b in range(a + 1, 24)]
        + [(30, 31), (30, 32), (31, 32)]
    )

    @staticmethod
    def _run(spark, pairs):
        """(sorted (node, cluster_id) rows, Spark jobs the call ran)."""
        dag = spark.sparkContext._jsc.sc().dagScheduler()  # noqa: SLF001
        first = dag.nextJobId()
        rows = sorted(tuple(r) for r in dedup.min_label_components(pairs).collect())
        return rows, dag.nextJobId() - first

    def test_distributed_loop_matches_union_find(self, spark, monkeypatch):
        pairs = spark.createDataFrame(self.PAIRS, "doc_a long, doc_b long")
        small, small_jobs = self._run(spark, pairs)
        monkeypatch.setattr(dedup, "_SMALL_PATH_EDGES", 0)
        loop, loop_jobs = self._run(spark, pairs)
        assert loop_jobs > small_jobs  # the propagation loop really ran
        assert loop == small
        assert small == (
            [(n, 10) for n in range(10, 16)]
            + [(n, 20) for n in range(20, 24)]
            + [(n, 30) for n in range(30, 33)]
        )


class TestSimHash:
    def test_exact_dup_zero_distance(self, docs):
        # max_hamming stays within the 4-chunk pigeonhole guarantee
        # (the r10 precondition rejects anything beyond chunks-1)
        pairs = {(r.doc_a, r.doc_b): r.hamming for r in dedup.simhash_pairs(docs, max_hamming=3).collect()}
        assert pairs.get((1, 4)) == 0

    def test_signature_is_60bit(self, docs):
        sigs = [r.simhash for r in dedup.simhash_signatures(docs).collect()]
        assert all(0 <= s < (1 << 60) for s in sigs)


class TestNgramJaccard:
    def test_exact_dup_jaccard_one(self, docs):
        pairs = {(r.doc_a, r.doc_b): r.jaccard for r in dedup.ngram_jaccard_pairs(docs, 0.1).collect()}
        assert pairs.get((1, 4)) == 1.0
        # 9-token docs differing in last token: 7 shared of 7+7 3-gram
        # shingles minus 6 shared -> jaccard 6/8
        assert pairs.get((1, 2)) == pytest.approx(6 / 8)

    def test_prefix_filter_bounds_stopword_candidates(self, spark):
        # 30 docs all opening with the same stop-word boilerplate but
        # otherwise unique: the shared shingles are high-DF, land at the
        # tail of the rarest-first order, and must NOT generate all-pairs
        # candidates. True near-dups must still be found (lossless).
        boiler = "it is a truth universally acknowledged that"
        rows = [(i, f"{boiler} document {i} speaks of topic{i} alpha{i} beta{i} gamma{i}", "en", "s", 1) for i in range(1, 31)]
        rows.append((99, rows[0][1], "en", "s", 1))  # exact dup of doc 1
        df = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string, n_chars long")
        n_cand = dedup.ngram_candidate_pairs(df, threshold=0.6).count()
        assert n_cand < 60  # naive inverted-index join yields 30*29/2=435+ via shared boilerplate
        pairs = {(r.doc_a, r.doc_b): r.jaccard for r in dedup.ngram_jaccard_pairs(df, 0.6).collect()}
        assert pairs.get((1, 99)) == 1.0
        assert all({a, b} == {1, 99} for a, b in pairs)

    def test_df_cap_drops_ubiquitous_shingles(self, spark):
        # With df_cap=2 every shingle shared by >2 docs leaves the
        # universe; three identical docs then share no shingles at all.
        rows = [(i, "same words repeated in every single document here", "en", "s", 1) for i in (1, 2, 3)]
        df = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string, n_chars long")
        assert dedup.ngram_jaccard_pairs(df, 0.1, df_cap=2).count() == 0
        assert dedup.ngram_jaccard_pairs(df, 0.1, df_cap=3).count() == 3


class TestTextOps:
    def test_token_count(self, docs):
        stats = {r.doc_id: r for r in text.text_stats(docs).collect()}
        assert stats[1].n_tokens == 9
        assert stats[1].n_stopwords >= 1  # 'the'

    def test_fingerprint_deterministic(self, docs):
        a = {r.doc_id: r.fingerprint for r in text.fingerprints(docs).collect()}
        b = {r.doc_id: r.fingerprint for r in text.fingerprints(docs).collect()}
        assert a == b
        assert a[1] == a[4]  # identical text, identical fingerprint


class TestSimilarity:
    @pytest.fixture(scope="class")
    def emb(self, spark):
        rows = [
            (0, [1.0, 0.0, 0.0, 0.0], 0),
            (1, [0.999, 0.01, 0.0, 0.0], 0),  # near-dup of 0
            (2, [0.0, 1.0, 0.0, 0.0], 1),
            (3, [0.0, 0.0, 1.0, 0.0], 2),
        ]
        return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")

    def test_brute_force_topk(self, emb):
        top = similarity.cosine_topk(emb, emb.filter(F.col("vec_id") == 0), k=1).collect()
        assert len(top) == 1
        assert top[0].neighbor_id == 1
        assert top[0].cosine > 0.999

    def test_neardup_finds_close_pair(self, emb):
        pairs = {(r.id_a, r.id_b) for r in similarity.embedding_neardup(emb, threshold=0.9).collect()}
        assert (0, 1) in pairs


class TestIvfpqFusedCoarse:
    """r17 optimization guard: the PQ tier's coarse assign + residual +
    subspace split became per-row array expressions against a broadcast
    centroid bundle (_coarse_assign_res/_sub_slices/_query_cell_residuals).
    These tests pin the fused forms to a literal re-implementation of
    the pre-r17 relational shape (posexplode -> broadcast join -> hash
    agg -> rank window -> joins -> collect_list agg) on the real
    embeddings table, so any drift in the argmin's (d2c, cell) total
    order, residual arithmetic, or subspace layout fails loudly."""

    DIM, M, N_CELLS, N_PROBES = 64, 32, 8, 6

    @pytest.fixture(scope="class")
    def emb(self, spark):
        from chiv_spark.queries.base import t
        from conftest import SF0001

        return t(spark, SF0001, "embeddings")

    def _reference_rsub(self, emb):
        """The pre-r17 shape, verbatim."""
        from pyspark.sql.window import Window

        sw = self.DIM // self.M
        micro = F.transform(
            "embedding", lambda x: F.round(x.cast("double") * 1_000_000.0).cast("long")
        )
        ex = emb.select("vec_id", F.posexplode(micro).alias("pos", "xm"))
        cents = ex.filter(F.col("vec_id") < self.N_CELLS).select(
            F.col("vec_id").alias("cell"), "pos", F.col("xm").alias("cm")
        )
        cd = (
            ex.join(F.broadcast(cents), "pos")
            .groupBy("vec_id", "cell")
            .agg(F.sum((F.col("xm") - F.col("cm")) * (F.col("xm") - F.col("cm"))).alias("d2c"))
        )
        w_cell = Window.partitionBy("vec_id").orderBy("d2c", "cell")
        assign = (
            cd.withColumn("rn", F.row_number().over(w_cell))
            .filter(F.col("rn") == 1)
            .select("vec_id", "cell")
        )
        rsub = (
            ex.join(assign, "vec_id")
            .join(F.broadcast(cents), ["cell", "pos"])
            .select(
                "vec_id",
                "cell",
                (F.col("pos") / sw).cast("int").alias("sub"),
                (F.col("pos") % sw).cast("int").alias("dsub"),
                (F.col("xm") - F.col("cm")).alias("rm"),
            )
            .groupBy("vec_id", "cell", "sub")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("dsub", "rm"))),
                    lambda s: s["rm"],
                ).alias("vsub")
            )
        )
        return cd, rsub

    def test_fused_assign_residual_matches_relational_form(self, emb):
        sw = self.DIM // self.M
        micro = F.transform(
            "embedding", lambda x: F.round(x.cast("double") * 1_000_000.0).cast("long")
        )
        vm = emb.select("vec_id", micro.alias("vm"))
        pairs = F.array_sort(
            F.collect_list(F.struct(F.col("vec_id").alias("cell"), F.col("vm").alias("cv")))
        )
        bundle = (
            vm.filter(F.col("vec_id") < self.N_CELLS)
            .groupBy()
            .agg(
                F.transform(pairs, lambda s: s["cell"]).alias("cells"),
                F.transform(pairs, lambda s: s["cv"]).alias("carr"),
            )
        )
        fused = similarity._coarse_assign_res(vm, bundle).select(
            "vec_id",
            "cell",
            F.posexplode(similarity._sub_slices(self.M, sw)).alias("sub", "vsub"),
        )
        got = {(r.vec_id, r.sub): (r.cell, tuple(r.vsub)) for r in fused.collect()}
        _, ref_rsub = self._reference_rsub(emb)
        want = {(r.vec_id, r.sub): (r.cell, tuple(r.vsub)) for r in ref_rsub.collect()}
        assert got == want

    def test_fused_query_probes_match_rank_window(self, emb):
        from pyspark.sql.window import Window

        sw = self.DIM // self.M
        micro = F.transform(
            "embedding", lambda x: F.round(x.cast("double") * 1_000_000.0).cast("long")
        )
        vm = emb.select("vec_id", micro.alias("vm"))
        pairs = F.array_sort(
            F.collect_list(F.struct(F.col("vec_id").alias("cell"), F.col("vm").alias("cv")))
        )
        bundle = (
            vm.filter(F.col("vec_id") < self.N_CELLS)
            .groupBy()
            .agg(
                F.transform(pairs, lambda s: s["cell"]).alias("cells"),
                F.transform(pairs, lambda s: s["cv"]).alias("carr"),
            )
        )
        fused = similarity._query_cell_residuals(
            vm.filter(F.col("vec_id") < 10), bundle, self.N_PROBES, self.M, sw
        )
        got = {(r.qid, r.cell, r.sub): tuple(r.vsub) for r in fused.collect()}
        # reference: rank-window probes + per-probed-cell residual join
        cd, _ = self._reference_rsub(emb)
        w_cell = Window.partitionBy("vec_id").orderBy("d2c", "cell")
        probes = (
            cd.filter(F.col("vec_id") < 10)
            .withColumn("rn", F.row_number().over(w_cell))
            .filter(F.col("rn") <= self.N_PROBES)
            .select(F.col("vec_id").alias("qid"), "cell")
        )
        ex = emb.select("vec_id", F.posexplode(micro).alias("pos", "xm"))
        cents = ex.filter(F.col("vec_id") < self.N_CELLS).select(
            F.col("vec_id").alias("cell"), "pos", F.col("xm").alias("cm")
        )
        qrx = (
            ex.filter(F.col("vec_id") < 10)
            .withColumnRenamed("vec_id", "qid")
            .join(probes, "qid")
            .join(F.broadcast(cents), ["cell", "pos"])
            .select(
                "qid",
                "cell",
                (F.col("pos") / sw).cast("int").alias("sub"),
                (F.col("pos") % sw).cast("int").alias("dsub"),
                (F.col("xm") - F.col("cm")).alias("rm"),
            )
        )
        ref = qrx.groupBy("qid", "cell", "sub").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dsub", "rm"))), lambda s: s["rm"]
            ).alias("vsub")
        )
        want = {(r.qid, r.cell, r.sub): tuple(r.vsub) for r in ref.collect()}
        assert got == want


class TestMultimodal:
    def test_feature_extraction_plumbing(self, docs):
        media = multimodal.media_from_documents(docs)
        feats = {r.media_id: r for r in multimodal.extract_features(media).collect()}
        assert set(feats) == {1, 2, 3, 4}
        assert feats[1].n_bytes == 43
        assert len(feats[1].feature) == 8
        assert feats[1].sha_prefix == feats[4].sha_prefix  # same payload
        assert feats[1].feature == feats[4].feature  # deterministic fake

    def test_decode_stub_raises(self):
        with pytest.raises(NotImplementedError):
            multimodal.decode_image(b"\x89PNG")

    def test_resize_plumbing(self, docs):
        media = multimodal.media_from_documents(docs)
        resized = {r.media_id: r for r in multimodal.resize_images(media, 64, 64).collect()}
        assert set(resized) == {1, 2, 3, 4}
        assert all(r.width == 64 and r.height == 64 for r in resized.values())
        assert len(bytes(resized[1].payload)) <= 64 * 64 // 64

    def test_frame_sampling_plumbing(self, docs):
        media = multimodal.media_from_documents(docs)
        frames = multimodal.sample_frames(media, n_frames=3).collect()
        assert len(frames) == 4 * 3  # every media row yields n_frames rows
        by_media = {}
        for f in frames:
            by_media.setdefault(f.media_id, []).append(f)
        assert all(sorted(x.frame_index for x in v) == [0, 1, 2] for v in by_media.values())
        # offsets are monotone within a media item
        for v in by_media.values():
            offs = [x.offset_bytes for x in sorted(v, key=lambda f: f.frame_index)]
            assert offs == sorted(offs)


class TestApproxDistinctBounds:
    def test_hll_within_relative_error(self, spark, sf_dir):
        """approx_count_distinct(rsd=0.02) has no bit-exact oracle, but
        it does have a contract: the estimate must land within a few
        multiples of the requested relative standard deviation of the
        exact COUNT(DISTINCT). 5*rsd = 10% is far beyond HLL++'s
        practical spread at this cardinality — a deterministic bound
        (the sketch itself is deterministic for fixed input)."""
        from chiv_spark.queries import REGISTRY

        # since round 8 the query itself carries the gate: err_ok is
        # the integer-arithmetic |approx-exact|*100 <= 10*exact bound
        # (5*rsd), which the DuckDB oracle asserts TRUE
        row = REGISTRY["agg_approx_distinct"].fn(spark, sf_dir).first()
        assert row["exact_parts"] > 0
        assert row["err_ok"] is True


class TestApproxPercentileBounds:
    def test_approx_percentile_within_accuracy_contract(self, spark, sf_dir):
        """approx_percentile(col, p, accuracy) guarantees a rank error
        of at most n/accuracy (KLL-style sketch, deterministic for a
        fixed input). Check the estimate's true rank against that
        bound rather than comparing values — the value gap on a skewed
        column can be large while the rank is within contract."""
        from pyspark.sql import functions as F

        from chiv_spark.queries.base import t as read_t

        acc = 100
        o = read_t(spark, sf_dir, "orders")
        n = o.count()
        est = o.agg(
            F.expr(f"approx_percentile(o_totalprice, 0.5, {acc})").alias("est")
        ).first()["est"]
        rank = o.filter(F.col("o_totalprice") <= est).count()
        assert abs(rank - 0.5 * n) <= n / acc + 1


class TestGlobalRowIds:
    def test_consecutive_ids_in_order(self, spark):
        from chiv_spark.operators.rowids import assign_global_row_ids

        df = spark.range(0, 1000).selectExpr(
            "cast(id as long) AS k", "id % 7 AS grp"
        )
        out = assign_global_row_ids(df, ["k"], buckets=8).toPandas()
        out = out.sort_values("k").reset_index(drop=True)
        assert list(out["row_id"]) == list(range(1, 1001))
        assert list(out["k"]) == sorted(out["k"])

    def test_start_offset_and_multi_key(self, spark):
        from chiv_spark.operators.rowids import assign_global_row_ids

        df = spark.range(0, 100).selectExpr("id % 10 AS a", "id AS b")
        out = assign_global_row_ids(df, ["a", "b"], id_col="idx", buckets=5, start=100)
        pdf = out.toPandas().sort_values(["a", "b"]).reset_index(drop=True)
        assert list(pdf["idx"]) == list(range(100, 200))

    def test_pinned_ids_stable_across_actions(self, spark):
        from chiv_spark.operators.rowids import assign_global_row_ids

        out = assign_global_row_ids(
            spark.range(0, 500).selectExpr("cast(id as long) AS k"), ["k"], buckets=4
        )
        a = sorted(out.toPandas().itertuples(index=False))
        b = sorted(out.toPandas().itertuples(index=False))
        assert a == b

    def test_empty_order_cols_rejected(self, spark):
        from chiv_spark.operators.rowids import assign_global_row_ids

        with pytest.raises(ValueError):
            assign_global_row_ids(spark.range(3), [])

    def test_with_count_and_bucket_invariance(self, spark):
        # r17 optimization pins: (1) with_count returns the exact row
        # count for free (from the offsets collect), (2) ids are
        # value-identical across bucket counts for unique keys —
        # including buckets=1, the scale-adaptive floor the suffix
        # tier now derives from relation size
        from chiv_spark.operators.rowids import assign_global_row_ids

        df = spark.range(0, 257).selectExpr("cast(id as long) AS k")
        out, n = assign_global_row_ids(df, ["k"], buckets=7, with_count=True)
        assert n == 257
        pdf = out.toPandas().sort_values("k").reset_index(drop=True)
        assert list(pdf["row_id"]) == list(range(1, 258))
        for buckets in (1, 3):
            alt = assign_global_row_ids(df, ["k"], buckets=buckets)
            apdf = alt.toPandas().sort_values("k").reset_index(drop=True)
            assert list(apdf["row_id"]) == list(pdf["row_id"])


class TestRightSizePartitions:
    def test_small_cached_df_collapses(self, spark):
        from chiv_spark.plans.partitions import right_size

        df = spark.range(0, 1000).repartition(16).persist()
        n = df.count()
        try:
            assert right_size(df, n).rdd.getNumPartitions() == 1
        finally:
            df.unpersist()

    def test_large_count_keeps_partitions(self, spark):
        from chiv_spark.plans.partitions import right_size

        df = spark.range(0, 100).repartition(8).persist()
        df.count()
        try:
            # pretend the cache holds 10M rows: 10M/2M + 1 = 6 targets,
            # capped at the existing 8
            assert right_size(df, 10_000_000).rdd.getNumPartitions() == 6
            assert right_size(df, 10**9).rdd.getNumPartitions() == 8
        finally:
            df.unpersist()


class TestBucketCaps:
    """r7 verdict task 5: the LSH defensive dial. An adversarial
    near-dup cluster of m docs lands its whole membership in one
    (band, bucket) key and emits m^2/2 candidate pairs; bucket_cap
    quarantines oversized buckets out of the band self-join while
    leaving small-bucket (true pairwise) matches untouched. Default
    None must leave output byte-identical (oracles unchanged)."""

    @pytest.fixture(scope="class")
    def adversarial_docs(self, spark):
        cluster = [
            (i, "same words repeated in every single document here", "en", "s", 48)
            for i in range(1, 25)
        ]
        pair = [
            (100, "the quick brown fox jumps over the lazy dog", "en", "s", 43),
            (101, "the quick brown fox jumps over the lazy cat", "en", "s", 43),
        ]
        return spark.createDataFrame(
            cluster + pair,
            "doc_id long, text string, lang string, source string, n_chars long",
        )

    def test_minhash_cap_quarantines_cluster_keeps_pair(self, adversarial_docs):
        uncapped = dedup.minhash_lsh_pairs(adversarial_docs).collect()
        # the 24-doc cluster explodes quadratically without the cap
        assert sum(1 for r in uncapped if r.doc_a < 100) == 24 * 23 // 2
        capped = dedup.minhash_lsh_pairs(adversarial_docs, bucket_cap=10).collect()
        assert all(r.doc_a >= 100 for r in capped), capped
        # the genuine small-bucket near-dup pair survives the cap
        assert any((r.doc_a, r.doc_b) == (100, 101) for r in capped)

    def test_minhash_cap_none_is_identity(self, adversarial_docs):
        plain = {tuple(r) for r in dedup.minhash_lsh_pairs(adversarial_docs).collect()}
        explicit = {
            tuple(r)
            for r in dedup.minhash_lsh_pairs(adversarial_docs, bucket_cap=None).collect()
        }
        assert plain == explicit

    @pytest.fixture(scope="class")
    def adversarial_emb(self, spark):
        cluster = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(1, 21)]
        pair = [(100, [0.0, 1.0, 0.1, 0.0]), (101, [0.0, 1.0, 0.11, 0.0])]
        return spark.createDataFrame(
            cluster + pair, "vec_id long, embedding array<float>"
        )

    def test_neardup_cap_quarantines_cluster_keeps_pair(self, adversarial_emb):
        uncapped = similarity.embedding_neardup(adversarial_emb, threshold=0.9).collect()
        assert sum(1 for r in uncapped if r.id_a < 100) == 20 * 19 // 2
        capped = similarity.embedding_neardup(
            adversarial_emb, threshold=0.9, bucket_cap=10
        ).collect()
        assert all(r.id_a >= 100 for r in capped), capped
        assert any((r.id_a, r.id_b) == (100, 101) for r in capped)


class TestIncrementalLsh:
    """r7 verdict task 6: incremental dedup against a PERSISTED
    MinHash band index — build the index once per corpus snapshot,
    then dedup each arriving shard by joining its (delta-only)
    signatures against the index read back from parquet. The second
    shard must NOT rebuild the index or re-read the base corpus."""

    BASE = [
        (1, "the quick brown fox jumps over the lazy dog", "en", "s", 43),
        (2, "completely different words appear here now", "en", "s", 41),
        (3, "yet another unrelated base document about spark", "en", "s", 47),
    ]
    SHARD1 = [
        (101, "the quick brown fox jumps over the lazy dog", "en", "s", 43),  # dup of base 1
        (102, "fresh content never seen before anywhere at all", "en", "s", 47),
        (103, "fresh content never seen before anywhere at all", "en", "s", 47),  # dup of 102
    ]
    SHARD2 = [
        (201, "completely different words appear here now", "en", "s", 41),  # dup of base 2
    ]

    SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"

    @pytest.fixture(scope="class")
    def index_setup(self, spark, tmp_path_factory):
        root = tmp_path_factory.mktemp("inclsh")
        base_path = str(root / "base_docs")
        index_path = str(root / "lsh_index")
        spark.createDataFrame(self.BASE, self.SCHEMA).write.parquet(base_path)
        base = spark.read.parquet(base_path)
        dedup.minhash_band_index(base).write.parquet(index_path)
        return base_path, index_path

    def _mtimes(self, path):
        import os

        return {
            f: os.path.getmtime(os.path.join(path, f))
            for f in os.listdir(path)
            if f.endswith(".parquet")
        }

    def test_shard_vs_index_pairs(self, spark, index_setup):
        _, index_path = index_setup
        index = spark.read.parquet(index_path)
        shard1 = spark.createDataFrame(self.SHARD1, self.SCHEMA)
        pairs = {
            (r.doc_a, r.doc_b): r.est_jaccard
            for r in dedup.incremental_lsh_pairs(shard1, index).collect()
        }
        assert pairs.get((1, 101)) == 1.0  # delta vs base exact dup
        assert pairs.get((102, 103)) == 1.0  # within-shard dup
        # base-base pairs never reported, distinct docs never pair
        assert all(a >= 101 or b >= 101 for a, b in pairs)
        assert not any({a, b} & {2, 3} for a, b in pairs)

    def test_second_shard_reuses_index_no_rebuild(self, spark, index_setup):
        base_path, index_path = index_setup
        before = self._mtimes(index_path)
        index = spark.read.parquet(index_path)
        shard2 = spark.createDataFrame(self.SHARD2, self.SCHEMA)
        out = dedup.incremental_lsh_pairs(shard2, index)
        plan = out._jdf.queryExecution().executedPlan().toString()
        # the job reads the persisted index, never the base corpus text
        assert "lsh_index" in plan, plan[:1200]
        assert "base_docs" not in plan, plan[:1200]
        rows = {(r.doc_a, r.doc_b): r.est_jaccard for r in out.collect()}
        assert rows.get((2, 201)) == 1.0
        assert self._mtimes(index_path) == before, "index was rewritten"

    def test_matches_full_recompute_restricted_to_delta(self, spark, index_setup):
        _, index_path = index_setup
        index = spark.read.parquet(index_path)
        base = spark.createDataFrame(self.BASE, self.SCHEMA)
        shard1 = spark.createDataFrame(self.SHARD1, self.SCHEMA)
        inc = {
            tuple(r)
            for r in dedup.incremental_lsh_pairs(shard1, index).collect()
        }
        full = {
            tuple(r)
            for r in dedup.minhash_lsh_pairs(base.unionByName(shard1)).collect()
            if r.doc_a >= 101 or r.doc_b >= 101
        }
        assert inc == full


class TestIncrementalHamming:
    """r13 verdict task 2: the media tiers' incremental path —
    arriving 60-bit signatures probe a persisted chunk index
    (hamming_chunk_index) instead of re-hashing the corpus. Generic
    over the signature source (image dHash, audio fingerprint, video
    temporal dHash all share the 4x15-bit layout), so tested here on
    crafted integer signatures with known Hamming distances."""

    BASE = [(1, 0), (2, 0b111), (3, 0b11111)]
    # 101 = exact dup of 1; 102/103 within-shard dups >= distance 5
    # from every base signature; hamming(3, 101) = 5
    DELTA = [(101, 0), (102, 0b1111111111), (103, 0b1111111111)]
    SCHEMA = "media_id long, sig60 long"

    def _pairs(self, spark):
        base = spark.createDataFrame(self.BASE, self.SCHEMA)
        delta = spark.createDataFrame(self.DELTA, self.SCHEMA)
        index = dedup.hamming_chunk_index(base, id_col="media_id", sig_col="sig60")
        dsig = dedup.hamming_chunk_index(delta, id_col="media_id", sig_col="sig60")
        return {
            tuple(r)
            for r in dedup.incremental_hamming_pairs(
                dsig, index, id_col="media_id"
            ).collect()
        }

    def test_delta_vs_index_and_within_shard(self, spark):
        got = self._pairs(spark)
        # (1,101) exact, (2,101) at distance 3, (102,103) within-shard;
        # (3,101) is a chunk candidate (differs only in chunk 0) but
        # fails the bit_count verify at distance 5; base-base pairs
        # like (1,2) are never reported
        assert got == {(1, 101, 0), (2, 101, 3), (102, 103, 0)}

    def test_matches_full_recompute_restricted_to_delta(self, spark):
        base = spark.createDataFrame(self.BASE, self.SCHEMA)
        delta = spark.createDataFrame(self.DELTA, self.SCHEMA)
        full = {
            tuple(r)
            for r in dedup.hamming_chunk_pairs(
                base.unionByName(delta), id_col="media_id", sig_col="sig60"
            ).collect()
            if r.doc_a >= 101 or r.doc_b >= 101
        }
        assert self._pairs(spark) == full

    def test_index_is_four_bucketed_rows_per_item(self, spark):
        base = spark.createDataFrame(self.BASE, self.SCHEMA)
        idx = dedup.hamming_chunk_index(
            base, id_col="media_id", sig_col="sig60"
        ).collect()
        assert len(idx) == 12  # 4 chunks x 3 items
        for r in idx:
            # ck encodes (position, value): position recoverable, and
            # the value is the signature's ci-th 15-bit chunk
            assert r.ck // (1 << 15) == r.ci
            assert r.ck % (1 << 15) == (r.sig >> (15 * r.ci)) % (1 << 15)


class TestQuarantineRescue:
    """r8 verdict task 3: stage-2 recall recovery for quarantined LSH
    buckets. A saturated bucket of NON-verbatim near-dups (a shared
    base text plus a per-doc unique suffix word — exact-dedup can't
    touch it) loses pairs under bucket_cap unless other bands catch
    them; the rescue stage re-reports its membership as member-rep
    star edges at m*reps cost instead of m^2/2."""

    CAP = 10
    BASE = (
        "large language models are trained on deduplicated corpora "
        "because repeated documents waste compute and bias the loss"
    )

    @pytest.fixture(scope="class")
    def corpus(self, spark):
        # 24 near-verbatim (NOT verbatim) docs: shared 19-word base,
        # one unique trailing word each -> one unique shingle per doc
        cluster = [
            (i, f"{self.BASE} variant{i}", "en", "s", 0) for i in range(1, 25)
        ]
        pair = [
            (100, "the quick brown fox jumps over the lazy dog", "en", "s", 0),
            (101, "the quick brown fox jumps over the lazy cat", "en", "s", 0),
        ]
        return spark.createDataFrame(
            cluster + pair,
            "doc_id long, text string, lang string, source string, n_chars long",
        )

    def test_rescue_recovers_pairs_capped_drops(self, corpus):
        uncapped = {
            (r.doc_a, r.doc_b)
            for r in dedup.minhash_lsh_pairs(corpus).collect()
            if r.doc_a < 100
        }
        capped = {
            (r.doc_a, r.doc_b)
            for r in dedup.minhash_lsh_pairs(corpus, bucket_cap=self.CAP).collect()
            if r.doc_a < 100
        }
        dropped = uncapped - capped
        # the cap must actually bite on this cluster or the test is vacuous
        assert dropped, "adversarial cluster was not quarantined"
        rescue = dedup.lsh_quarantine_rescue(
            corpus, bucket_cap=self.CAP, reps=2
        ).collect()
        rescued_pairs = {(r.doc_a, r.doc_b) for r in rescue}
        # recovers pairs the capped stage silently lost
        assert rescued_pairs & dropped
        # star edges only: bounded by reps * members, far below m^2/2
        assert len(rescued_pairs) < len(uncapped)
        # every member of a SATURATED bucket is linked back to a
        # representative (docs whose signatures drifted out of every
        # oversized bucket are small-bucket territory — stage 1 keeps
        # their pairs, so rescue owes them nothing)
        banded = dedup.minhash_band_index(corpus)
        saturated_members = {
            r.doc_id
            for r in banded.groupBy("band", "bh")
            .agg(
                F.count(F.lit(1)).alias("m"),
                F.collect_list("doc_id").alias("ids"),
            )
            .filter(F.col("m") > self.CAP)
            .select(F.explode("ids").alias("doc_id"))
            .collect()
        }
        assert saturated_members, "no saturated bucket — test corpus broken"
        rescued_docs = {d for p in rescued_pairs for d in p}
        assert rescued_docs == saturated_members

    def test_rescue_ignores_unsaturated_buckets(self, corpus):
        rescue = dedup.lsh_quarantine_rescue(
            corpus, bucket_cap=self.CAP, reps=2
        ).collect()
        # the genuine small-bucket pair is stage-1 territory, not rescue's
        assert all(r.doc_a < 100 and r.doc_b < 100 for r in rescue)

    def test_rescue_estimates_match_plain_lsh(self, corpus):
        plain = {
            (r.doc_a, r.doc_b): r.est_jaccard
            for r in dedup.minhash_lsh_pairs(corpus).collect()
        }
        for r in dedup.lsh_quarantine_rescue(
            corpus, bucket_cap=self.CAP, reps=2
        ).collect():
            key = (r.doc_a, r.doc_b)
            if key in plain:  # same signature function, same estimate
                assert r.est_jaccard == plain[key]


class TestImageDhash:
    """r8 verdict task 1: perceptual-hash image near-dedup. The codec
    path is real (PNG encode -> resize_png -> decode on executors);
    near-dups are NON-verbatim (same base pixels, per-id brightness
    offset -> different PNG bytes), so only Hamming-close dHash — not
    byte equality — can pair them."""

    def test_pairs_match_bruteforce_hamming(self, spark):
        ids = spark.range(0, 36).selectExpr("id AS media_id")
        sig = {r.media_id: r.dhash for r in multimodal.image_dhash(ids).collect()}
        assert len(sig) == 36
        assert all(0 <= s < (1 << 60) for s in sig.values())
        expect = {
            (a, b, bin(sig[a] ^ sig[b]).count("1"))
            for a in sig
            for b in sig
            if a < b and bin(sig[a] ^ sig[b]).count("1") <= 3
        }
        got = {
            (r.doc_a, r.doc_b, r.hamming)
            for r in dedup.hamming_chunk_pairs(
                multimodal.image_dhash(ids), id_col="media_id", sig_col="dhash"
            ).collect()
        }
        # pigeonhole chunk join is EXACT for Hamming <= chunks-1
        assert got == expect
        assert expect, "corpus produced no near-dup pairs — test vacuous"

    def test_same_group_near_cross_group_far(self, spark):
        ids = spark.range(0, 36).selectExpr("id AS media_id")
        sig = {r.media_id: r.dhash for r in multimodal.image_dhash(ids).collect()}
        groups = multimodal.DHASH_GROUPS
        same = [
            bin(sig[a] ^ sig[b]).count("1")
            for a in sig
            for b in sig
            if a < b and a % groups == b % groups
        ]
        cross = [
            bin(sig[a] ^ sig[b]).count("1")
            for a in sig
            for b in sig
            if a < b and a % groups != b % groups
        ]
        # brightness shifts flip comparisons only at mod-256 wrap;
        # unrelated images disagree on ~half their 60 bits
        assert max(same) < min(cross)
        assert min(cross) > 10


class TestBloomBitmap:
    """r12 verdict task 7: the bloom filter at REALISTIC geometry —
    M = 2^27 bits as a packed-long broadcast bitmap (the registry row
    runs M=65536 for oracle replay; the 100 TB docstring claim is
    proven here)."""

    M = 1 << 27
    K = 4

    def _corpus(self, spark):
        prior = spark.range(0, 3000).selectExpr("concat('doc ', id) AS text")
        # odd-id arrivals are fresh; every 10th is a true dup of prior
        arrivals = spark.range(0, 600).selectExpr(
            "id AS doc_id",
            "CASE WHEN id % 10 = 0 THEN concat('doc ', id) "
            "ELSE concat('new ', id) END AS text",
        )
        return prior, arrivals

    def test_no_false_negatives_and_packed_bound(self, spark):
        from chiv_spark.operators import dedup

        prior, arrivals = self._corpus(spark)
        bitmap = dedup.bloom_bitmap(prior, self.M, self.K)
        nrows = bitmap.count()
        # packed: bounded by K*n occupied words, far under M/64
        assert nrows <= self.K * 3000
        assert nrows <= self.M // 64
        got = {
            r.doc_id: r.bloom_hit
            for r in dedup.bloom_probe(arrivals, bitmap, self.M, self.K).collect()
        }
        assert len(got) == 600
        for i in range(0, 600, 10):  # true dups: NEVER missed
            assert got[i] is True
        # at this load factor (12k bits set of 2^27) false positives
        # are ~0 — fresh arrivals must miss
        misses = sum(1 for i, h in got.items() if i % 10 != 0 and not h)
        assert misses == 540

    def test_probe_plan_is_broadcast_join(self, spark):
        """The arrivals side must stay a broadcast-hash join against
        the bitmap even at 2^27 geometry — never a shuffled join of
        the corpus (the shape the registry docstring promises at
        100 TB)."""
        from chiv_spark.operators import dedup

        prior, arrivals = self._corpus(spark)
        bitmap = dedup.bloom_bitmap(prior, self.M, self.K)
        plan = (
            dedup.bloom_probe(arrivals, bitmap, self.M, self.K)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BroadcastHashJoin" in plan
        # the bitmap is the ONLY broadcast; arrivals must not sit
        # under a shuffle before the join (their only exchange is the
        # final per-id AND-fold)
        assert "SortMergeJoin" not in plan


class TestVideoFrameSample:
    """r12 verdict task 1: the orphan video_frame_sample wired for real.
    The codec path is real (GIF89a LZW encode -> decode on executors);
    sampling keeps every stride-th decoded frame with its timestamp."""

    @staticmethod
    def _h64(s: str) -> int:
        import hashlib

        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    def test_sampling_semantics_match_closed_form(self, spark):
        ids = spark.range(0, 8).selectExpr("id AS media_id")
        rows = multimodal.video_frame_sample(ids).collect()
        # 12 frames, stride 3 -> samples 0,3,6,9 at 100 ms cadence
        by_clip: dict[int, list] = {}
        for r in rows:
            by_clip.setdefault(r.media_id, []).append(r)
        assert set(by_clip) == set(range(8))
        for mid, rs in by_clip.items():
            assert sorted(r.frame_index for r in rs) == [0, 3, 6, 9]
            for r in rs:
                v = self._h64(f"vid:{mid}:{r.frame_index}") % 256
                assert r.ts_ms == r.frame_index * 100
                assert r.n_px == 192
                assert r.first_px == v
                assert r.px_sum == sum((v + p) % 256 for p in range(192))

    def test_grouped_mode_is_nonverbatim_near_dup(self, spark):
        ids = spark.range(0, 24).selectExpr("id AS media_id")
        fr = multimodal.video_frame_sample(
            ids, n_frames=9, stride=2, group_mod=multimodal.VID_GROUPS
        ).collect()
        feats = {(r.media_id, r.frame_index): r.first_px for r in fr}
        g = multimodal.VID_GROUPS
        for mid in range(24):
            delta = self._h64(f"vbright:{mid}") % multimodal.VID_BRIGHT_MOD
            for f in (0, 2, 4, 6, 8):
                base = self._h64(f"vid:{mid % g}:{f}") % 256
                # same-group clips share base frames, shifted by a
                # per-clip brightness delta with mod-256 wrap
                assert feats[(mid, f)] == (base + delta) % 256


class TestAdviceGuardsR10:
    """Round-10 ADVICE preconditions: loud failures instead of opaque
    crashes (both-None incremental calls) or silent recall loss
    (max_hamming past the pigeonhole guarantee)."""

    def test_incremental_lsh_both_none_raises(self, spark):
        idx = spark.createDataFrame([], "doc_id long, band int, bh long")
        with pytest.raises(ValueError, match="delta_docs or delta_index"):
            dedup.incremental_lsh_pairs(None, idx)

    def test_incremental_neardup_both_none_raises(self, spark):
        from chiv_spark.operators import similarity

        idx = spark.createDataFrame(
            [], "id long, band int, bits long, embedding array<double>, norm double"
        )
        with pytest.raises(ValueError, match="delta_emb or delta_index"):
            similarity.incremental_neardup_pairs(None, idx, dim=4)

    def test_hamming_past_pigeonhole_raises(self, spark):
        sig = spark.createDataFrame([(1, 7), (2, 8)], "doc_id long, simhash long")
        with pytest.raises(ValueError, match="pigeonhole"):
            dedup.hamming_chunk_pairs(sig, chunks=4, max_hamming=4)

    def test_hamming_at_pigeonhole_bound_ok(self, spark):
        sig = spark.createDataFrame([(1, 7), (2, 7)], "doc_id long, simhash long")
        got = dedup.hamming_chunk_pairs(sig, chunks=4, max_hamming=3).collect()
        assert [(r.doc_a, r.doc_b, r.hamming) for r in got] == [(1, 2, 0)]


class TestNeardupDecontamination:
    """r10: cross-corpus LSH decontamination — a paraphrased eval item
    must be flagged by shingle-similarity even though it is not an
    exact duplicate, with the fixed-size eval side broadcast."""

    BASE = (
        "the quick brown fox jumps over the lazy dog while seven "
        "wizards brew strong potions beneath the ancient stone tower "
        "watching silver clouds drift across the evening sky toward "
        "distant mountains covered in deep winter snow as golden leaves "
        "fall gently onto the quiet forest floor near the frozen river "
        "bend where old fishermen tell long stories about patient herons "
        "standing guard beside shimmering water under pale morning light"
    )

    def _pairs(self, spark, train_rows):
        ev = spark.createDataFrame([(9000, self.BASE)], "doc_id long, text string")
        tr = spark.createDataFrame(train_rows, "doc_id long, text string")
        return dedup.crosscorpus_lsh_pairs(
            dedup.minhash_band_index(tr), dedup.minhash_band_index(ev)
        )

    def test_paraphrase_flagged_unrelated_not(self, spark):
        toks = self.BASE.split(" ")
        # paraphrase: three word substitutions spread over 69 tokens
        # (deterministic under the md5 permutation family: est 0.8125)
        toks[5], toks[40], toks[60] = "leaps", "beyond", "beneath"
        para = " ".join(toks)
        assert para != self.BASE
        unrelated = " ".join(f"w{i} x{i} y{i}" for i in range(12))
        got = {
            (r.doc_id, r.ref_doc_id): r.est_jaccard
            for r in self._pairs(spark, [(1, para), (2, unrelated)]).collect()
        }
        assert (1, 9000) in got and got[(1, 9000)] >= 0.5
        assert (2, 9000) not in got
        # and it is NOT an exact duplicate — the exact-dedup pass
        # (fingerprint group-by) would miss it
        both = spark.createDataFrame(
            [(1, para), (9000, self.BASE)], "doc_id long, text string"
        )
        assert dedup.exact_duplicates(both).count() == 0

    def test_eval_side_broadcast_plan(self, spark):
        from chiv_spark.plans import physical_plan

        plan = physical_plan(self._pairs(spark, [(1, self.BASE)]))
        assert "BroadcastHashJoin" in plan


class TestParagraphBoilerplate:
    """dedup_paragraph_boilerplate semantics: a chunk carried by >= 3
    DISTINCT docs is dropped from EVERY document (including its first
    occurrence — the opposite survival rule from paragraph exact
    dedup), df counts documents not occurrences, and a doc made
    entirely of boilerplate still emits a row."""

    W = dedup.PARA_W

    def _docs(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    def _rebuilt(self, spark, rows, df_threshold=3):
        from pyspark.sql import functions as F

        chunks = dedup.paragraph_chunks(self._docs(spark, rows))
        bp = chunks.groupBy("h").agg(F.countDistinct("doc_id").alias("nd"))
        out = dedup.paragraph_rebuild_where(
            chunks.join(bp, "h"), F.col("nd") < df_threshold, "n_boilerplate"
        )
        return {r.doc_id: r for r in out.collect()}

    def test_drops_all_occurrences_including_first(self, spark):
        boiler = " ".join(f"b{i}" for i in range(self.W))
        uniq = [" ".join(f"u{d}w{i}" for i in range(self.W)) for d in range(3)]
        rows = [(d, f"{boiler} {uniq[d]}") for d in range(3)]
        got = self._rebuilt(spark, rows)
        for d in range(3):
            assert got[d].n_boilerplate == 1
            assert got[d].cleaned_text == uniq[d]

    def test_df_counts_documents_not_occurrences(self, spark):
        # one doc repeating a chunk 3x: df = 1, nothing is boilerplate
        c = " ".join(f"r{i}" for i in range(self.W))
        got = self._rebuilt(spark, [(1, f"{c} {c} {c}")])
        assert got[1].n_boilerplate == 0
        assert got[1].n_chunks == 3

    def test_all_boilerplate_doc_still_emits_row(self, spark):
        boiler = " ".join(f"b{i}" for i in range(self.W))
        rows = [(d, boiler) for d in range(3)]
        got = self._rebuilt(spark, rows)
        assert set(got) == {0, 1, 2}
        assert all(r.cleaned_text == "" for r in got.values())
