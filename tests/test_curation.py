"""Invariant tests for the curation tier (queries/curation.py).

The oracle harness proves value-equality vs DuckDB; these pin the
semantic contracts equality alone wouldn't catch changing: URL
round-trips, canonical-form hygiene, repetition-fraction bounds,
SemDeDup's keep-first guarantee, BPE ranking shape, and chi-square
marginal closure.
"""

from __future__ import annotations

import math

import pytest

from pyspark.sql import functions as F

from chiv_spark.operators import suffixes
from chiv_spark.plans import op_counts
from chiv_spark.queries import REGISTRY

SF = "/root/testdata/sf0.001"


def test_url_components_reassemble_to_the_seeded_url(spark):
    out = REGISTRY["scalar_url_funcs"].fn(spark, SF)
    rebuilt = out.select(
        "doc_id",
        F.concat(
            F.lit("https://"), "host", "path", F.lit("?"), "query",
            F.lit("#"), "fragment",
        ).alias("url"),
        "ref_param",
    )
    bad = rebuilt.filter(
        ~F.col("url").rlike(r"^https://cdn[0-4]\.example\.com/[a-z]+/doc/\d+\?ref=r\d&utm_source=s\d#sec\d$")
    ).count()
    assert bad == 0
    # the named-param extraction matches the seed formula
    wrong = rebuilt.filter(
        F.col("ref_param") != F.concat(F.lit("r"), (F.col("doc_id") % 7).cast("string"))
    ).count()
    assert wrong == 0


def test_url_canonical_merges_variants_and_is_clean(spark):
    out = REGISTRY["dedup_url_canonical"].fn(spark, SF).cache()
    try:
        # 500 docs -> 125 merged triples (plain/case/slash) + 125 id-param
        # singles that legitimately survive canonicalization
        assert out.count() == 250
        merged = out.filter(F.col("n_variants") == 3)
        assert merged.count() == 125
        # keep-first: every merged group keeps its plain (doc_id%4==0) crawl
        assert merged.filter(F.col("kept_doc_id") % 4 != 0).count() == 0
        # canonical hygiene: lowercase scheme+host, no trailing slash, no utm
        dirty = out.filter(
            F.col("canonical_url").rlike("[A-Z]")
            | F.col("canonical_url").endswith("/")
            | F.col("canonical_url").contains("utm_")
            | F.col("canonical_url").isNull()
        ).count()
        assert dirty == 0
    finally:
        out.unpersist()


def test_gopher_repetition_fractions_and_gram_count(spark):
    out = REGISTRY["text_gopher_repetition"].fn(spark, SF).cache()
    try:
        docs = spark.read.parquet(f"{SF}/documents.parquet").select(
            "doc_id", (F.size(F.split("text", " ")) - 2).alias("expect_grams")
        )
        mismatch = (
            out.join(docs, "doc_id")
            .filter(F.col("n_grams") != F.col("expect_grams"))
            .count()
        )
        assert mismatch == 0
        rows = out.collect()
        assert rows
        for r in rows:
            assert 0.0 <= r["dup_gram_frac"] <= 1.0
            assert 0.0 < r["top_gram_char_frac"] <= 1.0
            assert r["keep"] == (r["dup_gram_frac"] <= 0.18)
        # the word-soup corpus must actually contain repeated 3-grams
        # somewhere, otherwise the signal is vacuous
        assert any(r["dup_gram_frac"] > 0 for r in rows)
    finally:
        out.unpersist()


def test_semdedup_keep_first_and_threshold(spark):
    out = REGISTRY["dedup_semdedup"].fn(spark, SF).cache()
    try:
        assert out.count() == 500
        dups = out.filter("is_dup")
        assert dups.count() > 0
        # the earliest vector of every cluster can have no earlier
        # cluster-mate, so it is never a duplicate
        first = out.groupBy("label").agg(F.min("vec_id").alias("vec_id"))
        assert out.join(first, ["label", "vec_id"]).filter("is_dup").count() == 0
        # spot-verify the cosine threshold on one flagged duplicate:
        # some earlier same-label vector must clear tau
        row = dups.orderBy("vec_id").first()
        emb = {
            r["vec_id"]: (r["label"], [round(x * 1e6) for x in r["embedding"]])
            for r in spark.read.parquet(f"{SF}/embeddings.parquet").collect()
        }
        lab, vm = emb[row["vec_id"]]
        nb = math.sqrt(sum(x * x for x in vm))
        best = max(
            sum(a * b for a, b in zip(w, vm)) / (math.sqrt(sum(a * a for a in w)) * nb)
            for vid, (l2, w) in emb.items()
            if l2 == lab and vid < row["vec_id"]
        )
        assert best >= 0.35
    finally:
        out.unpersist()


def test_bpe_first_merges_ranking_shape(spark):
    rows = REGISTRY["text_bpe_first_merges"].fn(spark, SF).orderBy("merge_rank").collect()
    assert [r["merge_rank"] for r in rows] == list(range(1, 21))
    assert all(len(r["pair"]) == 2 for r in rows)
    counts = [r["pair_count"] for r in rows]
    assert counts == sorted(counts, reverse=True)
    assert counts[-1] > 0


def test_chi2_cells_close_over_marginals(spark):
    out = REGISTRY["stats_chi2_lang_source"].fn(spark, SF).cache()
    try:
        docs = spark.read.parquet(f"{SF}/documents.parquet")
        n = docs.count()
        got = out.agg(F.sum("observed")).first()[0]
        assert got == n
        # per-lang observed sums equal the raw marginals
        raw = {r["lang"]: r["c"] for r in docs.groupBy("lang").agg(F.count(F.lit(1)).alias("c")).collect()}
        cell = {r["lang"]: r["s"] for r in out.groupBy("lang").agg(F.sum("observed").alias("s")).collect()}
        assert raw == cell
        bad = out.filter((F.col("expected") <= 0) | (F.col("chi2_contrib") < 0)).count()
        assert bad == 0
    finally:
        out.unpersist()


class TestCurationPlans:
    def test_url_queries_have_no_joins_or_extra_shuffles(self, spark):
        # scalar_url_funcs is a pure projection: no exchange at all
        ops = op_counts(REGISTRY["scalar_url_funcs"].fn(spark, SF))
        assert not any("Join" in k for k in ops)
        assert ops.get("Exchange", 0) == 0
        # canonical dedup is one hash-agg: a single exchange, no join
        ops = op_counts(REGISTRY["dedup_url_canonical"].fn(spark, SF))
        assert not any("Join" in k for k in ops)
        assert ops.get("Exchange", 0) <= 1

    def test_semdedup_joins_are_equi_not_cartesian(self, spark):
        # the pairwise stage must ride the label equi-key, never a
        # cross join — that is the whole SemDeDup scale contract
        ops = op_counts(REGISTRY["dedup_semdedup"].fn(spark, SF))
        assert ops.get("CartesianProduct", 0) == 0
        assert ops.get("BroadcastNestedLoopJoin", 0) == 0

    def test_bpe_global_window_sees_only_the_pair_table(self, spark):
        # the rank-window input is the alphabet^2 count table, so the
        # single-partition window is constant-sized at any corpus scale;
        # the plan must show the aggregation BEFORE the window
        df = REGISTRY["text_bpe_first_merges"].fn(spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Window" in plan
        agg_pos = plan.rfind("HashAggregate")
        win_pos = plan.find("Window")
        assert agg_pos > win_pos  # deeper in the tree = earlier in execution


class TestShortDocGuards:
    """r4 ADVICE regression: docs with <3 (gopher) or <2 (bigram)
    tokens made sequence(1, size-k) DESCEND, producing out-of-range
    array indexes — a runtime error under Spark 4 ANSI mode — while
    the DuckDB oracles' range() returned no rows. The guards must make
    Spark drop short docs instead of crashing, matching the oracles."""

    @staticmethod
    def _mini_sf(spark, tmp_path):
        sf = str(tmp_path / "sf")
        spark.createDataFrame(
            [
                (1, "one", "en", "web", 3),
                (2, "two words", "en", "web", 9),
                (3, "three word doc", "en", "web", 14),
                (4, "a b c d e f g h i j", "en", "web", 19),
            ],
            "doc_id long, text string, lang string, source string, n_chars long",
        ).coalesce(1).write.mode("overwrite").parquet(sf + "/documents.parquet")
        return sf

    def test_gopher_repetition_drops_sub3_token_docs(self, spark, tmp_path):
        sf = self._mini_sf(spark, tmp_path)
        rows = REGISTRY["text_gopher_repetition"].fn(spark, sf).collect()
        assert sorted(r["doc_id"] for r in rows) == [3, 4]

    def test_bigram_pmi_survives_one_token_docs(self, spark, tmp_path):
        sf = self._mini_sf(spark, tmp_path)
        # no bigram reaches the >=10 count floor here; the point is the
        # plan executes (no ANSI index error) and returns a frame
        assert REGISTRY["text_bigram_pmi"].fn(spark, sf).count() == 0

    def test_lm_perplexity_drops_one_token_docs_keeps_unigram_counts(
        self, spark, tmp_path
    ):
        sf = self._mini_sf(spark, tmp_path)
        rows = REGISTRY["text_lm_perplexity"].fn(spark, sf).collect()
        ids = sorted(r["doc_id"] for r in rows)
        assert ids == [2, 3, 4]  # doc 1 (one token) has no bigrams


class TestBpeApply:
    """text_bpe_encode's fold must equal the Sennrich reference apply
    loop: per-merge greedy left-to-right non-overlapping replacement
    over atomic symbols (a merged symbol is opaque to later merges)."""

    @staticmethod
    def _ref_apply(word: str, merges: list[str]) -> list[str]:
        syms = list(word)
        for m in merges:
            a, b = m[0], m[1]
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return syms

    def test_fold_matches_reference_loop(self, spark):
        from chiv_spark.operators.text import (
            BPE_EOT,
            BPE_SOT,
            bpe_apply,
            bpe_token_count,
            bpe_wrap,
        )

        cases = [
            ("aaa", ["aa"]),            # overlap: greedy left-to-right
            ("xabab", ["ab"]),          # repeat right after a merge
            ("the then at", ["th", "he", "at"]),  # 'th' blocks 'he'
            ("banana", ["an", "na"]),   # competing adjacent merges
            ("ab ba", ["ab", "ba"]),    # merges never cross spaces
            ("", ["ab"]),               # empty doc
        ]
        df = spark.createDataFrame(
            [(i, txt) for i, (txt, _) in enumerate(cases)], "i long, text string"
        )
        for i, (txt, merges) in enumerate(cases):
            marr = F.array(*[F.lit(m) for m in merges])
            row = (
                df.filter(F.col("i") == i)
                .select(
                    bpe_apply(bpe_wrap("text"), marr).alias("ap"),
                    bpe_token_count(bpe_apply(bpe_wrap("text"), marr)).alias("n"),
                )
                .first()
            )
            expect = [
                s
                for w in txt.split(" ")
                for s in self._ref_apply(w, merges)
            ]
            got = [s for s in row["ap"].replace(" ", "").replace(BPE_SOT, "\x00").split("\x00") if s]
            got = [s.rstrip(BPE_EOT) for s in got]
            assert got == expect, (txt, merges, got, expect)
            assert row["n"] == len(expect)


def test_bpe_apply_rejects_multichar_merge_operands(spark):
    """bpe_apply's pattern split assumes single-char operands; a
    multi-char entry (what a multi-round merge learner would emit)
    must fail the job loudly instead of silently mis-tokenizing."""
    from chiv_spark.operators.text import bpe_apply, bpe_wrap

    df = spark.createDataFrame([("ab ab",)], "text string")
    bad = df.select(bpe_apply(bpe_wrap("text"), F.array(F.lit("abc"))).alias("x"))
    with pytest.raises(Exception, match="bpe_apply"):
        bad.collect()


class TestExactSubstrFixpoint:
    """dedup_exact_substr_fixpoint semantic contracts the value-hash
    sweep can't isolate: multi-round trimming (a doc needing >= 2
    trims reaches fixpoint), the one-span-per-doc-per-round argmax,
    cross-doc interaction (a twin removed in an earlier round stops
    later trims), and the candidate-subcorpus restriction."""

    def _sf(self, spark, tmp_path):
        s = " ".join(f"s{i}" for i in range(10))   # repeated span 1
        u = " ".join(f"u{i}" for i in range(10))   # repeated span 2
        v = " ".join(f"v{i}" for i in range(11))   # longer span in C/D
        rows = [
            (1, f"a1 a2 {s} b1 b2 {u} c1 c2"),     # two disjoint spans
            (2, f"x1 {s} x2"),                     # twin of s
            (3, f"{u} z1 z2 {v}"),                  # u-copy + LONGER v
            (4, f"w1 {v} w2"),                     # twin of v
            (5, "solo words nothing repeated here at all ok fine"),
        ]
        spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
            str(tmp_path / "documents.parquet")
        )
        return str(tmp_path)

    def test_two_trim_doc_reaches_fixpoint(self, spark, tmp_path):
        sf = self._sf(spark, tmp_path)
        out = {
            r.doc_id: r
            for r in REGISTRY["dedup_exact_substr_fixpoint"].fn(spark, sf).collect()
        }
        # doc 5 has no repeated 8-gram: not a candidate, not in output
        assert set(out) == {1, 2, 3, 4}
        # round 1 trims A's LEFTMOST max span (s) and C's argmax (v,
        # longer than its u); round 2 trims u from BOTH A and C
        # simultaneously (spans are computed before either removal)
        a, b, c, d = out[1], out[2], out[3], out[4]
        assert (a.n_trims, a.trimmed_text) == (2, "a1 a2 b1 b2 c1 c2")
        assert (b.n_trims, b.trimmed_text) == (1, "x1 x2")
        assert (c.n_trims, c.trimmed_text) == (2, "z1 z2")
        assert (d.n_trims, d.trimmed_text) == (1, "w1 w2")
        assert all(r.converged and r.final_span == 0 for r in out.values())

    def test_twin_removed_earlier_blocks_later_trim(self, spark, tmp_path):
        # without doc 4, C's argmax in round 1 IS u (v unrepeated), so
        # C loses u immediately — and A's u-span then has no surviving
        # twin in round 2: A trims only once and converges
        s = " ".join(f"s{i}" for i in range(10))
        u = " ".join(f"u{i}" for i in range(10))
        rows = [
            (1, f"a1 a2 {s} b1 b2 {u} c1 c2"),
            (2, f"x1 {s} x2"),
            (3, f"{u} z1 z2"),
        ]
        spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
            str(tmp_path / "documents.parquet")
        )
        out = {
            r.doc_id: r
            for r in REGISTRY["dedup_exact_substr_fixpoint"].fn(spark, str(tmp_path)).collect()
        }
        assert out[1].n_trims == 1 and "u0" in out[1].trimmed_text
        assert out[3].n_trims == 1 and out[3].trimmed_text == "z1 z2"
        assert all(r.converged for r in out.values())

    def test_candidate_pins_spill_to_scratch(self, spark, tmp_path, monkeypatch):
        """r11 verdict task 7: with CHIV_SUFFIX_SCRATCH set, the
        per-round candidate-corpus pins (cand_r0 / cand_spans_rN) move
        from executor localCheckpoint to parquet under a unique subdir
        of the scratch root — same results, bounded executor storage
        even when the repeat-candidate set is itself large."""
        import os

        sf = self._sf(spark, tmp_path)
        # the rank_ assertion below pins the DOUBLING path's scratch
        # spill; this tiny corpus would take the size-gated
        # single-task path (which never builds rank tables), so force
        # the distributed detector — the test_suffixes.py convention
        monkeypatch.setattr(suffixes, "_SMALL_SUFFIX_SUMSQ", 0)
        plain = {
            tuple(r)
            for r in REGISTRY["dedup_exact_substr_fixpoint"].fn(spark, sf).collect()
        }
        scratch = str(tmp_path / "scratch")
        monkeypatch.setenv("CHIV_SUFFIX_SCRATCH", scratch)
        spilled = {
            tuple(r)
            for r in REGISTRY["dedup_exact_substr_fixpoint"].fn(spark, sf).collect()
        }
        assert spilled == plain
        subs = [d for d in os.listdir(scratch) if d.startswith("sfx-")]
        # one subdir holds the candidate pins; the detector passes
        # spill their round tables under their own subdirs
        cand_dirs = {
            name
            for s in subs
            for name in os.listdir(os.path.join(scratch, s))
            if name.startswith("cand_")
        }
        assert "cand_r0" in cand_dirs and any(
            n.startswith("cand_spans_r") for n in cand_dirs
        )
        assert any(
            name.startswith("rank_")
            for s in subs
            for name in os.listdir(os.path.join(scratch, s))
        )


class TestParagraphDedup:
    """dedup_paragraph_exact: fixed 10-token blocks, keep-first by
    (doc_id, idx) site, text rebuilt from surviving blocks."""

    def _write(self, spark, tmp_path, rows):
        spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
            str(tmp_path / "documents.parquet")
        )
        return str(tmp_path)

    def test_keep_first_and_rebuild(self, spark, tmp_path):
        blk_a = " ".join(f"a{i}" for i in range(10))
        blk_b = " ".join(f"b{i}" for i in range(10))
        blk_c = " ".join(f"c{i}" for i in range(10))
        rows = [
            (1, f"{blk_a} {blk_b}"),   # first sites of A and B
            (2, f"{blk_a} {blk_c}"),   # A is a later copy -> dropped
            (3, blk_a),                # fully duplicated -> emptied
        ]
        sf = self._write(spark, tmp_path, rows)
        out = {
            r.doc_id: r
            for r in REGISTRY["dedup_paragraph_exact"].fn(spark, sf).collect()
        }
        assert (out[1].n_chunks, out[1].n_dropped) == (2, 0)
        assert out[1].cleaned_text == f"{blk_a} {blk_b}"
        assert (out[2].n_chunks, out[2].n_dropped) == (2, 1)
        assert out[2].cleaned_text == blk_c
        assert (out[3].n_chunks, out[3].n_dropped) == (1, 1)
        assert out[3].cleaned_text == ""

    def test_short_tail_chunk_is_its_own_block(self, spark, tmp_path):
        # 12 tokens = one full block + a 2-token tail; the tail
        # repeats across docs and dedups independently
        blk = " ".join(f"t{i}" for i in range(10))
        rows = [(1, f"{blk} z1 z2"), (2, f"{blk.replace('t', 'u')} z1 z2")]
        sf = self._write(spark, tmp_path, rows)
        out = {
            r.doc_id: r
            for r in REGISTRY["dedup_paragraph_exact"].fn(spark, sf).collect()
        }
        assert out[1].n_dropped == 0
        assert out[2].n_dropped == 1 and out[2].cleaned_text == blk.replace("t", "u")


class TestBloomMembership:
    """dedup_bloom_membership: constant-size filter semantics — no
    false negatives, broadcast probe join."""

    def test_no_false_negatives_and_broadcast_probe(self, spark, tmp_path):
        rows = [(i, f"doc {i} body " + " ".join(f"w{i}_{j}" for j in range(6)))
                for i in range(40)]
        spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
            str(tmp_path / "documents.parquet")
        )
        df = REGISTRY["dedup_bloom_membership"].fn(spark, str(tmp_path))
        got = df.collect()
        # arrivals = 20 odd docs + re-ingested copies of docs 0 and 20
        assert len(got) == 22
        by_id = {r.doc_id: r for r in got}
        for reingested in (2000000, 2000020):
            assert by_id[reingested].exact_dup and by_id[reingested].bloom_hit
        # a bloom filter can have false positives, never false negatives
        assert all(r.bloom_hit for r in got if r.exact_dup)
        counts = op_counts(df)
        assert counts.get("CartesianProduct", 0) == 0
        assert counts.get("BroadcastNestedLoopJoin", 0) == 0
        assert counts.get("BroadcastHashJoin", 0) >= 1


class TestCapstoneFlagsCache:
    """The capstone report and the survivor dataset card must share
    ONE flag computation per (session, sf_dir): before the capstone
    entry in the session-state store each row rebuilt the full
    eight-stage stack (~35 s each at sf0.1 — the r14 verdict's
    double-compute watch item)."""

    def test_flags_computed_once_per_session_and_sf(self, spark):
        from chiv_spark.core import state
        from chiv_spark.queries import mlprep

        state.clear("capstone")
        before = state.stats().get("capstone", {"hits": 0, "builds": 0})
        try:
            f1, c1 = mlprep._capstone_flags(spark, SF)
            f2, c2 = mlprep._capstone_flags(spark, SF)
            assert f1 is f2 and c1 is c2  # second call is a cache hit
            assert f1.storageLevel.useMemory or f1.storageLevel.useDisk
            # both registry rows run green off the shared relation
            a = REGISTRY["pipeline_curation_capstone"].fn(spark, SF)
            b = REGISTRY["pipeline_capstone_dataset_card"].fn(spark, SF)
            assert a.count() == 10
            assert b.count() > 0
            # one build for the session and sf_dir; every other
            # consumer hits it (a NEW session or a rewritten corpus
            # rebuilds — tests/test_state.py and the test below)
            after = state.stats()["capstone"]
            assert after["builds"] - before["builds"] == 1
            assert after["hits"] - before["hits"] == 3
        finally:
            state.clear("capstone")

    def test_rewritten_corpus_invalidates_the_cache(self, spark, tmp_path):
        """r15 verdict task 3: the cache key carries a content
        fingerprint of the input files, so rewriting documents.parquet
        at the same sf_dir mid-session recomputes the flags instead of
        serving the stale relation — and drops the stale entry."""
        import shutil

        from chiv_spark.core import state
        from chiv_spark.queries import mlprep

        sf_copy = str(tmp_path / "sfcopy")
        shutil.copytree(SF, sf_copy)
        state.clear("capstone")
        try:
            f1, _ = mlprep._capstone_flags(spark, sf_copy)
            n1 = f1.count()
            # rewrite the corpus in place: drop half the documents
            import duckdb

            con = duckdb.connect()
            con.execute(
                f"COPY (SELECT * FROM '{sf_copy}/documents.parquet' "
                "WHERE doc_id % 2 = 0) TO "
                f"'{sf_copy}/documents.parquet' (FORMAT PARQUET)"
            )
            spark.catalog.clearCache()
            released = state.stats()["capstone"]["releases"]
            f2, _ = mlprep._capstone_flags(spark, sf_copy)
            assert f2 is not f1  # recomputed, not the stale handle
            assert f2.count() < n1  # reflects the rewritten corpus
            # stale entry gone: released once, and one entry is left
            assert state.stats()["capstone"]["releases"] == released + 1
            state.clear("capstone")
            assert state.stats()["capstone"]["releases"] == released + 2
        finally:
            state.clear("capstone")
