"""Distributed suffix ranking (operators/suffixes.py) vs brute force.

The oracle here is a quadratic pure-Python reference: a span repeats
iff the same token sequence occurs at >= 2 distinct (doc, position)
sites, overlapping and within-document occurrences included — the
ExactSubstr counting rule the DuckDB registry oracle also states.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from chiv_spark.operators import suffixes
from chiv_spark.operators.suffixes import max_repeated_spans, suffix_rank_tables, token_positions


def brute_spans(rows):
    toks = {d: t.split(" ") for d, t in rows}
    occ: dict[tuple, int] = {}
    for d, tk in toks.items():
        for i in range(len(tk)):
            for L in range(1, len(tk) - i + 1):
                occ[tuple(tk[i : i + L])] = occ.get(tuple(tk[i : i + L]), 0) + 1
    out = {}
    for d, tk in toks.items():
        best = 0
        for i in range(len(tk)):
            for L in range(best + 1, len(tk) - i + 1):
                if occ[tuple(tk[i : i + L])] >= 2:
                    best = L
        out[d] = (len(tk), best)
    return out


def run(spark, rows):
    df = spark.createDataFrame(rows, "doc_id long, text string")
    return {
        r.doc_id: (r.n_tokens, r.max_rep_span) for r in max_repeated_spans(df).collect()
    }


class TestMaxRepeatedSpans:
    def test_cross_doc_within_doc_and_exact_dup(self, spark):
        rows = [
            (1, "a b c d e f g h"),
            (2, "x y z a b c d q"),  # shares "a b c d" with doc 1
            (3, "p q r p q r p q r"),  # internal stutter: 6-token repeat
            (4, "unique words only here"),
            (5, "x y z a b c d q"),  # exact dup of doc 2
        ]
        assert run(spark, rows) == brute_spans(rows)

    def test_overlapping_self_repeat_counts(self, spark):
        # "a a a a": positions 0 and 1 both start "a a a" — overlap is
        # a legitimate second site (suffix neighbors in rank order)
        rows = [(1, "a a a a"), (2, "b c")]
        got = run(spark, rows)
        assert got[1] == (4, 3)
        assert got[2] == (2, 0)

    def test_single_token_docs_and_empty_string(self, spark):
        # split("") -> [""] : one empty token; two such docs are exact
        # dups of span 1
        rows = [(1, ""), (2, ""), (3, "z"), (4, "z y")]
        got = run(spark, rows)
        assert got[1] == (1, 1) and got[2] == (1, 1)
        assert got[3] == (1, 1) and got[4][1] == 1  # "z" repeats across 3/4
        single = run(spark, [(9, "only")])
        assert single[9] == (1, 0)

    def test_long_shared_prefix_exercises_deep_rounds(self, spark):
        # 40-token shared prefix forces the doubling past k=32 — the
        # deep-round path the stable-partition early exit must not skip
        shared = " ".join(f"t{i}" for i in range(40))
        rows = [(1, shared + " endone x"), (2, shared + " endtwo y"), (3, "n m")]
        got = run(spark, rows)
        assert got[1] == (42, 40) and got[2] == (42, 40)

    def test_rank_tables_order_suffixes(self, spark):
        # final ranks must order the suffix multiset lexicographically
        rows = [(1, "b a c"), (2, "a c a")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        tables, maxlen = suffix_rank_tables(token_positions(df))
        _, final = tables[-1]
        ranked = {(r.doc_id, r.pos): r.r for r in final.collect()}
        toks = {d: t.split(" ") for d, t in rows}
        sufs = sorted(
            ((tuple(toks[d][p:]), (d, p)) for (d, p) in ranked), key=lambda x: x[0]
        )
        # equal suffixes share a rank; order of ranks == lexicographic
        expect_rank, prev = {}, None
        nxt = 0
        for s, key in sufs:
            if s != prev:
                nxt += 1
                prev = s
            expect_rank[key] = nxt
        assert ranked == expect_rank

    @settings(
        max_examples=6,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        data=st.lists(
            st.lists(st.sampled_from(["a", "b", "c"]), min_size=1, max_size=8),
            min_size=1,
            max_size=4,
        )
    )
    def test_property_matches_bruteforce(self, spark, data):
        rows = [(i + 1, " ".join(tk)) for i, tk in enumerate(data)]
        assert run(spark, rows) == brute_spans(rows)


class TestSmallPathParity:
    """r17 optimization: the size-gated single-task suffix-sort path
    must agree bit-for-bit with the prefix-doubling machinery —
    span length, n_tokens AND leftmost position — on shapes covering
    cross-doc twins, within-doc stutter, exact dups, prefix-of-suffix
    ties and empty-token docs."""

    ROWS = [
        (1, "a b c d e f g h"),
        (2, "x y z a b c d q"),
        (3, "p q r p q r p q r"),
        (4, "unique words only here"),
        (5, "x y z a b c d q"),
        (6, "a a a a"),
        (7, ""),
        (8, ""),
        (9, "x y a b c d z"),
        (10, " ".join(f"t{i}" for i in range(40)) + " endone"),
        (11, " ".join(f"t{i}" for i in range(40)) + " endtwo"),
    ]

    def test_small_and_doubling_paths_identical(self, spark, monkeypatch):
        df = spark.createDataFrame(self.ROWS, "doc_id long, text string")
        small = {
            (r.doc_id, r.n_tokens, r.max_rep_span, r.span_pos)
            for r in max_repeated_spans(df).collect()
        }
        monkeypatch.setattr(suffixes, "_SMALL_SUFFIX_SUMSQ", 0)
        doubling = {
            (r.doc_id, r.n_tokens, r.max_rep_span, r.span_pos)
            for r in max_repeated_spans(df).collect()
        }
        assert small == doubling

    def test_default_gate_takes_single_job_path(self, spark):
        # the fast path's plan signature: an unpartitioned window over
        # an explicit GlobalLimit (the audit's post-limit rule), no
        # checkpointed rank tables
        df = spark.createDataFrame(self.ROWS, "doc_id long, text string")
        plan = (
            max_repeated_spans(df)._jdf.queryExecution().optimizedPlan().toString()
        )
        assert "GlobalLimit" in plan and "zip_with" in plan


class TestEmptyCorpus:
    def test_empty_relation_yields_empty_result(self, spark):
        """A filtered-to-nothing corpus must compose, not crash with
        the int-vs-None TypeError of the unguarded loop bound (r10
        ADVICE): suffix_rank_tables returns the degenerate single
        empty table and max_repeated_spans an empty 4-column frame."""
        df = spark.createDataFrame([], "doc_id long, text string")
        tables, maxlen = suffix_rank_tables(token_positions(df))
        assert maxlen == 0 and len(tables) == 1
        assert tables[0][1].count() == 0
        out = max_repeated_spans(df)
        assert out.columns == ["doc_id", "n_tokens", "max_rep_span", "span_pos"]
        assert out.count() == 0


class TestScratchSpill:
    def test_scratch_dir_matches_checkpoint_path(self, spark, tmp_path, monkeypatch):
        """The 100 TB spill path (r10 verdict task 5): with
        scratch_dir set, every round table is written to parquet and
        read back instead of localCheckpoint-pinned — results must be
        identical, and one parquet dir per doubling round (plus the
        rank-1 table) must exist on the scratch filesystem."""
        import os

        rows = [
            (1, "a b c d e f g h"),
            (2, "x y z a b c d q"),
            (3, "p q r p q r p q r"),
            (4, "x y z a b c d q"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        scratch = str(tmp_path / "rounds")
        os.makedirs(scratch)
        plain = {
            (r.doc_id, r.n_tokens, r.max_rep_span, r.span_pos)
            for r in max_repeated_spans(df).collect()
        }
        # force the doubling machinery: this test pins the SPILL path,
        # which the r17 size-gated single-task fast path would
        # otherwise bypass at this input size
        monkeypatch.setattr(suffixes, "_SMALL_SUFFIX_SUMSQ", 0)
        spilled = {
            (r.doc_id, r.n_tokens, r.max_rep_span, r.span_pos)
            for r in max_repeated_spans(df, scratch_dir=scratch).collect()
        }
        assert spilled == plain
        # the call spilled under its own unique subdir of the shared
        # root (r11 ADVICE: two calls sharing a root must never
        # overwrite each other's round tables)
        subs = sorted(d for d in os.listdir(scratch) if d.startswith("sfx-"))
        assert len(subs) == 1
        dirs = sorted(
            d
            for d in os.listdir(os.path.join(scratch, subs[0]))
            if d.startswith("rank_")
        )
        # doubling is seeded at L = WINDOW_N (one window dense-rank
        # replaces the L=1,2,4 rounds), so the first spilled table is
        # rank_L8 and at least one doubling round follows (maxlen 9)
        assert "rank_L8" in dirs and len(dirs) >= 2
        # a second call on the SAME root lands in a fresh subdir and
        # leaves the first call's tables untouched
        max_repeated_spans(df, scratch_dir=scratch).count()
        subs2 = sorted(d for d in os.listdir(scratch) if d.startswith("sfx-"))
        assert len(subs2) == 2 and subs[0] in subs2
        tables, _ = suffix_rank_tables(
            token_positions(df), scratch_dir=str(tmp_path / "r2")
        )
        # spilled tables scan from parquet: no RDD-checkpoint lineage
        _, final = tables[-1]
        assert "FileScan parquet" in final._jdf.queryExecution().executedPlan().toString()


class TestSpanArgmax:
    def test_leftmost_maximal_span_and_pos(self, spark):
        # doc 1: "a b c" repeats at pos 0 and pos 4 (leftmost wins);
        # doc 2 supplies the cross-doc twin
        rows = [(1, "a b c z a b c"), (2, "a b c y")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r.doc_id: (r.max_rep_span, r.span_pos) for r in max_repeated_spans(df).collect()}
        assert got[1] == (3, 0)
        assert got[2] == (3, 0)

    def test_no_repeat_reports_zero_pos(self, spark):
        rows = [(1, "q w e r t y")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        r = max_repeated_spans(df).collect()[0]
        assert (r.max_rep_span, r.span_pos) == (0, 0)

    def test_interior_span_position(self, spark):
        # shared run sits INSIDE doc 1 (pos 2) and at the head of doc 2
        rows = [(1, "x y a b c d z"), (2, "a b c d w")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r.doc_id: (r.max_rep_span, r.span_pos) for r in max_repeated_spans(df).collect()}
        assert got[1] == (4, 2)
        assert got[2] == (4, 0)


class TestWindowIndexIncremental:
    """r11 verdict task 8: the persisted window-index path of
    dedup_incremental_exact_substr — pb-partitioned parquet round
    trip with a partition-pruned arrival lookup, and the incremental
    result equal to the full-corpus recompute restricted to the
    shard."""

    def test_pruned_index_lookup_plan_and_equivalence(self, spark, tmp_path):
        import re

        from pyspark.sql import functions as F

        from chiv_spark.operators.suffixes import WINDOW_PB, window_index
        from chiv_spark.plans import physical_plan

        s = " ".join(f"s{i}" for i in range(12))
        base_rows = [
            (1, f"a1 a2 {s} b1 b2"),
            (2, "base words with no repeats whatsoever in here at all"),
        ]
        delta_rows = [
            (101, f"x1 {s} x2"),            # twin of base 1's span
            (102, "novel arrival content never repeated anywhere else ok"),
            (103, "st st st st st st st st st st st st"),  # self-stutter
        ]
        base = spark.createDataFrame(base_rows, "doc_id long, text string")
        delta = spark.createDataFrame(delta_rows, "doc_id long, text string")
        idx_dir = str(tmp_path / "winidx")
        window_index(base).write.partitionBy("pb").parquet(idx_dir)
        dwin = window_index(delta)
        touched = [r.pb for r in dwin.select("pb").distinct().collect()]
        assert len(touched) <= WINDOW_PB
        pruned = spark.read.parquet(idx_dir).filter(
            F.col("pb").isin([int(x) for x in touched])
        )
        plan = physical_plan(pruned)
        m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
        assert m and "pb" in m.group(1), plan[:600]
        # the pruned read sees exactly the buckets the arrival needs:
        # joining it vs the full index on the delta's windows is a
        # no-op difference
        full = spark.read.parquet(idx_dir)
        dws = dwin.select("wh").distinct()
        assert sorted(
            tuple(r) for r in pruned.join(dws, "wh").collect()
        ) == sorted(tuple(r) for r in full.join(dws, "wh").collect())

    def test_incremental_equals_full_recompute_on_shard(self, spark, tmp_path):
        from chiv_spark.queries.base import REGISTRY

        # ids chosen so the 'xs:' fate splits them: verify against the
        # registry row's own fate predicate at a synthetic sf_dir
        from chiv_spark.queries.curation import (
            EXACTSUBSTR_THRESHOLD,
            _xs_fate_pred,
        )

        s = " ".join(f"s{i}" for i in range(12))
        u = " ".join(f"u{i}" for i in range(9))  # >=8 but < threshold
        rows = [
            (i, txt)
            for i, txt in enumerate(
                [
                    f"a1 a2 {s} b1 b2",        # span 12 vs its twin
                    f"x1 {s} x2",
                    f"{u} z1",                 # span 9: reported, NOT trimmed
                    f"w1 {u}",
                    "plain one two three four five six seven eight nine",
                    "rep rep rep rep rep rep rep rep rep rep rep rep",
                ]
                * 4  # spread ids across the 1-in-10 fate
            )
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        docs.write.parquet(str(tmp_path / "documents.parquet"))
        out = {
            r.doc_id: r
            for r in REGISTRY["dedup_incremental_exact_substr"]
            .fn(spark, str(tmp_path))
            .collect()
        }
        delta_ids = {
            r.doc_id for r in docs.filter(_xs_fate_pred()).select("doc_id").collect()
        }
        assert set(out) == delta_ids and delta_ids  # fate slice non-empty
        from chiv_spark.operators.suffixes import max_repeated_spans

        spans = {
            r.doc_id: r for r in max_repeated_spans(docs).collect()
        }  # FULL-corpus ground truth
        for did, r in out.items():
            truth = spans[did]
            want_span = truth.max_rep_span if truth.max_rep_span >= 8 else 0
            assert r.span_ge8 == want_span, (did, r.span_ge8, truth)
            assert r.keep == (want_span < EXACTSUBSTR_THRESHOLD)
            toks = dict(rows)[did].split(" ")
            if want_span >= EXACTSUBSTR_THRESHOLD:
                expect = " ".join(
                    toks[: truth.span_pos] + toks[truth.span_pos + truth.max_rep_span :]
                )
                assert r.trimmed_text == expect
            else:
                assert r.trimmed_text == dict(rows)[did]
