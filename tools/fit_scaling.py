"""Empirical scaling-curve fitter (round-4 verdict item 4).

For each of the heaviest pipelines, measure wall time (one untimed
warmup, then best-of-3, same protocol as bench.py) at three scales
spanning two decades, and fit the scaling exponent b in
wall = a * N^b over the top decade step (the bottom step is
overhead-dominated at this box's ~0.3s fixed job cost, so the
headline exponent is the one between the two largest scales, where
wall >> overhead; the full three-point fit is printed alongside).

Scales:
- document/embedding pipelines: sf0.01 -> sf0.1 -> 10x adversarial
  replica of sf0.1 (probe_scale.build_replicas: every doc + 9
  near-dup variants, multiplying shingle DFs and true-pair counts —
  a harder shape than organic growth)
- relational pipelines (triangle count): sf0.001 -> sf0.01 -> sf0.1

Prints one line per (query, scale) plus a final markdown table for
SCALING.md.
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from chiv_spark.queries import REGISTRY
from chiv_spark.session import get_spark
from tools.probe_scale import PROBE_DIR, build_replicas

SF001 = "/root/testdata/sf0.001"
SF01 = "/root/testdata/sf0.01"
SF1 = "/root/testdata/sf0.1"

# query -> (scale dirs low->high, table whose row count is N)
PLAN: dict[str, tuple[list[str], str]] = {
    "dedup_minhash_lsh": ([SF01, SF1, PROBE_DIR], "documents"),
    "dedup_ngram_jaccard": ([SF01, SF1, PROBE_DIR], "documents"),
    "dedup_semdedup": ([SF01, SF1, PROBE_DIR], "embeddings"),
    "embedding_neardup": ([SF01, SF1, PROBE_DIR], "embeddings"),
    "graph_triangle_count": ([SF001, SF01, SF1], "lineitem"),
    # round 6: the two r5 heavy additions with no fitted exponent yet
    "dedup_repeated_ngrams": ([SF01, SF1, PROBE_DIR], "documents"),
    "join_interval_bucketed": ([SF001, SF01, SF1], "events"),
    # round 6, second batch: the PQ vector search (train+encode+ADC)
    # and the prefix-filtered containment dedup (the 10x replica is
    # adversarial for it: every variant group is high-containment)
    "ann_pq_adc_topk": ([SF01, SF1, PROBE_DIR], "embeddings"),
    "dedup_ngram_containment": ([SF01, SF1, PROBE_DIR], "documents"),
    # round 6, third batch: the flagship scale claims of the round —
    # sketch-cost MAU and the skew-safe attribution decomposition
    "events_active_users_mau_approx": ([SF001, SF01, SF1], "events"),
    "events_attribution_last_touch_scalable": ([SF001, SF01, SF1], "events"),
    # round 7 (r6 verdict task 8): the Count-Min sketch build+probe
    # (heaviest new text row, 1.9s at sf0.1) and the production
    # IVFADC ANN (assign + residual PQ + probe + exact re-rank)
    "text_freq_cms": ([SF01, SF1, PROBE_DIR], "documents"),
    "ann_ivfpq_topk": ([SF01, SF1, PROBE_DIR], "embeddings"),
    # round 7, second batch: the co-occurrence pipelines (order-keyed
    # pair joins — wedge work bounded by basket size / thresholded
    # degree, never parts^2)
    "mining_item_knn": ([SF001, SF01, SF1], "lineitem"),
    "graph_link_prediction": ([SF001, SF01, SF1], "lineitem"),
    # round 9 (r8 verdict task 6): fitted exponents for the three r8
    # bench additions, plus the r9 rescue stage and the embedding
    # index fold (the 10x replica is adversarial for all of them:
    # variant groups saturate LSH buckets and multiply true pairs)
    "split_leakage_safe": ([SF01, SF1, PROBE_DIR], "documents"),
    "dedup_incremental_lsh": ([SF01, SF1, PROBE_DIR], "documents"),
    "ann_filtered_topk": ([SF01, SF1, PROBE_DIR], "embeddings"),
    "dedup_lsh_quarantine_rescue": ([SF01, SF1, PROBE_DIR], "documents"),
    "dedup_incremental_embed": ([SF01, SF1, PROBE_DIR], "embeddings"),
    # round 10: the suffix-ranking ExactSubstr dedup (the 10x replica
    # is its adversarial shape: every variant group shares full-doc
    # prefixes, so LCP groups are deep and repeated spans maximal),
    # the frozen-artifact IVFPQ fold, and the broadcast eval
    # decontamination
    "dedup_exact_substr": ([SF01, SF1, PROBE_DIR], "documents"),
    "ann_ivfpq_incremental": ([SF01, SF1, PROBE_DIR], "embeddings"),
    "decontaminate_neardup_eval": ([SF01, SF1, PROBE_DIR], "documents"),
    # round 12 (r11 verdict task 6): the fixpoint trim runs the span
    # detector up to MAX_TRIM_ROUNDS+1 times on the repeat-candidate
    # subcorpus — the 10x replica is maximally adversarial (every
    # variant group is all-candidate with deep shared prefixes), so
    # the fit exposes the round-over-round detector cost directly
    "dedup_exact_substr_fixpoint": ([SF01, SF1, PROBE_DIR], "documents"),
    # round 13 (r12 verdict task 5 + new r13 rows): the paragraph
    # fingerprint passes (full + incremental-vs-index), the packed
    # bloom bitmap probe, incremental ExactSubstr against the
    # persisted 8-gram window index (the replica multiplies both the
    # delta candidates and the index side), and drift-acting IVFPQ
    # maintenance (train + integer drift gate + partial rewrite)
    "dedup_paragraph_exact": ([SF01, SF1, PROBE_DIR], "documents"),
    "dedup_incremental_paragraph": ([SF01, SF1, PROBE_DIR], "documents"),
    "dedup_bloom_membership": ([SF01, SF1, PROBE_DIR], "documents"),
    "dedup_incremental_exact_substr": ([SF01, SF1, PROBE_DIR], "documents"),
    "ann_ivfpq_maintenance": ([SF01, SF1, PROBE_DIR], "embeddings"),
    # round 14 (r13 verdict task 4 + the new rows): the composed
    # curation capstone and its survivor dataset card (both dominated
    # by the exact-substr stage at the replica), the video canonical
    # chain and the incremental media tiers (bounded 60-item media
    # universe -> expect near-flat: codec work does not grow with the
    # corpus), the suffix streaming fold twin (single-file probe dir,
    # see PROBE_FILE_DIR), the bloom FPR audit, the suffix-store deletion
    # lifecycle (two probes through tombstones), and the capped fuzzy
    # join (output bounded by n_sub_blocks*cap^2/2 -> the
    # sub-quadratic proof the r13 verdict asked for; fit over the SF
    # ladder since part grows with SF, not with the doc replica)
    "pipeline_curation_capstone": ([SF01, SF1, PROBE_DIR], "documents"),
    "pipeline_capstone_dataset_card": ([SF01, SF1, PROBE_DIR], "documents"),
    "dedup_video_canonical": ([SF01, SF1, PROBE_DIR], "documents"),
    "dedup_incremental_phash": ([SF01, SF1, PROBE_DIR], "documents"),
    "dedup_incremental_audio": ([SF01, SF1, PROBE_DIR], "documents"),
    "dedup_incremental_video": ([SF01, SF1, PROBE_DIR], "documents"),
    "streaming_incremental_exact_substr": (
        [SF01, SF1, "/tmp/chiv-probe-10x-onefile"],
        "documents",
    ),
    "dedup_bloom_fpr_report": ([SF01, SF1, PROBE_DIR], "documents"),
    "exact_substr_delete_then_probe": ([SF01, SF1, PROBE_DIR], "documents"),
    "join_fuzzy_levenshtein_capped": ([SF001, SF01, SF1], "part"),
    # round 14, second batch: df-threshold boilerplate removal (full
    # + incremental-vs-index — the 10x replica is adversarial: every
    # variant group multiplies chunk document frequencies, so far
    # more chunks cross the df>=3 threshold), the two-level domain
    # gate (two corpus-linear verdict passes + domain-sized
    # broadcasts), the training-shard manifest (one linear
    # projection + a 32-key agg), and the streaming heavy-hitters
    # candidate fold (single-file probe dir, see PROBE_FILE_DIR)
    "dedup_paragraph_boilerplate": ([SF01, SF1, PROBE_DIR], "documents"),
    "dedup_incremental_boilerplate": ([SF01, SF1, PROBE_DIR], "documents"),
    "quality_domain_gate": ([SF01, SF1, PROBE_DIR], "documents"),
    "mlprep_shard_manifest": ([SF01, SF1, PROBE_DIR], "documents"),
    "mlprep_snapshot_diff": ([SF01, SF1, PROBE_DIR], "documents"),
    "streaming_heavy_hitters": (
        [SF01, SF1, "/tmp/chiv-probe-10x-onefile"],
        "documents",
    ),
    "streaming_domain_stats": (
        [SF01, SF1, "/tmp/chiv-probe-10x-onefile"],
        "documents",
    ),
    # round 15: the media deletion lifecycle (bounded 60-item media
    # universe like the other media tiers -> expect near-flat; the
    # two probes and the tombstone anti-join cost scale with the
    # index slice, not the corpus)
    "media_delete_then_probe": ([SF01, SF1, PROBE_DIR], "documents"),
    # the counter-store gate: one stream fold + the per-doc verdict
    # pass — corpus-linear like quality_domain_gate, minus its
    # second domain-report aggregation (single-file probe dir, see
    # PROBE_FILE_DIR)
    "quality_domain_gate_incremental": (
        [SF01, SF1, "/tmp/chiv-probe-10x-onefile"],
        "documents",
    ),
    # the text-chained funnel twin: the unchained funnel's linear
    # shapes plus one more chunk-granularity df/first-occurrence pass
    # over the gate survivors — still corpus-linear
    "pipeline_quality_funnel_chained": ([SF01, SF1, PROBE_DIR], "documents"),
    # the cap-ladder autotune: one block-keyed hash agg + a 6-row
    # ladder broadcast — expect near-flat over the part SF ladder
    "join_fuzzy_cap_autotune": ([SF001, SF01, SF1], "part"),
    # round 16: the autotune-wired capped join — pair work bounded by
    # n_sub_blocks * pick^2/2 at whatever cap the dial recommends
    "join_fuzzy_at_autotuned_cap": ([SF001, SF01, SF1], "part"),
    # cluster-output fuzzy matching: members * cap levenshtein evals
    # per sub-block — expect near-linear in part rows
    "join_fuzzy_cluster_assign": ([SF001, SF01, SF1], "part"),
    # its member-recall gate: assignment + the name-level dictionary
    # truth (vocab-quadratic per block — the uncapped row's shape)
    "join_fuzzy_cluster_recall": ([SF001, SF01, SF1], "part"),
    # the composed ingest capstone, measured WARM (state seeded by
    # the untimed warmup, memoized per session+fingerprint): the
    # fitted exponent is the ARRIVAL cost — delta work + touched
    # index rows — which is the row's whole claim
    "pipeline_incremental_ingest": ([SF01, SF1, PROBE_DIR], "documents"),
    "pipeline_incremental_ingest_card": ([SF01, SF1, PROBE_DIR], "documents"),
    # the compacted domain gate (single-file probe dir, see
    # PROBE_FILE_DIR); warm after the first fold,
    # compaction idempotent per run
    "quality_domain_gate_compacted": (
        [SF01, SF1, "/tmp/chiv-probe-10x-onefile"],
        "documents",
    ),
    # round 17: the composed-state takedown lifecycle — each run pays
    # copy + tombstone folds + counter negation + full compaction + 2
    # probes over state proportional to the resident corpus, so
    # expect near-linear (the compaction rewrite dominates); the
    # SHARED seed is warm via the session cache
    "ingest_delete_then_probe": ([SF01, SF1, PROBE_DIR], "documents"),
    # the persisted-codes ANN probe twin, measured WARM (codes seeded
    # once per session+fingerprint): the fitted exponent is probe +
    # ADC + exact re-rank cost — the production per-query number,
    # expected well below the build row's b=0.99 re-encode curve
    "ann_ivfpq_topk_persisted": ([SF01, SF1, PROBE_DIR], "embeddings"),
}

#: single-FILE variant of the 10x replica for streaming rows, whose
#: earlier fits were measured on it. ``catalog.read_table_stream``
#: streams the directory-shaped replica too; these rows stay on the
#: one-file layout so their fits remain comparable
PROBE_FILE_DIR = "/tmp/chiv-probe-10x-onefile"


def build_onefile_probe(spark) -> None:
    import glob
    import shutil

    shutil.rmtree(PROBE_FILE_DIR, ignore_errors=True)
    os.makedirs(PROBE_FILE_DIR)
    staged = f"{PROBE_FILE_DIR}/_staged"
    (
        spark.read.parquet(f"{PROBE_DIR}/documents.parquet")
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(staged)
    )
    part = glob.glob(f"{staged}/part-*.parquet")[0]
    shutil.move(part, f"{PROBE_FILE_DIR}/documents.parquet")
    shutil.rmtree(staged)

# single-object archive sinks (executor-side formatting since r6):
# wall vs row count at three decades, constant 10-column cells —
# the reference's own benchmark shape (chiv_benchmark_test.go).
# These are Archiver paths, not registry queries, so they get their
# own loop below (noop storage isolates formatting from sink IO).
ARCHIVE_FORMATS = ["json", "yaml"]
ARCHIVE_ROWS = [10_000, 100_000, 1_000_000]


def wall(spark, name: str, d: str) -> float:
    fn = REGISTRY[name].fn
    fn(spark, d).write.format("noop").mode("overwrite").save()  # warmup
    runs = []
    for _ in range(3):
        t0 = time.perf_counter()
        fn(spark, d).write.format("noop").mode("overwrite").save()
        runs.append(time.perf_counter() - t0)
    return min(runs)


def fit(ns: list[int], ts: list[float]) -> float:
    """Least-squares slope of log t vs log N."""
    lx = [math.log(n) for n in ns]
    ly = [math.log(t) for t in ts]
    mx, my = sum(lx) / len(lx), sum(ly) / len(ly)
    num = sum((x - mx) * (y - my) for x, y in zip(lx, ly))
    den = sum((x - mx) ** 2 for x in lx)
    return num / den


def _archive_walls(spark) -> list[tuple[str, list[int], list[float]]]:
    """Best-of-3 single-object archive walls per format at three row
    decades (noop storage; same constant-cell fixture as
    tools/bench_archive_scaling.py)."""
    from pyspark.sql import functions as F

    import chiv_spark.core.archiver as archiver_mod
    from chiv_spark.core.archiver import Archiver

    class _NoopSink:
        def write(self, data: bytes) -> None:
            pass

    class _NoopStorage:
        from contextlib import contextmanager

        @contextmanager
        def writer(self, bucket, key):  # noqa: ANN001
            yield _NoopSink()

    def table(n: int):
        return spark.range(n).select(
            *[F.lit("column_value").alias(f"c{i}") for i in range(10)]
        )

    a = Archiver(spark)
    orig = archiver_mod.storage_for
    archiver_mod.storage_for = lambda bucket, spark=None: _NoopStorage()
    out = []
    try:
        for fmt in ARCHIVE_FORMATS:
            ts = []
            for n in ARCHIVE_ROWS:
                df = table(n)
                a.archive_df(df, "noop", key=f"t.{fmt}", format=fmt)  # warmup
                runs = []
                for _ in range(3):
                    t0 = time.perf_counter()
                    a.archive_df(df, "noop", key=f"t.{fmt}", format=fmt)
                    runs.append(time.perf_counter() - t0)
                ts.append(min(runs))
                print(
                    f"archive_{fmt}_single @ {n:,} rows: wall={ts[-1]:.2f}s",
                    flush=True,
                )
            out.append((f"archive_{fmt}_single", list(ARCHIVE_ROWS), ts))
    finally:
        archiver_mod.storage_for = orig
    return out


def main() -> None:
    # 'archive' is a selector, not a PLAN query: strip it before
    # resolving names so `fit_scaling.py archive` runs ONLY the
    # archive benches; fall back to the full PLAN only when no
    # selectors at all were given.
    selectors = [a for a in sys.argv[1:] if a != "archive"]
    unknown = [a for a in selectors if a not in PLAN]
    if unknown:
        # a typo'd name must not silently run zero benches
        raise SystemExit(
            f"unknown query name(s) {unknown}; valid: 'archive' or one of "
            f"{sorted(PLAN)}"
        )
    names = (
        [a for a in selectors if a in PLAN] if sys.argv[1:] else list(PLAN)
    )
    do_archive = not sys.argv[1:] or "archive" in sys.argv[1:]
    spark = get_spark("fit-scaling")
    spark.sparkContext.setLogLevel("ERROR")
    needs_probe = any(
        PROBE_DIR in PLAN[n][0] or PROBE_FILE_DIR in PLAN[n][0] for n in names
    )
    if needs_probe:
        build_replicas(spark, SF1, PROBE_DIR)
    if any(PROBE_FILE_DIR in PLAN[n][0] for n in names):
        build_onefile_probe(spark)
    rows = []
    for name in names:
        dirs, table = PLAN[name]
        ns, ts = [], []
        for d in dirs:
            n = spark.read.parquet(f"{d.rstrip('/')}/{table}.parquet").count()
            t = wall(spark, name, d)
            ns.append(n)
            ts.append(t)
            print(f"{name} @ {os.path.basename(d.rstrip('/'))}: N={n} wall={t:.2f}s", flush=True)
        top = math.log(ts[2] / ts[1]) / math.log(ns[2] / ns[1])
        rows.append((name, table, ns, ts, top, fit(ns, ts)))
    if do_archive:
        for name, ns, ts in _archive_walls(spark):
            top = math.log(ts[2] / ts[1]) / math.log(ns[2] / ns[1])
            rows.append((name, "generated rows", ns, ts, top, fit(ns, ts)))
    print("\n| pipeline | N column | walls (s, low→high) | top-decade exponent | 3-pt fit |")
    print("|---|---|---|---|---|")
    for name, table, ns, ts, top, full in rows:
        walls = " / ".join(f"{t:.2f}" for t in ts)
        print(f"| `{name}` | {table} ({ns[0]:,}→{ns[2]:,}) | {walls} | {top:.2f} | {full:.2f} |")
    spark.stop()


if __name__ == "__main__":
    main()
