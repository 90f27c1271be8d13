"""Organic third decade for the HEAVY tier (r14 verdict task 6).

Local test data tops out at sf0.1; the prior 100x claims for the
suffix/capstone tiers rest on REPLICATED corpora (tools/probe_scale),
which SCALING.md honestly flags as adversarial-not-organic: every
variant group multiplies true-duplicate density, so superlinear walls
there are output-bound, not plan defects. This tool generates an
ORGANIC sf1-equivalent — drawn from the same generative process the
driver's testdata exhibits, measured off sf0.01/sf0.1:

- documents: 10x sf0.1's row count; 30-word uniform vocabulary (the
  exact observed vocab), doc length uniform[10, 100] tokens, lang
  multinomial (en 0.4, de/es/fr/zh 0.15), source uniform over
  src0..src19, and the observed ORGANIC duplication process: 5% of
  docs copy a uniformly chosen earlier doc's text + ' dup' (exact-dup
  collisions then arise naturally when two dup-docs pick the same
  base, matching the 8-groups-in-5000 rate at sf0.1).
- embeddings: continuing the observed 500 -> 2000 progression (4x per
  docs-decade), 64-dim float32 unit Gaussian vectors, label uniform
  0..9, no duplicate vectors (none exist at either test SF).

Then it times the TOP-10 heaviest registry rows (by the r14 sf0.1
bench) at sf0.01 -> sf0.1 -> organic-sf1 and fits the top-decade
exponent b = log(w2/w1)/log(N2/N1). One timed noop-sink wall per
scale after a count() warmup (the fit_decade3 protocol: top-decade
walls are far above this box's job overhead). The capstone flag cache
is cleared before every timed run so each wall measures the cold
stage stack, not a memoized read.

Usage: python tools/organic_decade.py [names...]
       python tools/organic_decade.py --ann-fourth
Output: one markdown table (append to SCALING.md) + per-run lines.

``--ann-fourth`` (round 16, r15 verdict task 8): the ANN rows fit
b = 0.75-0.82 over the 500 -> 2,000 -> 8,000 embeddings ladder —
closest to linear of any family. This mode extends the ladder ONE
more 4x step (32,000 embeddings, same unit-Gaussian generative
process) for the two index-lifecycle rows and reports the fourth
point + the last-step exponent, confirming whether the bounded-probe
design bends the curve before the next corpus decade.
"""

from __future__ import annotations

import math
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

ORGANIC_DIR = "/tmp/chiv-organic-sf1"
SF001 = "/root/testdata/sf0.01"
SF01 = "/root/testdata/sf0.1"
SEED = 15

#: the exact vocabulary observed in the driver's documents tables
#: (31 distinct words at both SFs; 'dup' only ever appears as the
#: near-dup suffix, so it is not in the fresh-text vocab)
VOCAB = (
    "spark window merge table column vector stream value data small "
    "join filter big group hash customer sort order slow line part "
    "fast row the agg key query a scan batch"
).split()

#: observed lang weights (sf0.1: en 2059/5000, others ~744/5000 each)
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_W = [0.4, 0.15, 0.15, 0.15, 0.15]

DUP_FRAC = 0.05  # 250 of 5000 sf0.1 docs carry the ' dup' suffix

#: top-10 heaviest registry rows by the r14 sf0.1 bench, with the
#: input table whose row count the exponent fits against (the ANN
#: rows read embeddings, which grow 4x per docs-decade here exactly
#: as they do between the driver's own SFs)
HEAVY = {
    "pipeline_capstone_dataset_card": "documents",
    "streaming_incremental_exact_substr": "documents",
    "pipeline_curation_capstone": "documents",
    "exact_substr_delete_then_probe": "documents",
    "dedup_exact_substr": "documents",
    "dedup_incremental_exact_substr": "documents",
    "dedup_exact_substr_fixpoint": "documents",
    "ann_delete_then_probe": "embeddings",
    "ann_ivfpq_maintenance": "embeddings",
    "ann_ivfpq_topk": "embeddings",
    # round 17 additions (not in the default top-10 run; name them):
    # the cluster-output fuzzy rows fit against part (r16 task 8 —
    # members x <=cap reps should hold b~1 at the next decade) and
    # the persisted-codes probe twin against embeddings (task 4)
    "join_fuzzy_cluster_assign": "part",
    "join_fuzzy_cluster_recall": "part",
    "ann_ivfpq_topk_persisted": "embeddings",
    "ingest_delete_then_probe": "documents",
}


def build_organic(out_dir: str = ORGANIC_DIR, n_docs: int = 50_000,
                  n_emb: int = 8_000, seed: int = SEED) -> None:
    """Write documents.parquet / embeddings.parquet as single FILES
    (the streaming rows' pathGlobFilter matches file names)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)

    texts: list[str] = []
    for i in range(n_docs):
        if i > 0 and rng.random() < DUP_FRAC:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(rng.choice(VOCAB, size=n)))
    langs = rng.choice(LANGS, size=n_docs, p=LANG_W)
    sources = [f"src{int(s)}" for s in rng.integers(0, 20, size=n_docs)]
    docs = pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([str(x) for x in langs], pa.string()),
            "source": pa.array(sources, pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int32()),
        }
    )
    pq.write_table(docs, f"{out_dir}/documents.parquet")

    vecs = rng.standard_normal((n_emb, 64)).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.table(
        {
            "vec_id": pa.array(range(n_emb), pa.int64()),
            "embedding": pa.array(
                [v.tolist() for v in vecs], pa.list_(pa.float32())
            ),
            "label": pa.array(
                [int(x) for x in rng.integers(0, 10, size=n_emb)], pa.int32()
            ),
        }
    )
    pq.write_table(emb, f"{out_dir}/embeddings.parquet")

    # part (round 17, r16 verdict task 8 — the fuzzy cluster rows'
    # input): continue the observed generative process at 10x sf0.1 —
    # p_name uniform over the same 8-adjective x 8-noun grid (the
    # clique-dense shape the cluster formulation exists for), other
    # columns drawn from the observed sf0.1 value sets
    n_part = n_docs * 4  # 20,000 at sf0.1's 5,000 docs -> 200,000
    real = pq.read_table(f"{SF01}/part.parquet")
    adjs = sorted({n.split(" ")[0] for n in real.column("p_name").to_pylist()})
    nouns = sorted({n.split(" ")[1] for n in real.column("p_name").to_pylist()})
    brands = sorted(set(real.column("p_brand").to_pylist()))
    types = sorted(set(real.column("p_type").to_pylist()))
    names = [
        f"{adjs[int(a)]} {nouns[int(b)]}"
        for a, b in zip(
            rng.integers(0, len(adjs), size=n_part),
            rng.integers(0, len(nouns), size=n_part),
        )
    ]
    part = pa.table(
        {
            "p_partkey": pa.array(range(n_part), pa.int64()),
            "p_name": pa.array(names, pa.string()),
            "p_brand": pa.array(
                [brands[int(i)] for i in rng.integers(0, len(brands), size=n_part)],
                pa.string(),
            ),
            "p_type": pa.array(
                [types[int(i)] for i in rng.integers(0, len(types), size=n_part)],
                pa.string(),
            ),
            "p_size": pa.array(
                [int(x) for x in rng.integers(1, 51, size=n_part)],
                real.column("p_size").type,
            ),
            "p_retailprice": pa.array(
                [900.0 + (i % 1000) / 10.0 for i in range(n_part)],
                real.column("p_retailprice").type,
            ),
        }
    )
    pq.write_table(part, f"{out_dir}/part.parquet")


#: the fourth-4x embeddings point (r15 verdict task 8): docs stay at
#: the organic-sf1 count (the ANN rows read only embeddings; keeping
#: documents identical isolates the embeddings-ladder effect)
ORGANIC4_DIR = "/tmp/chiv-organic-sf1-emb4x"

#: the index-lifecycle ANN rows on the four-point ladder; round 17
#: adds the persisted-codes probe twin (r16 verdict task 4: its
#: fitted b should sit well below the build row's 0.99 re-encode
#: curve — the twin's warmup seeds the codes, so the timed wall is
#: probe + ADC + exact re-rank only)
ANN_FOURTH = ["ann_ivfpq_topk", "ann_delete_then_probe", "ann_ivfpq_topk_persisted"]


def ann_fourth() -> None:
    """Four-point embeddings ladder for the ANN rows: 500 -> 2,000 ->
    8,000 -> 32,000 vectors, per-step exponents printed alongside the
    last-step b (the task-8 deliverable)."""
    from chiv_spark.queries import REGISTRY
    from chiv_spark.session import get_spark

    spark = get_spark("organic-ann-fourth")
    spark.sparkContext.setLogLevel("ERROR")
    build_organic()
    build_organic(out_dir=ORGANIC4_DIR, n_emb=32_000)
    ladder = [SF001, SF01, ORGANIC_DIR, ORGANIC4_DIR]
    rows = []
    for name in ANN_FOURTH:
        ns, ts = [], []
        for d in ladder:
            n = spark.read.parquet(f"{d}/embeddings.parquet").count()
            REGISTRY[name].fn(spark, d).count()  # warmup
            t0 = time.perf_counter()
            REGISTRY[name].fn(spark, d).write.format("noop").mode(
                "overwrite"
            ).save()
            w = time.perf_counter() - t0
            ns.append(n)
            ts.append(w)
            print(
                f"{name} @ {os.path.basename(d)}: N={n:,} wall={w:.2f}s",
                flush=True,
            )
        bs = [
            math.log(ts[i] / ts[i - 1]) / math.log(ns[i] / ns[i - 1])
            for i in range(1, len(ts))
        ]
        rows.append((name, ns, ts, bs))
    print("\n| row | embeddings ladder | walls (s) | per-step b | last-step b |")
    print("|---|---|---|---|---|")
    for name, ns, ts, bs in rows:
        print(
            f"| `{name}` | {' → '.join(f'{n:,}' for n in ns)} | "
            f"{' / '.join(f'{t:.2f}' for t in ts)} | "
            f"{' / '.join(f'{b:.2f}' for b in bs)} | {bs[-1]:.2f} |"
        )
    spark.stop()


def repeated_arrivals(n_folds: int = 8) -> None:
    """Sequential shard arrivals at organic sf1 (r16 verdict task 7):
    the single-arrival fits measure ONE shard; the 100 TB claim is
    that per-shard cost stays FLAT as folds accumulate. Partition the
    organic corpus by a stable hash into a resident base (12/20) and
    ``n_folds`` equal 5% shards; seed once; then fold the shards in
    sequence, timing each fold_shard (which computes + persists the
    shard's flags, its counter generation, and every index tier's
    generation — the whole arrival). Midway, run compact_ingest_state
    and report file counts, so the table shows both the generation
    accumulation and that compaction bounds it."""
    import glob
    import tempfile

    from pyspark.sql import functions as F

    from chiv_spark.functions.hashing import hash64
    from chiv_spark.queries import REGISTRY
    from chiv_spark.queries.ingest import (
        compact_ingest_state,
        fold_shard,
        seed_ingest_state,
    )
    from chiv_spark.session import get_spark

    spark = get_spark("organic-arrivals")
    spark.sparkContext.setLogLevel("ERROR")
    build_organic()
    docs = (
        spark.read.parquet(f"{ORGANIC_DIR}/documents.parquet")
        .select("doc_id", "text")
    )
    slot = hash64(F.concat(F.lit("arr:"), F.col("doc_id").cast("string"))) % 20
    resident = docs.filter(slot >= n_folds)
    keepers = {
        m: REGISTRY[f"dedup_{nm}_canonical"].fn(spark, ORGANIC_DIR)
        for m, nm in (("img", "image"), ("aud", "audio"), ("vid", "video"))
    }
    state = tempfile.mkdtemp(prefix="chiv-arrivals-")

    def n_files() -> int:
        return len(
            glob.glob(os.path.join(state, "**", "*.parquet"), recursive=True)
        )

    t0 = time.perf_counter()
    seed_ingest_state(spark, resident, keepers, state)
    seed_w = time.perf_counter() - t0
    n_res = resident.count()
    print(f"seed: {n_res:,} resident docs, wall={seed_w:.2f}s, files={n_files()}", flush=True)
    walls = []
    for k in range(n_folds):
        shard = docs.filter(slot == k)
        n_sh = shard.count()
        t0 = time.perf_counter()
        fold_shard(spark, shard, state, batch_id=k)
        w = time.perf_counter() - t0
        walls.append(w)
        note = ""
        if k == n_folds // 2 - 1:
            fb = n_files()
            t0 = time.perf_counter()
            compact_ingest_state(spark, state)
            cw = time.perf_counter() - t0
            note = f"  [compacted: {fb} -> {n_files()} files, {cw:.2f}s]"
        print(
            f"fold {k}: |shard|={n_sh:,} wall={w:.2f}s files={n_files()}{note}",
            flush=True,
        )
    print("\n| fold index | wall (s) |")
    print("|---|---|")
    for k, w in enumerate(walls):
        print(f"| {k} | {w:.2f} |")
    half = n_folds // 2
    a = sum(walls[:half]) / half
    b = sum(walls[half:]) / (n_folds - half)
    print(
        f"\nseed {seed_w:.1f}s once; mean arrival first-half {a:.2f}s vs "
        f"second-half {b:.2f}s (ratio {b / a:.2f}) — flat means per-shard "
        "cost does not grow with accumulated folds",
        flush=True,
    )
    spark.stop()


def main() -> None:
    from chiv_spark.core import state
    from chiv_spark.queries import REGISTRY
    from chiv_spark.session import get_spark

    if sys.argv[1:] == ["--ann-fourth"]:
        ann_fourth()
        return
    if sys.argv[1:] and sys.argv[1] == "--arrivals":
        repeated_arrivals(int(sys.argv[2]) if sys.argv[2:] else 8)
        return
    names = sys.argv[1:] or list(HEAVY)
    spark = get_spark("organic-decade")
    spark.sparkContext.setLogLevel("ERROR")
    build_organic()
    ncache: dict[tuple[str, str], int] = {}

    def n_of(d: str, table: str) -> int:
        if (d, table) not in ncache:
            ncache[(d, table)] = spark.read.parquet(
                f"{d}/{table}.parquet"
            ).count()
        return ncache[(d, table)]

    rows = []
    for name in names:
        table = HEAVY.get(name, "documents")
        ns, ts, outs = [], [], []
        for d in (SF001, SF01, ORGANIC_DIR):
            n = n_of(d, table)
            state.clear("capstone")
            t0 = time.perf_counter()
            out = REGISTRY[name].fn(spark, d).count()  # warmup + volume
            warm = time.perf_counter() - t0
            state.clear("capstone")
            t0 = time.perf_counter()
            REGISTRY[name].fn(spark, d).write.format("noop").mode(
                "overwrite"
            ).save()
            w = time.perf_counter() - t0
            ns.append(n)
            ts.append(w)
            outs.append(out)
            print(
                f"{name} @ {os.path.basename(d)}: N={n:,} out={out:,} "
                f"wall={w:.2f}s (warmup {warm:.2f}s)",
                flush=True,
            )
        top = math.log(ts[2] / ts[1]) / math.log(ns[2] / ns[1])
        rows.append((name, ns, ts, outs, top))
    print("\n| row | N input rows (ladder) | walls (s) | out rows | organic-decade b |")
    print("|---|---|---|---|---|")
    for name, ns, ts, outs, top in rows:
        walls = " / ".join(f"{x:.2f}" for x in ts)
        os_ = " / ".join(f"{o:,}" for o in outs)
        print(
            f"| `{name}` | {ns[0]:,} → {ns[1]:,} → {ns[2]:,} | {walls} | "
            f"{os_} | {top:.2f} |"
        )
    spark.stop()


if __name__ == "__main__":
    main()
