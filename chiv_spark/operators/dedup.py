"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram
Jaccard.

Scale design (the 100 TB story — every pipeline here avoids the
quadratic all-pairs self-join):

- exact: hash-groupBy on a fingerprint — one shuffle, linear.
- MinHash+LSH: shingle → K minhashes → banded signatures →
  *bucket-join* (pairs only within equal band buckets). At scale the
  band join is an equi-join Catalyst can shuffle-hash; candidate
  verification touches only the candidate set.
- SimHash: 60-bit signature; Hamming-≤k pairs found via the
  pigeonhole chunk trick (k+1 chunks; any pair within distance k
  shares ≥1 exact chunk) — again an equi-join, not a cross join.
- n-gram Jaccard: inverted-index join on shingles (pairs that share
  at least one shingle), exact |A∩B|/|A∪B| — never materializes
  non-overlapping pairs.

Determinism: every hash derives from md5 (chiv_spark.functions.hashing)
so the DuckDB oracle computes bit-identical signatures; all
fraction outputs are exact small-denominator rationals in binary
floating point (k/16, inter/union) — equal across engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from chiv_spark.functions.hashing import hash64
from chiv_spark.operators.text import fingerprint

# MinHash parameters, shared with the oracle SQL
NUM_PERMS = 16
NUM_BANDS = 4
ROWS_PER_BAND = NUM_PERMS // NUM_BANDS
SHINGLE_WORDS = 3

# Permutation family: ONE md5 per shingle, 16 hashes derived
# arithmetically — h split into 30-bit halves h1/h2, then
# mh_p = (h1*C1_p + h2*C2_p + C3_p) mod (2^61-1). Products stay under
# 2^61 (h_i < 2^30, C1/C2 < 2^28), sums under 2^63 — exact bigint
# arithmetic, identical in DuckDB. Constants are md5-derived so both
# engines share them as literals.
MINHASH_PRIME = (1 << 61) - 1
_H_SPLIT = 1 << 30


def _perm_consts(num_perms: int = NUM_PERMS) -> list[tuple[int, int, int]]:
    import hashlib

    out = []
    for p in range(num_perms):
        c1 = int(hashlib.md5(f"minhash-c1-{p}".encode()).hexdigest()[:7], 16) | 1
        c2 = int(hashlib.md5(f"minhash-c2-{p}".encode()).hexdigest()[:7], 16) | 1
        c3 = int(hashlib.md5(f"minhash-c3-{p}".encode()).hexdigest()[:15], 16)
        out.append((c1, c2, c3))
    return out


PERM_CONSTS = _perm_consts()

# SimHash parameters
SIM_BITS = 60  # signatures are 60-bit (md5-derived hashes are 60-bit)
SIM_CHUNKS = 4  # pigeonhole: hamming <= SIM_CHUNKS-1 guaranteed found
SIM_CHUNK_BITS = 15
SIM_MAX_HAMMING = 3


def exact_duplicates(docs: DataFrame) -> DataFrame:
    """Exact dedup via normalized-text fingerprint group-by: returns
    one row per duplicate group (fingerprint, first doc kept, group
    size). Linear: one shuffle on the fingerprint."""
    return (
        docs.select("doc_id", fingerprint().alias("fp"))
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).cast("long").alias("group_size"),
        )
        .filter(F.col("group_size") > 1)
    )


def deduplicated_counts(docs: DataFrame) -> DataFrame:
    """Dedup summary per lang after exact dedup (min doc_id per
    fingerprint survives) — exercised on a corpus with real dups by
    unioning the corpus with itself in the query layer."""
    survivors = (
        docs.select("doc_id", "lang", fingerprint().alias("fp"))
        .groupBy("fp", "lang")
        .agg(F.min("doc_id").alias("doc_id"))
    )
    return survivors.groupBy("lang").agg(F.count(F.lit(1)).cast("long").alias("n_docs"))


def shingles(docs: DataFrame, words: int = SHINGLE_WORDS) -> DataFrame:
    """Distinct word n-gram shingles per document (JVM-side
    split/transform/explode)."""
    toks = docs.select("doc_id", F.split("text", " ").alias("toks")).filter(
        F.size("toks") >= words
    )
    idx = f"sequence(0, size(toks) - {words})"
    parts = ", ".join(f"toks[i + {j}]" for j in range(words))
    return toks.select(
        "doc_id",
        F.explode(F.expr(f"transform({idx}, i -> concat_ws(' ', {parts}))")).alias("shingle"),
    ).distinct()


def minhash_signatures_wide(docs: DataFrame, num_perms: int = NUM_PERMS) -> DataFrame:
    """(doc_id, mh0..mh{k-1}): all minhashes in ONE groupBy with k
    min-aggregates over k arithmetically-derived hashes of a single
    md5 per shingle — no row multiplication, one shuffle, 1/k-th the
    md5 cost."""
    # One spark.sql call for the whole shingle→hash→16-min pipeline:
    # building the 16 aggregates as Column objects costs hundreds of
    # py4j round-trips per construction; as SQL text it's one call and
    # the identical Catalyst plan. Integer div/mod only — `/` on longs
    # is floating division in Spark and loses exactness above 2^53.
    parts = ", ".join(f"toks[i + {j}]" for j in range(SHINGLE_WORDS))
    aggs = ", ".join(
        f"MIN((h1 * {c1} + h2 * {c2} + {c3}) % {MINHASH_PRIME}) AS mh{p}"
        for p, (c1, c2, c3) in enumerate(PERM_CONSTS[:num_perms])
    )
    return docs.sparkSession.sql(
        f"""
        WITH toks AS (SELECT doc_id, split(text, ' ') AS toks FROM {{docs}}),
        sh AS (
            SELECT DISTINCT doc_id, shingle FROM (
                SELECT doc_id,
                       explode(transform(sequence(0, size(toks) - {SHINGLE_WORDS}),
                                         i -> concat_ws(' ', {parts}))) AS shingle
                FROM toks WHERE size(toks) >= {SHINGLE_WORDS}
            )
        ),
        base AS (
            SELECT doc_id, h % {_H_SPLIT} AS h1, h div {_H_SPLIT} AS h2
            FROM (
                SELECT doc_id,
                       CAST(conv(substring(md5(shingle), 1, 15), 16, 10) AS BIGINT) AS h
                FROM sh
            )
        )
        SELECT doc_id, {aggs} FROM base GROUP BY doc_id
        """,
        docs=docs,
    )


def minhash_signatures(docs: DataFrame, num_perms: int = NUM_PERMS) -> DataFrame:
    """(doc_id, p, mh) long form (oracle/tests shape), unpivoted from
    the wide aggregation."""
    wide = minhash_signatures_wide(docs, num_perms)
    pairs = ", ".join(f"{p}, mh{p}" for p in range(num_perms))
    return wide.selectExpr(
        "doc_id", f"stack({num_perms}, {pairs}) as (p, mh)"
    ).select("doc_id", F.col("p").cast("int").alias("p"), "mh")


def minhash_band_index(docs: DataFrame) -> DataFrame:
    """(doc_id, mh0..mh15, band, bh): the banded MinHash signature
    index — 4 rows per doc (one per band), full signature carried
    along. This is the PERSISTABLE relation of the LSH tier: write it
    once per corpus snapshot and join new shards against it
    (incremental_lsh_pairs) instead of re-shingling the whole corpus
    per arriving shard. Carrying 16 longs per row costs ~128 bytes in
    the band-join shuffle — cheaper than re-joining the signature
    table onto candidates (see minhash_lsh_pairs)."""
    sigw = minhash_signatures_wide(docs)
    bh_cols = []
    for band in range(NUM_BANDS):
        members = ", ".join(f"mh{band * ROWS_PER_BAND + i}" for i in range(ROWS_PER_BAND))
        bh_cols.append(
            f"CAST(conv(substring(md5(concat_ws(':', CAST({band} AS STRING), "
            f"concat_ws(',', {members}))), 1, 15), 16, 10) AS BIGINT) AS bh{band}"
        )
    mh_cols = [f"mh{p}" for p in range(NUM_PERMS)]
    wide = sigw.selectExpr("doc_id", *mh_cols, *bh_cols)
    stack_pairs = ", ".join(f"{b}, bh{b}" for b in range(NUM_BANDS))
    return wide.selectExpr(
        "doc_id", *mh_cols, f"stack({NUM_BANDS}, {stack_pairs}) as (band, bh)"
    )


#: single 16-term double sum over paired signature columns (1.0D
#: literals: bare 1.0 parses as DECIMAL in Spark SQL — D keeps the
#: original double accumulation, bit-identical left-assoc order)
_MATCH_EXPR = " + ".join(
    f"IF(a.mh{p} = b.mh{p}, 1.0D, 0.0D)" for p in range(NUM_PERMS)
)


def incremental_lsh_pairs(
    delta_docs: DataFrame | None,
    index: DataFrame,
    threshold: float = 0.5,
    delta_index: DataFrame | None = None,
) -> DataFrame:
    """Incremental near-dup detection: estimate-Jaccard pairs between
    a NEW document shard and an existing corpus represented by its
    persisted MinHash band index (minhash_band_index output, read
    back from parquet), plus pairs WITHIN the new shard.

    The production shape for a growing corpus: only the delta is
    shingled and min-hashed (O(|delta|)); the corpus contributes its
    pre-computed index relation, so arrival cost is the band
    equi-join against the index — never a corpus re-read of raw text.
    Corpus-internal pairs are intentionally absent (they were
    resolved when their shards arrived). doc_ids must be disjoint
    between shard and index (enforced upstream by id allocation).
    Pass ``delta_index`` to reuse an already-built shard index (the
    streaming fold builds it once for the join AND the index append).
    Output pairs are oriented doc_a < doc_b like minhash_lsh_pairs."""
    if delta_docs is None and delta_index is None:
        raise ValueError("pass delta_docs or delta_index")
    dsig = delta_index if delta_index is not None else minhash_band_index(delta_docs)
    a = dsig.alias("a")
    est_cols = [
        F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_a"),
        F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_b"),
        F.expr(f"(({_MATCH_EXPR}) / {float(NUM_PERMS)}D)").alias("est_jaccard"),
    ]
    # doc_id inequality: ids are disjoint by contract, but a replayed
    # microbatch whose index fold was compacted under its feet (losing
    # the src_batch exclude guard) would otherwise join its own folded
    # signatures and emit corrupt (d, d, 1.0) self-pairs — cheap
    # invariant insurance, not a behavior change
    vs_index = a.join(
        index.alias("b"),
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bh") == F.col("b.bh"))
        & (F.col("a.doc_id") != F.col("b.doc_id")),
    ).select(*est_cols)
    vs_self = a.join(
        dsig.alias("b"),
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bh") == F.col("b.bh"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(*est_cols)
    return (
        vs_index.unionByName(vs_self)
        .filter(F.col("est_jaccard") >= threshold)
        .distinct()
        .select("doc_a", "doc_b", F.col("est_jaccard").cast("double").alias("est_jaccard"))
    )


def crosscorpus_lsh_pairs(
    corpus_index: DataFrame,
    ref_index: DataFrame,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-dup pairs between a large corpus and a FIXED-SIZE
    reference set, both as minhash_band_index relations — the shape
    of near-dup eval decontamination: the reference (a benchmark/eval
    split) is bounded at any corpus scale, so its index is BROADCAST
    and the corpus side never shuffles — scan, band equi-join against
    the broadcast, inline estimate, filter. No self-pairs on either
    side (corpus-corpus dedup is minhash_lsh_pairs' job; ref-ref
    contamination is meaningless). Returns (doc_id, ref_doc_id,
    est_jaccard) for estimated Jaccard ≥ threshold."""
    a = corpus_index.alias("a")
    est = a.join(
        F.broadcast(ref_index.alias("b")),
        (F.col("a.band") == F.col("b.band")) & (F.col("a.bh") == F.col("b.bh")),
    ).selectExpr(
        "a.doc_id AS doc_id",
        "b.doc_id AS ref_doc_id",
        f"(({_MATCH_EXPR}) / {float(NUM_PERMS)}D) AS est_jaccard",
    )
    # filter before distinct: multi-band collisions carry identical
    # estimates (pure signature function), so the triple dedupes exactly
    return (
        est.filter(F.col("est_jaccard") >= threshold)
        .distinct()
        .select(
            "doc_id", "ref_doc_id", F.col("est_jaccard").cast("double").alias("est_jaccard")
        )
    )


def minhash_lsh_pairs(
    docs: DataFrame, threshold: float = 0.5, bucket_cap: int | None = None
) -> DataFrame:
    """Near-duplicate candidate pairs via banded MinHash-LSH with
    estimated Jaccard ≥ threshold.

    Plan shape: shingle explode → ONE wide min-agg (16 aggregates) →
    band bucket equi-join carrying the full signature on both sides →
    estimate computed inline on the joined row as a single 16-term
    expression. No cross join and no post-hoc signature joins: the
    expensive shingle→agg pipeline feeds exactly one self-join (whose
    two sides are the identical subplan, so the shuffle is written
    once and reused). At scale the band join is the only wide shuffle;
    AQE handles skewed buckets (a degenerate bucket = a true near-dup
    cluster). Carrying 16 extra longs per (doc, band) row costs ~128
    bytes/row in that one shuffle — far cheaper than re-shuffling the
    signature table twice to join it back onto candidates.

    ``bucket_cap`` is the production defensive dial (r7 verdict task
    5): a band bucket of m members emits m^2/2 candidate rows, so one
    adversarial near-dup cluster of 10^6 docs would emit 5*10^11
    pairs from a single bucket. With a cap, (band, bh) buckets whose
    membership exceeds it are quarantined — excluded from the join
    entirely (their members stay eligible through their OTHER bands,
    so distinct true-dup pairs still surface unless every shared band
    is oversized — at that point the cluster is better handled by the
    exact-dup fingerprint path). Default None = off: output and the
    DuckDB oracle are unchanged.
    """
    banded = minhash_band_index(docs)
    if bucket_cap is not None:
        oversized = (
            banded.groupBy("band", "bh")
            .agg(F.count(F.lit(1)).alias("__m"))
            .filter(F.col("__m") > int(bucket_cap))
            .select("band", "bh")
        )
        # quarantine join: the oversized list is tiny by construction
        # (only pathological buckets) — broadcast anti-join, no extra
        # wide shuffle of the banded relation
        banded = banded.join(F.broadcast(oversized), ["band", "bh"], "left_anti")
    a, b = banded.alias("a"), banded.alias("b")
    est = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .selectExpr(
            "a.doc_id AS doc_a",
            "b.doc_id AS doc_b",
            f"(({_MATCH_EXPR}) / {float(NUM_PERMS)}D) AS est_jaccard",
        )
    )
    # filter before distinct: pairs colliding in multiple bands carry
    # the same estimate, so distinct-after-filter dedupes exactly
    return (
        est.filter(F.col("est_jaccard") >= threshold)
        .distinct()
        .select("doc_a", "doc_b", F.col("est_jaccard").cast("double").alias("est_jaccard"))
    )


def lsh_quarantine_rescue(
    docs: DataFrame,
    bucket_cap: int,
    reps: int = 2,
    threshold: float = 0.5,
) -> DataFrame:
    """Stage-2 recall recovery for quarantined LSH buckets (the
    bucket_cap's one honest gap, SCALING.md round-8): a saturated
    (band, bh) bucket of NON-verbatim near-dups loses its pairs when
    `minhash_lsh_pairs(bucket_cap=...)` quarantines it, unless other
    bands happen to catch them. This stage re-reports mega-cluster
    MEMBERSHIP at bounded cost: per saturated bucket, pick ``reps``
    stable-hash representatives and pair every member against each
    representative — m*reps rows per bucket instead of m^2/2, linear
    in the cluster size. The output is the star-schema view of the
    cluster (member ↔ representative edges with estimated Jaccard),
    which is exactly what downstream keep-one-per-cluster dedup needs;
    the full m^2 pair set was never required.

    Plan shape: one extra pass over the banded relation (already built
    for stage 1), a broadcast semi-join against the tiny saturated-
    bucket list, a PARTITIONED window (per-bucket row_number — never
    a global sort) to pick representatives, and one m×reps equi-join
    on (band, bh). Estimates come from the carried mh0..15 signature
    columns — raw text is never touched."""
    banded = minhash_band_index(docs)
    oversized = (
        banded.groupBy("band", "bh")
        .agg(F.count(F.lit(1)).alias("__m"))
        .filter(F.col("__m") > int(bucket_cap))
        .select("band", "bh")
    )
    # saturated buckets are pathological-few by construction: broadcast
    members = banded.join(F.broadcast(oversized), ["band", "bh"], "left_semi")
    from pyspark.sql.window import Window

    rep_order = hash64(F.concat(F.lit("rep:"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("band", "bh").orderBy(rep_order.asc(), F.col("doc_id").asc())
    rep_rows = (
        members.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= int(reps))
        .drop("__rk")
    )
    a, b = members.alias("a"), rep_rows.alias("b")
    est = a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bh") == F.col("b.bh"))
        & (F.col("a.doc_id") != F.col("b.doc_id")),
    ).selectExpr(
        "least(a.doc_id, b.doc_id) AS doc_a",
        "greatest(a.doc_id, b.doc_id) AS doc_b",
        f"(({_MATCH_EXPR}) / {float(NUM_PERMS)}D) AS est_jaccard",
    )
    # distinct: rep-rep pairs appear twice (each side as the member),
    # and a pair can sit in several saturated buckets — the estimate
    # is a pure signature function so duplicates carry equal values
    return (
        est.filter(F.col("est_jaccard") >= threshold)
        .distinct()
        .select("doc_a", "doc_b", F.col("est_jaccard").cast("double").alias("est_jaccard"))
    )


#: edge count at or under which min_label_components runs driver-side
#: union-find in one job instead of the propagation loop (~4 jobs per
#: round). Measured (r17, sf0.1): split_leakage_safe 7.8 → 3.5 s,
#: dedup_video_canonical 7.2 → 5.0 s, dedup_image_canonical 3.4 → 1.9 s
#: on edge lists of hundreds to thousands of edges; 200k bounds the
#: collected edge list.
_SMALL_PATH_EDGES = 200_000


def min_label_components(
    pairs: DataFrame, a_col: str = "doc_a", b_col: str = "doc_b"
) -> DataFrame:
    """Connected components over an undirected pair relation by
    iterative min-label propagation — extracted verbatim (r10) from
    queries/stats.py::dedup_clusters so the image tier
    (dedup_image_canonical) and any future pair source share one
    implementation. Returns (node, cluster_id) for every node that
    appears in a pair; singletons are absent (callers anti-join them
    back, each its own cluster).

    Near-dup components are cliques or near-cliques (every member
    pairs with most others), so the diameter — and the round count —
    is 1-3; plain edge propagation beats pointer-jumping
    (label[label]) here because the jump's extra self-join costs more
    per round than the rounds it could save. The edge set is
    right-sized and persisted once up front (each round re-reads it);
    every intermediate cache block is released before return."""
    from chiv_spark.plans.partitions import right_size

    p = pairs.select(F.col(a_col).alias("doc_a"), F.col(b_col).alias("doc_b"))
    edges = (
        p.union(p.select(F.col("doc_b"), F.col("doc_a"))).toDF("a", "b").distinct()
    )
    # materialize the edge set ONCE up front: the count() fully
    # populates the cache before the loop, so no concurrent subtree
    # can race it into recomputing the upstream pair plan — and
    # unlike localCheckpoint, persist() can be released cleanly.
    edges = edges.persist()
    n_edges = edges.count()
    edges_cached = edges
    # Size-gated single-pass path (r17): near-dup pair graphs are
    # usually tiny relative to the corpus (cliques of dups), and the
    # propagation loop below costs ~4 scheduled jobs PER ROUND — pure
    # overhead at small edge counts. At or under _SMALL_PATH_EDGES (the
    # count is already in hand, so the check is free), collect the
    # edge list — bounded by the gate — and run exact union-find with
    # min-label-per-component on the driver: identical (node,
    # cluster_id) output to the converged propagation, in one job
    # instead of ~a dozen. Integral node ids only (every caller's id
    # columns); anything else falls through to the loop. Above the
    # gate — the 100 TB shape — the distributed loop runs unchanged.
    node_type = edges.schema["a"].dataType.typeName()
    if n_edges <= _SMALL_PATH_EDGES and node_type in ("long", "integer", "short", "byte"):
        parent: dict = {}

        def _find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:
                parent[x], x = r, parent[x]
            return r

        # Arrow both ways (r18, r17 verdict #4: the py4j row path
        # pickled up to 2x200k cells per call and re-pickled the
        # result rows back — the fuzzy-cluster consumers paid it every
        # run): toPandas rides the Arrow collect, and createDataFrame
        # from a pandas frame rides the Arrow upload.
        import pandas as pd

        pdf = edges.toPandas()
        for a, b in zip(pdf["a"], pdf["b"]):
            a, b = int(a), int(b)
            if a not in parent:
                parent[a] = a
            if b not in parent:
                parent[b] = b
            ra, rb = _find(a), _find(b)
            if ra != rb:
                parent[rb] = ra
        label: dict = {}
        for n in parent:
            r = _find(n)
            if r not in label or n < label[r]:
                label[r] = n
        nodes = sorted(parent)
        out_pdf = pd.DataFrame(
            {
                "node": pd.Series(nodes, dtype="int64"),
                "cluster_id": pd.Series(
                    [int(label[_find(n)]) for n in nodes], dtype="int64"
                ),
            }
        )
        edges_cached.unpersist()
        from pyspark.sql.types import LongType, StructField, StructType

        schema = StructType(
            [
                StructField("node", edges.schema["a"].dataType, False),
                StructField("cluster_id", LongType(), False),
            ]
        )
        return pairs.sparkSession.createDataFrame(out_pdf, schema)
    edges = right_size(edges_cached, n_edges)
    labels = (
        edges.select("a").distinct().select(F.col("a").alias("node"), F.col("a").alias("label"))
    )
    prev = None
    while True:
        neighbor_min = (
            edges.join(labels, edges.b == labels.node)
            .groupBy(edges.a)
            .agg(F.min("label").alias("nmin"))
            .select(F.col("a").alias("node"), "nmin")
        )
        updated = (
            labels.join(neighbor_min, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))
                ).alias("label"),
                (F.col("nmin") < F.col("label")).alias("changed"),
            )
        ).persist()
        n_changed = updated.filter(F.col("changed")).count()
        new_labels = updated.select("node", "label")
        if prev is not None:
            prev.unpersist()
        prev = updated
        labels = new_labels
        if n_changed == 0:
            break
    result = labels.select(
        "node", F.col("label").cast("long").alias("cluster_id")
    ).localCheckpoint(eager=True)
    if prev is not None:
        prev.unpersist()
    edges_cached.unpersist()
    return result


def simhash_signatures(docs: DataFrame) -> DataFrame:
    """60-bit SimHash per document from distinct-token hashes.

    bit b of the signature = 1 iff sum over tokens of ±1 (sign from
    bit b of the token hash) is positive — integer arithmetic only,
    so any aggregation order gives the same result.
    """
    # ONE groupBy with 60 sum-aggregates instead of a x60 row explode +
    # two shuffles: per-bit contribution is +-1 from bit b of the token
    # hash; integer sums are order-free so values match the oracle's
    # long-form computation exactly. The whole pipeline is a single
    # spark.sql call: building 60 aggregates + a 60-term signature sum
    # as Column objects costs ~2000 py4j round-trips (~1 s of driver
    # wall per construction); as SQL text it's one round-trip and the
    # identical Catalyst plan.
    sum_exprs = ", ".join(
        f"SUM(IF((th div shiftleft(1L, {b})) % 2 = 1, 1, -1)) AS s{b}" for b in range(SIM_BITS)
    )
    sig_expr = " + ".join(
        f"IF(s{b} > 0, CAST({1 << b} AS BIGINT), CAST(0 AS BIGINT))" for b in range(SIM_BITS)
    )
    return docs.sparkSession.sql(
        f"""
        WITH toks AS (
            SELECT DISTINCT doc_id, tok FROM (
                SELECT doc_id, explode(split(text, ' ')) AS tok FROM {{docs}}
            )
        ),
        th AS (
            SELECT doc_id,
                   CAST(conv(substring(md5(tok), 1, 15), 16, 10) AS BIGINT) AS th
            FROM toks
        ),
        sums AS (SELECT doc_id, {sum_exprs} FROM th GROUP BY doc_id)
        SELECT doc_id, {sig_expr} AS simhash FROM sums
        """,
        docs=docs,
    )


def hamming_chunk_pairs(
    sig: DataFrame,
    id_col: str = "doc_id",
    sig_col: str = "simhash",
    chunks: int = SIM_CHUNKS,
    chunk_bits: int = SIM_CHUNK_BITS,
    max_hamming: int = SIM_MAX_HAMMING,
) -> DataFrame:
    """Hamming-≤k pairs over ANY integer signature column via the
    pigeonhole chunk equi-join: split the signature into ``chunks``
    chunks of ``chunk_bits`` bits; any pair within Hamming distance
    chunks-1 must agree exactly on ≥1 chunk. Join on (chunk_index,
    chunk_value), verify with bit_count(xor) — linear in candidates,
    never an all-pairs cross join. Shared by text SimHash
    (simhash_pairs) and image perceptual-hash dedup
    (queries/llm.py dedup_image_phash): both are 60-bit signatures
    under the 4×15-bit layout. Single SQL text (one py4j round-trip;
    identical plan to the Column-built version: chunk-explode → self
    equi-join → distinct → bit_count verify). Returns
    (doc_a, doc_b, hamming) keyed by ``id_col``'s values."""
    if max_hamming > chunks - 1:
        raise ValueError(
            f"max_hamming={max_hamming} exceeds the pigeonhole guarantee "
            f"of chunks-1={chunks - 1}: pairs at distance >= {chunks} can "
            "disagree on every chunk and would be silently lost — raise "
            "chunks (more, narrower chunks) instead"
        )
    return sig.sparkSession.sql(
        f"""
        WITH chunked AS (
            SELECT {id_col} AS doc_id, {sig_col} AS sig, ci,
                   ({sig_col} div shiftleft(1L, ci * {chunk_bits}))
                       % {1 << chunk_bits} AS chunk
            FROM {{sig}}
            LATERAL VIEW explode(sequence(0, {chunks - 1})) AS ci
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                            a.sig AS sim_a, b.sig AS sim_b
            FROM chunked a
            JOIN chunked b
              ON a.ci = b.ci AND a.chunk = b.chunk AND a.doc_id < b.doc_id
        )
        SELECT doc_a, doc_b,
               CAST(bit_count(sim_a ^ sim_b) AS INT) AS hamming
        FROM cand
        WHERE bit_count(sim_a ^ sim_b) <= {max_hamming}
        """,
        sig=sig,
    )


def hamming_chunk_index(
    sig: DataFrame,
    id_col: str = "doc_id",
    sig_col: str = "simhash",
    chunks: int = SIM_CHUNKS,
    chunk_bits: int = SIM_CHUNK_BITS,
) -> DataFrame:
    """The PERSISTABLE index form of hamming_chunk_pairs' chunk
    explode — what a continuously-ingesting media pipeline folds into
    parquet so arriving fingerprints dedup against the corpus without
    recomputing its signatures (r13 verdict task 2: every text tier
    had an incremental index; the media tiers' 60-bit signatures get
    the same layout here). One row per (id, chunk position) carrying
    the full signature for the verify step: (``id_col``, sig, ci,
    ck), where ``ck = ci * 2^chunk_bits + chunk_value`` is the single
    combined join/bucket key — pmod(ck, P) gives the pb directory
    partitioning of the dedup_index conventions, so a delta's probe
    reads only the buckets its own chunks hash into. Bounded at
    ``chunks`` rows per media item regardless of corpus size."""
    return sig.select(
        F.col(id_col),
        F.col(sig_col).alias("sig"),
        F.explode(F.sequence(F.lit(0), F.lit(chunks - 1))).alias("ci"),
    ).withColumn(
        "ck",
        F.col("ci").cast("long") * (1 << chunk_bits)
        + F.expr(f"(sig div shiftleft(1L, ci * {chunk_bits})) % {1 << chunk_bits}"),
    )


def incremental_hamming_pairs(
    delta_index: DataFrame,
    index: DataFrame,
    id_col: str = "doc_id",
    max_hamming: int = SIM_MAX_HAMMING,
    chunks: int = SIM_CHUNKS,
) -> DataFrame:
    """Incremental Hamming-≤k detection: pairs between an ARRIVING
    shard and the existing corpus represented by its persisted chunk
    index (hamming_chunk_index output read back from parquet), plus
    pairs WITHIN the shard — the media-signature analog of
    incremental_lsh_pairs, sharing its contract: base-base pairs are
    intentionally absent (resolved when their shards arrived), output
    oriented doc_a < doc_b, and an id-inequality guard keeps a
    replayed microbatch whose index fold was compacted under its feet
    from emitting (d, d, 0) self-pairs. Pigeonhole is preserved: the
    chunk key is complete for Hamming ≤ chunks-1, so probing only the
    delta's own ck buckets loses nothing."""
    if max_hamming > chunks - 1:
        raise ValueError(
            f"max_hamming={max_hamming} exceeds the pigeonhole guarantee "
            f"of chunks-1={chunks - 1}"
        )
    a = delta_index.alias("a")
    out_cols = [
        F.least(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias("doc_a"),
        F.greatest(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias("doc_b"),
        F.expr("CAST(bit_count(a.sig ^ b.sig) AS INT)").alias("hamming"),
    ]
    vs_index = a.join(
        index.alias("b"),
        (F.col("a.ck") == F.col("b.ck"))
        & (F.col(f"a.{id_col}") != F.col(f"b.{id_col}")),
    ).select(*out_cols)
    vs_self = a.join(
        delta_index.alias("b"),
        (F.col("a.ck") == F.col("b.ck"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
    ).select(*out_cols)
    # filter before distinct: hamming is a pure signature function, so
    # multi-chunk collisions carry identical triples and dedupe exactly
    return (
        vs_index.unionByName(vs_self)
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def simhash_pairs(docs: DataFrame, max_hamming: int = SIM_MAX_HAMMING) -> DataFrame:
    """Hamming-≤k SimHash pairs via the pigeonhole chunk equi-join:
    split the 60-bit signature into 4×15-bit chunks; any pair within
    Hamming distance 3 must agree on ≥1 chunk. Join on (chunk_index,
    chunk_value), verify with bit_count(xor) — linear in candidates."""
    return hamming_chunk_pairs(
        simhash_signatures(docs), max_hamming=max_hamming
    )


def ngram_candidate_pairs(
    docs: DataFrame,
    threshold: float = 0.6,
    words: int = SHINGLE_WORDS,
    df_cap: int | None = None,
) -> DataFrame:
    """Candidate pairs for Jaccard >= threshold via DF-ranked prefix
    filtering (Xiao et al., "Efficient Similarity Joins for Near
    Duplicate Detection", WWW'08 / ppjoin).

    Shingles are globally ordered rarest-first (document frequency,
    then lexicographic); each doc joins only on its first
    n - floor(t*n) + 1 shingles. Any pair with true Jaccard >= t is
    guaranteed to collide on a prefix shingle (floor, not ceil, so
    IEEE rounding of t*n can only lengthen the prefix — lossless).
    Ubiquitous shingles sort last and drop out of large-doc prefixes,
    so posting lists in the join no longer scale with the document
    frequency of stop-word n-grams.

    df_cap additionally drops shingles whose document frequency
    exceeds the cap from the shingle universe entirely (lossy but
    oracle-mirrorable): at web scale a trigram appearing in 1M docs
    contributes 10^12 candidate rows and carries no near-dup signal.

    Returns (doc_a, doc_b, na, nb) with na/nb the (capped) shingle
    set sizes — a superset of the true result, exact-verified by
    ngram_jaccard_pairs.
    """
    return _candidates_from_shd(_capped_shingle_df(docs, words, df_cap), threshold)


def _capped_shingle_df(
    docs: DataFrame, words: int, df_cap: int | None
) -> DataFrame:
    """(doc_id, shingle, df): distinct shingles joined with their
    document frequency, df_cap applied. The one relation both the
    candidate generator and the hash-set verifier derive from — built
    once so callers can persist it across both branches."""
    sh = shingles(docs, words)
    dfc = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    if df_cap is not None:
        dfc = dfc.filter(F.col("df") <= int(df_cap))
    # distinct-shingle count scales with the corpus: never broadcast
    return sh.hint("shuffle_merge").join(dfc.hint("shuffle_merge"), "shingle")


def _candidates_from_shd(shd: DataFrame, threshold: float) -> DataFrame:
    from pyspark.sql import Window

    w_n = Window.partitionBy("doc_id")
    w_rk = Window.partitionBy("doc_id").orderBy("df", "shingle")
    ranked = shd.select(
        "doc_id",
        "shingle",
        "df",
        F.row_number().over(w_rk).alias("rk"),
        F.count(F.lit(1)).over(w_n).alias("n"),
    )
    # df >= 2 pre-filter (r18, guide §2.3 / the exact-df analog of
    # §3.2's Bloom pre-filter, zero false positives): a shingle whose
    # document frequency is 1 exists in exactly one doc, so it can
    # never join two distinct doc_ids — its prefix rows are dead
    # weight in the self-join exchange. On low-duplication corpora
    # most shingles are df=1, so this drops the shuffle's bytes by
    # that fraction while provably leaving the candidate pair set
    # unchanged (rk and n are computed BEFORE the filter, so prefix
    # membership itself is untouched).
    prefix = ranked.filter(
        (F.col("rk") <= F.col("n") - F.floor(F.lit(float(threshold)) * F.col("n")) + 1)
        & (F.col("df") >= 2)
    ).drop("df")
    # shuffle_merge hint: both sides of the prefix self-join scale with
    # the corpus, but Catalyst's size estimate for the window+filter
    # subtree is unreliable — on duplication-heavy corpora the static
    # planner broadcast the "small" side and OOMed the driver (AQE
    # cannot demote a statically-planned broadcast; there is no shuffle
    # stage to re-measure). An explicit sort-merge join is the only
    # plan that is safe at every corpus size.
    pa, pb = prefix.alias("a"), prefix.alias("b")
    return (
        pa.hint("shuffle_merge")
        .join(
            pb.hint("shuffle_merge"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n").alias("na"),
            F.col("b.n").alias("nb"),
        )
        .distinct()
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.6,
    words: int = SHINGLE_WORDS,
    df_cap: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for pairs with J >= threshold.

    Candidate generation is DF-ranked prefix filtering (see
    ngram_candidate_pairs — lossless, bounds posting lists); the exact
    intersection is then computed only for candidate pairs, so no step
    is quadratic in a stop-word shingle's document frequency. With
    df_cap set, Jaccard is over the capped shingle universe (mirror
    the same DF filter in any oracle SQL).

    The capped shingle relation feeds both the candidate generator
    and the verification hash-sets from ONE definition
    (_capped_shingle_df): Catalyst's ReuseExchange then computes the
    identical subtree once at execution. Persisting it instead was
    MEASURED SLOWER (10.1s vs 5.1s at sf0.1) — the cache write +
    job barrier cost more than the reuse it bought, since exchange
    reuse already deduplicates; keep this lazy."""
    shd = _capped_shingle_df(docs, words, df_cap)
    cand = _candidates_from_shd(shd, threshold)
    sh = shd.select("doc_id", "shingle")
    # verification via per-doc sorted arrays of 60-bit shingle hashes +
    # array_intersect, NOT by exploding candidates back onto the
    # posting lists: the explode shape materializes |cand| x
    # shingles-per-doc rows through two joins and a groupBy (measured
    # 16M rows / 25s at sf0.1), while this shape ships each candidate
    # once with two fixed-length long arrays and intersects JVM-side
    # (hash-set build, O(na+nb) per pair). Hash-set Jaccard equals
    # string-set Jaccard absent 60-bit collisions (~n^2/2^61 — and a
    # collision would surface as an oracle mismatch, not silently).
    # Array payload per doc is shingles-per-doc * 8 bytes; with df_cap
    # bounding useful shingles this stays KB-sized at any corpus scale.
    hsets = (
        sh.select("doc_id", hash64(F.col("shingle")).alias("h"))
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_set("h")).alias("hset"))
    )
    # candidate count scales with near-dup density, not corpus size —
    # unestimable statically, so pin the verification joins to shuffle
    # plans too (see the hint rationale in ngram_candidate_pairs)
    j = (
        cand.hint("shuffle_merge")
        .join(
            hsets.select(F.col("doc_id").alias("doc_a"), F.col("hset").alias("ha")).hint(
                "shuffle_merge"
            ),
            "doc_a",
        )
        .join(
            hsets.select(F.col("doc_id").alias("doc_b"), F.col("hset").alias("hb")).hint(
                "shuffle_merge"
            ),
            "doc_b",
        )
        .withColumn("inter", F.size(F.array_intersect("ha", "hb")))
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("na") + F.col("nb") - F.col("inter")).cast("double"),
        )
    )
    return j.filter(F.col("jaccard") >= threshold).select(
        "doc_a", "doc_b", F.col("jaccard").cast("double").alias("jaccard")
    )


def ngram_containment_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    words: int = SHINGLE_WORDS,
    df_cap: int | None = None,
) -> DataFrame:
    """Asymmetric near-dup detection via shingle CONTAINMENT
    C = |A ∩ B| / min(|A|, |B|) — the metric that catches a short
    document wholly quoted inside a long one, which symmetric
    Jaccard structurally misses (a 100-shingle doc inside a
    10,000-shingle doc has J ≈ 0.01 but C = 1.0). The standard
    suffix of an exact-dedup pipeline (Broder's containment, the
    CCNet/RefinedWeb quote-removal rationale).

    Candidates come from the containment form of ppjoin prefix
    filtering — the smaller doc's rarest-first prefix joined against
    full (DF-capped) posting lists under a (size, id) total order;
    lossless by the floor-bounded prefix-length argument (see
    in-code comment). Measured at sf0.1: 1.13M all-shared-shingle
    candidates collapse to the prefix-filtered set for the same 256
    final pairs. Verification reuses the sorted hash-set arrays of
    the Jaccard verifier (array_intersect JVM-side, O(na+nb) per
    pair); df_cap remains the scale dial for the shingle universe.
    """
    from pyspark.sql import Window

    shd = _capped_shingle_df(docs, words, df_cap)
    sh = shd.select("doc_id", "shingle")
    # ppjoin-style prefix filter, containment form: C >= t implies
    # overlap >= t * n_small, so the SMALLER doc of any qualifying
    # pair must collide with the other doc on one of its first
    # n - floor(t*n) + 1 rarest shingles (floor, not ceil: IEEE
    # rounding of t*n can only LENGTHEN the prefix — lossless, the
    # same argument as the Jaccard candidate generator). Join
    # prefix(smaller) x full(larger) under a (n, doc_id) total order;
    # this replaces the all-shared-shingle join that generated 1.13M
    # candidates for 256 final pairs at sf0.1 (measured).
    w_n = Window.partitionBy("doc_id")
    w_rk = Window.partitionBy("doc_id").orderBy("df", "shingle")
    ranked = shd.select(
        "doc_id",
        "shingle",
        "df",
        F.row_number().over(w_rk).alias("rk"),
        F.count(F.lit(1)).over(w_n).alias("n"),
    )
    # df >= 2 pre-filter on BOTH join inputs (r18, guide §2.3 — see
    # _candidates_from_shd): a df=1 shingle's posting list holds one
    # doc, which can never satisfy the strict (n, doc_id) total order
    # against itself — rows provably join nothing, so drop them
    # before the exchange. rk/n are computed before the filter.
    prefix = ranked.filter(
        (F.col("rk") <= F.col("n") - F.floor(F.lit(float(threshold)) * F.col("n")) + 1)
        & (F.col("df") >= 2)
    ).select("doc_id", "shingle", "n")
    full = ranked.filter(F.col("df") >= 2).select("doc_id", "shingle", "n")
    cand = (
        prefix.alias("a")
        .hint("shuffle_merge")
        .join(
            full.alias("b").hint("shuffle_merge"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (
                (F.col("a.n") < F.col("b.n"))
                | ((F.col("a.n") == F.col("b.n")) & (F.col("a.doc_id") < F.col("b.doc_id")))
            ),
        )
        .select(
            F.least("a.doc_id", "b.doc_id").alias("doc_a"),
            F.greatest("a.doc_id", "b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    hsets = (
        sh.select("doc_id", hash64(F.col("shingle")).alias("h"))
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_set("h")).alias("hset"))
    )
    j = (
        cand.hint("shuffle_merge")
        .join(
            hsets.select(F.col("doc_id").alias("doc_a"), F.col("hset").alias("ha")).hint(
                "shuffle_merge"
            ),
            "doc_a",
        )
        .join(
            hsets.select(F.col("doc_id").alias("doc_b"), F.col("hset").alias("hb")).hint(
                "shuffle_merge"
            ),
            "doc_b",
        )
        .withColumn("inter", F.size(F.array_intersect("ha", "hb")))
        .withColumn(
            "containment",
            F.col("inter").cast("double")
            / F.least(F.size("ha"), F.size("hb")).cast("double"),
        )
    )
    return j.filter(F.col("containment") >= threshold).select(
        "doc_a", "doc_b", F.col("containment").cast("double").alias("containment")
    )


# ---------------- paragraph-level exact dedup (batch + incremental) --

#: fixed chunk width in tokens (the synthetic text has no newline
#: paragraphs) — shared as a literal with the registry oracles
PARA_W = 10
#: site-encoding multiplier: doc_id * PARA_SITE_C + chunk_idx must be
#: injective, so PARA_SITE_C > max chunks per doc (maxlen 100 / w 10)
PARA_SITE_C = 1024


def paragraph_chunks(docs: DataFrame, w: int = PARA_W) -> DataFrame:
    """(doc_id, idx, c, h, site): the corpus chunked into fixed
    ``w``-token blocks with the md5-60bit fingerprint of each block
    and its injective occurrence site (doc_id * PARA_SITE_C + idx).
    One explode, no shuffle — the shared front of the batch
    paragraph-dedup pass and the incremental index fold."""
    toks = docs.select("doc_id", F.split("text", " ").alias("tk"))
    return toks.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, cast(ceil(size(tk) / {w}.0) as int) - 1),"
                f" i -> array_join(slice(tk, i * {w} + 1, {w}), ' '))"
            )
        ).alias("idx", "c"),
    ).select(
        "doc_id",
        "idx",
        "c",
        hash64(F.col("c")).alias("h"),
        (F.col("doc_id") * PARA_SITE_C + F.col("idx")).alias("site"),
    )


def paragraph_index(docs: DataFrame) -> DataFrame:
    """(doc_id, h, site): the PERSISTABLE relation of the paragraph
    tier — one row per chunk occurrence, fingerprint only, never the
    chunk text. Written once per corpus snapshot under pmod(h, P)
    directory partitions (streaming.dedup_index conventions) so an
    arriving shard's pruned band join reads only the buckets its own
    fingerprints touch; carrying doc_id keeps the tombstone/GDPR
    anti-join applicable at this tier too."""
    return paragraph_chunks(docs).select("doc_id", "h", "site")


def paragraph_rebuild_where(
    joined: DataFrame, kept: Column, n_dropped_name: str = "n_dropped"
) -> DataFrame:
    """Per-doc rebuild of a chunk relation (doc_id, idx, c, …) joined
    with whatever per-fingerprint verdict columns ``kept`` consults: a
    chunk survives iff ``kept`` holds; each document's cleaned_text is
    rebuilt from its kept blocks in order (a doc whose every chunk is
    dropped still emits a row with empty cleaned_text — the rebuild is
    an aggregation over ALL its chunks, never a filter). One per-doc
    hash-agg; chunk text stays on the chunk side only."""
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_chunks"),
        F.sum(F.when(kept, 0).otherwise(1)).cast("long").alias(n_dropped_name),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.when(kept, F.struct("idx", "c")))),
                lambda s: s["c"],
            ),
            " ",
        ).alias("cleaned_text"),
    )


def paragraph_rebuild(chunks: DataFrame, firsts: DataFrame) -> DataFrame:
    """Per-doc rebuild against a first-occurrence relation ``firsts``
    = (h, s0): a chunk survives iff its site IS the minimum site of
    its fingerprint; each document's cleaned_text is rebuilt from its
    kept blocks in order. One equi-join on the 8-byte fingerprint +
    one per-doc agg — chunk text stays on the chunk side only."""
    return paragraph_rebuild_where(
        chunks.join(firsts, "h"), F.col("site") == F.col("s0")
    )


def incremental_boilerplate_rebuild(
    delta_chunks: DataFrame, index: DataFrame, df_threshold: int
) -> DataFrame:
    """Incremental BOILERPLATE removal: rebuild the ARRIVING shard's
    documents against the corpus-wide chunk document-frequency,
    computed as countDistinct(doc_id) over (matching index rows ∪
    matching delta rows) — the persisted paragraph index carries
    (doc_id, h, site) for every base occurrence, so that union's df
    equals the full-recompute global df for every fingerprint the
    delta touches. A delta chunk survives iff its df stays below
    ``df_threshold`` (drop-ALL-occurrences semantics — the opposite
    survival rule from incremental_paragraph_rebuild's min-site).
    Only the delta is chunked; the corpus contributes fingerprint
    rows only, pre-pruned here by a LEFT SEMI join against the
    delta's fingerprints (no forced broadcast: a typical delta is
    tiny and AQE picks a broadcast semi join on its runtime size,
    but a bulk-backfill delta larger than the broadcast threshold
    degrades to a shuffle semi join instead of blowing driver
    memory — index rows for untouched fingerprints never enter the
    df agg either way, in the batch path as well as under the
    streaming harness's pb-bucket pruning)."""
    touched = delta_chunks.select("h").distinct()
    combined = delta_chunks.select("h", "doc_id").unionByName(
        index.join(touched, "h", "left_semi").select("h", "doc_id")
    )
    df = combined.groupBy("h").agg(F.countDistinct("doc_id").alias("nd"))
    return paragraph_rebuild_where(
        delta_chunks.join(df, "h"),
        F.col("nd") < df_threshold,
        "n_boilerplate",
    )


def incremental_paragraph_rebuild(
    delta_chunks: DataFrame, index: DataFrame
) -> DataFrame:
    """Incremental paragraph dedup: rebuild the ARRIVING shard's
    documents against the persisted fingerprint index plus the
    shard's own earlier occurrences — the paragraph-tier analog of
    incremental_lsh_pairs. A delta chunk survives iff its site is the
    minimum over (matching index rows ∪ matching delta rows); since
    the index stores every base occurrence's site, that minimum
    equals the full-recompute global minimum — the oracle identity.
    Only the delta is chunked (O(|delta|) arrival cost); the corpus
    contributes pre-computed (h, site) rows, its raw text is never
    re-read, and the index relation is pre-pruned here by a LEFT
    SEMI join against the delta's fingerprints (no forced broadcast:
    AQE broadcasts a small delta on its runtime size and falls back
    to a shuffle semi join for a bulk backfill — index rows for
    untouched fingerprints never enter the min-site agg either way,
    in the batch path as well as under the streaming harness's
    pb-bucket pruning; the incremental_boilerplate_rebuild shape)."""
    touched = delta_chunks.select("h").distinct()
    combined = delta_chunks.select("h", "site").unionByName(
        index.join(touched, "h", "left_semi").select("h", "site")
    )
    firsts = combined.groupBy("h").agg(F.min("site").alias("s0"))
    return paragraph_rebuild(delta_chunks, firsts)


# ---------------- bloom-filter membership (broadcast bitmap) ---------


def bloom_bitmap(
    texts: DataFrame, m_bits: int, k: int, text_col: str = "text"
) -> DataFrame:
    """(word_idx, bits): the prior corpus folded into an M-bit bloom
    filter packed 64 bits per long — the BROADCASTABLE form of the
    filter at realistic geometry (M = 2^27 packs to 2 MiB of longs;
    a few 2^30s to tens of MiB). Bit positions come from the
    md5-60bit seeded family so they replay exactly in the oracles.
    One explode (K rows per doc) + one map-side-combining bit_or
    hash-agg keyed on the word index; bit_or is idempotent so no
    DISTINCT pass is needed. The output is bounded by
    min(m_bits/64, K·n) rows regardless of corpus size — absent
    words mean zero bits, exactly what the probe's left join reads
    them as."""
    from chiv_spark.functions.hashing import hash64_seeded

    pos = texts.select(
        F.explode(
            F.array(
                *[
                    F.pmod(hash64_seeded(F.col(text_col), s), F.lit(m_bits))
                    for s in range(k)
                ]
            )
        ).alias("pos")
    )
    return (
        pos.select(
            (F.col("pos") / 64).cast("long").alias("word_idx"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").alias("m"),
        )
        .groupBy("word_idx")
        .agg(F.expr("bit_or(m)").alias("bits"))
    )


def bloom_probe(
    arrivals: DataFrame,
    bitmap: DataFrame,
    m_bits: int,
    k: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id_col, bloom_hit): probe arriving documents against a packed
    bloom bitmap. The bitmap side is explicitly BROADCAST — the
    arrivals (the 100 TB side) are never shuffled by the membership
    test itself: K positions explode per arrival, each looks its word
    up in the broadcast map, and the per-arrival AND folds back with
    a map-side-combined min (K rows per id live in one partition, so
    the final agg shuffles ~1 row per arrival). No false negatives by
    construction: a true duplicate probes exactly the bits its prior
    copy set."""
    from chiv_spark.functions.hashing import hash64_seeded

    apos = arrivals.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.pmod(hash64_seeded(F.col(text_col), s), F.lit(m_bits))
                    for s in range(k)
                ]
            )
        ).alias("pos"),
    ).select(
        id_col,
        (F.col("pos") / 64).cast("long").alias("word_idx"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").alias("m"),
    )
    hit = apos.join(F.broadcast(bitmap), "word_idx", "left").select(
        id_col,
        F.when((F.col("bits").bitwiseAND(F.col("m"))) != 0, 1)
        .otherwise(0)
        .alias("b"),
    )
    return hit.groupBy(id_col).agg((F.min("b") == 1).alias("bloom_hit"))
