"""Distributed suffix ranking and ExactSubstr-style dedup spans.

The full operator behind Lee et al. 2022's ExactSubstr criterion
("Deduplicating Training Data Makes Language Models Better", §4.1 —
the suffix-array dedup used by RefinedWeb/SlimPajama): for every
document, the length of its LONGEST token span that also occurs at
some other (doc, position) site in the corpus, at ANY length — not
the fixed-8-token-window approximation of
``queries/curation.py::dedup_repeated_ngrams``.

Algorithm — prefix doubling (Manber–Myers), re-expressed as Spark
relational rounds instead of the sequential radix-sort formulation:

1. Tokenize to a positions relation ``(doc_id, pos, tok)`` — one
   narrow explode, ~1 row per corpus token.
2. ``rank_1`` = dense rank of the token itself, computed with the
   two-pass zipWithIndex ranking of :mod:`chiv_spark.operators.rowids`
   over the DISTINCT token table (never a single-partition window).
3. Round ``j`` (shift ``k = 2^j``): each suffix's sort key for its
   first ``2k`` tokens is the pair ``(rank_k[p], rank_k[p + k])``,
   with out-of-range treated as a sentinel that sorts first (a
   shorter suffix is a strict prefix of a longer one and orders
   before it). The ``p + k`` lookup is a per-document ``lead(rank,
   k)`` window — partitioned by doc_id, bounded by document length,
   NOT a join. Pairs are re-densified to ``rank_{2k}`` via the same
   distributed ranking over the distinct-pair table (range-partition
   on the pair columns directly — no arithmetic packing, so ranks
   never overflow bigint at any corpus size). Each round is a
   constant number of exchanges; ``ceil(log2(maxlen))`` rounds total,
   with an early exit once all ranks are distinct.
4. The final table orders the multiset of ALL suffixes; equal ranks
   are exactly the identical-suffix groups. The maximum repeated
   span starting at a suffix is its longest common prefix (LCP) with
   its nearest neighbors in this order — LCP against any farther
   suffix can only be shorter (standard suffix-array property), so
   only adjacent rank groups are ever compared: never all pairs, and
   the plan carries no cartesian product.
5. Adjacent-group LCPs come from the saved per-round rank tables by
   the classic O(log n) descent: starting at offset 0, for L =
   2^J .. 1 halving, if ``rank_L`` agrees at the current offsets the
   common prefix extends by L. Each step is two equi-joins of the
   (rank, rank+1) representative-pair relation against the round-L
   table keyed on ``(doc_id, pos + lcp_so_far)``; the final value is
   clipped at the shorter remaining length (out-of-range positions
   compare as padded sentinels — agreement past a document end is
   only possible when both ends coincide, so the clip is exact).
6. Per-doc ``max_rep_span`` = max over the doc's suffixes of
   (within-group full-length duplicate, LCP with predecessor group,
   LCP with successor group); a ``keep`` verdict thresholds it.

Cost at 100 TB: every stage is linear in corpus tokens; the loop is
O(log maxlen) rounds of {one per-doc window shuffle, one distinct
aggregate, one range exchange over distinct pairs, one join-back},
and the LCP phase is O(log maxlen) equi-joins over one row per rank
group. Intermediate rank tables are pinned with eager
localCheckpoints (the rowids.py precedent): each round's output
feeds both the next round and the LCP descent, and re-deriving a
round would re-run every round before it. Peak extra storage is the
J ≈ log2(maxlen) saved rank tables (n rows × 3 longs each) — the
textbook n·log n space of prefix doubling; at 100 TB pass
``scratch_dir`` so each round table spills to a parquet scratch
table instead of executor block storage (same plan shape — the
mechanical spill path, pytest-exercised and oracle-verified).

Determinism: ranks are dense integers fully determined by the token
sequences, so ``max_rep_span`` is exact and engine-independent — the
DuckDB oracle states the O(n·maxlen²) quadratic formulation (every
(position, length) window, counted corpus-wide) and must agree
bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from chiv_spark.operators.rowids import assign_global_row_ids

#: out-of-range rank sentinel — sorts before every real rank (real
#: ranks start at 1), encoding "suffix ended" < any continuation
END_RANK = 0


def token_positions(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, pos, tok) with pos 0-based; one row per corpus token."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "tok"),
    )


#: target rows per range bucket in the dense-rank exchanges — sized
#: so a bucket of (doc_id, pos, r) longs lands in the guide's
#: 100 MB-1 GB partition band; the bucket COUNT is then derived from
#: the relation's actual row count (known exactly in the doubling
#: loop) instead of a fixed spark.sql.shuffle.partitions fan-out,
#: which sprayed 64 near-empty range partitions (each with sampling,
#: sort and checkpoint overhead) at bench scale and would equally
#: under-partition a 100 TB corpus run at a cluster-tuned conf.
_ROWS_PER_BUCKET = 1_000_000


def _rank_buckets(spark, n_rows: int) -> int:
    """Scale-adaptive bucket count for the ranking range exchange:
    ~:data:`_ROWS_PER_BUCKET` rows per bucket, capped at the session's
    shuffle parallelism (the knob a cluster deployment tunes)."""
    cap = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    return max(1, min(cap, -(-int(n_rows) // _ROWS_PER_BUCKET)))


def _dense_rank_by(
    rel: DataFrame, cols: list[str], id_col: str, buckets: int | None = None
) -> tuple[DataFrame, int]:
    """Distinct rows of ``cols`` ranked 1..m in lexicographic order —
    the scalable dense-rank building block (range exchange + two-pass
    offsets, no single-partition window). Returns ((cols..., id_col),
    m) — the group count is free (the offsets pass collects the
    per-partition counts anyway), so callers never pay a separate
    ``.count()`` job over the ranked table."""
    return assign_global_row_ids(
        rel.select(*cols).distinct(), cols, id_col=id_col, buckets=buckets,
        with_count=True,
    )


#: per-process uniquifiers for scratch subdirectories — see
#: :func:`scratch_subdir`
_SCRATCH_SEQ = None
_SCRATCH_TOKEN = None


def scratch_subdir(root: str) -> str:
    """A unique per-invocation subdirectory path under ``root`` for
    round-table spills. Pure string construction (no local mkdir), so
    ``root`` may be a remote filesystem URI (hdfs://, s3a://) — the
    parquet writer creates it; r11 ADVICE: the previous
    tempfile.mkdtemp route crashed on remote roots and never cleaned
    up. Uniqueness = (pid, in-process counter): two calls — even two
    suffix_rank_tables invocations sharing one root, which previously
    OVERWROTE each other's still-lazily-referenced round tables — can
    never collide, plus a per-process random token (r12 ADVICE: two
    DRIVER processes on different hosts sharing one remote scratch
    root can hold equal pids, so (pid, counter) alone can collide
    across hosts and overwrite each other's round tables). Local
    subdirs are best-effort removed at process exit (the tables are
    consumed lazily downstream, so earlier cleanup would break
    reads); remote roots are left to the store's lifecycle policy."""
    global _SCRATCH_SEQ, _SCRATCH_TOKEN
    if _SCRATCH_SEQ is None:
        import itertools
        import uuid

        _SCRATCH_SEQ = itertools.count()
        _SCRATCH_TOKEN = uuid.uuid4().hex[:12]
    import os

    sub = f"{root.rstrip('/')}/sfx-{os.getpid()}-{_SCRATCH_TOKEN}-{next(_SCRATCH_SEQ)}"
    if "://" not in sub:
        import atexit
        import shutil

        atexit.register(shutil.rmtree, sub, True)
    return sub


def _pin(df: DataFrame, scratch_dir: str | None, name: str) -> DataFrame:
    """Materialize a round table so both its consumers (next round +
    LCP descent) read a computed result, not a recomputation of every
    round before it. Default = eager localCheckpoint (executor block
    storage — fine while the J ≈ log2(maxlen) saved tables fit);
    with ``scratch_dir`` set the table is WRITTEN TO PARQUET and read
    back instead — same plan shape downstream (a scan), but bounded
    executor storage: the 100 TB path, where n·log n rows of pinned
    rank tables must live on the scratch filesystem (HDFS/object
    store via the dir path), not in executor memory/disk blocks."""
    if scratch_dir is None:
        return df.localCheckpoint(eager=True)
    path = f"{scratch_dir.rstrip('/')}/{name}"
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.parquet(path)


def suffix_rank_tables(
    positions: DataFrame,
    scratch_dir: str | None = None,
    toks: DataFrame | None = None,
    base_width: int = 1,
    stats: tuple | None = None,
) -> tuple[list[tuple[int, DataFrame]], int]:
    """Run prefix doubling to convergence.

    Returns ``(tables, maxlen)`` where ``tables`` is the ascending
    list of ``(L, rank_table)`` — ``rank_table`` = (doc_id, pos, r)
    ranking every suffix by its first ``L`` tokens (dense, 1-based;
    equal r ⇔ equal padded L-prefix). The last table's L ≥ maxlen,
    so its ranks order full suffixes. Each table is pinned via
    :func:`_pin` (consumed twice: next round + LCP descent) —
    executor localCheckpoint by default, parquet under
    ``scratch_dir`` for the bounded-executor-storage 100 TB path.
    ``scratch_dir`` is a ROOT that may be shared across calls — each
    invocation spills under its own :func:`scratch_subdir`, so the
    fixed per-round table names can never collide (r11 ADVICE).

    ``base_width`` > 1 (requires ``toks`` = (doc_id, tk array)) seeds
    the doubling at ``rank_{base_width}`` directly: every suffix is
    ranked by its first ``base_width`` tokens via ONE dense-rank over
    the per-position token-ARRAY windows (array<string> sort order IS
    token-sequence order — shorter-prefix-first matches the END_RANK
    sentinel semantics, and no string-join delimiter can reorder it),
    skipping the ceil(log2 base_width) smallest doubling rounds.
    The returned tables then start at L = base_width, so the LCP
    descent resolves prefixes only to that granularity — consumers
    must refine the final < base_width tokens themselves (see
    :func:`_adjacent_group_lcp`'s bounded-slice refinement).
    """
    if scratch_dir is not None:
        scratch_dir = scratch_subdir(scratch_dir)
    if stats is not None:
        # caller already collected (n_pos, maxlen) — e.g. the
        # small-path gate check in max_repeated_spans — so don't pay
        # the aggregate job twice
        n_pos, maxlen = stats
    else:
        n_pos, maxlen = (
            positions.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("dl"))
            .agg(F.sum("dl").alias("n"), F.max("dl").alias("m"))
            .collect()[0]
        )
    if n_pos is None:
        # empty corpus: the global agg yields NULL n/maxlen, which
        # would otherwise surface as an opaque int-vs-None TypeError
        # in the loop bound below — return the degenerate single
        # (empty) rank table instead, so downstream composition over
        # a filtered-to-nothing relation stays well-defined
        empty = _pin(
            positions.select("doc_id", "pos", F.lit(1).cast("long").alias("r")),
            scratch_dir,
            "rank_empty",
        )
        return [(1, empty)], 0
    buckets = _rank_buckets(positions.sparkSession, n_pos)
    if base_width > 1:
        if toks is None:
            raise ValueError("base_width > 1 requires the toks relation")
        # rank every suffix by its first base_width tokens in one
        # dense-rank over token-array windows (short tails included:
        # slice past the end yields the shorter prefix, which array
        # order sorts FIRST — exactly the END_RANK continuation rule)
        wrel = toks.select(
            "doc_id",
            F.posexplode(
                F.expr(
                    f"transform(sequence(1, size(tk)), i -> slice(tk, i, {base_width}))"
                )
            ).alias("pos", "w"),
        )
        win_ranks, prev_groups = _dense_rank_by(wrel, ["w"], "r", buckets=buckets)
        r1 = _pin(
            wrel.join(win_ranks, "w").select("doc_id", "pos", "r"),
            scratch_dir,
            f"rank_L{base_width}",
        )
        tables: list[tuple[int, DataFrame]] = [(base_width, r1)]
        k = base_width
        cur = r1
    else:
        # rank by first token: dense rank of the token string
        tok_ranks, prev_groups = _dense_rank_by(
            positions, ["tok"], "r", buckets=buckets
        )
        r1 = _pin(
            positions.join(tok_ranks, "tok").select("doc_id", "pos", "r"),
            scratch_dir,
            "rank_L1",
        )
        tables = [(1, r1)]
        k = 1
        cur = r1
    # conservative upper bound on the current rank values; drives the
    # pack-vs-densify choice below
    rank_bound = prev_groups
    last_dense = True
    PACK_LIMIT = 1 << 62
    while k < maxlen:
        lead = Window.partitionBy("doc_id").orderBy("pos")
        paired = cur.select(
            "doc_id",
            "pos",
            "r",
            F.coalesce(F.lead("r", k).over(lead), F.lit(END_RANK)).alias("r2"),
        )
        if rank_bound * (rank_bound + 2) + rank_bound < PACK_LIMIT:
            # PACK round: the (r, r2) pair maps order-preservingly and
            # injectively onto r*(B+2) + r2 (multiplier exceeds max r2)
            # — the whole round is the lead window plus inline
            # arithmetic, skipping the distinct + range-exchange +
            # join-back of re-densification. Ranks need not be dense,
            # only order- and equality-preserving; the bound check
            # keeps products inside bigint, and once values outgrow it
            # the next round densifies back to [1, n]. At any corpus
            # size the loop therefore alternates cheap pack rounds
            # with exact densify rounds — never overflow, ~half the
            # exchanges of densify-every-round.
            nxt = _pin(
                paired.select(
                    "doc_id",
                    "pos",
                    (F.col("r") * F.lit(int(rank_bound + 2)) + F.col("r2")).alias("r"),
                ),
                scratch_dir,
                f"rank_L{2 * k}",
            )
            rank_bound = rank_bound * (rank_bound + 2) + rank_bound
            k *= 2
            tables.append((k, nxt))
            cur = nxt
            last_dense = False
            # no distinct count this round: the stable-partition check
            # runs on densify rounds (counts are monotone, so equality
            # across a pack+densify span still implies no split)
            continue
        pair_ranks, groups = _dense_rank_by(
            paired, ["r", "r2"], "nr", buckets=buckets
        )
        nxt = _pin(
            paired.join(pair_ranks, ["r", "r2"]).select(
                "doc_id", "pos", F.col("nr").alias("r")
            ),
            scratch_dir,
            f"rank_L{2 * k}",
        )
        k *= 2
        tables.append((k, nxt))
        cur = nxt
        last_dense = True
        rank_bound = groups
        # early exit on a STABLE partition, not just all-distinct: if no
        # rank group split since the last densify round, groups agreeing
        # on k' tokens agree at every multiple (induction along
        # positions), so the partition is final. All-distinct is the
        # special case groups == n_pos; the stable test also converges
        # when exact-dup docs hold identical full suffixes that never
        # separate. (Counts are monotone nondecreasing, so equality
        # across any pack rounds in between implies no split at the
        # intermediate doublings either.)
        if groups == prev_groups:
            break
        prev_groups = groups
    if not last_dense:
        # consumers need the FINAL ordering dense (adjacent groups are
        # r and r+1 in the LCP phase): one extra densify of the packed
        # values — equality and order preserved, so the table remains a
        # valid rank_L relation for the descent
        L, last = tables[-1]
        fr, _ = _dense_rank_by(last, ["r"], "nr", buckets=buckets)
        dense_last = _pin(
            last.join(fr, "r").select("doc_id", "pos", F.col("nr").alias("r")),
            scratch_dir,
            f"rank_L{L}_dense",
        )
        tables[-1] = (L, dense_last)
    return tables, int(maxlen)


def _adjacent_group_lcp(
    tables: list[tuple[int, DataFrame]],
    final: DataFrame,
    toks: DataFrame | None = None,
) -> DataFrame:
    """(r, lcp): exact LCP between rank group ``r`` and group ``r+1``
    of the final suffix order, via the log-descent over the saved
    rank tables. One representative per group suffices — group
    members are identical suffixes.

    When the tables start at L = base_width > 1 the descent resolves
    agreement only down to that granularity; the final < base_width
    tokens are then refined by comparing ONE bounded (base_width - 1)-
    token slice per side — two equi-joins against ``toks`` carrying
    at most base_width - 1 tokens per output row, byte-comparable to
    a single rank-table join, never the full arrays of the quadratic
    formulation. Exact: the descent stopped because the base-width
    windows at the current offsets DIFFER, so the remaining common
    prefix is < base_width and lies inside the compared slices."""
    rem = F.col("len") - F.col("pos")  # tokens remaining from pos
    # any member represents its group; min (doc,pos) keeps it deterministic
    reps = final.groupBy("r").agg(
        F.min(F.struct("doc_id", "pos", "len")).alias("s")
    ).select("r", F.col("s.doc_id").alias("doc_id"), F.col("s.pos").alias("pos"), F.col("s.len").alias("len"))
    a = reps.select("r", F.col("doc_id").alias("da"), F.col("pos").alias("pa"), rem.alias("rem_a"))
    b = reps.select(
        (F.col("r") - 1).alias("r"),
        F.col("doc_id").alias("db"),
        F.col("pos").alias("pb"),
        rem.alias("rem_b"),
    )
    pairs = a.join(b, "r").withColumn("lcp", F.lit(0))
    for L, tab in reversed(tables):
        ta = tab.select(F.col("doc_id").alias("da"), F.col("pos").alias("ka"), F.col("r").alias("ra"))
        tb = tab.select(F.col("doc_id").alias("db"), F.col("pos").alias("kb"), F.col("r").alias("rb"))
        pairs = (
            pairs.withColumn("ka", F.col("pa") + F.col("lcp"))
            .withColumn("kb", F.col("pb") + F.col("lcp"))
            .join(ta, ["da", "ka"], "left")
            .join(tb, ["db", "kb"], "left")
            # null ≡ "suffix ended": two ended suffixes agree (the final
            # clip at min(rem) bounds any overshoot exactly)
            .withColumn(
                "lcp",
                F.when(
                    F.coalesce("ra", F.lit(END_RANK)) == F.coalesce("rb", F.lit(END_RANK)),
                    F.col("lcp") + L,
                ).otherwise(F.col("lcp")),
            )
            .drop("ka", "kb", "ra", "rb")
        )
    base_l = tables[0][0]
    if base_l > 1:
        if toks is None:
            raise ValueError("tables starting above L=1 require toks for refinement")
        w = base_l - 1
        ta = toks.select(F.col("doc_id").alias("da"), F.col("tk").alias("tka"))
        tb = toks.select(F.col("doc_id").alias("db"), F.col("tk").alias("tkb"))
        ap = F.expr("array_position(zip_with(sa, sb, (x, y) -> x = y), false)")
        pairs = (
            pairs.join(ta, "da")
            .join(tb, "db")
            # project the bounded slices IMMEDIATELY so the full token
            # arrays never travel past this select
            .select(
                "r",
                "lcp",
                "rem_a",
                "rem_b",
                F.expr(f"slice(tka, pa + lcp + 1, {w})").alias("sa"),
                F.expr(f"slice(tkb, pb + lcp + 1, {w})").alias("sb"),
            )
            # first mismatch index - 1; no mismatch ⇒ the shorter slice
            # is a prefix of the longer (zip_with pads nulls, which are
            # ≠ false) ⇒ extension = the shorter slice's length
            .withColumn(
                "lcp",
                F.col("lcp")
                + F.when(ap > 0, ap - 1).otherwise(
                    F.least(F.size("sa"), F.size("sb"))
                ),
            )
        )
    return pairs.select("r", F.least("lcp", "rem_a", "rem_b").alias("lcp"))


#: the single-task fast-path gate: a subcorpus whose Σ len_d² is at or
#: below this materializes every suffix (Σ len·(len+1)/2 ≤ gate/2
#: token slots — tens of MB of strings) and ranks them in ONE
#: sorted-window task instead of ~20 prefix-doubling jobs (measured,
#: r17: a 78-doc sf0.1 candidate subcorpus took 64 jobs / 5.3-6.5 s on
#: the doubling path). Sized so the single task stays well under a
#: typical executor partition budget; a 100 TB candidate subcorpus is
#: orders of magnitude past it and takes the doubling path unchanged.
_SMALL_SUFFIX_SUMSQ = 16_000_000


def _doc_span_argmax(lrp: DataFrame) -> DataFrame:
    """Per-doc (n_tokens, max_rep_span, leftmost span_pos) from a
    (doc_id, pos, len, lrp) relation — the shared argmax tail of both
    detector paths, factored so they cannot drift."""
    return (
        lrp.groupBy("doc_id")
        .agg(
            F.max("len").cast("long").alias("n_tokens"),
            F.max(F.struct(F.col("lrp"), (-F.col("pos")).alias("npos"))).alias("best"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.col("best.lrp").cast("long").alias("max_rep_span"),
            F.when(F.col("best.lrp") > 0, -F.col("best.npos"))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("span_pos"),
        )
    )


def _small_max_repeated_spans(toks: DataFrame, n_pos: int) -> DataFrame:
    """The size-gated single-task detector: materialize every suffix
    as its token-array tail, globally sort, and take each suffix's
    max common prefix with its two sort neighbors.

    Exactness (the standard suffix-array identity — the SAME property
    the doubling path's LCP descent relies on, step 4 of the module
    docstring): in suffix-sorted order, the longest common prefix of
    a suffix with ANY other suffix is achieved at an adjacent one, so
    max(lcp(prev), lcp(next)) IS the max repeated span at that
    position; an identical twin suffix sorts adjacent and its lcp is
    the full remaining length, covering the duplicate-suffix case the
    doubling path handles via group sizes. Array<string> comparison
    is token-sequence order with shorter-prefix-first — bit-identical
    to the doubling path's END_RANK sentinel semantics.

    The window is deliberately unpartitioned: the caller's gate
    (``_SMALL_SUFFIX_SUMSQ``) bounds the input, and the explicit
    ``limit(n_pos)`` below the window states that bound in the plan
    (the registry-wide window audit's post-limit rule). Above the
    gate the doubling path runs and this plan shape never appears.
    One job replaces the ~20 the doubling loop schedules — at small
    input the loop's cost is pure per-job overhead (measured 64 jobs
    / ~5 s for a 78-doc subcorpus at sf0.1)."""
    sfx = toks.select(
        "doc_id",
        F.size("tk").alias("len"),
        F.posexplode(
            F.expr("transform(sequence(1, size(tk)), i -> slice(tk, i, size(tk) - i + 1))")
        ).alias("pos", "s"),
    ).limit(int(n_pos))
    w = Window.orderBy("s")

    def _lcp(other: str):
        # first mismatch index - 1; no mismatch ⇒ equal-length equal
        # arrays (zip_with pads the shorter side with nulls, which
        # compare false against any token) ⇒ lcp = common length
        ap = F.expr(f"array_position(zip_with(s, {other}, (x, y) -> x <=> y), false)")
        return F.when(F.col(other).isNull(), F.lit(0)).otherwise(
            F.when(ap > 0, ap - 1).otherwise(F.least(F.size("s"), F.size(other)))
        )

    lrp = (
        sfx.select(
            "doc_id",
            "pos",
            "len",
            "s",
            F.lag("s").over(w).alias("prv"),
            F.lead("s").over(w).alias("nxt"),
        )
        .select(
            "doc_id",
            "pos",
            "len",
            F.greatest(_lcp("prv"), _lcp("nxt")).alias("lrp"),
        )
    )
    return _doc_span_argmax(lrp)


def max_repeated_spans(docs: DataFrame, scratch_dir: str | None = None) -> DataFrame:
    """(doc_id, n_tokens, max_rep_span, span_pos): per document, the
    length of its longest token span occurring at ≥2 distinct (doc,
    position) sites corpus-wide (within-document repeats count — a
    doc that stutters its own content is exactly what ExactSubstr
    trims), plus the 0-based position of the LEFTMOST such span (the
    argmax a trimming pass removes; 0-length spans report pos 0).

    Small inputs (Σ len² at or below ``_SMALL_SUFFIX_SUMSQ`` — the
    usual shape once the candidate predicate has pruned the corpus,
    and every arriving-shard subcorpus) take the single-task
    suffix-sort path (:func:`_small_max_repeated_spans`, exactness
    argued there). Above the gate, prefix doubling runs: seeded at
    L = WINDOW_N (one dense-rank over token-array windows instead of
    ceil(log2 WINDOW_N) extra rounds), with the LCP descent's final
    < WINDOW_N tokens resolved via the bounded-slice refinement —
    see :func:`suffix_rank_tables` / :func:`_adjacent_group_lcp`."""
    toks = docs.select("doc_id", F.split("text", " ").alias("tk"))
    n_pos, maxlen, sumsq = (
        toks.select(F.size("tk").cast("long").alias("dl"))
        .agg(
            F.sum("dl").alias("n"),
            F.max("dl").alias("m"),
            F.sum(F.col("dl") * F.col("dl")).alias("sq"),
        )
        .collect()[0]
    )
    if n_pos is not None and sumsq is not None and sumsq <= _SMALL_SUFFIX_SUMSQ:
        return _small_max_repeated_spans(toks, int(n_pos))
    positions = token_positions(docs)
    tables, _ = suffix_rank_tables(
        positions,
        scratch_dir=scratch_dir,
        toks=toks,
        base_width=WINDOW_N,
        stats=(n_pos, maxlen),
    )
    _, final_tab = tables[-1]
    lens = positions.groupBy("doc_id").agg(F.count(F.lit(1)).alias("len"))
    final = final_tab.join(lens, "doc_id")

    group_sizes = final.groupBy("r").agg(F.count(F.lit(1)).alias("gsz"))
    lcps = _adjacent_group_lcp(tables, final, toks=toks)
    pred = lcps.select((F.col("r") + 1).alias("r"), F.col("lcp").alias("lcp_pred"))
    succ = lcps.select("r", F.col("lcp").alias("lcp_succ"))
    lrp = (
        final.join(group_sizes, "r")
        .join(pred, "r", "left")
        .join(succ, "r", "left")
        .select(
            "doc_id",
            "pos",
            "len",
            F.greatest(
                # an identical twin suffix exists: full remaining length repeats
                F.when(F.col("gsz") >= 2, F.col("len") - F.col("pos")).otherwise(0),
                F.coalesce("lcp_pred", F.lit(0)),
                F.coalesce("lcp_succ", F.lit(0)),
            ).alias("lrp"),
        )
    )
    # argmax with leftmost tiebreak: max over (lrp, -pos) structs
    return _doc_span_argmax(lrp)


def max_repeated_spans_pruned(docs: DataFrame, scratch_dir: str | None = None) -> DataFrame:
    """Same contract (and exact values) as :func:`max_repeated_spans`,
    at a fraction of the cost: the prefix-doubling suffix machinery
    runs only on the CANDIDATE subcorpus — documents containing at
    least one corpus-repeated :data:`WINDOW_N`-gram — while every
    other document's span comes from one cheap fixed-window pass.

    Why this is exact, not approximate (the fixpoint/incremental
    pigeonhole argument, extended with an exact sub-``WINDOW_N``
    complement):

    - Any repeated span of length >= WINDOW_N contains a repeated
      WINDOW_N-gram, and BOTH its occurrence sites lie in documents
      holding that repeated window — so the candidate set is closed:
      the detector run on the subcorpus alone sees every witness pair
      and reports the same >= WINDOW_N spans (length AND leftmost
      position) as the full-corpus run. Every candidate document has
      such a span (its repeated window IS one), so its detector value
      >= WINDOW_N dominates any sub-window span and the small pass is
      irrelevant for it.
    - A NON-candidate document's longest repeated span is
      < WINDOW_N by contraposition, and spans that short are found
      exactly by counting fixed windows of each length 1..WINDOW_N-1
      corpus-wide (all documents contribute occurrences — a clean
      doc's 3-gram may repeat inside a candidate doc): per position
      the longest matched window, per document the (max, leftmost)
      argmax — the same struct-max the detector uses.

    Cost: two linear window passes (one WINDOW_N-gram hash-agg shared
    with the candidate predicate, one (WINDOW_N-1)·n small-window
    hash-agg — map-side-combining aggregations, the cheapest shuffle
    shape) replace prefix doubling + LCP descent over ~90% of corpus
    positions (the measured candidate fraction on the synthetic
    corpus is ~9-10% of documents; Lee et al. report ExactSubstr
    marks 3-14% of real web corpora). At 100 TB the doubling rounds'
    multi-exchange n·log n shuffles are the dominant term, so
    shrinking n by ~10x is the difference between ranking the corpus
    and ranking its duplicated tail."""
    tk = docs.select("doc_id", F.split("text", " ").alias("tk"))
    lens = tk.select("doc_id", F.size("tk").cast("long").alias("n_tokens"))

    # candidate predicate: corpus-repeated WINDOW_N-grams ((doc, pos)
    # sites — within-document stutter counts), the window_index shape
    win8 = tk.filter(F.size("tk") >= WINDOW_N).select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(tk) - {WINDOW_N - 1}),"
                f" i -> array_join(slice(tk, i, {WINDOW_N}), ' '))"
            )
        ).alias("w"),
    )
    wc8 = win8.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    cand = win8.join(wc8.filter(F.col("c") >= 2), "w").select("doc_id").distinct()

    # Pin the candidate subcorpus once: the detector below drives a
    # dozen-plus eager actions (round pins, offset collects), and an
    # unpinned candidate relation re-ran the full win8 → wc8 → join →
    # distinct predicate inside EVERY one of them (guide §5: cache
    # when a subtree is reused and recomputing beats memory pressure —
    # here the subtree is ~10% of the corpus and reused ~15x).
    pin_dir = scratch_subdir(scratch_dir) if scratch_dir else None
    cand_docs = _pin(
        docs.join(cand, "doc_id").select("doc_id", "text"),
        pin_dir,
        "cand_docs",
    )

    # exact sub-WINDOW_N spans: every (position, L<WINDOW_N) window,
    # counted corpus-wide; per-doc leftmost argmax via one struct-max.
    #
    # The enumeration applies the tier's own pigeonhole one level
    # down (guide §2.3 — shuffle fewer bytes): windows of length
    # 1..PIVOT are built at EVERY position, but a window of length
    # > PIVOT occurring >= 2 times corpus-wide has its PIVOT-prefix
    # repeated at BOTH sites, so lengths PIVOT+1..WINDOW_N-1 only
    # need enumerating at positions whose PIVOT-window is corpus-
    # repeated: counting them there is exact (any site outside that
    # set holds a count-1 window, which can never reach the >= 2
    # verdict), and every position that could achieve the per-doc
    # argmax at those lengths is in the set for the same reason.
    # Volume drops from (WINDOW_N-1)·n to PIVOT·n + 3·f·n with f the
    # repeated-PIVOT-gram position fraction (~0.33 on the synthetic
    # corpus; 3-14% of real web corpora per Lee et al.). The L1..4
    # relation is pinned — it feeds the count aggregate, the PIVOT
    # predicate and the argmax join, and unpinned each consumer
    # re-ran the full explode.
    pivot = 4
    small4 = _pin(
        tk.select(
            "doc_id",
            F.explode(
                F.expr(
                    "flatten(transform(sequence(1, size(tk)), i ->"
                    f" transform(sequence(1, least({pivot}, size(tk) - i + 1)), L ->"
                    " struct(i - 1 AS pos, L AS L,"
                    " array_join(slice(tk, i, L), ' ') AS w))))"
                )
            ).alias("s"),
        ).select("doc_id", "s.pos", "s.L", "s.w"),
        pin_dir,
        "small4",
    )
    rep4 = (
        small4.filter(F.col("L") == pivot)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= 2)
        .select("w")
    )
    # repeated-PIVOT positions, grouped per doc so the token arrays
    # join once per DOC and are never replicated per position
    p4doc = (
        small4.filter(F.col("L") == pivot)
        .join(rep4, "w")
        .groupBy("doc_id")
        .agg(F.collect_list("pos").alias("ps"))
    )
    small57 = (
        tk.join(p4doc, "doc_id")
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"flatten(transform(filter(ps, p -> size(tk) - p > {pivot}), p ->"
                    f" transform(sequence({pivot} + 1, least({WINDOW_N - 1}, size(tk) - p)), L ->"
                    " struct(p AS pos, L AS L,"
                    " array_join(slice(tk, p + 1, L), ' ') AS w))))"
                )
            ).alias("s"),
        )
        .select("doc_id", "s.pos", "s.L", "s.w")
    )
    small = small4.unionByName(small57)
    rep_small = small.groupBy("L", "w").agg(F.count(F.lit(1)).alias("c")).filter(
        F.col("c") >= 2
    )
    # argmax side restricted to NON-candidate docs: the final coalesce
    # below always takes the detector's b_span for a candidate doc
    # (its repeated WINDOW_N-gram guarantees b_span >= WINDOW_N), so
    # candidate occurrences only matter on the COUNT side above
    small_best = (
        small.join(F.broadcast(cand_docs.select("doc_id")), "doc_id", "left_anti")
        .join(rep_small.select("L", "w"), ["L", "w"])
        .groupBy("doc_id")
        .agg(F.max(F.struct("L", (-F.col("pos")).alias("npos"))).alias("b"))
        .select(
            "doc_id",
            F.col("b.L").cast("long").alias("s_span"),
            (-F.col("b.npos")).cast("long").alias("s_pos"),
        )
    )

    big = max_repeated_spans(cand_docs, scratch_dir=scratch_dir).select(
        "doc_id",
        F.col("max_rep_span").alias("b_span"),
        F.col("span_pos").alias("b_pos"),
    )

    return (
        lens.join(small_best, "doc_id", "left")
        .join(big, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("b_span", "s_span", F.lit(0)).cast("long").alias("max_rep_span"),
            F.coalesce("b_pos", "s_pos", F.lit(0)).cast("long").alias("span_pos"),
        )
    )


# ------------------------------------------- incremental window index

#: directory-partition fan-out of the persisted window index on
#: pmod(hash(w), WINDOW_PB) — the dedup_index P_BUCKETS convention
WINDOW_PB = 16

#: candidate-predicate window width (tokens). Any repeated span >=
#: the ExactSubstr threshold contains a repeated 8-gram (pigeonhole),
#: so window-count state is a COMPLETE index for threshold-scale
#: repeat detection across shard arrivals.
WINDOW_N = 8


def window_index(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, wh, cnt, pb): per-document occurrence counts of every
    WINDOW_N-token window, keyed by the window's xxhash64 and
    bucketed on pmod(wh, WINDOW_PB) for directory partitioning — the
    persistable candidate-predicate state of the incremental
    ExactSubstr path. Linear in corpus tokens (one explode + one hash
    agg); at 100 TB the index is written partitioned by ``pb`` so an
    arriving shard's lookup reads only the buckets its own windows
    hash into (the dedup_index partition-pruning convention).

    The key is the 64-bit hash, never the ~55-byte window STRING
    (guide §2.3 — shuffle keys, not payloads): every consumer only
    ever tests window EQUALITY (dc/bc totals, candidate/twin
    nomination), and a hash collision can only ADD a candidate or
    twin doc — the pigeonhole completeness argument is monotone
    under supersets, and the suffix detector then verifies on real
    text, so results are exact either way (a ~n²/2⁶⁴ chance of a
    few microseconds of extra detector work). Engine-internal state,
    so the fast native xxhash64 applies, not the md5-mirrored
    hash64. Measured at sf0.1: index build 3.9 → 2.3 s, and every
    persisted generation and index shuffle carries 8-byte keys
    instead of window strings. Format break vs the pre-r17 string
    layout (the domain_stats DELETE_BASE precedent): re-seed
    persisted window indexes on upgrade."""
    tk = docs.select(
        F.col(id_col).alias("doc_id"), F.split(F.col(text_col), " ").alias("tk")
    ).filter(F.size("tk") >= WINDOW_N)
    win = tk.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(tk) - {WINDOW_N - 1}),"
                f" i -> xxhash64(array_join(slice(tk, i, {WINDOW_N}), ' ')))"
            )
        ).alias("wh"),
    )
    return (
        win.groupBy("doc_id", "wh")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("pb", F.pmod(F.col("wh"), F.lit(WINDOW_PB)).cast("int"))
    )


def incremental_span_trim(
    delta: DataFrame,
    dwin: DataFrame,
    index: DataFrame,
    resident: DataFrame,
    threshold: int,
    scratch_dir: str | None = None,
) -> DataFrame:
    """The shared core of incremental ExactSubstr (batch query and
    streaming fold twin — one implementation, so the two can never
    drift): span-check and one-pass-trim an ARRIVING shard against a
    window index instead of recomputing the candidate predicate
    corpus-wide.

    ``delta``: the arriving (doc_id, text) shard. ``dwin``: its
    window_index relation (built once by the caller — the stream
    reuses it for touched-bucket listing and the index fold).
    ``index``: the resident corpus's window-index relation (in-plan
    for the self-contained batch query; the pb-pruned persisted
    parquet for the stream). ``resident``: the (doc_id, text)
    relation twin docs' text is re-read from — the static base for
    the batch form, base ∪ previously-arrived generations for the
    stream.

    Pigeonhole (WINDOW_N=8): every repeated span >= 8 contains a
    repeated 8-gram, so {delta candidates + their index twins} is a
    COMPLETE subcorpus for the suffix detector — spans >= 8 computed
    there equal full-corpus values exactly; sub-8 spans are zeroed
    for non-candidates on both engine and oracle. Emits per arriving
    doc: n_tokens, span_ge8, trimmed_text, keep."""
    pin_dir = scratch_subdir(scratch_dir) if scratch_dir else None
    dw_agg = dwin.groupBy("wh").agg(F.sum("cnt").alias("dc"))
    # §3.2 pre-filter: the bc totals (and the twin lookup below) are
    # only ever consumed for windows PRESENT IN THE SHARD, so restrict
    # the corpus-side index to the shard's window set BEFORE any
    # aggregate — previously the full resident index shuffled its
    # whole window universe through groupBy twice per call (once for
    # bc, once for twins). Exact: a window absent from dwin can
    # neither satisfy the left join nor reach wtot, so dropping its
    # index rows changes nothing.
    ind_f = index.join(dw_agg.select("wh"), "wh", "left_semi")
    wtot = (
        dw_agg.join(ind_f.groupBy("wh").agg(F.sum("cnt").alias("bc")), "wh", "left")
        .filter(F.col("dc") + F.coalesce(F.col("bc"), F.lit(0)) >= 2)
        .select("wh")
    )
    cand = dwin.join(wtot, "wh").select("doc_id").distinct()
    twins = ind_f.join(wtot, "wh").select("doc_id").distinct()
    # ONE pin for the whole predicate chain (r17: four eager pins —
    # ind_f/wtot/cand/sub — cost ~0.5 s of job overhead EACH at shard
    # scale; folding the chain into the sub pin lets Catalyst compute
    # it in a single action, with ReuseExchange deduplicating the
    # shared wtot/ind_f/dwin subtrees). The is_delta flag makes the
    # pinned table serve all three downstream consumers (detector
    # input, candidate output rows, non-candidate anti-join), so the
    # cand relation never needs its own pin: delta ∩ resident = ∅ by
    # the callers' fate-split/exclude-batch contracts, and even were
    # it not, the union rows match the previous shape exactly.
    sub = _pin(
        delta.join(cand, "doc_id").withColumn("is_delta", F.lit(True)).unionByName(
            resident.join(twins, "doc_id").withColumn("is_delta", F.lit(False))
        ),
        pin_dir,
        "sub",
    )
    spans = max_repeated_spans(
        sub.select("doc_id", "text"), scratch_dir=scratch_dir
    )
    hit = F.col("max_rep_span") >= threshold
    out_cand = (
        sub.filter(F.col("is_delta")).select("doc_id", "text")
        .join(spans.select("doc_id", "n_tokens", "max_rep_span", "span_pos"), "doc_id")
        .withColumn("tk", F.split("text", " "))
        .select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("max_rep_span").cast("long").alias("span_ge8"),
            F.when(
                hit,
                F.array_join(
                    F.expr(
                        "filter(tk, (x, idx) ->"
                        " idx < span_pos OR idx >= span_pos + max_rep_span)"
                    ),
                    " ",
                ),
            )
            .otherwise(F.col("text"))
            .alias("trimmed_text"),
            (~hit).alias("keep"),
        )
    )
    out_non = delta.join(
        sub.filter(F.col("is_delta")).select("doc_id"), "doc_id", "left_anti"
    ).select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
        F.lit(0).cast("long").alias("span_ge8"),
        F.col("text").alias("trimmed_text"),
        F.lit(True).alias("keep"),
    )
    return out_cand.unionByName(out_non)
