"""Sequence- and distribution-mining tier: activity streaks
(gaps-and-islands), higher statistical moments, bigram-LM perplexity
scoring, and the bit-manipulation scalar family.

- ``events_activity_streaks``: the canonical gaps-and-islands
  pattern — runs of *consecutive* active days per user via the
  day-minus-row_number group key. One distinct + one user-partitioned
  window + one hash-agg; everything is keyed by user, nothing global.
- ``agg_skew_kurtosis``: population skewness and excess kurtosis per
  event type from EXACT integer power sums. Values are 2-decimal
  doubles, so centi-quantization (round(x*100)::long) is lossless and
  xm^4 <= 1.2e18 stays inside BIGINT per row; the four power sums
  accumulate in DECIMAL(38,0) (order-free), and skew/kurt are
  scale-free ratios of central moments, so no unit conversion ever
  touches the floats until one IEEE chain per group.
- ``text_lm_perplexity``: CCNet-style language-model quality scoring
  — every document scored under an add-one-smoothed bigram LM trained
  on the corpus itself. Count tables are vocabulary- and
  vocabulary²-keyed equi joins; the per-document negative-log-likelihood
  is folded in *position order* over a bounded per-doc list (the
  timeseries_ewma HOF contract), so the float sum is bit-identical in
  both engines despite being an accumulation.
- ``scalar_bitwise_funcs``: AND/OR/XOR/NOT, shifts, popcount — pure
  column expressions, zero shuffles.
- ``text_heavy_hitters``: exact corpus heavy hitters via the 2-pass
  sketch pattern — per-partition Misra-Gries candidate summaries
  (mergeable, certified superset), then exact counts of candidates
  only. The output is exact; the sketch only bounds the candidate
  set.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from chiv_spark.functions.detmath import det_round, duckdb_det_round
from chiv_spark.functions.hashing import duckdb_hash64, hash64
from chiv_spark.queries.base import query, t
from chiv_spark.sources.catalog import read_table_stream

# --------------------------------------------------------------------------
# events_activity_streaks


@query(
    "events_activity_streaks",
    """
    WITH days AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
    keyed AS (
      SELECT user_id, day,
             date_diff('day', DATE '2000-01-01', day)
               - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS grp
      FROM days)
    SELECT user_id,
           MIN(day) AS streak_start,
           MAX(day) AS streak_end,
           CAST(COUNT(*) AS BIGINT) AS streak_days
    FROM keyed GROUP BY user_id, grp
    """,
    doc="gaps-and-islands: runs of consecutive active days per user via "
    "the day-minus-row_number island key; distinct + user-partitioned "
    "window + hash-agg — all shuffles keyed by user, nothing global",
)
def events_activity_streaks(spark, sf_dir):
    e = t(spark, sf_dir, "events")
    days = e.select("user_id", F.col("ts").cast("date").alias("day")).distinct()
    keyed = days.select(
        "user_id",
        "day",
        (
            F.datediff("day", F.lit("2000-01-01").cast("date"))
            - F.row_number().over(Window.partitionBy("user_id").orderBy("day"))
        ).alias("grp"),
    )
    return keyed.groupBy("user_id", "grp").agg(
        F.min("day").alias("streak_start"),
        F.max("day").alias("streak_end"),
        F.count(F.lit(1)).cast("long").alias("streak_days"),
    ).drop("grp")


# --------------------------------------------------------------------------
# agg_skew_kurtosis


@query(
    "agg_skew_kurtosis",
    f"""
    WITH q AS (
      SELECT event_type, CAST(ROUND(value * 100.0) AS BIGINT) AS xm
      FROM events),
    mom AS (
      -- xm^3/xm^4 leave BIGINT once |x| nears 550 (56021^4 > 2^63),
      -- so the 3rd/4th powers ride HUGEINT (Spark side: DECIMAL(38))
      SELECT event_type,
             COUNT(*) AS n,
             SUM(CAST(xm AS HUGEINT)) AS s1,
             SUM(CAST(xm * xm AS HUGEINT)) AS s2,
             SUM(CAST(xm AS HUGEINT) * xm * xm) AS s3,
             SUM(CAST(xm AS HUGEINT) * xm * xm * xm) AS s4
      FROM q GROUP BY event_type),
    c AS (
      SELECT event_type, CAST(n AS BIGINT) AS n,
             CAST(s1 AS DOUBLE) / n AS mu,
             CAST(s2 AS DOUBLE) / n AS r2,
             CAST(s3 AS DOUBLE) / n AS r3,
             CAST(s4 AS DOUBLE) / n AS r4
      FROM mom)
    SELECT event_type, n,
           {duckdb_det_round('mu / 100.0')} AS mean,
           {duckdb_det_round('sqrt(r2 - mu * mu) / 100.0')} AS stddev_pop,
           {duckdb_det_round(
               '(r3 - 3.0 * mu * r2 + 2.0 * mu * mu * mu)'
               ' / POW(r2 - mu * mu, 1.5)')} AS skewness,
           {duckdb_det_round(
               '(r4 - 4.0 * mu * r3 + 6.0 * mu * mu * r2 - 3.0 * mu * mu * mu * mu)'
               ' / POW(r2 - mu * mu, 2.0) - 3.0')} AS kurtosis_excess
    FROM c
    """,
    doc="population skewness / excess kurtosis per event type from exact "
    "centi-quantized power sums (DECIMAL(38) transit, order-free); "
    "central-moment ratios are scale-free so one IEEE chain per group "
    "produces the result — float-sum variance formulas would "
    "hash-diverge between engines",
)
def agg_skew_kurtosis(spark, sf_dir):
    e = t(spark, sf_dir, "events")
    xm = F.round(F.col("value").cast("double") * 100.0).cast("long")
    q = e.select("event_type", xm.alias("xm"))
    # 3rd/4th powers exceed BIGINT once |x| nears 550 (56021^4 > 2^63):
    # promote to DECIMAL(38,0) BEFORE the cubing/quarting multiply
    xd = F.col("xm").cast("decimal(38,0)")
    mom = q.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(xd).alias("s1"),
        F.sum((F.col("xm") * F.col("xm")).cast("decimal(38,0)")).alias("s2"),
        F.sum(xd * F.col("xm") * F.col("xm")).alias("s3"),
        F.sum(xd * F.col("xm") * F.col("xm") * F.col("xm")).alias("s4"),
    )
    n = F.col("n")
    mu = F.col("s1").cast("double") / n
    r2 = F.col("s2").cast("double") / n
    r3 = F.col("s3").cast("double") / n
    r4 = F.col("s4").cast("double") / n
    m2 = r2 - mu * mu
    m3 = r3 - F.lit(3.0) * mu * r2 + F.lit(2.0) * mu * mu * mu
    m4 = (
        r4
        - F.lit(4.0) * mu * r3
        + F.lit(6.0) * mu * mu * r2
        - F.lit(3.0) * mu * mu * mu * mu
    )
    return mom.select(
        "event_type",
        n.cast("long").alias("n"),
        det_round(mu / 100.0).alias("mean"),
        det_round(F.sqrt(m2) / 100.0).alias("stddev_pop"),
        det_round(m3 / F.pow(m2, 1.5)).alias("skewness"),
        det_round(m4 / F.pow(m2, 2.0) - 3.0).alias("kurtosis_excess"),
    )


# --------------------------------------------------------------------------
# text_lm_perplexity


@query(
    "text_lm_perplexity",
    f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
    uni AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS c1
      FROM (SELECT unnest(tk) AS w FROM toks) GROUP BY w),
    v AS (SELECT CAST(COUNT(*) AS BIGINT) AS vsize FROM uni),
    big AS (
      SELECT doc_id, i AS pos, tk[i] AS w1, tk[i + 1] AS w2
      FROM toks, unnest(range(1, len(tk))) AS u(i)),
    bigc AS (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
      FROM big GROUP BY w1, w2),
    terms AS (
      SELECT b.doc_id, b.pos,
             ln(CAST(u.c1 + v.vsize AS DOUBLE) / CAST(bc.c12 + 1 AS DOUBLE)) AS nll
      FROM big b
      JOIN bigc bc ON b.w1 = bc.w1 AND b.w2 = bc.w2
      JOIN uni u ON b.w1 = u.w
      CROSS JOIN v),
    per_doc AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(nll ORDER BY pos)),
                         (acc, x) -> acc + x) AS total_nll
      FROM terms GROUP BY doc_id)
    SELECT doc_id, n_bigrams,
           {duckdb_det_round('total_nll / n_bigrams')} AS avg_nll,
           {duckdb_det_round('exp(total_nll / n_bigrams)')} AS perplexity
    FROM per_doc
    """,
    doc="CCNet-style LM quality scoring: per-doc perplexity under an "
    "add-one-smoothed bigram LM trained on the corpus itself. Count "
    "sides are vocab/vocab² equi joins (AQE-broadcastable); each "
    "ln-term is a ratio of exact integers; the per-doc accumulation "
    "folds in position order over a bounded list (the ewma HOF "
    "contract) so the float sum is engine-identical",
)
def text_lm_perplexity(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("tk"))
    uni = (
        toks.select(F.explode("tk").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("c1"))
    )
    v = uni.agg(F.count(F.lit(1)).cast("long").alias("vsize"))
    # size guard only on the bigram branch (uni keeps 1-token docs):
    # sequence(1, size(tk)-1) DESCENDS for a 1-token doc ([1, 0]) and
    # tk[1] is an ANSI out-of-range error in Spark 4, where the
    # oracle's range() yields no rows — filter so both sides agree
    big = toks.filter(F.size("tk") >= 2).select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(tk) - 1),"
                " i -> struct(i AS pos, tk[i - 1] AS w1, tk[i] AS w2))"
            )
        ).alias("b"),
    ).select("doc_id", "b.pos", "b.w1", "b.w2")
    bigc = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).cast("long").alias("c12"))
    terms = (
        big.join(bigc, ["w1", "w2"])
        .join(uni.withColumnRenamed("w", "w1"), "w1")
        .join(F.broadcast(v))
        .select(
            "doc_id",
            "pos",
            F.log(
                (F.col("c1") + F.col("vsize")).cast("double")
                / (F.col("c12") + 1).cast("double")
            ).alias("nll"),
        )
    )
    per_doc = terms.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.aggregate(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "nll"))), lambda s: s["nll"]
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("total_nll"),
    )
    avg = F.col("total_nll") / F.col("n_bigrams")
    return per_doc.select(
        "doc_id",
        "n_bigrams",
        det_round(avg).alias("avg_nll"),
        det_round(F.exp(avg)).alias("perplexity"),
    )


# --------------------------------------------------------------------------
# window_rolling_median

_MED_WIN = 7  # current row + 6 preceding


@query(
    "window_rolling_median",
    f"""
    SELECT event_id, user_id,
           CAST(value AS DOUBLE) AS value,
           (FLOOR(median(CAST(value AS DOUBLE)) OVER (
              PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN {_MED_WIN - 1} PRECEDING AND CURRENT ROW)
            * 1000000.0 + 0.5) / 1000000.0) AS rolling_median
    FROM events
    """,
    doc="exact rolling median over the trailing 7-row frame per user — "
    "the robust-smoothing window SQL offers no built-in for in Spark: "
    "collect the bounded frame, sort, take the midpoint (one IEEE "
    "mean for even frames). Frame size is a constant, so per-row work "
    "and memory are O(win log win) regardless of corpus size; the "
    "only shuffle is the user-partitioned window",
)
def window_rolling_median(spark, sf_dir):
    e = t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(_MED_WIN - 1), 0)
    )
    arr = F.sort_array(F.collect_list(F.col("value").cast("double")).over(w))
    n = F.size(arr)
    half = (n / 2).cast("int")
    mid = F.element_at(arr, ((n + 1) / 2).cast("int"))
    even = (F.element_at(arr, half) + F.element_at(arr, half + 1)) / 2.0
    med = F.when(n % 2 == 1, mid).otherwise(even)
    return e.select(
        "event_id",
        "user_id",
        F.col("value").cast("double").alias("value"),
        det_round(med).alias("rolling_median"),
    )


# --------------------------------------------------------------------------
# sample_negative_pairs

_NEG_K = 3


@query(
    "sample_negative_pairs",
    f"""
    WITH n AS (SELECT COUNT(*) AS n_docs FROM documents),
    slots AS (SELECT unnest(range({_NEG_K})) AS slot),
    cand AS (
      SELECT d.doc_id AS anchor_id, s.slot,
             {duckdb_hash64(
                 "('neg:' || CAST(d.doc_id AS VARCHAR) || ':' || CAST(s.slot AS VARCHAR))"
             )} % n.n_docs AS neg_id
      FROM documents d CROSS JOIN slots s CROSS JOIN n)
    SELECT c.anchor_id, CAST(c.slot AS BIGINT) AS slot, c.neg_id
    FROM cand c JOIN documents d2 ON c.neg_id = d2.doc_id
    WHERE c.neg_id <> c.anchor_id
    """,
    doc="deterministic negative sampling for contrastive training: each "
    "anchor doc draws K pseudo-random negatives via the stable hash "
    "family (fate is a pure function of (anchor, slot) — reproducible "
    "across runs/partitionings). The candidate join validates ids "
    "against the corpus (dense-id testdata makes it a no-op; on "
    "sparse ids it degrades to fewer negatives rather than danglers); "
    "self-pairs are filtered. Linear in corpus x K, one equi join",
)
def sample_negative_pairs(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    slots = spark.range(_NEG_K).select(F.col("id").cast("long").alias("slot"))
    cand = (
        docs.select(F.col("doc_id").alias("anchor_id"))
        .crossJoin(F.broadcast(slots))
        .join(F.broadcast(n))
        .select(
            "anchor_id",
            "slot",
            (
                hash64(
                    F.concat(
                        F.lit("neg:"),
                        F.col("anchor_id").cast("string"),
                        F.lit(":"),
                        F.col("slot").cast("string"),
                    )
                )
                % F.col("n_docs")
            ).alias("neg_id"),
        )
    )
    valid = docs.select(F.col("doc_id").alias("neg_id"))
    return (
        cand.join(valid, "neg_id")
        .filter(F.col("neg_id") != F.col("anchor_id"))
        .select("anchor_id", "slot", "neg_id")
    )


# --------------------------------------------------------------------------
# agg_entropy_per_user


@query(
    "agg_entropy_per_user",
    f"""
    WITH per AS (
      SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY user_id, event_type),
    tot AS (
      SELECT user_id, event_type, c,
             SUM(c) OVER (PARTITION BY user_id) AS n
      FROM per),
    folded AS (
      SELECT user_id,
             CAST(MAX(n) AS BIGINT) AS n_events,
             CAST(COUNT(*) AS BIGINT) AS n_types,
             list_reduce(
               list_prepend(CAST(0.0 AS DOUBLE),
                 list(-(CAST(c AS DOUBLE) / n) * ln(CAST(c AS DOUBLE) / n)
                      ORDER BY event_type)),
               (acc, x) -> acc + x) AS h
      FROM tot GROUP BY user_id)
    SELECT user_id, n_events, n_types,
           {duckdb_det_round('h')} AS entropy,
           CASE WHEN n_types = 1 THEN 0.0
                ELSE {duckdb_det_round('h / ln(CAST(n_types AS DOUBLE))')}
           END AS entropy_norm
    FROM folded
    """,
    doc="Shannon entropy of each user's event-type mix (+ normalized "
    "to [0,1] by ln of the observed type count): per-cell -p ln p "
    "terms from exact integer ratios, folded in event_type order over "
    "a bounded list (at most |event types| cells per user) so the "
    "accumulation is engine-identical; cells-sized exchanges only",
)
def agg_entropy_per_user(spark, sf_dir):
    e = t(spark, sf_dir, "events")
    per = e.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("c"))
    lists = per.groupBy("user_id").agg(
        F.sum("c").cast("long").alias("n_events"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sort_array(F.collect_list(F.struct("event_type", "c"))).alias("cells"),
    )
    nd = F.col("n_events").cast("double")
    h = F.aggregate(
        F.transform(
            F.col("cells"),
            lambda s: -(s["c"].cast("double") / nd) * F.log(s["c"].cast("double") / nd),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return lists.select(
        "user_id",
        "n_events",
        "n_types",
        det_round(h).alias("entropy"),
        F.when(F.col("n_types") == 1, F.lit(0.0))
        .otherwise(det_round(h / F.log(F.col("n_types").cast("double"))))
        .alias("entropy_norm"),
    )


# --------------------------------------------------------------------------
# scalar_bitwise_funcs


@query(
    "scalar_bitwise_funcs",
    """
    WITH seeded AS (
      SELECT event_id, (user_id % 2147483647) * 2654435761 AS b FROM events)
    SELECT event_id,
           event_id & b AS bit_and,
           event_id | b AS bit_or,
           xor(event_id, b) AS bit_xor,
           ~event_id AS bit_not,
           (event_id % 1024) << 3 AS shifted_left,
           event_id >> 2 AS shifted_right,
           CAST(bit_count(event_id) AS BIGINT) AS popcount
    FROM seeded
    """,
    doc="bit-manipulation scalar family: AND/OR/XOR/NOT, shifts, "
    "popcount — pure column expressions, zero shuffles",
)
def scalar_bitwise_funcs(spark, sf_dir):
    e = t(spark, sf_dir, "events")
    # mask before the Knuth-multiply: user_id * 2654435761 overflows
    # BIGINT (ANSI runtime error) once user_id passes ~3.5e9; the mod
    # bounds the product at ~5.7e18 < 2^63 at any id scale, and is an
    # identity for every id below 2^31 (so test-scale values are
    # unchanged). Mirrored verbatim in the oracle SQL above.
    seeded = e.select(
        "event_id", ((F.col("user_id") % 2147483647) * F.lit(2654435761)).alias("b")
    )
    return seeded.select(
        "event_id",
        F.expr("event_id & b").alias("bit_and"),
        F.expr("event_id | b").alias("bit_or"),
        F.expr("event_id ^ b").alias("bit_xor"),
        F.expr("~event_id").alias("bit_not"),
        F.shiftleft(F.col("event_id") % 1024, 3).cast("long").alias("shifted_left"),
        F.shiftright("event_id", 2).cast("long").alias("shifted_right"),
        F.bit_count("event_id").cast("long").alias("popcount"),
    )


# --------------------------------------------------------------------------
# text_heavy_hitters — 2-pass exact heavy hitters (Misra-Gries candidates)

_MG_WIDTH = 64


def _mg_summaries(width: int):
    """Per-partition Misra-Gries summary as an Arrow-batched
    mapInPandas: at most ``width`` (token, retained_count) rows per
    partition. Guarantee (Misra & Gries 1982): each decrement event
    consumes width+1 token occurrences, so per-partition
    undercounting is < n_p/width; summing over partitions, any token
    with true corpus frequency > n/width retains a positive count in
    at least one partition summary — the union of summaries is a
    certified superset of the heavy hitters. The closure is
    self-contained (stdlib+pandas only), so it needs no package
    shipping."""

    def mg(batches):
        import pandas as pd

        counters: dict[str, int] = {}
        for pdf in batches:
            for text in pdf["text"]:
                for tok in text.split(" "):
                    if tok in counters:
                        counters[tok] += 1
                    elif len(counters) < width:
                        counters[tok] = 1
                    else:
                        dead = []
                        for k in counters:
                            counters[k] -= 1
                            if counters[k] == 0:
                                dead.append(k)
                        for k in dead:
                            del counters[k]
        yield pd.DataFrame({"w": list(counters.keys())})

    return mg


@query(
    "text_heavy_hitters",
    f"""
    WITH tok AS (
      SELECT unnest(string_split(text, ' ')) AS w FROM documents),
    tot AS (SELECT COUNT(*) AS n FROM tok),
    cnt AS (SELECT w, COUNT(*) AS freq FROM tok GROUP BY w)
    SELECT w, CAST(freq AS BIGINT) AS freq
    FROM cnt, tot WHERE freq > n / {_MG_WIDTH}.0
    """,
    doc="EXACT corpus heavy hitters (tokens with frequency > n/64) "
    "via the scalable two-pass pattern: pass 1 builds per-partition "
    "Misra-Gries summaries (<=64 rows per partition, a mergeable "
    "sketch whose union is a certified superset of the heavy "
    "hitters — soundness argument in _mg_summaries), pass 2 exact-"
    "counts ONLY the candidates (broadcast semi join) and applies "
    "the threshold. At 100 TB the full token groupBy the oracle "
    "runs would shuffle the corpus vocabulary; this plan shuffles "
    "width x partitions candidate rows plus one filtered count — "
    "and the final output is exact, not approximate, because the "
    "threshold filter runs on true counts. The tiny-vocab testdata "
    "never triggers decrements (candidates == vocab); the sketch "
    "mechanics under vocab >> width are pinned by an adversarial "
    "pytest (tests/test_mining.py)",
)
def text_heavy_hitters(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    cand = (
        docs.select("text")
        .mapInPandas(_mg_summaries(_MG_WIDTH), "w string")
        .distinct()
    )
    toks = docs.select(F.explode(F.split("text", " ")).alias("w"))
    total = toks.agg(F.count(F.lit(1)).alias("n"))
    return (
        toks.join(F.broadcast(cand), "w", "left_semi")
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
        .join(F.broadcast(total))
        .filter(F.col("freq") > F.col("n") / float(_MG_WIDTH))
        .select("w", "freq")
    )


# --------------------------------------------------------------------------
# streaming_heavy_hitters — the candidate fold distributed over
# microbatches (streaming.dedup_index.heavy_hitters_stream): pass 1's
# per-partition Misra-Gries summaries run per arriving batch and fold
# into a persisted candidate store; pass 2 exact-counts the
# accumulated candidates over the corpus. Soundness across batches:
# freq > n/width corpus-wide implies freq_b > n_b/width in >= 1 batch
# (averaging), where MG certifies retention — so the candidate union
# stays a superset and the final output is EXACT, sharing the batch
# twin's oracle verbatim.


@query(
    "streaming_heavy_hitters",
    f"""
    WITH tok AS (
      SELECT unnest(string_split(text, ' ')) AS w FROM documents),
    tot AS (SELECT COUNT(*) AS n FROM tok),
    cnt AS (SELECT w, COUNT(*) AS freq FROM tok GROUP BY w)
    SELECT w, CAST(freq AS BIGINT) AS freq
    FROM cnt, tot WHERE freq > n / {_MG_WIDTH}.0
    """,
    doc="streaming twin of text_heavy_hitters: each microbatch's "
    "Misra-Gries candidate summaries (<= width rows per partition) "
    "fold into a persisted generational candidate store — bounded "
    "state per batch, replay-idempotent because the store is a set "
    "of tokens under dynamic partition overwrite — and the final "
    "pass exact-counts ONLY the accumulated candidates, so the "
    "output is exact regardless of sketch behavior and the batch "
    "oracle is shared verbatim (availableNow = one batch sees all "
    "arrivals). The cross-batch superset argument lives on "
    "heavy_hitters_stream's docstring",
)
def streaming_heavy_hitters(spark, sf_dir):
    import tempfile

    from chiv_spark.streaming.dedup_index import heavy_hitters_stream

    docs = t(spark, sf_dir, "documents")
    stream = read_table_stream(spark, sf_dir, "documents")
    work = tempfile.mkdtemp(prefix="chiv-hhstream-")
    return heavy_hitters_stream(
        spark,
        docs,
        stream.select("text"),
        work,
        _MG_WIDTH,
        _mg_summaries(_MG_WIDTH),
    )


# --------------------------------------------------------------------------
# text_freq_cms — Count-Min sketch as a native DataFrame operator

_CMS_DEPTH = 4
_CMS_WIDTH = 2048


@query(
    "text_freq_cms",
    f"""
    WITH tok AS (
      SELECT unnest(string_split(text, ' ')) AS w FROM documents),
    buckets AS (
      SELECT r, {duckdb_hash64("'cms' || r || ':' || w")} % {_CMS_WIDTH} AS b,
             COUNT(*) AS c
      FROM tok, UNNEST(range(0, {_CMS_DEPTH})) AS t(r)
      GROUP BY 1, 2),
    tot AS (SELECT COUNT(*) AS n FROM tok),
    heavy AS (
      SELECT w, COUNT(*) AS freq FROM tok GROUP BY w
      HAVING COUNT(*) > (SELECT n FROM tot) / 64.0),
    probes AS (
      SELECT h.w, h.freq, bk.c
      FROM heavy h
      CROSS JOIN UNNEST(range(0, {_CMS_DEPTH})) AS t(r)
      JOIN buckets bk
        ON bk.r = t.r
       AND bk.b = {duckdb_hash64("'cms' || t.r || ':' || h.w")} % {_CMS_WIDTH})
    SELECT w, CAST(freq AS BIGINT) AS freq, CAST(MIN(c) AS BIGINT) AS cms_est
    FROM probes GROUP BY w, freq
    """,
    doc="Count-Min sketch built NATIVELY as DataFrame ops — the "
    "approximate-frequency companion to the exact text_heavy_hitters "
    "(r5 verdict: give the output-bound exact operators approximate "
    "companions). The sketch is just a (depth x width) counter table: "
    "one narrow x4 hash explode + one hash agg bounded by 8192 keys "
    "(map-side partials; the corpus never shuffles its vocabulary). "
    "Point queries probe depth buckets and take the MIN — the "
    "classic CMS overestimate guarantee (est >= true, est <= true + "
    "n*e/width w.h.p.) holds by construction. Because the hash "
    "family is the md5-derived cross-engine hash64, the estimate is "
    "BIT-EXACT reproducible in DuckDB: unlike HLL/approx_percentile "
    "companions this approximate operator is fully hash-matched, "
    "not boolean-gated. At 100 TB the sketch is ~64KB regardless of "
    "corpus size and answers any token's frequency without a "
    "rescan; the exact heavy-token counts ride along here only to "
    "exhibit the estimates against truth",
)
def text_freq_cms(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    toks = docs.select(F.explode(F.split("text", " ")).alias("w"))

    def bucket(r_col, w_col):
        return hash64(
            F.concat(F.lit("cms"), r_col.cast("string"), F.lit(":"), w_col)
        ) % _CMS_WIDTH

    rows = toks.select(
        F.explode(F.expr(f"sequence(0, {_CMS_DEPTH - 1})")).alias("r"), "w"
    )
    cms = (
        rows.select("r", bucket(F.col("r"), F.col("w")).alias("b"))
        .groupBy("r", "b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    total = toks.agg(F.count(F.lit(1)).alias("n"))
    heavy = (
        toks.groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
        .join(F.broadcast(total))
        .filter(F.col("freq") > F.col("n") / 64.0)
        .select("w", "freq")
    )
    probes = heavy.select(
        "w",
        "freq",
        F.explode(F.expr(f"sequence(0, {_CMS_DEPTH - 1})")).alias("r"),
    ).select("w", "freq", "r", bucket(F.col("r"), F.col("w")).alias("b"))
    return (
        probes.join(cms, ["r", "b"])
        .groupBy("w", "freq")
        .agg(F.min("c").cast("long").alias("cms_est"))
    )


# --------------------------------------------------------------------------
# text_zipf_slope — rank-frequency power-law fit


@query(
    "text_zipf_slope",
    f"""
    WITH tok AS (
      SELECT unnest(string_split(text, ' ')) AS w FROM documents),
    cnt AS (SELECT w, COUNT(*) AS freq FROM tok GROUP BY w),
    ranked AS (
      SELECT freq,
             ROW_NUMBER() OVER (ORDER BY freq DESC, w) AS rank
      FROM cnt),
    top AS (SELECT rank, freq FROM ranked WHERE rank <= 1000),
    fit AS (
      SELECT COUNT(*) AS k,
             SUM(ln(rank)) AS sx, SUM(ln(freq)) AS sy,
             SUM(ln(rank) * ln(rank)) AS sxx,
             SUM(ln(rank) * ln(freq)) AS sxy
      FROM top)
    SELECT CAST(k AS BIGINT) AS n_ranks,
           {duckdb_det_round("(sxy - sx * sy / k) / (sxx - sx * sx / k)")}
             AS zipf_slope
    FROM fit
    """,
    doc="Zipf's-law exponent of the corpus: least-squares slope of "
    "ln(freq) vs ln(rank) over the top-1000 vocabulary ranks — the "
    "corpus-health diagnostic (natural text sits near -1; template "
    "spam and boilerplate flatten or steepen it). The token table "
    "collapses to vocabulary size in ONE hash agg; the top-1000 is "
    "then taken by orderBy+limit — physically TakeOrderedAndProject "
    "(per-partition top-k, merged on the driver), so the vocabulary "
    "never funnels through a single-partition window (Spark's "
    "InferWindowGroupLimit does NOT rewrite rank-filters over "
    "unpartitioned windows, so the previous row_number-then-filter "
    "shape WOULD have single-tasked the whole vocabulary). The rank "
    "assignment and regression run as a post-limit window on the "
    "1000-row result only; ordering is made total by the "
    "(freq DESC, w) tiebreak so the selected rows match the "
    "oracle's rank filter exactly. ln() error is sub-ulp per term "
    "and the slope is det-rounded to 6dp, absorbing cross-engine "
    "libm differences",
)
def text_zipf_slope(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    cnt = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    top = cnt.orderBy(F.col("freq").desc(), "w").limit(1000)
    ranked = top.select(
        "freq",
        F.row_number()
        .over(Window.orderBy(F.col("freq").desc(), "w"))
        .alias("rank"),
    )
    lx, ly = F.log(F.col("rank").cast("double")), F.log(F.col("freq").cast("double"))
    fit = ranked.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum(lx).alias("sx"),
        F.sum(ly).alias("sy"),
        F.sum(lx * lx).alias("sxx"),
        F.sum(lx * ly).alias("sxy"),
    )
    slope = (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("k")) / (
        F.col("sxx") - F.col("sx") * F.col("sx") / F.col("k")
    )
    return fit.select(
        F.col("k").cast("long").alias("n_ranks"), det_round(slope).alias("zipf_slope")
    )


# --------------------------------------------------------------------------
# orders_market_basket — association rules over order baskets


@query(
    "orders_market_basket",
    f"""
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n_orders AS (SELECT COUNT(DISTINCT l_orderkey) AS n FROM li),
    item AS (SELECT l_partkey, COUNT(*) AS n_item FROM li GROUP BY l_partkey),
    pair AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS n_pair
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey
      HAVING COUNT(*) >= 2),
    scored AS (
      SELECT part_a, part_b, n_pair,
             CAST(n_pair AS DOUBLE) * n.n / (ia.n_item * ib.n_item) AS lift
      FROM pair
      JOIN item ia ON ia.l_partkey = part_a
      JOIN item ib ON ib.l_partkey = part_b
      CROSS JOIN n_orders n),
    ranked AS (
      SELECT part_a, part_b, n_pair, lift,
             ROW_NUMBER() OVER (ORDER BY lift DESC, part_a, part_b) AS rk
      FROM scored)
    SELECT part_a, part_b, CAST(n_pair AS BIGINT) AS n_pair,
           {duckdb_det_round("lift")} AS lift
    FROM ranked WHERE rk <= 100
    """,
    doc="market-basket association mining over order baskets: part "
    "pairs co-occurring in >= 2 orders, scored by LIFT "
    "(P(a,b)/(P(a)P(b)) = n_ab*N/(n_a*n_b)) and top-100 ranked — "
    "the recommender/cross-sell primitive. The pair join is keyed "
    "on the ORDER (co-located, bounded by basket-size^2 per order, "
    "never parts^2); item supports broadcast back onto the "
    "pair-level relation; lift is one exact-integer ratio so the "
    "ranking is engine-identical, and the top-100 is orderBy+limit "
    "(TakeOrderedAndProject — the pair relation never funnels "
    "through an unpartitioned window; the (lift DESC, part_a, "
    "part_b) ordering is total so rows match the oracle's rank "
    "filter). At 100 TB the same shape holds — the support "
    "threshold (and a basket-size cap for pathological orders) are "
    "the dials",
)
def orders_market_basket(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    n_orders = li.agg(F.countDistinct("l_orderkey").alias("n"))
    item = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n_item"))
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_a"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_b"))
    pair = (
        a.join(b, "ok")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .filter(F.col("n_pair") >= 2)
    )
    scored = (
        pair.join(
            F.broadcast(item.select(F.col("l_partkey").alias("part_a"),
                                    F.col("n_item").alias("na"))), "part_a")
        .join(
            F.broadcast(item.select(F.col("l_partkey").alias("part_b"),
                                    F.col("n_item").alias("nb"))), "part_b")
        .crossJoin(F.broadcast(n_orders))
        .withColumn(
            "lift",
            F.col("n_pair").cast("double") * F.col("n") / (F.col("na") * F.col("nb")),
        )
    )
    return (
        scored.orderBy(F.col("lift").desc(), "part_a", "part_b")
        .limit(100)
        .select(
            "part_a", "part_b",
            F.col("n_pair").cast("long").alias("n_pair"),
            det_round(F.col("lift")).alias("lift"),
        )
    )


# --------------------------------------------------------------------------
# mining_item_knn — item-to-item collaborative-filtering neighbors


@query(
    "mining_item_knn",
    f"""
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    item AS (SELECT l_partkey, COUNT(*) AS n_item FROM li GROUP BY l_partkey),
    pair AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS n_pair
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey != b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey
      HAVING COUNT(*) >= 2),
    scored AS (
      SELECT part_a, part_b, n_pair,
             CAST(n_pair AS DOUBLE) / sqrt(CAST(ia.n_item * ib.n_item AS DOUBLE)) AS cosine
      FROM pair
      JOIN item ia ON ia.l_partkey = part_a
      JOIN item ib ON ib.l_partkey = part_b),
    ranked AS (
      SELECT part_a, part_b, n_pair, cosine,
             ROW_NUMBER() OVER (PARTITION BY part_a
                                ORDER BY cosine DESC, part_b) AS rk
      FROM scored)
    SELECT part_a AS part_id, part_b AS neighbor_id,
           CAST(rk AS INTEGER) AS rank,
           CAST(n_pair AS BIGINT) AS n_copurchase,
           {duckdb_det_round("cosine")} AS cosine
    FROM ranked WHERE rk <= 3
    """,
    doc="item-to-item collaborative filtering (the Amazon-style "
    "recsys serving structure): per part, its top-3 neighbors by "
    "cosine over binary purchase vectors — cos = n_ab/sqrt(n_a*n_b) "
    "from exact integer co-occurrence counts, one IEEE expression, "
    "engine-identical ranking. Complements orders_market_basket's "
    "global lift ranking with the PER-ITEM neighbor list a "
    "recommender actually serves. Scale: the pair join is keyed on "
    "the order (bounded by basket-size^2 per order, never parts^2), "
    "supports broadcast onto pairs, and the rank window partitions "
    "by item — parts-cardinality keys, uniform by construction",
)
def mining_item_knn(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    item = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n_item"))
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_a"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_b"))
    pair = (
        a.join(b, "ok")
        .filter(F.col("part_a") != F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .filter(F.col("n_pair") >= 2)
    )
    scored = (
        pair.join(
            F.broadcast(
                item.select(F.col("l_partkey").alias("part_a"), F.col("n_item").alias("na"))
            ),
            "part_a",
        )
        .join(
            F.broadcast(
                item.select(F.col("l_partkey").alias("part_b"), F.col("n_item").alias("nb"))
            ),
            "part_b",
        )
        .withColumn(
            "cosine",
            F.col("n_pair").cast("double")
            / F.sqrt((F.col("na") * F.col("nb")).cast("double")),
        )
    )
    w = Window.partitionBy("part_a").orderBy(F.col("cosine").desc(), "part_b")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(
            F.col("part_a").alias("part_id"),
            F.col("part_b").alias("neighbor_id"),
            F.col("rk").cast("int").alias("rank"),
            F.col("n_pair").cast("long").alias("n_copurchase"),
            det_round(F.col("cosine")).alias("cosine"),
        )
    )


# --------------------------------------------------------------------------
# text_dsir_importance

#: hashed-feature space size and the target domain of the importance
#: weights, shared as literals with the oracle SQL
_DSIR_B = 256
_DSIR_TARGET = "en"


@query(
    "text_dsir_importance",
    f"""
    WITH toks AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w FROM documents),
    bk AS (SELECT doc_id, lang, ({duckdb_hash64('w')} % {_DSIR_B}) AS b FROM toks),
    raw AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS cr FROM bk GROUP BY b),
    tgt AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS ct FROM bk WHERE lang = '{_DSIR_TARGET}' GROUP BY b),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS tr,
                   CAST(SUM(CASE WHEN lang = '{_DSIR_TARGET}' THEN 1 ELSE 0 END) AS BIGINT) AS tt
            FROM bk),
    lr AS (SELECT r.b,
                  CAST(FLOOR(ln(
                    (CAST(COALESCE(t2.ct, 0) + 1 AS DOUBLE) * CAST(tot.tr + {_DSIR_B} AS DOUBLE)) /
                    (CAST(r.cr + 1 AS DOUBLE) * CAST(tot.tt + {_DSIR_B} AS DOUBLE))
                  ) * 1000000.0 + 0.5) AS BIGINT) AS lrm
           FROM raw r LEFT JOIN tgt t2 ON r.b = t2.b CROSS JOIN tot),
    nb AS (SELECT doc_id, b, CAST(COUNT(*) AS BIGINT) AS n FROM bk GROUP BY doc_id, b),
    score AS (SELECT nb.doc_id, CAST(SUM(nb.n * lr.lrm) AS BIGINT) AS score_micro
              FROM nb JOIN lr ON nb.b = lr.b GROUP BY nb.doc_id)
    SELECT s.doc_id, d.lang, s.score_micro,
           CAST(s.score_micro / 1000000.0 AS DOUBLE) AS log_weight
    FROM score s JOIN documents d ON s.doc_id = d.doc_id
    ORDER BY s.score_micro DESC, s.doc_id
    LIMIT 200
    """,
    doc="DSIR-style importance scoring (Xie et al. 2023, 'Data "
    "Selection for Language Models via Importance Resampling' — "
    "public arXiv:2302.03169): rank raw docs by how much more likely "
    "their hashed unigram features are under the TARGET domain "
    "(lang='en' plays the high-quality target corpus) than under the "
    "raw corpus. Per-bucket add-one-smoothed log-likelihood ratios "
    "are computed once on the 256-row bucket relation (ONE "
    "transcendental each — ln is cross-engine bit-consistent here) "
    "and integer-quantized to micro-nats, so each doc's score is an "
    "order-free exact integer multiply-sum over its bucket counts — "
    "no float accumulation anywhere. The bucket tables broadcast "
    "(256 rows regardless of corpus size); top-200 selection is "
    "orderBy+limit (TakeOrderedAndProject, total ordering via doc_id "
    "tiebreak) — at 100 TB the only wide shuffles are the two "
    "hash-aggs over (doc_id, bucket) and bucket",
)
def text_dsir_importance(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    bucketed = docs.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("w")
    ).select("doc_id", "lang", (hash64(F.col("w")) % _DSIR_B).alias("b"))
    raw = bucketed.groupBy("b").agg(F.count(F.lit(1)).cast("long").alias("cr"))
    tgt = (
        bucketed.filter(F.col("lang") == _DSIR_TARGET)
        .groupBy("b")
        .agg(F.count(F.lit(1)).cast("long").alias("ct"))
    )
    tot = bucketed.agg(
        F.count(F.lit(1)).cast("long").alias("tr"),
        F.sum(F.when(F.col("lang") == _DSIR_TARGET, 1).otherwise(0))
        .cast("long")
        .alias("tt"),
    )
    # identical IEEE op order to the oracle: (num_a * num_b) / (den_a
    # * den_b), ONE ln, then the det-floor micro-nat quantization
    lrm = (
        F.floor(
            F.log(
                (
                    (F.coalesce(F.col("ct"), F.lit(0)) + 1).cast("double")
                    * (F.col("tr") + _DSIR_B).cast("double")
                )
                / (
                    (F.col("cr") + 1).cast("double")
                    * (F.col("tt") + _DSIR_B).cast("double")
                )
            )
            * 1000000.0
            + 0.5
        )
        .cast("long")
        .alias("lrm")
    )
    lr = raw.join(tgt, "b", "left").join(F.broadcast(tot)).select("b", lrm)
    nb = bucketed.groupBy("doc_id", "b").agg(F.count(F.lit(1)).cast("long").alias("n"))
    score = (
        nb.join(F.broadcast(lr), "b")
        .groupBy("doc_id")
        .agg(F.sum(F.col("n") * F.col("lrm")).cast("long").alias("score_micro"))
    )
    return (
        score.join(docs.select("doc_id", "lang"), "doc_id")
        .select(
            "doc_id",
            "lang",
            "score_micro",
            (F.col("score_micro") / 1000000.0).cast("double").alias("log_weight"),
        )
        .orderBy(F.col("score_micro").desc(), "doc_id")
        .limit(200)
    )
