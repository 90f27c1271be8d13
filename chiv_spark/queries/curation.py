"""Corpus-curation tier 2: the web-scale cleaning passes that sit
between raw crawl and the quality/dedup stages of quality.py —
URL handling, Gopher repetition signals, semantic dedup, BPE seeding,
and a corpus-composition independence test.

- ``scalar_url_funcs``: parse_url component extraction (host / path /
  query / named param / fragment). URLs are seeded deterministically
  from doc_id (the synthetic corpus has none), so both engines see
  identical inputs and the parser itself is what's under test.
- ``dedup_url_canonical``: URL canonicalization (case-fold
  scheme+host, strip fragment, drop utm_* tracking params, trim the
  trailing slash) followed by exact dedup on the canonical form —
  the standard crawl-frontier dedup pass. Hash-groupBy on the
  canonical key: linear, one shuffle, same scale shape as
  dedup_exact (operators/dedup.py:70).
- ``text_gopher_repetition``: Gopher's repetition signals (Rae et
  al. 2021 §A1.1) at the word-3-gram level: fraction of 3-gram
  occurrences that are repeats and fraction of document characters
  covered by the single most-common 3-gram. Complements
  text_quality_filter (quality.py:42), which covers the unigram
  signals.
- ``dedup_semdedup``: SemDeDup (Abbas et al. 2023): exact pairwise
  cosine *within* an embedding cluster only, never across the
  corpus. Cluster size is the scale dial: with k chosen ~N/1000 the
  per-cluster pairwise work is constant-bounded and the total is
  linear in N. Here the pre-assigned ``label`` plays the role of the
  k-means cluster id (the k-means step itself is covered by
  embedding_kmeans_2iter, mlprep.py).
- ``text_bpe_first_merges``: the first BPE merge round — corpus-wide
  adjacent character-pair counts inside words, top-20. The pair
  space is alphabet² so the count table is tiny at any corpus size;
  the only shuffle is vocabulary-sized.
- ``stats_chi2_lang_source``: chi-square cell table for corpus
  composition (lang × source): observed, expected under
  independence, per-cell contribution. Emitted per-cell (langs ×
  sources rows) so no cross-cell float accumulation exists anywhere
  — each expected/contribution is a single IEEE expression on exact
  integer counts, det-rounded.

Float determinism throughout follows the integer-micro pattern of
mlprep.py: embeddings quantized to round(x*1e6)::long, all
accumulation in exact integer arithmetic, and only a final
sqrt/divide (one IEEE op chain per output value, no
order-sensitivity) before det_round.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from chiv_spark.functions.detmath import det_round, duckdb_det_round
from chiv_spark.queries.base import query, t
from chiv_spark.sources.catalog import read_table_stream

# --------------------------------------------------------------------------
# scalar_url_funcs

#: deterministic URL seeded from doc_id/lang — exercises every component
_URL_SQL = (
    "'https://cdn' || CAST(doc_id % 5 AS VARCHAR) || '.example.com/' || lang"
    " || '/doc/' || CAST(doc_id AS VARCHAR)"
    " || '?ref=r' || CAST(doc_id % 7 AS VARCHAR)"
    " || '&utm_source=s' || CAST(doc_id % 3 AS VARCHAR)"
    " || '#sec' || CAST(doc_id % 4 AS VARCHAR)"
)


@query(
    "scalar_url_funcs",
    f"""
    WITH seeded AS (SELECT doc_id, {_URL_SQL} AS url FROM documents)
    SELECT doc_id,
           regexp_extract(url, '^[a-z]+://([^/?#]+)', 1) AS host,
           regexp_extract(url, '^[a-z]+://[^/?#]+([^?#]*)', 1) AS path,
           regexp_extract(url, '\\?([^#]*)', 1) AS query,
           regexp_extract(url, '[?&]ref=([^&#]*)', 1) AS ref_param,
           regexp_extract(url, '#(.*)$', 1) AS fragment
    FROM seeded
    """,
    doc="URL component extraction: Spark's JVM-side parse_url vs the "
    "oracle's regexp decomposition — host/path/query/named-param/"
    "fragment; narrow column expressions, zero shuffles",
)
def scalar_url_funcs(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://cdn"),
        (F.col("doc_id") % 5).cast("string"),
        F.lit(".example.com/"),
        F.col("lang"),
        F.lit("/doc/"),
        F.col("doc_id").cast("string"),
        F.lit("?ref=r"),
        (F.col("doc_id") % 7).cast("string"),
        F.lit("&utm_source=s"),
        (F.col("doc_id") % 3).cast("string"),
        F.lit("#sec"),
        (F.col("doc_id") % 4).cast("string"),
    )
    seeded = docs.select("doc_id", url.alias("url"))
    return seeded.select(
        "doc_id",
        F.parse_url("url", F.lit("HOST")).alias("host"),
        F.parse_url("url", F.lit("PATH")).alias("path"),
        F.parse_url("url", F.lit("QUERY")).alias("query"),
        F.parse_url("url", F.lit("QUERY"), F.lit("ref")).alias("ref_param"),
        F.parse_url("url", F.lit("REF")).alias("fragment"),
    )


# --------------------------------------------------------------------------
# dedup_url_canonical

#: four crawl variants of the same logical page, seeded by doc_id % 4:
#: plain / upper-cased scheme+host / trailing slash / utm-tracking query
_VARIANT_SQL = """
      CASE doc_id % 4
        WHEN 0 THEN 'https://www.example.com/page/' || CAST(doc_id // 4 AS VARCHAR)
        WHEN 1 THEN 'HTTPS://WWW.Example.COM/page/' || CAST(doc_id // 4 AS VARCHAR)
        WHEN 2 THEN 'https://www.example.com/page/' || CAST(doc_id // 4 AS VARCHAR) || '/'
        ELSE 'https://www.example.com/page/' || CAST(doc_id // 4 AS VARCHAR)
             || '?utm_source=feed&id=' || CAST(doc_id % 4 AS VARCHAR) || '&utm_campaign=x'
      END
"""


@query(
    "dedup_url_canonical",
    f"""
    WITH seeded AS (SELECT doc_id, {_VARIANT_SQL} AS url FROM documents),
    canon AS (
      SELECT doc_id,
             lower(regexp_extract(url, '^([a-zA-Z]+://[^/?#]+)', 1))
             || regexp_replace(
                  regexp_extract(url, '^[a-zA-Z]+://[^/?#]+([^?#]*)', 1), '/$', '')
             || CASE WHEN q = '' THEN '' ELSE '?' || q END AS canonical_url
      FROM (
        SELECT doc_id, url,
               -- DuckDB's array_to_string([]) is NULL, Spark's array_join is ''
               COALESCE(array_to_string(
                 list_filter(string_split(regexp_extract(url, '\\?([^#]*)', 1), '&'),
                             x -> NOT starts_with(x, 'utm_') AND x <> ''),
                 '&'), '') AS q
        FROM seeded))
    SELECT canonical_url,
           CAST(COUNT(*) AS BIGINT) AS n_variants,
           CAST(MIN(doc_id) AS BIGINT) AS kept_doc_id
    FROM canon GROUP BY canonical_url
    """,
    doc="URL canonicalization (case-fold scheme+host, strip fragment & "
    "utm_* params, trim trailing slash) + exact dedup keeping the "
    "first-crawled doc; hash-groupBy on the canonical key, one shuffle",
)
def dedup_url_canonical(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    base = (F.col("doc_id") / 4).cast("long").cast("string")
    url = (
        F.when(F.col("doc_id") % 4 == 0,
               F.concat(F.lit("https://www.example.com/page/"), base))
        .when(F.col("doc_id") % 4 == 1,
              F.concat(F.lit("HTTPS://WWW.Example.COM/page/"), base))
        .when(F.col("doc_id") % 4 == 2,
              F.concat(F.lit("https://www.example.com/page/"), base, F.lit("/")))
        .otherwise(
            F.concat(
                F.lit("https://www.example.com/page/"), base,
                F.lit("?utm_source=feed&id="),
                (F.col("doc_id") % 4).cast("string"),
                F.lit("&utm_campaign=x"),
            )
        )
    )
    seeded = docs.select("doc_id", url.alias("url"))
    q = F.array_join(
        F.filter(
            F.split(F.regexp_extract("url", r"\?([^#]*)", 1), "&"),
            lambda x: (~x.startswith("utm_")) & (x != ""),
        ),
        "&",
    )
    canonical = F.concat(
        F.lower(F.regexp_extract("url", r"^([a-zA-Z]+://[^/?#]+)", 1)),
        F.regexp_replace(
            F.regexp_extract("url", r"^[a-zA-Z]+://[^/?#]+([^?#]*)", 1), "/$", ""
        ),
        F.when(q == "", "").otherwise(F.concat(F.lit("?"), q)),
    )
    return (
        seeded.select("doc_id", canonical.alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_variants"),
            F.min("doc_id").cast("long").alias("kept_doc_id"),
        )
    )


# --------------------------------------------------------------------------
# text_gopher_repetition


@query(
    "text_gopher_repetition",
    f"""
    WITH toks AS (
      SELECT doc_id, length(text) AS n_chars_doc, string_split(text, ' ') AS tk
      FROM documents),
    grams AS (
      SELECT doc_id, n_chars_doc,
             tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2] AS g
      FROM toks, unnest(range(1, len(tk) - 1)) AS u(i)),
    per AS (
      SELECT doc_id, n_chars_doc, g, COUNT(*) AS tf
      FROM grams GROUP BY doc_id, n_chars_doc, g),
    ranked AS (
      SELECT doc_id, n_chars_doc, g, tf,
             SUM(tf) OVER (PARTITION BY doc_id) AS n_grams,
             SUM(CASE WHEN tf > 1 THEN tf ELSE 0 END)
               OVER (PARTITION BY doc_id) AS dup_occ,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY tf DESC, g DESC) AS rn
      FROM per)
    SELECT doc_id,
           CAST(n_grams AS BIGINT) AS n_grams,
           {duckdb_det_round('dup_occ / CAST(n_grams AS DOUBLE)')} AS dup_gram_frac,
           {duckdb_det_round('(length(g) * tf) / CAST(n_chars_doc AS DOUBLE)')}
             AS top_gram_char_frac,
           (dup_occ / CAST(n_grams AS DOUBLE) <= 0.18) AS keep
    FROM ranked WHERE rn = 1
    """,
    doc="Gopher repetition signals at the word-3-gram level: repeated-"
    "3-gram occurrence fraction + character share of the most common "
    "3-gram (ties broken by gram text), with a keep verdict; per-doc "
    "explode + hash-agg + doc-partitioned window, all linear",
)
def text_gopher_repetition(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.length("text").alias("n_chars_doc"),
        F.split("text", " ").alias("tk"),
    ).filter(F.size("tk") >= 3)
    # the size guard above is load-bearing, not cosmetic: for docs with
    # <3 tokens, sequence(1, size(tk)-2) would be a DESCENDING sequence
    # (e.g. sequence(1, 0) = [1, 0]) whose out-of-range indexes raise
    # under Spark 4 ANSI mode, while the DuckDB oracle's range() returns
    # empty — the filter makes both sides drop short docs identically.
    grams = toks.select(
        "doc_id",
        "n_chars_doc",
        F.explode(
            F.expr(
                "transform(sequence(1, size(tk) - 2),"
                " i -> concat(tk[i - 1], ' ', tk[i], ' ', tk[i + 1]))"
            )
        ).alias("g"),
    )
    per = grams.groupBy("doc_id", "n_chars_doc", "g").agg(
        F.count(F.lit(1)).alias("tf")
    )
    w = Window.partitionBy("doc_id")
    ranked = per.select(
        "doc_id",
        "n_chars_doc",
        "g",
        "tf",
        F.sum("tf").over(w).alias("n_grams"),
        F.sum(F.when(F.col("tf") > 1, F.col("tf")).otherwise(0)).over(w).alias("dup_occ"),
        F.row_number()
        .over(w.orderBy(F.col("tf").desc(), F.col("g").desc()))
        .alias("rn"),
    ).filter(F.col("rn") == 1)
    dup_frac = F.col("dup_occ") / F.col("n_grams").cast("double")
    top_frac = (F.length("g") * F.col("tf")) / F.col("n_chars_doc").cast("double")
    return ranked.select(
        "doc_id",
        F.col("n_grams").cast("long").alias("n_grams"),
        det_round(dup_frac).alias("dup_gram_frac"),
        det_round(top_frac).alias("top_gram_char_frac"),
        (dup_frac <= 0.18).alias("keep"),
    )


# --------------------------------------------------------------------------
# dedup_semdedup

#: cosine threshold above which the later (higher-id) vector is dropped.
#: Real deployments run ~0.95-0.99 against trained embeddings; the
#: synthetic corpus has no planted semantic duplicates, so the dial sits
#: where this data has signal — the algorithm under test is identical.
_SEMDEDUP_TAU = 0.35


@query(
    "dedup_semdedup",
    f"""
    WITH ex AS (
      SELECT vec_id, label,
             CAST(generate_subscripts(embedding::DOUBLE[], 1) AS BIGINT) AS d,
             CAST(ROUND(unnest(embedding::DOUBLE[]) * 1000000.0) AS BIGINT) AS xm
      FROM embeddings),
    n2 AS (SELECT vec_id, SUM(xm * xm) AS nn FROM ex GROUP BY vec_id),
    pairs AS (
      SELECT a.vec_id AS va, b.vec_id AS vb, SUM(a.xm * b.xm) AS dot
      FROM ex a JOIN ex b ON a.label = b.label AND a.d = b.d
                         AND a.vec_id < b.vec_id
      GROUP BY 1, 2),
    dup AS (
      SELECT DISTINCT vb
      FROM pairs p JOIN n2 na ON p.va = na.vec_id
                   JOIN n2 nb ON p.vb = nb.vec_id
      WHERE CAST(dot AS DOUBLE)
            / (sqrt(CAST(na.nn AS DOUBLE)) * sqrt(CAST(nb.nn AS DOUBLE)))
            >= {_SEMDEDUP_TAU})
    SELECT e.vec_id, e.label, (d.vb IS NOT NULL) AS is_dup
    FROM (SELECT DISTINCT vec_id, label FROM ex) e
    LEFT JOIN dup d ON e.vec_id = d.vb
    """,
    doc="SemDeDup (Abbas et al. 2023): exact pairwise cosine WITHIN an "
    "embedding cluster only (label = cluster id; the k-means step is "
    "embedding_kmeans_2iter); a vector is a duplicate when an "
    "earlier-id cluster-mate has cosine >= tau. Integer-micro dots "
    "and norms, one sqrt/divide per pair. Scale: cluster size is the "
    "dial (k ~ N/1000 keeps per-cluster pairwise constant-bounded, "
    "total linear); the join is label-partitioned, never corpus-wide",
)
def dedup_semdedup(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    micro = F.transform(
        "embedding", lambda x: F.round(x.cast("double") * 1_000_000.0).cast("long")
    )
    vecs = emb.select("vec_id", "label", micro.alias("vm"))
    norms = vecs.select(
        "vec_id",
        F.aggregate(
            F.transform("vm", lambda x: x * x),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("nn"),
    )
    a = vecs.select(
        F.col("vec_id").alias("va"), F.col("label").alias("la"), F.col("vm").alias("ma")
    )
    b = vecs.select(
        F.col("vec_id").alias("vb"), F.col("label").alias("lb"), F.col("vm").alias("mb")
    )
    dot = F.aggregate(
        F.zip_with("ma", "mb", lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    pairs = (
        a.join(b, (a.la == b.lb) & (a.va < b.vb))
        .select("va", "vb", dot.alias("dot"))
    )
    na = norms.select(F.col("vec_id").alias("va"), F.col("nn").alias("na2"))
    nb = norms.select(F.col("vec_id").alias("vb"), F.col("nn").alias("nb2"))
    cos = F.col("dot").cast("double") / (
        F.sqrt(F.col("na2").cast("double")) * F.sqrt(F.col("nb2").cast("double"))
    )
    dup = (
        pairs.join(na, "va")
        .join(nb, "vb")
        .filter(cos >= _SEMDEDUP_TAU)
        .select("vb")
        .distinct()
        .withColumn("hit", F.lit(True))
    )
    return (
        vecs.select("vec_id", "label")
        .join(dup, vecs.vec_id == dup.vb, "left")
        .select(
            "vec_id", "label", F.coalesce(F.col("hit"), F.lit(False)).alias("is_dup")
        )
    )


# --------------------------------------------------------------------------
# text_bpe_first_merges

_BPE_TOPK = 20


@query(
    "text_bpe_first_merges",
    f"""
    WITH words AS (
      SELECT unnest(string_split(text, ' ')) AS w FROM documents),
    pairs AS (
      SELECT substr(w, i, 2) AS pair
      FROM words, unnest(range(1, length(w))) AS u(i)
      WHERE length(w) >= 2),
    counted AS (
      SELECT pair, COUNT(*) AS n FROM pairs GROUP BY pair)
    SELECT CAST(rn AS BIGINT) AS merge_rank, pair, CAST(n AS BIGINT) AS pair_count
    FROM (SELECT pair, n,
                 ROW_NUMBER() OVER (ORDER BY n DESC, pair) AS rn
          FROM counted)
    WHERE rn <= {_BPE_TOPK}
    """,
    doc="first BPE merge round: corpus-wide adjacent character-pair "
    "counts inside words, top-20 by (count desc, pair asc). The pair "
    "space is alphabet-squared, so the count table (and the final "
    "single-partition ranking window) is constant-sized at any corpus "
    "scale; the map-side combine does the heavy lifting",
)
def text_bpe_first_merges(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    words = docs.select(F.explode(F.split("text", " ")).alias("w")).filter(
        F.length("w") >= 2
    )
    pairs = words.select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair")
    )
    counted = pairs.groupBy("pair").agg(F.count(F.lit(1)).alias("n"))
    ranked = counted.select(
        "pair",
        "n",
        F.row_number()
        .over(Window.orderBy(F.col("n").desc(), F.col("pair")))
        .alias("rn"),
    ).filter(F.col("rn") <= _BPE_TOPK)
    return ranked.select(
        F.col("rn").cast("long").alias("merge_rank"),
        "pair",
        F.col("n").cast("long").alias("pair_count"),
    )


# --------------------------------------------------------------------------
# stats_chi2_lang_source


@query(
    "stats_chi2_lang_source",
    f"""
    WITH obs AS (
      SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS observed
      FROM documents GROUP BY lang, source),
    tot AS (
      SELECT lang, source, observed,
             SUM(observed) OVER (PARTITION BY lang) AS row_total,
             SUM(observed) OVER (PARTITION BY source) AS col_total,
             SUM(observed) OVER () AS n
      FROM obs)
    SELECT lang, source, observed,
           {duckdb_det_round('(row_total * col_total) / CAST(n AS DOUBLE)')} AS expected,
           {duckdb_det_round(
               'POW(observed - (row_total * col_total) / CAST(n AS DOUBLE), 2)'
               ' / ((row_total * col_total) / CAST(n AS DOUBLE))')} AS chi2_contrib
    FROM tot
    """,
    doc="chi-square independence cell table for corpus composition "
    "(lang x source): observed count, expected under independence, "
    "per-cell contribution. Emitted per cell so no cross-cell float "
    "accumulation exists — each value is one IEEE expression over "
    "exact integer marginals (the cell table is |langs|*|sources| "
    "rows at any corpus size; the empty-frame window runs on it, "
    "not on the corpus)",
)
def stats_chi2_lang_source(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    obs = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("long").alias("observed")
    )
    tot = obs.select(
        "lang",
        "source",
        "observed",
        F.sum("observed").over(Window.partitionBy("lang")).alias("row_total"),
        F.sum("observed").over(Window.partitionBy("source")).alias("col_total"),
        F.sum("observed").over(Window.partitionBy()).alias("n"),
    )
    # cast before the multiply: row_total * col_total in BIGINT is an
    # ANSI overflow error once marginal products pass 2^63 (N ~ 3e9
    # docs); the DuckDB oracle rides HUGEINT window sums, so promote to
    # double here to match its never-overflows behavior (exact for
    # products < 2^53, and the det_round comparison boundary is far
    # coarser than that)
    expected = (
        F.col("row_total").cast("double") * F.col("col_total")
    ) / F.col("n").cast("double")
    contrib = F.pow(F.col("observed") - expected, 2) / expected
    return tot.select(
        "lang",
        "source",
        "observed",
        det_round(expected).alias("expected"),
        det_round(contrib).alias("chi2_contrib"),
    )


# --------------------------------------------------------------------------
# dedup_repeated_ngrams


@query(
    "dedup_repeated_ngrams",
    f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
    wins AS (
      SELECT doc_id, array_to_string(tk[i:i+7], ' ') AS w
      FROM toks, UNNEST(range(1, greatest(len(tk) - 6, 1))) AS r(i)),
    dfreq AS (
      SELECT w, COUNT(DISTINCT doc_id) AS df FROM wins GROUP BY w)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_windows,
           CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS dup_occ,
           {duckdb_det_round(
               'SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) / CAST(COUNT(*) AS DOUBLE)')}
           AS dup_window_frac,
           (SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) / CAST(COUNT(*) AS DOUBLE))
           <= 0.30 AS keep
    FROM wins JOIN dfreq USING (w)
    GROUP BY doc_id
    """,
    doc="Sub-document exact dedup at the 8-token-window level (Lee et "
    "al. 2022 'Deduplicating Training Data Makes Language Models "
    "Better', the ExactSubstr criterion at fixed granularity, and the "
    "RefinedWeb line-dedup analog for a corpus without line breaks): "
    "a window is globally duplicated when it occurs in >=2 distinct "
    "docs; each doc reports the fraction of its window occurrences "
    "that are duplicated, with a keep verdict. Scale shape: windows "
    "are a narrow explode (~1 row per token), the doc-frequency table "
    "is one hash agg with a distinct-count, and the flag-back is a "
    "window-keyed equi join — everything linear in corpus tokens, no "
    "pairwise anything. The window text itself is the join key; at "
    "100 TB swap it for xxhash64(w) to shrink shuffle bytes (same "
    "plan shape, 8 bytes/key)",
)
def dedup_repeated_ngrams(spark, sf_dir, k: int = 8):
    docs = t(spark, sf_dir, "documents")
    # size guard: sequence(1, size-k+1) DESCENDS for docs shorter than
    # k tokens (ANSI index error), where the oracle's range() is empty
    toks = docs.select("doc_id", F.split("text", " ").alias("tk")).filter(
        F.size("tk") >= k
    )
    wins = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(tk) - {k - 1}),"
                f" i -> array_join(slice(tk, i, {k}), ' '))"
            )
        ).alias("w"),
    )
    dfreq = wins.groupBy("w").agg(F.countDistinct("doc_id").alias("df"))
    frac = F.col("dup_occ") / F.col("n_windows").cast("double")
    return (
        wins.join(dfreq, "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_windows"),
            F.sum(F.when(F.col("df") >= 2, 1).otherwise(0))
            .cast("long")
            .alias("dup_occ"),
        )
        .select(
            "doc_id",
            "n_windows",
            "dup_occ",
            det_round(frac).alias("dup_window_frac"),
            (frac <= 0.30).alias("keep"),
        )
    )


# --------------------------------------------------------------------------
# dedup_exact_substr — the FULL ExactSubstr operator (r9 verdict task
# 1): longest repeated token span of ANY length via distributed
# suffix ranking, not the fixed-8-token approximation above

#: spans >= this are ExactSubstr-trimmed; at sf0.01 organic text tops
#: out at 5 while injected near-dups start at 11 — the dial a real
#: pipeline sets to ~50 tokens (Lee et al. §4.1)
EXACTSUBSTR_THRESHOLD = 10


def _suffix_scratch() -> str | None:
    """Scratch root for the suffix ranker's round-table spill
    (operators/suffixes.py _pin): unset -> executor localCheckpoint
    pinning (test scale); CHIV_SUFFIX_SCRATCH=<root> -> round tables
    spill to parquet under a per-invocation unique subdir of the root
    (suffixes.scratch_subdir) — the bounded-executor-storage path a
    100 TB run needs, selectable without a code change so the full
    oracle sweep can exercise it. The root passes through VERBATIM
    (no local mkdtemp — r11 ADVICE), so it may be a remote filesystem
    URI (hdfs://, s3a://); uniquification + local-path cleanup happen
    inside the operators that consume it."""
    import os

    return os.environ.get("CHIV_SUFFIX_SCRATCH") or None


@query(
    "dedup_exact_substr",
    f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
    starts AS (SELECT doc_id, tk, unnest(range(1, len(tk) + 1)) AS i FROM toks),
    g8 AS (SELECT doc_id, array_to_string(tk[i:i+7], ' ') AS w
           FROM starts WHERE i + 7 <= len(tk)),
    rep8 AS (SELECT w FROM g8 GROUP BY w HAVING COUNT(*) >= 2),
    cand AS (SELECT DISTINCT doc_id FROM g8 JOIN rep8 USING (w)),
    shortw AS (
      SELECT doc_id, i,
             unnest(range(1, least(7, len(tk) - i + 1) + 1)) AS L,
             unnest(list_transform(range(1, least(7, len(tk) - i + 1) + 1),
                                   L2 -> array_to_string(tk[i:i+L2-1], ' '))) AS w
      FROM starts),
    longw AS (
      SELECT s.doc_id, s.i,
             unnest(range(8, len(s.tk) - s.i + 2)) AS L,
             unnest(list_transform(range(8, len(s.tk) - s.i + 2),
                                   L2 -> array_to_string(s.tk[s.i:s.i+L2-1], ' '))) AS w
      FROM starts s JOIN cand USING (doc_id)),
    wins AS (SELECT * FROM shortw UNION ALL SELECT * FROM longw),
    wc AS (SELECT w, L, COUNT(*) AS c FROM wins GROUP BY w, L),
    spans AS (
      SELECT wins.doc_id,
             MAX(CASE WHEN wc.c >= 2 THEN wins.L ELSE 0 END) AS max_rep_span
      FROM wins JOIN wc ON wins.w = wc.w AND wins.L = wc.L
      GROUP BY wins.doc_id)
    SELECT t.doc_id,
           CAST(len(t.tk) AS BIGINT) AS n_tokens,
           CAST(s.max_rep_span AS BIGINT) AS max_rep_span,
           s.max_rep_span < {EXACTSUBSTR_THRESHOLD} AS keep
    FROM toks t JOIN spans s USING (doc_id)
    """,
    doc="FULL ExactSubstr dedup (Lee et al. 2022 §4.1, the suffix-array "
    "criterion RefinedWeb/SlimPajama run): per document, the longest "
    "token span of ANY length that also occurs at another (doc, "
    "position) site corpus-wide — within-document stutter included — "
    "with a keep verdict at the threshold. Spark side is distributed "
    "suffix ranking by prefix doubling (operators/suffixes.py): "
    "ceil(log2 maxlen) relational rounds of {per-doc lead() window, "
    "distinct-pair dense-ranking via the two-pass zipWithIndex "
    "exchange}, then adjacent-rank-group LCPs by the O(log n) descent "
    "over the saved round tables — only neighbor groups in suffix "
    "order are ever compared, so nothing is quadratic and no "
    "cartesian appears in the plan. The DuckDB oracle enumerates "
    "every (position, length) window — length<=7 over all docs, plus "
    "all lengths over docs containing a repeated 8-gram, which is "
    "EXACT by pigeonhole (any repeated span >= 8 contains a repeated "
    "8-gram at both sites, so both docs are candidates; non-candidates "
    "have spans < 8, fully covered by the short windows) — the same "
    "completeness argument the incremental tier rests on. Stated with "
    "projection-level unnests, not correlated FROM-clause UNNESTs: "
    "DuckDB plans the latter as a RIGHT_DELIM_JOIN whose domain "
    "deduplication collapses inside large multi-CTE compositions "
    "(the r13 capstone oracle spent 50 s in this subplan at sf0.1 "
    "where the identical SQL standalone took 5 s; delim-free it "
    "composes at full speed — the r14 fix)",
)
def dedup_exact_substr(spark, sf_dir):
    from chiv_spark.operators.suffixes import max_repeated_spans_pruned

    spans = max_repeated_spans_pruned(
        t(spark, sf_dir, "documents").select("doc_id", "text"),
        scratch_dir=_suffix_scratch(),
    )
    return spans.select(
        "doc_id",
        "n_tokens",
        "max_rep_span",
        (F.col("max_rep_span") < EXACTSUBSTR_THRESHOLD).alias("keep"),
    )


@query(
    "dedup_exact_substr_trim",
    f"""
    WITH toks AS (SELECT doc_id, text, string_split(text, ' ') AS tk FROM documents),
    wins AS (
      SELECT doc_id, i, L, array_to_string(tk[i:i+L-1], ' ') AS w
      FROM toks, UNNEST(range(1, len(tk) + 1)) AS ri(i),
                 UNNEST(range(1, len(tk) + 1)) AS rl(L)
      WHERE i + L - 1 <= len(tk)),
    wc AS (SELECT w, L, COUNT(*) AS c FROM wins GROUP BY w, L),
    lrp AS (
      SELECT wins.doc_id, wins.i,
             MAX(CASE WHEN wc.c >= 2 THEN wins.L ELSE 0 END) AS lr
      FROM wins JOIN wc ON wins.w = wc.w AND wins.L = wc.L
      GROUP BY wins.doc_id, wins.i),
    best AS (
      SELECT doc_id, lr AS span, i FROM (
        SELECT doc_id, lr, i,
               ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY lr DESC, i) AS rn
        FROM lrp) WHERE rn = 1)
    SELECT t.doc_id,
           CAST(b.span AS BIGINT) AS max_rep_span,
           CAST(CASE WHEN b.span > 0 THEN b.i - 1 ELSE 0 END AS BIGINT) AS span_pos,
           CASE WHEN b.span >= {EXACTSUBSTR_THRESHOLD}
                -- COALESCE: DuckDB array_to_string([]) is NULL where
                -- Spark array_join([]) is '' (a fully-repeated doc
                -- trims to empty)
                THEN COALESCE(array_to_string(
                       list_concat(t.tk[1:b.i-1], t.tk[b.i+b.span:]), ' '), '')
                ELSE t.text END AS trimmed_text
    FROM toks t JOIN best b USING (doc_id)
    """,
    doc="ExactSubstr TRIMMING — the step a real pipeline runs on the "
    "spans dedup_exact_substr detects: for each document whose "
    "longest corpus-repeated span reaches the threshold, remove the "
    "LEFTMOST maximal span (argmax length, min position — the "
    "deterministic one-pass contract; production iterates to "
    "fixpoint) and emit the trimmed text; shorter-span docs pass "
    "through unchanged. The span argmax rides the same suffix-"
    "ranking relation as the detector (per-suffix longest-repeated-"
    "prefix, one struct-max aggregate — no extra shuffles beyond the "
    "detector's); the trim itself is a per-row index-filter on the "
    "token array, zero shuffles. Oracle recomputes per-position lrp "
    "quadratically and slices the token list",
)
def dedup_exact_substr_trim(spark, sf_dir):
    from chiv_spark.operators.suffixes import max_repeated_spans_pruned

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    spans = max_repeated_spans_pruned(docs, scratch_dir=_suffix_scratch())
    joined = docs.join(spans, "doc_id").withColumn("tk", F.split("text", " "))
    trimmed = F.when(
        F.col("max_rep_span") >= EXACTSUBSTR_THRESHOLD,
        F.array_join(
            F.expr("filter(tk, (x, idx) -> idx < span_pos OR idx >= span_pos + max_rep_span)"),
            " ",
        ),
    ).otherwise(F.col("text"))
    return joined.select(
        "doc_id", "max_rep_span", "span_pos", trimmed.alias("trimmed_text")
    )


# --------------------------------------------------------------------------
# dedup_exact_substr_fixpoint — iterate the trim until no span >=
# threshold remains (r10 verdict task 2: production — Lee et al.
# §4.1, RefinedWeb — trims to FIXPOINT, not one pass)

#: trim-round budget shared verbatim with the unrolled oracle stages;
#: both engines run exactly this many trim opportunities, so results
#: agree even on a corpus that has not converged (the ``converged``
#: flag then reports FALSE identically on both sides)
MAX_TRIM_ROUNDS = 3


def _fixpoint_span_ctes(s: str, src: str) -> str:
    """One quadratic span stage over relation ``src`` (doc_id, text,
    n_trims): per-position longest corpus-repeated span, leftmost
    argmax — the dedup_exact_substr_trim oracle's CTEs, suffixed so
    stages compose without namespace collisions."""
    return f"""
    tk{s} AS MATERIALIZED (SELECT doc_id, text, n_trims, string_split(text, ' ') AS tk FROM {src}),
    wins{s} AS MATERIALIZED (
      SELECT doc_id, i, L, array_to_string(tk[i:i+L-1], ' ') AS w
      FROM tk{s}, UNNEST(range(1, len(tk) + 1)) AS ri(i),
                  UNNEST(range(1, len(tk) + 1)) AS rl(L)
      WHERE i + L - 1 <= len(tk)),
    wc{s} AS MATERIALIZED (SELECT w, L, COUNT(*) AS c FROM wins{s} GROUP BY w, L),
    lrp{s} AS (
      SELECT wins.doc_id, wins.i,
             MAX(CASE WHEN wc.c >= 2 THEN wins.L ELSE 0 END) AS lr
      FROM wins{s} wins JOIN wc{s} wc ON wins.w = wc.w AND wins.L = wc.L
      GROUP BY wins.doc_id, wins.i),
    best{s} AS (
      SELECT doc_id, lr AS span, i FROM (
        SELECT doc_id, lr, i,
               ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY lr DESC, i) AS rn
        FROM lrp{s}) WHERE rn = 1),
    docs{s} AS MATERIALIZED (
      SELECT t.doc_id,
             CASE WHEN b.span >= {EXACTSUBSTR_THRESHOLD}
                  THEN COALESCE(array_to_string(
                         list_concat(t.tk[1:b.i-1], t.tk[b.i+b.span:]), ' '), '')
                  ELSE t.text END AS text,
             t.n_trims + CASE WHEN b.span >= {EXACTSUBSTR_THRESHOLD} THEN 1 ELSE 0 END AS n_trims
      FROM tk{s} t JOIN best{s} b USING (doc_id))"""


def _fixpoint_oracle() -> str:
    stages = ",".join(
        _fixpoint_span_ctes(str(s), f"docs{s - 1}")
        for s in range(1, MAX_TRIM_ROUNDS + 1)
    )
    return f"""
    WITH base AS MATERIALIZED (SELECT doc_id, text, string_split(text, ' ') AS tk FROM documents),
    w8 AS MATERIALIZED (SELECT doc_id, array_to_string(tk[i:i+7], ' ') AS w
           FROM base, UNNEST(range(1, len(tk) - 6)) AS r(i)),
    wcand AS (SELECT w FROM w8 GROUP BY w HAVING COUNT(*) >= 2),
    cand AS (SELECT DISTINCT doc_id FROM w8 JOIN wcand USING (w)),
    docs0 AS (SELECT b.doc_id, b.text, 0 AS n_trims FROM base b JOIN cand USING (doc_id)),
    {stages},
    tkF AS MATERIALIZED (SELECT doc_id, text, n_trims, string_split(text, ' ') AS tk
            FROM docs{MAX_TRIM_ROUNDS}),
    winsF AS MATERIALIZED (
      SELECT doc_id, i, L, array_to_string(tk[i:i+L-1], ' ') AS w
      FROM tkF, UNNEST(range(1, len(tk) + 1)) AS ri(i),
                UNNEST(range(1, len(tk) + 1)) AS rl(L)
      WHERE i + L - 1 <= len(tk)),
    wcF AS (SELECT w, L, COUNT(*) AS c FROM winsF GROUP BY w, L),
    spansF AS (
      SELECT winsF.doc_id,
             MAX(CASE WHEN wcF.c >= 2 THEN winsF.L ELSE 0 END) AS ms
      FROM winsF JOIN wcF ON winsF.w = wcF.w AND winsF.L = wcF.L
      GROUP BY winsF.doc_id)
    SELECT t.doc_id, t.text AS trimmed_text,
           CAST(t.n_trims AS BIGINT) AS n_trims,
           CAST(s.ms AS BIGINT) AS final_span,
           s.ms < {EXACTSUBSTR_THRESHOLD} AS converged
    FROM tkF t JOIN spansF s USING (doc_id)
    """


@query(
    "dedup_exact_substr_fixpoint",
    _fixpoint_oracle(),
    doc="ExactSubstr trimming iterated to FIXPOINT (Lee et al. 2022 "
    "§4.1 as production runs it — RefinedWeb iterates until no span "
    ">= threshold remains; dedup_exact_substr_trim is the one-pass "
    "contract): a bounded driver loop re-runs the suffix-ranking "
    "span detector and removes the leftmost maximal span each round, "
    "early-exiting the moment a round finds nothing (identical to "
    "running the full budget — trims past convergence are identity), "
    "then reports per doc the fixpoint text, how many trims it took, "
    "the final residual span, and a converged flag both engines "
    "compute. Runs on the REPEAT-CANDIDATE subcorpus: docs holding "
    "any 8-gram occurring >= 2 times corpus-wide — a linear explode+"
    "count predicate that is CLOSED under span-sharing by pigeonhole "
    "(every repeated span >= threshold contains an 8-gram shared by "
    "both its sites, so every trim-relevant doc AND its twins are "
    "candidates; trim decisions equal the full-corpus run's, while "
    "the quadratic oracle pays only for candidate docs). Spans are "
    "integers fully determined by token sequences, so the unrolled "
    "3-stage DuckDB oracle agrees bit-for-bit, converged or not",
)
def dedup_exact_substr_fixpoint(spark, sf_dir):
    from chiv_spark.operators.suffixes import _pin, max_repeated_spans, scratch_subdir

    # candidate-subcorpus pins honor the same scratch escape as the
    # suffix round tables (r11 verdict task 7): with
    # CHIV_SUFFIX_SCRATCH set, the per-round localCheckpoint of the
    # repeat-candidate corpus moves to parquet under a unique subdir —
    # for corpora where the candidate set is itself too large for
    # executor block storage
    scratch_root = _suffix_scratch()
    cand_scratch = scratch_subdir(scratch_root) if scratch_root else None

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    # candidate predicate: shares the dedup_repeated_ngrams window
    # shape (size guard: sequence() DESCENDS below 8 tokens)
    tk = docs.select("doc_id", F.split("text", " ").alias("tk")).filter(
        F.size("tk") >= 8
    )
    wins = tk.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(tk) - 7),"
                " i -> array_join(slice(tk, i, 8), ' '))"
            )
        ).alias("w"),
    )
    wc = wins.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    cand = wins.join(wc.filter(F.col("c") >= 2), "w").select("doc_id").distinct()
    hit = F.col("max_rep_span") >= EXACTSUBSTR_THRESHOLD
    final_cols = [
        F.col("doc_id"),
        F.col("text").alias("trimmed_text"),
        F.col("n_trims").cast("long").alias("n_trims"),
        F.col("max_rep_span").cast("long").alias("final_span"),
        (~hit).alias("converged"),
    ]
    # the candidate corpus is re-consumed every round: pin it once
    cur = _pin(
        docs.join(cand, "doc_id").withColumn("n_trims", F.lit(0)),
        cand_scratch,
        "cand_r0",
    )
    for _round in range(MAX_TRIM_ROUNDS):
        spans = max_repeated_spans(
            cur.select("doc_id", "text"), scratch_dir=scratch_root
        )
        cur = _pin(
            cur.join(spans.select("doc_id", "max_rep_span", "span_pos"), "doc_id"),
            cand_scratch,
            f"cand_spans_r{_round}",
        )
        if cur.filter(hit).limit(1).count() == 0:
            # fixpoint reached: the remaining budget is identity and
            # this round's spans ARE the final residual spans
            return cur.select(*final_cols)
        cur = cur.withColumn("tk", F.split("text", " ")).select(
            "doc_id",
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
            .alias("text"),
            (F.col("n_trims") + hit.cast("int")).alias("n_trims"),
        )
    # budget exhausted with the last round still trimming: one final
    # detector pass reports the residual spans / converged=false rows
    spans = max_repeated_spans(cur.select("doc_id", "text"), scratch_dir=scratch_root)
    return cur.join(spans.select("doc_id", "max_rep_span"), "doc_id").select(
        *final_cols
    )


# --------------------------------------------------------------------------
# dedup_incremental_exact_substr — arriving shards span-checked and
# trimmed against the corpus's persisted WINDOW INDEX instead of
# recomputing the candidate predicate corpus-wide (r11 verdict task
# 8: the ExactSubstr analog of dedup_incremental_lsh)

#: stable-hash arrival fate for the incremental ExactSubstr slice
_XS_FATE = "(('0x' || substring(md5('xs:' || doc_id::VARCHAR), 1, 15))::BIGINT % 10 = 0)"


def _xs_fate_pred():
    from chiv_spark.functions.hashing import hash64

    return hash64(F.concat(F.lit("xs:"), F.col("doc_id").cast("string"))) % 10 == 0


_INC_XSUB_ORACLE = f"""
    WITH toks AS MATERIALIZED (
      SELECT doc_id, text, string_split(text, ' ') AS tk FROM documents),
    wins AS MATERIALIZED (
      SELECT doc_id, i, L, array_to_string(tk[i:i+L-1], ' ') AS w
      FROM toks, UNNEST(range(1, len(tk) + 1)) AS ri(i),
                 UNNEST(range(1, len(tk) + 1)) AS rl(L)
      WHERE i + L - 1 <= len(tk)),
    wc AS MATERIALIZED (SELECT w, L, COUNT(*) AS c FROM wins GROUP BY w, L),
    lrp AS (
      SELECT wins.doc_id, wins.i,
             MAX(CASE WHEN wc.c >= 2 AND wins.L >= 8 THEN wins.L ELSE 0 END) AS lr
      FROM wins JOIN wc ON wins.w = wc.w AND wins.L = wc.L
      GROUP BY wins.doc_id, wins.i),
    best AS (
      SELECT doc_id, lr AS span, i FROM (
        SELECT doc_id, lr, i,
               ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY lr DESC, i) AS rn
        FROM lrp) WHERE rn = 1)
    SELECT t.doc_id,
           CAST(len(t.tk) AS BIGINT) AS n_tokens,
           CAST(b.span AS BIGINT) AS span_ge8,
           CASE WHEN b.span >= {EXACTSUBSTR_THRESHOLD}
                THEN COALESCE(array_to_string(
                       list_concat(t.tk[1:b.i-1], t.tk[b.i+b.span:]), ' '), '')
                ELSE t.text END AS trimmed_text,
           b.span < {EXACTSUBSTR_THRESHOLD} AS keep
    FROM toks t JOIN best b USING (doc_id)
    WHERE {_XS_FATE}
    """


@query(
    "dedup_incremental_exact_substr",
    _INC_XSUB_ORACLE,
    doc="incremental ExactSubstr (r11 verdict task 8 — the suffix "
    "tier's analog of dedup_incremental_lsh): a newly arrived shard "
    "(1-in-10 stable-hash fate) is span-checked and TRIMMED against "
    "the corpus's WINDOW INDEX (operators/suffixes.py window_index: "
    "per-doc 8-gram occurrence counts, pb-bucketed on hash(w) for "
    "partition-pruned arrival lookups — persisted form pytest-pinned "
    "by TestWindowIndexIncremental) instead of recomputing the "
    "candidate predicate corpus-wide. Pigeonhole: every repeated "
    "span >= 8 contains a repeated 8-gram, so {arriving candidates "
    "+ their index twins} is a COMPLETE subcorpus for the suffix "
    "detector — spans >= 8 computed there equal the full-corpus "
    "values exactly, sub-8 values are zeroed identically on both "
    "sides, and the leftmost-argmax trim position ties only among "
    "exact >= 8 values. Arrival cost: O(|shard| windows) hash-agg + "
    "one pruned index join + the detector on the candidate "
    "subcorpus; the corpus's raw text is re-read ONLY for twin docs. "
    "Emits per arriving doc: n_tokens, the >= 8 repeated span (0 if "
    "none), the one-pass trimmed text, and the keep verdict. Oracle "
    "= full-corpus quadratic recompute restricted to the arrival "
    "slice",
)
def dedup_incremental_exact_substr(spark, sf_dir):
    from chiv_spark.operators.suffixes import incremental_span_trim, window_index

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    fate = _xs_fate_pred()
    delta = docs.filter(fate)
    base = docs.filter(~fate)
    # in production the index is READ BACK from its pb-partitioned
    # parquet (TestWindowIndexIncremental round-trips it and pins the
    # pruned scan); here it is built in-plan from the base slice so
    # the query stays self-contained per sf_dir — the
    # dedup_incremental_lsh precedent. The span-check + trim core is
    # suffixes.incremental_span_trim, shared verbatim with the
    # streaming fold twin.
    return incremental_span_trim(
        delta,
        window_index(delta),
        window_index(base),
        base,
        EXACTSUBSTR_THRESHOLD,
        scratch_dir=_suffix_scratch(),
    )


@query(
    "streaming_incremental_exact_substr",
    _INC_XSUB_ORACLE,
    doc="streaming twin of dedup_incremental_exact_substr — the "
    "suffix tier joins every other incremental dedup tier in having "
    "a fold twin: arriving batches are span-checked and trimmed "
    "against the PERSISTED pb-bucketed window index through the "
    "SHARED suffixes.incremental_span_trim core (one implementation "
    "with the batch row), then each batch's windows fold into the "
    "index and its text into a doc store, so later batches catch "
    "cross-batch repeated spans through the index — never a "
    "cross-batch join (cross-batch detection pytest-pinned by "
    "tests/test_streaming.py::TestIncrementalExactSubstrStream). "
    "Twin docs' text is the only corpus re-read, via the doc store. "
    "Dynamic-overwrite generations keyed on src_batch; replays "
    "exclude their own generation. Under availableNow the single "
    "batch sees the whole delta slice, so the relation equals the "
    "batch twin's and the oracle is shared verbatim",
)
def streaming_incremental_exact_substr(spark, sf_dir):
    import tempfile

    from chiv_spark.streaming.suffix_index import incremental_exact_substr_stream

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    base = docs.filter(~_xs_fate_pred())
    stream = read_table_stream(spark, sf_dir, "documents")
    work = tempfile.mkdtemp(prefix="chiv-xsubstream-")
    return incremental_exact_substr_stream(
        spark,
        base,
        stream,
        work,
        EXACTSUBSTR_THRESHOLD,
        delta_predicate=_xs_fate_pred(),
        scratch_dir=_suffix_scratch(),
    )


# --------------------------------------------------------------------------
# exact_substr_delete_then_probe — the deletion lifecycle of the
# suffix tier's TWO persisted stores (r13 verdict task 3): the window
# index AND the raw-text doc store, the one persisted artifact where
# "physically dropped" is a privacy obligation

#: deterministic 1-in-2 stable-hash deletion slice of the RESIDENT
#: corpus (the stored docs the forget request targets) — wide enough
#: that some arrivals lose EVERY index twin, so the delete observably
#: flips probe verdicts at both test scale factors (a 1-in-5 slice
#: left all twin sets partially intact and the row proved nothing)
_XS_DEL = "(('0x' || substring(md5('xsdel:' || doc_id::VARCHAR), 1, 15))::BIGINT % 2 = 0)"


def _xs_del_pred():
    from chiv_spark.functions.hashing import hash64

    return hash64(F.concat(F.lit("xsdel:"), F.col("doc_id").cast("string"))) % 2 == 0


def _xsub_probe_ctes(s: str, where: str) -> str:
    """One incremental-ExactSubstr probe phase over the corpus slice
    ``where`` keeps: candidate-pruned (docs holding a corpus-repeated
    8-gram — exact by pigeonhole, sub-8 spans zeroed identically to
    the engine's incremental_span_trim non-candidate branch) and
    delim-free (projection-level unnests; the r14 dedup_exact_substr
    oracle lesson — two correlated-UNNEST phases in one WITH would
    re-trigger DuckDB's delim-join collapse)."""
    return f"""
    toks{s} AS (SELECT doc_id, text, string_split(text, ' ') AS tk
                FROM documents WHERE {where}),
    starts{s} AS (SELECT doc_id, tk, unnest(range(1, len(tk) + 1)) AS i FROM toks{s}),
    g8{s} AS (SELECT doc_id, array_to_string(tk[i:i+7], ' ') AS w
              FROM starts{s} WHERE i + 7 <= len(tk)),
    rep8{s} AS (SELECT w FROM g8{s} GROUP BY w HAVING COUNT(*) >= 2),
    cand{s} AS (SELECT DISTINCT doc_id FROM g8{s} JOIN rep8{s} USING (w)),
    longw{s} AS (
      SELECT st.doc_id, st.i,
             unnest(range(8, len(st.tk) - st.i + 2)) AS L,
             unnest(list_transform(range(8, len(st.tk) - st.i + 2),
                                   L2 -> array_to_string(st.tk[st.i:st.i+L2-1], ' '))) AS w
      FROM starts{s} st JOIN cand{s} USING (doc_id)),
    wc{s} AS (SELECT w, L, COUNT(*) AS c FROM longw{s} GROUP BY w, L),
    lrp{s} AS (SELECT lw.doc_id, lw.i,
                      MAX(CASE WHEN wc.c >= 2 THEN lw.L ELSE 0 END) AS lr
               FROM longw{s} lw JOIN wc{s} wc ON lw.w = wc.w AND lw.L = wc.L
               GROUP BY lw.doc_id, lw.i),
    best{s} AS (SELECT doc_id, lr AS span, i FROM (
                  SELECT doc_id, lr, i,
                         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY lr DESC, i) AS rn
                  FROM lrp{s}) WHERE rn = 1),
    out{s} AS (
      SELECT t.doc_id,
             CAST(len(t.tk) AS BIGINT) AS n_tokens,
             CAST(COALESCE(b.span, 0) AS BIGINT) AS span_ge8,
             CASE WHEN COALESCE(b.span, 0) >= {EXACTSUBSTR_THRESHOLD}
                  THEN COALESCE(array_to_string(
                         list_concat(t.tk[1:b.i-1], t.tk[b.i+b.span:]), ' '), '')
                  ELSE t.text END AS trimmed_text,
             COALESCE(b.span, 0) < {EXACTSUBSTR_THRESHOLD} AS keep
      FROM toks{s} t LEFT JOIN best{s} b USING (doc_id)
      WHERE {_XS_FATE})"""


_XS_DELETE_ORACLE = f"""
    WITH {_xsub_probe_ctes("b", "TRUE")},
    {_xsub_probe_ctes("a", f"{_XS_FATE} OR NOT {_XS_DEL}")}
    SELECT 'before' AS phase, doc_id, n_tokens, span_ge8, trimmed_text, keep FROM outb
    UNION ALL
    SELECT 'after' AS phase, doc_id, n_tokens, span_ge8, trimmed_text, keep FROM outa
    """


@query(
    "exact_substr_delete_then_probe",
    _XS_DELETE_ORACLE,
    doc="the deletion lifecycle of the suffix tier's persisted stores "
    "as a query (r13 verdict task 3 — the ann_delete_then_probe "
    "pattern): seed the window index (pb(hash(w)) buckets) AND the "
    "raw-text doc store (pb(doc_id) buckets) from the resident "
    "corpus, probe an arriving shard through both "
    "(probe_suffix_store: pruned tombstone-aware index read, "
    "tombstone-aware twin-text read, the SHARED incremental_span_trim "
    "core), then suffix_forget a deterministic 1-in-5 stable-hash "
    "slice of the STORED docs and re-probe THROUGH THE TOMBSTONES — "
    "no rewrite: the deleted docs' windows stop nominating twins and "
    "their text is never re-read, so spans whose only twin was "
    "deleted drop to 0/non-candidate and previously-trimmed arrivals "
    "come back keep=true. compact_suffix_store physically drops both "
    "stores' suppressed rows (pytest-pinned: the deleted text is "
    "GONE from the post-compaction parquet bytes). Oracle = two full "
    "candidate-pruned recomputes, "
    "the 'after' corpus minus the deleted slice — exactly what the "
    "tombstone anti-joins leave the reads",
)
def exact_substr_delete_then_probe(spark, sf_dir):
    import tempfile

    from chiv_spark.streaming.suffix_index import (
        probe_suffix_store,
        seed_suffix_store,
        suffix_forget,
    )

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    fate = _xs_fate_pred()
    delta = docs.filter(fate)
    base = docs.filter(~fate)
    work = tempfile.mkdtemp(prefix="chiv-xsdel-")
    seed_suffix_store(spark, base, work)
    # the 'before' plan is safe to stay lazy across the delete: it was
    # built while no tombstone dir existed, so it contains no
    # tombstone scan, and suffix_forget never touches data files
    before = probe_suffix_store(
        spark, delta, work, EXACTSUBSTR_THRESHOLD, scratch_dir=_suffix_scratch()
    )
    suffix_forget(spark, work, base.filter(_xs_del_pred()).select("doc_id"))
    after = probe_suffix_store(
        spark, delta, work, EXACTSUBSTR_THRESHOLD, scratch_dir=_suffix_scratch()
    )
    return (
        before.withColumn("phase", F.lit("before"))
        .unionByName(after.withColumn("phase", F.lit("after")))
        .select("phase", "doc_id", "n_tokens", "span_ge8", "trimmed_text", "keep")
    )


# --------------------------------------------------------------------------
# text_bpe_encode — apply the learned merge table corpus-wide (r6
# verdict task 4: text_bpe_first_merges learns merges but nothing
# applied them — this is the step every real pipeline runs between
# merge training and pack_sequences)

def _bpe_encode_oracle() -> str:
    from chiv_spark.queries.base import REGISTRY

    # compose the registered merge-learning oracle verbatim so the
    # encoder can never drift from the merges it applies (the same
    # composition pattern as the ANN recall gates)
    merges = REGISTRY["text_bpe_first_merges"].oracle
    # each non-space char is wrapped chr(1)+c+chr(2); one merge pass =
    # one left-to-right non-overlapping replace of the wrapped pair
    # with the wrapped concatenation. '\1' below is a regex group ref
    # (DuckDB string literals are not escape-processed).
    return f"""
    WITH merges AS ({merges}),
    marr AS (SELECT list(pair ORDER BY merge_rank) AS ms FROM merges),
    wrapped AS (SELECT doc_id,
                       regexp_replace(text, '([^ ])',
                                      chr(1) || '\\1' || chr(2), 'g') AS w
                FROM documents),
    applied AS (SELECT doc_id,
                       list_reduce(
                         list_prepend(w, ms),
                         (acc, x) -> replace(acc,
                             chr(1) || substr(x, 1, 1) || chr(2)
                               || chr(1) || substr(x, 2, 1) || chr(2),
                             chr(1) || x || chr(2))) AS ap
                FROM wrapped, marr)
    SELECT doc_id,
           CAST(length(ap) - length(replace(ap, chr(2), '')) AS BIGINT)
             AS n_tokens,
           md5(ap) AS token_digest
    FROM applied
    """




@query(
    "text_bpe_encode",
    None,  # oracle attached below (composes the registered merge oracle)
    doc="BPE tokenization APPLY: re-learns the top-20 merge table "
    "(shared verbatim with text_bpe_first_merges) and applies it in "
    "rank order to every document. Each non-space char becomes a "
    "sentinel-wrapped symbol; one merge = one greedy left-to-right "
    "non-overlapping replace of the adjacent wrapped pair — the "
    "Sennrich apply loop as a 20-step JVM string fold (broadcast "
    "merge list, zero Python in the hot path, linear in corpus "
    "bytes). Emits per-doc post-merge token count and an md5 digest "
    "of the exact symbol sequence, so the oracle hash-checks every "
    "token boundary of every document, not just counts",
)
def text_bpe_encode(spark, sf_dir):
    from chiv_spark.queries.base import REGISTRY

    docs = t(spark, sf_dir, "documents")
    merges = REGISTRY["text_bpe_first_merges"].fn(spark, sf_dir)
    marr = merges.agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(F.col("merge_rank").alias("r"), F.col("pair").alias("p"))
                )
            ),
            lambda s: s["p"],
        ).alias("ms")
    )
    from chiv_spark.operators.text import bpe_apply, bpe_token_count, bpe_wrap

    ap = bpe_apply(bpe_wrap("text"), F.col("ms"))
    return (
        docs.crossJoin(F.broadcast(marr))
        .select(
            "doc_id",
            bpe_token_count(ap).alias("n_tokens"),
            F.md5(ap).alias("token_digest"),
        )
    )


from chiv_spark.queries.base import REGISTRY as _BPE_REG  # noqa: E402

_BPE_REG["text_bpe_encode"] = _BPE_REG["text_bpe_encode"].__class__(
    name="text_bpe_encode",
    fn=_BPE_REG["text_bpe_encode"].fn,
    oracle=_bpe_encode_oracle(),
    doc=_BPE_REG["text_bpe_encode"].doc,
)
