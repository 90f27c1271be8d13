"""Corpus-quality tier: heuristic quality filtering, PII redaction,
mixture-weighted sampling, and inverted-index construction.

These extend the LLM-data-pipeline operators (SURVEY §2.12/2.13) with
the standard pre-training corpus-curation passes:

- ``text_quality_filter``: Gopher-style repetition/shape signals
  (word count, mean word length, top-word fraction, distinct-word
  ratio) and a keep/drop verdict. Pure token explode + two hash
  aggregations — linear, one shuffle on doc_id, no UDFs.
- ``text_pii_redact``: regex redaction (emails, long digit runs) with
  per-doc match counts. The corpus is synthetic word-soup with no PII,
  so the query derives a deterministic contact suffix from doc_id
  first — the redaction plumbing (patterns, counts, replacement) is
  what's under test, and both engines see identical inputs.
- ``sample_mixture_weights``: deterministic per-language acceptance
  sampling toward a target domain mixture (the hash-threshold family
  of mlprep.py — a doc's fate is a pure function of its id).
- ``text_inverted_index``: token -> document-frequency / total-tf /
  bounded postings head. The full posting list is unbounded at scale,
  so the query materializes only a fixed-size sorted prefix per token
  (the scale-safe contract: output is vocabulary-sized, not
  corpus-sized).

Regex patterns are restricted to the common Java-regex / RE2 subset
(no backreferences, no lookaround) so Spark and the DuckDB oracle
compile identical automata.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from chiv_spark.core import state
from chiv_spark.functions.detmath import det_round, duckdb_det_round
from chiv_spark.functions.hashing import duckdb_hash64, hash64
from chiv_spark.queries.base import query, t
from chiv_spark.sources.catalog import read_table_stream

# --------------------------------------------------------------------------
# text_quality_filter


@query(
    "text_quality_filter",
    f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS w
      FROM documents),
    per AS (
      SELECT doc_id, w, COUNT(*) AS tf FROM tok GROUP BY doc_id, w),
    sig AS (
      SELECT doc_id,
             CAST(SUM(tf) AS BIGINT) AS n_words,
             CAST(COUNT(*) AS BIGINT) AS n_distinct,
             CAST(MAX(tf) AS BIGINT) AS top_tf,
             CAST(SUM(LENGTH(w) * tf) AS BIGINT) AS word_chars
      FROM per GROUP BY doc_id)
    SELECT doc_id, n_words,
           {duckdb_det_round('word_chars / CAST(n_words AS DOUBLE)')} AS mean_word_len,
           {duckdb_det_round('top_tf / CAST(n_words AS DOUBLE)')} AS top_word_frac,
           {duckdb_det_round('n_distinct / CAST(n_words AS DOUBLE)')} AS distinct_ratio,
           (n_words >= 10
            AND word_chars / CAST(n_words AS DOUBLE) BETWEEN 2.0 AND 12.0
            AND top_tf / CAST(n_words AS DOUBLE) <= 0.2
            AND n_distinct / CAST(n_words AS DOUBLE) >= 0.3) AS keep
    FROM sig
    """,
    doc="Gopher-style quality signals (length, mean word length, top-word "
    "fraction, distinct ratio) + keep verdict; explode + 2 hash-aggs, linear",
)
def text_quality_filter(spark, sf_dir):
    return quality_verdict(t(spark, sf_dir, "documents"))


def quality_verdict(docs):
    """The Gopher-style per-document verdict over any (doc_id, text)
    relation — the shared core of text_quality_filter and the
    per-batch leg of the streaming domain-stats fold (a doc's verdict
    is a pure function of its text, so it is batch-computable).

    One form: explode → groupBy(doc_id, w) → groupBy(doc_id), two hash
    aggs with map-side partial aggregation, JVM codegen, and a final
    doc_id exchange every composed consumer's branches share via
    ReuseExchange. A per-row array-expression projection computes the
    same integer signals without the token-keyed exchanges, but it
    ran the composed consumers slower at every measured size (sf0.01,
    sf0.1, 4× sf0.1 on 4 cores), and the gap grew with size: with no
    exchange the array work runs in the scan's few parquet tasks
    (ROADMAP, scale-gate table)."""
    # a null text explodes to no row: the doc has no verdict
    tok = docs.select("doc_id", F.explode(F.split(F.trim("text"), r"\s+")).alias("w"))
    per = tok.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("tf"))
    sig = per.groupBy("doc_id").agg(
        F.sum("tf").cast("long").alias("n_words"),
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
        F.max("tf").cast("long").alias("top_tf"),
        F.sum(F.length("w") * F.col("tf")).cast("long").alias("word_chars"),
    )
    nw = F.col("n_words").cast("double")
    mean_len = F.col("word_chars") / nw
    top_frac = F.col("top_tf") / nw
    dist_ratio = F.col("n_distinct") / nw
    keep = (
        (F.col("n_words") >= 10)
        & mean_len.between(2.0, 12.0)
        & (top_frac <= 0.2)
        & (dist_ratio >= 0.3)
    )
    return sig.select(
        "doc_id",
        "n_words",
        det_round(mean_len).alias("mean_word_len"),
        det_round(top_frac).alias("top_word_frac"),
        det_round(dist_ratio).alias("distinct_ratio"),
        keep.alias("keep"),
    )


# --------------------------------------------------------------------------
# text_pii_redact

_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_DIGITS = "[0-9]{5,}"


@query(
    "text_pii_redact",
    f"""
    WITH seeded AS (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com tel 555' || lpad(CAST(doc_id AS VARCHAR), 7, '0')
               AS raw
      FROM documents)
    SELECT doc_id,
           CAST(len(regexp_extract_all(raw, '{_EMAIL}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(raw, '{_DIGITS}')) AS BIGINT) AS n_numbers,
           regexp_replace(regexp_replace(raw, '{_EMAIL}', '<EMAIL>', 'g'),
                          '{_DIGITS}', '<NUM>', 'g') AS redacted
    FROM seeded
    """,
    doc="regex PII redaction (emails, >=5-digit runs) with match counts; "
    "narrow column expressions, zero shuffles",
)
def text_pii_redact(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    raw = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com tel 555"),
        F.lpad(F.col("doc_id").cast("string"), 7, "0"),
    )
    seeded = docs.select("doc_id", raw.alias("raw"))
    return seeded.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("raw"), F.lit(_EMAIL), 0)).cast("long").alias("n_emails"),
        F.size(F.regexp_extract_all(F.col("raw"), F.lit(_DIGITS), 0)).cast("long").alias("n_numbers"),
        F.regexp_replace(
            F.regexp_replace(F.col("raw"), _EMAIL, "<EMAIL>"), _DIGITS, "<NUM>"
        ).alias("redacted"),
    )


# --------------------------------------------------------------------------
# sample_mixture_weights

#: target mixture acceptance rates per language (percent kept)
_MIX = {"en": 90, "zh": 50, "fr": 70, "de": 60, "es": 40}
_MIX_SQL_CASE = " ".join(f"WHEN '{k}' THEN {v}" for k, v in _MIX.items())


@query(
    "sample_mixture_weights",
    f"""
    WITH labeled AS (
      SELECT lang,
             ({duckdb_hash64("'mix:' || doc_id::VARCHAR")} % 100) <
               (CASE lang {_MIX_SQL_CASE} ELSE 100 END) AS kept
      FROM documents)
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(COUNT(*) FILTER (WHERE kept) AS BIGINT) AS n_kept
    FROM labeled GROUP BY lang
    """,
    doc="deterministic mixture-weighted acceptance sampling toward a target "
    "per-language domain mix (doc fate = pure function of doc_id)",
)
def sample_mixture_weights(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    h = hash64(F.concat(F.lit("mix:"), F.col("doc_id").cast("string"))) % 100
    case = None
    for k, v in _MIX.items():
        case = F.when(F.col("lang") == k, v) if case is None else case.when(F.col("lang") == k, v)
    case = case.otherwise(100)
    kept = h < case
    return (
        docs.select("lang", kept.alias("kept"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_total"),
            F.count(F.when(F.col("kept"), 1)).cast("long").alias("n_kept"),
        )
    )


# --------------------------------------------------------------------------
# text_inverted_index

_POSTINGS_HEAD = 8


@query(
    "text_inverted_index",
    f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS w
      FROM documents),
    per AS (
      SELECT w, doc_id, COUNT(*) AS tf FROM tok GROUP BY w, doc_id)
    SELECT w AS token,
           CAST(COUNT(*) AS BIGINT) AS doc_freq,
           CAST(SUM(tf) AS BIGINT) AS total_tf,
           array_to_string(list_sort(list(doc_id))[1:{_POSTINGS_HEAD}], ',') AS postings_head
    FROM per GROUP BY w
    """,
    doc="inverted index: token -> df / total tf / bounded sorted postings "
    "prefix (output is vocabulary-sized, never corpus-sized)",
)
def text_inverted_index(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("w")
    )
    per = tok.groupBy("w", "doc_id").agg(F.count(F.lit(1)).alias("tf"))
    return per.groupBy("w").agg(
        F.count(F.lit(1)).cast("long").alias("doc_freq"),
        F.sum("tf").cast("long").alias("total_tf"),
        F.concat_ws(
            ",",
            F.transform(
                F.slice(F.sort_array(F.collect_list("doc_id")), 1, _POSTINGS_HEAD),
                lambda x: x.cast("string"),
            ),
        ).alias("postings_head"),
    ).select(
        F.col("w").alias("token"), "doc_freq", "total_tf", "postings_head"
    )


@query(
    "quality_constraint_report",
    """
    WITH checks AS (
      SELECT 'orders.pk_unique' AS check_name,
             CAST((SELECT COUNT(*) - COUNT(DISTINCT o_orderkey) FROM orders)
                  AS BIGINT) AS n_violations,
             CAST((SELECT COUNT(*) FROM orders) AS BIGINT) AS n_rows
      UNION ALL
      SELECT 'orders.custkey_not_null',
             CAST((SELECT COUNT(*) FROM orders WHERE o_custkey IS NULL) AS BIGINT),
             CAST((SELECT COUNT(*) FROM orders) AS BIGINT)
      UNION ALL
      SELECT 'orders.totalprice_positive',
             CAST((SELECT COUNT(*) FROM orders WHERE o_totalprice <= 0) AS BIGINT),
             CAST((SELECT COUNT(*) FROM orders) AS BIGINT)
      UNION ALL
      SELECT 'orders.custkey_refs_customer',
             CAST((SELECT COUNT(*) FROM orders o
                   WHERE NOT EXISTS (SELECT 1 FROM customer c
                                     WHERE c.c_custkey = o.o_custkey)) AS BIGINT),
             CAST((SELECT COUNT(*) FROM orders) AS BIGINT)
      UNION ALL
      SELECT 'lineitem.orderkey_refs_orders',
             CAST((SELECT COUNT(*) FROM lineitem l
                   WHERE NOT EXISTS (SELECT 1 FROM orders o
                                     WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT),
             CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT)
      UNION ALL
      SELECT 'lineitem.discount_in_range',
             CAST((SELECT COUNT(*) FROM lineitem
                   WHERE l_discount < 0 OR l_discount > 1) AS BIGINT),
             CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT))
    SELECT check_name, n_violations, n_rows,
           CASE WHEN n_violations = 0 THEN 'pass' ELSE 'fail' END AS status
    FROM checks
    """,
    doc="Deequ/dbt-style data-quality constraint report: primary-key "
    "uniqueness, null rate, value range, and referential-integrity "
    "orphan checks (anti joins), each a single-pass aggregate emitting "
    "(check, violations, rows, status). All checks over one table "
    "share a scan; orphan checks are key-shuffled anti joins that AQE "
    "converts to broadcast when the dimension side fits — nothing "
    "row-multiplying at any scale",
)
def quality_constraint_report(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    li = t(spark, sf_dir, "lineitem")

    def report(name, violations, total):
        # both sides are 1-row aggregates; the explicit broadcast keeps
        # the scalar attach a BroadcastNestedLoopJoin even with AQE off
        # (consistent with the same pattern at text_bigram_pmi)
        return violations.crossJoin(F.broadcast(total)).select(
            F.lit(name).alias("check_name"),
            F.col("v").cast("long").alias("n_violations"),
            F.col("n").cast("long").alias("n_rows"),
        )

    n_orders = o.agg(F.count(F.lit(1)).alias("n"))
    n_li = li.agg(F.count(F.lit(1)).alias("n"))
    checks = [
        report(
            "orders.pk_unique",
            o.agg((F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias("v")),
            n_orders,
        ),
        report(
            "orders.custkey_not_null",
            o.agg(F.count_if(F.col("o_custkey").isNull()).alias("v")),
            n_orders,
        ),
        report(
            "orders.totalprice_positive",
            o.agg(F.count_if(F.col("o_totalprice") <= 0).alias("v")),
            n_orders,
        ),
        report(
            "orders.custkey_refs_customer",
            o.join(c, o.o_custkey == c.c_custkey, "left_anti").agg(
                F.count(F.lit(1)).alias("v")
            ),
            n_orders,
        ),
        report(
            "lineitem.orderkey_refs_orders",
            li.join(o, li.l_orderkey == o.o_orderkey, "left_anti").agg(
                F.count(F.lit(1)).alias("v")
            ),
            n_li,
        ),
        report(
            "lineitem.discount_in_range",
            li.agg(
                F.count_if((F.col("l_discount") < 0) | (F.col("l_discount") > 1)).alias("v")
            ),
            n_li,
        ),
    ]
    out = checks[0]
    for extra in checks[1:]:
        out = out.unionByName(extra)
    return out.withColumn(
        "status", F.when(F.col("n_violations") == 0, "pass").otherwise("fail")
    )


@query(
    "text_bigram_pmi",
    """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    uni AS (
      SELECT w, COUNT(*) AS c
      FROM (SELECT unnest(t) AS w FROM toks) GROUP BY w),
    n_tok AS (SELECT SUM(c) AS n FROM uni),
    big AS (
      SELECT t[i] AS w1, t[i + 1] AS w2, COUNT(*) AS c_ab
      FROM toks, unnest(range(1, len(t))) AS u(i)
      GROUP BY 1, 2
      HAVING COUNT(*) >= 10)
    SELECT b.w1, b.w2, CAST(b.c_ab AS BIGINT) AS c_ab,
           (FLOOR(ln(CAST(n.n AS DOUBLE) * b.c_ab
                     / (CAST(u1.c AS DOUBLE) * u2.c)) * 1000000.0 + 0.5)
            / 1000000.0) AS pmi
    FROM big b
    JOIN uni u1 ON u1.w = b.w1
    JOIN uni u2 ON u2.w = b.w2
    CROSS JOIN n_tok n
    """,
    doc="collocation mining: pointwise mutual information of adjacent "
    "word bigrams, PMI = ln(N * c(a,b) / (c(a) * c(b))). All counts "
    "are exact integers, the single ln per output row is "
    "deterministic (no float accumulation), det-rounded 6dp. Scale "
    "shape: bigram expansion is a narrow per-doc transform, both "
    "count tables are vocabulary-sized, the unigram joins are "
    "vocab-keyed equi joins AQE can broadcast, the total-token scalar "
    "rides a 1-row cross join — never corpus x corpus",
)
def text_bigram_pmi(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    toks = d.select(F.split("text", " ").alias("tk"))
    uni = (
        toks.select(F.explode("tk").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n_tok = uni.agg(F.sum("c").alias("n"))
    # size guard only on the bigram branch (uni must keep 1-token docs'
    # counts): sequence(1, size(tk)-1) DESCENDS for size=1 ([1, 0]) and
    # its out-of-range index raises under Spark 4 ANSI mode, where the
    # oracle's range() is empty — the filter aligns both to "no bigrams"
    bigrams = toks.filter(F.size("tk") >= 2).select(
        F.explode(
            F.expr("transform(sequence(1, size(tk) - 1), i -> struct(tk[i - 1] AS w1, tk[i] AS w2))")
        ).alias("bg")
    ).select("bg.w1", "bg.w2")
    big = (
        bigrams.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .filter(F.col("c_ab") >= 10)
    )
    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    pmi = F.log(
        F.col("n").cast("double") * F.col("c_ab") / (F.col("c1").cast("double") * F.col("c2"))
    )
    return (
        big.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(n_tok))
        .select(
            "w1", "w2", F.col("c_ab").cast("long").alias("c_ab"),
            det_round(pmi, 6).alias("pmi"),
        )
    )


# --------------------------------------------------------------------------
# text_readability


@query(
    "text_readability",
    f"""
    WITH syl AS (
      SELECT doc_id,
             len(string_split(text, ' ')) AS n_words,
             list_transform(string_split(text, ' '),
                            w -> len(regexp_extract_all(w, '[aeiouy]+')))
               AS sylw
      FROM documents)
    SELECT doc_id,
           CAST(n_words AS BIGINT) AS n_words,
           CAST(list_sum(sylw) AS BIGINT) AS n_syllables,
           {duckdb_det_round(
               'CAST(list_sum(list_transform(sylw,'
               ' x -> CASE WHEN x >= 3 THEN 1 ELSE 0 END)) AS DOUBLE)'
               ' / n_words')} AS complex_frac,
           {duckdb_det_round(
               '206.835'
               ' - 1.015 * (CAST(n_words AS DOUBLE) / ((n_words + 14) // 15))'
               ' - 84.6 * (CAST(list_sum(sylw) AS DOUBLE) / n_words)')}
             AS flesch
    FROM syl
    """,
    doc="Flesch-style readability scoring: per-word syllable counts "
    "via vowel-group extraction (the standard heuristic), complex-"
    "word fraction (>=3 syllable groups), and the Flesch reading-ease "
    "formula over 15-token pseudo-sentences (the corpus has no "
    "sentence punctuation; the fixed window keeps the words-per-"
    "sentence term meaningful and deterministic). All per-row HOF "
    "integer sums — zero shuffles, and each score is one IEEE chain "
    "over exact integers so both engines agree bit-exactly",
)
def text_readability(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        F.expr(
            "transform(split(text, ' '),"
            " w -> size(regexp_extract_all(w, '[aeiouy]+', 0)))"
        ).alias("sylw"),
        F.size(F.split("text", " ")).alias("n_words"),
    )
    tot_syl = F.expr("aggregate(sylw, 0L, (a, x) -> a + x)")
    n_complex = F.expr(
        "aggregate(sylw, 0L, (a, x) -> a + CASE WHEN x >= 3 THEN 1 ELSE 0 END)"
    )
    sentences = F.floor((F.col("n_words") + 14) / 15)
    wps = F.col("n_words").cast("double") / sentences
    spw = tot_syl.cast("double") / F.col("n_words")
    return base.select(
        "doc_id",
        F.col("n_words").cast("long").alias("n_words"),
        tot_syl.cast("long").alias("n_syllables"),
        det_round(n_complex.cast("double") / F.col("n_words")).alias("complex_frac"),
        det_round(F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw).alias(
            "flesch"
        ),
    )


# --------------------------------------------------------------------------
# quality_k_anonymity — re-identification risk audit


@query(
    "quality_k_anonymity",
    """
    WITH g AS (
      SELECT c_nationkey, c_mktsegment, COUNT(*) AS group_size
      FROM customer GROUP BY c_nationkey, c_mktsegment),
    k AS (SELECT MIN(group_size) AS corpus_k FROM g)
    SELECT c_nationkey, c_mktsegment,
           CAST(group_size AS BIGINT) AS group_size,
           (group_size < 5) AS below_k5,
           CAST(corpus_k AS BIGINT) AS corpus_k
    FROM g, k
    """,
    doc="k-anonymity audit over the (nationkey, market-segment) "
    "quasi-identifier pair: every equivalence class with its size, a "
    "below-k=5 re-identification-risk flag, and the corpus-wide k "
    "(the minimum class size — the number privacy reviews quote). "
    "The privacy gate a training-data release pipeline runs before "
    "shipping user-derived tables. One hash agg over the QI columns "
    "(map-side partials) + a 1-row min broadcast; classes, not rows, "
    "cross the exchange — at 100 TB the audit costs one groupBy",
)
def quality_k_anonymity(spark, sf_dir):
    c = t(spark, sf_dir, "customer")
    g = c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("group_size")
    )
    k = g.agg(F.min("group_size").alias("corpus_k"))
    return g.join(F.broadcast(k)).select(
        "c_nationkey",
        "c_mktsegment",
        F.col("group_size").cast("long").alias("group_size"),
        (F.col("group_size") < 5).alias("below_k5"),
        F.col("corpus_k").cast("long").alias("corpus_k"),
    )


# --------------------------------------------------------------------------
# quality_l_diversity — the k-anonymity companion


@query(
    "quality_l_diversity",
    """
    WITH g AS (
      SELECT c_nationkey, c_mktsegment,
             COUNT(*) AS group_size,
             COUNT(DISTINCT c_acctbal > 0) AS l_acct_sign
      FROM customer GROUP BY c_nationkey, c_mktsegment),
    corpus AS (SELECT MIN(l_acct_sign) AS corpus_l FROM g)
    SELECT c_nationkey, c_mktsegment,
           CAST(group_size AS BIGINT) AS group_size,
           CAST(l_acct_sign AS BIGINT) AS l_acct_sign,
           (l_acct_sign < 2) AS homogeneous,
           CAST(corpus_l AS BIGINT) AS corpus_l
    FROM g, corpus
    """,
    doc="l-diversity audit — the k-anonymity companion closing the "
    "homogeneity attack: a QI class can be large (k-safe) yet leak "
    "the sensitive attribute when every member shares one value. "
    "Per (nationkey, segment) class: size, the count of DISTINCT "
    "sensitive values (account-balance sign as the demo attribute), "
    "a homogeneity flag (l < 2 means the class reveals the "
    "attribute outright), and the corpus-wide l. Same shape as the "
    "k audit: one QI hash agg + a 1-row min broadcast",
)
def quality_l_diversity(spark, sf_dir):
    c = t(spark, sf_dir, "customer")
    g = c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("group_size"),
        F.countDistinct(F.col("c_acctbal") > 0).alias("l_acct_sign"),
    )
    corpus = g.agg(F.min("l_acct_sign").alias("corpus_l"))
    return g.join(F.broadcast(corpus)).select(
        "c_nationkey",
        "c_mktsegment",
        F.col("group_size").cast("long").alias("group_size"),
        F.col("l_acct_sign").cast("long").alias("l_acct_sign"),
        (F.col("l_acct_sign") < 2).alias("homogeneous"),
        F.col("corpus_l").cast("long").alias("corpus_l"),
    )


# --------------------------------------------------------------------------
# quality_dp_noisy_counts — Laplace-mechanism release shape


@query(
    "quality_dp_noisy_counts",
    f"""
    WITH c AS (SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type),
    u AS (
      SELECT event_type, n,
             (CAST({duckdb_hash64("'dp:' || event_type")} % 999999 + 1 AS DOUBLE)
              / 1000000.0 - 0.5) AS u
      FROM c)
    SELECT event_type,
           CAST(1000000 AS BIGINT) AS epsilon_micro,
           (FLOOR((CAST(n AS DOUBLE)
                   - CASE WHEN u > 0 THEN 1.0 WHEN u < 0 THEN -1.0 ELSE 0.0 END
                     * ln(1.0 - 2.0 * ABS(u)))
                  * 1000000.0 + 0.5) / 1000000.0) AS noisy_count
    FROM u
    """,
    doc="Laplace-mechanism count release (epsilon = 1, sensitivity "
    "1, b = 1): noise drawn by inverse-CDF transform of a SEEDED "
    "hash uniform — noise = -b*sign(u)*ln(1-2|u|), u in (-0.5, "
    "0.5). The seeded draw makes the release REPRODUCIBLE (and "
    "oracle-checkable: ln is correctly-rounded-consistent across "
    "both engines on this data, the perplexity precedent) — the "
    "mechanism/sensitivity/epsilon accounting shape a DP release "
    "pipeline runs at scale, stated honestly: production DP "
    "requires fresh randomness per release and a privacy budget "
    "ledger; swapping the hash for a secure RNG changes one "
    "expression and nothing in the plan. Groups-sized aggregation, "
    "map-side partials, noise is a per-group scalar expression",
)
def quality_dp_noisy_counts(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    c = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    u = (
        (hash64(F.concat(F.lit("dp:"), F.col("event_type"))) % 999999 + 1).cast("double")
        / 1_000_000.0
        - 0.5
    )
    sign = F.when(u > 0, 1.0).when(u < 0, -1.0).otherwise(0.0)
    noise = -sign * F.log(1.0 - 2.0 * F.abs(u))
    return c.select(
        "event_type",
        F.lit(1_000_000).cast("long").alias("epsilon_micro"),
        det_round(F.col("n").cast("double") + noise).alias("noisy_count"),
    )


# --------------------------------------------------------------------------
# quality_domain_report / quality_domain_gate — per-domain curation
# (RefinedWeb/C4 drop whole domains whose aggregate quality is poor:
# content farms, boilerplate mills, mirror hosts). `source` is the
# corpus's domain key. The verdict is RELATIVE — a source is kept iff
# its per-doc keep rate is at least the corpus-wide keep rate AND its
# exact-duplicate rate is <= 10% — compared by INTEGER
# cross-multiplication (n_keep * total_docs >= total_keep * n_docs),
# so the gate is bit-exact in both engines with no float division.

from chiv_spark.operators.text import fingerprints as _fps  # noqa: E402
from chiv_spark.queries.base import REGISTRY as _QREG  # noqa: E402

#: max tolerated share of exact-duplicate docs per source (rational)
_DOM_DUP_NUM, _DOM_DUP_DEN = 1, 10

_NORM_FP = (
    "(('0x' || substring(md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
    "), 1, 15))::BIGINT)"
)

_DOMAIN_REPORT_ORACLE = f"""
    WITH q AS ({{quality}}),
    fp AS (SELECT doc_id, {_NORM_FP} AS f FROM documents),
    dupf AS (SELECT f FROM fp GROUP BY f HAVING COUNT(*) >= 2),
    per AS (
      SELECT d.source, q.keep,
             (fp.f IN (SELECT f FROM dupf)) AS is_dup
      FROM documents d JOIN q USING (doc_id) JOIN fp USING (doc_id)),
    dom AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(COUNT(*) FILTER (WHERE keep) AS BIGINT) AS n_keep,
             CAST(COUNT(*) FILTER (WHERE is_dup) AS BIGINT) AS n_dup
      FROM per GROUP BY source),
    tot AS (SELECT SUM(n_docs) AS td, SUM(n_keep) AS tk FROM dom)
    SELECT source, n_docs, n_keep, n_dup,
           {duckdb_det_round('n_keep / CAST(n_docs AS DOUBLE)')} AS keep_frac,
           {duckdb_det_round('n_dup / CAST(n_docs AS DOUBLE)')} AS dup_rate,
           (n_keep * td >= tk * n_docs
            AND n_dup * {_DOM_DUP_DEN} <= n_docs * {_DOM_DUP_NUM}) AS kept
    FROM dom, tot
"""


def domain_counts(docs):
    """Per-(source, normalized-fingerprint) counters over any
    (doc_id, text, source) relation: n = docs, k = docs whose Gopher
    verdict is keep. These are COMMUTATIVE-MONOID counters — summing
    per-batch counter generations equals computing them over the
    union of the batches — which is what makes the streaming
    domain-stats fold RETROACTIVELY exact (the final report over
    folded counters equals the full recompute, regardless of how the
    corpus was batched; the dedup tiers' arrival-order caveat does
    not apply here)."""
    verdict = quality_verdict(docs).select("doc_id", "keep")
    fp = _fps(docs)
    return (
        docs.select("doc_id", "source")
        .join(verdict, "doc_id")
        .join(fp, "doc_id")
        .groupBy("source", "fingerprint")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.count(F.when(F.col("keep"), 1)).cast("long").alias("k"),
        )
    )


def domain_report_from_counts(counts):
    """The domain report from (source, fingerprint, n, k) counters —
    the shared tail of quality_domain_report and the streaming fold:
    a fingerprint is a duplicate iff its GLOBAL count (across all
    sources) is >= 2; a source's n_dup counts its docs carrying such
    fingerprints. Duplicate-fingerprint set is vocabulary-sized ->
    broadcast; everything after the counters is domain-sized."""
    dupf = (
        counts.groupBy("fingerprint")
        .agg(F.sum("n").alias("nf"))
        .filter(F.col("nf") >= 2)
        .select("fingerprint")
    )
    ndup = (
        counts.join(F.broadcast(dupf), "fingerprint", "left_semi")
        .groupBy("source")
        .agg(F.sum("n").cast("long").alias("n_dup"))
    )
    dom = (
        counts.groupBy("source")
        .agg(
            F.sum("n").cast("long").alias("n_docs"),
            F.sum("k").cast("long").alias("n_keep"),
        )
        .join(ndup, "source", "left")
        .withColumn("n_dup", F.coalesce(F.col("n_dup"), F.lit(0).cast("long")))
    )
    tot = dom.agg(F.sum("n_docs").alias("td"), F.sum("n_keep").alias("tk"))
    kept = (F.col("n_keep") * F.col("td") >= F.col("tk") * F.col("n_docs")) & (
        F.col("n_dup") * _DOM_DUP_DEN <= F.col("n_docs") * _DOM_DUP_NUM
    )
    return dom.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_keep",
        "n_dup",
        det_round(F.col("n_keep") / F.col("n_docs").cast("double")).alias("keep_frac"),
        det_round(F.col("n_dup") / F.col("n_docs").cast("double")).alias("dup_rate"),
        kept.alias("kept"),
    )


def _domain_report(spark, sf_dir):
    return domain_report_from_counts(
        domain_counts(t(spark, sf_dir, "documents"))
    )


@query(
    "quality_domain_report",
    _DOMAIN_REPORT_ORACLE.format(quality=_QREG["text_quality_filter"].oracle),
    doc="PER-DOMAIN curation report (RefinedWeb drops whole domains, "
    "not just documents — content farms and mirror hosts fail in "
    "aggregate even when single pages pass): per source, doc count, "
    "Gopher-keep count (composing the registered "
    "text_quality_filter oracle verbatim), exact-duplicate count "
    "(normalized 60-bit fingerprint seen in >= 2 docs), and a "
    "RELATIVE verdict — kept iff the source's keep rate >= the "
    "corpus-wide keep rate (INTEGER cross-multiplication, no float "
    "compare) and its dup rate <= 10%. Plan: the quality verdict's "
    "two hash-aggs, one fingerprint hash-agg, two doc-level joins "
    "(dup set is vocabulary-sized -> broadcast), one domain-sized "
    "agg + a 1-row totals broadcast. Domain cardinality << corpus "
    "at any scale, so every post-doc-level relation is tiny",
)
def quality_domain_report(spark, sf_dir):
    return _domain_report(spark, sf_dir)


@query(
    "quality_domain_gate",
    f"""
    WITH rep AS ({_DOMAIN_REPORT_ORACLE.format(quality=_QREG["text_quality_filter"].oracle)}),
    q AS ({_QREG["text_quality_filter"].oracle})
    SELECT d.doc_id, d.source, d.lang
    FROM documents d
    JOIN rep ON d.source = rep.source AND rep.kept
    JOIN q ON q.doc_id = d.doc_id AND q.keep
    """,
    doc="the GATE the report feeds: a document survives iff its "
    "domain's aggregate verdict is kept AND its own Gopher verdict "
    "is keep — RefinedWeb's two-level filter as one pass. The "
    "domain report is domain-cardinality-sized, so the gate join is "
    "a BROADCAST against the corpus scan; the per-doc verdict join "
    "is the quality tier's existing linear shape. Composes both "
    "registered oracles verbatim",
)
def quality_domain_gate(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    from chiv_spark.queries.base import REGISTRY

    rep = _domain_report(spark, sf_dir).filter(F.col("kept")).select("source")
    verdict = (
        REGISTRY["text_quality_filter"].fn(spark, sf_dir)
        .filter(F.col("keep"))
        .select("doc_id")
    )
    return (
        docs.join(F.broadcast(rep), "source")
        .join(verdict, "doc_id")
        .select("doc_id", "source", "lang")
    )


@query(
    "quality_domain_gate_incremental",
    f"""
    WITH rep AS ({_DOMAIN_REPORT_ORACLE.format(quality=_QREG["text_quality_filter"].oracle)}),
    q AS ({_QREG["text_quality_filter"].oracle})
    SELECT d.doc_id, d.source, d.lang
    FROM documents d
    JOIN rep ON d.source = rep.source AND rep.kept
    JOIN q ON q.doc_id = d.doc_id AND q.keep
    """,
    doc="the domain gate computed FROM the folded counter store (r14 "
    "verdict task 5): quality_domain_gate re-aggregates the whole "
    "corpus into a fresh domain report on every gating pass, but the "
    "streaming fold (streaming.domain_stats) already holds exactly "
    "the sufficient statistics — so this row folds the corpus stream "
    "into per-(source, fingerprint) counters, derives the per-domain "
    "verdict from the counters alone, and touches the corpus only "
    "for the per-doc verdict join + final projection. Domain gating "
    "thereby becomes delta-cost in the ingest pipeline like every "
    "dedup tier: a new shard folds its own counters and the gate "
    "reads the store, never re-scanning resident documents for "
    "domain statistics. Retroactively exact under ANY batching (the "
    "counter monoid), so the oracle is quality_domain_gate's shared "
    "verbatim; cross-batch equality pytest-pinned",
)
def quality_domain_gate_incremental(spark, sf_dir):
    from chiv_spark.queries.base import REGISTRY
    from chiv_spark.streaming.domain_stats import domain_gate_from_counts

    docs = t(spark, sf_dir, "documents")
    work = _domain_counts_store(spark, sf_dir)
    doc_keep = (
        REGISTRY["text_quality_filter"].fn(spark, sf_dir)
        .filter(F.col("keep"))
        .select("doc_id")
    )
    return domain_gate_from_counts(spark, f"{work}/counts", docs, doc_keep)


def _domain_counts_store(spark, sf_dir) -> str:
    """Fold-once counter store (counts generations + the stream
    CHECKPOINT) per (session, sf_dir, content fingerprint): an
    unchanged corpus is a store hit (zero work). An APPEND-ONLY change
    (every previously-fingerprinted file byte-identical, new files
    added — the ingest-shard arrival) KEEPS the work dir and
    re-triggers availableNow against its checkpoint, so Structured
    Streaming's own file tracking folds just the new files. Only a
    change to RESIDENT files (rewrite/delete) drops the store and
    re-folds."""
    import shutil
    import tempfile

    from chiv_spark.streaming.domain_stats import domain_stats_stream

    fp = state.fingerprint([f"{sf_dir}/documents.parquet"])

    def build(stale):
        # a DIRECTORY table streams its part files, so an appended
        # file is exactly what the checkpoint sees as the delta
        stream = read_table_stream(spark, sf_dir, "documents")
        if stale is not None and fp is not None and set(stale[0]) <= set(fp):
            # append-only: reuse the store, the checkpoint is the
            # delta detector
            work = stale[1]
        else:
            work = tempfile.mkdtemp(prefix="chiv-domgate-")
        # run the fold for its side effect (the counter store); the
        # returned report relation is not consumed here
        domain_stats_stream(spark, stream, work)
        return work

    return state.get_or_build(spark, "domgate", sf_dir, fp, build, shutil.rmtree)


@query(
    "quality_domain_gate_compacted",
    f"""
    WITH rep AS ({_DOMAIN_REPORT_ORACLE.format(quality=_QREG["text_quality_filter"].oracle)}),
    q AS ({_QREG["text_quality_filter"].oracle})
    SELECT d.doc_id, d.source, d.lang
    FROM documents d
    JOIN rep ON d.source = rep.source AND rep.kept
    JOIN q ON q.doc_id = d.doc_id AND q.keep
    """,
    doc="the domain gate read from a COMPACTED counter store (r15 "
    "verdict task 6's lifecycle closer): the persistent store "
    "accumulates one generation per folded batch plus any deletion "
    "negations; compact_counts folds them all into one SEED_BATCH "
    "generation — the report is unchanged (summing is associative, "
    "the registered proof of compaction invariance) while the store "
    "shrinks to one row per distinct (source, fingerprint). This "
    "row folds (or reuses) the session's persistent store, compacts "
    "it in place, and gates from the compacted store; oracle = "
    "quality_domain_gate's, shared verbatim like the incremental "
    "twin. Gate cost after compaction is the minimum possible: one "
    "generation scanned, no fold-time sum fan-in",
)
def quality_domain_gate_compacted(spark, sf_dir):
    from chiv_spark.queries.base import REGISTRY
    from chiv_spark.streaming.domain_stats import (
        compact_counts,
        domain_gate_from_counts,
    )

    docs = t(spark, sf_dir, "documents")
    work = _domain_counts_store(spark, sf_dir)
    compact_counts(spark, f"{work}/counts")
    doc_keep = (
        REGISTRY["text_quality_filter"].fn(spark, sf_dir)
        .filter(F.col("keep"))
        .select("doc_id")
    )
    return domain_gate_from_counts(spark, f"{work}/counts", docs, doc_keep)


@query(
    "streaming_domain_stats",
    _DOMAIN_REPORT_ORACLE.format(quality=_QREG["text_quality_filter"].oracle),
    doc="streaming twin of quality_domain_report as a MERGEABLE-"
    "COUNTER fold (streaming.domain_stats) — a different streaming "
    "pattern from the index-fold dedup tiers: each microbatch "
    "appends its per-(source, fingerprint) doc/keep counters as one "
    "generation (replay-idempotent dynamic overwrite on src_batch), "
    "and the report sums counters across generations through the "
    "SHARED report tail (domain_report_from_counts). Because the "
    "counters form a commutative monoid, the result is RETROACTIVELY "
    "exact — equal to the batch recompute under ANY batching, with "
    "no arrival-order caveat (cross-batch duplicate fingerprints "
    "count as duplicates; multi-batch equality pytest-pinned) — so "
    "the batch oracle is shared verbatim. State is counter rows, "
    "never documents; compaction folds generations into one",
)
def streaming_domain_stats(spark, sf_dir):
    import tempfile

    from chiv_spark.streaming.domain_stats import domain_stats_stream

    stream = read_table_stream(spark, sf_dir, "documents")
    work = tempfile.mkdtemp(prefix="chiv-domstats-")
    return domain_stats_stream(spark, stream, work)
