"""Text-analysis operators over a document corpus.

All JVM-side column expressions (split/filter/aggregate/regexp) —
no Python UDFs — so they run inside whole-stage codegen and scale
linearly with executors. Each has an exact DuckDB oracle twin in
chiv_spark.queries (same formulas over the same string primitives).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from chiv_spark.functions.detmath import det_round
from chiv_spark.functions.hashing import hash64

# small deterministic stopword sets per language for the n-gram/
# stopword heuristics; the corpus is synthetic word-soup, the
# *operator shape* (per-language marker scoring) is what matters
STOPWORDS_EN = ("the", "a", "of", "and", "is")

# tokens: single-space separated in the synthetic corpus; use a
# simple split so Spark and DuckDB agree exactly (lazy: Column
# construction requires an active SparkContext in classic mode)
def _toks() -> Column:
    return F.split(F.col("text"), " ")


def token_count() -> Column:
    """Whitespace token count."""
    return F.size(_toks()).cast("long")


def word_token_count() -> Column:
    """BPE-ish token proxy: count of letter-runs, digit-runs and
    single punctuation marks (regexp shared verbatim with DuckDB)."""
    return F.size(F.regexp_extract_all(F.col("text"), F.lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"), 0)).cast(
        "long"
    )


def stopword_count() -> Column:
    toks = _toks()
    sw = F.array(*[F.lit(w) for w in STOPWORDS_EN])
    return F.size(F.array_intersect(F.array_distinct(toks), sw)).cast("long")


def stopword_ratio() -> Column:
    """Fraction of tokens that are stopwords (token-level, with
    duplicates — deterministic double division)."""
    toks = _toks()
    hits = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS_EN)))
    return (hits.cast("double") / F.size(toks).cast("double"))


def quality_score() -> Column:
    """Composite quality score: length band + stopword presence.
    Pure arithmetic → identical in the oracle."""
    n = F.length(F.col("text")).cast("double")
    ratio = stopword_ratio()
    length_term = F.least(n / F.lit(1000.0), F.lit(1.0))
    return det_round(F.lit(0.5) * length_term + F.lit(0.5) * F.least(ratio * 10.0, F.lit(1.0)), 6)


def lang_score_en() -> Column:
    return det_round(stopword_ratio(), 6)


def predicted_lang() -> Column:
    """Marker-based language ID: claims 'en' when English stopword
    density clears a threshold, else 'unknown'. (The corpus is
    synthetic; the operator demonstrates the n-gram-marker shape.)"""
    return F.when(stopword_ratio() >= 0.05, F.lit("en")).otherwise(F.lit("unknown"))


def normalized_text() -> Column:
    """Normalization used for fingerprinting/exact dedup: lowercase,
    collapse whitespace runs, trim."""
    return F.trim(F.regexp_replace(F.lower(F.col("text")), "\\s+", " "))


def fingerprint() -> Column:
    """Deterministic 60-bit document fingerprint of normalized text."""
    return hash64(normalized_text())


def text_stats(docs: DataFrame) -> DataFrame:
    """Per-document text statistics table."""
    return docs.select(
        "doc_id",
        "lang",
        F.length("text").cast("long").alias("n_chars"),
        token_count().alias("n_tokens"),
        word_token_count().alias("n_word_tokens"),
        stopword_count().alias("n_stopwords"),
        det_round(stopword_ratio(), 6).alias("stopword_ratio"),
        quality_score().alias("quality"),
    )


def language_id(docs: DataFrame) -> DataFrame:
    return docs.select(
        "doc_id",
        "lang",
        lang_score_en().alias("en_score"),
        predicted_lang().alias("predicted_lang"),
    )


def fingerprints(docs: DataFrame) -> DataFrame:
    return docs.select("doc_id", fingerprint().alias("fingerprint"))


def bm25_topk(docs: DataFrame, terms: list[str], k: int = 20) -> DataFrame:
    """BM25 keyword retrieval (k1=1.2, b=0.75) with a rational IDF,
    ``(N - df + 0.5) / (df + 0.5)`` — the classic log() is avoided
    because the engines' libm ln() can differ in the last ulp, while
    +,-,*,/ are bit-deterministic IEEE ops. Per-term contributions are
    rounded to integer micros and summed as bigints, so the per-doc
    score is order-free at any parallelism.

    Scale shape: tokens are filtered to the query's terms BEFORE any
    shuffle (the tf/df aggregates are query-term-sized, not
    vocabulary-sized); df and the corpus stats are single-digit-row
    broadcasts; the only fact-sized shuffle is the doc-length join on
    doc_id."""
    toks = docs.select("doc_id", F.explode(_toks()).alias("tok"))
    qt = toks.filter(F.col("tok").isin(*terms))
    tf = qt.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).cast("long").alias("tf"))
    dft = qt.groupBy("tok").agg(F.countDistinct("doc_id").cast("long").alias("df"))
    dl = docs.select("doc_id", F.size(_toks()).cast("long").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("total_dl"),
    )
    n = F.col("n_docs").cast("double")
    df_ = F.col("df").cast("double")
    tf_ = F.col("tf").cast("double")
    dl_ = F.col("dl").cast("double")
    avgdl = F.col("total_dl").cast("double") / n
    idf = ((n - df_) + F.lit(0.5)) / (df_ + F.lit(0.5))
    denom = tf_ + (F.lit(1.2) * (F.lit(0.25) + (F.lit(0.75) * (dl_ / avgdl))))
    contrib = idf * ((tf_ * F.lit(2.2)) / denom)
    micros = F.floor(contrib * F.lit(1000000.0) + F.lit(0.5)).cast("long")
    return (
        tf.join(F.broadcast(dft), "tok")
        .join(dl, "doc_id")
        .join(F.broadcast(stats))
        .select("doc_id", micros.alias("micros"))
        .groupBy("doc_id")
        .agg((F.sum("micros").cast("double") / F.lit(1000000.0)).alias("bm25"))
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(k)
    )


# -------------------------------------------------------------- BPE apply

BPE_SOT = "\x01"  # symbol-open sentinel — outside the corpus alphabet
BPE_EOT = "\x02"  # symbol-close sentinel


def bpe_wrap(text_col: Column | str) -> Column:
    """Wrap every non-space char as an atomic symbol: ``c`` →
    ``\\x01c\\x02``. Spaces stay bare, so merges (which never contain
    a space) cannot cross word boundaries."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.regexp_replace(c, "([^ ])", f"{BPE_SOT}$1{BPE_EOT}")


def bpe_apply(wrapped: Column, merges: Column) -> Column:
    """Apply an ordered merge list to a sentinel-wrapped symbol string.

    ``merges`` is an array<string> of 2-char pairs in rank order. One
    merge pass is one greedy left-to-right non-overlapping replace of
    the adjacent wrapped pair ``\\x01a\\x02\\x01b\\x02`` with the
    wrapped merged symbol ``\\x01ab\\x02`` — exactly the Sennrich
    reference apply loop, as a JVM string fold (no UDF; linear in
    bytes × merges).

    PRECONDITION (asserted at runtime): every merge operand is a
    SINGLE char, i.e. each entry is exactly 2 chars. That holds for
    the char-pair tables text_bpe_first_merges produces; if the merge
    learner is ever extended past the first round (where an operand
    can itself be a multi-char merged symbol), the substring(x,1,1)/
    substring(x,2,1) pattern split below would silently mis-tokenize
    — the raise_error branch turns that into a loud job failure."""
    applied = F.aggregate(
        merges,
        wrapped,
        lambda acc, x: F.replace(
            acc,
            F.concat(
                F.lit(BPE_SOT),
                F.substring(x, 1, 1),
                F.lit(BPE_EOT + BPE_SOT),
                F.substring(x, 2, 1),
                F.lit(BPE_EOT),
            ),
            F.concat(F.lit(BPE_SOT), x, F.lit(BPE_EOT)),
        ),
    )
    # a same-branch when(assert_true...) gets constant-folded away;
    # raise_error in a genuinely distinct branch survives optimization
    return F.when(
        F.forall(merges, lambda x: F.length(x) == 2), applied
    ).otherwise(
        F.raise_error(
            F.lit("bpe_apply: merge entries must be 2-char single-char-operand pairs")
        ).cast("string")
    )


def bpe_token_count(applied: Column) -> Column:
    """Number of symbols in an applied string (count of close
    sentinels)."""
    return (F.length(applied) - F.length(F.replace(applied, F.lit(BPE_EOT)))).cast(
        "long"
    )
