"""Training-data preparation operators beyond dedup/similarity:
deterministic sampling, train/val/test splitting, exact distribution
percentiles, and embedding normalization — the bread-and-butter steps
between a cleaned corpus and a training run, each with an exact DuckDB
oracle twin.

Determinism contract: sampling/splitting decisions hash a stable key
(md5-derived 60-bit, the same ``hash64`` family as dedup) rather than
using RNG, so a row's fate is a pure function of its id — stable
across engines, re-runs, partitionings and cluster sizes, which is
exactly what reproducible dataset curation needs at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from chiv_spark.core import state
from chiv_spark.functions.detmath import det_round, duckdb_det_round
from chiv_spark.functions.hashing import duckdb_hash64, hash64
from chiv_spark.functions.vectors import l2_norm_fixed
from chiv_spark.queries.base import query, t
from chiv_spark.queries.llm import EMB_DIM, _FP as _DOC_FP, _TOKS as _DOC_TOKS
from chiv_spark.session import overlap

#: SQL twin of hash64(concat('smp:', doc_id)) — shared literal salt
_H = "(('0x' || substring(md5('smp:' || doc_id::VARCHAR), 1, 15))::BIGINT)"


@query(
    "sample_deterministic",
    f"""
    SELECT doc_id, lang FROM documents
    WHERE {_H} % 100 < 10
    """,
    doc="deterministic 10% corpus sample via stable hash threshold (no RNG — "
    "reproducible across engines, re-runs and partitionings)",
)
def sample_deterministic(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    h = hash64(F.concat(F.lit("smp:"), F.col("doc_id").cast("string")))
    return docs.filter(h % 100 < 10).select("doc_id", "lang")


@query(
    "split_train_val_test",
    f"""
    WITH labeled AS (
      SELECT lang,
             CASE WHEN {_H} % 100 < 80 THEN 'train'
                  WHEN {_H} % 100 < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents)
    SELECT lang, split, COUNT(*) AS n_docs
    FROM labeled GROUP BY lang, split
    """,
    doc="hash-based 80/10/10 train/val/test assignment with per-split counts "
    "(a doc's split is a pure function of its id)",
)
def split_train_val_test(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    h = hash64(F.concat(F.lit("smp:"), F.col("doc_id").cast("string"))) % 100
    split = (
        F.when(h < 80, F.lit("train")).when(h < 90, F.lit("val")).otherwise(F.lit("test"))
    )
    return (
        docs.select("lang", split.alias("split"))
        .groupBy("lang", "split")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )


@query(
    "agg_percentile_exact",
    """
    SELECT o_orderpriority,
           (FLOOR(quantile_cont(o_totalprice, 0.25) * 1000000.0 + 0.5) / 1000000.0) AS p25,
           (FLOOR(quantile_cont(o_totalprice, 0.50) * 1000000.0 + 0.5) / 1000000.0) AS p50,
           (FLOOR(quantile_cont(o_totalprice, 0.75) * 1000000.0 + 0.5) / 1000000.0) AS p75,
           (FLOOR(quantile_cont(o_totalprice, 0.95) * 1000000.0 + 0.5) / 1000000.0) AS p95
    FROM orders GROUP BY o_orderpriority
    """,
    doc="exact linear-interpolation percentiles per group (Spark percentile == "
    "DuckDB quantile_cont; length/quality cutoffs for curriculum filtering)",
)
def agg_percentile_exact(spark, sf_dir):
    orders = t(spark, sf_dir, "orders")
    cols = [
        det_round(F.expr(f"percentile(o_totalprice, {p})"), 6).alias(name)
        for p, name in [(0.25, "p25"), (0.50, "p50"), (0.75, "p75"), (0.95, "p95")]
    ]
    return orders.groupBy("o_orderpriority").agg(*cols)


@query(
    "embedding_normalize",
    """
    WITH n AS (
      SELECT vec_id,
             embedding::DOUBLE[] AS e,
             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      FROM embeddings)
    SELECT vec_id,
           CAST(generate_subscripts(e, 1) AS BIGINT) AS d,
           FLOOR(unnest(e) / nrm * 1000000.0 + 0.5) / 1000000.0 AS unit_value
    FROM n
    """,
    doc="L2-normalize the embedding column to unit vectors, emitted as "
    "(vec_id, d, unit_value) scalar rows (elements rounded 6dp; fixed-dim "
    "codegen chains, no interpreted HOFs in the norm). Array-valued variant "
    "lives in chiv_spark.functions.vectors for library use — gradeable "
    "registry outputs are scalars-only by repo convention",
)
def embedding_normalize(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    # compute the O(dim) norm chain ONCE per row, then explode the raw
    # array and divide each element by it — keeps total expression size
    # O(dim), not O(dim^2) as inlining the norm into every exploded
    # element would (26s -> sub-second plan compile at dim=64)
    nrm = l2_norm_fixed("embedding", EMB_DIM)
    return (
        emb.select("vec_id", nrm.alias("nrm"), F.posexplode("embedding").alias("pos", "x"))
        .select(
            "vec_id",
            (F.col("pos") + 1).cast("long").alias("d"),
            det_round(F.col("x").cast("double") / F.col("nrm"), 6).alias("unit_value"),
        )
    )


@query(
    "embedding_sq8",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    s AS (SELECT vec_id, v,
                 list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
          FROM e),
    q AS (SELECT vec_id, scale,
                 list_transform(v, x -> FLOOR(x / scale + 0.5)) AS codes,
                 list_transform(v, x -> abs(x - FLOOR(x / scale + 0.5) * scale)) AS errs
          FROM s WHERE scale > 0)
    SELECT vec_id,
           (FLOOR(scale * 1000000000.0 + 0.5) / 1000000000.0) AS scale,
           CAST(list_sum(codes) AS BIGINT) AS code_sum,
           CAST(list_sum(list_transform(codes, c -> abs(c))) AS BIGINT) AS code_abs_sum,
           (FLOOR(list_max(errs) * 1000000000.0 + 0.5) / 1000000000.0) AS max_abs_err
    FROM q
    """,
    doc="int8 scalar quantization of the embedding column (the cheap "
    "4x-compression tier below PQ: per-vector symmetric scale = "
    "max|x|/127, code = round-half-up(x/scale) in [-127,127]) with "
    "its reconstruction-error report — the storage/recall dial a "
    "100 TB vector pipeline tunes before dropping to product "
    "quantization. Codes are INTEGERS, so code_sum / code_abs_sum "
    "are order-free exact in any engine and aggregation order; "
    "scale and max_abs_err are single per-element IEEE chains "
    "(array order, no folded float sums) det-rounded at 9dp. The "
    "whole operator is one narrow projection — no shuffle, no UDF, "
    "linear scan at any scale",
)
def embedding_sq8(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    scale_expr = F.array_max(F.transform(v, lambda x: F.abs(x))) / 127.0
    d = emb.select("vec_id", v.alias("v"), scale_expr.alias("scale")).filter(
        F.col("scale") > 0
    )
    code = lambda x: F.floor(x / F.col("scale") + 0.5)  # noqa: E731
    codes = F.transform("v", code)
    errs = F.transform("v", lambda x: F.abs(x - code(x) * F.col("scale")))
    # rounding happens in a SEPARATE projection: putting
    # det_round(scale).alias("scale") in the same select would make
    # Spark's lateral-column-alias resolution rebind the `scale`
    # reference inside `errs` to the ROUNDED alias (verified live —
    # a 1e-9-level silent divergence from the oracle)
    raw = d.select(
        "vec_id",
        "scale",
        F.aggregate(
            codes, F.lit(0).cast("long"), lambda a, x: a + x.cast("long")
        ).alias("code_sum"),
        F.aggregate(
            codes, F.lit(0).cast("long"), lambda a, x: a + F.abs(x).cast("long")
        ).alias("code_abs_sum"),
        F.array_max(errs).alias("max_err_raw"),
    )
    return raw.select(
        "vec_id",
        det_round(F.col("scale"), 9).alias("scale"),
        "code_sum",
        "code_abs_sum",
        det_round(F.col("max_err_raw"), 9).alias("max_abs_err"),
    )


# the capstone oracle composes the clean-corpus oracle verbatim so the
# two stay in lockstep (a nested WITH is valid DuckDB); llm is fully
# imported above, so its registry entry exists at module-build time
from chiv_spark.queries.base import REGISTRY as _REG  # noqa: E402

_TRAINING_DATASET_ORACLE = f"""
    WITH cleaned AS ({_REG["pipeline_clean_corpus"].oracle}),
    labeled AS (
      SELECT lang, n_tokens,
             CAST(FLOOR(quality * 1000000 + 0.5) AS BIGINT) AS q_micros,
             CASE WHEN {_H} % 100 < 80 THEN 'train'
                  WHEN {_H} % 100 < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM cleaned)
    SELECT split, lang, COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(q_micros) AS BIGINT) AS sum_quality_micros
    FROM labeled GROUP BY split, lang
"""


@query(
    "pipeline_training_dataset",
    _TRAINING_DATASET_ORACLE,
    doc="capstone v2: cleaned corpus → deterministic 80/10/10 split → per-"
    "(split, lang) dataset card (doc counts, token totals, quality sums as "
    "exact micro-units) — the whole dataset build as one composed plan",
)
def pipeline_training_dataset(spark, sf_dir):
    from chiv_spark.queries.llm import pipeline_clean_corpus

    cleaned = pipeline_clean_corpus(spark, sf_dir)
    h = hash64(F.concat(F.lit("smp:"), F.col("doc_id").cast("string"))) % 100
    split = (
        F.when(h < 80, F.lit("train")).when(h < 90, F.lit("val")).otherwise(F.lit("test"))
    )
    return (
        cleaned.select(
            "lang",
            split.alias("split"),
            "n_tokens",
            # quality is det-rounded to 6dp already: micro-units sum exactly
            F.floor(F.col("quality") * 1_000_000 + F.lit(0.5)).cast("long").alias("q_micros"),
        )
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.sum("q_micros").cast("long").alias("sum_quality_micros"),
        )
    )


@query(
    "text_token_topk",
    """
    WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
    SELECT tok, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df
    FROM toks GROUP BY tok
    ORDER BY tf DESC, tok LIMIT 50
    """,
    doc="corpus Zipf head: top-50 tokens by term frequency with document "
    "frequency — the vocabulary profile behind stop-word and DF-cap choices",
)
def text_token_topk(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    return (
        toks.groupBy("tok")
        .agg(
            F.count(F.lit(1)).cast("long").alias("tf"),
            F.countDistinct("doc_id").cast("long").alias("df"),
        )
        .orderBy(F.col("tf").desc(), "tok")
        .limit(50)
    )


@query(
    "text_corpus_freq_score",
    """
    WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
    freq AS (SELECT tok, COUNT(*) AS tf FROM toks GROUP BY tok),
    scored AS (SELECT t.doc_id, SUM(f.tf) AS tf_sum, COUNT(*) AS n
               FROM toks t JOIN freq f ON t.tok = f.tok
               GROUP BY t.doc_id)
    SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
           CAST(tf_sum AS DOUBLE) / CAST(n AS DOUBLE) AS freq_score
    FROM scored
    """,
    doc="frequency-based fluency proxy: mean corpus term-frequency of each "
    "doc's tokens (integer sums, one deterministic division) — a cheap "
    "LM-free quality signal; unusually low scores flag gibberish",
)
def text_corpus_freq_score(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("tf"))
    return (
        toks.join(freq, "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            (F.sum("tf").cast("double") / F.count(F.lit(1)).cast("double")).alias(
                "freq_score"
            ),
        )
        .select("doc_id", "n_tokens", "freq_score")
    )


@query(
    "text_bm25_topk",
    """
    WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
    qt AS (SELECT doc_id, tok FROM toks WHERE tok IN ('join', 'merge', 'window')),
    tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM qt GROUP BY doc_id, tok),
    dft AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM qt GROUP BY tok),
    dl AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl FROM documents),
    stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS total_dl FROM dl),
    contrib AS (
      SELECT tf.doc_id,
             CAST(FLOOR(
               (((CAST(stats.n_docs AS DOUBLE) - CAST(dft.df AS DOUBLE)) + 0.5) / (CAST(dft.df AS DOUBLE) + 0.5))
               * ((CAST(tf.tf AS DOUBLE) * 2.2)
                  / (CAST(tf.tf AS DOUBLE)
                     + (1.2 * (0.25 + (0.75 * (CAST(dl.dl AS DOUBLE)
                        / (CAST(stats.total_dl AS DOUBLE) / CAST(stats.n_docs AS DOUBLE))))))))
               * 1000000.0 + 0.5) AS BIGINT) AS micros
      FROM tf JOIN dft ON tf.tok = dft.tok
              JOIN dl ON tf.doc_id = dl.doc_id
              CROSS JOIN stats)
    SELECT doc_id, CAST(SUM(micros) AS DOUBLE) / 1000000.0 AS bm25
    FROM contrib GROUP BY doc_id
    ORDER BY bm25 DESC, doc_id LIMIT 20
    """,
    doc="BM25 keyword retrieval (rational IDF, integer-micro summation — "
    "see operators/text.py:bm25_topk for the determinism and scale notes): "
    "lexical twin of the ANN dense-retrieval family",
)
def text_bm25_topk(spark, sf_dir):
    from chiv_spark.operators.text import bm25_topk

    docs = t(spark, sf_dir, "documents")
    return bm25_topk(docs, ["join", "merge", "window"], k=20)


@query(
    "sample_stratified",
    f"""
    WITH rated AS (
      SELECT doc_id, lang,
             CASE lang WHEN 'en' THEN 50 WHEN 'zh' THEN 25 ELSE 10 END AS rate
      FROM documents)
    SELECT lang, COUNT(*) AS n_sampled
    FROM rated WHERE {_H} % 100 < rate
    GROUP BY lang
    """,
    doc="stratified deterministic sampling: per-language rates (en 50%, "
    "zh 25%, rest 10% — dataset-mixing weights) via the same stable hash "
    "threshold as sample_deterministic; a doc's inclusion is a pure "
    "function of its id, so the mix is reproducible at any partitioning",
)
def sample_stratified(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    h = hash64(F.concat(F.lit("smp:"), F.col("doc_id").cast("string"))) % 100
    rate = (
        F.when(F.col("lang") == "en", 50).when(F.col("lang") == "zh", 25).otherwise(10)
    )
    return (
        docs.filter(h < rate)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n_sampled"))
    )


@query(
    "pack_sequences",
    """
    WITH sized AS (
      SELECT doc_id, doc_id % 8 AS shard,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents),
    packed AS (
      SELECT shard, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             CAST(((SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) - n_tokens)
                  // 2048 AS BIGINT) AS bin
      FROM sized)
    SELECT CAST(shard AS BIGINT) AS shard, bin,
           COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
    FROM packed GROUP BY shard, bin
    """,
    doc="sequence packing for LLM training (concat-and-chunk): docs are "
    "concatenated in doc_id order within a shard and chunked into "
    "2048-token context windows; a doc's bin = where its first token "
    "lands. Shards pack independently (PARTITION BY shard), so the "
    "window never needs a global single-partition sort — the 100 TB "
    "shape is N parallel pack streams, not one",
)
def pack_sequences(spark, sf_dir):
    from pyspark.sql.window import Window

    docs = t(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id",
        (F.col("doc_id") % 8).alias("shard"),
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    packed = sized.select(
        "shard",
        "n_tokens",
        ((cum - F.col("n_tokens")) / F.lit(2048)).cast("long").alias("bin"),
    )
    return packed.groupBy(F.col("shard").cast("long").alias("shard"), "bin").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
    )


@query(
    "decontaminate_eval_overlap",
    f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh AS (SELECT DISTINCT doc_id,
                  unnest(list_transform(range(1, len(t) - 2),
                                        i -> array_to_string(t[i:i+3], ' '))) AS shingle
           FROM toks WHERE len(t) >= 4),
    ev AS (SELECT DISTINCT shingle FROM sh WHERE {_H} % 100 < 2),
    hits AS (SELECT s.doc_id, COUNT(*) AS n_shared_grams
             FROM sh s JOIN ev USING (shingle)
             WHERE {_H.replace('doc_id', 's.doc_id')} % 100 >= 2
             GROUP BY s.doc_id)
    SELECT doc_id, CAST(n_shared_grams AS BIGINT) AS n_shared_grams FROM hits
    """,
    doc="eval-set decontamination: training docs sharing any word 4-gram "
    "with the held-out eval split (the 2% hash slice). Real pipelines use "
    "13-grams; the synthetic corpus's overlap structure peaks at 4. Eval "
    "grams broadcast (eval sets are fixed-size at any corpus scale), so "
    "the corpus side never shuffles — scan, explode, broadcast-join, "
    "one doc_id aggregation",
)
def decontaminate_eval_overlap(spark, sf_dir):
    from chiv_spark.operators import dedup

    docs = t(spark, sf_dir, "documents")
    sh = dedup.shingles(docs, words=4)
    h = hash64(F.concat(F.lit("smp:"), F.col("doc_id").cast("string"))) % 100
    ev = sh.filter(h < 2).select("shingle").distinct()
    train = sh.filter(h >= 2)
    return (
        train.join(F.broadcast(ev), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared_grams"))
    )


def _neardup_decon_oracle() -> str:
    from chiv_spark.queries.llm import _MINHASH_CTES

    # same banded-MinHash formulation as the dedup_minhash_lsh oracle,
    # restricted to (train x eval) pairs under the SAME 2% eval fate
    # as decontaminate_eval_overlap
    return f"""
    WITH {_MINHASH_CTES},
    bandsig AS (SELECT doc_id, CAST(p // 4 AS INT) AS band,
                       string_agg(mh::VARCHAR, ',' ORDER BY p) AS sig_str
                FROM sig GROUP BY doc_id, CAST(p // 4 AS INT)),
    bands AS (SELECT doc_id, band,
                     (('0x' || substring(md5(band::VARCHAR || ':' || sig_str), 1, 15))::BIGINT) AS bh
              FROM bandsig),
    fate AS (SELECT doc_id, {_H} % 100 AS f FROM documents),
    cand AS (SELECT DISTINCT a.doc_id AS doc_id, b.doc_id AS ref_doc_id
             FROM bands a
             JOIN bands b ON a.band = b.band AND a.bh = b.bh
             JOIN fate fa ON fa.doc_id = a.doc_id
             JOIN fate fb ON fb.doc_id = b.doc_id
             WHERE fa.f >= 2 AND fb.f < 2),
    est AS (SELECT c.doc_id, c.ref_doc_id,
                   AVG(CASE WHEN sa.mh = sb.mh THEN 1.0 ELSE 0.0 END) AS est_jaccard
            FROM cand c
            JOIN sig sa ON sa.doc_id = c.doc_id
            JOIN sig sb ON sb.doc_id = c.ref_doc_id AND sb.p = sa.p
            GROUP BY c.doc_id, c.ref_doc_id)
    SELECT doc_id, ref_doc_id, CAST(est_jaccard AS DOUBLE) AS est_jaccard
    FROM est WHERE est_jaccard >= 0.5
    """


@query(
    "decontaminate_neardup_eval",
    _neardup_decon_oracle(),
    doc="NEAR-DUP eval decontamination (r9 verdict task 3): "
    "decontaminate_eval_overlap catches exact 4-gram overlap only; a "
    "PARAPHRASED benchmark item (words dropped/substituted) shares "
    "few exact n-grams but keeps high shingle-Jaccard, so this pass "
    "runs banded MinHash-LSH between the training corpus and the "
    "same 2% hash-fate eval split. The eval side is fixed-size at "
    "any corpus scale, so its band index is BROADCAST and the corpus "
    "never shuffles — scan, band equi-join vs broadcast, inline "
    "16-term signature estimate, filter (operators/dedup.py "
    "crosscorpus_lsh_pairs). Returns flagged (train doc, eval doc, "
    "est Jaccard) pairs; paraphrase sensitivity is pinned by tests/"
    "test_operators.py::TestNeardupDecontamination. Oracle = full banded "
    "recompute restricted to train x eval pairs (the "
    "dedup_incremental_lsh pattern)",
)
def decontaminate_neardup_eval(spark, sf_dir):
    from chiv_spark.operators import dedup

    docs = t(spark, sf_dir, "documents")
    h = hash64(F.concat(F.lit("smp:"), F.col("doc_id").cast("string"))) % 100
    ev_index = dedup.minhash_band_index(docs.filter(h < 2))
    train_index = dedup.minhash_band_index(docs.filter(h >= 2))
    return dedup.crosscorpus_lsh_pairs(train_index, ev_index, threshold=0.5)


#: eval fate for the SEMANTIC decontamination pass (vec_id domain)
_ESMP_H = "(('0x' || substring(md5('esmp:' || vec_id::VARCHAR), 1, 15))::BIGINT)"


def _embed_decon_oracle() -> str:
    from chiv_spark.queries.llm import _BAND_CTES, _COS

    return f"""
    WITH {_BAND_CTES},
    fate AS (SELECT vec_id, {_ESMP_H} % 100 AS f FROM embeddings),
    cand AS (SELECT DISTINCT a.id AS vec_id, b.id AS ref_vec_id
             FROM bandbits a
             JOIN bandbits b ON a.band = b.band AND a.bits = b.bits
             JOIN fate fa ON fa.vec_id = a.id
             JOIN fate fb ON fb.vec_id = b.id
             WHERE fa.f >= 2 AND fb.f < 2),
    pairs AS (SELECT c.vec_id, c.ref_vec_id, {_COS} AS cosine
              FROM cand c
              JOIN embeddings a ON a.vec_id = c.vec_id
              JOIN embeddings b ON b.vec_id = c.ref_vec_id)
    SELECT vec_id, ref_vec_id,
           (FLOOR(cosine * 1000000.0 + 0.5) / 1000000.0) AS cosine
    FROM pairs WHERE cosine >= 0.3
    """


@query(
    "decontaminate_embed_eval",
    _embed_decon_oracle(),
    doc="SEMANTIC eval decontamination — the embedding twin of "
    "decontaminate_neardup_eval: a REWORDED benchmark item can lose "
    "both exact n-grams and shingle-Jaccard yet keep high embedding "
    "cosine, so this pass runs banded hyperplane LSH between the "
    "training corpus and a 2% hash-fate eval slice of the vectors. "
    "The eval band index (id, band, bits, vector, norm) is BROADCAST "
    "(fixed-size at any corpus scale); the corpus side is one scan + "
    "band equi-join with the exact cosine verified inline on the "
    "joined row — no shuffle, no candidate join-back "
    "(similarity.crosscorpus_neardup_pairs). Oracle = full banded "
    "recompute restricted to train x eval pairs",
)
def decontaminate_embed_eval(spark, sf_dir):
    from chiv_spark.operators import similarity
    from chiv_spark.queries.llm import EMB_DIM

    emb = t(spark, sf_dir, "embeddings")
    h = hash64(F.concat(F.lit("esmp:"), F.col("vec_id").cast("string"))) % 100
    ev_index = similarity.embedding_band_index(emb.filter(h < 2), dim=EMB_DIM)
    train_index = similarity.embedding_band_index(emb.filter(h >= 2), dim=EMB_DIM)
    return similarity.crosscorpus_neardup_pairs(
        train_index, ev_index, threshold=0.3, dim=EMB_DIM
    )


def _dedup_decon_funnel_oracle() -> str:
    from chiv_spark.queries import curation  # noqa: F401 — registers dedup_exact_substr
    from chiv_spark.queries.base import REGISTRY

    # compose the three registered oracles verbatim (as embedded
    # subqueries — their CTE namespaces collide if merged) so the
    # funnel can never drift from the stages it reports on.
    # MATERIALIZED is load-bearing (r12 verdict task 4): DuckDB's
    # default CTE inlining re-plans the embedded oracles inside the
    # outer join tree, ballooning the composed query to ~148 s at
    # sf0.1 where the three stages run in ~9 s standalone; forcing
    # each stage to evaluate once as a table restores stage-sum cost
    # with identical semantics (the r11 pipeline_filter_funnel fix)
    spans = REGISTRY["dedup_exact_substr"].oracle
    overlap = REGISTRY["decontaminate_eval_overlap"].oracle
    neardup = _neardup_decon_oracle()
    return f"""
    WITH spans AS MATERIALIZED (SELECT doc_id, keep FROM ({spans})),
    ov AS MATERIALIZED (SELECT DISTINCT doc_id FROM ({overlap})),
    nd AS MATERIALIZED (SELECT DISTINCT doc_id FROM ({neardup})),
    flags AS MATERIALIZED (
      SELECT d.doc_id,
             s.keep AS f1,
             ({_H} % 100 >= 2) AS f2,
             (o.doc_id IS NULL) AS f3,
             (n.doc_id IS NULL) AS f4
      FROM documents d
      JOIN spans s USING (doc_id)
      LEFT JOIN ov o ON o.doc_id = d.doc_id
      LEFT JOIN nd n ON n.doc_id = d.doc_id),
    agg AS MATERIALIZED (
      SELECT COUNT(*) AS total,
             COUNT(*) FILTER (WHERE f1) AS s1,
             COUNT(*) FILTER (WHERE f1 AND f2) AS s2,
             COUNT(*) FILTER (WHERE f1 AND f2 AND f3) AS s3,
             COUNT(*) FILTER (WHERE f1 AND f2 AND f3 AND f4) AS s4
      FROM flags)
    SELECT stage, CAST(n_surviving AS BIGINT) AS n_surviving,
           CAST(n_removed AS BIGINT) AS n_removed
    FROM (
      SELECT '0_total' AS stage, total AS n_surviving, 0 AS n_removed FROM agg
      UNION ALL SELECT '1_repeated_spans', s1, total - s1 FROM agg
      UNION ALL SELECT '2_eval_holdout', s2, s1 - s2 FROM agg
      UNION ALL SELECT '3_exact_overlap_decon', s3, s2 - s3 FROM agg
      UNION ALL SELECT '4_neardup_decon', s4, s3 - s4 FROM agg)
    """


@query(
    "pipeline_dedup_decon_funnel",
    None,  # oracle attached below (composes three registered oracles)
    doc="the round-10 curation funnel: per-stage surviving/removed "
    "counts for the suffix-dedup + decontamination tier — ExactSubstr "
    "repeated-span gate, eval-holdout removal (the 2% fate slice "
    "itself), exact 4-gram overlap decontamination, then MinHash "
    "near-dup decontamination — the report that shows what each new "
    "stage costs the corpus, complementing pipeline_filter_funnel's "
    "classic stages. One pass over documents building four boolean "
    "flags (one join per composed stage, the decon sides broadcast-"
    "bounded), one conditional-count aggregate unpivoted via stack; "
    "stage definitions are the registered queries' own relations, so "
    "report and operators cannot drift",
)
def pipeline_dedup_decon_funnel(spark, sf_dir):
    from chiv_spark.queries.base import REGISTRY

    docs = t(spark, sf_dir, "documents").select("doc_id")
    spans = REGISTRY["dedup_exact_substr"].fn(spark, sf_dir).select("doc_id", "keep")
    ov = REGISTRY["decontaminate_eval_overlap"].fn(spark, sf_dir).select("doc_id").distinct()
    nd = (
        REGISTRY["decontaminate_neardup_eval"].fn(spark, sf_dir)
        .select("doc_id")
        .distinct()
    )
    fate = hash64(F.concat(F.lit("smp:"), F.col("doc_id").cast("string"))) % 100
    flags = (
        docs.join(spans, "doc_id")
        .join(ov.withColumn("__ov", F.lit(1)), "doc_id", "left")
        .join(nd.withColumn("__nd", F.lit(1)), "doc_id", "left")
        .select(
            F.col("keep").alias("f1"),
            (fate >= 2).alias("f2"),
            F.col("__ov").isNull().alias("f3"),
            F.col("__nd").isNull().alias("f4"),
        )
    )
    agg = flags.agg(
        F.count(F.lit(1)).alias("total"),
        F.count(F.when(F.col("f1"), 1)).alias("s1"),
        F.count(F.when(F.col("f1") & F.col("f2"), 1)).alias("s2"),
        F.count(F.when(F.col("f1") & F.col("f2") & F.col("f3"), 1)).alias("s3"),
        F.count(
            F.when(F.col("f1") & F.col("f2") & F.col("f3") & F.col("f4"), 1)
        ).alias("s4"),
    )
    return agg.selectExpr(
        "stack(5, "
        "'0_total', total, 0L, "
        "'1_repeated_spans', s1, total - s1, "
        "'2_eval_holdout', s2, s1 - s2, "
        "'3_exact_overlap_decon', s3, s2 - s3, "
        "'4_neardup_decon', s4, s3 - s4"
        ") as (stage, n_surviving, n_removed)"
    ).selectExpr(
        "stage",
        "CAST(n_surviving AS BIGINT) AS n_surviving",
        "CAST(n_removed AS BIGINT) AS n_removed",
    )


from chiv_spark.queries.base import REGISTRY as _FUNNEL_REG  # noqa: E402

_FUNNEL_REG["pipeline_dedup_decon_funnel"] = _FUNNEL_REG[
    "pipeline_dedup_decon_funnel"
].__class__(
    name="pipeline_dedup_decon_funnel",
    fn=_FUNNEL_REG["pipeline_dedup_decon_funnel"].fn,
    oracle=_dedup_decon_funnel_oracle(),
    doc=_FUNNEL_REG["pipeline_dedup_decon_funnel"].doc,
)


#: deterministic doc -> attached-media mapping over the synthetic
#: corpus (r13 verdict task 6): a stable-hash 1-in-4 of documents
#: carries an image, independently 1-in-4 an audio clip, 1-in-4 a
#: video clip, each assigned into the 60-item media universe — the
#: join key the cross-modality linkage stage propagates canonical
#: survival through. Attachment is OPTIONAL so the stage is a real
#: filter, not a wipe: docs without media pass, docs whose present
#: attachment was deduped away drop.
_ATT_MODS = ["img", "aud", "vid"]


def _att_sql(mod: str) -> str:
    from chiv_spark.functions.hashing import duckdb_hash64

    has = duckdb_hash64(f"'has{mod}:' || doc_id::VARCHAR")
    h = duckdb_hash64(f"'att{mod}:' || doc_id::VARCHAR")
    return f"(CASE WHEN {has} % 4 = 0 THEN {h} % 60 END)"


def _att_col(mod: str):
    from chiv_spark.functions.hashing import hash64

    has = hash64(F.concat(F.lit(f"has{mod}:"), F.col("doc_id").cast("string"))) % 4
    h = hash64(F.concat(F.lit(f"att{mod}:"), F.col("doc_id").cast("string"))) % 60
    return F.when(has == 0, h)


def _capstone_media_ctes() -> str:
    """The capstone's MEDIA WITH block — the three canonical
    survivor relations plus their count rows. Split from the text
    block (r15 verdict task 1) because the ingest card's base-only
    restriction shadows ``documents`` for the TEXT stages while the
    media universe stays full-corpus (media arrive through their own
    tier; a text shard arrival never changes the keeper dims)."""
    from chiv_spark.queries import llm  # noqa: F401 — registers the dedup tiers
    from chiv_spark.queries.base import REGISTRY

    img = REGISTRY["dedup_image_canonical"].oracle
    aud = REGISTRY["dedup_audio_canonical"].oracle
    vid = REGISTRY["dedup_video_canonical"].oracle
    return f"""imgc AS MATERIALIZED ({img}),
    audc AS MATERIALIZED ({aud}),
    vidc AS MATERIALIZED ({vid}),
    img AS (SELECT COUNT(*) AS surv, SUM(cluster_size) AS tot FROM imgc),
    aud AS (SELECT COUNT(*) AS surv, SUM(cluster_size) AS tot FROM audc),
    vid AS (SELECT COUNT(*) AS surv, SUM(cluster_size) AS tot FROM vidc)"""


def _capstone_text_flag_ctes(ns: str = "") -> str:
    """The capstone's TEXT-stage WITH block — five registered stage
    oracles MATERIALIZED, the optional media attachments, and the
    per-doc survival flags. References imgc/audc/vidc from
    _capstone_media_ctes, which must be in an enclosing (or the
    same) WITH scope; every reference to ``documents`` is unqualified
    so an enclosing scope can shadow it with a base-slice CTE (the
    ingest card oracle's mechanism). ``ns`` prefixes every CTE name
    this block DEFINES (para -> {ns}para, ..., flags -> {ns}flags):
    DuckDB rejects a nested WITH that redefines an enclosing scope's
    CTE name ('Duplicate alias'), so the ingest card's base-only
    nested copy uses ns='b' to coexist with the outer full-corpus
    block."""
    from chiv_spark.queries import llm  # noqa: F401 — registers the dedup tiers
    from chiv_spark.queries.base import REGISTRY

    # every stage is a REGISTERED oracle embedded verbatim, each
    # MATERIALIZED (the pipeline_dedup_decon_funnel lesson: DuckDB's
    # default inlining re-plans embedded oracles per UNION branch)
    para = REGISTRY["dedup_paragraph_exact"].oracle
    spans = REGISTRY["dedup_exact_substr"].oracle
    mh = REGISTRY["dedup_minhash_lsh"].oracle
    overlap = REGISTRY["decontaminate_eval_overlap"].oracle
    ne = _neardup_decon_oracle()
    att = ", ".join(f"{_att_sql(m)} AS {m}_mid" for m in _ATT_MODS)
    # flags fold by UNION + one hash agg, NOT an n-way join: the r14
    # capstone lesson — DuckDB's join-order handling of 5+ relation
    # joins over materialized CTEs collapsed 10x; the fold is
    # join-free and scales to any number of stages
    return f"""{ns}para AS MATERIALIZED (SELECT doc_id, (cleaned_text <> '') AS f1 FROM ({para})),
    {ns}spans AS MATERIALIZED (SELECT doc_id, keep AS f2 FROM ({spans})),
    {ns}ndrop AS MATERIALIZED (SELECT DISTINCT doc_b AS doc_id FROM ({mh})),
    {ns}ov AS MATERIALIZED (SELECT DISTINCT doc_id FROM ({overlap})),
    {ns}ne AS MATERIALIZED (SELECT DISTINCT doc_id FROM ({ne})),
    {ns}att AS (SELECT doc_id, {att} FROM documents),
    {ns}dropmedia AS (
      SELECT a.doc_id
      FROM {ns}att a
      LEFT JOIN imgc ik ON ik.media_id = a.img_mid
      LEFT JOIN audc ak ON ak.media_id = a.aud_mid
      LEFT JOIN vidc vk ON vk.media_id = a.vid_mid
      WHERE (a.img_mid IS NOT NULL AND ik.media_id IS NULL)
         OR (a.aud_mid IS NOT NULL AND ak.media_id IS NULL)
         OR (a.vid_mid IS NOT NULL AND vk.media_id IS NULL)),
    {ns}flags AS MATERIALIZED (
      SELECT doc_id,
             bool_or(src = 1) AS in1, bool_or(src = 2) AS in2,
             bool_or(src = 1 AND f) AS f1, bool_or(src = 2 AND f) AS f2,
             NOT bool_or(src = 3) AS f3, NOT bool_or(src = 4) AS f4,
             NOT bool_or(src = 5) AS f5, NOT bool_or(src = 6) AS f6
      FROM (SELECT doc_id, 1 AS src, f1 AS f FROM {ns}para
            UNION ALL SELECT doc_id, 2, f2 FROM {ns}spans
            UNION ALL SELECT doc_id, 3, true FROM {ns}ndrop
            UNION ALL SELECT doc_id, 4, true FROM {ns}ov
            UNION ALL SELECT doc_id, 5, true FROM {ns}ne
            UNION ALL SELECT doc_id, 6, true FROM {ns}dropmedia)
      GROUP BY doc_id)"""


def _capstone_flags_ctes() -> str:
    """The capstone's full shared WITH block (media + text stages) —
    composed verbatim by the capstone report, the survivor dataset
    card, and the ingest flags oracle so none can drift."""
    return f"""{_capstone_media_ctes()},
    {_capstone_text_flag_ctes()}"""


def _curation_capstone_oracle() -> str:
    return f"""
    WITH {_capstone_flags_ctes()},
    agg AS MATERIALIZED (
      SELECT COUNT(*) AS total,
             COUNT(*) FILTER (WHERE f1) AS s1,
             COUNT(*) FILTER (WHERE f1 AND f2) AS s2,
             COUNT(*) FILTER (WHERE f1 AND f2 AND f3) AS s3,
             COUNT(*) FILTER (WHERE f1 AND f2 AND f3 AND f4) AS s4,
             COUNT(*) FILTER (WHERE f1 AND f2 AND f3 AND f4 AND f5) AS s5,
             COUNT(*) FILTER (WHERE f1 AND f2 AND f3 AND f4 AND f5 AND f6) AS s6
      FROM flags WHERE in1 AND in2)
    SELECT stage, CAST(n_surviving AS BIGINT) AS n_surviving,
           CAST(n_removed AS BIGINT) AS n_removed
    FROM (
      SELECT '0_total' AS stage, total AS n_surviving, 0 AS n_removed FROM agg
      UNION ALL SELECT '1_paragraph_dedup', s1, total - s1 FROM agg
      UNION ALL SELECT '2_repeated_spans', s2, s1 - s2 FROM agg
      UNION ALL SELECT '3_neardup_dedup', s3, s2 - s3 FROM agg
      UNION ALL SELECT '4_exact_overlap_decon', s4, s3 - s4 FROM agg
      UNION ALL SELECT '5_neardup_decon', s5, s4 - s5 FROM agg
      UNION ALL SELECT '6_media_linkage', s6, s5 - s6 FROM agg
      UNION ALL SELECT '7_image_canonical', surv, tot - surv FROM img
      UNION ALL SELECT '8_audio_canonical', surv, tot - surv FROM aud
      UNION ALL SELECT '9_video_canonical', surv, tot - surv FROM vid)
    """


def _capstone_flags(spark, sf_dir):
    """The capstone's per-doc survival flags (doc_id, f1..f6) plus the
    persisted canonical media relations — the shared engine core of
    the capstone report and the survivor dataset card. Built once per
    (session, sf_dir, documents/embeddings fingerprint) and persisted,
    so every consumer after the first skips the eight-stage stack
    (~35 s at sf0.1); bench.py clears the ``capstone`` kind before
    every timed capstone run. At 100 TB the same idea is a checkpoint:
    write the flags relation to parquet once and have both reports
    scan it."""
    return state.get_or_build(
        spark,
        "capstone",
        sf_dir,
        state.fingerprint([f"{sf_dir}/documents.parquet", f"{sf_dir}/embeddings.parquet"]),
        lambda _stale: _build_capstone_flags(spark, sf_dir),
        lambda fc: [r.unpersist() for r in (fc[0], *fc[1].values())],
    )


def _build_capstone_flags(spark, sf_dir):
    from chiv_spark.queries.base import REGISTRY

    docs = t(spark, sf_dir, "documents").select("doc_id")
    # the eight stage builders are independent, and several fire eager
    # jobs at construction (dedup_exact_substr 8 jobs, each media
    # canonical 7-8, warm at sf0.01). Overlapping them hides those jobs:
    # 13.65 → 11.06 s at sf0.1 (ROADMAP direction 7). Direction 2 makes
    # the builders lazy; then the overlap has nothing left to hide.
    para, spans, ndrop, ov, ne, *media = overlap(
        spark,
        *[
            lambda name=name: REGISTRY[name].fn(spark, sf_dir)
            for name in (
                "dedup_paragraph_exact",
                "dedup_exact_substr",
                "dedup_minhash_lsh",
                "decontaminate_eval_overlap",
                "decontaminate_neardup_eval",
                "dedup_image_canonical",
                "dedup_audio_canonical",
                "dedup_video_canonical",
            )
        ],
    )
    para = para.select("doc_id", (F.col("cleaned_text") != "").alias("f1"))
    spans = spans.select("doc_id", F.col("keep").alias("f2"))
    ndrop = (
        ndrop.select(F.col("doc_b").alias("doc_id"))
        .distinct()
        .withColumn("__nd", F.lit(1))
    )
    ov = ov.select("doc_id").distinct().withColumn("__ov", F.lit(1))
    ne = ne.select("doc_id").distinct().withColumn("__ne", F.lit(1))
    # each canonical relation has TWO consumers (keeper dim + count
    # row) above distinct subtrees — persist pays here (ReuseExchange
    # can't dedup across them), and the relations are <= 60 rows
    cans = {m: rel.persist() for m, rel in zip(_ATT_MODS, media)}
    att = docs.select(
        "doc_id", *[_att_col(m).alias(f"{m}_mid") for m in _ATT_MODS]
    )
    dropmedia = att
    for m in _ATT_MODS:
        keepers = cans[m].select(F.col("media_id").alias(f"{m}_k"))
        dropmedia = dropmedia.join(
            F.broadcast(keepers),
            F.col(f"{m}_mid") == F.col(f"{m}_k"),
            "left",
        )
    dropmedia = dropmedia.filter(
        (F.col("img_mid").isNotNull() & F.col("img_k").isNull())
        | (F.col("aud_mid").isNotNull() & F.col("aud_k").isNull())
        | (F.col("vid_mid").isNotNull() & F.col("vid_k").isNull())
    ).select("doc_id").withColumn("__md", F.lit(1))
    flags = (
        docs.join(para, "doc_id")
        .join(spans, "doc_id")
        .join(ndrop, "doc_id", "left")
        .join(ov, "doc_id", "left")
        .join(ne, "doc_id", "left")
        .join(dropmedia, "doc_id", "left")
        .select(
            "doc_id",
            "f1",
            "f2",
            F.col("__nd").isNull().alias("f3"),
            F.col("__ov").isNull().alias("f4"),
            F.col("__ne").isNull().alias("f5"),
            F.col("__md").isNull().alias("f6"),
        )
    ).persist()
    return flags, cans


@query(
    "pipeline_curation_capstone",
    None,  # oracle attached below (composes eight registered oracles)
    doc="the cross-modality curation CAPSTONE (r12 verdict task 8 + "
    "the r13 task-6 linkage stage) — the end-to-end 'build the "
    "training set' report: sequential text tiers (paragraph-level "
    "exact dedup -> ExactSubstr repeated-span gate -> MinHash "
    "near-dup removal -> exact 4-gram eval decontamination -> "
    "MinHash eval decontamination) as conditional survivor counts in "
    "ONE pass over documents, then a MEDIA-LINKAGE stage — every doc "
    "carries a stable-hash-attached image/audio/video triple, and a "
    "doc survives only if all three attachments are canonical "
    "survivors of their modality's dedup (what a real curation pass "
    "does when attached media was deduped away) — then the three "
    "media tiers' own canonical survivor counts. Every stage "
    "composes the corresponding REGISTERED query's relation verbatim "
    "— report and operators cannot drift; the oracle embeds the same "
    "eight registered oracles MATERIALIZED. Plan: text flags fold by "
    "union + one hash agg; each media canonical relation is computed "
    "ONCE and persisted (bounded-universe, two consumers: the keeper "
    "dim broadcast into the linkage join and the count row)",
)
def pipeline_curation_capstone(spark, sf_dir):
    flags, cans = _capstone_flags(spark, sf_dir)
    agg = flags.agg(
        F.count(F.lit(1)).alias("total"),
        F.count(F.when(F.col("f1"), 1)).alias("s1"),
        F.count(F.when(F.col("f1") & F.col("f2"), 1)).alias("s2"),
        F.count(F.when(F.col("f1") & F.col("f2") & F.col("f3"), 1)).alias("s3"),
        F.count(
            F.when(F.col("f1") & F.col("f2") & F.col("f3") & F.col("f4"), 1)
        ).alias("s4"),
        F.count(
            F.when(
                F.col("f1") & F.col("f2") & F.col("f3") & F.col("f4") & F.col("f5"), 1
            )
        ).alias("s5"),
        F.count(
            F.when(
                F.col("f1")
                & F.col("f2")
                & F.col("f3")
                & F.col("f4")
                & F.col("f5")
                & F.col("f6"),
                1,
            )
        ).alias("s6"),
    )
    text_rows = agg.selectExpr(
        "stack(7, "
        "'0_total', total, 0L, "
        "'1_paragraph_dedup', s1, total - s1, "
        "'2_repeated_spans', s2, s1 - s2, "
        "'3_neardup_dedup', s3, s2 - s3, "
        "'4_exact_overlap_decon', s4, s3 - s4, "
        "'5_neardup_decon', s5, s4 - s5, "
        "'6_media_linkage', s6, s5 - s6"
        ") as (stage, n_surviving, n_removed)"
    )

    def modality(m: str, label: str):
        return cans[m].agg(
            F.count(F.lit(1)).alias("surv"),
            F.sum("cluster_size").alias("tot"),
        ).selectExpr(
            f"'{label}' AS stage",
            "surv AS n_surviving",
            "tot - surv AS n_removed",
        )

    return (
        text_rows.unionByName(modality("img", "7_image_canonical"))
        .unionByName(modality("aud", "8_audio_canonical"))
        .unionByName(modality("vid", "9_video_canonical"))
        .selectExpr(
            "stage",
            "CAST(n_surviving AS BIGINT) AS n_surviving",
            "CAST(n_removed AS BIGINT) AS n_removed",
        )
    )


_FUNNEL_REG["pipeline_curation_capstone"] = _FUNNEL_REG[
    "pipeline_curation_capstone"
].__class__(
    name="pipeline_curation_capstone",
    fn=_FUNNEL_REG["pipeline_curation_capstone"].fn,
    oracle=_curation_capstone_oracle(),
    doc=_FUNNEL_REG["pipeline_curation_capstone"].doc,
)


def _capstone_card_oracle() -> str:
    return f"""
    WITH {_capstone_flags_ctes()},
    surv AS (SELECT doc_id FROM flags
             WHERE in1 AND in2 AND f1 AND f2 AND f3 AND f4 AND f5 AND f6),
    labeled AS (
      SELECT d.lang,
             CAST(len(string_split(d.text, ' ')) AS BIGINT) AS ntok,
             CASE WHEN {_H} % 100 < 80 THEN 'train'
                  WHEN {_H} % 100 < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents d JOIN surv USING (doc_id))
    SELECT split, lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(ntok) AS BIGINT) AS total_tokens
    FROM labeled GROUP BY split, lang
    """


@query(
    "pipeline_capstone_dataset_card",
    None,  # oracle attached below (composes the capstone flag CTEs)
    doc="the dataset card of the CAPSTONE SURVIVORS (r13 verdict task "
    "7): the end-to-end demo now terminates in the artifact a "
    "training run consumes — the corpus that cleared every capstone "
    "stage (paragraph dedup, repeated-span gate, near-dup removal, "
    "both decontamination passes, AND the cross-modality media "
    "linkage) labeled with the deterministic 80/10/10 split and "
    "summarized per (split, lang): doc counts and token totals. "
    "Engine and oracle both compose the capstone's flag relation "
    "verbatim (_capstone_flags / _capstone_flags_ctes — one "
    "implementation, the report and the card cannot disagree about "
    "who survived). Plan: the flags multi-join + one broadcast-sized "
    "semi-join back onto documents + one (split, lang)-sized hash agg",
)
def pipeline_capstone_dataset_card(spark, sf_dir):
    flags, _ = _capstone_flags(spark, sf_dir)
    surv = flags.filter(
        F.col("f1") & F.col("f2") & F.col("f3") & F.col("f4") & F.col("f5") & F.col("f6")
    ).select("doc_id")
    docs = t(spark, sf_dir, "documents")
    h = hash64(F.concat(F.lit("smp:"), F.col("doc_id").cast("string"))) % 100
    split = (
        F.when(h < 80, F.lit("train")).when(h < 90, F.lit("val")).otherwise(F.lit("test"))
    )
    return (
        docs.join(surv, "doc_id")
        .select(
            "lang",
            split.alias("split"),
            F.size(F.split("text", " ")).cast("long").alias("ntok"),
        )
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("ntok").cast("long").alias("total_tokens"),
        )
    )


_FUNNEL_REG["pipeline_capstone_dataset_card"] = _FUNNEL_REG[
    "pipeline_capstone_dataset_card"
].__class__(
    name="pipeline_capstone_dataset_card",
    fn=_FUNNEL_REG["pipeline_capstone_dataset_card"].fn,
    oracle=_capstone_card_oracle(),
    doc=_FUNNEL_REG["pipeline_capstone_dataset_card"].doc,
)


@query(
    "transform_global_row_ids",
    """
    SELECT doc_id, lang,
           ROW_NUMBER() OVER (ORDER BY doc_id) AS row_id
    FROM documents
    """,
    doc="globally consecutive example ids in doc_id order WITHOUT the "
    "single-partition window a naive ROW_NUMBER() plans: range-partition "
    "(the distributed sort), recover per-partition offsets from "
    "monotonically_increasing_id's (pid << 33 | local) encoding, "
    "broadcast-join tiny prefix-summed counts back. One range exchange "
    "total; the data never shuffles a second time (operators/rowids.py; "
    "plan asserted in tests/test_plans.py)",
)
def transform_global_row_ids(spark, sf_dir):
    from chiv_spark.operators.rowids import assign_global_row_ids

    docs = t(spark, sf_dir, "documents").select("doc_id", "lang")
    return assign_global_row_ids(docs, ["doc_id"], id_col="row_id")


@query(
    "mlprep_winsorize",
    """
    WITH cuts AS (
      SELECT lang,
             quantile_cont(n_chars, 0.05) AS lo,
             quantile_cont(n_chars, 0.95) AS hi
      FROM documents GROUP BY lang)
    SELECT d.lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(*) FILTER (WHERE d.n_chars < c.lo) AS BIGINT) AS n_clipped_low,
           CAST(COUNT(*) FILTER (WHERE d.n_chars > c.hi) AS BIGINT) AS n_clipped_high,
           (FLOOR(SUM(GREATEST(LEAST(CAST(d.n_chars AS DOUBLE), c.hi), c.lo))
                  * 100.0 + 0.5) / 100.0) AS sum_winsorized
    FROM documents d JOIN cuts c USING (lang)
    GROUP BY d.lang
    """,
    doc="percentile winsorization (clip per-language doc lengths to "
    "[p05, p95] before length-sensitive training stats): exact "
    "interpolated percentiles per group (groups-sized), broadcast back "
    "onto the corpus, clip with least/greatest — two groups-sized "
    "exchanges, the corpus itself never shuffles. Spark percentile == "
    "DuckDB quantile_cont (agg_percentile_exact pins the parity); the "
    "clipped sum folds IEEE doubles identically under det rounding",
)
def mlprep_winsorize(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    cuts = docs.groupBy("lang").agg(
        F.expr("percentile(n_chars, 0.05)").alias("lo"),
        F.expr("percentile(n_chars, 0.95)").alias("hi"),
    )
    d = docs.join(F.broadcast(cuts), "lang")
    clipped = F.greatest(F.least(F.col("n_chars").cast("double"), F.col("hi")), F.col("lo"))
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.count_if(F.col("n_chars") < F.col("lo")).cast("long").alias("n_clipped_low"),
        F.count_if(F.col("n_chars") > F.col("hi")).cast("long").alias("n_clipped_high"),
        det_round(F.sum(clipped), 2).alias("sum_winsorized"),
    )


@query(
    "embedding_mean_pool",
    """
    WITH ex AS (
      SELECT label,
             CAST(generate_subscripts(embedding::DOUBLE[], 1) AS BIGINT) AS d,
             unnest(embedding::DOUBLE[]) AS x
      FROM embeddings)
    SELECT label, d,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           FLOOR(CAST(SUM(CAST(ROUND(x * 1000000.0) AS BIGINT)) AS DOUBLE)
                 / COUNT(*) / 1000000.0 * 1000000.0 + 0.5) / 1000000.0
             AS mean_value
    FROM ex GROUP BY label, d
    """,
    doc="mean-pooled centroid embedding per label (the chunk->document "
    "pooling step of an embedding pipeline, and the k-means M-step "
    "shape): posexplode is a narrow x-dim map, then ONE exchange of "
    "labels x dim groups with map-side partials. Element sums ride "
    "integer micro-units (exact, order-free — the money_sum rationale "
    "applied to unit-scale floats), one IEEE division at the end",
)
def embedding_mean_pool(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    micro = F.round(F.col("x").cast("double") * 1_000_000.0).cast("long")
    return (
        emb.select("label", F.posexplode("embedding").alias("pos", "x"))
        .groupBy("label", (F.col("pos") + 1).cast("long").alias("d"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            det_round(
                F.sum(micro).cast("double") / F.count(F.lit(1)) / 1_000_000.0, 6
            ).alias("mean_value"),
        )
    )


@query(
    "embedding_centroid_assign",
    """
    WITH ex AS (
      SELECT vec_id, label,
             CAST(generate_subscripts(embedding::DOUBLE[], 1) AS BIGINT) AS d,
             CAST(ROUND(unnest(embedding::DOUBLE[]) * 1000000.0) AS BIGINT) AS xm
      FROM embeddings),
    cent AS (
      SELECT label AS clabel, d,
             CAST(ROUND(
               CAST(SUM(xm) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cm
      FROM ex GROUP BY label, d),
    dists AS (
      SELECT e.vec_id, e.label, c.clabel,
             SUM((e.xm - c.cm) * (e.xm - c.cm)) AS d2
      FROM ex e JOIN cent c USING (d)
      GROUP BY e.vec_id, e.label, c.clabel),
    best AS (
      SELECT vec_id, label, clabel,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY d2, clabel) AS rn
      FROM dists)
    SELECT label AS true_label, clabel AS assigned_label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs
    FROM best WHERE rn = 1
    GROUP BY label, clabel
    """,
    doc="k-means E-step / cluster-purity confusion: assign every vector "
    "to its nearest per-label centroid and count (true, assigned) "
    "pairs. Centroids and vectors ride exact integer micro-units so "
    "squared L2 distances are integer arithmetic — the argmin is "
    "bit-deterministic in both engines (ties break by centroid label). "
    "Scale shape: the k x dim centroid table is broadcast (k "
    "centroids at ANY corpus size), distances are a narrow zip_with "
    "fold per (vector, centroid), argmin is a min_by groupBy on "
    "vec_id — linear in vectors x k, nothing corpus-quadratic",
)
def embedding_centroid_assign(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    micro = F.transform(
        "embedding", lambda x: F.round(x.cast("double") * 1_000_000.0).cast("long")
    )
    vecs = emb.select("vec_id", "label", micro.alias("vm"))
    cent = (
        vecs.select("label", F.posexplode("vm").alias("pos", "xm"))
        .groupBy("label", "pos")
        .agg(
            F.round(F.sum("xm").cast("double") / F.count(F.lit(1))).cast("long").alias("cm")
        )
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "cm"))), lambda s: s["cm"]
            ).alias("cvec")
        )
        .withColumnRenamed("label", "clabel")
    )
    dist2 = F.aggregate(
        F.zip_with("vm", "cvec", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = vecs.crossJoin(F.broadcast(cent)).select(
        "vec_id", "label", "clabel", dist2.alias("d2")
    )
    best = scored.groupBy("vec_id", "label").agg(
        F.min(F.struct("d2", "clabel")).alias("best")
    )
    return best.groupBy(
        F.col("label").alias("true_label"),
        F.col("best.clabel").alias("assigned_label"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n_vecs"))


#: shared CTE text for the integer-micro embedding expansion + initial
#: per-label centroids (the k-means seeding used by the iterated query)
_KMEANS_EX_CTES = """
    ex AS (
      SELECT vec_id, label,
             CAST(generate_subscripts(embedding::DOUBLE[], 1) AS BIGINT) AS d,
             CAST(ROUND(unnest(embedding::DOUBLE[]) * 1000000.0) AS BIGINT) AS xm
      FROM embeddings),
    cent0 AS (
      SELECT label AS c, d,
             CAST(ROUND(CAST(SUM(xm) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cm
      FROM ex GROUP BY label, d),
    d1 AS (
      SELECT e.vec_id, c.c, SUM((e.xm - c.cm) * (e.xm - c.cm)) AS d2
      FROM ex e JOIN cent0 c USING (d) GROUP BY e.vec_id, c.c),
    best1 AS (
      SELECT vec_id, c,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, c) AS rn
      FROM d1),
    assign1 AS (SELECT vec_id, c FROM best1 WHERE rn = 1),
    cent1 AS (
      SELECT a.c, e.d,
             CAST(ROUND(CAST(SUM(e.xm) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cm
      FROM ex e JOIN assign1 a USING (vec_id) GROUP BY a.c, e.d),
    d2_ AS (
      SELECT e.vec_id, c.c, SUM((e.xm - c.cm) * (e.xm - c.cm)) AS d2
      FROM ex e JOIN cent1 c USING (d) GROUP BY e.vec_id, c.c),
    best2 AS (
      SELECT vec_id, c,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, c) AS rn
      FROM d2_),
    assign2 AS (SELECT vec_id, c FROM best2 WHERE rn = 1)
"""


@query(
    "embedding_kmeans_2iter",
    f"""
    WITH {_KMEANS_EX_CTES.strip()}
    SELECT a2.c AS cluster,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(COUNT(*) FILTER (WHERE a1.c <> a2.c) AS BIGINT) AS n_moved_in
    FROM assign2 a2 JOIN assign1 a1 USING (vec_id)
    GROUP BY a2.c
    """,
    doc="two full Lloyd iterations of k-means (seeded from per-label "
    "means): E-step -> M-step -> E-step, reporting cluster sizes and "
    "how many vectors changed cluster in the second assignment. Every "
    "step rides exact integer micro-units (sums exact, centroid "
    "means rounded to micros identically in both engines), so an "
    "ITERATIVE algorithm still passes the bit-exact oracle gate — no "
    "rows-only escape hatch needed. Scale shape per iteration: "
    "broadcast k x dim centroids, narrow integer fold per (vector, "
    "centroid), vec-keyed argmin groupBy; linear in vectors x k per "
    "round",
)
def embedding_kmeans_2iter(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    micro = F.transform(
        "embedding", lambda x: F.round(x.cast("double") * 1_000_000.0).cast("long")
    )
    vecs = emb.select("vec_id", "label", micro.alias("vm"))

    def centroids(assigned):
        # assigned: (vec_id, c); mean per (c, dim) in exact micros
        return (
            vecs.join(assigned, "vec_id")
            .select("c", F.posexplode("vm").alias("pos", "xm"))
            .groupBy("c", "pos")
            .agg(
                F.round(F.sum("xm").cast("double") / F.count(F.lit(1)))
                .cast("long")
                .alias("cm")
            )
            .groupBy("c")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "cm"))), lambda s: s["cm"]
                ).alias("cvec")
            )
        )

    def assign(cent):
        d2 = F.aggregate(
            F.zip_with("vm", "cvec", lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        scored = vecs.crossJoin(F.broadcast(cent)).select("vec_id", "c", d2.alias("d2"))
        return scored.groupBy("vec_id").agg(
            F.min(F.struct("d2", "c")).alias("best")
        ).select("vec_id", F.col("best.c").alias("c"))

    cent0 = centroids(vecs.select("vec_id", F.col("label").alias("c")))
    a1 = assign(cent0)
    cent1 = centroids(a1)
    a2 = assign(cent1)
    return (
        a2.withColumnRenamed("c", "c2")
        .join(a1.withColumnRenamed("c", "c1"), "vec_id")
        .groupBy(F.col("c2").alias("cluster"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.count_if(F.col("c1") != F.col("c2")).cast("long").alias("n_moved_in"),
        )
    )


@query(
    "sample_fixed_k_per_group",
    f"""
    WITH ranked AS (
      SELECT lang, doc_id, n_chars,
             row_number() OVER (PARTITION BY lang ORDER BY {_H}, doc_id) AS rn
      FROM documents)
    SELECT lang, doc_id, CAST(n_chars AS BIGINT) AS n_chars
    FROM ranked WHERE rn <= 20
    """,
    doc="balanced sampling: exactly k=20 docs per language, chosen by "
    "stable-hash order (deterministic reservoir — a doc's selection "
    "depends only on ids in its group, not on RNG or partitioning). "
    "Complements rate-based sample_stratified when a downstream eval "
    "needs EQUAL group sizes. One lang-partitioned window; per-group "
    "state is the k-row head, never the corpus",
)
def sample_fixed_k_per_group(spark, sf_dir):
    from pyspark.sql.window import Window

    docs = t(spark, sf_dir, "documents")
    h = hash64(F.concat(F.lit("smp:"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("lang").orderBy(h, F.col("doc_id"))
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .select("lang", "doc_id", F.col("n_chars").cast("long").alias("n_chars"))
    )


@query(
    "mlprep_quantile_bins",
    """
    WITH cuts AS (
      SELECT lang,
             quantile_cont(n_chars, [0.1, 0.2, 0.3, 0.4, 0.5,
                                     0.6, 0.7, 0.8, 0.9]) AS cuts
      FROM documents GROUP BY lang)
    SELECT doc_id, d.lang, n_chars,
           CAST(1 + len(list_filter(cuts, c -> d.n_chars > c)) AS BIGINT)
             AS decile
    FROM documents d JOIN cuts USING (lang)
    """,
    doc="per-language decile binning of doc lengths (feature "
    "bucketization for length-balanced sampling / curriculum "
    "ordering): exact interpolated decile cutoffs per group "
    "(groups-sized exchange), broadcast back, bin index = 1 + count "
    "of cutoffs below the value via an array HOF — the corpus never "
    "sorts and never shuffles, unlike the ntile() formulation which "
    "needs a full per-group global sort at 100 TB. Spark "
    "percentile == DuckDB quantile_cont (agg_percentile_exact pins "
    "parity), and the bin comparison is integer-vs-that-double, so "
    "identical cutoffs give identical bins",
)
def mlprep_quantile_bins(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    qs = ", ".join(str(q / 10.0) for q in range(1, 10))
    cuts = docs.groupBy("lang").agg(
        F.expr(f"percentile(n_chars, array({qs}))").alias("cuts")
    )
    d = docs.join(F.broadcast(cuts), "lang")
    decile = F.lit(1) + F.size(
        F.filter("cuts", lambda c: F.col("n_chars") > c)
    )
    return d.select(
        "doc_id", "lang", "n_chars", decile.cast("long").alias("decile")
    )


@query(
    "agg_sample_scaleup",
    f"""
    WITH est AS (
      SELECT lang,
             CAST(COUNT(*) * 20 AS BIGINT) AS est_docs,
             CAST(SUM(n_chars) * 20 AS BIGINT) AS est_chars
      FROM documents WHERE {_H} % 100 < 5
      GROUP BY lang),
    exact AS (
      SELECT lang,
             CAST(COUNT(*) AS BIGINT) AS true_docs,
             CAST(SUM(n_chars) AS BIGINT) AS true_chars
      FROM documents GROUP BY lang)
    SELECT lang, est_docs, true_docs, est_chars, true_chars,
           {duckdb_det_round(
               'abs(est_chars - true_chars) / CAST(true_chars AS DOUBLE)')}
           AS chars_rel_err
    FROM exact LEFT JOIN est USING (lang)
    """,
    doc="approximate query processing via deterministic sample "
    "scale-up: per-language doc/char totals estimated from the 5% "
    "stable-hash sample (x20 Horvitz-Thompson scale-up), joined "
    "against the exact totals with the realized relative error. At "
    "100 TB the estimate path scans 5% of the data (the hash "
    "predicate evaluates per row but the aggregate is 1/20th the "
    "shuffle and the pattern composes with a pre-materialized sample "
    "table for true IO savings); sampling is RNG-free hash fate, so "
    "both engines — and any two cluster runs — agree bit-exactly. "
    "LEFT join keeps languages the sample missed (NULL estimates "
    "surface coverage gaps instead of silently dropping strata)",
)
def agg_sample_scaleup(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    h = hash64(F.concat(F.lit("smp:"), F.col("doc_id").cast("string")))
    est = (
        docs.filter(h % 100 < 5)
        .groupBy("lang")
        .agg(
            (F.count(F.lit(1)) * 20).cast("long").alias("est_docs"),
            (F.sum("n_chars") * 20).cast("long").alias("est_chars"),
        )
    )
    exact = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("true_docs"),
        F.sum("n_chars").cast("long").alias("true_chars"),
    )
    rel = F.abs(F.col("est_chars") - F.col("true_chars")) / F.col(
        "true_chars"
    ).cast("double")
    return exact.join(est, "lang", "left").select(
        "lang",
        "est_docs",
        "true_docs",
        "est_chars",
        "true_chars",
        det_round(rel).alias("chars_rel_err"),
    )


@query(
    "embedding_gram_matrix",
    f"""
    WITH base AS (SELECT embedding::DOUBLE[] AS emb FROM embeddings),
    e1 AS (
      SELECT emb, i AS d1,
             CAST(ROUND(emb[i] * 1000000.0) AS BIGINT) AS x1
      FROM base, UNNEST(range(1, {EMB_DIM + 1})) AS r(i)),
    e2 AS (
      SELECT d1, x1, j AS d2,
             CAST(ROUND(emb[j] * 1000000.0) AS BIGINT) AS x2
      FROM e1, UNNEST(range(1, {EMB_DIM + 1})) AS r2(j))
    SELECT CAST(d1 AS BIGINT) AS d1, CAST(d2 AS BIGINT) AS d2,
           {duckdb_det_round(
               'CAST(SUM(CAST(x1 AS HUGEINT) * x2) AS DOUBLE) / 1e12')}
           AS gram
    FROM e2 GROUP BY d1, d2
    """,
    doc="corpus Gram matrix X^T X over the embedding column — the "
    "covariance/PCA building block. Double sequence-explode to "
    "(d1, d2, x1*x2) is a NARROW map (no self-join: the second "
    "explode rides the same row), then ONE 4096-key hash agg with "
    "map-side partials — shuffle bytes are dim^2 x partitions "
    "regardless of corpus size. Element products ride integer-micro "
    "-> DECIMAL(38) sums (exact, order-free; micro^2 x 1e12 rows "
    "would overflow BIGINT), one IEEE division at the end. At 100 TB "
    "the same shape holds; swap the explode for a Pandas-UDF outer "
    "product only if profiling shows the 4096x row expansion beats "
    "Arrow batch cost",
)
def embedding_gram_matrix(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    # EMB_DIM is interpolated into BOTH the Spark transform and the
    # oracle's range() so a dimension change cannot silently leave the
    # two sides consistent-but-wrong (r5 ADVICE)
    e2 = emb.select(
        F.explode(F.expr(
            f"transform(sequence(1, {EMB_DIM}),"
            " i -> struct(i AS d1,"
            " CAST(ROUND(element_at(embedding, i) * 1000000.0, 0) AS BIGINT)"
            " AS x1, embedding AS emb))"
        )).alias("a")
    ).select("a.d1", "a.x1", F.explode(F.expr(
        f"transform(sequence(1, {EMB_DIM}),"
        " j -> struct(j AS d2,"
        " CAST(ROUND(element_at(a.emb, j) * 1000000.0, 0) AS BIGINT) AS x2))"
    )).alias("b")).select("d1", "x1", "b.d2", "b.x2")
    prod = (F.col("x1").cast("decimal(38,0)") * F.col("x2"))
    return (
        e2.groupBy(F.col("d1").cast("long").alias("d1"),
                   F.col("d2").cast("long").alias("d2"))
        .agg(det_round(F.sum(prod).cast("double") / F.lit(1e12)).alias("gram"))
    )


@query(
    "mlprep_feature_crosses",
    f"""
    WITH bucketed AS (
      SELECT lang, source,
             CASE WHEN n_chars < 100 THEN 'short'
                  WHEN n_chars < 300 THEN 'mid'
                  ELSE 'long' END AS len_bucket
      FROM documents),
    crossed AS (
      SELECT lang || 'x' || source || 'x' || len_bucket AS cross_key
      FROM bucketed)
    SELECT ({duckdb_hash64("'feat:' || cross_key")} % 262144) AS feature_id,
           cross_key, CAST(COUNT(*) AS BIGINT) AS n
    FROM crossed GROUP BY cross_key
    """,
    doc="hashing-trick feature crossing (the Vowpal-Wabbit/Wide&Deep "
    "featurizer): lang x source x length-bucket crosses hashed into "
    "a fixed 2^18 feature space. The model dimension is bounded by "
    "the hash range regardless of categorical cardinality — the "
    "property that makes the trick scale-safe; emitting the readable "
    "cross alongside the id keeps collisions observable. One hash "
    "agg over the cross (map-side partials), hash is the md5-derived "
    "cross-engine hash64 family",
)
def mlprep_feature_crosses(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    bucket = (
        F.when(F.col("n_chars") < 100, "short")
        .when(F.col("n_chars") < 300, "mid")
        .otherwise("long")
    )
    cross = F.concat_ws("x", "lang", "source", bucket)
    crossed = docs.select(cross.alias("cross_key"))
    fid = hash64(F.concat(F.lit("feat:"), F.col("cross_key"))) % 262144
    return crossed.groupBy("cross_key").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    ).select(fid.alias("feature_id"), "cross_key", "n")


@query(
    "mlprep_class_weights",
    f"""
    WITH cnt AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents
      GROUP BY lang),
    tot AS (SELECT SUM(n_docs) AS total, COUNT(*) AS k FROM cnt)
    SELECT lang, n_docs,
           {duckdb_det_round('CAST(total AS DOUBLE) / (k * n_docs)')} AS weight
    FROM cnt, tot
    """,
    doc="balanced inverse-frequency class weights per language "
    "(sklearn's 'balanced' formula N / (K * n_l) — the loss-"
    "reweighting table for training on a skewed language mix): one "
    "groups-sized agg, a 1-row broadcast total, one IEEE division "
    "per class",
)
def mlprep_class_weights(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    cnt = docs.groupBy("lang").agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    tot = cnt.agg(
        F.sum("n_docs").alias("total"), F.count(F.lit(1)).alias("k")
    )
    return cnt.join(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        det_round(
            F.col("total").cast("double") / (F.col("k") * F.col("n_docs"))
        ).alias("weight"),
    )


# --------------------------------------------------------------------------
# mlprep_target_encoding — leave-one-out mean target encoding


@query(
    "mlprep_target_encoding",
    f"""
    WITH c AS (
      SELECT o_orderkey, o_orderpriority,
             CAST(ROUND(o_totalprice * 100.0) AS BIGINT) AS cents
      FROM orders),
    g AS (
      SELECT o_orderpriority, COUNT(*) AS n, SUM(cents) AS s
      FROM c GROUP BY o_orderpriority)
    SELECT o_orderkey, c.o_orderpriority,
           {duckdb_det_round(
               "CASE WHEN n > 1 THEN CAST(s - cents AS DOUBLE) / (n - 1) / 100.0 END")}
           AS loo_target_mean
    FROM c JOIN g USING (o_orderpriority)
    """,
    doc="leave-one-out mean target encoding (the CatBoost-style "
    "categorical featurizer that avoids target leakage): each "
    "order's priority encoded as the mean total price of every "
    "OTHER order sharing that priority — loo = (group_sum - own) / "
    "(group_n - 1). One group aggregate (5 rows) broadcast back "
    "onto the fact side, no second fact shuffle, no window; sums "
    "ride integer cents so the subtraction is exact and the single "
    "division is the only IEEE op (det-rounded). Singleton groups "
    "encode as NULL rather than a leaked self-mean. Same shape at "
    "100 TB: the encode map is category-cardinality-sized",
)
def mlprep_target_encoding(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    c = o.select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100.0).cast("long").alias("cents"),
    )
    g = c.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"), F.sum("cents").alias("s")
    )
    loo = F.when(
        F.col("n") > 1,
        (F.col("s") - F.col("cents")).cast("double") / (F.col("n") - 1) / 100.0,
    )
    return c.join(F.broadcast(g), "o_orderpriority").select(
        "o_orderkey", "o_orderpriority", det_round(loo).alias("loo_target_mean")
    )


# --------------------------------------------------------------------------
# mlprep_auc_exact — exact ROC-AUC via tie-corrected rank sums


@query(
    "mlprep_auc_exact",
    f"""
    WITH cnt AS (
      SELECT value,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS pos,
             CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                  AS BIGINT) AS neg
      FROM events
      WHERE event_type IN ('purchase', 'click') AND value IS NOT NULL
      GROUP BY value),
    ranked AS (
      SELECT pos, neg, pos + neg AS t,
             SUM(pos + neg) OVER (ORDER BY value
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum
      FROM cnt),
    agg AS (
      SELECT CAST(SUM(pos) AS BIGINT) AS n_pos,
             CAST(SUM(neg) AS BIGINT) AS n_neg,
             CAST(SUM(pos * (2 * cum - t + 1)) AS BIGINT) AS drs_pos
      FROM ranked)
    SELECT n_pos, n_neg,
           {duckdb_det_round(
               "(CAST(drs_pos AS DOUBLE) / 2.0"
               " - CAST(n_pos AS DOUBLE) * (n_pos + 1) / 2.0)"
               " / (CAST(n_pos AS DOUBLE) * n_neg)")} AS auc
    FROM agg
    """,
    doc="EXACT ROC-AUC of `value` as a purchase-vs-click classifier "
    "score — the model-eval primitive, computed as the normalized "
    "tie-corrected rank-sum (AUC = (R_pos - n_pos(n_pos+1)/2) / "
    "(n_pos*n_neg), the Mann-Whitney identity; ties contribute the "
    "exact 0.5 via average ranks). No sorted sweep over predictions: "
    "one hash agg to the DISTINCT-score table, one bounded running "
    "sum, exact 2x-scaled integer ranks, a single IEEE division — "
    "at 100 TB the prediction table never sorts (quantize the score "
    "first when it is continuous, same dial as the KS test)",
)
def mlprep_auc_exact(spark, sf_dir):
    from pyspark.sql.window import Window as _W

    e = t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "click")
        & F.col("value").isNotNull()
    )
    cnt = e.groupBy("value").agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("pos"),
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("long")
        .alias("neg"),
    )
    w_run = _W.orderBy("value").rowsBetween(_W.unboundedPreceding, _W.currentRow)
    tt = F.col("pos") + F.col("neg")
    ranked = cnt.select(
        "pos",
        "neg",
        (2 * F.sum(tt).over(w_run) - tt + 1).alias("double_rank"),
    )
    agg = ranked.agg(
        F.sum("pos").cast("long").alias("n_pos"),
        F.sum("neg").cast("long").alias("n_neg"),
        F.sum(F.col("pos") * F.col("double_rank")).cast("long").alias("drs_pos"),
    )
    auc = (
        F.col("drs_pos").cast("double") / 2.0
        - F.col("n_pos").cast("double") * (F.col("n_pos") + 1) / 2.0
    ) / (F.col("n_pos").cast("double") * F.col("n_neg"))
    return agg.select("n_pos", "n_neg", det_round(auc).alias("auc"))


# --------------------------------------------------------------------------
# mlprep_calibration_bins — score calibration curve

#: fixed "trained" purchase-propensity model: p = sigmoid(a + b*ln(1+value))
_CAL_A, _CAL_B = -2.0, 0.5


@query(
    "mlprep_calibration_bins",
    f"""
    WITH scored AS (
      SELECT event_type,
             (FLOOR((1.0 / (1.0 + exp(-({_CAL_A} + {_CAL_B} * ln(1.0 + value)))))
                    * 1000000.0 + 0.5) / 1000000.0) AS p
      FROM events
      WHERE value IS NOT NULL AND event_type IN ('purchase', 'click')),
    binned AS (
      SELECT LEAST(CAST(FLOOR(p * 10.0) AS BIGINT), 9) AS bin,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
      FROM scored)
    SELECT bin,
           (bin / 10.0) AS bin_lo,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(pos) AS BIGINT) AS n_pos,
           {duckdb_det_round('CAST(SUM(pos) AS DOUBLE) / COUNT(*)')} AS pos_rate
    FROM binned GROUP BY bin
    """,
    doc="model-calibration curve (reliability diagram data): the fixed "
    "purchase-propensity score p = sigmoid(-2 + 0.5*ln(1+value)) on "
    "the purchase-vs-click population (the mlprep_auc_exact cohort), "
    "bucketed into 10 fixed-width probability bins with per-bin "
    "count, positive count and realized positive rate — a calibrated "
    "model has pos_rate tracking bin_lo+0.05. Engine determinism: "
    "the score is one per-row IEEE ln/exp chain DET-ROUNDED at 6dp "
    "BEFORE binning (so a sub-ulp libm divergence cannot flip a bin "
    "edge), and every aggregate is an integer count — the only float "
    "outputs are one exact division and the bin literal. One "
    "hash-agg over 10 groups, no window, no sort: linear at any "
    "scale",
)
def mlprep_calibration_bins(spark, sf_dir):
    e = t(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("event_type").isin("purchase", "click")
    )
    z = F.lit(_CAL_A) + F.lit(_CAL_B) * F.log(F.lit(1.0) + F.col("value"))
    p = det_round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)
    binned = e.select(
        F.least(F.floor(p * 10.0), F.lit(9).cast("long")).cast("long").alias("bin"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("pos"),
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("pos").cast("long").alias("n_pos"),
            det_round(F.sum("pos").cast("double") / F.count(F.lit(1))).alias(
                "pos_rate"
            ),
        )
        .select(
            "bin",
            (F.col("bin") / 10.0).alias("bin_lo"),
            "n",
            "n_pos",
            "pos_rate",
        )
    )


# --------------------------------------------------------------------------
# mlprep_global_shuffle — deterministic corpus ordering for training

#: SQL twin of hash64(concat('shuf:', doc_id)) — the shuffle fate key
_SHUF_H = "(('0x' || substring(md5('shuf:' || doc_id::VARCHAR), 1, 15))::BIGINT)"

#: shard count — test setting. At 100 TB set this to corpus_bytes /
#: target_shard_bytes (e.g. ~1e5 shards of 1 GB): the per-shard sort
#: stays bounded and the plan shape below is unchanged.
_SHUF_SHARDS = 32


@query(
    "mlprep_global_shuffle",
    f"""
    WITH keyed AS (
      SELECT doc_id, {_SHUF_H} AS h FROM documents),
    sharded AS (
      SELECT doc_id, h, CAST(h % {_SHUF_SHARDS} AS INT) AS shard FROM keyed)
    SELECT shard,
           CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY h, doc_id)
                AS BIGINT) AS position,
           doc_id
    FROM sharded
    """,
    doc="deterministic global corpus shuffle — the training-data "
    "ordering step between curation and sequence packing: every doc "
    "gets a stable-hash shuffle key, a shard = key mod n_shards, and "
    "a position = rank of (key, doc_id) within its shard. The order "
    "is a pure function of doc ids (reproducible across engines, "
    "re-runs and cluster sizes — same fate-hash contract as "
    "sample_deterministic), and the plan is ONE hash exchange on "
    "shard + an in-partition sort: no global sort, no coalesce(1), "
    "no cross-shard coordination — unlike transform_global_row_ids' "
    "two-phase offsets, readers consume (shard, position) directly. "
    "Shard count scales with the corpus so each per-shard sort stays "
    "memory-bounded",
)
def mlprep_global_shuffle(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    h = hash64(F.concat(F.lit("shuf:"), F.col("doc_id").cast("string")))
    keyed = docs.select("doc_id", h.alias("h")).withColumn(
        "shard", (F.col("h") % _SHUF_SHARDS).cast("int")
    )
    from pyspark.sql.window import Window as _W

    w = _W.partitionBy("shard").orderBy("h", "doc_id")
    return keyed.select(
        "shard",
        F.row_number().over(w).cast("long").alias("position"),
        "doc_id",
    )


# --------------------------------------------------------------------------
# mlprep_domain_mixture — budget-feasible mixture sampling to target
# domain weights (the pretraining data-mixing step: "40% en, 20% zh,
# ..." subject to what each domain actually has)

_MIX_H = "(('0x' || substring(md5('mix:' || doc_id::VARCHAR), 1, 15))::BIGINT)"
#: target mixture weights in parts-per-million (sum = 1_000_000)
_MIX_W = [("en", 400_000), ("zh", 200_000), ("de", 150_000), ("fr", 150_000), ("es", 100_000)]


@query(
    "mlprep_domain_mixture",
    f"""
    WITH w AS (SELECT * FROM (VALUES {", ".join(f"('{l}', {m})" for l, m in _MIX_W)})
               AS t(lang, w_micro)),
    cnt AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
    tt AS (SELECT MIN(c.n * 1000000 // w.w_micro) AS t
           FROM cnt c JOIN w USING (lang)),
    k AS (SELECT c.lang, c.n, (w.w_micro * tt.t) // 1000000 AS k
          FROM cnt c JOIN w USING (lang), tt),
    ranked AS (SELECT lang, doc_id,
                      row_number() OVER (PARTITION BY lang
                                         ORDER BY {_MIX_H}, doc_id) AS rn
               FROM documents),
    sel AS (SELECT r.lang, r.doc_id
            FROM ranked r JOIN k ON k.lang = r.lang AND r.rn <= k.k),
    sa AS (SELECT lang, SUM(doc_id) AS id_sum FROM sel GROUP BY lang),
    tot AS (SELECT SUM(k) AS ts FROM k)
    SELECT k.lang,
           CAST(k.n AS BIGINT) AS n_available,
           CAST(k.k AS BIGINT) AS n_sampled,
           CAST((k.k * 1000000) // tot.ts AS BIGINT) AS realized_share_micro,
           CAST(sa.id_sum AS BIGINT) AS sample_id_sum
    FROM k JOIN sa USING (lang), tot
    """,
    doc="pretraining domain-mixture sampling: given target weights "
    "(en 40% / zh 20% / de 15% / fr 15% / es 10%), the feasible "
    "corpus budget is T = min_d(n_d/w_d) — the binding domain caps "
    "the mixture — and each domain contributes exactly "
    "k_d = floor(w_d*T) docs chosen by stable-hash rank (no RNG; "
    "the selected SET is a pure function of the corpus, proven by "
    "the per-domain id-sum checksum). All mixture math is integer "
    "micros (div, not /), so every column hash-matches. Scale: "
    "counts/T/k are domain-cardinality-sized broadcasts; the one "
    "corpus-sized op is the per-domain rank window — low-card "
    "domains concentrate at 100 TB, where the documented swap is "
    "hash-threshold selection at rate k_d/n_d (expectation-exact, "
    "zero sort, same hash) or distributed k-th-hash selection",
)
def mlprep_domain_mixture(spark, sf_dir):
    from pyspark.sql.window import Window as _W

    docs = t(spark, sf_dir, "documents")
    w = F.broadcast(
        docs.sparkSession.createDataFrame(_MIX_W, "lang string, w_micro long")
    )
    cnt = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    joined = cnt.join(w, "lang")
    tt = joined.select(F.min(F.expr("n * 1000000 div w_micro")).alias("t"))
    k = joined.crossJoin(F.broadcast(tt)).select(
        "lang", "n", F.expr("w_micro * t div 1000000").alias("k")
    )
    h = hash64(F.concat(F.lit("mix:"), F.col("doc_id").cast("string")))
    ranked = docs.select("lang", "doc_id").withColumn(
        "rn", F.row_number().over(_W.partitionBy("lang").orderBy(h, F.col("doc_id")))
    )
    sel = ranked.join(F.broadcast(k.select("lang", "k")), "lang").filter(
        F.col("rn") <= F.col("k")
    )
    sa = sel.groupBy("lang").agg(F.sum("doc_id").alias("id_sum"))
    tot = k.agg(F.sum("k").alias("ts"))
    return (
        k.join(sa, "lang")
        .crossJoin(F.broadcast(tot))
        .select(
            "lang",
            F.col("n").cast("long").alias("n_available"),
            F.col("k").cast("long").alias("n_sampled"),
            F.expr("(k * 1000000) div ts").cast("long").alias("realized_share_micro"),
            F.col("id_sum").cast("long").alias("sample_id_sum"),
        )
    )


# --------------------------------------------------------------------------
# transform_zorder_key — multi-dimensional layout key for data skipping

_ZBITS = 16


def _z_sql(xe: str, ye: str) -> str:
    """DuckDB bit-interleave of the low 16 bits of two expressions."""
    terms = []
    for i in range(_ZBITS):
        terms.append(f"((({xe} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({ye} >> {i}) & 1) << {2 * i + 1})")
    return "(" + " | ".join(terms) + ")"


@query(
    "transform_zorder_key",
    f"""
    WITH q AS (
      SELECT l_orderkey % 65536 AS x, l_partkey % 65536 AS y
      FROM lineitem),
    z AS (SELECT {_z_sql("x", "y")} AS zkey FROM q)
    SELECT CAST(zkey >> 22 AS BIGINT) AS z_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(zkey) AS BIGINT) AS min_zkey,
           CAST(MAX(zkey) AS BIGINT) AS max_zkey
    FROM z GROUP BY z_bucket
    """,
    doc="Z-order (Morton) layout key: bit-interleave of the low 16 "
    "bits of (orderkey, partkey), bucketed into 4-Mkey ranges with "
    "per-bucket count/min/max — the multi-dimensional clustering "
    "key that makes min/max row-group skipping effective for "
    "queries filtering on EITHER dimension (sort the table by zkey "
    "via write_columnar and both orderkey and partkey predicates "
    "prune). Pure JVM bit expressions (32 shift/mask/or terms, "
    "whole-stage codegen), bit-identical across engines; the "
    "histogram is one map-side-partial hash agg. The same key "
    "composes with repartitionByRange for write-time clustering at "
    "any scale",
)
def transform_zorder_key(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    x = F.col("l_orderkey") % 65536
    y = F.col("l_partkey") % 65536
    zkey = F.lit(0).cast("long")
    for i in range(_ZBITS):
        zkey = zkey.bitwiseOR(
            F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i).cast("long")
        ).bitwiseOR(
            F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i + 1).cast("long")
        )
    return (
        li.select(zkey.alias("zkey"))
        .groupBy(F.shiftright(F.col("zkey"), 22).cast("long").alias("z_bucket"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.min("zkey").cast("long").alias("min_zkey"),
            F.max("zkey").cast("long").alias("max_zkey"),
        )
    )


# --------------------------------------------------------------------------
# mlprep_curriculum_order — staged (easy -> hard) training ordering

_CURR_H = "(('0x' || substring(md5('curr:' || doc_id::VARCHAR), 1, 15))::BIGINT)"
_CURR_SHARDS = 8


@query(
    "mlprep_curriculum_order",
    f"""
    WITH staged AS (
      SELECT doc_id,
             CASE WHEN n_chars < 200 THEN 0
                  WHEN n_chars < 500 THEN 1
                  ELSE 2 END AS stage,
             {_CURR_H} AS h
      FROM documents),
    keyed AS (SELECT doc_id, stage, h, h % {_CURR_SHARDS} AS shard FROM staged)
    SELECT stage, CAST(shard AS INT) AS shard,
           CAST(row_number() OVER (PARTITION BY stage, shard
                                   ORDER BY h, doc_id) AS BIGINT) AS position,
           doc_id
    FROM keyed
    """,
    doc="curriculum data ordering: docs bucket into difficulty "
    "stages (length as the proxy: <200 / <500 / rest chars — the "
    "easy-to-hard schedule), then shuffle deterministically WITHIN "
    "each stage via the stable-hash shard + in-shard rank of "
    "mlprep_global_shuffle — readers consume stages in order, "
    "(shard, position) within a stage, giving a reproducible "
    "curriculum with no global sort (the only exchanges are the "
    "(stage, shard)-keyed rank windows, and shard count scales "
    "with the corpus so each per-shard sort stays memory-bounded)",
)
def mlprep_curriculum_order(spark, sf_dir):
    from pyspark.sql.window import Window as _W

    docs = t(spark, sf_dir, "documents")
    h = hash64(F.concat(F.lit("curr:"), F.col("doc_id").cast("string")))
    stage = (
        F.when(F.col("n_chars") < 200, 0).when(F.col("n_chars") < 500, 1).otherwise(2)
    )
    keyed = docs.select(
        "doc_id", stage.alias("stage"), h.alias("h")
    ).withColumn("shard", (F.col("h") % _CURR_SHARDS).cast("int"))
    w = _W.partitionBy("stage", "shard").orderBy("h", "doc_id")
    return keyed.select(
        "stage",
        "shard",
        F.row_number().over(w).cast("long").alias("position"),
        "doc_id",
    )


# --------------------------------------------------------------------------
# mlprep_packing_efficiency — how full are the packed context windows


@query(
    "mlprep_packing_efficiency",
    """
    WITH sized AS (
      SELECT doc_id, doc_id % 8 AS shard,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents),
    per AS (
      SELECT shard, COUNT(*) AS n_docs, SUM(n_tokens) AS total_tokens
      FROM sized GROUP BY shard)
    SELECT CAST(shard AS BIGINT) AS shard,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(total_tokens AS BIGINT) AS total_tokens,
           CAST((total_tokens - 1) // 2048 + 1 AS BIGINT) AS n_bins,
           CAST(total_tokens * 1000000 // (((total_tokens - 1) // 2048 + 1) * 2048)
                AS BIGINT) AS fill_rate_micro
    FROM per
    """,
    doc="packing efficiency report for pack_sequences' concat-and-"
    "chunk shards: bins consumed per shard (ceil of the token "
    "stream over the 2048 window) and the realized fill rate in "
    "integer micros — under concatenation every window is full "
    "except each shard's tail, so the waste IS the tail and the "
    "fill rate is the metric max_len / shard count are tuned by. "
    "All integer div arithmetic, hash-exact; one groups-sized "
    "aggregation, no window needed (the bin count is closed-form "
    "from the shard total)",
)
def mlprep_packing_efficiency(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    sized = docs.select(
        (F.col("doc_id") % 8).alias("shard"),
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    )
    per = sized.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
    )
    return per.select(
        F.col("shard").cast("long").alias("shard"),
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("total_tokens").cast("long").alias("total_tokens"),
        F.expr("(total_tokens - 1) div 2048 + 1").cast("long").alias("n_bins"),
        F.expr(
            "(total_tokens * 1000000) div (((total_tokens - 1) div 2048 + 1) * 2048)"
        ).cast("long").alias("fill_rate_micro"),
    )


# --------------------------------------------------------------------------
# mlprep_quality_resample — per-doc soft sampling by quality weight

_QR_H = "(('0x' || substring(md5('qr:' || doc_id::VARCHAR), 1, 15))::BIGINT)"
_QR_TOKS = "string_split(text, ' ')"
_QR_SW = (
    f"(CAST(len(list_filter({_QR_TOKS}, x -> list_contains(['the', 'a', 'of', 'and', 'is'], x))) AS DOUBLE)"
    f" / CAST(len({_QR_TOKS}) AS DOUBLE))"
)
_QR_Q = (
    "(0.5 * LEAST(CAST(length(text) AS DOUBLE) / 1000.0, 1.0)"
    f" + 0.5 * LEAST({_QR_SW} * 10.0, 1.0))"
)


@query(
    "mlprep_quality_resample",
    f"""
    WITH scored AS (
      SELECT doc_id, lang,
             CAST(FLOOR({_QR_Q} * 1000000.0 + 0.5) AS BIGINT) AS q_micro,
             {_QR_H} % 1000000 AS h
      FROM documents),
    kept AS (SELECT * FROM scored WHERE h < q_micro)
    SELECT s.lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(k.doc_id) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN k.doc_id IS NOT NULL THEN s.q_micro ELSE 0 END)
                AS BIGINT) AS kept_quality_micro_sum,
           CAST(SUM(CASE WHEN k.doc_id IS NOT NULL THEN s.doc_id ELSE 0 END)
                AS BIGINT) AS kept_id_sum
    FROM scored s LEFT JOIN kept k ON k.doc_id = s.doc_id
    GROUP BY s.lang
    """,
    doc="quality-weighted soft resampling (the importance-sampling "
    "curation step between hard filters and uniform sampling): each "
    "doc's keep probability IS its quality score — accept when "
    "stable-hash(doc) mod 1e6 < quality_micro, so high-quality docs "
    "survive proportionally more often, deterministically (no RNG; "
    "the kept SET is a pure function of the corpus, proven by the "
    "per-language id-sum checksum). The quality expression is "
    "text_stats' length/stopword formula quantized to integer "
    "micros before the comparison, making the acceptance decision "
    "integer-exact across engines. Narrow map + filter + one "
    "groups-sized agg — zero corpus shuffles beyond the aggregation",
)
def mlprep_quality_resample(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    sw_hits = F.size(
        F.filter(toks, lambda x: x.isin("the", "a", "of", "and", "is"))
    )
    sw_ratio = sw_hits.cast("double") / F.size(toks).cast("double")
    q = 0.5 * F.least(
        F.length("text").cast("double") / 1000.0, F.lit(1.0)
    ) + 0.5 * F.least(sw_ratio * 10.0, F.lit(1.0))
    q_micro = F.floor(q * 1_000_000.0 + 0.5).cast("long")
    h = hash64(F.concat(F.lit("qr:"), F.col("doc_id").cast("string"))) % 1_000_000
    scored = docs.select(
        "doc_id", "lang", q_micro.alias("q_micro"), h.alias("h")
    ).withColumn("kept", F.col("h") < F.col("q_micro"))
    return scored.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("kept"), 1).otherwise(0)).cast("long").alias("n_kept"),
        F.sum(F.when(F.col("kept"), F.col("q_micro")).otherwise(0))
        .cast("long")
        .alias("kept_quality_micro_sum"),
        F.sum(F.when(F.col("kept"), F.col("doc_id")).otherwise(0))
        .cast("long")
        .alias("kept_id_sum"),
    )


# --------------------------------------------------------------------------
# mlprep_dataset_card — one-row corpus summary (data governance)


@query(
    "mlprep_dataset_card",
    f"""
    WITH tok AS (
      SELECT doc_id, lang, n_chars,
             CAST(len({_DOC_TOKS}) AS BIGINT) AS ntok,
             {_DOC_FP} AS fp
      FROM documents),
    grp AS (SELECT fp, COUNT(*) AS sz FROM tok GROUP BY fp),
    dup AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_dup_groups,
                   CAST(COALESCE(SUM(sz - 1), 0) AS BIGINT) AS n_dup_docs
            FROM grp WHERE sz > 1),
    lang_rank AS (SELECT lang, COUNT(*) AS n FROM tok GROUP BY lang),
    top AS (SELECT lang AS top_lang FROM lang_rank ORDER BY n DESC, lang LIMIT 1),
    base AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
             CAST(SUM(n_chars) AS BIGINT) AS total_chars,
             CAST(SUM(ntok) AS BIGINT) AS total_tokens,
             (FLOOR(quantile_cont(n_chars, 0.5) * 1000000.0 + 0.5) / 1000000.0)
               AS p50_chars
      FROM tok)
    SELECT b.n_docs, b.n_langs, b.total_chars, b.total_tokens, b.p50_chars,
           d.n_dup_groups, d.n_dup_docs, t.top_lang
    FROM base b CROSS JOIN dup d CROSS JOIN top t
    """,
    doc="one-row DATASET CARD for the corpus — the governance summary "
    "every training-data release ships: doc/language/char/token "
    "totals, exact median doc length, exact-duplicate group and "
    "surplus-doc counts (fingerprint groupBy), and the dominant "
    "language (count argmax, tie broken lexicographically via "
    "orderBy+limit — TakeOrderedAndProject, no window). Everything "
    "is integer counts except the median (percentile parity pinned "
    "by agg_percentile_exact); three bounded aggregates broadcast-"
    "crossed into one row — each input pass is a single hash agg, "
    "nothing quadratic, nothing corpus-sorted",
)
def mlprep_dataset_card(spark, sf_dir):
    from chiv_spark.operators.text import fingerprints

    docs = t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        "lang",
        "n_chars",
        F.size(F.split("text", " ")).cast("long").alias("ntok"),
    )
    base = tok.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.sum("ntok").cast("long").alias("total_tokens"),
        det_round(F.expr("percentile(n_chars, 0.5)"), 6).alias("p50_chars"),
    )
    grp = (
        fingerprints(docs)
        .groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("sz"))
        .filter(F.col("sz") > 1)
    )
    dup = grp.agg(
        F.count(F.lit(1)).cast("long").alias("n_dup_groups"),
        F.coalesce(F.sum(F.col("sz") - 1), F.lit(0)).cast("long").alias("n_dup_docs"),
    )
    top = (
        tok.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "lang")
        .limit(1)
        .select(F.col("lang").alias("top_lang"))
    )
    return base.crossJoin(F.broadcast(dup)).crossJoin(F.broadcast(top))


# --------------------------------------------------------------------------
# mlprep_shard_manifest — the artifact a training loader validates
# against before consuming the shuffled corpus: per shard (the SAME
# fate-hash shards mlprep_global_shuffle orders within), document and
# token counts, an ORDER-FREE xor checksum of the shard's content
# fingerprints (any dropped/duplicated/corrupted doc flips it; xor is
# commutative so the checksum is identical at any parallelism), and a
# balance audit vs the ideal equal-token split. One corpus-linear
# projection + one shards-sized hash agg + a 1-row totals broadcast.


@query(
    "mlprep_shard_manifest",
    f"""
    WITH keyed AS (
      SELECT doc_id,
             CAST({_SHUF_H} % {_SHUF_SHARDS} AS INT) AS shard,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             (('0x' || substring(md5(text), 1, 15))::BIGINT) AS h_text
      FROM documents),
    shards AS (
      SELECT shard,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
             CAST(bit_xor(h_text) AS BIGINT) AS content_xor
      FROM keyed GROUP BY shard),
    tot AS (SELECT SUM(n_tokens) AS tt FROM shards)
    SELECT shard, n_docs, n_tokens, content_xor,
           {duckdb_det_round(f'n_tokens * {_SHUF_SHARDS} / CAST(tt AS DOUBLE)')}
             AS balance_ratio
    FROM shards, tot
    """,
    doc="training-shard MANIFEST over the global-shuffle shards "
    "(shard = fate-hash mod n_shards, shared verbatim with "
    "mlprep_global_shuffle so the manifest describes exactly the "
    "shards the ordering row emits): per shard, doc count, token "
    "count, an order-free xor-fold checksum of the 60-bit content "
    "fingerprints (commutative -> identical at any parallelism; a "
    "loader re-xors what it read and compares), and balance_ratio "
    "vs the ideal equal-token split (hash sharding balances by the "
    "law of large numbers; the audit quantifies it). Plan: one "
    "linear narrow projection, one map-side-combining hash agg "
    "bounded by n_shards rows, one 1-row totals broadcast — no "
    "sort, no window, no corpus shuffle beyond the n_shards-key agg",
)
def mlprep_shard_manifest(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    h = hash64(F.concat(F.lit("shuf:"), F.col("doc_id").cast("string")))
    keyed = docs.select(
        (h % _SHUF_SHARDS).cast("int").alias("shard"),
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
        hash64(F.col("text")).alias("h_text"),
    )
    shards = keyed.groupBy("shard").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.expr("bit_xor(h_text)").cast("long").alias("content_xor"),
    )
    tot = shards.agg(F.sum("n_tokens").alias("tt"))
    return shards.crossJoin(F.broadcast(tot)).select(
        "shard",
        "n_docs",
        "n_tokens",
        "content_xor",
        det_round(
            F.col("n_tokens") * _SHUF_SHARDS / F.col("tt").cast("double")
        ).alias("balance_ratio"),
    )


# --------------------------------------------------------------------------
# mlprep_snapshot_diff — dataset-version reconciliation: what changed
# between two corpus snapshots (the audit a reproducibility review
# runs before re-training on "the same" dataset). Snapshot B is
# synthesized from the corpus by three independent stable-hash fates
# (1-in-20 deleted, 1-in-10 text-revised, 1-in-25 re-ingested under a
# shifted id as genuinely new docs), so both engines see identical
# snapshots and every status class is populated at both test SFs.

_SNAP_DEL = "((('0x' || substring(md5('del:' || doc_id::VARCHAR), 1, 15))::BIGINT) % 20)"
_SNAP_MOD = "((('0x' || substring(md5('mod:' || doc_id::VARCHAR), 1, 15))::BIGINT) % 10)"
_SNAP_ADD = "((('0x' || substring(md5('add:' || doc_id::VARCHAR), 1, 15))::BIGINT) % 25)"
# Re-ingested docs get doc_id + _SNAP_ADD_OFFSET. The offset must
# exceed any real corpus doc_id or synthesized ids collide with kept
# ids, duplicating doc_ids in snapshot B and multiplying full-outer
# rows IDENTICALLY in both engines (the oracle cannot catch it) — so
# it is 2^40, far above any doc_id the sf-scaled generators emit
# (doc_id is dense from 0; sf1000 ≈ 6e8 docs), not a near-corpus 3e6.
_SNAP_ADD_OFFSET = 1 << 40


@query(
    "mlprep_snapshot_diff",
    f"""
    WITH a AS (
      SELECT doc_id, (('0x' || substring(md5(text), 1, 15))::BIGINT) AS fp
      FROM documents),
    b_raw AS (
      SELECT doc_id,
             CASE WHEN {_SNAP_MOD} = 0 THEN text || ' rev2' ELSE text END AS text
      FROM documents WHERE {_SNAP_DEL} <> 0
      UNION ALL
      SELECT doc_id + {_SNAP_ADD_OFFSET} AS doc_id, text || ' fresh' AS text
      FROM documents WHERE {_SNAP_ADD} = 0),
    b AS (
      SELECT doc_id, (('0x' || substring(md5(text), 1, 15))::BIGINT) AS fp
      FROM b_raw)
    SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
           CASE WHEN a.doc_id IS NULL THEN 'added'
                WHEN b.doc_id IS NULL THEN 'removed'
                WHEN a.fp <> b.fp THEN 'changed'
                ELSE 'unchanged' END AS status
    FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
    """,
    doc="corpus SNAPSHOT DIFF — the dataset-version reconciliation a "
    "reproducibility audit runs before re-training: each snapshot "
    "reduced to (doc_id, 60-bit content fingerprint), one full-outer "
    "equi-join on doc_id, status from null-sides and fingerprint "
    "compare (added / removed / changed / unchanged). Snapshot B is "
    "synthesized by stable-hash fates (delete 1-in-20, revise "
    "1-in-10, ingest 1-in-25 under shifted ids) so every class is "
    "populated and both engines see identical inputs. Plan: two "
    "linear fingerprint projections + ONE shuffle on doc_id (the "
    "raw text never shuffles — fingerprints only); at 100 TB both "
    "snapshots bucket by doc_id and the join is co-located, zero "
    "exchange",
)
def mlprep_snapshot_diff(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")

    def _fate(tag):
        return hash64(F.concat(F.lit(tag), F.col("doc_id").cast("string")))

    a = docs.select("doc_id", hash64(F.col("text")).alias("fp"))
    b_kept = docs.filter(_fate("del:") % 20 != 0).select(
        "doc_id",
        F.when(
            _fate("mod:") % 10 == 0, F.concat(F.col("text"), F.lit(" rev2"))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    b_new = docs.filter(_fate("add:") % 25 == 0).select(
        (F.col("doc_id") + _SNAP_ADD_OFFSET).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" fresh")).alias("text"),
    )
    b = b_kept.unionByName(b_new).select(
        "doc_id", hash64(F.col("text")).alias("fp")
    )
    aa, bb = a.alias("a"), b.alias("b")
    return aa.join(bb, F.col("a.doc_id") == F.col("b.doc_id"), "full_outer").select(
        F.coalesce(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_id"),
        F.when(F.col("a.doc_id").isNull(), "added")
        .when(F.col("b.doc_id").isNull(), "removed")
        .when(F.col("a.fp") != F.col("b.fp"), "changed")
        .otherwise("unchanged")
        .alias("status"),
    )


# --------------------------------------------------------------------------
# pipeline_quality_funnel — the round-14 curation tiers composed into
# one per-stage (docs, tokens) survival report: domain gate ->
# boilerplate rewrite -> paragraph dedup. TOKEN columns are the point
# — the two rewrite tiers rarely DROP a document, they shrink it, so
# a doc-count funnel under-reports what they remove. Stage semantics
# are the capstone's (each registered tier evaluated on the raw
# corpus; a stage's tokens are what ITS rewrite keeps among docs
# surviving the funnel so far — stages are not text-chained, which
# is documented, oracle-mirrored behavior, not an accident).


def _quality_funnel_oracle() -> str:
    from chiv_spark.queries import llm, quality  # noqa: F401 — registers tiers
    from chiv_spark.queries.base import REGISTRY

    dom = REGISTRY["quality_domain_report"].oracle
    q = REGISTRY["text_quality_filter"].oracle
    bp = REGISTRY["dedup_paragraph_boilerplate"].oracle
    para = REGISTRY["dedup_paragraph_exact"].oracle
    toks = "CASE WHEN {c} = '' THEN 0 ELSE len(string_split({c}, ' ')) END"
    return f"""
    WITH dom AS MATERIALIZED (SELECT source FROM ({dom}) WHERE kept),
    q AS MATERIALIZED (SELECT doc_id FROM ({q}) WHERE keep),
    bp AS MATERIALIZED (
      SELECT doc_id, {toks.format(c='cleaned_text')} AS bp_toks FROM ({bp})),
    para AS MATERIALIZED (
      SELECT doc_id, {toks.format(c='cleaned_text')} AS para_toks FROM ({para})),
    flags AS MATERIALIZED (
      SELECT d.doc_id,
             len(string_split(d.text, ' ')) AS raw_toks,
             (d.source IN (SELECT source FROM dom)
              AND d.doc_id IN (SELECT doc_id FROM q)) AS f1,
             bp.bp_toks, para.para_toks
      FROM documents d JOIN bp USING (doc_id) JOIN para USING (doc_id))
    SELECT stage, CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_tokens AS BIGINT) AS n_tokens
    FROM (
      SELECT '0_total' AS stage, COUNT(*) AS n_docs,
             SUM(raw_toks) AS n_tokens FROM flags
      UNION ALL
      SELECT '1_domain_gate', COUNT(*) FILTER (WHERE f1),
             SUM(raw_toks) FILTER (WHERE f1) FROM flags
      UNION ALL
      SELECT '2_boilerplate_rewrite', COUNT(*) FILTER (WHERE f1 AND bp_toks > 0),
             SUM(bp_toks) FILTER (WHERE f1) FROM flags
      UNION ALL
      SELECT '3_paragraph_dedup',
             COUNT(*) FILTER (WHERE f1 AND bp_toks > 0 AND para_toks > 0),
             SUM(para_toks) FILTER (WHERE f1 AND bp_toks > 0) FROM flags)
    """


@query(
    "pipeline_quality_funnel",
    None,  # oracle attached below (composes four registered oracles)
    doc="the round-14 curation tiers as ONE per-stage (docs, tokens) "
    "survival report: domain gate (RefinedWeb two-level verdict) -> "
    "boilerplate rewrite (df-threshold chunk removal) -> paragraph "
    "dedup (first-occurrence chunk survival). TOKEN columns are the "
    "point: rewrite tiers shrink documents rather than drop them, so "
    "a doc-count funnel under-reports their effect — each stage row "
    "carries the docs surviving so far AND the tokens its own "
    "rewrite keeps among them. Composes FOUR registered oracles "
    "verbatim (domain report, quality verdict, boilerplate, "
    "paragraph dedup), MATERIALIZED; stages evaluate on the raw "
    "corpus (the capstone's documented conditional-count semantics, "
    "not text-chaining). Engine side joins the same registered "
    "relations; one conditional aggregate on top",
)
def pipeline_quality_funnel(spark, sf_dir):
    from chiv_spark.queries.base import REGISTRY

    docs = t(spark, sf_dir, "documents")
    dom = (
        REGISTRY["quality_domain_report"].fn(spark, sf_dir)
        .filter(F.col("kept"))
        .select("source")
    )
    q = (
        REGISTRY["text_quality_filter"].fn(spark, sf_dir)
        .filter(F.col("keep"))
        .select("doc_id")
        .withColumn("__q", F.lit(1))
    )

    def _toks(c):
        return F.when(F.col(c) == "", 0).otherwise(
            F.size(F.split(F.col(c), " "))
        ).cast("long")

    bp = (
        REGISTRY["dedup_paragraph_boilerplate"].fn(spark, sf_dir)
        .select("doc_id", _toks("cleaned_text").alias("bp_toks"))
    )
    para = (
        REGISTRY["dedup_paragraph_exact"].fn(spark, sf_dir)
        .select("doc_id", _toks("cleaned_text").alias("para_toks"))
    )
    flags = (
        docs.select(
            "doc_id",
            "source",
            F.size(F.split("text", " ")).cast("long").alias("raw_toks"),
        )
        .join(F.broadcast(dom.withColumn("__d", F.lit(1))), "source", "left")
        .join(q, "doc_id", "left")
        .join(bp, "doc_id")
        .join(para, "doc_id")
        .select(
            "doc_id",
            "raw_toks",
            (F.col("__d").isNotNull() & F.col("__q").isNotNull()).alias("f1"),
            "bp_toks",
            "para_toks",
        )
    )
    f1 = F.col("f1")
    bp_pos = F.col("bp_toks") > 0
    para_pos = F.col("para_toks") > 0
    agg = flags.agg(
        F.count(F.lit(1)).alias("n0"),
        F.sum("raw_toks").alias("t0"),
        F.count(F.when(f1, 1)).alias("n1"),
        F.sum(F.when(f1, F.col("raw_toks"))).alias("t1"),
        F.count(F.when(f1 & bp_pos, 1)).alias("n2"),
        F.sum(F.when(f1, F.col("bp_toks"))).alias("t2"),
        F.count(F.when(f1 & bp_pos & para_pos, 1)).alias("n3"),
        F.sum(F.when(f1 & bp_pos, F.col("para_toks"))).alias("t3"),
    )
    rows = [
        ("0_total", "n0", "t0"),
        ("1_domain_gate", "n1", "t1"),
        ("2_boilerplate_rewrite", "n2", "t2"),
        ("3_paragraph_dedup", "n3", "t3"),
    ]
    # one aggregate + a 4-element explode instead of a 4-branch union
    # (r18, guide §2.4): each union branch was a full copy of the agg
    # subtree — the whole flags join tree four times in the static
    # plan, deduped only as far as runtime ReuseExchange reached. The
    # exploded form computes the aggregate once by construction.
    # Identical 4-row result (the driver compares row multisets).
    stage_rows = F.array(
        *[
            F.struct(
                F.lit(stage).alias("stage"),
                F.col(n).cast("long").alias("n_docs"),
                F.col(tk).cast("long").alias("n_tokens"),
            )
            for stage, n, tk in rows
        ]
    )
    return agg.select(F.explode(stage_rows).alias("s")).select(
        "s.stage", "s.n_docs", "s.n_tokens"
    )


_FUNNEL_REG["pipeline_quality_funnel"] = _FUNNEL_REG[
    "pipeline_quality_funnel"
].__class__(
    name="pipeline_quality_funnel",
    fn=_FUNNEL_REG["pipeline_quality_funnel"].fn,
    oracle=_quality_funnel_oracle(),
    doc=_FUNNEL_REG["pipeline_quality_funnel"].doc,
)


# --------------------------------------------------------------------------
# pipeline_quality_funnel_chained — the TEXT-CHAINED twin of the
# funnel (r14 verdict task 4): the unchained funnel evaluates every
# tier on the RAW corpus (documented conditional-count semantics);
# production curation chains rewrites — paragraph dedup runs ON the
# boilerplate-cleaned text of gate-surviving docs. Both tiers operate
# at the shared 10-token chunk granularity, so chaining is chunk-set
# composition: gate survivors' chunks -> drop df>=threshold chunks
# (df computed over the CHAINED input, not the raw corpus) ->
# first-occurrence dedup over the SURVIVING chunks -> reassemble.
# The divergence from the unchained funnel is quantified in the row
# itself (the registered funnel relation joined on stage).


def _quality_funnel_chained_oracle() -> str:
    from chiv_spark.queries.base import REGISTRY
    from chiv_spark.queries.llm import _BP_DF, _PARA_CTES

    funnel = REGISTRY["pipeline_quality_funnel"].oracle
    dom = REGISTRY["quality_domain_report"].oracle
    q = REGISTRY["text_quality_filter"].oracle
    ctoks = "CASE WHEN c = '' THEN 0 ELSE len(string_split(c, ' ')) END"
    return f"""
    WITH u AS MATERIALIZED ({funnel}),
    domc AS MATERIALIZED (SELECT source FROM ({dom}) WHERE kept),
    qc AS MATERIALIZED (SELECT doc_id FROM ({q}) WHERE keep),
    {_PARA_CTES},
    g AS (SELECT d.doc_id FROM documents d
          JOIN domc ON d.source = domc.source
          JOIN qc ON qc.doc_id = d.doc_id),
    gh AS (SELECT hashed.* FROM hashed JOIN g USING (doc_id)),
    gdf AS (SELECT h, COUNT(DISTINCT doc_id) AS nd FROM gh GROUP BY h),
    s2 AS (SELECT gh.* FROM gh JOIN gdf USING (h) WHERE gdf.nd < {_BP_DF}),
    s2f AS (SELECT h, MIN(site) AS s0 FROM s2 GROUP BY h),
    s3 AS (SELECT s2.* FROM s2 JOIN s2f USING (h) WHERE s2.site = s2f.s0),
    agg2 AS (SELECT COUNT(DISTINCT doc_id) AS nd, COALESCE(SUM({ctoks}), 0) AS tk FROM s2),
    agg3 AS (SELECT COUNT(DISTINCT doc_id) AS nd, COALESCE(SUM({ctoks}), 0) AS tk FROM s3),
    ch AS (
      SELECT u.stage,
             CAST(CASE u.stage WHEN '2_boilerplate_rewrite' THEN agg2.nd
                               WHEN '3_paragraph_dedup' THEN agg3.nd
                               ELSE u.n_docs END AS BIGINT) AS n_docs,
             CAST(CASE u.stage WHEN '2_boilerplate_rewrite' THEN agg2.tk
                               WHEN '3_paragraph_dedup' THEN agg3.tk
                               ELSE u.n_tokens END AS BIGINT) AS n_tokens,
             u.n_docs AS n_docs_unchained,
             u.n_tokens AS n_tokens_unchained
      FROM u, agg2, agg3)
    SELECT stage, n_docs, n_tokens, n_docs_unchained, n_tokens_unchained,
           n_docs - n_docs_unchained AS docs_delta,
           n_tokens - n_tokens_unchained AS tokens_delta
    FROM ch
    """


@query(
    "pipeline_quality_funnel_chained",
    None,  # oracle attached below (composes the registered funnel oracle)
    doc="the TEXT-CHAINED funnel twin (r14 verdict task 4): the "
    "unchained funnel evaluates each tier on the raw corpus; here "
    "stage N+1 consumes stage N's OUTPUT at the shared 10-token "
    "chunk granularity — gate survivors are chunked, the "
    "df-threshold is computed over the CHAINED input (a content farm "
    "dropped by the gate no longer inflates chunk document "
    "frequencies), and first-occurrence dedup runs over only the "
    "boilerplate-surviving chunks (a chunk whose first occurrence "
    "was boilerplate-dropped or gate-dropped survives at its next "
    "site). Each row carries BOTH the chained and unchained "
    "(n_docs, n_tokens) plus their deltas — the divergence the r14 "
    "verdict asked to quantify, computed by joining the REGISTERED "
    "funnel relation so twin and baseline cannot drift. Plan: the "
    "gate broadcast + one doc-level verdict join, then the paragraph "
    "tier's linear chunk shapes (two fingerprint hash-aggs, two "
    "equi-joins back — chunk text never a shuffle key), two 1-row "
    "chained aggs crossed under the funnel's 4-row relation",
)
def pipeline_quality_funnel_chained(spark, sf_dir):
    from chiv_spark.operators import dedup
    from chiv_spark.queries.base import REGISTRY
    from chiv_spark.queries.llm import _BP_DF

    docs = t(spark, sf_dir, "documents")
    dom = (
        REGISTRY["quality_domain_report"].fn(spark, sf_dir)
        .filter(F.col("kept"))
        .select("source")
    )
    qk = (
        REGISTRY["text_quality_filter"].fn(spark, sf_dir)
        .filter(F.col("keep"))
        .select("doc_id")
    )
    gated = (
        docs.join(F.broadcast(dom), "source")
        .join(qk, "doc_id")
        .select("doc_id", "text")
    )
    # chaining = chunk only the gate survivors: dropped docs never
    # reach the chunk explode, and the df stats see the chained input
    chunks = dedup.paragraph_chunks(gated)
    gdf = chunks.groupBy("h").agg(F.countDistinct("doc_id").alias("nd"))
    s2 = chunks.join(gdf, "h").filter(F.col("nd") < _BP_DF)
    # first-occurrence membership as a min-site window flag instead of
    # a groupBy+join back onto s2 (r18, guide §2.4): the window rides
    # the same h-hash partitioning, and the two stage aggregates below
    # then read ONE s2 subtree instead of two full copies (the static
    # chained plan carried every chunk/gate subtree twice)
    from pyspark.sql import Window as _W

    s2 = s2.withColumn("s0", F.min("site").over(_W.partitionBy("h")))
    s3 = s2.filter(F.col("site") == F.col("s0"))

    def _ctoks():
        return (
            F.when(F.col("c") == "", 0)
            .otherwise(F.size(F.split(F.col("c"), " ")))
            .cast("long")
        )

    # both chained stage aggregates in ONE pass over the single s2
    # subtree (s3 is the s0-flag filter of s2, so its counts are the
    # conditional aggregates; countDistinct/sum ignore the nulls the
    # when() emits for non-first-occurrence rows) — the plan carries
    # one chunk/gate subtree where it carried two
    first = F.col("site") == F.col("s0")
    agg23 = s2.agg(
        F.countDistinct("doc_id").cast("long").alias("nd2"),
        F.coalesce(F.sum(_ctoks()), F.lit(0)).cast("long").alias("tk2"),
        F.countDistinct(F.when(first, F.col("doc_id"))).cast("long").alias("nd3"),
        F.coalesce(F.sum(F.when(first, _ctoks())), F.lit(0)).cast("long").alias("tk3"),
    )
    u = REGISTRY["pipeline_quality_funnel"].fn(spark, sf_dir)
    st = F.col("stage")
    n_docs = (
        F.when(st == "2_boilerplate_rewrite", F.col("nd2"))
        .when(st == "3_paragraph_dedup", F.col("nd3"))
        .otherwise(F.col("n_docs"))
        .cast("long")
    )
    n_tokens = (
        F.when(st == "2_boilerplate_rewrite", F.col("tk2"))
        .when(st == "3_paragraph_dedup", F.col("tk3"))
        .otherwise(F.col("n_tokens"))
        .cast("long")
    )
    return (
        u.crossJoin(F.broadcast(agg23))
        .select(
            "stage",
            n_docs.alias("n_docs"),
            n_tokens.alias("n_tokens"),
            F.col("n_docs").alias("n_docs_unchained"),
            F.col("n_tokens").alias("n_tokens_unchained"),
            (n_docs - F.col("n_docs")).alias("docs_delta"),
            (n_tokens - F.col("n_tokens")).alias("tokens_delta"),
        )
    )


_FUNNEL_REG["pipeline_quality_funnel_chained"] = _FUNNEL_REG[
    "pipeline_quality_funnel_chained"
].__class__(
    name="pipeline_quality_funnel_chained",
    fn=_FUNNEL_REG["pipeline_quality_funnel_chained"].fn,
    oracle=_quality_funnel_chained_oracle(),
    doc=_FUNNEL_REG["pipeline_quality_funnel_chained"].doc,
)
