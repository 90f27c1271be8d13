"""Seeded benchmark inputs, made with NumPy and pyarrow only.

Nothing here imports the program under test: the benchmark hands the
program parquet files and checks its outputs against these same files.

- ``archive_table``: a table shaped like TPC-H lineitem (ints,
  decimals, dates, strings, ~5 % NULLs in the nullable columns).
- ``corpus``: ``documents`` and ``embeddings`` tables shaped like the
  repo's generated test data, as a seeded sample plus near-duplicate
  variants (text with a suffix, vectors with small noise).

The same seed gives byte-identical files; ``write_inputs`` returns a
digest of them so a run can record what it measured.
"""

from __future__ import annotations

import decimal
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

WORDS = (
    "query row stream the spark line small fast group customer batch sort value "
    "hash filter big data part column order scan a slow agg key window table "
    "merge vector join"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.42, 0.145, 0.145, 0.145, 0.145)
DIM = 64

#: rows of the archive table; its parquet must stay above the
#: archiver's 8 MiB spread gate (checked in ``write_inputs``)
ARCHIVE_ROWS = 60_000
#: corpus size: the curation ops are bound by per-job overhead, so a
#: bigger corpus buys little besides run time
DOCS, VECS = 1_000, 600
#: share of each corpus table that is near-duplicate variants
DUP_FRAC = 0.1
SPREAD_BYTES = 8 << 20


def _rng(seed: int, stream: str) -> np.random.Generator:
    # one independent stream per table, so adding a column to one
    # table never reshuffles another
    return np.random.default_rng([seed, int(hashlib.sha256(stream.encode()).hexdigest()[:8], 16)])


def _with_nulls(rng, values: list, p: float = 0.05) -> list:
    mask = rng.random(len(values)) < p
    return [None if m else v for v, m in zip(values, mask)]


def archive_table(seed: int) -> pa.Table:
    """lineitem-shaped rows; the comment column is random letters, so
    the parquet is too dense to compress under the spread gate."""
    rng = _rng(seed, "archive")
    rows = ARCHIVE_ROWS
    dec = pa.decimal128(15, 2)

    def cents(lo: int, hi: int, nulls: bool = False) -> pa.Array:
        # whole cents scaled by 0.01: exact, and vectorised
        vals = pa.array(rng.integers(lo, hi, rows), pa.int64())
        if nulls:
            vals = pa.array(_with_nulls(rng, vals.to_pylist()), pa.int64())
        return pc.multiply(vals.cast(pa.decimal128(19, 0)), pa.scalar(decimal.Decimal("0.01"))).cast(dec)

    def days(offset: pa.Array, nulls: bool = False) -> pa.Array:
        # days since 1992-01-01 (8035 days after the epoch)
        vals = pc.add(offset, 8035)
        if nulls:
            vals = pa.array(_with_nulls(rng, vals.to_pylist()), pa.int32())
        return vals.cast(pa.int32()).cast(pa.date32())

    ship = pa.array(rng.integers(0, 2500, rows), pa.int32())
    letters = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz ", dtype=np.uint8)
    comment_len = rng.integers(80, 170, rows)
    blob = letters[rng.integers(0, len(letters), int(comment_len.sum()))].tobytes().decode()
    ends = np.cumsum(comment_len)
    comments = [blob[e - n : e] for e, n in zip(ends, comment_len)]
    cols = {
        # (l_orderkey, l_linenumber) is unique, as in TPC-H, so the
        # archive workload's ORDER BY ... LIMIT has one answer
        "l_orderkey": pa.array(np.arange(rows) // 4 + 1, pa.int64()),
        "l_partkey": pa.array(rng.integers(1, 20_000, rows), pa.int64()),
        "l_suppkey": pa.array(_with_nulls(rng, rng.integers(1, 1_000, rows).tolist()), pa.int64()),
        "l_linenumber": pa.array(np.arange(rows) % 4 + 1, pa.int32()),
        "l_quantity": cents(100, 5_001, nulls=True),
        "l_extendedprice": cents(90_000, 10_500_000),
        "l_discount": cents(0, 11, nulls=True),
        "l_tax": cents(0, 9),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], rows).tolist(), pa.string()),
        "l_linestatus": pa.array(rng.choice(["F", "O"], rows).tolist(), pa.string()),
        "l_shipdate": days(ship),
        "l_commitdate": days(pc.add(ship, 30), nulls=True),
        "l_shipmode": pa.array(
            _with_nulls(rng, rng.choice(["AIR", "MAIL", "RAIL", "SHIP", "TRUCK"], rows).tolist()),
            pa.string(),
        ),
        "l_comment": pa.array(_with_nulls(rng, comments), pa.string()),
    }
    return pa.table(cols)


def _text(rng, n_words: int) -> str:
    return " ".join(WORDS[i] for i in rng.integers(0, len(WORDS), n_words))


def corpus(seed: int) -> tuple[pa.Table, pa.Table]:
    """``documents`` and ``embeddings``: ``(1 - DUP_FRAC)`` seeded base
    rows plus near-duplicate variants of randomly chosen base rows."""
    docs, vecs = DOCS, VECS
    rng = _rng(seed, "documents")
    n_base = docs - int(docs * DUP_FRAC)
    texts = [_text(rng, int(k)) for k in rng.integers(8, 90, n_base)]
    for i, src in enumerate(rng.integers(0, n_base, docs - n_base)):
        # variant kinds: exact copy, appended tag, one word replaced
        base = texts[int(src)]
        kind = i % 3
        if kind == 0:
            texts.append(base)
        elif kind == 1:
            texts.append(f"{base} dup")
        else:
            words = base.split()
            words[int(rng.integers(0, len(words)))] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(words))
    order = rng.permutation(docs)
    texts = [texts[i] for i in order]
    documents = pa.table(
        {
            "doc_id": pa.array(np.arange(docs), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(LANGS, docs, p=LANG_P).tolist(), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in rng.integers(0, 20, docs)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    rng = _rng(seed, "embeddings")
    n_base = vecs - int(vecs * DUP_FRAC)
    base = rng.standard_normal((n_base, DIM)).astype(np.float32)
    src = rng.integers(0, n_base, vecs - n_base)
    noisy = base[src] + rng.normal(0, 0.01, (len(src), DIM)).astype(np.float32)
    mat = np.concatenate([base, noisy])[rng.permutation(vecs)]
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    embeddings = pa.table(
        {
            "vec_id": pa.array(np.arange(vecs), pa.int64()),
            "embedding": pa.array(list(mat.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, vecs), pa.int32()),
        }
    )
    return documents, embeddings


def _write(table: pa.Table, path: str) -> None:
    # fixed writer settings: byte-identical files for equal tables
    pq.write_table(table, path, compression="snappy", row_group_size=16_384, store_schema=False)


def write_inputs(out_dir: str, seed: int) -> str:
    """Write ``archive.parquet``, ``documents.parquet`` and
    ``embeddings.parquet`` under ``out_dir``; return their sha256."""
    os.makedirs(out_dir, exist_ok=True)
    documents, embeddings = corpus(seed)
    tables = {
        "archive": archive_table(seed),
        "documents": documents,
        "embeddings": embeddings,
    }
    digest = hashlib.sha256()
    for name, table in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        _write(table, path)
        with open(path, "rb") as fh:
            digest.update(fh.read())
    size = os.path.getsize(os.path.join(out_dir, "archive.parquet"))
    if size <= SPREAD_BYTES:
        raise RuntimeError(f"archive input is {size} bytes, not above the spread gate")
    return digest.hexdigest()
