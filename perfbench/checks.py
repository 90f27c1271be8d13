"""Output checks, done with DuckDB and PyYAML, never with the program.

- Archived objects are read back and reduced to a row count plus one
  checksum per column over a canonical text form of each value, so
  CSV, JSON, YAML and the generated parquet compare equal exactly
  when they hold the same values (NULLs as the ``null=`` placeholder).
- Query results are compared with their DuckDB oracle as exact row
  multisets after the same normalisation the repo's correctness
  harness applies.
"""

from __future__ import annotations

import datetime as dt
import glob
import hashlib
import math
import os

import duckdb
import pyarrow as pa

#: placeholder the archive workload passes as ``null=``; it parses as
#: every column type the table has, as typed sinks require
NULL = "-1"

#: archive columns by the canonical text form their values take
INT_COLS = ("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber")
DEC_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")
DATE_COLS = ("l_shipdate", "l_commitdate")
STR_COLS = ("l_returnflag", "l_linestatus", "l_shipmode", "l_comment")
ARCHIVE_COLS = INT_COLS + DEC_COLS + DATE_COLS + STR_COLS


def _canon_text(col: str) -> str:
    """Canonical form of a column read back as text; the placeholder
    takes the same form as the NULL it stands for."""
    if col in INT_COLS:
        return f"CAST(CAST({col} AS DOUBLE) AS BIGINT)::VARCHAR"
    if col in DEC_COLS:
        return f"printf('%.2f', CAST({col} AS DOUBLE))"
    if col in DATE_COLS:
        return f"left({col}, 10)"
    return col


def _canon_typed(col: str) -> str:
    """Canonical form of a typed parquet column."""
    if col in INT_COLS:
        return f"COALESCE({col}::VARCHAR, '{NULL}')"
    if col in DEC_COLS:
        return f"printf('%.2f', COALESCE(CAST({col} AS DOUBLE), {NULL}))"
    if col in DATE_COLS:
        return f"COALESCE(strftime({col}, '%Y-%m-%d'), '{NULL}')"
    return f"COALESCE({col}, '{NULL}')"


def _summary(con, relation: str, canon) -> tuple:
    sums = ", ".join(f"SUM(hash({canon(c)}))::VARCHAR" for c in ARCHIVE_COLS)
    return tuple(con.execute(f"SELECT COUNT(*), {sums} FROM {relation}").fetchone())


def expected_summary(con, parquet: str, limit: int | None = None) -> tuple:
    """Summary of the generated table, or of its first ``limit`` rows
    in (l_orderkey, l_linenumber) order."""
    rel = f"read_parquet('{parquet}')"
    if limit is not None:
        rel = f"(SELECT * FROM {rel} ORDER BY l_orderkey, l_linenumber LIMIT {int(limit)})"
    return _summary(con, rel, _canon_typed)


def object_summary(con, path: str, fmt: str) -> tuple:
    """Summary of one archived object, or of a directory of NDJSON
    parts (``fmt="ndjson"``)."""
    cols = ", ".join(f"'{c}': 'VARCHAR'" for c in ARCHIVE_COLS)
    if fmt == "csv":
        rel = f"read_csv('{path}', header = true, all_varchar = true)"
    elif fmt == "json":
        rel = f"read_json('{path}', format = 'array', columns = {{{cols}}})"
    elif fmt == "ndjson":
        src = os.path.join(path, "part-*.json")
        rel = f"read_json('{src}', format = 'newline_delimited', columns = {{{cols}}})"
    elif fmt == "yaml":
        con.register("yaml_rows", _yaml_table(path))
        rel = "yaml_rows"
    else:
        raise ValueError(fmt)
    return _summary(con, rel, _canon_text)


def _yaml_table(path: str) -> pa.Table:
    import yaml

    loader = getattr(yaml, "CSafeLoader", yaml.SafeLoader)
    with open(path) as fh:
        rows = yaml.load(fh, Loader=loader) or []

    def text(v):
        return v.isoformat() if isinstance(v, (dt.date, dt.datetime)) else str(v)

    return pa.table(
        {c: pa.array([text(r[c]) for r in rows], pa.string()) for c in ARCHIVE_COLS}
    )


def sha256(path: str) -> str:
    """Digest of a file, or of a directory's part files in name order
    (part names lead with the partition number)."""
    digest = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(path, "part-*"))) if os.path.isdir(path) else [path]
    for f in files:
        with open(f, "rb") as fh:
            digest.update(fh.read())
    return digest.hexdigest()


def _norm(v: object) -> object:
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None)
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    return v


def rows_problem(cols, rows, ocols, orows) -> str | None:
    """None when both sides hold the same columns and the same row
    multiset (floats compared exactly), else what differs."""
    if sorted(cols) != sorted(ocols):
        return f"columns differ: {sorted(cols)} vs {sorted(ocols)}"
    if len(rows) != len(orows):
        return f"row count differs: {len(rows)} vs {len(orows)}"
    order = [list(cols).index(c) for c in sorted(cols)]
    oorder = [list(ocols).index(c) for c in sorted(ocols)]
    left = sorted((tuple(_norm(r[i]) for i in order) for r in rows), key=repr)
    right = sorted((tuple(_norm(r[i]) for i in oorder) for r in orows), key=repr)
    if left != right:
        diff = [(a, b) for a, b in zip(left, right) if a != b][:2]
        return f"values differ, first: {diff}"
    return None


def oracle_rows(con: duckdb.DuckDBPyConnection, sql: str) -> tuple[list[str], list[tuple]]:
    res = con.execute(sql)
    return [d[0] for d in res.description], res.fetchall()
