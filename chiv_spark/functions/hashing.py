"""Deterministic cross-engine 60-bit hashes.

Built from md5 so that Spark and the DuckDB correctness oracle compute
*identical* values (Spark's native xxhash64/hash have no DuckDB
equivalent): take the first 15 hex chars of md5 (60 bits, always
positive in a signed 64-bit integer).

Spark:  ``conv(substring(md5(s), 1, 15), 16, 10)::bigint``
DuckDB: ``('0x' || substring(md5(s), 1, 15))::bigint``

Everything downstream (MinHash, SimHash, LSH buckets, fingerprints)
derives from this primitive, keeping every dedup/similarity operator
oracle-checkable. All expressions are JVM-side built-ins — no Python
UDFs in these hot paths.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def hash64(col: Column | str) -> Column:
    """60-bit deterministic hash of a string column (JVM-side)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def hash64_seeded(col: Column | str, seed: int) -> Column:
    """Seeded variant: family of independent hash functions (MinHash
    permutations, SimHash planes) via seed suffixing."""
    c = F.col(col) if isinstance(col, str) else col
    return hash64(F.concat(c, F.lit(f"#{seed}")))


def duckdb_hash64(expr: str) -> str:
    """The DuckDB SQL text computing the same hash as :func:`hash64`."""
    return f"(('0x' || substring(md5({expr}), 1, 15))::BIGINT)"
