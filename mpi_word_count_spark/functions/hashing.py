"""Portable deterministic hashes (md5-derived).

Every approximate operator in this engine (MinHash, SimHash, LSH)
needs hash functions that produce IDENTICAL values in Spark (JVM),
DuckDB (oracle), and Python (plane generation) so the driver's
value-hash correctness gate covers the approximate pipelines too.
md5 is the one hash all three share; we slice its hex digest:

  hash32(x, seed) = int(md5(seed ':' x)[:8], 16)    ∈ [0, 2^32)
  hash60(x)       = int(md5(x)[:15], 16)            ∈ [0, 2^60)

60 bits (15 hex chars) keeps values inside a signed int64 in both
engines. Spark-side F.hash (Murmur3) is faster but engine-private;
these are only used where cross-engine determinism matters — at
production scale swap in F.xxhash64 via the `fast=True` flags.

Note: SURVEY.md §2.3 O16 — the reference's FNV-1 partitioning hash
(hash_map.c:25-41) is an engine-internal detail we deliberately do
NOT replicate; Spark's Murmur3 HashPartitioning plays that role.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column
from pyspark.sql import functions as F


def hash32(col: Column | str, seed: str = "") -> Column:
    """Spark column: 32-bit unsigned md5-slice hash as LongType."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{seed}:"), c)), 1, 8), 16, 10
    ).cast("long")


def hash60(col: Column | str) -> Column:
    """Spark column: 60-bit md5-slice hash as LongType (bit ops safe)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def sql_hash32(expr: str, seed: str = "") -> str:
    """DuckDB SQL text computing the same value as hash32()."""
    return f"(('0x' || substr(md5('{seed}:' || {expr}), 1, 8))::BIGINT)"


def sql_hash60(expr: str) -> str:
    """DuckDB SQL text computing the same value as hash60()."""
    return f"(('0x' || substr(md5({expr}), 1, 15))::BIGINT)"


def py_hash32(value: str, seed: str = "") -> int:
    """Python-side replica (plane/permutation generation)."""
    return int(hashlib.md5(f"{seed}:{value}".encode()).hexdigest()[:8], 16)


# Universal-hash family over one base hash: h_i(x) = (a_i·x + b_i) mod P.
# One md5 per input row instead of k (measured ~5× on the MinHash
# signature stage); the (a·x+b) mod prime family is the textbook
# MinHash permutation construction. Bounds chosen so the product
# never overflows signed int64 in either engine:
#   a < 2^31, x < 2^32  →  a·x + b < 2^63.
MINHASH_PRIME = (1 << 61) - 1


def universal_coeffs(k: int) -> list[tuple[int, int]]:
    """k deterministic (a, b) pairs: a odd in [1, 2^31), b in [0, 2^31)."""
    return [
        (
            (py_hash32(f"a{i}", "uh") % (1 << 31)) | 1,
            py_hash32(f"b{i}", "uh") % (1 << 31),
        )
        for i in range(k)
    ]
