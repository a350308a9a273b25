"""Seeded, engine-portable hashing primitives.

The dedup/LSH operators need hash functions that are (a) deterministic,
(b) seedable, and (c) reproducible by the DuckDB oracle — which rules out
Spark-private hashes (xxhash64/murmur) for oracle-checked paths. We use the
first 15 hex chars of md5 (60 bits, always positive in int64), identical on
both engines:

    Spark : CAST(conv(substring(md5(s), 1, 15), 16, 10) AS BIGINT)
    DuckDB: ('0x' || substr(md5(s), 1, 15))::BIGINT

Seeding = suffixing the input with '#<seed>'.

Every signature-family operator (MinHash, SimHash, hashed shingles,
sampling buckets, rolling n-gram hashes) calls these md5 forms directly:
one hash family, the same bits in Spark, DuckDB and Python.
"""

from __future__ import annotations

import hashlib

import pyspark.sql.functions as F
from pyspark.sql import Column

MOD_PRIME = 1_000_000_007


def md5_long64(col: Column) -> Column:
    """60-bit positive int64 from md5 — portable across Spark/DuckDB."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def md5_long64_expr(sql_expr: str) -> str:
    """Same as md5_long64, as a SQL-expression fragment (for use inside
    higher-order lambdas where Column API can't reach)."""
    return f"cast(conv(substring(md5({sql_expr}), 1, 15), 16, 10) as bigint)"


def duckdb_md5_long64(sql_expr: str) -> str:
    """DuckDB twin of md5_long64_expr — used when generating oracle SQL."""
    return f"('0x' || substr(md5({sql_expr}), 1, 15))::BIGINT"


def md5_long64_py(s: str) -> int:
    """Python twin (unit-test oracle)."""
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


def seeded(sql_expr: str, seed_expr: str) -> str:
    """Seed-suffix an input expression for per-seed hashing.

    Portability caveat: on NON-NULL inputs the concat is byte-identical
    across engines, but Spark's concat NULL-propagates while DuckDB's
    skips NULLs — only feed non-null expressions (every call site hashes
    md5 output, which is non-null by construction)."""
    return f"concat({sql_expr}, '#', cast({seed_expr} as string))"


# Affine reseeding: h_i(x) = (a_i * (md5_60bit(x) mod P31) + b_i) mod P31.
# One md5 per input, then integer arithmetic per seed — ~8x cheaper than
# hashing per (input, seed), and every term stays < 2^62 (no overflow).
# P31 is the Mersenne prime 2^31 - 1; a_i/b_i derive from the portable md5
# so Spark, DuckDB, and Python reproduce identical hash families.
P31 = 2_147_483_647


def affine_params(n_seeds: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) per seed; a in [1, P31-1], b in [0, P31-1]."""
    return [
        (md5_long64_py(f"minhash-a:{s}") % (P31 - 1) + 1, md5_long64_py(f"minhash-b:{s}") % P31)
        for s in range(n_seeds)
    ]
