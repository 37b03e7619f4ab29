"""Deterministic cross-engine hashing primitives.

Everything here must produce BIT-IDENTICAL values in Spark and DuckDB
so the driver's hash compare works on dedup/fingerprint operators:

  * base hash: first 15 hex chars of md5 → int64 (60 bits, exact in
    both engines — probed identical)
  * MinHash permutations: universal hashing ``(a·h + b) mod p`` with
    p = 2³¹−1 and h reduced mod p first, so a·h < 2⁶² never overflows
    int64. ONE md5 per shingle, k cheap integer permutations — at
    100 TB this is the difference between k md5 passes and one.

The (a, b) constants are fixed primes; both the Spark expressions and
the DuckDB SQL twins are generated from the same Python lists (single
source of truth).
"""

from __future__ import annotations

MERSENNE_P = 2147483647  # 2^31 - 1

#: fixed permutation constants (primes), < 2^31
MINHASH_A = (1299709, 15485863, 32452843, 49979687, 67867967, 86028121, 104395301, 122949823)
MINHASH_B = (11, 101, 1009, 10007, 100003, 1000003, 10000019, 100000007)
N_PERM = len(MINHASH_A)


def md5_int64_sql(expr: str) -> str:
    return f"('0x' || substr(md5({expr}), 1, 15))::INT64"


def md5_int64_sx(expr: str) -> str:
    """First 15 hex chars of md5 as int64 — exact Spark form of DuckDB
    ``('0x' || substr(md5(x), 1, 15))::INT64``. A Spark-SQL string
    for ``F.expr``: one parse instead of one py4j round trip per
    Column node, which is where large expression trees built in
    Python loops spend their time."""
    return f"CAST(conv(substring(md5({expr}), 1, 15), 16, 10) AS BIGINT)"


def base31_sql(expr: str) -> str:
    return f"({md5_int64_sql(expr)} % {MERSENNE_P})"


def base31_sx(expr: str) -> str:
    """Base hash reduced into [0, p)."""
    return f"({md5_int64_sx(expr)} % {MERSENNE_P})"


def perm_hash_sql(h31_expr: str, i: int) -> str:
    return f"(({h31_expr} * {MINHASH_A[i]} + {MINHASH_B[i]}) % {MERSENNE_P})"


def perm_hash_sx(h31_expr: str, i: int) -> str:
    """i-th universal-hash permutation of a base-31 hash (same text as
    the DuckDB form — integer arithmetic parses identically)."""
    return f"(({h31_expr} * {MINHASH_A[i]} + {MINHASH_B[i]}) % {MERSENNE_P})"
