"""Vector (embedding) column expressions — all JVM-side built-ins.

The ``embeddings.embedding`` column is ``ArrayType(FloatType)`` (dim
64). Dot products / norms / cosine are expressed with ``zip_with`` +
``aggregate`` higher-order functions: no Python in the hot path, no
UDF pickling; elements are cast to double so accumulation matches the
DuckDB oracle (which is told to cast FLOAT[] → DOUBLE[]).

Each function returns a Spark-SQL string for ``F.expr``: the similarity
operators build dozens of these per query, and one parse replaces the
~15 per-node py4j round trips a Column composition costs per dot
product (~50 per cosine).
"""

from __future__ import annotations


def dot_sx(a: str, b: str) -> str:
    """Σ aᵢ·bᵢ in double precision (sequential fold — matches DuckDB's
    list_dot_product over DOUBLE[])."""
    return (
        f"aggregate(zip_with({a}, {b}, "
        f"(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        f"0.0D, (acc, v) -> acc + v)"
    )


def norm_sx(a: str) -> str:
    return f"sqrt({dot_sx(a, a)})"


def cosine_sx(a: str, b: str) -> str:
    return f"({dot_sx(a, b)} / ({norm_sx(a)} * {norm_sx(b)}))"
