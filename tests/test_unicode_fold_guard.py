"""Guards for the pinned case fold (operators/text.py::fold_text_sx).

The unicode stress sweep (UNICODE_SWEEP.json) broke 42 queries at once
through ONE primitive: JVM ``lower`` applies two root-locale
SpecialCasing rules (U+0130 İ → i+combining-dot, word-final Σ → ς)
that DuckDB's per-codepoint utf8proc fold does not. These tests pin
the fix in both directions:

* dynamically — the folded primitives agree with DuckDB on the
  gauntlet characters;
* statically — no NEW ``F.lower(`` site appears on free-text columns
  outside fold_text_sx (ASCII-contract columns are whitelisted), so the
  class can't regress one inline tokenizer at a time.
"""

from __future__ import annotations

import re
from pathlib import Path

import duckdb
import pytest

PKG = Path(__file__).resolve().parent.parent / "oracle_to_cassandra_spark"

#: files allowed to call F.lower directly — lowers of ASCII-contract
#: columns (TPC-H enumerations)
_ALLOWED_LOWER_FILES = {
    "queries/scalar_funcs.py",    # p_type (TPC-H enumeration, ASCII)
    "queries/migration_ops.py",   # o_orderpriority (ASCII enumeration)
    "queries/sql_surface.py",     # priority strings (ASCII)
}


def test_no_unpinned_spark_lower_on_text():
    offenders = []
    for py in PKG.rglob("*.py"):
        rel = py.relative_to(PKG).as_posix()
        if rel in _ALLOWED_LOWER_FILES:
            continue
        for i, line in enumerate(py.read_text().splitlines(), 1):
            if "F.lower(" in line:
                offenders.append(f"{rel}:{i}: {line.strip()}")
    assert not offenders, (
        "direct F.lower( on a non-whitelisted file — route text "
        "case-folding through operators.text.fold_text_sx (JVM "
        f"SpecialCasing diverges from DuckDB): {offenders}"
    )


def test_no_unpinned_python_lower_in_udf_bodies():
    """Python str.lower applies the same SpecialCasing as the JVM; any
    ``.lower()`` in query/operator code must sit next to the İ/Σ
    pre-map (fold_text_py or its inlined form)."""
    offenders = []
    for py in PKG.rglob("*.py"):
        rel = py.relative_to(PKG).as_posix()
        text = py.read_text()
        for i, line in enumerate(text.splitlines(), 1):
            if re.search(r"\.lower\(\)", line) is None:
                continue
            if "for c" in line or "c.lower()" in line:
                continue  # column-name case checks, not text data
            if "İ" in line or "fold_text_py" in line:
                continue  # the pinned fold itself
            offenders.append(f"{rel}:{i}: {line.strip()}")
    assert not offenders, (
        "Python .lower() on text without the İ/Σ pre-map "
        f"(fold_text_py): {offenders}"
    )


@pytest.fixture(scope="module")
def gauntlet():
    return (
        "café İstanbul ΣΊΣΥΦΟΣ σίσυφος STRASSE ß ﬁﬂ 漢字 😀 "
        "a​b x y"
    )


def test_fold_text_matches_duckdb_lower(spark, gauntlet):
    from pyspark.sql import functions as F

    from oracle_to_cassandra_spark.operators.text import (
        fold_text_py,
        fold_text_sx,
    )

    df = spark.createDataFrame([(gauntlet,)], "t STRING")
    got = df.select(F.expr(fold_text_sx("t")).alias("x")).first()["x"]
    want = duckdb.sql("SELECT lower(?)", params=[gauntlet]).fetchone()[0]
    assert got == want
    assert fold_text_py(gauntlet) == want


def test_fold_is_per_codepoint_on_the_special_cases(spark, gauntlet):
    from pyspark.sql import functions as F

    from oracle_to_cassandra_spark.operators.text import fold_text_sx

    df = spark.createDataFrame(
        [("İ",), ("ΣΟΣ",), ("ς",)], "t STRING"
    )
    got = [r["x"] for r in df.select(F.expr(fold_text_sx("t")).alias("x")).collect()]
    # İ → single plain i (no combining dot), Σ → σ even word-finally,
    # pre-existing final sigma ς untouched
    assert got == ["i", "σοσ", "ς"]
