"""Text-analysis operators over the ``documents`` table (north-star
surface: language-ID, quality scoring, token counting, fingerprinting).

All hot-path expressions are JVM built-ins (split / higher-order array
functions / regexp) — no Python UDFs; at 100 TB these run inside
whole-stage codegen on the scan.

Each ``*_sx`` function returns a Spark-SQL string that callers wrap
in ``F.expr`` or a ``selectExpr`` term: the JVM parses the whole tree
in one py4j round trip instead of one round trip per Column node.
The ``*_sql`` functions are the DuckDB oracle forms of the same
formulas.
"""

from __future__ import annotations

#: tiny fixed stopword sets per language for the lang-ID heuristic and
#: quality scoring (deterministic; mirrored literally into the SQL
#: oracles)
EN_STOPWORDS = ("the", "a", "of", "and", "to")

#: BPE-ish tokenizer: letter runs, digit runs, single punctuation
BPE_ISH_PATTERN = "[a-z]+|[0-9]+|[^a-z0-9 ]"


def fold_text_py(s: str) -> str:
    """Python-string form of :func:`fold_text_sx` — CPython's
    ``str.lower`` applies the same two SpecialCasing rules as the JVM,
    so UDF/UDTF tokenizers need the same pre-map to stay on the pinned
    fold."""
    return s.replace("İ", "i").replace("Σ", "σ").lower()


def fold_text_sx(expr: str) -> str:
    """The engine's PINNED case fold: per-codepoint lower-case.

    JVM ``toLowerCase`` (root locale) applies exactly two
    SpecialCasing rules that per-codepoint folders — utf8proc, and
    with it DuckDB and most non-JVM text stacks — do not:

    * U+0130 İ (Turkish dotted capital I) expands to ``i`` + U+0307
      COMBINING DOT ABOVE (two codepoints) instead of plain ``i``;
    * U+03A3 Σ lowers CONTEXT-SENSITIVELY to final sigma ``ς`` at a
      word end instead of the per-codepoint ``σ``.

    Either one silently diverges every token, shingle, hash, and
    quality score downstream (caught live by the unicode stress
    sweep — 42 queries at once). Pre-mapping those two codepoints
    BEFORE ``lower`` bypasses both special cases — pre-existing
    lowercase ``ς`` in the source is untouched, matching utf8proc —
    so the pinned fold equals per-codepoint lowercase for all of
    Unicode at the JVM's Unicode version, while staying JVM-side
    codegen (one translate). Known residual: codepoints added after
    the JVM's Unicode version (e.g. U+1C89, Unicode 16) still fold
    differently; they are outside the corpus contract.

    Python form for UDF/UDTF paths: ``fold_text_py``."""
    return f"lower(translate({expr}, 'İΣ', 'iσ'))"


def tokens_sx(expr: str) -> str:
    """Whitespace tokenization of case-folded text (``fold_text_sx``)."""
    return f"split({fold_text_sx(expr)}, ' ')"


def shingles_sx(tok_expr: str, k: int = 3) -> str:
    """k-word shingles — the n-gram unit for MinHash/Jaccard dedup.
    Empty when the doc has fewer than k tokens.

    Built by folding ``zip_with`` over k−1 shifted slices of the token
    array: the token expression is evaluated a CONSTANT number of
    times per row. The earlier ``transform(sequence(1, n−k+1),
    i -> element_at(tok, i+j))`` form re-evaluated ``tok`` (a split)
    per ELEMENT — higher-order functions are CodegenFallback with no
    common-subexpression elimination, so that was O(n²) per document
    (the same trap measured at 4× on bigrams). zip_with pads the
    shorter slice with NULL; ``concat`` propagates the NULL and the
    final slice to n−k+1 drops those tail elements.

    ``tok_expr`` should be a cheap reference, normally a column name:
    it is spliced ``k+1`` times."""
    n = f"size({tok_expr})"
    acc = tok_expr
    for j in range(1, k):
        acc = (
            f"zip_with({acc}, slice({tok_expr}, {j + 1}, "
            f"greatest({n} - {j}, 1)), (x, y) -> concat(x, ' ', y))"
        )
    return (
        f"CASE WHEN {n} >= {k} THEN slice({acc}, 1, {n} - {k - 1}) "
        f"ELSE CAST(array() AS ARRAY<STRING>) END"
    )


def shingles_sql(tokens_expr: str, k: int = 3) -> str:
    """DuckDB form of :func:`shingles_sx` (1-based list indexing)."""
    parts = " || ' ' || ".join(f"{tokens_expr}[i+{j}]" for j in range(k))
    return (
        f"list_transform(range(1, greatest(len({tokens_expr}) - {k - 2}, 1)),"
        f" i -> {parts})"
    )


_SW_IN_SX = "('" + "', '".join(EN_STOPWORDS) + "')"


def stopword_ratio_sx(tok_expr: str) -> str:
    """Share of tokens in the default stopword set."""
    return (
        f"(size(filter({tok_expr}, t -> t IN {_SW_IN_SX})) / "
        f"greatest(size({tok_expr}), 1))"
    )


def quality_score_sx(text_expr: str) -> str:
    """Composite quality score ∈ [0,1]: vocabulary diversity +
    non-stopword density + length credit. Deterministic formula,
    mirrored in the SQL oracle (double literals carry the ``D`` suffix
    so they parse as DOUBLE). Use as a FILTER/RANK key only (both
    engines evaluate the identical double chain); COMPARE columns
    must use :func:`quality_micro_sx` — a 6-dp round of this value
    ties exactly when the token count carries a factor of 2^7 the
    numerator can't cancel (n = 128, 640, ... — reachable)."""
    tok = tokens_sx(text_expr)
    n = f"greatest(size({tok}), 1)"
    diversity = f"(size(array_distinct({tok})) / {n})"
    hits = f"size(filter({tok}, t -> t IN {_SW_IN_SX}))"
    non_stop = f"(1 - ({hits} / {n}))"
    length_credit = f"least(size({tok}) / 100.0D, 1.0D)"
    return f"(((0.4D * {diversity}) + (0.4D * {non_stop})) + (0.2D * {length_credit}))"


def quality_micro_sx(text_expr: str) -> str:
    """EXACT int64 micro-unit quality — the compare-column form of
    :func:`quality_score_sx`:

        (400000·(d + n − s) + 2000·min(n, 100)·n) div n

    with d = distinct tokens, s = stopword hits, n = max(tokens, 1).
    Pure integer arithmetic (numerator < 1.1e6·n, far inside int64),
    identical floor semantics in both engines at any scale. The
    numerator is first rounded down to a multiple of n, so the double
    division is exact (quotient < 2^53)."""
    tok = tokens_sx(text_expr)
    n = f"CAST(greatest(size({tok}), 1) AS BIGINT)"
    d = f"CAST(size(array_distinct({tok})) AS BIGINT)"
    s = f"CAST(size(filter({tok}, t -> t IN {_SW_IN_SX})) AS BIGINT)"
    num = f"(400000 * (({d} + {n}) - {s}) + (2000 * least({n}, CAST(100 AS BIGINT))) * {n})"
    return f"CAST(({num} - {num} % {n}) / {n} AS BIGINT)"


def quality_micro_sql(tok_sql: str, sw_sql: str) -> str:
    """DuckDB form of :func:`quality_micro_sx`."""
    n = f"greatest(len({tok_sql}), 1)"
    d = f"len(list_distinct({tok_sql}))"
    s = f"len(list_filter({tok_sql}, t -> t IN {sw_sql}))"
    return (
        f"((400000 * ({d} + {n} - {s})"
        f" + 2000 * least({n}, 100) * {n}) // {n})"
    )
