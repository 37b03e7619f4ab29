"""Build invariant-breaking STRESS datasets from sf0.1.

Differential sweeps at sf0.001/0.01/0.1 all share the generator's
invariants (key ranges, FK closure, unique texts, no NULLs, balanced
keys), so they cannot catch fixture-coupled oracle/implementation
drift — the class where both engines agree only because the data
happens to satisfy an invariant neither text states (round 8's live
instance: `gdpr_delete_propagation` relied on events.user_id ⊆
customer keys).

Nine modes, each breaking a different invariant class while
preserving the properties correctness depends on (key uniqueness for
deterministic tie-breaks, FK consistency, declared non-null keys):

``--mode shift`` (default — the original stress set):
- facts (customer, orders, lineitem, events, documents, embeddings)
  are doubled: copy 0 verbatim, copy 1 with all primary/foreign keys
  shifted by +1_000_000 consistently;
- events.user_id in copy 1 shifts by +3_000_000 — OUTSIDE both
  customer key ranges, so any oracle silently assuming user_id ⊆
  customer keys diverges loudly;
- document texts are NOT changed, so every doc has an exact duplicate
  under a different id — dedup/fingerprint paths run at a 100% dup
  rate instead of the generator's planted rate;
- dimensions (region, nation, supplier, part) stay single-copy, so
  fact→dim joins fan 2×.

``--mode skew`` — one hot key per fan-out axis (the generator emits
near-uniform keys; production never does):
- 30% of orders remap o_custkey to the MIN customer key;
- 30% of lineitem remap l_partkey / l_suppkey to the MIN part /
  supplier keys ((l_orderkey, l_linenumber) uniqueness untouched);
- 30% of events remap user_id to the MIN customer key;
- 50% of documents collapse lang to the corpus's most common lang.
  Every group-by/join/window keyed on these columns now sees a hot
  partition; answers must still match DuckDB exactly (hot keys change
  COST, never correctness — a tie-break that secretly leaned on
  balanced groups diverges here).

``--mode empty`` — every table present with the right schema and ZERO
rows: the empty-source/empty-partition knife edge (aggregates over
nothing, percentiles of the empty set, windows with no partitions,
n−1 divisions at n=0). A 100 TB pipeline sees empty inputs on every
backfill; both engines must agree on what nothing looks like.

``--mode tiny`` — the first 7 rows of every table by leading key: the
n=1-per-group / single-partition knife edge (stddev of one sample,
percent_rank's n−1, `sequence(0, n-2)` at n=1), plus DANGLING foreign
keys (kept orders reference un-kept customers), which left/anti/outer
join paths must treat identically in both engines.

``--mode temporal`` — timestamp/date knife edges injected into 40% of
events and slices of orders/lineitem: instants spanning the
America/New_York DST spring-forward gap and fall-back overlap (the
hours a hand-rolled offset gets wrong), pre-epoch (negative int64)
timestamps, leap-day and year-boundary dates, and end-of-day
microsecond edges. Timezone conversion, date_trunc/windows, range
joins, and watermark logic all cross these edges in production
backfills.

``--mode unicode`` — a multibyte gauntlet appended to 20% of document
texts (n_chars recomputed) and 1/29 customer names: accented latin,
CJK/Hangul, RTL arabic/hebrew, emoji, ligatures, Turkish İ, German ß,
combining marks, zero-width and non-breaking spaces, LIKE
metacharacters, quotes, tab/newline. Real corpus text IS this;
tokenizer/regex/case-fold/hash paths that secretly assume ASCII (or
where Java and utf8proc case-fold differently) diverge here.

``--mode gauntlet`` — ALL row-level axes composed on one dataset
(skew ∘ null ∘ unicode ∘ temporal, applied in that order per column),
then the shift-mode key-space doubling on top: interactions between
axes (a NULL lang on a unicode-gauntleted doc, a skewed hot user with
duplicate pre-epoch timestamps, a dangling shifted key with NULL
value) only exist here.

``--mode null`` — NULL/empty injection into the plausibly-nullable
business columns (keys, timestamps, and spec-mandated TPC-H measure
columns stay non-null; that's the documented data contract):
- customer.c_acctbal NULL where c_custkey % 37 = 0;
- events.value NULL where event_id % 41 = 0, events.props NULL where
  event_id % 43 = 0;
- documents.lang NULL where doc_id % 31 = 0, documents.text '' (empty,
  n_chars 0) where doc_id % 53 = 0 — empty docs stress every
  shingle/bigram/sequence guard (`sequence(0, n-2)` counts DOWN at
  n=1), NULL langs stress group-by-NULL and count(col)-vs-count(*)
  asymmetries between engines.

``--mode longdoc`` — every document's text replaced by 12 verbatim
repetitions of itself (n_chars recomputed): the document-LENGTH axis.
The generator emits ~100-token docs; production corpora have
100k-token documents and crawler-loop pages that are one passage
repeated thousands of times. Every per-doc pipeline stage (shingle
construction, position windows, substring spans, BPE pair counts,
quality ratios) must stay LINEAR in document length and exactly
match DuckDB at 12× the token count — a per-doc quadratic (the
higher-order-function re-evaluation trap) blows up here first, and
within-doc repetition at 100% rate stresses every dedup/repetition
signal's within-vs-cross-doc distinction.

``--mode bigvec`` — the embeddings table replaced by 12 key-shifted
VERBATIM copies of itself (vec_id + k*1M, vectors and labels
untouched; every other table verbatim): the vector-VOLUME axis, the
longdoc analog for the ANN/semantic-dedup family. 12 bit-identical
copies of every vector mean (a) every LSH/IVF bucket fans out 12×
(each candidate set grows 144× in pairs — a quadratic candidate
stage blows up here first), (b) every distance computation produces
EXACT score ties in blocks of 12, so any top-k / argmin that orders
by score alone (no id tiebreak) goes nondeterministic and fails the
hash compare, and (c) exact-duplicate vectors are what semantic
dedup exists to collapse — recall audits must hold at 100%
duplication, not degrade.

Output: .scratch/stress[_skew|_null]/ in the checkout (gitignored). Verify:
    python tools/make_stress_data.py --mode skew
    python tools/sf_sweep.py .scratch/stress_skew --out SKEW_SWEEP.json
"""

from __future__ import annotations

import os
import sys

import duckdb

SRC = os.environ.get("STRESS_SRC", "/root/testdata/sf0.1")
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OFF = 1_000_000
USER_OFF = 3_000_000

TABLES = (
    "region", "nation", "supplier", "part",
    "customer", "orders", "lineitem", "events", "documents", "embeddings",
)

#: per-table key-shift expressions for shift-mode copy 1 (None = dim)
SHIFTS: dict[str, dict[str, str] | None] = {
    "region": None,
    "nation": None,
    "supplier": None,
    "part": None,
    "customer": {"c_custkey": f"c_custkey + {OFF}"},
    "orders": {
        "o_orderkey": f"o_orderkey + {OFF}",
        "o_custkey": f"o_custkey + {OFF}",
    },
    "lineitem": {"l_orderkey": f"l_orderkey + {OFF}"},
    "events": {
        "event_id": f"event_id + {OFF}",
        "user_id": f"user_id + {USER_OFF}",
    },
    "documents": {"doc_id": f"doc_id + {OFF}"},
    "embeddings": {"vec_id": f"vec_id + {OFF}"},
}

#: skew-mode per-table column rewrites; {hot_*} placeholders resolve
#: to scalars probed from the source at build time
SKEWS: dict[str, dict[str, str]] = {
    "orders": {
        "o_custkey": "CASE WHEN o_orderkey % 10 < 3 THEN {hot_cust} "
                     "ELSE o_custkey END",
    },
    "lineitem": {
        "l_partkey": "CASE WHEN (l_orderkey * 7 + l_linenumber) % 10 < 3 "
                     "THEN {hot_part} ELSE l_partkey END",
        "l_suppkey": "CASE WHEN (l_orderkey * 7 + l_linenumber) % 10 < 3 "
                     "THEN {hot_supp} ELSE l_suppkey END",
    },
    "events": {
        "user_id": "CASE WHEN event_id % 10 < 3 THEN {hot_cust} "
                   "ELSE user_id END",
    },
    "documents": {
        "lang": "CASE WHEN doc_id % 2 = 0 THEN {hot_lang} ELSE lang END",
    },
}

#: null-mode per-table column rewrites (deterministic by key mod)
NULLS: dict[str, dict[str, str]] = {
    "customer": {
        "c_acctbal": "CASE WHEN c_custkey % 37 = 0 THEN NULL "
                     "ELSE c_acctbal END",
    },
    "events": {
        "value": "CASE WHEN event_id % 41 = 0 THEN NULL ELSE value END",
        "props": "CASE WHEN event_id % 43 = 0 THEN NULL ELSE props END",
    },
    "documents": {
        "lang": "CASE WHEN doc_id % 31 = 0 THEN NULL ELSE lang END",
        "text": "CASE WHEN doc_id % 53 = 0 THEN '' ELSE text END",
        "n_chars": "CASE WHEN doc_id % 53 = 0 THEN 0 ELSE n_chars END",
    },
}


def _cols(con, src: str) -> list[str]:
    return [d[0] for d in con.execute(f"DESCRIBE SELECT * FROM {src}").fetchall()]


def _copy_rewritten(con, table: str, src: str, dst: str,
                    rewrites: dict[str, str]) -> None:
    sel = ", ".join(
        f"({rewrites[c]}) AS {c}" if c in rewrites else c
        for c in _cols(con, src)
    )
    con.execute(f"COPY (SELECT {sel} FROM {src}) TO '{dst}' (FORMAT PARQUET)")


#: (table, column, stride) for every key SHIFTS displaces — validated
#: against the actual source before any shifted copy is written
_SHIFTED_KEYS = (
    ("customer", "c_custkey", OFF),
    ("orders", "o_orderkey", OFF),
    ("orders", "o_custkey", OFF),
    ("lineitem", "l_orderkey", OFF),
    ("events", "event_id", OFF),
    ("events", "user_id", USER_OFF),
    ("documents", "doc_id", OFF),
    ("embeddings", "vec_id", OFF),
)


def _check_shift_headroom(con) -> None:
    """Fail loudly if any source key reaches its shift stride: the
    shifted copy would collide with original ids (duplicate keys), and
    the resulting sweep divergence would be misattributed to the axis
    under test instead of the generator."""
    for table, col, stride in _SHIFTED_KEYS:
        (mx,) = con.execute(
            f"SELECT max({col}) FROM read_parquet('{SRC}/{table}.parquet')"
        ).fetchone()
        if mx is not None and mx >= stride:
            raise ValueError(
                f"shift stride {stride} collides: {table}.{col} max is "
                f"{mx} in {SRC} — raise OFF/USER_OFF for this source"
            )


def build_shift(con, out: str) -> None:
    _check_shift_headroom(con)
    for table in TABLES:
        src = f"read_parquet('{SRC}/{table}.parquet')"
        dst = os.path.join(out, f"{table}.parquet")
        shift = SHIFTS[table]
        if shift is None:
            con.execute(f"COPY (SELECT * FROM {src}) TO '{dst}' (FORMAT PARQUET)")
        else:
            shifted = ", ".join(
                f"({shift[c]})::BIGINT AS {c}" if c in shift else c
                for c in _cols(con, src)
            )
            con.execute(
                f"COPY (SELECT * FROM {src} "
                f"UNION ALL SELECT {shifted} FROM {src}) "
                f"TO '{dst}' (FORMAT PARQUET)"
            )


def build_skew(con, out: str) -> None:
    hot = {
        "hot_cust": con.execute(
            f"SELECT min(c_custkey) FROM read_parquet('{SRC}/customer.parquet')"
        ).fetchone()[0],
        "hot_part": con.execute(
            f"SELECT min(p_partkey) FROM read_parquet('{SRC}/part.parquet')"
        ).fetchone()[0],
        "hot_supp": con.execute(
            f"SELECT min(s_suppkey) FROM read_parquet('{SRC}/supplier.parquet')"
        ).fetchone()[0],
        "hot_lang": "'" + con.execute(
            f"SELECT lang FROM read_parquet('{SRC}/documents.parquet') "
            "GROUP BY lang ORDER BY count(*) DESC, lang LIMIT 1"
        ).fetchone()[0] + "'",
    }
    for table in TABLES:
        src = f"read_parquet('{SRC}/{table}.parquet')"
        dst = os.path.join(out, f"{table}.parquet")
        rw = {
            c: expr.format(**hot) for c, expr in SKEWS.get(table, {}).items()
        }
        _copy_rewritten(con, table, src, dst, rw)


def build_null(con, out: str) -> None:
    for table in TABLES:
        src = f"read_parquet('{SRC}/{table}.parquet')"
        dst = os.path.join(out, f"{table}.parquet")
        _copy_rewritten(con, table, src, dst, NULLS.get(table, {}))


#: the multibyte gauntlet (single-quote-free; appended as one token
#: stream so space-splitting tokenizers see each specimen)
UNI_GAUNTLET = (
    "café naïve Übung 漢字テスト 한국어 العربية עברית "
    "😀🚀🔥 ﬁﬂ ﬀ İstanbul STRASSE ß ΣΊΣΥΦΟΣ σίσυφος "
    "écombining a​zwsp x nbsp "
    "100% _like_ \\back\\ \"dquote\" tab\there nl\nend"
)


def build_unicode(con, out: str) -> None:
    g = UNI_GAUNTLET.replace("'", "''")
    rewrites = {
        "documents": {
            "text": f"CASE WHEN doc_id % 5 = 0 THEN text || ' ' || '{g}' "
                    "ELSE text END",
            "n_chars": f"CASE WHEN doc_id % 5 = 0 THEN "
                       f"length(text || ' ' || '{g}')::BIGINT "
                       "ELSE n_chars END",
        },
        "customer": {
            "c_name": "CASE WHEN c_custkey % 29 = 0 THEN "
                      "c_name || ' Ünïcode😀' ELSE c_name END",
        },
    }
    for table in TABLES:
        src = f"read_parquet('{SRC}/{table}.parquet')"
        dst = os.path.join(out, f"{table}.parquet")
        _copy_rewritten(con, table, src, dst, rewrites.get(table, {}))


#: temporal-mode rewrites, deterministic by key mod. Edge anchors:
#: 2024-03-10 06:30Z (NY spring-forward: 07:00Z jumps local 02:00→03),
#: 2024-11-03 04:30Z (NY fall-back: 06:00Z repeats local 01:00-02:00),
#: 1969-12-31 (pre-epoch, negative int64 micros), 2024-02-29 (leap),
#: 2023-12-31 23:59:59.999999 (year boundary at microsecond edge).
TEMPORAL: dict[str, dict[str, str]] = {
    "events": {
        "ts": (
            "CASE "
            "WHEN event_id % 10 = 0 THEN TIMESTAMP '2024-03-10 06:30:00' "
            "  + INTERVAL (event_id % 3600) SECOND "
            "WHEN event_id % 10 = 1 THEN TIMESTAMP '2024-11-03 04:30:00' "
            "  + INTERVAL (event_id % 7200) SECOND "
            "WHEN event_id % 10 = 2 THEN TIMESTAMP '1969-12-31 00:00:00' "
            "  + INTERVAL (event_id % 86400) SECOND "
            "WHEN event_id % 10 = 3 THEN TIMESTAMP '2023-12-31 23:59:59.999999' "
            "  + INTERVAL (event_id % 2) SECOND "
            "ELSE ts END"
        ),
    },
    "orders": {
        "o_orderdate": (
            "CASE "
            "WHEN o_orderkey % 11 = 0 THEN TIMESTAMP '2024-02-29 12:00:00' "
            "WHEN o_orderkey % 11 = 1 THEN TIMESTAMP '2000-02-29 00:00:00' "
            "WHEN o_orderkey % 11 = 2 THEN TIMESTAMP '2023-12-31 23:59:59' "
            "ELSE o_orderdate END"
        ),
    },
    "lineitem": {
        "l_shipdate": (
            "CASE "
            "WHEN (l_orderkey * 7 + l_linenumber) % 13 = 0 "
            "  THEN TIMESTAMP '2024-02-29 18:00:00' "
            "WHEN (l_orderkey * 7 + l_linenumber) % 13 = 1 "
            "  THEN TIMESTAMP '2024-01-01 00:00:00' "
            "ELSE l_shipdate END"
        ),
    },
}


def build_temporal(con, out: str) -> None:
    for table in TABLES:
        src = f"read_parquet('{SRC}/{table}.parquet')"
        dst = os.path.join(out, f"{table}.parquet")
        _copy_rewritten(con, table, src, dst, TEMPORAL.get(table, {}))


def _subst(expr: str, col: str, inner: str) -> str:
    """Replace bare references to ``col`` in ``expr`` with ``inner``
    (word-boundary match, so e.g. `user_id` never hits `event_id`)."""
    import re as _re

    return _re.sub(rf"\b{col}\b", f"({inner})", expr)


def build_gauntlet(con, out: str) -> None:
    """Compose skew ∘ null ∘ unicode ∘ temporal per column, then the
    shift-mode doubling on top (copy 1 gets the key shifts)."""
    _check_shift_headroom(con)
    g = UNI_GAUNTLET.replace("'", "''")
    hot = {
        "hot_cust": con.execute(
            f"SELECT min(c_custkey) FROM read_parquet('{SRC}/customer.parquet')"
        ).fetchone()[0],
        "hot_part": con.execute(
            f"SELECT min(p_partkey) FROM read_parquet('{SRC}/part.parquet')"
        ).fetchone()[0],
        "hot_supp": con.execute(
            f"SELECT min(s_suppkey) FROM read_parquet('{SRC}/supplier.parquet')"
        ).fetchone()[0],
        "hot_lang": "'" + con.execute(
            f"SELECT lang FROM read_parquet('{SRC}/documents.parquet') "
            "GROUP BY lang ORDER BY count(*) DESC, lang LIMIT 1"
        ).fetchone()[0] + "'",
    }
    uni_text = (
        f"CASE WHEN doc_id % 5 = 0 THEN text || ' ' || '{g}' ELSE text END"
    )
    composed: dict[str, dict[str, str]] = {
        "customer": {
            "c_acctbal": NULLS["customer"]["c_acctbal"],
            "c_name": "CASE WHEN c_custkey % 29 = 0 THEN "
                      "c_name || ' Ünïcode😀' ELSE c_name END",
        },
        "orders": {
            "o_custkey": SKEWS["orders"]["o_custkey"].format(**hot),
            "o_orderdate": TEMPORAL["orders"]["o_orderdate"],
        },
        "lineitem": {
            **{c: e.format(**hot) for c, e in SKEWS["lineitem"].items()},
            "l_shipdate": TEMPORAL["lineitem"]["l_shipdate"],
        },
        "events": {
            "user_id": SKEWS["events"]["user_id"].format(**hot),
            "value": NULLS["events"]["value"],
            "props": NULLS["events"]["props"],
            "ts": TEMPORAL["events"]["ts"],
        },
        "documents": {
            # null ∘ skew on lang; null(empty) ∘ unicode on text
            "lang": _subst(
                NULLS["documents"]["lang"], "lang",
                SKEWS["documents"]["lang"].format(**hot),
            ),
            "text": _subst(NULLS["documents"]["text"], "text", uni_text),
            "n_chars": (
                f"CASE WHEN doc_id % 53 = 0 THEN 0 "
                f"WHEN doc_id % 5 = 0 THEN length(text || ' ' || '{g}')::BIGINT "
                "ELSE n_chars END"
            ),
        },
    }
    for table in TABLES:
        src = f"read_parquet('{SRC}/{table}.parquet')"
        dst = os.path.join(out, f"{table}.parquet")
        rw = composed.get(table, {})
        cols = _cols(con, src)
        base_sel = ", ".join(
            f"({rw[c]}) AS {c}" if c in rw else c for c in cols
        )
        shift = SHIFTS[table]
        if shift is None:
            con.execute(
                f"COPY (SELECT {base_sel} FROM {src}) TO '{dst}' "
                "(FORMAT PARQUET)"
            )
        else:
            shifted_sel = ", ".join(
                f"({_subst(shift[c], c, rw[c]) if c in rw else shift[c]})"
                f"::BIGINT AS {c}"
                if c in shift
                else (f"({rw[c]}) AS {c}" if c in rw else c)
                for c in cols
            )
            con.execute(
                f"COPY (SELECT {base_sel} FROM {src} "
                f"UNION ALL SELECT {shifted_sel} FROM {src}) "
                f"TO '{dst}' (FORMAT PARQUET)"
            )


def build_longdoc(con, out: str) -> None:
    long_text = "rtrim(repeat(text || ' ', 12))"
    rewrites = {
        "documents": {
            "text": long_text,
            "n_chars": f"length({long_text})::BIGINT",
        },
    }
    for table in TABLES:
        src = f"read_parquet('{SRC}/{table}.parquet')"
        dst = os.path.join(out, f"{table}.parquet")
        _copy_rewritten(con, table, src, dst, rewrites.get(table, {}))


def build_bigvec(con, out: str) -> None:
    # key shift derived from the ACTUAL id range: a fixed 1e6 stride
    # would silently collide copies (duplicate vec_ids) the moment a
    # larger source's max vec_id reaches the stride, misattributing
    # any resulting sweep failure to the axis instead of the keys
    (shift,) = con.execute(
        f"SELECT max(vec_id) + 1 FROM "
        f"read_parquet('{SRC}/embeddings.parquet')"
    ).fetchone()
    if shift is None:
        # empty source: max() is NULL; any positive stride is
        # collision-free over zero rows (r10 ADVICE guard, mirrors
        # _check_shift_headroom's None branch)
        shift = 1
    copies = " UNION ALL ".join(
        f"SELECT (vec_id + {k * int(shift)})::BIGINT AS vec_id, "
        "embedding, label FROM src"
        for k in range(12)
    )
    for table in TABLES:
        src = f"read_parquet('{SRC}/{table}.parquet')"
        dst = os.path.join(out, f"{table}.parquet")
        if table == "embeddings":
            con.execute(
                f"COPY (WITH src AS (SELECT * FROM {src}) {copies}) "
                f"TO '{dst}' (FORMAT PARQUET)"
            )
        else:
            con.execute(
                f"COPY (SELECT * FROM {src}) TO '{dst}' (FORMAT PARQUET)"
            )


def build_empty(con, out: str) -> None:
    for table in TABLES:
        src = f"read_parquet('{SRC}/{table}.parquet')"
        dst = os.path.join(out, f"{table}.parquet")
        con.execute(
            f"COPY (SELECT * FROM {src} LIMIT 0) TO '{dst}' (FORMAT PARQUET)"
        )


def build_tiny(con, out: str) -> None:
    for table in TABLES:
        src = f"read_parquet('{SRC}/{table}.parquet')"
        dst = os.path.join(out, f"{table}.parquet")
        # ORDER BY every column before the LIMIT: the leading key alone
        # ties (lineitem has up to 7 rows per l_orderkey), which made
        # the selected row set nondeterministic across regenerations
        order = ", ".join(_cols(con, src))
        con.execute(
            f"COPY (SELECT * FROM {src} ORDER BY {order} LIMIT 7) "
            f"TO '{dst}' (FORMAT PARQUET)"
        )


def main() -> None:
    mode = "shift"
    args = sys.argv[1:]
    if "--mode" in args:
        mode = args[args.index("--mode") + 1]
    if mode not in ("shift", "skew", "null", "empty", "tiny", "unicode",
                    "temporal", "gauntlet", "longdoc", "bigvec"):
        raise SystemExit(f"unknown --mode {mode}")
    out = os.path.join(
        ROOT, ".scratch", "stress" if mode == "shift" else f"stress_{mode}"
    )
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    {"shift": build_shift, "skew": build_skew, "null": build_null,
     "empty": build_empty, "tiny": build_tiny,
     "unicode": build_unicode, "temporal": build_temporal,
     "gauntlet": build_gauntlet, "longdoc": build_longdoc,
     "bigvec": build_bigvec}[mode](con, out)
    for table in TABLES:
        dst = os.path.join(out, f"{table}.parquet")
        n = con.execute(
            f"SELECT count(*) FROM read_parquet('{dst}')"
        ).fetchone()[0]
        print(f"{table}: {n} rows")
    print(f"{mode} stress dataset at {out}")


if __name__ == "__main__":
    main()
