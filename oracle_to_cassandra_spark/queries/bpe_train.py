"""BPE tokenizer training (Sennrich et al. 2016), run declaratively:
{N_ROUNDS} merge rounds over the corpus vocabulary, each round = one
weighted pair count + one argmax + one greedy left-to-right rewrite —
the exact inner loop a real tokenizer build iterates ~30k times.

The engineering content is the REWRITE: BPE's greedy non-overlapping
merge ("aaaa" + merge(a,a) → "aa aa", not "aa a a") is a stateful
left-to-right scan, which both engines express as an identical string
fold (Spark ``aggregate``, DuckDB ``list_reduce``) over the symbol
list — same accumulator format ('·'-prefixed symbols), same CASE
logic, so the two engines cannot diverge on merge placement.

Scale: training runs on the DISTINCT-word vocabulary with frequencies
(the classic BPE trick — corpus size never re-enters after the first
count), so each round shuffles vocabulary-sized pair counts
(map-side combined) and broadcasts a single merge row back into a
map-side rewrite. State between rounds is the staged vocabulary table
(same iterative-algorithm handoff as Lloyd refinement and the
connected-components loop). Reference analog: the reference engine
has no iterative construct at all (`/root/reference/README.md:877`).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from oracle_to_cassandra_spark.operators import text as TX
from oracle_to_cassandra_spark.registry import query
from oracle_to_cassandra_spark.staging import stage
from oracle_to_cassandra_spark.sources import load_table

N_ROUNDS = 3

#: Spark ``sequence(1, 0)`` counts DOWN to ``[1, 0]`` for an empty
#: token, which would fabricate two empty symbols ('··') while the
#: DuckDB twin's ``range(0)`` folds to '' — so guard the empty case
#: explicitly (doubled/leading spaces in a doc yield '' tokens).
_CHARS_FOLD = (
    "CASE WHEN length(w) < 1 THEN '' ELSE "
    "aggregate(transform(sequence(1, length(w)), i -> substr(w, i, 1)), '', "
    "(acc, x) -> acc || '·' || x) END"
)

#: greedy left-to-right merge rewrite — the Spark text; the DuckDB twin
#: below differs only in function spellings (endswith/ends_with,
#: aggregate/list_reduce)
_MERGE_FOLD = (
    "aggregate(split(substring(sym, 2, 1000000), '·'), '', "
    "(acc, x) -> CASE WHEN acc <> '' AND endswith(acc, '·' || p1) AND x = p2 "
    "THEN substring(acc, 1, length(acc) - length(p1) - 1) || '·' || p1 || p2 "
    "ELSE acc || '·' || x END)"
)


def _round_sql(k: int) -> str:
    return f"""
    pairs{k} AS (
      SELECT p[1] AS p1, p[2] AS p2, sum(freq)::BIGINT AS cnt FROM (
        SELECT freq, unnest(list_transform(range(len(s) - 1),
                                           i -> [s[i+1], s[i+2]])) AS p
        FROM (SELECT freq, string_split(substr(sym, 2), '·') AS s
              FROM sym{k - 1})
      ) GROUP BY p1, p2
    ),
    top{k} AS (
      SELECT p1, p2, cnt FROM pairs{k} ORDER BY cnt DESC, p1, p2 LIMIT 1
    ),
    sym{k} AS (
      SELECT freq,
             list_reduce(list_prepend('', string_split(substr(sym, 2), '·')),
               (acc, x) -> CASE WHEN acc <> '' AND ends_with(acc, '·' || t.p1)
                                     AND x = t.p2
                           THEN substr(acc, 1, len(acc) - len(t.p1) - 1)
                                || '·' || t.p1 || t.p2
                           ELSE acc || '·' || x END) AS sym
      FROM sym{k - 1}, top{k} t
    )"""


_BPE_SQL = (
    """
    WITH vocab AS (
      SELECT w, count(*)::BIGINT AS freq FROM (
        SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents
      ) GROUP BY w
    ),
    sym0 AS (
      SELECT freq,
             list_reduce(list_prepend('',
               list_transform(range(len(w)), i -> substr(w, i + 1, 1))),
               (acc, x) -> acc || '·' || x) AS sym
      FROM vocab
    ),
    """
    + ",\n".join(_round_sql(k) for k in range(1, N_ROUNDS + 1))
    + "\n    "
    + "\n    UNION ALL ".join(
        f"SELECT {k}::BIGINT AS round, p1, p2, p1 || p2 AS merged,"
        f" cnt AS n_occurrences FROM top{k}"
        for k in range(1, N_ROUNDS + 1)
    )
    + "\n    ORDER BY round"
)


@query("bpe_train_merges", oracle=_BPE_SQL)
def bpe_train_merges(spark, sf_dir):
    """The first {N_ROUNDS} BPE merges learned from the corpus: per
    round the winning symbol pair, the merged token it creates, and
    its weighted occurrence count — the merge table that IS a trained
    tokenizer's artifact. Each round counts pairs over the rewritten
    vocabulary of the previous round, so later rounds can (and do)
    select pairs containing previously merged symbols."""
    d = load_table(spark, sf_dir, "documents")
    vocab = (
        d.select(F.explode(F.expr(TX.tokens_sx("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
    )
    words = vocab.select("freq", F.expr(_CHARS_FOLD).alias("sym"))
    # the vocabulary table is both pair-counted and rewritten each
    # round — stage it so each round's two consumers share one
    # materialization (iterative-state handoff, as in operators/graph)
    words = stage(words)
    merges = []
    for rnd in range(1, N_ROUNDS + 1):
        sdf = words.select(
            "freq", F.expr("split(substring(sym, 2, 1000000), '·')").alias("s")
        )
        pairs = (
            sdf.filter(F.size("s") >= 2)
            .select(
                "freq",
                F.explode(
                    F.expr(
                        "transform(sequence(0, size(s) - 2), "
                        "i -> struct(element_at(s, i + 1) AS p1, "
                        "element_at(s, i + 2) AS p2))"
                    )
                ).alias("p"),
            )
            .select("freq", "p.p1", "p.p2")
        )
        top = (
            pairs.groupBy("p1", "p2")
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.desc("cnt"), "p1", "p2")
            .limit(1)
        )
        top = stage(top, eager=True)
        merges.append(
            top.select(
                F.lit(rnd).cast("long").alias("round"),
                "p1",
                "p2",
                F.concat("p1", "p2").alias("merged"),
                F.col("cnt").alias("n_occurrences"),
            )
        )
        words = stage(
            words.crossJoin(F.broadcast(top.select("p1", "p2")))
            .withColumn("sym", F.expr(_MERGE_FOLD))
            .select("freq", "sym")
        )
    out = merges[0]
    for m in merges[1:]:
        out = out.union(m)
    return out.orderBy("round")


_APPLY_SQL = (
    """
    WITH vocab AS (
      SELECT w, count(*)::BIGINT AS freq FROM (
        SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents
      ) GROUP BY w
    ),
    sym0 AS (
      SELECT w, freq,
             list_reduce(list_prepend('',
               list_transform(range(len(w)), i -> substr(w, i + 1, 1))),
               (acc, x) -> acc || '·' || x) AS sym
      FROM vocab
    ),
    """
    + ",\n".join(
        _round_sql(k).replace(
            f"SELECT freq,\n             list_reduce",
            f"SELECT w, freq,\n             list_reduce",
        )
        for k in range(1, N_ROUNDS + 1)
    )
    + f"""
    ,
    final AS (
      SELECT w, len(string_split(substr(sym, 2), '·'))::BIGINT AS n_subwords
      FROM sym{N_ROUNDS}
    ),
    per_doc AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
      FROM documents
    )
    SELECT p.doc_id,
           count(*)::BIGINT AS n_words,
           sum(len(f.w))::BIGINT AS n_chars_tokenized,
           sum(f.n_subwords)::BIGINT AS n_subwords,
           (sum(len(f.w)) * 1000000 // sum(f.n_subwords))::BIGINT
             AS compression_ppm
    FROM per_doc p JOIN final f ON p.w = f.w
    GROUP BY p.doc_id
    """
)


@query("bpe_apply_tokenize", oracle=_APPLY_SQL)
def bpe_apply_tokenize(spark, sf_dir):
    """Apply the {N_ROUNDS} learned merges back to the corpus — the
    tokenizer's ENCODE step: per document, word count, character
    mass, sub-word count after merging, and the chars-per-subword
    compression ratio (the fertility metric that decides whether a
    merge table is worth shipping). Train-then-apply on the same
    declarative plan family: encoding reuses the vocabulary rewrite
    (words are encoded ONCE each, corpus-wide counts come from a
    vocabulary join — the same trick real tokenizers use via their
    word cache).

    Scale: the merge chain is {N_ROUNDS} broadcast-rewrites over the
    vocabulary table; the corpus join is token→vocab (broadcast: a
    vocabulary is always small next to its corpus) and one doc_id
    aggregate."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(F.expr(TX.tokens_sx("text"))).alias("w")
    )
    vocab = tok.groupBy("w").agg(F.count("*").alias("freq"))
    words = stage(vocab.select("w", "freq", F.expr(_CHARS_FOLD).alias("sym")))
    for _rnd in range(1, N_ROUNDS + 1):
        sdf = words.select(
            "freq", F.expr("split(substring(sym, 2, 1000000), '·')").alias("s")
        )
        pairs = (
            sdf.filter(F.size("s") >= 2)
            .select(
                "freq",
                F.explode(
                    F.expr(
                        "transform(sequence(0, size(s) - 2), "
                        "i -> struct(element_at(s, i + 1) AS p1, "
                        "element_at(s, i + 2) AS p2))"
                    )
                ).alias("p"),
            )
            .select("freq", "p.p1", "p.p2")
        )
        top = stage(
            pairs.groupBy("p1", "p2")
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.desc("cnt"), "p1", "p2")
            .limit(1),
            eager=True,
        )
        words = stage(
            words.crossJoin(F.broadcast(top.select("p1", "p2")))
            .withColumn("sym", F.expr(_MERGE_FOLD))
            .select("w", "freq", "sym")
        )
    final = words.select(
        "w",
        F.size(F.split(F.expr("substring(sym, 2, 1000000)"), "·"))
        .cast("long")
        .alias("n_subwords"),
    )
    return (
        tok.join(F.broadcast(final), "w")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            F.sum(F.length("w")).cast("long").alias("n_chars_tokenized"),
            F.sum("n_subwords").cast("long").alias("n_subwords"),
            # exact integer ppm — a float round over the int/int ratio
            # ties at the half-micro across engines
            F.expr(
                "sum(length(w)) * 1000000 div sum(n_subwords)"
            ).alias("compression_ppm"),
        )
    )


@query(
    "tokenizer_fertility_per_lang",
    oracle=f"""
    SELECT d.lang,
           count(*)::BIGINT            AS n_docs,
           sum(a.n_words)::BIGINT      AS n_words,
           sum(a.n_subwords)::BIGINT   AS n_subwords,
           (sum(a.n_subwords) * 1000000 // sum(a.n_words))::BIGINT
             AS fertility_ppm,
           (sum(a.n_chars_tokenized) * 1000000 // sum(a.n_subwords))::BIGINT
             AS chars_per_subword_ppm
    FROM ({_APPLY_SQL}) a JOIN documents d USING (doc_id)
    GROUP BY d.lang
    """,
)
def tokenizer_fertility_per_lang(spark, sf_dir):
    """Tokenizer FERTILITY table per language — THE standard
    multilingual-tokenizer evaluation: average sub-words emitted per
    whitespace word (fertility) and characters absorbed per sub-word,
    by language. A tokenizer trained on skewed language mixtures
    inflates fertility for the under-represented languages, which
    silently taxes their effective context length and training
    compute; this rollup is how that tax is detected before a vocab
    ships. Builds on the declarative BPE encode
    (`bpe_apply_tokenize`): same merge table, same corpus, one extra
    broadcast-joined lang lookup and a per-lang aggregate. Ratios in
    exact integer ppm (int64 sums, one `div` each).

    Scale: identical to the encode it wraps — {N_ROUNDS} broadcast
    vocabulary rewrites, token→vocab broadcast join — plus a doc_id
    join to the lang column and a ≤#langs-row aggregate."""
    per_doc = bpe_apply_tokenize(spark, sf_dir)
    langs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return (
        per_doc.join(langs, "doc_id")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_words").alias("n_words"),
            F.sum("n_subwords").alias("n_subwords"),
            F.expr(
                "sum(n_subwords) * 1000000L div sum(n_words)"
            ).alias("fertility_ppm"),
            F.expr(
                "sum(n_chars_tokenized) * 1000000L div sum(n_subwords)"
            ).alias("chars_per_subword_ppm"),
        )
    )
