"""Corpus-quality curation operators: PII redaction, C4-style
duplicated-span statistics, and OOV-rate against a corpus-derived
vocabulary.

Extends the reference's static relational surface
(`/root/reference/README.md:877`) with the remaining
document-hygiene passes a pretraining-data build runs before
tokenization: scrub contact strings, measure cross-document span
duplication (the C4 "three-sentence" rule, word-segment granularity
here), and report tokenizer-vocabulary coverage. Everything is
JVM-side built-ins — regexp, explode, keyed aggregation — no Python
in the hot path.

The synthetic corpus contains no PII (no digits or '@' anywhere), so
the redaction query first APPENDS deterministic synthetic contact
strings derived from (doc_id, source) — identically in Spark and the
DuckDB oracle — and then redacts them; counts and the md5 of the
redacted text are compared value-for-value, keeping the check
non-vacuous (the trap ADVICE round 2 flagged on top_bigrams_corpus).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from oracle_to_cassandra_spark.operators.text import (
    EN_STOPWORDS,
    fold_text_sx,
    quality_micro_sql,
    quality_micro_sx,
    tokens_sx,
)
from oracle_to_cassandra_spark.registry import query
from oracle_to_cassandra_spark.sources import load_table

_TOK_SQL = "string_split(lower(text), ' ')"
_SW_SQL = "(" + ", ".join(f"'{w}'" for w in EN_STOPWORDS) + ")"

#: redaction patterns — Java regex (Spark) and RE2 (DuckDB) agree on
#: this subset: character classes, +, literal dot escapes
EMAIL_RE = r"[a-z0-9.-]+@[a-z0-9.-]+\.com"
PHONE_RE = r"555-[0-9]+"

#: non-overlapping word-segment width for span-duplication stats
#: (C4 uses three sentences; the synthetic corpus has no sentence
#: boundaries, so fixed 8-token segments stand in)
SEG_W = 8

#: vocabulary size for OOV coverage (corpus vocabulary is 31 tokens,
#: so a top-20 vocab yields non-trivial OOV ratios)
VOCAB_K = 20


@query(
    "pii_redaction_stats",
    oracle=f"""
    WITH aug AS (
      SELECT doc_id,
             text || ' contact user' || doc_id::VARCHAR || '@' || source
                  || '.example.com or 555-0' || (doc_id % 100)::VARCHAR
                  || CASE WHEN doc_id % 3 = 0
                          THEN ' alt ' || source || '-team@mail-example.com'
                          ELSE '' END AS t
      FROM documents
    )
    SELECT doc_id,
           len(regexp_extract_all(t, '{EMAIL_RE}'))::BIGINT AS n_emails,
           len(regexp_extract_all(t, '{PHONE_RE}'))::BIGINT AS n_phones,
           md5(regexp_replace(regexp_replace(t, '{EMAIL_RE}', '<EMAIL>', 'g'),
                              '{PHONE_RE}', '<PHONE>', 'g')) AS redacted_md5
    FROM aug
    """,
)
def pii_redaction_stats(spark, sf_dir):
    """PII scrubbing pass: count and mask email/phone strings, emit
    the redacted text's md5 so the oracle verifies the REPLACEMENT
    byte-for-byte, not just the counts.

    Scale: pure per-row regexp inside whole-stage codegen — no
    shuffle at all; at 100 TB this runs at scan speed and the
    redacted column is written back columnar. Patterns are anchored
    to the deterministic synthetic contact strings appended above
    (the corpus itself contains no '@' or digits — see module
    docstring)."""
    d = load_table(spark, sf_dir, "documents")
    aug = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@"),
        F.col("source"),
        F.lit(".example.com or 555-0"),
        (F.col("doc_id") % 100).cast("string"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit(" alt "), F.col("source"), F.lit("-team@mail-example.com")),
        ).otherwise(F.lit("")),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(aug, EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
    )
    return d.select(
        "doc_id",
        F.regexp_count(aug, F.lit(EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count(aug, F.lit(PHONE_RE)).cast("long").alias("n_phones"),
        F.md5(redacted).alias("redacted_md5"),
    )


@query(
    "duplicate_span_stats",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, {_TOK_SQL} AS ws FROM documents
    ),
    segs AS (
      SELECT doc_id,
             unnest(list_transform(
               range(((len(ws) + {SEG_W - 1}) // {SEG_W})::INT),
               i -> array_to_string(ws[(i * {SEG_W} + 1):(i * {SEG_W} + {SEG_W})], ' ')
             )) AS seg
      FROM w
    ),
    df AS (
      SELECT seg, count(DISTINCT doc_id) AS df FROM segs GROUP BY seg
    ),
    per AS (
      SELECT s.doc_id,
             count(*) AS n_segments,
             sum(CASE WHEN d.df > 1 THEN 1 ELSE 0 END) AS n_dup
      FROM segs s JOIN df d USING (seg)
      GROUP BY s.doc_id
    )
    SELECT doc_id,
           n_segments::BIGINT AS n_segments,
           n_dup::BIGINT AS n_dup_segments,
           (n_dup * 1000000 // n_segments)::BIGINT AS dup_ratio_ppm
    FROM per
    """,
)
def duplicate_span_stats(spark, sf_dir):
    """C4-style cross-document span duplication: chop each document
    into non-overlapping {SEG_W}-token segments, count how many of a
    document's segments also occur verbatim in at least one OTHER
    document — the per-document signal behind "remove any span that
    repeats across the corpus" curation rules.

    Scale: segments are md5-hashed to 128-bit keys BEFORE the
    corpus-wide aggregation, so both the document-frequency groupBy
    and the join back to per-doc stats shuffle 16-byte hashes, never
    segment text; the df table is vocabulary-of-segments sized. The
    per-doc rollup re-uses the same doc_id hash partitioning. Cites
    the segment slicing to the same slice/transform built-ins the
    reference's Scala examples use for column math
    (`/root/reference/README.md:592-607`) — declarative, no UDF."""
    d = load_table(spark, sf_dir, "documents")
    w = d.select("doc_id", F.expr(tokens_sx("text")).alias("ws"))
    segs = w.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, cast(ceil(size(ws) / {SEG_W}.0) AS INT) - 1),"
                f" i -> array_join(slice(ws, i * {SEG_W} + 1, {SEG_W}), ' '))"
            )
        ).alias("seg"),
    ).select("doc_id", F.md5("seg").alias("h"))
    df_counts = segs.groupBy("h").agg(F.count_distinct("doc_id").alias("df"))
    per = (
        segs.join(df_counts, "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_segments"),
            F.sum(F.when(F.col("df") > 1, 1).otherwise(0)).alias("n_dup"),
        )
    )
    return per.select(
        "doc_id",
        F.col("n_segments").cast("long").alias("n_segments"),
        F.col("n_dup").cast("long").alias("n_dup_segments"),
        F.expr("n_dup * 1000000 div n_segments").alias("dup_ratio_ppm"),
    )


@query(
    "oov_rate_top_vocab",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TOK_SQL}) AS t FROM documents
    ),
    vocab AS (
      SELECT t FROM (
        SELECT t, count(*) AS c FROM tok GROUP BY t
      ) ORDER BY c DESC, t LIMIT {VOCAB_K}
    ),
    per AS (
      SELECT tok.doc_id,
             count(*) AS n_tokens,
             sum(CASE WHEN v.t IS NULL THEN 1 ELSE 0 END) AS n_oov
      FROM tok LEFT JOIN vocab v ON tok.t = v.t
      GROUP BY tok.doc_id
    )
    SELECT doc_id,
           n_tokens::BIGINT AS n_tokens,
           n_oov::BIGINT AS n_oov,
           (n_oov * 1000000 // n_tokens)::BIGINT AS oov_ratio_ppm
    FROM per
    """,
)
def oov_rate_top_vocab(spark, sf_dir):
    """Tokenizer-vocabulary coverage: derive a top-{VOCAB_K} vocabulary
    from corpus term frequencies (rank ties broken lexically for
    determinism), then report each document's out-of-vocabulary token
    count and ratio — the signal that decides whether a tokenizer
    retrain or a byte-fallback is needed before a data refresh.

    Scale: phase 1 is a map-side-combined token count (shuffle is
    vocabulary-sized); the top-K vocab is a few KB and BROADCAST into
    phase 2, so the per-document pass is a scan + broadcast hash join
    + one doc_id aggregation — no corpus-sized shuffle carries token
    strings twice. In production the vocab table is the tokenizer's
    real vocab file loaded once."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.expr(tokens_sx("text"))).alias("t"))
    vocab = (
        tok.groupBy("t")
        .agg(F.count("*").alias("c"))
        .orderBy(F.desc("c"), "t")
        .limit(VOCAB_K)
        .select("t", F.lit(True).alias("in_vocab"))
    )
    per = (
        tok.join(F.broadcast(vocab), "t", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0)).alias("n_oov"),
        )
    )
    return per.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_oov").cast("long").alias("n_oov"),
        F.expr("n_oov * 1000000 div n_tokens").alias("oov_ratio_ppm"),
    )


#: Gopher-style rule thresholds (Rae et al. 2021 §A1.1, adapted to the
#: synthetic corpus so every rule has both passing and failing docs —
#: a rule that never fires is a vacuous check)
MIN_WORDS = 40
MWL_LO, MWL_HI = 4.0, 5.0
MIN_DIVERSITY = 0.45
MIN_STOPWORDS = 2


def gopher_rule_flags(text: str) -> dict:
    """The four Gopher rule expressions over a raw text SQL expression
    (normally a column name) — the ONE Spark-side rule battery. Both
    the batch report (``gopher_quality_rules``) and the streaming gate
    (``stream_gopher_quality_gate``) compose from these flags, so an
    expression-form fix (e.g. a tokenizer-fold change) propagates to
    every consumer instead of silently forking the twins."""
    ts = F.expr(tokens_sx(text))
    mwl = F.aggregate(
        F.transform(ts, F.length),
        F.lit(0.0),
        lambda acc, x: acc + x,
    ) / F.size(ts)
    return {
        "r_len": F.size(ts) >= MIN_WORDS,
        "r_mwl": (mwl >= MWL_LO) & (mwl <= MWL_HI),
        "r_div": F.size(F.array_distinct(ts)) / F.size(ts) >= MIN_DIVERSITY,
        "r_stop": (
            F.size(
                F.array_distinct(F.filter(ts, lambda t: t.isin(*EN_STOPWORDS)))
            )
            >= MIN_STOPWORDS
        ),
    }


def gopher_pass_expr(text: str):
    """AND of all four rules — the keep/drop gate expression."""
    flags = gopher_rule_flags(text)
    return flags["r_len"] & flags["r_mwl"] & flags["r_div"] & flags["r_stop"]


def gopher_rule_sql(ts: str = "ts") -> dict:
    """DuckDB twins of :func:`gopher_rule_flags`, over a token-list
    column expression — the ONE SQL-side rule battery. Every oracle
    that checks the Gopher gate (the batch report below, the
    streaming gate in ``queries/streaming.py``) composes from these
    strings, so a tokenizer or threshold edit propagates to all of
    them instead of leaving a hand-copied twin stale."""
    return {
        "r_len": f"(len({ts}) >= {MIN_WORDS})",
        "r_mwl": (
            f"(list_avg(list_transform({ts}, t -> len(t)))"
            f" BETWEEN {MWL_LO} AND {MWL_HI})"
        ),
        "r_div": (
            f"(len(list_distinct({ts})) * 1.0 / len({ts})"
            f" >= {MIN_DIVERSITY})"
        ),
        "r_stop": (
            f"(len(list_distinct(list_filter({ts}, t -> t IN {_SW_SQL})))"
            f" >= {MIN_STOPWORDS})"
        ),
    }


def gopher_pass_sql(ts: str = "ts") -> str:
    """AND of all four SQL rules — the oracle's keep/drop gate."""
    r = gopher_rule_sql(ts)
    return f"({r['r_len']} AND {r['r_mwl']} AND {r['r_div']} AND {r['r_stop']})"


_G = gopher_rule_sql("ts")


@query(
    "gopher_quality_rules",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, source, {_TOK_SQL} AS ts FROM documents
    ),
    rules AS (
      SELECT doc_id, source,
             {_G['r_len']} AS r_len,
             {_G['r_mwl']} AS r_mwl,
             {_G['r_div']} AS r_div,
             {_G['r_stop']} AS r_stop
      FROM tok
    )
    SELECT source,
           count(*)::BIGINT AS n_docs,
           sum((NOT r_len)::INT)::BIGINT AS fail_word_count,
           sum((NOT r_mwl)::INT)::BIGINT AS fail_mean_word_len,
           sum((NOT r_div)::INT)::BIGINT AS fail_diversity,
           sum((NOT r_stop)::INT)::BIGINT AS fail_stopwords,
           sum((r_len AND r_mwl AND r_div AND r_stop)::INT)::BIGINT AS n_pass_all,
           (sum((r_len AND r_mwl AND r_div AND r_stop)::INT)
            * 1000000 // count(*))::BIGINT AS retention_ppm
    FROM rules GROUP BY source
    """,
)
def gopher_quality_rules(spark, sf_dir):
    """Gopher-style quality-rule battery (Rae et al. 2021): per-source
    report of how many documents each rule rejects — minimum word
    count, mean-word-length window, type/token diversity floor, and a
    stopword-presence floor — plus the all-rules retention ratio. The
    per-rule fail counts are what a curation run inspects before
    committing a filter config; retention is the headline number.

    Scale: the whole rule battery is higher-order array functions on
    the tokenized text — filter/transform/aggregate inside whole-stage
    codegen on the scan, one row out per document, then a map-side
    partial aggregate to the handful of source keys. No shuffle
    carries text; the only exchange is source-keyed partial counts.
    Mean word length is a left-fold over the token array in BOTH
    engines (identical operand order → bit-identical doubles), so the
    BETWEEN threshold cannot flip across engines.

    Extends the reference's static filter surface
    (`/root/reference/README.md:877`) to the rule-report shape its
    WHERE-clause examples cannot express without N passes."""
    d = load_table(spark, sf_dir, "documents")
    flags = gopher_rule_flags("text")
    rules = d.select(
        "source", *[expr.alias(name) for name, expr in flags.items()]
    )
    pass_all = F.col("r_len") & F.col("r_mwl") & F.col("r_div") & F.col("r_stop")
    return rules.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum((~F.col("r_len")).cast("int")).cast("long").alias("fail_word_count"),
        F.sum((~F.col("r_mwl")).cast("int")).cast("long").alias("fail_mean_word_len"),
        F.sum((~F.col("r_div")).cast("int")).cast("long").alias("fail_diversity"),
        F.sum((~F.col("r_stop")).cast("int")).cast("long").alias("fail_stopwords"),
        F.sum(pass_all.cast("int")).cast("long").alias("n_pass_all"),
        F.expr(
            "sum(CAST((r_len AND r_mwl AND r_div AND r_stop) AS INT))"
            " * 1000000 div count(*)"
        ).alias("retention_ppm"),
    )


@query(
    "quality_quantile_normalization",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, source,
             {{qm}} AS q_micro
      FROM documents
    ),
    ranked AS (
      SELECT doc_id, source, q_micro,
             percent_rank() OVER (PARTITION BY source
                                  ORDER BY q_micro, doc_id) AS pr
      FROM scored
    ),
    gq AS (
      SELECT list_sort(list(q_micro)) AS gs FROM scored
    ),
    norm AS (
      -- interpolation between INTEGER micro scores, emitted as the
      -- nearest integer via floor(v+0.5) on the identical double
      SELECT r.source,
             CAST(floor(gs[CAST(floor(r.pr * (len(gs) - 1)) AS INT) + 1]
                          * (1.0 - (r.pr * (len(gs) - 1)
                                    - floor(r.pr * (len(gs) - 1))))
                      + gs[CAST(ceil(r.pr * (len(gs) - 1)) AS INT) + 1]
                          * (r.pr * (len(gs) - 1)
                             - floor(r.pr * (len(gs) - 1)))
                      + 0.5) AS BIGINT) AS norm_q_micro
      FROM ranked r, gq
    )
    SELECT source,
           count(*)::BIGINT AS n_docs,
           min(norm_q_micro)::BIGINT AS min_norm_micro,
           max(norm_q_micro)::BIGINT AS max_norm_micro,
           (sum(norm_q_micro)::BIGINT // count(*)) AS mean_norm_micro
    FROM norm GROUP BY source
    """.replace(
        "{qm}",
        quality_micro_sql(
            "string_split(lower(text), ' ')",
            "('the', 'a', 'of', 'and', 'to')",
        ),
    ),
)
def quality_quantile_normalization(spark, sf_dir):
    """Batch-effect correction across sources: map every document's
    quality score onto the GLOBAL quality distribution by quantile
    (each doc's within-source percent-rank looked up in the corpus
    quantile function) — so a systematically-easy source can't flood
    the 'high quality' bucket just because its raw scores run hot.
    Reported per source: the normalized score range and mean (summed
    as integer micro-units — the rounding-boundary-proof form).

    Scale: within-source percent_rank partitions by source; the
    global quantile lookup is against the corpus score distribution
    (at 100 TB: an approx-quantile SKETCH of it, broadcast — same
    plan with the sketch swapped in; here exact interpolation so the
    oracle is value-exact). No all-pairs anything."""
    d = load_table(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        "source",
        F.expr(quality_micro_sx("text")).alias("q_micro"),
    )
    w_src = Window.partitionBy("source").orderBy("q_micro", "doc_id")
    ranked = scored.withColumn("pr", F.percent_rank().over(w_src))
    # global quantile lookup: exact percentile of the corpus quality
    # distribution at each doc's percent-rank. percentile() needs a
    # constant fraction, so interpolate manually against the sorted
    # global scores: rank r in [0, n-1] → position pr*(n-1), linear
    # between floor and ceil neighbors — the textbook quantile_cont.
    glob = scored.select(
        F.sort_array(F.collect_list("q_micro")).alias("gs")
    )
    joined = ranked.crossJoin(F.broadcast(glob))
    pos = F.col("pr") * (F.size("gs") - 1)
    lo = F.floor(pos).cast("int")
    hi = F.ceil(pos).cast("int")
    frac = pos - lo
    norm = (
        F.element_at("gs", lo + 1) * (1.0 - frac)
        + F.element_at("gs", hi + 1) * frac
    )
    # nearest-integer emission via floor(v+0.5) on the identical
    # double — no repr-vs-binary round ties
    out = joined.select(
        "source", F.floor(norm + 0.5).cast("long").alias("norm_q_micro")
    )
    return out.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.min("norm_q_micro").alias("min_norm_micro"),
        F.max("norm_q_micro").alias("max_norm_micro"),
        F.expr("sum(norm_q_micro) div count(*)").alias("mean_norm_micro"),
    )


_QUALITY_SQL_LOCAL = (
    "(0.4 * (len(list_distinct(string_split(lower(text), ' '))) * 1.0"
    " / greatest(len(string_split(lower(text), ' ')), 1))"
    " + 0.4 * (1 - len(list_filter(string_split(lower(text), ' '),"
    " t -> t IN ('the', 'a', 'of', 'and', 'to'))) * 1.0"
    " / greatest(len(string_split(lower(text), ' ')), 1))"
    " + 0.2 * least(len(string_split(lower(text), ' ')) / 100.0, 1.0))"
)


@query(
    "robust_quality_outliers",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, source, {{qm}} AS q_micro FROM documents
    ),
    med AS (
      -- median of INTEGER micro scores: x.0 or x.5 exactly (doubles
      -- representable), deterministic in both engines with no rounds
      SELECT source, quantile_cont(q_micro, 0.5) AS med
      FROM scored GROUP BY source
    ),
    dev AS (
      SELECT s.source, s.q_micro, m.med,
             abs(s.q_micro - m.med) AS adev
      FROM scored s JOIN med m USING (source)
    ),
    mad AS (
      -- median of half-grid deviations: exact multiples of 0.25
      SELECT source, quantile_cont(adev, 0.5) AS mad
      FROM dev GROUP BY source
    )
    SELECT d.source,
           count(*)::BIGINT AS n_docs,
           CAST(any_value(d.med) * 2 AS BIGINT) AS median_micro_x2,
           CAST(any_value(m.mad) * 4 AS BIGINT) AS mad_micro_x4,
           sum(CASE WHEN m.mad > 0
                         AND abs(d.q_micro - d.med) > 3 * 1.4826 * m.mad
                    THEN 1 ELSE 0 END)::BIGINT AS n_outliers
    FROM dev d JOIN mad m USING (source)
    GROUP BY d.source
    """.replace(
        "{qm}",
        quality_micro_sql(
            "string_split(lower(text), ' ')",
            "('the', 'a', 'of', 'and', 'to')",
        ),
    ),
)
def robust_quality_outliers(spark, sf_dir):
    """Robust per-source outlier detection on the quality score:
    median + MAD (the estimators a fat-tailed score demands — mean
    and stddev are dragged by the very outliers being hunted), with
    the standard 1.4826 consistency constant and a 3σ-equivalent
    fence. Output per source: median, MAD, and how many documents
    sit outside the fence — the triage count a curation operator
    reviews before tightening a filter.

    Scale: two quantile passes per source group (exact here, sketch
    at 100 TB — same plan) and one fenced count; medians/MADs are
    rounded to 6 dp in BOTH engines before the fence compare, so the
    boundary cannot flip cross-engine."""
    d = load_table(spark, sf_dir, "documents")
    scored = d.select(
        "source", F.expr(quality_micro_sx("text")).alias("q_micro")
    )
    # median of INTEGER micro scores is x.0/x.5 exactly; deviations
    # sit on the half grid and their median on the quarter grid — all
    # exactly representable, so every compare and the ·2/·4 integer
    # emissions are deterministic with zero rounds anywhere
    med = scored.groupBy("source").agg(
        F.percentile("q_micro", F.lit(0.5)).alias("med")
    )
    dev = scored.join(F.broadcast(med), "source").select(
        "source",
        "q_micro",
        "med",
        F.abs(F.col("q_micro") - F.col("med")).alias("adev"),
    )
    mad = dev.groupBy("source").agg(
        F.percentile("adev", F.lit(0.5)).alias("mad")
    )
    fenced = dev.join(F.broadcast(mad), "source")
    return fenced.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        (F.any_value("med") * 2).cast("long").alias("median_micro_x2"),
        (F.any_value("mad") * 4).cast("long").alias("mad_micro_x4"),
        F.sum(
            F.when(
                (F.col("mad") > 0)
                & (
                    F.abs(F.col("q_micro") - F.col("med"))
                    > 3 * 1.4826 * F.col("mad")
                ),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_outliers"),
    )


@query(
    "text_normalization_stats",
    oracle="""
    WITH dirty AS (
      SELECT doc_id,
             text || '  ' || upper(source) || chr(9) || ' MiXeD'
                  || repeat(' ', (doc_id % 4)::INT + 2) || 'TaIl ' AS t
      FROM documents
    ),
    norm AS (
      SELECT doc_id, t,
             trim(regexp_replace(replace(lower(t), chr(9), ' '),
                                 ' +', ' ', 'g')) AS clean
      FROM dirty
    )
    SELECT doc_id,
           length(t)::INT AS n_chars_dirty,
           length(clean)::INT AS n_chars_clean,
           (length(t) - length(clean))::INT AS n_removed,
           md5(clean) AS clean_md5
    FROM norm
    """,
)
def text_normalization_stats(spark, sf_dir):
    """Text-normalization pass — the cleanup stage upstream of every
    tokenizer: case folding, tab → space, whitespace-run collapse,
    edge trim. The synthetic corpus is already clean, so deterministic
    dirt (mixed case, a real TAB character, doc_id-dependent space
    runs) is APPENDED identically in both engines first — the same
    non-vacuousness discipline as the PII redaction query — and the
    oracle verifies the cleaned text byte-for-byte via md5, not just
    the counts.

    Scale: pure per-row string built-ins inside codegen at scan
    speed; no shuffle; at 100 TB the normalized column writes back
    columnar next to the raw, versioned by the normalizer config
    hash."""
    d = load_table(spark, sf_dir, "documents")
    dirty_sx = (
        "concat(text, '  ', upper(source), char(9), ' MiXeD', "
        "repeat(' ', cast(doc_id % 4 AS INT) + 2), 'TaIl ')"
    )
    dirty = F.expr(dirty_sx)
    clean = F.trim(
        F.regexp_replace(
            F.replace(F.expr(fold_text_sx(dirty_sx)), F.expr("char(9)"), F.lit(" ")),
            " +",
            " ",
        )
    )
    return d.select(
        "doc_id",
        F.length(dirty).cast("int").alias("n_chars_dirty"),
        F.length(clean).cast("int").alias("n_chars_clean"),
        (F.length(dirty) - F.length(clean)).cast("int").alias("n_removed"),
        F.md5(clean).alias("clean_md5"),
    )


@query(
    "observed_ingest_metrics",
    oracle="""
    -- all-zeros (never NULL) on an empty ingest: counts, and a
    -- coalesced byte sum — the funnel report of nothing is zeros
    SELECT count(*)::BIGINT AS n_total,
           coalesce(sum(n_chars), 0)::BIGINT AS total_chars,
           count(CASE WHEN len(string_split(lower(text), ' ')) < 20
                      THEN 1 END)::BIGINT AS n_short,
           count(CASE WHEN len(string_split(lower(text), ' ')) >= 20
                      THEN 1 END)::BIGINT AS n_kept
    FROM documents
    """,
)
def observed_ingest_metrics(spark, sf_dir):
    """The ``Observation`` API — pipeline telemetry WITHOUT a second
    scan: named aggregate metrics attach to a plan node and are
    collected as a side effect of the job that runs anyway. Here an
    ingest-shaped pipeline (scan → length gate → sink) observes input
    volume, byte mass, and gate reject/keep counts in its single
    pass, then RETURNS the observed metrics as the query result so
    the DuckDB twin certifies the side channel end-to-end (a broken
    listener or a metrics/data mismatch fails the hash compare).

    This is how a 100 TB curation job reports its funnel: the
    alternative — re-aggregating the input and the output — doubles
    the scan cost; observe() rides the write. The one-row
    ``createDataFrame`` at the end carries four LISTENER-delivered
    longs to the driver, the same bounded-metadata channel as a JDBC
    bounds fetch, not a data collect."""
    from pyspark.sql import Observation

    d = load_table(spark, sf_dir, "documents")
    n_tok = F.size(F.expr(tokens_sx("text")))
    obs = Observation("ingest_funnel")
    observed = d.observe(
        obs,
        # counts + coalesced sum: an empty ingest observes zeros, not
        # NULLs (int(None) crashed the metric carry-over on the
        # empty-dataset stress sweep)
        F.count(F.lit(1)).alias("n_total"),
        F.coalesce(F.sum("n_chars"), F.lit(0)).alias("total_chars"),
        F.count(F.when(n_tok < 20, 1)).alias("n_short"),
        F.count(F.when(n_tok >= 20, 1)).alias("n_kept"),
    )
    gated = observed.filter(n_tok >= 20)
    # the action the metrics ride on — the pipeline's own sink write
    gated.write.format("noop").mode("overwrite").save()
    m = obs.get
    return spark.createDataFrame(
        [
            (
                int(m["n_total"]),
                int(m["total_chars"]),
                int(m["n_short"]),
                int(m["n_kept"]),
            )
        ],
        "n_total long, total_chars long, n_short long, n_kept long",
    )
