"""Dataset-card roll-up: the per-source datasheet a curation run
publishes next to a training corpus (Gebru et al., "Datasheets for
Datasets") — volume, token mass, mean quality, exact-duplication rate,
and language mix, one row per source, composed from the same formulas
the per-doc queries use (operators/text.py mirrored into SQL).

Scale: one documents scan computes every per-doc metric inline
(codegen); the only corpus-sized shuffle is the md5-keyed duplicate
count (16-byte keys, map-side combined); everything else aggregates to
source-count-sized tables, and the language-mix branch joins back
broadcast. Float hygiene: the mean quality is summed as integer
micro-units so the per-source average cannot flip on a rounding
boundary between engines (the class ADVICE r5 flagged).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from oracle_to_cassandra_spark.operators import text as TX
from oracle_to_cassandra_spark.queries.text_analysis import _SW, _TOK
from oracle_to_cassandra_spark.registry import query
from oracle_to_cassandra_spark.sources import load_table

_CARD_SQL = f"""
    WITH per_doc AS (
      SELECT doc_id, source, lang,
             len({_TOK})::BIGINT AS n_tokens,
             {TX.quality_micro_sql(_TOK, _SW)}::BIGINT AS q_micro,
             md5(text) AS h
      FROM documents
    ),
    dup AS (
      SELECT h, count(*) AS df FROM per_doc GROUP BY h
    ),
    base AS (
      SELECT p.source,
             count(*)::BIGINT AS n_docs,
             sum(p.n_tokens)::BIGINT AS total_tokens,
             (sum(p.q_micro)::BIGINT // count(*)) AS mean_quality_micro,
             sum(CASE WHEN d.df > 1 THEN 1 ELSE 0 END)::BIGINT AS n_exact_dup_docs,
             (sum(CASE WHEN d.df > 1 THEN 1 ELSE 0 END) * 1000000 // count(*))
               ::BIGINT AS dup_ratio_ppm,
             count(DISTINCT p.lang)::BIGINT AS n_langs
      FROM per_doc p JOIN dup d USING (h)
      GROUP BY p.source
    ),
    lc AS (
      SELECT source, lang, count(*) AS c FROM per_doc GROUP BY source, lang
    ),
    top_lang AS (
      -- share must be windowed BEFORE the rn filter (WHERE runs before
      -- window functions in the same SELECT, which would make every
      -- share 1.0)
      SELECT source, lang AS top_lang, share_ppm AS top_lang_share_ppm FROM (
        SELECT source, lang,
               row_number() OVER (PARTITION BY source
                                  ORDER BY c DESC,
                                           lang NULLS FIRST) AS rn,
               (c * 1000000 // sum(c) OVER (PARTITION BY source))::BIGINT
                 AS share_ppm
        FROM lc
      ) WHERE rn = 1
    )
    SELECT b.source, b.n_docs, b.total_tokens, b.mean_quality_micro,
           b.n_exact_dup_docs, b.dup_ratio_ppm, b.n_langs,
           t.top_lang, t.top_lang_share_ppm
    FROM base b JOIN top_lang t USING (source)
    """


@query("dataset_card_per_source", oracle=_CARD_SQL)
def dataset_card_per_source(spark, sf_dir):
    """One datasheet row per source: document count, total whitespace
    tokens, mean composite quality, exact-duplicate incidence (md5 of
    the full text, corpus-wide), language count, and the dominant
    language with its share — the summary table a data-governance
    review reads before a corpus ships to training."""
    d = load_table(spark, sf_dir, "documents")
    tok = F.expr(TX.tokens_sx("text"))
    per_doc = d.select(
        "doc_id",
        "source",
        "lang",
        F.size(tok).cast("long").alias("n_tokens"),
        F.expr(TX.quality_micro_sx("text")).alias("q_micro"),
        F.md5("text").alias("h"),
    )
    dup = per_doc.groupBy("h").agg(F.count("*").alias("df"))
    joined = per_doc.join(dup, "h")
    base = joined.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        # exact integer micro-mean / ppm ratio (int64 div): final
        # float rounds over divisions tie-flip between engines
        F.expr("sum(q_micro) div count(*)").alias("mean_quality_micro"),
        F.sum(F.when(F.col("df") > 1, 1).otherwise(0))
        .cast("long")
        .alias("n_exact_dup_docs"),
        F.expr(
            "sum(CASE WHEN df > 1 THEN 1 ELSE 0 END) * 1000000 div count(*)"
        ).alias("dup_ratio_ppm"),
        F.count_distinct("lang").alias("n_langs"),
    )
    lc = per_doc.groupBy("source", "lang").agg(F.count("*").alias("c"))
    # lang is a nullable tiebreak: NULL placement pinned explicitly
    # (Spark ASC defaults nulls-first, DuckDB nulls-last — the
    # null-injection stress class; see tests/test_null_robustness_guard)
    w_rank = Window.partitionBy("source").orderBy(
        F.desc("c"), F.asc_nulls_first("lang")
    )
    w_tot = Window.partitionBy("source")
    top_lang = (
        lc.withColumn("rn", F.row_number().over(w_rank))
        .withColumn("tot", F.sum("c").over(w_tot))
        .filter(F.col("rn") == 1)
        .select(
            "source",
            F.col("lang").alias("top_lang"),
            F.expr("c * 1000000 div tot").alias("top_lang_share_ppm"),
        )
    )
    return base.join(F.broadcast(top_lang), "source").select(
        "source", "n_docs", "total_tokens", "mean_quality_micro",
        "n_exact_dup_docs", "dup_ratio_ppm", "n_langs", "top_lang",
        "top_lang_share_ppm",
    )


#: incremental split shared with the PQ/LSH incremental ops
_NEW_MOD = 7
_PSI_BUCKETS = 10  #: token-length decade bins 0..9 (10-99 tokens)


@query(
    "token_length_psi_drift",
    oracle=f"""
    WITH tagged AS (
      SELECT least(len(string_split(lower(text), ' ')) // 10, {_PSI_BUCKETS - 1})
               AS bucket,
             (doc_id % 10 = {_NEW_MOD}) AS is_new
      FROM documents
    ),
    b(bucket) AS (SELECT unnest(range({_PSI_BUCKETS}))),
    counts AS (
      SELECT b.bucket,
             coalesce(sum(CASE WHEN NOT t.is_new THEN 1 ELSE 0 END), 0)
               AS n_snapshot,
             coalesce(sum(CASE WHEN t.is_new THEN 1 ELSE 0 END), 0) AS n_new
      FROM b LEFT JOIN tagged t ON t.bucket = b.bucket
      GROUP BY b.bucket
    ),
    tot AS (
      SELECT sum(n_snapshot) AS ns, sum(n_new) AS nn FROM counts
    )
    SELECT c.bucket::INT AS bucket,
           c.n_snapshot::BIGINT AS n_snapshot,
           c.n_new::BIGINT AS n_new,
           ((c.n_snapshot + 1) * 1000000 // (t.ns + {_PSI_BUCKETS}))::BIGINT
             AS p_ppm,
           ((c.n_new + 1) * 1000000 // (t.nn + {_PSI_BUCKETS}))::BIGINT
             AS q_ppm,
           round(((c.n_new + 1.0) / (t.nn + {_PSI_BUCKETS})
                  - (c.n_snapshot + 1.0) / (t.ns + {_PSI_BUCKETS}))
                 * ln(((c.n_new + 1.0) / (t.nn + {_PSI_BUCKETS}))
                      / ((c.n_snapshot + 1.0) / (t.ns + {_PSI_BUCKETS}))), 6)
             AS psi_term
    FROM counts c, tot t
    """,
)
def token_length_psi_drift(spark, sf_dir):
    """Population-stability-index drift report between the indexed
    corpus snapshot (doc_id % 10 != {_NEW_MOD}) and the arriving
    batch: token-length decade buckets, Laplace-smoothed shares on
    both sides, and each bucket's PSI contribution — sum the column
    and apply the usual 0.1/0.25 watch/act thresholds. This is the
    monitoring twin of the incremental encode ops: mean quantization
    error says the EMBEDDING distribution moved; PSI says the TEXT
    length distribution moved, before it poisons packing efficiency.

    Scale: one scan tags (bucket, side) per row; the aggregate is
    {_PSI_BUCKETS} rows built from map-side partials; the bucket
    spine join guarantees empty buckets still report (Laplace
    smoothing keeps their log finite). Both engines evaluate the
    identical smoothed-ratio expression, so ln() operand equality
    makes the rounded terms match."""
    d = load_table(spark, sf_dir, "documents")
    n_tok = F.size(F.expr(TX.tokens_sx("text")))
    tagged = d.select(
        F.least(F.floor(n_tok / 10), F.lit(_PSI_BUCKETS - 1)).alias("bucket"),
        (F.col("doc_id") % 10 == _NEW_MOD).alias("is_new"),
    )
    spine = spark.range(_PSI_BUCKETS).select(F.col("id").alias("bucket"))
    counts = (
        spine.join(tagged, "bucket", "left")
        .groupBy("bucket")
        .agg(
            F.coalesce(
                F.sum(F.when(~F.col("is_new"), 1).otherwise(0)), F.lit(0)
            ).alias("n_snapshot"),
            F.coalesce(
                F.sum(F.when(F.col("is_new"), 1).otherwise(0)), F.lit(0)
            ).alias("n_new"),
        )
    )
    tot = counts.agg(
        F.sum("n_snapshot").alias("ns"), F.sum("n_new").alias("nn")
    )
    p = (F.col("n_snapshot") + 1.0) / (F.col("ns") + _PSI_BUCKETS)
    q = (F.col("n_new") + 1.0) / (F.col("nn") + _PSI_BUCKETS)
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            F.col("bucket").cast("int").alias("bucket"),
            F.col("n_snapshot").cast("long").alias("n_snapshot"),
            F.col("n_new").cast("long").alias("n_new"),
            # smoothed shares in exact integer ppm (int64 div); the
            # ln-based psi_term keeps its float round — its operand
            # doubles are identical in both engines and generic (no
            # reachable repr-tie class), audited in the guard test
            F.expr(f"(n_snapshot + 1) * 1000000 div (ns + {_PSI_BUCKETS})")
            .alias("p_ppm"),
            F.expr(f"(n_new + 1) * 1000000 div (nn + {_PSI_BUCKETS})")
            .alias("q_ppm"),
            F.round((q - p) * F.log(q / p), 6).alias("psi_term"),
        )
    )


@query(
    "quality_length_regression_per_source",
    oracle=f"""
    WITH scored AS (
      SELECT source,
             len(string_split(lower(text), ' ')) * 1.0 AS x,
             {TX.quality_micro_sql(_TOK, _SW)} * 1.0 AS y
      FROM documents
    )
    SELECT source,
           count(*)::BIGINT AS n_docs,
           round(regr_slope(y, x), 5) AS slope_micro,
           round(regr_intercept(y, x), 5) AS intercept_micro,
           round(regr_r2(y, x), 5) AS r2
    FROM scored GROUP BY source
    """,
)
def quality_length_regression_per_source(spark, sf_dir):
    """Confound diagnostic for the quality score: per source, the OLS
    fit of quality against document length (slope, intercept, R²) —
    if R² runs high, the "quality" filter is secretly a length
    filter and the curation config needs a length-orthogonal score.
    This is the per-GROUP regression shape (one model per source in
    a single aggregate pass), complementing the corpus-wide regr_*
    coverage in stats_funcs.

    Scale: regr_* aggregates are mergeable second-moment partials —
    map-side combined, one shuffle to the source keys, no second
    scan. Rounded at 5 dp: the slope/R² are ratios of
    second-moment sums whose cross-engine difference is bounded by
    accumulation order at ~1e-12 relative."""
    d = load_table(spark, sf_dir, "documents")
    x = F.size(F.expr(TX.tokens_sx("text"))).cast("double")
    # y in exact integer micro-quality (as double): the per-row
    # round(q, 6) form ties at uncancelled 2^7 token counts; slope/
    # intercept simply scale by 1e6, R² is scale-invariant
    y = F.expr(TX.quality_micro_sx("text")).cast("double")
    scored = d.select("source", x.alias("x"), y.alias("y"))
    return scored.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.round(F.regr_slope("y", "x"), 5).alias("slope_micro"),
        F.round(F.regr_intercept("y", "x"), 5).alias("intercept_micro"),
        F.round(F.regr_r2("y", "x"), 5).alias("r2"),
    )


@query(
    "corpus_snapshot_delta",
    oracle=f"""
    WITH tagged AS (
      SELECT doc_id, source, md5(text) AS h,
             len(string_split(lower(text), ' '))::BIGINT AS n_tokens,
             (doc_id % 10 = {_NEW_MOD}) AS is_new
      FROM documents
    ),
    snap_hashes AS (
      SELECT DISTINCT h FROM tagged WHERE NOT is_new
    ),
    per AS (
      SELECT t.source,
             sum(CASE WHEN t.is_new THEN 0 ELSE 1 END)::BIGINT AS n_docs_snapshot,
             sum(CASE WHEN t.is_new THEN 1 ELSE 0 END)::BIGINT AS n_docs_new,
             sum(CASE WHEN t.is_new THEN 0 ELSE t.n_tokens END)::BIGINT
               AS tokens_snapshot,
             sum(CASE WHEN t.is_new THEN t.n_tokens ELSE 0 END)::BIGINT
               AS tokens_new,
             sum(CASE WHEN t.is_new AND s.h IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
               AS n_new_already_in_snapshot
      FROM tagged t LEFT JOIN snap_hashes s ON t.h = s.h
      GROUP BY t.source
    )
    SELECT source, n_docs_snapshot, n_docs_new, tokens_snapshot, tokens_new,
           n_new_already_in_snapshot,
           (n_docs_new * 1000000 // greatest(n_docs_snapshot, 1))::BIGINT
             AS growth_ppm
    FROM per
    """,
)
def corpus_snapshot_delta(spark, sf_dir):
    """The "what changed in this drop" report: per source, snapshot
    vs arriving-batch document and token volumes, the growth ratio,
    and — the dedup early-warning — how many NEW documents are exact
    copies of something already indexed (md5 membership against the
    snapshot). Read together with the PSI drift report this is the
    go/no-go page for admitting a drop into the lake.

    Scale: one scan tags side and hashes text; the membership check
    is a 16-byte-key join against the snapshot hash set (at 100 TB: a
    bloom filter of the snapshot hashes, broadcast — same plan with
    the probabilistic structure swapped in); aggregation is
    source-keyed with map-side partials."""
    d = load_table(spark, sf_dir, "documents")
    tagged = d.select(
        "source",
        F.md5("text").alias("h"),
        F.size(F.expr(TX.tokens_sx("text"))).cast("long").alias("n_tokens"),
        (F.col("doc_id") % 10 == _NEW_MOD).alias("is_new"),
    )
    snap = tagged.filter(~F.col("is_new")).select("h").distinct().withColumn(
        "seen", F.lit(True)
    )
    joined = tagged.join(snap, "h", "left")
    per = joined.groupBy("source").agg(
        F.sum(F.when(~F.col("is_new"), 1).otherwise(0))
        .cast("long")
        .alias("n_docs_snapshot"),
        F.sum(F.when(F.col("is_new"), 1).otherwise(0))
        .cast("long")
        .alias("n_docs_new"),
        F.sum(F.when(~F.col("is_new"), F.col("n_tokens")).otherwise(0))
        .cast("long")
        .alias("tokens_snapshot"),
        F.sum(F.when(F.col("is_new"), F.col("n_tokens")).otherwise(0))
        .cast("long")
        .alias("tokens_new"),
        F.sum(
            F.when(F.col("is_new") & F.col("seen").isNotNull(), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_new_already_in_snapshot"),
    )
    return per.select(
        "source",
        "n_docs_snapshot",
        "n_docs_new",
        "tokens_snapshot",
        "tokens_new",
        "n_new_already_in_snapshot",
        F.expr(
            "n_docs_new * 1000000 div greatest(n_docs_snapshot, 1L)"
        ).alias("growth_ppm"),
    )
