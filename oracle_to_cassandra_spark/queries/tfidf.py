"""Corpus statistics: TF-IDF weights and n-gram frequency — the
feature-extraction stage between text cleaning and model training.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from oracle_to_cassandra_spark.operators import text as TX
from oracle_to_cassandra_spark.registry import query
from oracle_to_cassandra_spark.sources import load_table

_TOK = "string_split(lower(text), ' ')"


@query(
    "tfidf_top_terms",
    oracle=f"""
    WITH tokens AS (
      SELECT doc_id, unnest({_TOK}) AS term FROM documents
    ),
    tf AS (
      SELECT doc_id, term, count(*)::BIGINT AS tf FROM tokens GROUP BY doc_id, term
    ),
    df AS (
      SELECT term, count(DISTINCT doc_id)::BIGINT AS df FROM tokens GROUP BY term
    ),
    n AS (SELECT count(*)::BIGINT AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             round(tf.tf * ln(n.n_docs / df.df), 6) AS tfidf
      FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
    )
    SELECT doc_id, term, tfidf FROM (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf DESC, term)::BIGINT AS rn
      FROM scored
    ) WHERE rn <= 3
    """,
)
def tfidf_top_terms(spark, sf_dir):
    """TF-IDF: term frequency × inverse document frequency, top-3
    terms per document.

    Scale/plan: the token stream is exploded and aggregated ONCE
    (tf by doc,term); document frequency is then a window count over
    the tf rows — tf rows are already distinct (doc, term), so
    ``count(*) over (partition by term)`` IS df. This replaces the
    earlier second explode+groupBy over the raw token stream (the
    token stream is corpus-sized; tf is vocabulary×doc-sized) and the
    df join. Three exchanges total, all on the compact tf relation."""
    docs = load_table(spark, sf_dir, "documents")
    tokens = docs.select(
        "doc_id", F.explode(F.expr(TX.tokens_sx("text"))).alias("term")
    )
    tf = tokens.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    w_df = Window.partitionBy("term")
    scored = (
        tf.withColumn("df", F.count("*").over(w_df))
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf", F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6)
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "term", "tfidf")
    )


@query(
    "top_bigrams_corpus",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOK} AS t FROM documents),
    bigrams AS (
      SELECT unnest(list_transform(range(1, greatest(len(t), 1)),
                                   i -> t[i] || ' ' || t[i+1])) AS bigram
      FROM toks WHERE len(t) >= 2
    )
    SELECT bigram, count(*)::BIGINT AS freq FROM bigrams
    GROUP BY bigram
    HAVING count(*) >= greatest(5, (SELECT count(*) FROM documents) // 200)
    """,
)
def top_bigrams_corpus(spark, sf_dir):
    """Corpus-wide bigram frequency above a scale-aware floor —
    collocation statistics for tokenizer/vocab construction. Map-side
    partial counts keep the shuffle at vocabulary size, not
    token-stream size.

    The floor is ``max(5, n_docs / 200)`` rather than a constant: a
    fixed absolute count is vacuous at small SF (round 2's driver
    check compared two empty results) and too permissive at 100 TB,
    while a per-document rate holds the output at vocabulary scale
    across any corpus size.

    Plan note: bigrams are ``shingles_sx(tok, k=2)`` — the zip_with fold
    that evaluates the split array a constant number of times per ROW.
    The earlier ``transform(idx, i -> element_at(tok, i))`` form
    re-evaluated the split per ELEMENT (higher-order funcs are
    CodegenFallback with no subexpression elimination), i.e. O(n²)
    per document — measured 4× slower on the sf0.1 corpus."""
    docs = load_table(spark, sf_dir, "documents")
    # tokenize once behind a projection barrier (operators/dedup.py)
    toked = docs.select(F.expr(TX.tokens_sx("text")).alias("__tok"))
    bigrams = toked.select(
        F.explode(F.expr(TX.shingles_sx("__tok", k=2))).alias("bigram")
    )
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    return (
        bigrams.groupBy("bigram")
        .agg(F.count("*").alias("freq"))
        .crossJoin(F.broadcast(n_docs))
        .filter(
            F.col("freq") >= F.greatest(F.lit(5), F.floor(F.col("n_docs") / 200))
        )
        .select("bigram", "freq")
    )


@query(
    "pmi_collocations_topk",
    oracle="""
    WITH tok AS (
      SELECT doc_id, string_split(lower(text), ' ') AS ts FROM documents
    ),
    uni AS (
      SELECT t, count(*)::BIGINT AS c FROM (
        SELECT unnest(ts) AS t FROM tok
      ) GROUP BY t
    ),
    n_uni AS (SELECT sum(c) AS n FROM uni),
    bi AS (
      SELECT b, count(*)::BIGINT AS c FROM (
        SELECT unnest(list_transform(range(len(ts) - 1),
                 i -> ts[i+1] || ' ' || ts[i+2])) AS b
        FROM tok WHERE len(ts) >= 2
      ) GROUP BY b
    ),
    n_bi AS (SELECT sum(c) AS n FROM bi)
    SELECT bigram, n_occurrences, pmi, rnk FROM (
      SELECT bi.b AS bigram, bi.c AS n_occurrences,
             round(ln((bi.c * 1.0 / nb.n)
                      / ((u1.c * 1.0 / nu.n) * (u2.c * 1.0 / nu.n))), 4)
               AS pmi,
             row_number() OVER (
               ORDER BY round(ln((bi.c * 1.0 / nb.n)
                      / ((u1.c * 1.0 / nu.n) * (u2.c * 1.0 / nu.n))), 4) DESC,
                 bi.b)::BIGINT AS rnk
      FROM bi
      JOIN uni u1 ON u1.t = string_split(bi.b, ' ')[1]
      JOIN uni u2 ON u2.t = string_split(bi.b, ' ')[2]
      CROSS JOIN n_uni nu CROSS JOIN n_bi nb
      WHERE bi.c >= 25
    ) WHERE rnk <= 15
    """,
)
def pmi_collocations_topk(spark, sf_dir):
    """Pointwise-mutual-information collocations: rank bigrams by
    ln(p(ab)/(p(a)p(b))) — the association measure that surfaces
    "fixed phrases" raw counts miss (a frequent bigram of two
    frequent words scores low; a pair that only ever occurs together
    scores high). A count floor (≥25) drops the unstable low-support
    tail before ranking; ties in the 4-dp-rounded PMI break lexically
    so both engines agree.

    Scale: unigram and bigram counts shuffle vocabulary-sized
    partials; the totals are 1-row broadcasts; the unigram joins hit
    a broadcast vocab table; ranking is distributed top-k. The
    tokenize/explode subtree is shared between the unigram and
    bigram branches via staging."""
    from oracle_to_cassandra_spark.staging import stage

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(F.expr(TX.tokens_sx("text")).alias("ts"))
    toks = stage(toks)
    uni = (
        toks.select(F.explode("ts").alias("t"))
        .groupBy("t")
        .agg(F.count("*").alias("uc"))
    )
    uni = stage(uni)
    n_uni = uni.agg(F.sum("uc").alias("nu"))
    bi = (
        toks.filter(F.size("ts") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(0, size(ts) - 2), "
                    "i -> concat(element_at(ts, i + 1), ' ', element_at(ts, i + 2)))"
                )
            ).alias("b")
        )
        .groupBy("b")
        .agg(F.count("*").alias("bc"))
        .filter(F.col("bc") >= 25)
    )
    n_bi = (
        toks.filter(F.size("ts") >= 2)
        .select((F.size("ts") - 1).alias("k"))
        .agg(F.sum("k").alias("nb"))
    )
    w1 = F.split(F.col("b"), " ").getItem(0)
    w2 = F.split(F.col("b"), " ").getItem(1)
    scored = (
        bi.join(F.broadcast(uni.select(F.col("t").alias("t1"), F.col("uc").alias("c1"))), w1 == F.col("t1"))
        .join(F.broadcast(uni.select(F.col("t").alias("t2"), F.col("uc").alias("c2"))), w2 == F.col("t2"))
        .crossJoin(F.broadcast(n_uni))
        .crossJoin(F.broadcast(n_bi))
        .select(
            F.col("b").alias("bigram"),
            F.col("bc").alias("n_occurrences"),
            F.round(
                F.log(
                    (F.col("bc") / F.col("nb"))
                    / ((F.col("c1") / F.col("nu")) * (F.col("c2") / F.col("nu")))
                ),
                4,
            ).alias("pmi"),
        )
    )
    top = scored.orderBy(F.desc("pmi"), "bigram").limit(15)
    from pyspark.sql import Window

    wk = Window.orderBy(F.desc("pmi"), "bigram")
    return top.select(
        "bigram",
        "n_occurrences",
        "pmi",
        F.row_number().over(wk).cast("long").alias("rnk"),
    ).orderBy("rnk")


@query(
    "zipf_fit_per_corpus",
    oracle="""
    WITH uni AS (
      SELECT t, count(*)::BIGINT AS c FROM (
        SELECT unnest(string_split(lower(text), ' ')) AS t FROM documents
      ) GROUP BY t
    ),
    ranked AS (
      SELECT ln(row_number() OVER (ORDER BY c DESC, t)) AS lx,
             ln(c) AS ly
      FROM uni
    )
    SELECT count(*)::BIGINT AS n_terms,
           round(regr_slope(ly, lx), 4) AS zipf_slope,
           round(regr_r2(ly, lx), 4) AS r2
    FROM ranked
    """,
)
def zipf_fit_per_corpus(spark, sf_dir):
    """Zipf's-law audit: OLS fit of log-frequency against log-rank
    over the whole vocabulary — natural corpora fit slope ≈ −1 with
    high R²; a synthetic or templated corpus (like this one) deviates,
    and THAT deviation is the fingerprint reviewers use to spot
    machine-generated or heavily-duplicated data sources before
    training on them.

    Scale: vocabulary-sized aggregation; the global rank over the
    vocabulary table is the only total-order op and it runs on
    vocab-count rows (thousands), not the corpus. Slope/R² are
    second-moment ratios rounded at 4 dp."""
    d = load_table(spark, sf_dir, "documents")
    uni = (
        d.select(F.explode(F.expr(TX.tokens_sx("text"))).alias("t"))
        .groupBy("t")
        .agg(F.count("*").alias("c"))
    )
    from pyspark.sql import Window

    wk = Window.orderBy(F.desc("c"), "t")
    ranked = uni.select(
        F.log(F.row_number().over(wk).cast("double")).alias("lx"),
        F.log(F.col("c").cast("double")).alias("ly"),
    )
    return ranked.agg(
        F.count("*").alias("n_terms"),
        F.round(F.regr_slope("ly", "lx"), 4).alias("zipf_slope"),
        F.round(F.regr_r2("ly", "lx"), 4).alias("r2"),
    )
