"""Text-analysis queries over ``documents`` (north-star: token
counting, quality scoring, language-ID heuristic, fingerprinting).
Every formula lives once in ``operators/text.py`` and is mirrored
literally into the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from oracle_to_cassandra_spark.functions.hashing import MERSENNE_P, base31_sql, base31_sx
from oracle_to_cassandra_spark.operators import text as TX
from oracle_to_cassandra_spark.registry import query
from oracle_to_cassandra_spark.staging import stage
from oracle_to_cassandra_spark.sources import load_table

_SW = "('the', 'a', 'of', 'and', 'to')"  # EN_STOPWORDS as SQL literal
_TOK = "string_split(lower(text), ' ')"

#: shared DuckDB fragments mirroring operators/text.py — composite
#: queries (corpus_curation_pipeline) embed these so the formulas
#: exist once per engine
STOP_RATIO_SQL = (
    f"(len(list_filter({_TOK}, t -> t IN {_SW})) * 1.0 / greatest(len({_TOK}), 1))"
)
QUALITY_SQL = (
    f"(0.4 * (len(list_distinct({_TOK})) * 1.0 / greatest(len({_TOK}), 1))"
    f" + 0.4 * (1 - {STOP_RATIO_SQL})"
    f" + 0.2 * least(len({_TOK}) / 100.0, 1.0))"
)


@query(
    "token_counts_documents",
    oracle=f"""
    SELECT doc_id,
           len({_TOK})::INT AS n_tokens,
           len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]'))::INT
             AS n_bpe_ish,
           length(text)::INT AS n_chars
    FROM documents
    """,
)
def token_counts_documents(spark, sf_dir):
    """Token counting: whitespace tokens + BPE-ish regex tokens +
    chars. One scan, all codegen'd."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.expr(TX.tokens_sx("text"))).alias("n_tokens"),
        # regexp_count counts matches without materializing the match
        # array (regexp_extract_all built an ArrayData per row)
        F.regexp_count(F.expr(TX.fold_text_sx("text")), F.lit(TX.BPE_ISH_PATTERN))
        .cast("int")
        .alias("n_bpe_ish"),
        F.length("text").alias("n_chars"),
    )


@query(
    "quality_scores_documents",
    oracle=f"""
    SELECT doc_id,
           (len(list_distinct({_TOK})) * 1000000 // greatest(len({_TOK}), 1))
             ::BIGINT AS diversity_ppm,
           (len(list_filter({_TOK}, t -> t IN {_SW})) * 1000000
            // greatest(len({_TOK}), 1))::BIGINT AS stop_ratio_ppm,
           {TX.quality_micro_sql(_TOK, _SW)}::BIGINT AS quality_micro
    FROM documents
    """,
)
def quality_scores_documents(spark, sf_dir):
    """Quality scoring: vocabulary diversity, stopword density, length
    credit, composite score — the LLM-corpus filter-stage primitive.
    All three columns are EXACT int64 units (ppm ratios + the
    integer micro composite): the former 6-dp float rounds tie at
    the half-micro for token counts with an uncancelled 2^7 factor,
    and the engines round such ties differently."""
    d = load_table(spark, sf_dir, "documents")
    tok = F.expr(TX.tokens_sx("text"))
    n = F.greatest(F.size(tok), F.lit(1)).cast("long")
    return d.select(
        "doc_id",
        ((F.size(F.array_distinct(tok)).cast("long") * 1000000
          - (F.size(F.array_distinct(tok)).cast("long") * 1000000) % n) / n)
        .cast("long")
        .alias("diversity_ppm"),
        ((F.size(F.filter(tok, lambda t: t.isin(*TX.EN_STOPWORDS))).cast("long")
          * 1000000
          - (F.size(F.filter(tok, lambda t: t.isin(*TX.EN_STOPWORDS))).cast("long")
             * 1000000) % n) / n)
        .cast("long")
        .alias("stop_ratio_ppm"),
        F.expr(TX.quality_micro_sx("text")).alias("quality_micro"),
    )


@query(
    "lang_id_heuristic",
    oracle=f"""
    SELECT doc_id, lang AS labeled_lang,
           CASE WHEN len(list_filter({_TOK}, t -> t IN {_SW})) * 1.0
                     / greatest(len({_TOK}), 1) > 0.05 THEN 'en'
                ELSE 'other' END AS predicted_lang
    FROM documents
    """,
)
def lang_id_heuristic(spark, sf_dir):
    """Language-ID heuristic: stopword-density thresholding (the
    classic cheap n-gram/stopword language filter). The synthetic
    corpus is English-vocabulary with random ``lang`` labels, so the
    value here is the deterministic operator shape, not accuracy."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        F.when(F.expr(TX.stopword_ratio_sx(TX.tokens_sx("text"))) > 0.05, "en")
        .otherwise("other")
        .alias("predicted_lang"),
    )


@query(
    "fingerprint_documents",
    oracle=f"""
    SELECT doc_id,
           md5(array_to_string(list_sort(list_distinct({_TOK})), ' '))
             AS vocab_fingerprint,
           list_reduce(list_prepend(0::INT64,
                         list_transform({_TOK}, t -> {base31_sql('t')})),
                       (acc, h) -> (acc * 31 + h) % {MERSENNE_P})
             AS rolling_hash
    FROM documents
    """,
)
def fingerprint_documents(spark, sf_dir):
    """Document fingerprinting both ways: order-insensitive vocabulary
    fingerprint (md5 of sorted distinct tokens) and order-sensitive
    polynomial rolling hash — exact cross-engine integer arithmetic
    (see functions/hashing.py)."""
    d = load_table(spark, sf_dir, "documents")
    tok = TX.tokens_sx("text")
    return d.select(
        "doc_id",
        F.md5(F.array_join(F.array_sort(F.array_distinct(F.expr(tok))), " "))
        .alias("vocab_fingerprint"),
        # acc = (acc·31 + h31(token)) mod p: a sequential fold, exact in
        # both engines (acc·31 + h < 2³⁶)
        F.expr(
            f"aggregate({tok}, CAST(0 AS BIGINT), "
            f"(acc, t) -> (acc * 31 + {base31_sx('t')}) % {MERSENNE_P})"
        ).alias("rolling_hash"),
    )


@query(
    "regexp_extraction_documents",
    oracle="""
    SELECT doc_id,
           regexp_extract(text, '([a-z]+)', 1)         AS first_word,
           len(regexp_extract_all(text, 'data'))::INT  AS n_data_mentions,
           regexp_replace(text, ' +', '_', 'g')        AS underscored
    FROM documents
    WHERE regexp_matches(text, 'spark')
    """,
)
def regexp_extraction_documents(spark, sf_dir):
    """Regex surface: extract / extract-all / replace / match-filter."""
    d = load_table(spark, sf_dir, "documents")
    return d.filter(F.col("text").rlike("spark")).select(
        "doc_id",
        F.regexp_extract("text", "([a-z]+)", 1).alias("first_word"),
        F.size(F.regexp_extract_all("text", F.lit("data"), F.lit(0))).alias("n_data_mentions"),
        F.regexp_replace("text", " +", "_").alias("underscored"),
    )


@query(
    "inverted_index_postings",
    oracle="""
    SELECT t AS token,
           count(DISTINCT doc_id)::BIGINT AS df,
           count(*)::BIGINT AS total_tf
    FROM (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t
      FROM documents
    )
    GROUP BY t
    ORDER BY df DESC, token
    LIMIT 30
    """,
)
def inverted_index_postings(spark, sf_dir):
    """Inverted-index vocabulary statistics: per token its document
    frequency and total term frequency — the dictionary half of a
    search index build (the postings themselves are this same plan
    minus the final aggregate, written partitioned by token hash).

    Scale: explode → one keyed aggregation with map-side combine;
    token skew ('the') is absorbed by the partial aggregates — each
    map task emits one row per distinct token, so the shuffle carries
    vocabulary-sized data, not corpus-sized."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.expr(TX.tokens_sx("text"))).alias("token"))
    return (
        tok.groupBy("token")
        .agg(
            F.count_distinct("doc_id").alias("df"),
            F.count("*").alias("total_tf"),
        )
        .orderBy(F.desc("df"), "token")
        .limit(30)
    )


#: fixed retrieval query for the BM25 demo (terms chosen to hit the
#: synthetic corpus vocabulary)
BM25_QUERY_TERMS = ("data", "stream", "query")
BM25_K1 = 1.2
BM25_B = 0.75


def bm25_topk_sql() -> str:
    """DuckDB oracle text for the BM25 top-20 — exported so composite
    queries (hybrid RRF retrieval) can embed it without reaching into
    the registry (same pattern as similarity.bruteforce_topk_sql)."""
    return _BM25_SQL


_BM25_SQL = f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t
      FROM documents
    ),
    doclen AS (
      SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY doc_id
    ),
    stats AS (
      SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avg_dl FROM doclen
    ),
    tf AS (
      SELECT doc_id, t, count(*)::DOUBLE AS tf FROM tok
      WHERE t IN ('data', 'stream', 'query')
      GROUP BY doc_id, t
    ),
    df AS (
      SELECT t, count(*)::DOUBLE AS df FROM tf GROUP BY t
    )
    SELECT doc_id, score_micro, row_number() OVER (
             ORDER BY score_micro DESC, doc_id)::BIGINT AS rnk
    FROM (
      SELECT tf.doc_id,
             sum(CAST(round((
               ln((s.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
               * tf.tf * ({BM25_K1} + 1.0)
               / (tf.tf + {BM25_K1}
                  * (1.0 - {BM25_B} + {BM25_B} * dl.dl / s.avg_dl))
             ) * 1000000) AS BIGINT))::BIGINT AS score_micro
      FROM tf
      JOIN df ON df.t = tf.t
      JOIN doclen dl ON dl.doc_id = tf.doc_id
      CROSS JOIN stats s
      GROUP BY tf.doc_id, dl.dl, s.n_docs, s.avg_dl
    )
    ORDER BY rnk LIMIT 20
    """


@query("bm25_retrieval_topk", oracle=_BM25_SQL)
def bm25_retrieval_topk(spark, sf_dir):
    """BM25 ranked retrieval for a fixed term set — the classic
    sparse-retrieval scorer, composed entirely from declarative
    aggregations: term frequencies for the query terms, document
    frequencies, document-length normalization, and the Robertson
    idf. Scores are per-term integer micro-units summed exactly, so
    both engines rank identical values (doc_id breaks true ties).

    Scale: the only corpus-sized shuffles are the doc-length and
    per-(doc, term) tf aggregations (map-side combined); df and the
    corpus stats are term-count- and 1-row-sized broadcasts. At
    100 TB doclen comes precomputed from the index build rather than
    a second pass — here both derive from one STAGED explode (lazy
    checkpoint: doclen, tf, and the stats branch would otherwise each
    re-run the tokenize+explode, since branch subtrees get no CSE and
    post-pruning they differ enough that ReusedExchange never
    fires)."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(F.expr(TX.tokens_sx("text"))).alias("t")
    )
    tok = stage(tok)
    doclen = tok.groupBy("doc_id").agg(F.count("*").cast("double").alias("dl"))
    stats = doclen.agg(
        F.count("*").cast("double").alias("n_docs"), F.avg("dl").alias("avg_dl")
    )
    tf = (
        tok.filter(F.col("t").isin(*BM25_QUERY_TERMS))
        .groupBy("doc_id", "t")
        .agg(F.count("*").cast("double").alias("tf"))
    )
    df = tf.groupBy("t").agg(F.count("*").cast("double").alias("df"))
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    term_score = idf * F.col("tf") * (BM25_K1 + 1.0) / (
        F.col("tf")
        + BM25_K1 * (1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avg_dl"))
    )
    scored = (
        tf.join(F.broadcast(df), "t")
        .join(doclen, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        # per-TERM integer micro-units (exactnum contract): the score
        # that orders the ranking cannot move with accumulation order
        .agg(
            F.sum(F.round(term_score * 1000000).cast("long")).alias(
                "score_micro"
            )
        )
    )
    # sort+limit FIRST (TakeOrderedAndProject — distributed top-k),
    # then rank only the 20 survivors: a global row_number window
    # before the limit would move every scored document to one task
    top = scored.orderBy(F.desc("score_micro"), "doc_id").limit(20)
    w = Window.orderBy(F.desc("score_micro"), "doc_id")
    return top.select(
        "doc_id",
        "score_micro",
        F.row_number().over(w).cast("long").alias("rnk"),
    ).orderBy("rnk")


@query(
    "bpe_merge_candidates",
    oracle=f"""
    WITH tok AS (
      SELECT unnest({_TOK}) AS w FROM documents
    ),
    pairs AS (
      SELECT substr(w, i + 1, 2) AS pair
      FROM (SELECT w, unnest(range(len(w) - 1))::INT AS i FROM tok)
    )
    SELECT pair, count(*)::BIGINT AS n_occurrences,
           row_number() OVER (ORDER BY count(*) DESC, pair)::BIGINT AS rnk
    FROM pairs GROUP BY pair
    ORDER BY rnk LIMIT 20
    """,
)
def bpe_merge_candidates(spark, sf_dir):
    """The first BPE merge step of tokenizer training: count every
    adjacent character pair inside words across the corpus and rank
    the top-20 merge candidates — the inner loop of byte-pair
    encoding, run corpus-scale (Sennrich et al. 2016). Distinct from
    top_bigrams_corpus, which pairs WORDS; this pairs CHARACTERS
    within words, which is what an actual tokenizer build iterates.

    Scale: the pair extraction is sequence+substr inside codegen on
    the scan; the shuffle carries (2-char key, partial count) —
    alphabet²-sized, map-side combined. A full BPE train iterates
    this plan with a merge table folded in; each iteration stays this
    shape. Distributed top-k (TakeOrderedAndProject) before the
    20-row rank window."""
    d = load_table(spark, sf_dir, "documents")
    pairs = (
        d.select(F.explode(F.expr(TX.tokens_sx("text"))).alias("w"))
        # single-char words carry no pair — and guard BEFORE sequence():
        # Spark's sequence(0, -1) helpfully counts DOWN, which would
        # fabricate phantom pairs for them
        .filter(F.length("w") >= 2)
        .select(
            F.explode(
                F.expr("transform(sequence(0, length(w) - 2), i -> substr(w, i + 1, 2))")
            ).alias("pair")
        )
    )
    counts = pairs.groupBy("pair").agg(F.count("*").alias("n_occurrences"))
    top = counts.orderBy(F.desc("n_occurrences"), "pair").limit(20)
    w = Window.orderBy(F.desc("n_occurrences"), "pair")
    return top.select(
        "pair", "n_occurrences", F.row_number().over(w).cast("long").alias("rnk")
    ).orderBy("rnk")


_NOV_VOCAB_K = 1000


@query(
    "oov_bigram_novelty",
    oracle=f"""
    WITH bg AS (
      -- tokens materialized first: an inlined split re-evaluates per
      -- list element inside the shingle lambda (O(tokens²) per doc;
      -- caught by the longdoc stress axis)
      SELECT doc_id,
             unnest(list_transform({TX.shingles_sql("tok2", 2)},
                                   b -> {base31_sql("'bg:' || b")})) AS h
      FROM (SELECT doc_id, {_TOK} AS tok2 FROM documents)
      WHERE len(tok2) >= 2
    ),
    vocab AS (
      SELECT h FROM (
        SELECT h, count(*) AS cnt FROM bg GROUP BY h
      ) ORDER BY cnt DESC, h LIMIT {_NOV_VOCAB_K}
    ),
    per_doc AS (
      SELECT b.doc_id,
             count(*)::BIGINT AS n_bigrams,
             sum(CASE WHEN v.h IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_oov
      FROM bg b LEFT JOIN vocab v ON b.h = v.h
      GROUP BY b.doc_id
    )
    SELECT doc_id, n_bigrams, n_oov,
           (n_oov * 1000000) // n_bigrams AS novelty_ppm
    FROM per_doc
    """,
)
def oov_bigram_novelty(spark, sf_dir):
    """Per-document novelty against the corpus' own bigram
    distribution: the share of a doc's bigram OCCURRENCES falling
    outside the global top-{_NOV_VOCAB_K} bigram vocabulary, in
    integer ppm. High-novelty docs are either valuable long-tail
    content or garbage — either way the docs a curation pass inspects
    first; near-zero novelty flags boilerplate assembled from stock
    phrases. The token-level OOV audit (`oov_rate_against_vocab`)
    misses word-ORDER novelty; bigrams catch it.

    Scale: bigrams are hashed int64 inside the row before exploding
    (never shuffle n-gram text); the vocabulary is a bounded top-K
    (distributed partial top-K per partition, then a {_NOV_VOCAB_K}-row
    sort) and broadcasts into the membership probe, so the per-doc
    pass is scan + broadcast-hash-probe + one keyed aggregate."""
    d = load_table(spark, sf_dir, "documents")
    # tokenize once behind a projection barrier (operators/dedup.py)
    toked = d.select("doc_id", F.expr(TX.tokens_sx("text")).alias("__tok"))
    tok = F.col("__tok")
    h31 = base31_sx("concat('bg:', b)")
    bg = (
        toked.filter(F.size(tok) >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(f"transform({TX.shingles_sx('__tok', 2)}, b -> {h31})")
            ).alias("h"),
        )
    )
    bg = stage(bg)  # vocab build + membership probe share one derivation
    vocab = (
        bg.groupBy("h")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "h")
        .limit(_NOV_VOCAB_K)
        .select("h", F.lit(True).alias("in_vocab"))
    )
    per_doc = (
        bg.join(F.broadcast(vocab), "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum(
                F.when(F.col("in_vocab").isNull(), 1).otherwise(0)
            ).alias("n_oov"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_bigrams",
        "n_oov",
        ((F.col("n_oov") * 1000000) / F.col("n_bigrams"))
        .cast("long")
        .alias("novelty_ppm"),
    )


@query(
    "unigram_cross_entropy_per_source",
    oracle=f"""
    WITH tok AS (
      SELECT source, unnest({_TOK}) AS w FROM documents
    ),
    lm AS (
      SELECT w, count(*) AS n_w FROM tok GROUP BY w
    ),
    total AS (SELECT sum(n_w)::DOUBLE AS n_total FROM lm),
    scored AS (
      SELECT t.source, -ln(l.n_w / tt.n_total) AS surprise
      FROM tok t JOIN lm l ON t.w = l.w CROSS JOIN total tt
    )
    SELECT source, count(*)::BIGINT AS n_tokens,
           (sum(CAST(round(surprise * 1000000) AS BIGINT))::BIGINT
            // count(*)) AS cross_entropy_micro_nats
    FROM scored GROUP BY source
    """,
)
def unigram_cross_entropy_per_source(spark, sf_dir):
    """Per-source cross-entropy against the corpus-wide unigram LM:
    each token occurrence contributes its code length −ln p(w); the
    per-source mean is the nats-per-token the corpus model spends on
    that source. Sources far ABOVE the corpus norm are
    distribution-shifted (a quality/mixture review flag); far below
    are repetitive/templated. This is the cheapest member of the
    LM-quality family — the unigram floor under the bigram novelty
    audit (`oov_bigram_novelty`) and the Markov surprise score
    (`markov_surprise_anomaly_users`), and the same surprise-sum
    discipline: ln values fold as integer micro-units so the mean
    cannot flip on a rounding boundary across engines.

    Scale: the LM is vocabulary-sized and BROADCAST back against the
    token stream; both aggregates are map-side combinable; nothing
    shuffles at corpus scale except the vocabulary count itself."""
    d = load_table(spark, sf_dir, "documents")
    tok = stage(
        d.select("source", F.explode(F.expr(TX.tokens_sx("text"))).alias("w"))
    )
    lm = tok.groupBy("w").agg(F.count("*").alias("n_w"))
    total = lm.agg(F.sum("n_w").cast("double").alias("n_total"))
    scored = (
        tok.join(F.broadcast(lm), "w")
        .crossJoin(F.broadcast(total))
        .select(
            "source",
            (-F.log(F.col("n_w") / F.col("n_total"))).alias("surprise"),
        )
    )
    return scored.groupBy("source").agg(
        F.count("*").alias("n_tokens"),
        # exact micro-nat mean (int64 sum, one int64 div): a float
        # round over sum/count ties at the half-micro across engines
        F.expr(
            "sum(CAST(round(surprise * 1000000) AS BIGINT)) div count(*)"
        ).alias("cross_entropy_micro_nats"),
    )


@query(
    "vocab_coverage_curve",
    oracle=f"""
    WITH tok AS (SELECT unnest({_TOK}) AS w FROM documents),
    vocab AS (
      SELECT w, count(*) AS n_w,
             row_number() OVER (ORDER BY count(*) DESC, w) AS rnk
      FROM tok GROUP BY w
    ),
    total AS (SELECT sum(n_w)::BIGINT AS n_total FROM vocab)
    SELECT k,
           (SELECT count(*) FROM vocab WHERE rnk <= k)::BIGINT AS vocab_size,
           (SELECT coalesce(sum(n_w), 0) FROM vocab WHERE rnk <= k)::BIGINT
             AS covered_tokens,
           -- NULL (not an error, not 0) at n_total = 0: coverage of
           -- an empty corpus is undefined, and Spark's ANSI division
           -- would otherwise abort where DuckDB's // silently NULLs
           CASE WHEN t.n_total > 0 THEN
             ((SELECT coalesce(sum(n_w), 0) FROM vocab WHERE rnk <= k)
              * 1000000 // t.n_total)::BIGINT
           END AS coverage_ppm
    FROM (SELECT unnest([100, 1000, 10000]) AS k) CROSS JOIN total t
    """,
)
def vocab_coverage_curve(spark, sf_dir):
    """Vocabulary-sizing curve: what fraction of all token OCCURRENCES
    the top-K surface forms cover, at K in {100, 1000, 10000} — the
    number that decides a tokenizer's vocab budget and predicts the
    UNK/byte-fallback rate at each size (the Zipf-fit audit's
    actionable companion: Zipf says the curve's SHAPE, this reports
    the three points you'd actually pick between). Integer ppm, exact
    in both engines; ties in the frequency ranking break on the
    surface form so the rank is total and cross-engine stable.

    Scale: one vocabulary aggregate; the global rank is only needed up
    to max(K), so the rank window runs over a DISTRIBUTED top-10000
    (TakeOrdered — per-partition pre-top-K, no vocab-wide sort), and
    the token total is a separate map-side-combinable sum. Only the
    bounded top set and two scalars move."""
    d = load_table(spark, sf_dir, "documents")
    tok = stage(d.select(F.explode(F.expr(TX.tokens_sx("text"))).alias("w")))
    vocab = tok.groupBy("w").agg(F.count("*").alias("n_w"))
    total = tok.agg(F.count("*").cast("long").alias("n_total"))
    # rank only the top-10000 (distributed TakeOrdered), then window
    # over that bounded set
    top = vocab.orderBy(F.col("n_w").desc(), "w").limit(10000)
    ranked = top.select(
        "n_w",
        F.row_number()
        .over(Window.orderBy(F.col("n_w").desc(), "w"))
        .alias("rnk"),
    )
    ks = spark.createDataFrame([(100,), (1000,), (10000,)], "k long")
    per_k = (
        ranked.crossJoin(F.broadcast(ks))
        .filter(F.col("rnk") <= F.col("k"))
        .groupBy("k")
        .agg(
            F.count("*").alias("vocab_size"),
            F.sum("n_w").alias("covered_tokens"),
        )
    )
    return (
        ks.join(per_k, "k", "left")
        .crossJoin(F.broadcast(total))
        .select(
            "k",
            F.coalesce("vocab_size", F.lit(0)).cast("long").alias("vocab_size"),
            F.coalesce("covered_tokens", F.lit(0))
            .cast("long")
            .alias("covered_tokens"),
            # NULL at n_total = 0 (undefined, matching the oracle's
            # CASE): ANSI division would abort on the empty corpus
            F.when(
                F.col("n_total") > 0,
                F.floor(
                    F.coalesce("covered_tokens", F.lit(0))
                    * 1000000
                    / F.col("n_total")
                ).cast("long"),
            ).alias("coverage_ppm"),
        )
    )


_MRR_QMOD = 499


def _mrr_sql() -> str:
    return f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t
      FROM documents
    ),
    doclen AS (
      SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY doc_id
    ),
    stats AS (
      SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avg_dl FROM doclen
    ),
    qterms AS (
      SELECT doc_id AS query_id, t FROM (
        SELECT doc_id, t, row_number() OVER (
                 PARTITION BY doc_id ORDER BY ord) AS rn
        FROM (
          SELECT doc_id, t, min(ord) AS ord FROM (
            SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t,
                   generate_subscripts(string_split(lower(text), ' '), 1) AS ord
            FROM documents WHERE doc_id % {_MRR_QMOD} = 0
          ) GROUP BY doc_id, t
        )
      ) WHERE rn <= 3
    ),
    tf AS (
      SELECT k.doc_id, k.t, q.query_id, count(*)::DOUBLE AS tf
      FROM tok k JOIN qterms q ON k.t = q.t
      GROUP BY k.doc_id, k.t, q.query_id
    ),
    df AS (
      SELECT t, count(DISTINCT doc_id)::DOUBLE AS df FROM tf GROUP BY t
    ),
    scored AS (
      SELECT tf.query_id, tf.doc_id,
             sum(CAST(round((
               ln((s.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
               * tf.tf * ({BM25_K1} + 1.0)
               / (tf.tf + {BM25_K1}
                  * (1.0 - {BM25_B} + {BM25_B} * dl.dl / s.avg_dl))
             ) * 1000000) AS BIGINT))::BIGINT AS score_micro
      FROM tf
      JOIN df ON df.t = tf.t
      JOIN doclen dl ON dl.doc_id = tf.doc_id
      CROSS JOIN stats s
      GROUP BY tf.query_id, tf.doc_id, dl.dl, s.n_docs, s.avg_dl
    ),
    ranked AS (
      SELECT query_id, doc_id,
             row_number() OVER (
               PARTITION BY query_id ORDER BY score_micro DESC, doc_id
             )::BIGINT AS rnk
      FROM scored
    ),
    self_rank AS (
      SELECT query_id, rnk FROM ranked WHERE query_id = doc_id
    )
    SELECT count(*)::BIGINT AS n_queries,
           sum(CASE WHEN rnk <= 10 THEN 1 ELSE 0 END)::BIGINT AS n_top10,
           (sum(CASE WHEN rnk <= 10 THEN 1000000 // rnk ELSE 0 END)
            // count(*))::BIGINT AS mrr_ppm
    FROM self_rank
    """


@query("bm25_self_retrieval_mrr", oracle=_mrr_sql())
def bm25_self_retrieval_mrr(spark, sf_dir):
    """Retrieval-quality EVAL for the BM25 scorer: self-retrieval MRR
    — each probe document's first 3 distinct tokens become a query,
    the whole corpus is BM25-ranked for it, and the metric is the
    mean reciprocal rank at which the probe finds ITSELF (the
    standard sanity eval when no labeled qrels exist). Reciprocal
    ranks are integer ppm (10⁶//rank), so the aggregate is exact;
    ranks order on the 6-dp-rounded score with doc_id tiebreak, the
    BM25 family's established determinism contract.

    Scale: query terms are a probe-set-sized broadcast; the per-
    (query, doc) score table is |probes| × |matching docs| — bounded
    by probe count (1/{_MRR_QMOD} of the corpus), and each query's
    ranking is an independent window partition. This is the eval
    pattern every retrieval change should gate on — the BM25/hybrid
    queries report scores, this reports QUALITY."""
    d = load_table(spark, sf_dir, "documents")
    tok = stage(
        d.select("doc_id", F.explode(F.expr(TX.tokens_sx("text"))).alias("t"))
    )
    doclen = tok.groupBy("doc_id").agg(F.count("*").cast("double").alias("dl"))
    stats = doclen.agg(
        F.count("*").cast("double").alias("n_docs"),
        F.avg("dl").alias("avg_dl"),
    )
    probes = d.filter(F.col("doc_id") % _MRR_QMOD == 0)
    qterms = (
        probes.select(
            F.col("doc_id").alias("query_id"),
            F.slice(F.array_distinct(F.expr(TX.tokens_sx("text"))), 1, 3).alias(
                "ts"
            ),
        )
        .select("query_id", F.explode("ts").alias("t"))
    )
    tf = (
        tok.join(F.broadcast(qterms), "t")
        .groupBy("doc_id", "t", "query_id")
        .agg(F.count("*").cast("double").alias("tf"))
    )
    tf = stage(tf)
    df_tbl = tf.groupBy("t").agg(
        F.count_distinct("doc_id").cast("double").alias("df")
    )
    scored = (
        tf.join(F.broadcast(df_tbl), "t")
        .join(doclen, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("query_id", "doc_id", "dl", "n_docs", "avg_dl")
        .agg(
            # per-TERM micro-units then exact int64 sum: the score that
            # orders the ranking is identical in both engines no matter
            # the accumulation order of the parallel aggregate
            F.sum(
                F.round(
                    (
                        F.log(
                            (F.col("n_docs") - F.col("df") + 0.5)
                            / (F.col("df") + 0.5)
                            + 1.0
                        )
                        * F.col("tf")
                        * (BM25_K1 + 1.0)
                        / (
                            F.col("tf")
                            + BM25_K1
                            * (
                                1.0
                                - BM25_B
                                + BM25_B * F.col("dl") / F.col("avg_dl")
                            )
                        )
                    )
                    * 1000000
                ).cast("long")
            ).alias("score_micro")
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_micro").desc(), "doc_id"
    )
    self_rank = (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("query_id") == F.col("doc_id"))
        .select("query_id", "rnk")
    )
    return self_rank.agg(
        F.count("*").alias("n_queries"),
        F.sum(F.when(F.col("rnk") <= 10, 1).otherwise(0)).alias("n_top10"),
        F.floor(
            F.sum(
                F.when(
                    F.col("rnk") <= 10,
                    F.floor(F.lit(1000000) / F.col("rnk")).cast("long"),
                ).otherwise(0)
            )
            / F.count("*")
        )
        .cast("long")
        .alias("mrr_ppm"),
    )


#: Unicode script classes for the mix profile — (name, codepoint
#: class) in PRIORITY order (ties on equal counts resolve to the
#: earlier class). The \x{...} class syntax parses identically in
#: Java regex (Spark) and RE2 (DuckDB), and counting is per
#: CODEPOINT in both (verified incl. astral-plane emoji).
_SCRIPT_CLASSES = (
    ("latin", r"[A-Za-z]"),
    ("cjk", r"[\x{4E00}-\x{9FFF}\x{3040}-\x{30FF}]"),
    ("hangul", r"[\x{AC00}-\x{D7AF}]"),
    ("arabic", r"[\x{0600}-\x{06FF}]"),
    ("hebrew", r"[\x{0590}-\x{05FF}]"),
    ("greek", r"[\x{0370}-\x{03FF}]"),
    ("cyrillic", r"[\x{0400}-\x{04FF}]"),
    ("emoji", r"[\x{1F000}-\x{1FAFF}]"),
)


def _script_mix_oracle() -> str:
    cnt = ",\n             ".join(
        f"length(text) - length(regexp_replace(text, '{pat}', '', 'g'))"
        f" AS c_{name}"
        for name, pat in _SCRIPT_CLASSES
    )
    m = "greatest(" + ", ".join(f"c_{n}" for n, _ in _SCRIPT_CLASSES) + ")"
    dom = "CASE WHEN " + m + " = 0 THEN 'none' " + " ".join(
        f"WHEN c_{n} = {m} THEN '{n}'" for n, _ in _SCRIPT_CLASSES
    ) + " END"
    return f"""
    WITH per_doc AS (
      SELECT source, text,
             {cnt}
      FROM documents
    ),
    tagged AS (
      SELECT source, {dom} AS dominant_script,
             ({m})::BIGINT AS dom_chars
      FROM per_doc
    )
    SELECT source, dominant_script,
           count(*)::BIGINT AS n_docs,
           sum(dom_chars)::BIGINT AS total_script_chars
    FROM tagged GROUP BY source, dominant_script
    """


@query("script_mix_profile", oracle=_script_mix_oracle())
def script_mix_profile(spark, sf_dir):
    """Unicode-script mix profile — the script-aware filtering step a
    multilingual corpus pipeline runs before language-specific
    processing: classify each document by its DOMINANT script
    (codepoint counts over 8 script classes, ties resolved by a fixed
    priority order, 'none' for script-free docs) and roll up per
    source. Downstream, script routing decides tokenizer choice,
    normalization form, and per-script quality thresholds; a corpus
    whose 'latin' source suddenly grows a CJK tail is a crawl
    regression this table surfaces immediately.

    Cross-engine: each class is ONE codepoint-class regex whose
    ``\\x{...}`` syntax parses identically in Java regex and RE2;
    Spark counts matches with ``regexp_count``, the oracle counts by
    length difference after ``regexp_replace(..., 'g')`` — both per
    codepoint, astral planes included (the unicode stress set
    exercises all 8 classes; plain fixtures are all-latin).

    Scale: 8 codegen regexes per row on the scan, one
    map-side-combinable aggregate on (source, dominant) — profile
    cost is one corpus read regardless of class count."""
    d = load_table(spark, sf_dir, "documents")
    counts = [
        F.regexp_count("text", F.lit(pat)).alias(f"c_{name}")
        for name, pat in _SCRIPT_CLASSES
    ]
    per_doc = d.select("source", *counts)
    m = F.greatest(*[F.col(f"c_{n}") for n, _ in _SCRIPT_CLASSES])
    dom = F.when(m == 0, F.lit("none"))
    for name, _ in _SCRIPT_CLASSES:
        dom = dom.when(F.col(f"c_{name}") == m, F.lit(name))
    tagged = per_doc.select(
        "source",
        dom.alias("dominant_script"),
        m.cast("long").alias("dom_chars"),
    )
    return tagged.groupBy("source", "dominant_script").agg(
        F.count("*").alias("n_docs"),
        F.sum("dom_chars").alias("total_script_chars"),
    )
