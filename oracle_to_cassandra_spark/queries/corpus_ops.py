"""Corpus-curation operators for a training-data pipeline: intra-doc
repetition quality signals, train/benchmark decontamination,
deterministic global shuffle, per-domain quota capping, and mixture
reweighting.

These extend the reference's relational surface
(`/root/reference/README.md:877` works a static HR schema; a corpus
pipeline needs the same declarative style over documents) with the
ops a 100 TB pretraining-data build runs nightly. Everything is
JVM-side built-ins; the only shuffles are keyed aggregations on
int64 hashes or doc ids.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from oracle_to_cassandra_spark.functions.hashing import base31_sql, base31_sx
from oracle_to_cassandra_spark.operators.dedup import (
    doc_shingle_hashes,
    doc_shingle_hashes_sql,
)
from oracle_to_cassandra_spark.operators.text import shingles_sql, shingles_sx, tokens_sx
from oracle_to_cassandra_spark.registry import query
from oracle_to_cassandra_spark.staging import stage
from oracle_to_cassandra_spark.sources import load_table

_TOK_SQL = "string_split(lower(text), ' ')"

#: per-domain document cap for quota_cap_per_source
DOMAIN_CAP = 40

#: contamination shingle width (token 4-grams; 13-grams in production
#: decontamination — the test corpus' docs are too short for that)
DECON_K = 4


@query(
    "doc_repetition_stats",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id,
             len({_TOK_SQL})::BIGINT AS n_tokens,
             len(list_distinct({_TOK_SQL}))::BIGINT AS n_distinct
      FROM documents
    ),
    bg AS (
      -- tokens materialized first: an inlined split re-evaluates per
      -- list element inside the shingle lambda (O(tokens²) per doc;
      -- caught by the longdoc stress axis)
      SELECT doc_id, unnest({shingles_sql("tok2", 2)}) AS bigram
      FROM (SELECT doc_id, {_TOK_SQL} AS tok2 FROM documents)
      WHERE len(tok2) >= 2
    ),
    bg_counts AS (
      SELECT doc_id, bigram, count(*)::BIGINT AS c
      FROM bg GROUP BY doc_id, bigram
    ),
    bg_stats AS (
      SELECT doc_id, max(c) AS top_c, sum(c) AS total_c
      FROM bg_counts GROUP BY doc_id
    )
    SELECT t.doc_id,
           ((t.n_tokens - t.n_distinct) * 1000000 // t.n_tokens)::BIGINT
             AS dup_word_ppm,
           (b.top_c * 1000000 // b.total_c)::BIGINT AS top_bigram_ppm
    FROM tok t JOIN bg_stats b ON t.doc_id = b.doc_id
    """,
)
def doc_repetition_stats(spark, sf_dir):
    """Gopher-style intra-document repetition signals: duplicate-word
    fraction (1 − distinct/total) and the fraction of all bigrams
    taken by the single most frequent bigram — the two cheapest
    filters for boilerplate / keyword-stuffed / degenerate documents.

    Scale: one scan; bigram mode is computed DISTRIBUTED (explode →
    two keyed aggregations with map-side combine), not per-row with a
    quadratic higher-order lambda — a 100k-token document costs
    O(n log n) across the cluster, not O(n²) in one task. Both
    aggregations and the final join share hash-partitioning on
    doc_id, so AQE collapses them onto one exchange of the exploded
    bigrams."""
    d = load_table(spark, sf_dir, "documents")
    # tokenize once behind a named projection (evaluation barrier) —
    # shingles_sx() and the two size() consumers would otherwise each
    # re-run the fold+split chain (see operators/dedup.py note)
    toked = d.select("doc_id", F.expr(tokens_sx("text")).alias("__tok"))
    tok = F.col("__tok")
    word_stats = toked.select(
        "doc_id",
        F.size(tok).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(tok)).cast("long").alias("n_distinct"),
    )
    bg = toked.select(
        "doc_id", F.explode(F.expr(shingles_sx("__tok", 2))).alias("bigram")
    )
    bg_stats = (
        bg.groupBy("doc_id", "bigram")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_c"), F.sum("c").alias("total_c"))
    )
    return word_stats.join(bg_stats, "doc_id").select(
        "doc_id",
        # exact integer ppm (int64 div): float rounds over int/int
        # ratios tie at the half-micro across engines
        F.expr("(n_tokens - n_distinct) * 1000000 div n_tokens").alias(
            "dup_word_ppm"
        ),
        F.expr("top_c * 1000000 div total_c").alias("top_bigram_ppm"),
    )


def _split_expr_sql() -> str:
    """The 80/10/10 hash split shared with train_val_test_split."""
    return f"({base31_sql('doc_id::VARCHAR')} % 10)"


@query(
    "decontamination_overlap",
    oracle=f"""
    WITH sh AS ({doc_shingle_hashes_sql(DECON_K)}),
    split AS (
      SELECT doc_id, {_split_expr_sql()} AS h FROM documents
    ),
    train_sh AS (
      SELECT s.doc_id, s.h31 FROM sh s JOIN split p ON s.doc_id = p.doc_id
      WHERE p.h < 8
    ),
    bench_sh AS (
      SELECT DISTINCT s.h31 FROM sh s JOIN split p ON s.doc_id = p.doc_id
      WHERE p.h = 9
    )
    SELECT t.doc_id,
           count(*)::BIGINT AS n_contaminated_shingles
    FROM train_sh t JOIN bench_sh b ON t.h31 = b.h31
    GROUP BY t.doc_id
    ORDER BY n_contaminated_shingles DESC, doc_id
    LIMIT 20
    """,
)
def decontamination_overlap(spark, sf_dir):
    """Benchmark decontamination: which TRAIN documents share token
    {DECON_K}-grams with the held-out TEST split (the 'benchmark')?
    Production pipelines drop or redact these before pretraining.

    Scale: shingles are hashed to int64 inside the row array before
    the explode, so the contamination join moves 8-byte keys. The
    benchmark side (distinct shingle hashes of the eval set — tiny
    relative to the corpus) is explicitly broadcast: the train-side
    100 TB scan streams map-side against it with NO shuffle; the only
    exchange is the final per-doc count."""
    d = load_table(spark, sf_dir, "documents")
    # both the train side and the benchmark side consume the shingle
    # table; stage it so the tokenize->shingle->md5 derivation runs
    # once (branch subtrees get no CSE). The split is a PURE HASH of
    # doc_id, so it is evaluated directly on the shingle rows instead
    # of materializing a (doc_id, h) membership relation and joining
    # it twice — two corpus-sized join inputs removed (r13, guide
    # §2.3; same cut as split_leakage_audit)
    split_h = f"(({base31_sx('CAST(doc_id AS STRING)')}) % 10)"
    sh = stage(
        doc_shingle_hashes(d, k=DECON_K).selectExpr(
            "doc_id", "h31", f"{split_h} AS h"
        )
    )
    train_sh = sh.where("h < 8").select("doc_id", "h31")
    bench_sh = sh.where("h = 9").select("h31").distinct()
    hits = train_sh.join(F.broadcast(bench_sh), "h31")
    return (
        hits.groupBy("doc_id")
        .agg(F.count("*").alias("n_contaminated_shingles"))
        .orderBy(F.desc("n_contaminated_shingles"), "doc_id")
        .limit(20)
    )


@query(
    "corpus_global_shuffle",
    oracle=f"""
    SELECT shuffle_pos, doc_id FROM (
      SELECT doc_id,
             row_number() OVER (
               ORDER BY md5('seed42:' || doc_id::VARCHAR), doc_id
             )::BIGINT AS shuffle_pos
      FROM documents
    )
    ORDER BY shuffle_pos LIMIT 100
    """,
)
def corpus_global_shuffle(spark, sf_dir):
    """Deterministic global shuffle for training-example order: sort
    by md5(seed ‖ doc_id). Reproducible across engines, partitionings
    and reruns — the property rand() lacks — and re-seedable per
    epoch by changing the literal.

    Scale: a global sort range-partitions on sampled hash boundaries
    (uniform by construction, so no skewed ranges) and each partition
    sorts locally — the standard total-order shuffle. The first-100
    probe here keeps the driver compare small; a real run writes the
    full sorted output straight to the sink."""
    d = load_table(spark, sf_dir, "documents")
    key = F.md5(F.concat(F.lit("seed42:"), F.col("doc_id").cast("string")))
    # sort+limit first (TakeOrderedAndProject — the distributed
    # top-k), then number the 100 survivors; a global row_number
    # window before the limit would single-partition the corpus
    top = d.select("doc_id", key.alias("k")).orderBy("k", "doc_id").limit(100)
    w = Window.orderBy("k", "doc_id")
    return top.select(
        F.row_number().over(w).cast("long").alias("shuffle_pos"), "doc_id"
    ).orderBy("shuffle_pos")


@query(
    "quota_cap_per_source",
    oracle=f"""
    WITH ranked AS (
      SELECT source,
             row_number() OVER (
               PARTITION BY source
               ORDER BY md5('cap:' || doc_id::VARCHAR), doc_id
             ) AS rk
      FROM documents
    )
    SELECT source,
           count(*)::BIGINT AS n_total,
           sum(CASE WHEN rk <= {DOMAIN_CAP} THEN 1 ELSE 0 END)::BIGINT AS n_kept
    FROM ranked
    GROUP BY source ORDER BY source
    """,
)
def quota_cap_per_source(spark, sf_dir):
    """Per-domain quota capping (keep at most {DOMAIN_CAP} docs per
    source, chosen by deterministic hash priority) — the standard
    guard against one crawl domain dominating the mixture. The
    hash-ranked choice is stable under re-runs and insensitive to
    input order.

    Scale: one window over hash-partitioned sources; map-side partial
    aggregation collapses the kept/total counts. A skewed mega-domain
    concentrates its rank scan in one partition — acceptable because
    the window emits only a rank (no buffering of rows beyond the
    frame), and the cap could be pre-filtered with an approximate
    per-source count to short-circuit domains far over quota."""
    d = load_table(spark, sf_dir, "documents")
    pri = F.md5(F.concat(F.lit("cap:"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("source").orderBy(pri, "doc_id")
    ranked = d.select("source", F.row_number().over(w).alias("rk"))
    return (
        ranked.groupBy("source")
        .agg(
            F.count("*").alias("n_total"),
            F.sum(F.when(F.col("rk") <= DOMAIN_CAP, 1).otherwise(0)).alias("n_kept"),
        )
        .orderBy("source")
    )


@query(
    "corpus_mixture_weights",
    oracle=f"""
    WITH per_source AS (
      SELECT source,
             count(*)::BIGINT AS n_docs,
             sum(len({_TOK_SQL}))::BIGINT AS n_tokens
      FROM documents GROUP BY source
    ),
    tot AS (SELECT sum(n_tokens) AS all_tokens, count(*) AS n_sources
            FROM per_source)
    SELECT p.source, p.n_docs, p.n_tokens,
           CAST(floor(p.n_tokens * 1.0 / t.all_tokens * 1000000 + 0.5)
                AS BIGINT) AS actual_frac_ppm,
           CAST(floor((1.0 / t.n_sources)
                      / (p.n_tokens * 1.0 / t.all_tokens) * 1000000 + 0.5)
                AS BIGINT) AS sample_weight_e6
    FROM per_source p CROSS JOIN tot t
    ORDER BY p.source
    """,
)
def corpus_mixture_weights(spark, sf_dir):
    """Mixture reweighting: per-source sampling weights that reshape
    the corpus' natural token distribution into a target mixture
    (uniform-over-sources here; production targets come from a
    config). weight = target_frac / actual_frac — the multiplier a
    weighted sampler applies per document of that source.

    Scale: one keyed aggregation to source granularity (tiny), then a
    broadcast of the 1-row total — the 100 TB scan is touched exactly
    once."""
    d = load_table(spark, sf_dir, "documents")
    n_tok = F.size(F.expr(tokens_sx("text"))).cast("long")
    per_source = d.groupBy("source").agg(
        F.count("*").alias("n_docs"), F.sum(n_tok).alias("n_tokens")
    )
    tot = per_source.agg(
        F.sum("n_tokens").alias("all_tokens"), F.count("*").alias("n_sources")
    )
    return (
        per_source.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            # floor(x*1e6+0.5) fixed-point: corpus token counts push
            # n_tokens*1e6 past int64 at 100 TB, so keep the identical
            # double ratio and floor it (deterministic, no round ties)
            F.floor(
                F.col("n_tokens") * 1.0 / F.col("all_tokens") * 1000000 + 0.5
            )
            .cast("long")
            .alias("actual_frac_ppm"),
            F.floor(
                (1.0 / F.col("n_sources"))
                / (F.col("n_tokens") * 1.0 / F.col("all_tokens"))
                * 1000000
                + 0.5
            )
            .cast("long")
            .alias("sample_weight_e6"),
        )
        .orderBy("source")
    )


@query(
    "mixture_weighted_sample",
    oracle=f"""
    WITH per_source AS (
      SELECT source, sum(len({_TOK_SQL}))::DOUBLE AS n_tokens
      FROM documents GROUP BY source
    ),
    tot AS (SELECT sum(n_tokens) AS all_tokens,
                   count(*)::DOUBLE AS n_sources FROM per_source),
    w AS (
      SELECT p.source,
             (1.0 / t.n_sources) / (p.n_tokens / t.all_tokens) AS weight
      FROM per_source p CROSS JOIN tot t
    ),
    m AS (SELECT max(weight) AS max_w FROM w)
    SELECT d.source,
           count(*)::BIGINT AS n_candidates,
           sum(CASE WHEN ({base31_sql("'mix:' || doc_id::VARCHAR")} % 1000000)
                         / 1000000.0 < w.weight / m.max_w
                    THEN 1 ELSE 0 END)::BIGINT AS n_sampled
    FROM documents d
    JOIN w ON w.source = d.source CROSS JOIN m
    GROUP BY d.source ORDER BY d.source
    """,
)
def mixture_weighted_sample(spark, sf_dir):
    """Applies the mixture weights: deterministic per-document
    acceptance sampling that reshapes the corpus toward the target
    (uniform-over-sources) token distribution. Rates are normalized
    so the scarcest source keeps everything (rate 1.0) and abundant
    sources are thinned proportionally; acceptance is a pure hash of
    the doc key — reproducible, partition-independent, and stable
    when the corpus grows (old keep/drop decisions never flip unless
    the weights move).

    Scale: pass 1 aggregates to a |sources|-row weight table (tiny);
    pass 2 streams the corpus once against the broadcast weights —
    accept/reject is map-side, no shuffle until the audit counts."""
    d = load_table(spark, sf_dir, "documents")
    n_tok = F.size(F.expr(tokens_sx("text"))).cast("double")
    per_source = d.groupBy("source").agg(F.sum(n_tok).alias("n_tokens"))
    tot = per_source.agg(
        F.sum("n_tokens").alias("all_tokens"),
        F.count("*").cast("double").alias("n_sources"),
    )
    # the |sources|-row weight table feeds two branches (the max-rate
    # scalar and the corpus join); stage it so the token-length
    # aggregation over the corpus runs once, not once per branch
    w = (
        per_source.crossJoin(F.broadcast(tot))
        .select(
            "source",
            (
                (1.0 / F.col("n_sources"))
                / (F.col("n_tokens") / F.col("all_tokens"))
            ).alias("weight"),
        )
    )
    w = stage(w)
    m = w.agg(F.max("weight").alias("max_w"))
    u = (
        F.expr(base31_sx("concat('mix:', CAST(doc_id AS STRING))")) % 1000000
    ) / 1000000.0
    return (
        d.join(F.broadcast(w), "source")
        .crossJoin(F.broadcast(m))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_candidates"),
            F.sum(
                F.when(u < F.col("weight") / F.col("max_w"), 1).otherwise(0)
            ).alias("n_sampled"),
        )
        .orderBy("source")
    )


@query(
    "temperature_mixture_weights",
    oracle=f"""
    WITH per_source AS (
      SELECT source, count(*)::BIGINT AS n_docs,
             sum(len({_TOK_SQL}))::BIGINT AS n_tokens
      FROM documents GROUP BY source
    ),
    scaled AS (
      SELECT source, n_docs, n_tokens, sqrt(n_tokens::DOUBLE) AS p_alpha
      FROM per_source
    ),
    tot AS (SELECT sum(n_tokens)::DOUBLE AS all_tokens FROM scaled),
    z AS (SELECT sum(p_alpha) AS z FROM scaled)
    SELECT s.source, s.n_docs, s.n_tokens,
           CAST(round((s.n_tokens / t.all_tokens) * 1000000) AS BIGINT)
             AS natural_ppm,
           CAST(round((s.p_alpha / z.z) * 1000000) AS BIGINT)
             AS tempered_ppm,
           CAST(round(((s.p_alpha / z.z)
                       / (s.n_tokens / t.all_tokens)) * 1000000) AS BIGINT)
             AS boost_ppm
    FROM scaled s CROSS JOIN tot t CROSS JOIN z
    ORDER BY s.source
    """,
)
def temperature_mixture_weights(spark, sf_dir):
    """Temperature-scaled mixture sampling (the multilingual-training
    standard): sampling share ∝ p_i^α with α = 0.5, flattening the
    natural token distribution so small sources are up-sampled without
    going fully uniform (`corpus_mixture_weights` is the α = 0 limit).
    Emits per source the natural share, the tempered share, and the
    boost multiplier (tempered/natural), all in integer ppm.

    α is pinned to 0.5 because p^0.5 = sqrt(p) is CORRECTLY ROUNDED
    under IEEE 754 — identical in Spark and DuckDB — where a general
    pow(p, α) is only faithfully rounded and could differ by 1 ulp
    between libm implementations; the ppm rounding then makes the
    remaining division-order differences invisible. A production α
    (0.3, 0.7) swaps sqrt for pow and drops the cross-engine claim.

    Scale: one keyed aggregation to source granularity, then two
    broadcast 1-row totals — the corpus scan happens once; the output
    is sources-sized."""
    d = load_table(spark, sf_dir, "documents")
    n_tok = F.size(F.expr(tokens_sx("text"))).cast("long")
    per_source = d.groupBy("source").agg(
        F.count("*").alias("n_docs"), F.sum(n_tok).alias("n_tokens")
    )
    # three consumers (totals, normalizer, output) and no CSE across
    # plan branches — stage the sources-sized aggregate so the corpus
    # tokenize-scan runs once, not three times
    scaled = stage(
        per_source.withColumn(
            "p_alpha", F.sqrt(F.col("n_tokens").cast("double"))
        )
    )
    tot = scaled.agg(F.sum(F.col("n_tokens").cast("double")).alias("all_tokens"))
    z = scaled.agg(F.sum("p_alpha").alias("z"))
    nat = F.col("n_tokens") / F.col("all_tokens")
    temp = F.col("p_alpha") / F.col("z")
    return (
        scaled.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(z))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.round(nat * 1000000).cast("long").alias("natural_ppm"),
            F.round(temp * 1000000).cast("long").alias("tempered_ppm"),
            F.round((temp / nat) * 1000000).cast("long").alias("boost_ppm"),
        )
        .orderBy("source")
    )


@query(
    "epoch_reshuffle_prefix_overlap",
    oracle=f"""
    WITH epochs AS (SELECT unnest(range(3)) AS epoch),
    ordered AS (
      SELECT e.epoch, d.doc_id,
             row_number() OVER (
               PARTITION BY e.epoch
               ORDER BY {base31_sql("'epoch:' || e.epoch::VARCHAR || ':' || d.doc_id::VARCHAR")}, d.doc_id
             ) AS pos
      FROM documents d CROSS JOIN epochs e
    ),
    prefixes AS (SELECT epoch, doc_id FROM ordered WHERE pos <= 100)
    SELECT a.epoch AS epoch_a, b.epoch AS epoch_b,
           count(*)::BIGINT AS prefix_overlap
    FROM prefixes a JOIN prefixes b
      ON a.doc_id = b.doc_id AND a.epoch < b.epoch
    GROUP BY 1, 2
    """,
)
def epoch_reshuffle_prefix_overlap(spark, sf_dir):
    """Multi-epoch reshuffling audit: each training epoch orders the
    corpus by an epoch-seeded hash (`corpus_global_shuffle` is the
    single-epoch primitive); this measures the overlap of the first
    100 positions between every epoch pair. A correct reshuffle gives
    hypergeometric overlap (~100²/N documents — near zero here); a
    BROKEN one (seed ignored, hash reused) gives 100, and the batch
    a model sees first every epoch stops being i.i.d. The ordering
    hash includes the epoch, the tiebreak is doc_id, so both engines
    produce identical prefixes.

    Scale: the per-epoch top-100 prefix is a distributed TakeOrdered
    per epoch (window shown for SQL parity; the production form is
    orderBy+limit per epoch); the overlap join is 300 rows."""
    d = load_table(spark, sf_dir, "documents")
    epochs = spark.range(3).select(F.col("id").cast("int").alias("epoch"))
    keyed = d.crossJoin(F.broadcast(epochs)).select(
        "epoch",
        "doc_id",
        F.expr(
            base31_sx(
                "concat('epoch:', CAST(epoch AS STRING), ':', "
                "CAST(doc_id AS STRING))"
            )
        ).alias("h"),
    )
    w = Window.partitionBy("epoch").orderBy("h", "doc_id")
    prefixes = (
        keyed.withColumn("pos", F.row_number().over(w))
        .filter(F.col("pos") <= 100)
        .select("epoch", "doc_id")
    )
    a = prefixes.select(
        F.col("epoch").alias("epoch_a"), F.col("doc_id").alias("doc_id")
    )
    b = prefixes.select(
        F.col("epoch").alias("epoch_b"), F.col("doc_id").alias("doc_id_b")
    )
    return (
        a.join(
            b,
            (F.col("doc_id") == F.col("doc_id_b"))
            & (F.col("epoch_a") < F.col("epoch_b")),
        )
        .groupBy("epoch_a", "epoch_b")
        .agg(F.count("*").alias("prefix_overlap"))
    )


_BUDGET_TOKENS = 1_000_000


@query(
    "token_budget_apportionment",
    oracle=f"""
    WITH per_source AS (
      SELECT source, sum(len({_TOK_SQL}))::BIGINT AS n_tokens
      FROM documents GROUP BY source
    ),
    tot AS (SELECT sum(n_tokens)::BIGINT AS all_tokens,
                   count(*)::BIGINT AS n_sources FROM per_source),
    quotas AS (
      SELECT p.source, p.n_tokens,
             (p.n_tokens * {_BUDGET_TOKENS}) // t.all_tokens AS floor_alloc,
             (p.n_tokens * {_BUDGET_TOKENS}) % t.all_tokens AS remainder,
             t.all_tokens, t.n_sources
      FROM per_source p CROSS JOIN tot t
    ),
    ranked AS (
      SELECT source, n_tokens, floor_alloc,
             row_number() OVER (ORDER BY remainder DESC, source) AS rem_rank,
             {_BUDGET_TOKENS} - sum(floor_alloc) OVER () AS leftover
      FROM quotas
    )
    SELECT source, n_tokens,
           (floor_alloc + CASE WHEN rem_rank <= leftover THEN 1 ELSE 0 END)
             ::BIGINT AS budget_tokens
    FROM ranked
    """,
)
def token_budget_apportionment(spark, sf_dir):
    """Exact integer allocation of a fixed token budget across sources
    in proportion to their natural mass — the LARGEST-REMAINDER
    (Hamilton) method: floor each proportional share, then hand the
    leftover tokens to the sources with the largest fractional
    remainders (deterministic tiebreak on source). The allocations
    sum EXACTLY to the budget — the property naive per-source
    rounding violates (off-by-a-few totals that break a downstream
    packer's accounting) — and the whole computation is integer
    arithmetic, identical in both engines. Compose with
    `temperature_mixture_weights` by swapping the proportional mass
    for the tempered one.

    Scale: source-granular throughout (one corpus aggregate, then
    arithmetic over a sources-sized table); the remainder ranking is
    a window over that tiny table."""
    d = load_table(spark, sf_dir, "documents")
    n_tok = F.size(F.expr(tokens_sx("text"))).cast("long")
    per_source = stage(
        d.groupBy("source").agg(F.sum(n_tok).alias("n_tokens"))
    )
    tot = per_source.agg(F.sum("n_tokens").alias("all_tokens"))
    quotas = per_source.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_tokens",
        (F.col("n_tokens") * _BUDGET_TOKENS / F.col("all_tokens"))
        .cast("long")
        .alias("floor_alloc"),
        ((F.col("n_tokens") * _BUDGET_TOKENS) % F.col("all_tokens")).alias(
            "remainder"
        ),
    )
    w_rank = Window.orderBy(F.col("remainder").desc(), "source")
    w_all = Window.partitionBy()
    ranked = quotas.select(
        "source",
        "n_tokens",
        "floor_alloc",
        F.row_number().over(w_rank).alias("rem_rank"),
        (F.lit(_BUDGET_TOKENS) - F.sum("floor_alloc").over(w_all)).alias(
            "leftover"
        ),
    )
    return ranked.select(
        "source",
        "n_tokens",
        (
            F.col("floor_alloc")
            + F.when(F.col("rem_rank") <= F.col("leftover"), 1).otherwise(0)
        )
        .cast("long")
        .alias("budget_tokens"),
    )
