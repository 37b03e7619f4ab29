"""Deterministic sampling, binning, and ordered aggregation — corpus
curation primitives (every one shuffle-light and hash-checkable; the
random-seed ``df.sample`` exists too but RNGs differ across engines,
so the checkable variant is hash-systematic sampling — which is also
what you want at 100 TB: reproducible across reruns AND engines).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from oracle_to_cassandra_spark.functions.hashing import base31_sql, base31_sx
from oracle_to_cassandra_spark.registry import query
from oracle_to_cassandra_spark.sources import load_table


@query(
    "hash_systematic_sample",
    oracle=f"""
    SELECT doc_id, lang, n_chars
    FROM documents
    WHERE {base31_sql("doc_id::VARCHAR")} % 20 = 0
    """,
)
def hash_systematic_sample(spark, sf_dir):
    """~5% deterministic sample: keep rows whose key-hash ≡ 0 mod 20.
    Reproducible across engines/reruns/partitionings — unlike
    seed-based sampling; the standard trick for stable eval holdouts."""
    d = load_table(spark, sf_dir, "documents")
    return d.filter(
        F.expr(base31_sx("CAST(doc_id AS STRING)")) % 20 == 0
    ).select("doc_id", "lang", "n_chars")


@query(
    "histogram_binning_prices",
    oracle="""
    SELECT (floor(o_totalprice / 50000) * 50000)::BIGINT AS bin_floor,
           count(*)::BIGINT AS n_orders,
           (sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT
            * 10000 // count(o_totalprice)) AS avg_price_micro
    FROM orders GROUP BY 1
    """,
)
def histogram_binning_prices(spark, sf_dir):
    """Fixed-width histogram binning (floor-divide) — the scalable
    histogram: one pass, one tiny shuffle of (bin, partial agg)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.withColumn(
            "bin_floor",
            (F.floor(F.col("o_totalprice") / 50000) * 50000).cast("long"),
        )
        .groupBy("bin_floor")
        .agg(
            F.count("*").alias("n_orders"),
            # exact micro-dollar mean: cents-sum ·1e4, one int64 div
            F.expr(
                "sum(CAST(round(o_totalprice * 100) AS BIGINT))"
                " * 10000 div count(o_totalprice)"
            ).alias("avg_price_micro"),
        )
    )


@query(
    "ordered_string_agg_nations",
    oracle="""
    SELECT r.r_name AS r_name,
           string_agg(n.n_name, ',' ORDER BY n.n_name) AS nations
    FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
)
def ordered_string_agg_nations(spark, sf_dir):
    """Ordered string aggregation (LISTAGG): collect → sort → join,
    deterministic output regardless of row arrival order."""
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    joined = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    return joined.groupBy("r_name").agg(
        F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("nations")
    )


@query(
    "stratified_quota_sample",
    oracle=f"""
    SELECT doc_id, lang FROM (
      SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang
                                ORDER BY {base31_sql("doc_id::VARCHAR")}, doc_id)
               ::BIGINT AS rn
      FROM documents
    ) WHERE rn <= 10
    """,
)
def stratified_quota_sample(spark, sf_dir):
    """Stratified sampling: top-10 per language by key-hash order —
    deterministic per-stratum quotas (corpus balancing across
    languages/sources)."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.expr(base31_sx("CAST(doc_id AS STRING)")), F.col("doc_id")
    )
    return (
        d.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 10)
        .select("doc_id", "lang")
    )


@query(
    "weighted_sample_without_replacement",
    oracle="""
    WITH scored AS (
      SELECT doc_id, source,
             len(list_distinct(string_split(lower(text), ' '))) AS nd,
             greatest(len(string_split(lower(text), ' ')), 1) AS nt,
             len(list_distinct(string_split(lower(text), ' '))) * 1.0
               / greatest(len(string_split(lower(text), ' ')), 1) AS w,
             (('0x' || substr(md5('wswr:' || doc_id::VARCHAR), 1, 15))::INT64
              % 1000000 + 1) / 1000001.0 AS u
      FROM documents
    )
    SELECT doc_id, source,
           (nd * 1000000 // nt)::BIGINT AS weight_ppm, rnk
    FROM (
      SELECT doc_id, source, nd, nt,
             row_number() OVER (
               ORDER BY round(-ln(u) / w, 6), doc_id)::BIGINT AS rnk
      FROM scored
    ) WHERE rnk <= 20
    """,
)
def weighted_sample_without_replacement(spark, sf_dir):
    """Weighted sampling WITHOUT replacement (Efraimidis–Spirakis
    2006): each document draws a deterministic uniform u from the
    salted md5 family and competes on the exponential key
    -ln(u)/w with w = its vocabulary-diversity weight; the k
    smallest keys ARE a weighted sample without replacement — in one
    distributed pass, no sequential draws, no rejection loop. The
    quality-weighted corpus subsample every curation pipeline needs,
    reproducible across runs because u is a hash, not an RNG.

    Scale: the key is scan-side arithmetic; selection is a
    distributed top-k (TakeOrderedAndProject), never a global sort;
    ties in the 6-dp-rounded key break on doc_id so both engines
    rank identically."""
    from oracle_to_cassandra_spark.functions.hashing import md5_int64_sx
    from oracle_to_cassandra_spark.operators.text import tokens_sx

    d = load_table(spark, sf_dir, "documents")
    ts = F.expr(tokens_sx("text"))
    w = F.size(F.array_distinct(ts)) / F.greatest(F.size(ts), F.lit(1))
    u = (
        F.expr(md5_int64_sx("concat('wswr:', CAST(doc_id AS STRING))"))
        % 1000000
        + 1
    ) / 1000001.0
    scored = d.select(
        "doc_id",
        "source",
        F.size(F.array_distinct(ts)).alias("nd"),
        F.greatest(F.size(ts), F.lit(1)).alias("nt"),
        F.round(-F.log(u) / w, 6).alias("es_key"),
    )
    top = scored.orderBy("es_key", "doc_id").limit(20)
    from pyspark.sql import Window

    wk = Window.orderBy("es_key", "doc_id")
    return top.select(
        "doc_id",
        "source",
        # the emitted weight is int-derived — exact integer ppm; the
        # RANK key keeps its float round (ln makes the doubles generic;
        # identical chains both engines, doc_id breaks ties)
        F.expr("nd * 1000000 div nt").alias("weight_ppm"),
        F.row_number().over(wk).cast("long").alias("rnk"),
    )


@query(
    "stratified_exact_n_sample",
    oracle=f"""
    SELECT lang, doc_id FROM (
      SELECT lang, doc_id,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY md5('strat:' || doc_id::VARCHAR), doc_id
             ) AS rk
      FROM documents
    ) WHERE rk <= 5
    """,
)
def stratified_exact_n_sample(spark, sf_dir):
    """EXACT-size stratified sampling: precisely 5 documents per
    language stratum, selected by smallest seeded hash — the eval-set
    builder's contract (`sampleBy` is Bernoulli: per-stratum counts
    are random, and a 5-example-per-language benchmark cannot be
    'approximately 5'). Hash-ranked selection is reproducible across
    engines, partitionings, and reruns, and re-seedable by changing
    the literal.

    Scale: per-stratum top-k — the rank window partitions by the
    stratum; for small k the production form is the per-partition
    pre-top-k (TakeOrdered within stratum), never a full sort."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    key = F.md5(F.concat(F.lit("strat:"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("lang").orderBy(key, "doc_id")
    return (
        d.select("lang", "doc_id", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= 5)
        .select("lang", "doc_id")
    )
