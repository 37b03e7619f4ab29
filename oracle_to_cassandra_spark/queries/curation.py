"""Corpus-curation queries: edit-distance near-dup refinement,
calendar-spine densification, CDC latest-version dedup, null handling,
and funnel conversion — the remaining everyday shapes of a
training-data pipeline.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from oracle_to_cassandra_spark.operators.dedup import lsh_candidate_pairs_sql
from oracle_to_cassandra_spark.registry import query
from oracle_to_cassandra_spark.sources import load_table


@query(
    "levenshtein_candidate_pairs",
    oracle=f"""
    WITH cands AS ({lsh_candidate_pairs_sql()})
    SELECT c.doc_a, c.doc_b,
           levenshtein(
             regexp_replace(substr(da.text, 1, 80),
                            '[^\\x00-\\x7F]', chr(26), 'g'),
             regexp_replace(substr(db.text, 1, 80),
                            '[^\\x00-\\x7F]', chr(26), 'g'))::INT
             AS edit_distance_80
    FROM cands c
    JOIN documents da ON da.doc_id = c.doc_a
    JOIN documents db ON db.doc_id = c.doc_b
    """,
)
def levenshtein_candidate_pairs(spark, sf_dir):
    """Edit-distance refinement of LSH candidates — the character-level
    second opinion next to token Jaccard. Bounded to 80-char prefixes:
    Levenshtein is O(len²) per pair, so at scale it only ever runs on
    candidate pairs and on clipped prefixes, never the full corpus.

    Distance UNIT pinned by ASCII projection: Spark's levenshtein
    counts CODEPOINT edits while DuckDB's counts BYTE edits, so the
    two disagree on any multibyte text (é = 1 vs 2, 😀 = 1 vs 4 —
    unicode stress sweep). Replacing every non-ASCII codepoint with
    one SUB byte (0x1A) before the distance makes bytes ≡ codepoints
    in both engines; the metric collapses distinctions AMONG
    non-ASCII characters, which for a near-dup refinement is a
    conservative bias (substituted exotic characters read as equal)
    and keeps the hot path at one regexp per prefix."""
    docs = load_table(spark, sf_dir, "documents")
    from oracle_to_cassandra_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    cands = lsh_candidate_pairs(minhash_signatures(docs))

    def ascii_prefix(col):
        # one SUB byte per non-ASCII codepoint (docstring: unit pin)
        return F.regexp_replace(
            F.substring(col, 1, 80), r"[^\x00-\x7F]", "\x1a"
        )

    da = docs.select(
        F.col("doc_id").alias("doc_a"), ascii_prefix(F.col("text")).alias("ta")
    )
    db = docs.select(
        F.col("doc_id").alias("doc_b"), ascii_prefix(F.col("text")).alias("tb")
    )
    return (
        cands.join(da, "doc_a")
        .join(db, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.levenshtein("ta", "tb").alias("edit_distance_80"),
        )
    )


@query(
    "calendar_spine_daily_orders",
    oracle="""
    WITH spine AS (
      SELECT unnest(generate_series(DATE '1995-01-01', DATE '1995-01-31',
                                    INTERVAL '1 day'))::DATE AS day
    ),
    daily AS (
      SELECT o_orderdate::DATE AS day, count(*)::BIGINT AS n_orders
      FROM orders
      WHERE o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1995-02-01'
      GROUP BY 1
    )
    SELECT strftime(s.day, '%Y-%m-%d') AS day,
           coalesce(d.n_orders, 0)::BIGINT AS n_orders
    FROM spine s LEFT JOIN daily d ON d.day = s.day
    """,
)
def calendar_spine_daily_orders(spark, sf_dir):
    """Time-series densification: generate a calendar spine
    (``sequence`` of dates), left-join daily counts, zero-fill gaps —
    so downstream window math sees every day, including empty ones.
    The spine is generated in the plan (no source table) and is tiny —
    broadcast side of the join."""
    o = load_table(spark, sf_dir, "orders")
    spine = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("1995-01-01").cast("date"),
                F.lit("1995-01-31").cast("date"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("day")
    )
    daily = (
        o.filter(
            (F.col("o_orderdate") >= F.lit("1995-01-01").cast("date"))
            & (F.col("o_orderdate") < F.lit("1995-02-01").cast("date"))
        )
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(F.count("*").alias("n_orders"))
    )
    return (
        F.broadcast(spine)
        .join(daily, "day", "left")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.coalesce(F.col("n_orders"), F.lit(0)).alias("n_orders"),
        )
    )


@query(
    "cdc_latest_version_dedup",
    oracle="""
    SELECT user_id, event_id AS latest_event_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS latest_ts
    FROM (
      SELECT user_id, event_id, ts,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def cdc_latest_version_dedup(spark, sf_dir):
    """CDC latest-version dedup: keep the newest record per key
    (row_number over ts DESC) — the compaction step of every
    change-capture ingest; one shuffle on the key."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("latest_event_id"),
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("latest_ts"),
        )
    )


@query(
    "null_handling_outer_join",
    oracle="""
    SELECT c.c_custkey,
           coalesce(strftime(lo.last_order, '%Y-%m-%d'), 'never') AS last_order_day,
           (lo.last_order IS NULL)::INT AS is_inactive
    FROM customer c
    LEFT JOIN (SELECT o_custkey, max(o_orderdate) AS last_order
               FROM orders GROUP BY o_custkey) lo
      ON lo.o_custkey = c.c_custkey
    """,
)
def null_handling_outer_join(spark, sf_dir):
    """Null semantics surface: outer-join nulls classified
    (IS NULL flag) and defaulted (coalesce to a sentinel) — fillna/
    drop-or-flag mechanics on real join-produced nulls."""
    c = load_table(spark, sf_dir, "customer")
    lo = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.max("o_orderdate").alias("last_order"))
    )
    return c.join(lo, c.c_custkey == lo.o_custkey, "left").select(
        "c_custkey",
        F.coalesce(
            F.date_format("last_order", "yyyy-MM-dd"), F.lit("never")
        ).alias("last_order_day"),
        F.col("last_order").isNull().cast("int").alias("is_inactive"),
    )


@query(
    "funnel_signup_to_purchase",
    oracle="""
    WITH firsts AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'signup' THEN ts END)   AS first_signup,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase
      FROM events GROUP BY user_id
    )
    SELECT count(*)::BIGINT AS n_users,
           count(first_signup)::BIGINT AS n_signed_up,
           count(CASE WHEN first_purchase > first_signup
                      THEN 1 END)::BIGINT AS n_converted
    FROM firsts
    """,
)
def funnel_signup_to_purchase(spark, sf_dir):
    """Funnel conversion: users whose first purchase follows their
    first signup — conditional-min funnel stages in one grouped pass
    (no self-join)."""
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("first_signup"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("first_purchase"),
    )
    return firsts.agg(
        F.count("*").alias("n_users"),
        F.count("first_signup").alias("n_signed_up"),
        F.count(
            F.when(F.col("first_purchase") > F.col("first_signup"), 1)
        ).alias("n_converted"),
    )


def _curation_pipeline_sql() -> str:
    from oracle_to_cassandra_spark.operators.text import quality_micro_sql
    from oracle_to_cassandra_spark.queries.text_analysis import (
        QUALITY_SQL,
        STOP_RATIO_SQL,
        _SW,
        _TOK,
    )

    QM_SQL = quality_micro_sql(_TOK, _SW)
    return f"""
    WITH scored AS (
      SELECT doc_id,
             {QUALITY_SQL}    AS quality,
             {QM_SQL}         AS q_micro,
             {STOP_RATIO_SQL} AS stop_ratio
      FROM documents
    ),
    keepers AS (
      SELECT min(doc_id) AS keeper_id FROM documents GROUP BY md5(text)
    )
    SELECT s.doc_id, s.q_micro::BIGINT AS quality_micro
    FROM scored s JOIN keepers k ON s.doc_id = k.keeper_id
    WHERE s.stop_ratio > 0.05 AND s.quality >= 0.67
    """


@query("corpus_curation_pipeline", oracle=_curation_pipeline_sql())
def corpus_curation_pipeline(spark, sf_dir):
    """The end-to-end LLM-corpus curation filter, composed from the
    verified primitives: quality scoring + stopword-density language
    gate (operators/text.py) + exact-dedup keeper selection — keep
    each document iff it is its duplicate-group's representative,
    reads as English, and scores ≥0.67 (the corpus p25).

    Scale/plan: one scan computes both text scores (codegen'd
    higher-order functions); the keeper set is a groupBy on md5(text)
    — 32-byte shuffle keys — joined back on doc_id. Two exchanges
    total; no stage touches the corpus twice."""
    from oracle_to_cassandra_spark.operators import text as TX
    from oracle_to_cassandra_spark.operators.dedup import exact_dedup_keepers

    d = load_table(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        F.expr(TX.quality_score_sx("text")).alias("quality"),
        F.expr(TX.quality_micro_sx("text")).alias("quality_micro"),
        F.expr(TX.stopword_ratio_sx(TX.tokens_sx("text"))).alias("stop_ratio"),
    )
    keepers = exact_dedup_keepers(d, "text", "doc_id").select(
        F.col("keeper_id").alias("doc_id")
    )
    return (
        scored.join(keepers, "doc_id")
        # thresholds compare RAW doubles (identical chains, no round);
        # the emitted column is the exact int64 micro-quality
        .filter((F.col("stop_ratio") > 0.05) & (F.col("quality") >= 0.67))
        .select("doc_id", "quality_micro")
    )


@query(
    "funnel_time_to_convert",
    oracle="""
    WITH signups AS (
      SELECT user_id, min(ts) AS signup_ts FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ),
    first_purchase AS (
      SELECT e.user_id, min(e.ts) AS purchase_ts
      FROM events e JOIN signups s ON e.user_id = s.user_id
      WHERE e.event_type = 'purchase' AND e.ts >= s.signup_ts
      GROUP BY e.user_id
    ),
    delays AS (
      SELECT round(epoch(p.purchase_ts) - epoch(s.signup_ts), 6) AS delay_s
      FROM signups s JOIN first_purchase p ON s.user_id = p.user_id
    )
    SELECT count(*)::BIGINT AS n_converted,
           round(quantile_cont(delay_s, 0.5), 2) AS p50_s,
           round(quantile_cont(delay_s, 0.9), 2) AS p90_s,
           round(min(delay_s), 2) AS min_s,
           round(max(delay_s), 2) AS max_s
    FROM delays
    """,
)
def funnel_time_to_convert(spark, sf_dir):
    """Time-to-convert distribution for the signup→purchase funnel:
    per converting user the delay between first signup and first
    subsequent purchase, summarized as p50/p90/min/max — the latency
    half of funnel analysis (funnel_signup_to_purchase counts WHO
    converts; this measures HOW LONG conversion takes, which is what
    a growth team actually tunes against).

    Scale: two keyed min-aggregates (map-side partials) and a
    user-keyed join; the percentile runs over converted-user-count
    delays (exact here, sketch at 100 TB). Delays are computed on
    epoch seconds identically in both engines."""
    ev = load_table(spark, sf_dir, "events")
    signups = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .join(signups, "user_id")
        .filter(F.col("ts") >= F.col("signup_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("purchase_ts"))
    )
    delays = signups.join(purchases, "user_id").select(
        F.round(
            F.unix_micros("purchase_ts") / 1e6
            - F.unix_micros("signup_ts") / 1e6,
            6,
        ).alias("delay_s")
    )
    return delays.agg(
        F.count("*").alias("n_converted"),
        F.round(F.percentile("delay_s", 0.5), 2).alias("p50_s"),
        F.round(F.percentile("delay_s", 0.9), 2).alias("p90_s"),
        F.round(F.min("delay_s"), 2).alias("min_s"),
        F.round(F.max("delay_s"), 2).alias("max_s"),
    )


def _pipeline_v2_oracle() -> str:
    from oracle_to_cassandra_spark.functions.hashing import base31_sql
    from oracle_to_cassandra_spark.queries.corpus_quality import (
        _SW_SQL,
        MIN_DIVERSITY,
        MIN_STOPWORDS,
        MIN_WORDS,
        MWL_HI,
        MWL_LO,
    )
    from oracle_to_cassandra_spark.operators.text import quality_micro_sql

    _QM_SQL = quality_micro_sql("ts", _SW_SQL)
    rule = (
        f"(len(ts) >= {MIN_WORDS}"
        f" AND list_avg(list_transform(ts, t -> len(t)))"
        f" BETWEEN {MWL_LO} AND {MWL_HI}"
        f" AND len(list_distinct(ts)) * 1.0 / len(ts) >= {MIN_DIVERSITY}"
        f" AND len(list_distinct(list_filter(ts, t -> t IN {_SW_SQL})))"
        f" >= {MIN_STOPWORDS})"
    )
    split = (
        f"CASE WHEN {base31_sql('doc_id::VARCHAR')} % 10 < 8 THEN 'train' "
        f"WHEN {base31_sql('doc_id::VARCHAR')} % 10 = 8 THEN 'val' "
        "ELSE 'test' END"
    )
    return f"""
    WITH gated AS (
      SELECT doc_id, text, len(ts)::BIGINT AS n_tokens,
             {_QM_SQL} AS q_micro
      FROM (SELECT doc_id, text, string_split(lower(text), ' ') AS ts
            FROM documents)
      WHERE {rule.replace('(ts)', '(ts)')}
    ),
    deduped AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY md5(text)
                                     ORDER BY doc_id) AS rn
        FROM gated
      ) WHERE rn = 1
    ),
    floor_q AS (
      -- quantile of INTEGER micro-units: the interpolated value is
      -- x.0 or x.5 exactly (representable), so the >= compare is
      -- deterministic in both engines with no rounding involved
      SELECT quantile_cont(q_micro, 0.2) AS q20 FROM deduped
    ),
    kept AS (
      SELECT d.* FROM deduped d, floor_q f WHERE d.q_micro >= f.q20
    )
    SELECT {split} AS split,
           count(*)::BIGINT AS n_docs,
           sum(n_tokens)::BIGINT AS total_tokens,
           (sum(q_micro)::BIGINT // count(*)) AS mean_quality_micro
    FROM kept GROUP BY 1
    """


@query("curation_pipeline_v2", oracle=_pipeline_v2_oracle())
def curation_pipeline_v2(spark, sf_dir):
    """The round-6 curation pipeline, end to end in one plan: Gopher
    rule gate → exact dedup (min-doc_id keeper per md5) → quality
    floor at the survivor p20 (drop the bottom quintile) → stable
    hash split → per-split volume and mean quality. Every stage is a
    driver-green operator elsewhere in the registry; the composition
    is what a production corpus build actually submits as one job,
    and the oracle chains the SAME shared constants/formulas, so a
    threshold edit re-verifies the whole pipeline.

    Scale: gate + quality are scan-side; dedup shuffles 16-byte md5
    keys; the floor is a 1-row broadcast; the split tag is hash
    arithmetic. One corpus-sized shuffle total (the dedup), which is
    the information-theoretic minimum for exact dedup."""
    from oracle_to_cassandra_spark.functions.hashing import base31_sx
    from oracle_to_cassandra_spark.operators.text import (
        EN_STOPWORDS,
        quality_micro_sx,
        tokens_sx,
    )
    from oracle_to_cassandra_spark.queries.corpus_quality import (
        MIN_DIVERSITY,
        MIN_STOPWORDS,
        MIN_WORDS,
        MWL_HI,
        MWL_LO,
    )

    d = load_table(spark, sf_dir, "documents")
    ts = F.expr(tokens_sx("text"))
    mwl = F.aggregate(
        F.transform(ts, F.length), F.lit(0.0), lambda a, x: a + x
    ) / F.size(ts)
    rule = (
        (F.size(ts) >= MIN_WORDS)
        & (mwl >= MWL_LO)
        & (mwl <= MWL_HI)
        & (F.size(F.array_distinct(ts)) / F.size(ts) >= MIN_DIVERSITY)
        & (
            F.size(F.array_distinct(F.filter(ts, lambda t: t.isin(*EN_STOPWORDS))))
            >= MIN_STOPWORDS
        )
    )
    gated = d.filter(rule).select(
        "doc_id",
        "text",
        F.size(ts).cast("long").alias("n_tokens"),
        # exact int64 micro-quality: a per-row 6-dp round ties at
        # uncancelled 2^7 token counts and flips across engines
        F.expr(quality_micro_sx("text")).alias("q_micro"),
    )
    w_dup = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    deduped = (
        gated.withColumn("rn", F.row_number().over(w_dup))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    # quantile of INTEGER micro-units interpolates to x.0/x.5 exactly
    # (representable), so the >= threshold compare is deterministic
    floor_q = deduped.agg(F.percentile("q_micro", F.lit(0.2)).alias("q20"))
    kept = deduped.crossJoin(F.broadcast(floor_q)).filter(
        F.col("q_micro") >= F.col("q20")
    )
    h = F.expr(base31_sx("CAST(doc_id AS STRING)")) % 10
    split = (
        F.when(h < 8, "train").when(h == 8, "val").otherwise("test")
    )
    return kept.groupBy(split.alias("split")).agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        # exact integer micro-mean (int64 div): a float round over
        # sum/count ties at the half-micro and flips across engines
        F.expr("sum(q_micro) div count(*)").alias("mean_quality_micro"),
    )
