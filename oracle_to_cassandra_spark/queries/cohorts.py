"""Cohort analytics over the events stream: weekly retention matrix
and per-cohort value — the standard product-analytics rollup, built
from first-touch assignment + conditional pivots.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from oracle_to_cassandra_spark.registry import query
from oracle_to_cassandra_spark.sources import load_table


@query(
    "cohort_weekly_retention",
    oracle="""
    WITH firsts AS (
      SELECT user_id, min(ts) AS first_ts FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT e.user_id,
             strftime(date_trunc('week', f.first_ts), '%Y-%m-%d') AS cohort_week,
             date_diff('week', date_trunc('week', f.first_ts),
                       date_trunc('week', e.ts))::INT AS week_offset
      FROM events e JOIN firsts f ON e.user_id = f.user_id
    )
    SELECT cohort_week,
           count(DISTINCT user_id)::BIGINT AS cohort_size,
           count(DISTINCT CASE WHEN week_offset = 1 THEN user_id END)::BIGINT AS week1,
           count(DISTINCT CASE WHEN week_offset = 2 THEN user_id END)::BIGINT AS week2,
           count(DISTINCT CASE WHEN week_offset = 3 THEN user_id END)::BIGINT AS week3
    FROM activity GROUP BY cohort_week
    """,
)
def cohort_weekly_retention(spark, sf_dir):
    """Weekly retention: users grouped by first-seen week, counted
    distinct in each subsequent week offset — first-touch assignment
    joined back to the activity stream, then conditional distinct
    counts (one shuffle for firsts, one for the matrix).

    Scale: ``firsts`` is user-cardinality — NOT broadcastable at
    100 TB, so no broadcast hint; the join shuffles on user_id (AQE
    still broadcasts it at small SF where it fits)."""
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(F.min("ts").alias("first_ts"))
    activity = ev.join(firsts, "user_id").select(
        "user_id",
        F.date_format(F.date_trunc("week", "first_ts"), "yyyy-MM-dd").alias("cohort_week"),
        (
            F.floor(
                F.datediff(
                    F.date_trunc("week", F.col("ts")),
                    F.date_trunc("week", F.col("first_ts")),
                )
                / 7
            )
        ).cast("int").alias("week_offset"),
    )
    def wk(n):
        return F.count_distinct(
            F.when(F.col("week_offset") == n, F.col("user_id"))
        ).alias(f"week{n}")

    return activity.groupBy("cohort_week").agg(
        F.count_distinct("user_id").alias("cohort_size"), wk(1), wk(2), wk(3)
    )


@query(
    "event_transition_matrix",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ),
    trans AS (
      SELECT prev_type, event_type AS next_type, count(*)::BIGINT AS n
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY prev_type, next_type
    )
    SELECT prev_type, next_type, n,
           (n * 1000000 // sum(n) OVER (PARTITION BY prev_type))::BIGINT
             AS transition_ppm
    FROM trans
    """,
)
def event_transition_matrix(spark, sf_dir):
    """First-order Markov transition matrix over user event streams:
    per (previous event type → next event type), the count and the
    row-normalized transition probability — the behavioral model
    behind next-action prediction and anomaly scoring (a transition
    that never appears in this table is an anomaly when it shows up
    live).

    Scale: the lag window partitions per user (parallel across the
    user key space, no global ordering); the transition aggregate is
    event-type²-sized with map-side partials, and the normalizing
    window reuses the tiny aggregated table. Ordering ties on ts are
    broken by event_id so the sequence — and therefore the matrix —
    is deterministic in both engines."""
    from oracle_to_cassandra_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    trans = seq.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count("*").alias("n")
    )
    w_norm = Window.partitionBy("prev_type")
    return (
        trans.withColumn("tot", F.sum("n").over(w_norm))
        .select(
            "prev_type",
            "next_type",
            "n",
            # exact integer ppm (int64 div) — a float round over the
            # ratio ties at the half-micro across engines
            F.expr("n * 1000000 div tot").alias("transition_ppm"),
        )
    )


@query(
    "ab_assignment_srm_check",
    oracle="""
    WITH assigned AS (
      SELECT CASE WHEN ('0x' || substr(md5('exp1:' || user_id::VARCHAR), 1, 15))
                       ::INT64 % 2 = 0 THEN 'A' ELSE 'B' END AS arm
      FROM (SELECT DISTINCT user_id FROM events)
    ),
    counts AS (
      SELECT arm, count(*)::BIGINT AS n_users FROM assigned GROUP BY arm
    ),
    tot AS (SELECT sum(n_users) AS n FROM counts)
    SELECT c.arm, c.n_users,
           (c.n_users * 1000000 // t.n)::BIGINT AS share_ppm,
           CAST(floor((c.n_users - t.n / 2.0) * (c.n_users - t.n / 2.0)
                      / (t.n / 2.0) * 1000000 + 0.5) AS BIGINT)
             AS chi2_term_e6
    FROM counts c, tot t
    """,
)
def ab_assignment_srm_check(spark, sf_dir):
    """Deterministic experiment bucketing + sample-ratio-mismatch
    check: users hash into arms A/B by the salted md5 family
    (stable across runs and pipelines — the property that makes
    holdouts reproducible), and each arm reports its share plus its
    χ² term against the expected 50/50 (sum the column, compare to
    the χ²₁ critical value ≈ 3.84: above it, the assignment
    plumbing is leaking users and every downstream metric is
    suspect — the FIRST check an experimentation platform runs).

    Scale: distinct-user aggregation (map-side combined) then a
    2-row report; assignment is pure hash arithmetic at scan speed,
    usable as-is as the join key for exposure logging."""
    from oracle_to_cassandra_spark.functions.hashing import md5_int64_sx

    ev = load_table(spark, sf_dir, "events")
    arm = F.when(
        F.expr(md5_int64_sx("concat('exp1:', CAST(user_id AS STRING))")) % 2
        == 0,
        "A",
    ).otherwise("B")
    counts = (
        ev.select("user_id")
        .distinct()
        .select(arm.alias("arm"))
        .groupBy("arm")
        .agg(F.count("*").alias("n_users"))
    )
    tot = counts.agg(F.sum("n_users").alias("n"))
    return counts.crossJoin(F.broadcast(tot)).select(
        "arm",
        "n_users",
        F.expr("n_users * 1000000 div n").alias("share_ppm"),
        # fixed-point via floor(x*1e6 + 0.5): floor on the IDENTICAL
        # double is deterministic in both engines, unlike round's
        # repr-vs-binary tie handling (chi2's int-derived rationals
        # make such ties reachable)
        F.floor(
            (F.col("n_users") - F.col("n") / 2.0)
            * (F.col("n_users") - F.col("n") / 2.0)
            / (F.col("n") / 2.0)
            * 1000000
            + 0.5
        )
        .cast("long")
        .alias("chi2_term_e6"),
    )


@query(
    "markov_surprise_anomaly_users",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ),
    trans AS (
      SELECT prev_type, event_type AS next_type, count(*)::BIGINT AS n
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY prev_type, next_type
    ),
    probs AS (
      SELECT prev_type, next_type,
             n * 1.0 / sum(n) OVER (PARTITION BY prev_type) AS p
      FROM trans
    ),
    scored AS (
      SELECT s.user_id, -ln(p.p) AS surprise
      FROM seq s JOIN probs p
        ON s.prev_type = p.prev_type AND s.event_type = p.next_type
      WHERE s.prev_type IS NOT NULL
    ),
    per_user AS (
      SELECT user_id, count(*)::BIGINT AS n_transitions,
             (sum(CAST(round(surprise * 1000000) AS BIGINT))::BIGINT
              // count(*)) AS mean_surprise_micro
      FROM scored GROUP BY user_id
    )
    SELECT user_id, n_transitions, mean_surprise_micro,
           row_number() OVER (ORDER BY mean_surprise_micro DESC, user_id)
             ::BIGINT AS rnk
    FROM per_user ORDER BY rnk LIMIT 10
    """,
)
def markov_surprise_anomaly_users(spark, sf_dir):
    """Behavioral anomaly scoring on top of the transition matrix:
    every observed transition contributes its surprise −ln p (the
    model's code length for that step); users are ranked by mean
    surprise and the top-10 are the accounts whose behavior the
    corpus-wide Markov model explains worst — the follow-up query an
    on-call analyst runs after the matrix flags an unseen-transition
    alert. Surprise sums use the integer micro-unit form so the
    per-user mean cannot flip on a rounding boundary across engines.

    Scale: the transition model is event-type²-sized and BROADCAST
    back against the sequence scan; per-user aggregation is map-side
    partialed; the final ranking is a distributed top-k over
    user-count rows."""
    from oracle_to_cassandra_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    ).filter(F.col("prev_type").isNotNull())
    trans = seq.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count("*").alias("n")
    )
    w_norm = Window.partitionBy("prev_type")
    probs = trans.select(
        "prev_type",
        "next_type",
        (F.col("n") / F.sum("n").over(w_norm)).alias("p"),
    )
    scored = seq.join(
        F.broadcast(probs),
        (seq.prev_type == probs.prev_type)
        & (seq.event_type == probs.next_type),
    ).select("user_id", (-F.log("p")).alias("surprise"))
    per_user = scored.groupBy("user_id").agg(
        F.count("*").alias("n_transitions"),
        # exact integer micro-mean — also the RANK key, so ordering
        # is int64-stable across engines and partition orders
        F.expr(
            "sum(CAST(round(surprise * 1000000) AS BIGINT)) div count(*)"
        ).alias("mean_surprise_micro"),
    )
    top = per_user.orderBy(F.desc("mean_surprise_micro"), "user_id").limit(10)
    wk = Window.orderBy(F.desc("mean_surprise_micro"), "user_id")
    return top.select(
        "user_id",
        "n_transitions",
        "mean_surprise_micro",
        F.row_number().over(wk).cast("long").alias("rnk"),
    ).orderBy("rnk")


@query(
    "rfm_customer_segments",
    oracle="""
    WITH rfm AS (
      SELECT o_custkey,
             max(o_orderdate) AS last_order,
             count(*)::BIGINT AS frequency,
             sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT AS m_c
      FROM orders GROUP BY o_custkey
    ),
    cuts AS (
      SELECT round(quantile_cont(frequency * 1.0, 0.5), 6) AS f_med,
             quantile_cont(m_c * 1.0, 0.5) AS m_med,
             quantile_cont(epoch(last_order), 0.5) AS r_med
      FROM rfm
    )
    SELECT ((CASE WHEN epoch(r.last_order) >= c.r_med THEN 'R' ELSE '-' END)
            || (CASE WHEN r.frequency >= c.f_med THEN 'F' ELSE '-' END)
            || (CASE WHEN r.m_c >= c.m_med THEN 'M' ELSE '-' END))
             AS segment,
           count(*)::BIGINT AS n_customers,
           round(sum(r.m_c)::BIGINT / 100.0, 2) AS segment_revenue
    FROM rfm r CROSS JOIN cuts c
    GROUP BY segment
    """,
)
def rfm_customer_segments(spark, sf_dir):
    """RFM segmentation: recency / frequency / monetary per customer,
    each split at its corpus MEDIAN (broadcast cutpoints — the
    scale-safe alternative to a global ntile, same lever as
    quantile_cutpoint_bucketing), yielding the eight classic segments
    ('RFM' = champions … '---' = lapsed) with headcount and revenue
    per segment — the first table any lifecycle-marketing analysis
    draws.

    Scale: per-customer aggregate (map-side partials) → a 1-row
    median table broadcast back → map-side segment tagging → 8-key
    aggregate. No global sort, no per-row window. Medians are exact
    here; at 100 TB the same plan takes approx-percentile cutpoints.
    Recency compares on epoch seconds in BOTH engines so the median
    threshold is engine-stable."""
    o = load_table(spark, sf_dir, "orders")
    rfm = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count("*").alias("frequency"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("m_c"),
    )
    cuts = rfm.agg(
        F.round(F.percentile(F.col("frequency").cast("double"), 0.5), 6).alias(
            "f_med"
        ),
        F.percentile(F.col("m_c").cast("double"), 0.5).alias("m_med"),
        F.percentile(F.unix_timestamp("last_order").cast("double"), 0.5).alias(
            "r_med"
        ),
    )
    seg = F.concat(
        F.when(
            F.unix_timestamp("last_order").cast("double") >= F.col("r_med"), "R"
        ).otherwise("-"),
        F.when(F.col("frequency") >= F.col("f_med"), "F").otherwise("-"),
        F.when(F.col("m_c") >= F.col("m_med"), "M").otherwise("-"),
    )
    return (
        rfm.crossJoin(F.broadcast(cuts))
        .groupBy(seg.alias("segment"))
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.sum("m_c") / 100.0, 2).alias("segment_revenue"),
        )
    )


@query(
    "event_path_trigrams",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type, 1) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS p1,
             lag(event_type, 2) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS p2
      FROM events
    )
    SELECT path, n_occurrences, rnk FROM (
      SELECT p2 || ' > ' || p1 || ' > ' || event_type AS path,
             count(*)::BIGINT AS n_occurrences,
             row_number() OVER (ORDER BY count(*) DESC,
                                p2 || ' > ' || p1 || ' > ' || event_type)::BIGINT
               AS rnk
      FROM seq WHERE p2 IS NOT NULL
      GROUP BY 1
    ) WHERE rnk <= 10
    """,
)
def event_path_trigrams(spark, sf_dir):
    """Top user-journey trigrams: the most common 3-step event paths
    across all users — the order-2 sequence patterns the order-1
    transition matrix can't see (A→B→A loops vs A→B→C funnels look
    identical at order 1). Product analytics reads this table to find
    the paths worth instrumenting as funnels.

    Scale: the double-lag window is per-user-partitioned; the path
    aggregate is event-type³-bounded with map-side partials;
    distributed top-k before the 10-row rank window."""
    from oracle_to_cassandra_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        F.lag("event_type", 1).over(w).alias("p1"),
        F.lag("event_type", 2).over(w).alias("p2"),
    ).filter(F.col("p2").isNotNull())
    path = F.concat_ws(" > ", "p2", "p1", "event_type")
    counts = seq.groupBy(path.alias("path")).agg(
        F.count("*").alias("n_occurrences")
    )
    top = counts.orderBy(F.desc("n_occurrences"), "path").limit(10)
    wk = Window.orderBy(F.desc("n_occurrences"), "path")
    return top.select(
        "path",
        "n_occurrences",
        F.row_number().over(wk).cast("long").alias("rnk"),
    ).orderBy("rnk")


@query(
    "purchase_regularity_churn_signal",
    oracle="""
    WITH purchases AS (
      SELECT user_id, ts,
             lag(ts) OVER (PARTITION BY user_id
                           ORDER BY ts, event_id) AS prev_ts
      FROM events WHERE event_type = 'purchase'
    ),
    gaps AS (
      SELECT user_id, date_diff('second', prev_ts, ts)::BIGINT AS gap_s
      FROM purchases WHERE prev_ts IS NOT NULL
    ),
    sums AS (
      SELECT user_id, count(*)::BIGINT AS n_gaps,
             sum(gap_s)::BIGINT AS s1, sum(gap_s * gap_s)::BIGINT AS s2
      FROM gaps GROUP BY user_id
    ),
    per_user AS (
      SELECT user_id, n_gaps,
             (s1 * 100 // n_gaps) AS mean_gap_cs,
             CAST(floor(sqrt(greatest(s2 / n_gaps
                                      - (s1 / n_gaps) * (s1 / n_gaps), 0))
                        * 100 + 0.5) AS BIGINT) AS sd_gap_cs,
             sqrt(greatest(s2 / n_gaps
                           - (s1 / n_gaps) * (s1 / n_gaps), 0))
               / nullif(s1 / n_gaps, 0) AS cv_raw
      FROM sums
    )
    SELECT user_id, n_gaps, mean_gap_cs, sd_gap_cs,
           CAST(floor(cv_raw * 10000 + 0.5) AS BIGINT) AS gap_cv_e4,
           CASE WHEN n_gaps < 3 THEN 'insufficient'
                WHEN cv_raw < 0.8 THEN 'regular'
                ELSE 'erratic' END AS regularity_band
    FROM per_user
    """,
)
def purchase_regularity_churn_signal(spark, sf_dir):
    """Purchase-cadence regularity: per user the coefficient of
    variation of inter-purchase gaps, banded into regular / erratic /
    insufficient-data — the churn-model feature that separates "buys
    every Friday" from "bought five times in one week then vanished"
    even when their purchase COUNTS are identical. CV is computed on
    epoch-second gaps with population stddev in both engines; the
    band threshold compares the same rounded ratio.

    Scale: one per-user lag window + one keyed aggregate; output is
    user-count-sized. The bands feed a training join keyed on
    user_id."""
    from oracle_to_cassandra_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (
        ev.select(
            "user_id",
            "ts",
            F.lag("ts").over(w).alias("prev_ts"),
        )
        .filter(F.col("prev_ts").isNotNull())
        .select(
            "user_id",
            (
                F.unix_timestamp("ts") - F.unix_timestamp("prev_ts")
            ).alias("gap_s"),
        )
    )
    # population stddev in closed form over exact integer-second sums:
    # sqrt(E[x²] − E[x]²) with the identical op sequence in the oracle
    sums = gaps.groupBy("user_id").agg(
        F.count("*").alias("n_gaps"),
        F.sum("gap_s").alias("s1"),
        F.sum(F.col("gap_s") * F.col("gap_s")).alias("s2"),
    )
    mean = F.col("s1") / F.col("n_gaps")
    sd = F.sqrt(
        F.greatest(F.col("s2") / F.col("n_gaps") - mean * mean, F.lit(0.0))
    )
    # CV on the RAW doubles (identical chains both engines); emitted
    # columns are integer fixed-point — mean via int64 div, sd/cv via
    # floor(x*scale + 0.5), which has no repr-vs-binary round ties
    cv = sd / F.when(mean != 0, mean)
    return sums.select(
        "user_id",
        "n_gaps",
        F.expr("s1 * 100 div n_gaps").alias("mean_gap_cs"),
        F.floor(sd * 100 + 0.5).cast("long").alias("sd_gap_cs"),
        F.floor(cv * 10000 + 0.5).cast("long").alias("gap_cv_e4"),
        F.when(F.col("n_gaps") < 3, "insufficient")
        .when(cv < 0.8, "regular")
        .otherwise("erratic")
        .alias("regularity_band"),
    )


@query(
    "user_behavior_entropy",
    oracle="""
    WITH per AS (
      SELECT user_id, event_type, count(*)::BIGINT AS c,
             sum(count(*)) OVER (PARTITION BY user_id) AS tot
      FROM events GROUP BY user_id, event_type
    ),
    ent AS (
      SELECT user_id,
             count(*)::BIGINT AS n_types,
             ((-sum(CAST(round((c * 1.0 / tot) * ln(c * 1.0 / tot)
                               * 1000000000) AS BIGINT))::BIGINT)
              // 100000) AS entropy_e4
      FROM per GROUP BY user_id
    )
    SELECT user_id, n_types, entropy_e4,
           CASE WHEN entropy_e4 >= 15000 THEN 'diverse'
                WHEN entropy_e4 >= 8000 THEN 'mixed'
                ELSE 'narrow' END AS engagement_band
    FROM ent
    """,
)
def user_behavior_entropy(spark, sf_dir):
    """Engagement-diversity score: Shannon entropy of each user's
    event-type distribution, banded — a user who only ever clicks
    scores 0 (narrow) regardless of volume, while a user spread
    across the catalog scores near ln(K) (diverse). The
    orthogonal-to-volume engagement feature churn and recommendation
    models both want.

    Scale: one (user, type) aggregate; the normalizing window shares
    its partition key; entropy terms sum within the per-user group
    in a single pass. Bands compare the 4-dp-rounded entropy in both
    engines so the thresholds cannot flip."""
    from oracle_to_cassandra_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events")
    per = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("c"))
    w = Window.partitionBy("user_id")
    p = F.col("c") / F.sum("c").over(w)
    # per-term integer nano-units (|p·ln p| ≤ 1/e), exact int64 sum,
    # ONE float division — the banding thresholds compare a value no
    # accumulation order can move
    term_n = F.round(p * F.log(p) * 1000000000).cast("long")
    ent = (
        per.select("user_id", term_n.alias("term_n"))
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_types"),
            # exact 1e-4-unit entropy: negate the (negative) nano sum
            # BEFORE the div so both engines floor the same positive
            # int64; bands compare integer thresholds
            F.expr("(-sum(term_n)) div 100000").alias("entropy_e4"),
        )
    )
    return ent.select(
        "user_id",
        "n_types",
        "entropy_e4",
        F.when(F.col("entropy_e4") >= 15000, "diverse")
        .when(F.col("entropy_e4") >= 8000, "mixed")
        .otherwise("narrow")
        .alias("engagement_band"),
    )


@query(
    "event_type_association_rules",
    oracle="""
    WITH user_types AS (
      SELECT DISTINCT user_id, event_type FROM events
    ),
    n_users AS (
      SELECT count(DISTINCT user_id) AS n FROM events
    ),
    singles AS (
      SELECT event_type, count(*)::BIGINT AS c FROM user_types GROUP BY 1
    ),
    pairs AS (
      SELECT a.event_type AS antecedent, b.event_type AS consequent,
             count(*)::BIGINT AS c_both
      FROM user_types a JOIN user_types b
        ON a.user_id = b.user_id AND a.event_type <> b.event_type
      GROUP BY 1, 2
    )
    SELECT p.antecedent, p.consequent,
           (p.c_both * 10000 // n.n)::BIGINT AS support_e4,
           (p.c_both * 10000 // sa.c)::BIGINT AS confidence_e4,
           CAST(floor((p.c_both * 1.0 / n.n)
                      / ((sa.c * 1.0 / n.n) * (sc.c * 1.0 / n.n))
                      * 10000 + 0.5) AS BIGINT) AS lift_e4
    FROM pairs p
    JOIN singles sa ON sa.event_type = p.antecedent
    JOIN singles sc ON sc.event_type = p.consequent
    CROSS JOIN n_users n
    """,
)
def event_type_association_rules(spark, sf_dir):
    """Association rules over user event baskets: for every ordered
    event-type pair A→B, support (share of users doing both),
    confidence (P(B|A)) and lift (association beyond independence,
    lift < 1 = the pair repels) — market-basket analysis at user
    granularity, the unsupervised cousin of the funnel queries
    (which impose an order; rules don't).

    Scale: the basket table is DISTINCT (user, type) — far smaller
    than events; the self-join is per-user over ≤K types per user
    (bounded fan-out K²); singles and the user count broadcast into
    the final scoring join. All ratios are exact-integer fractions
    rounded identically."""
    from oracle_to_cassandra_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events")
    from oracle_to_cassandra_spark.staging import stage

    # the basket table feeds three branches (singles + both join sides)
    ut = stage(ev.select("user_id", "event_type").distinct())
    n_users = ev.agg(F.count_distinct("user_id").alias("n"))
    singles = ut.groupBy("event_type").agg(F.count("*").alias("c"))
    a = ut.select("user_id", F.col("event_type").alias("antecedent"))
    b = ut.select("user_id", F.col("event_type").alias("consequent"))
    pairs = (
        a.join(b, "user_id")
        .filter(F.col("antecedent") != F.col("consequent"))
        .groupBy("antecedent", "consequent")
        .agg(F.count("*").alias("c_both"))
    )
    sa = singles.select(
        F.col("event_type").alias("antecedent"), F.col("c").alias("ca")
    )
    sc = singles.select(
        F.col("event_type").alias("consequent"), F.col("c").alias("cc")
    )
    return (
        pairs.join(F.broadcast(sa), "antecedent")
        .join(F.broadcast(sc), "consequent")
        .crossJoin(F.broadcast(n_users))
        .select(
            "antecedent",
            "consequent",
            # support/confidence: exact integer e4 (int64 div); lift:
            # the products overflow int64 at corpus scale, so keep the
            # identical double chain and emit floor(x*1e4+0.5) — floor
            # on the same double has no repr-vs-binary round ties
            F.expr("c_both * 10000 div n").alias("support_e4"),
            F.expr("c_both * 10000 div ca").alias("confidence_e4"),
            F.floor(
                (F.col("c_both") / F.col("n"))
                / ((F.col("ca") / F.col("n")) * (F.col("cc") / F.col("n")))
                * 10000
                + 0.5
            )
            .cast("long")
            .alias("lift_e4"),
        )
    )


@query(
    "temporal_label_join_no_leakage",
    oracle="""
    WITH horizon AS (
      SELECT max(ts) - INTERVAL 30 DAY AS cutoff FROM events
    ),
    features AS (
      SELECT e.user_id,
             count(*)::BIGINT AS n_events_before,
             sum(CASE WHEN e.event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT
               AS n_purchases_before,
             sum(CAST(round(e.value * 1000000) AS BIGINT))::BIGINT
               AS value_micro_before
      FROM events e CROSS JOIN horizon h
      WHERE e.ts < h.cutoff
      GROUP BY e.user_id
    ),
    labels AS (
      SELECT DISTINCT e.user_id, TRUE AS purchased_after
      FROM events e CROSS JOIN horizon h
      WHERE e.ts >= h.cutoff AND e.event_type = 'purchase'
    )
    SELECT f.user_id, f.n_events_before, f.n_purchases_before,
           f.value_micro_before,
           coalesce(l.purchased_after, FALSE) AS label_purchased
    FROM features f LEFT JOIN labels l ON f.user_id = l.user_id
    """,
)
def temporal_label_join_no_leakage(spark, sf_dir):
    """Leakage-free supervised label construction — the feature/label
    temporal split every churn/propensity model needs and every naive
    join gets wrong: FEATURES aggregate strictly BEFORE the cutoff
    (30 days before the data horizon), the LABEL (purchased after) is
    computed strictly AT-OR-AFTER it, and the two only meet in the
    final key join — no path exists from post-cutoff data into a
    feature column. The temporal-embargo split
    (`temporal_embargo_split`) partitions EXAMPLES by time; this
    builds the example CONTENT across the boundary.

    Scale: both sides are one filtered pass each (a time-partitioned
    table prunes to its own side of the cutoff); the label side
    contracts to distinct purchasers before the join. Any 100 TB
    feature store backfill is this exact plan per label horizon."""
    ev = load_table(spark, sf_dir, "events")
    horizon = ev.agg(
        (F.max("ts") - F.expr("INTERVAL 30 DAY")).alias("cutoff")
    )
    with_h = ev.crossJoin(F.broadcast(horizon))
    features = (
        with_h.filter(F.col("ts") < F.col("cutoff"))
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events_before"),
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("n_purchases_before"),
            F.sum(F.round(F.col("value") * 1000000).cast("long")).alias(
                "value_micro_before"
            ),
        )
    )
    labels = (
        with_h.filter(
            (F.col("ts") >= F.col("cutoff"))
            & (F.col("event_type") == "purchase")
        )
        .select("user_id")
        .distinct()
        .withColumn("purchased_after", F.lit(True))
    )
    return features.join(labels, "user_id", "left").select(
        "user_id",
        "n_events_before",
        "n_purchases_before",
        "value_micro_before",
        F.coalesce("purchased_after", F.lit(False)).alias("label_purchased"),
    )
