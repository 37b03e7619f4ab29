"""Statistical aggregate surface: correlation, covariance, linear
regression, bitwise aggregation, argmax selection, approximate
quantiles.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from oracle_to_cassandra_spark.registry import query
from oracle_to_cassandra_spark.sources import load_table


@query(
    "correlation_price_quantity",
    oracle="""
    SELECT l_returnflag,
           round(corr(l_extendedprice, l_quantity), 6)       AS price_qty_corr,
           round(covar_samp(l_extendedprice, l_quantity), 2) AS price_qty_covar
    FROM lineitem GROUP BY l_returnflag
    """,
)
def correlation_price_quantity(spark, sf_dir):
    """Pearson correlation + sample covariance per group — one-pass
    co-moment aggregates (partial-aggregatable, shuffle carries the
    moment tuples)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_extendedprice", "l_quantity"), 6).alias("price_qty_corr"),
        F.round(F.covar_samp("l_extendedprice", "l_quantity"), 2).alias("price_qty_covar"),
    )


@query(
    "linear_regression_price_size",
    oracle="""
    SELECT p_brand,
           round(regr_slope(p_retailprice, p_size), 6)     AS slope,
           round(regr_intercept(p_retailprice, p_size), 6) AS intercept,
           round(regr_r2(p_retailprice, p_size), 6)        AS r2,
           regr_count(p_retailprice, p_size)::BIGINT       AS n
    FROM part GROUP BY p_brand
    """,
)
def linear_regression_price_size(spark, sf_dir):
    """Per-group OLS fit (slope/intercept/R²) via the regr_* aggregate
    family — a full regression in one distributed pass, no iteration."""
    p = load_table(spark, sf_dir, "part")
    return p.groupBy("p_brand").agg(
        F.round(F.regr_slope("p_retailprice", "p_size"), 6).alias("slope"),
        F.round(F.regr_intercept("p_retailprice", "p_size"), 6).alias("intercept"),
        F.round(F.regr_r2("p_retailprice", "p_size"), 6).alias("r2"),
        F.regr_count("p_retailprice", "p_size").alias("n"),
    )


@query(
    "bitwise_aggregates",
    oracle="""
    SELECT user_id,
           bit_and(event_id) AS id_and,
           bit_or(event_id)  AS id_or,
           bit_xor(event_id) AS id_xor
    FROM events GROUP BY user_id
    """,
)
def bitwise_aggregates(spark, sf_dir):
    """Bitwise AND/OR/XOR aggregation — flag-mask folding."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.bit_and("event_id").alias("id_and"),
        F.bit_or("event_id").alias("id_or"),
        F.bit_xor("event_id").alias("id_xor"),
    )


@query(
    "argmax_latest_order",
    oracle="""
    SELECT DISTINCT o_custkey,
           first_value(o_orderkey) OVER (PARTITION BY o_custkey
               ORDER BY o_orderdate DESC, o_orderkey DESC) AS latest_orderkey,
           first_value(o_orderkey) OVER (PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey)           AS first_orderkey
    FROM orders
    """,
)
def argmax_latest_order(spark, sf_dir):
    """max_by/min_by argmax selection ordered by a (date, key) STRUCT —
    lexicographic comparison, so date ties resolve on the key with no
    domain assumption. (An earlier arithmetic packing
    ``epoch*1e7 + key`` silently broke once o_orderkey ≥ 1e7, i.e.
    TPC-H sf≥10 — struct ordering has no such cliff.)"""
    o = load_table(spark, sf_dir, "orders")
    ordv = F.struct(F.col("o_orderdate"), F.col("o_orderkey"))
    return o.groupBy("o_custkey").agg(
        F.max_by("o_orderkey", ordv).alias("latest_orderkey"),
        F.min_by("o_orderkey", ordv).alias("first_orderkey"),
    )


@query(
    "approx_count_distinct_custkeys",
    oracle="""
    SELECT o_orderstatus,
           count(DISTINCT o_custkey)::BIGINT AS n_custs_exact,
           TRUE                              AS approx_within_tol
    FROM orders GROUP BY o_orderstatus
    """,
)
def approx_count_distinct_custkeys(spark, sf_dir):
    """approx_count_distinct (HyperLogLog++) — the 100 TB distinct-count
    path: constant memory per group, one pass, no distinct shuffle.

    Sketch values are implementation-defined, so the hash-checkable
    contract is: the exact distinct count PLUS a boolean asserting the
    sketch landed within tolerance. The tolerance is 6×rsd (= 30% at
    rsd=0.05, absolute floor 10): rsd is the STANDARD DEVIATION of the
    HLL++ relative error, so an empirically-tuned 1-2σ bound (round 2
    used 12%, measured only at sf0.001–0.1) can flip at an unmeasured
    SF on a legitimately-behaving sketch, whereas a 6σ deviation means
    the sketch is broken, not unlucky (P < 2·10⁻⁹ per group under the
    sketch's error model; HLL is also deterministic per dataset, so
    the boolean is stable across reruns). The oracle emits the exact
    count and literal TRUE — a BROKEN sketch flips the boolean and
    fails the hash; an unlucky one cannot exist at 6σ."""
    rsd = 0.05
    base = load_table(spark, sf_dir, "orders").groupBy("o_orderstatus").agg(
        F.count_distinct("o_custkey").alias("n_custs_exact"),
        F.approx_count_distinct("o_custkey", rsd=rsd).alias("_approx"),
    )
    tol = F.greatest(F.col("n_custs_exact") * (6 * rsd), F.lit(10.0))
    return base.select(
        "o_orderstatus",
        "n_custs_exact",
        (F.abs(F.col("_approx") - F.col("n_custs_exact")) <= tol).alias(
            "approx_within_tol"
        ),
    )


@query(
    "approx_quantiles_acctbal",
    oracle="""
    SELECT c_mktsegment,
           CAST(floor(quantile_cont(c_acctbal, 0.25) * 10000 + 0.5)
                AS BIGINT) AS p25_e4,
           CAST(floor(quantile_cont(c_acctbal, 0.50) * 10000 + 0.5)
                AS BIGINT) AS p50_e4,
           CAST(floor(quantile_cont(c_acctbal, 0.75) * 10000 + 0.5)
                AS BIGINT) AS p75_e4,
           TRUE AS approx_within_tol
    FROM customer GROUP BY c_mktsegment
    """,
)
def approx_quantiles_acctbal(spark, sf_dir):
    """percentile_approx (KLL-style sketch) — the one-pass bounded-
    memory quantile path for 100 TB (exact percentile sorts per
    group).

    Sketch output is implementation-defined, so the hash-checkable
    contract mirrors ``approx_count_distinct_custkeys``: the EXACT
    interpolated quartiles (Spark ``percentile`` == DuckDB
    ``quantile_cont``) plus a boolean derived from the sketch's
    PUBLISHED guarantee — not an empirically-tuned tolerance. With
    accuracy a, the returned value's rank is within ε·n + 1 of p·n for
    ε = 1/a (= 10⁻⁴ here), so the value must lie between the exact
    percentiles at p ± δ whenever δ·n ≥ ε·n + 3 + δ — with δ = 0.05
    that is every group of n ≥ 62 rows; smaller groups pass trivially
    (the bound is vacuous there, and a 62-row group needs no sketch).
    A correct sketch can NEVER flip this boolean at any SF — unlike
    round 2's one-IQR value tolerance, measured only at sf0.001–0.1.
    A rank-interval proof (counting #{x≤v} exactly) is tighter but
    needs a second pass over the table plus a join-back — measured
    4.2× the frozen baseline, vs parity for this one-pass form: the
    percentile evaluation sorts each group once however many
    percentage points it reports.

    accuracy=1000: with a δ=0.05 guard there is no point paying for a
    ε=10⁻⁴ sketch (measured ~2× the aggregate's cost at sf0.1) —
    ε=10⁻³ is still 50× tighter than the bound being proven, and the
    sketch retains 10× fewer centroids. Same precision-vs-cost
    reasoning as the HLL rsd choice above."""
    accuracy = 1_000
    delta = 0.05
    n_min = 63  # δ·n ≥ ε·n + 3 + δ  ⇔  n ≥ 62.3 at ε=1e-3, δ=0.05
    qs = [0.25, 0.50, 0.75]
    grid = sorted(q + d for q in qs for d in (-delta, 0.0, delta))
    c = load_table(spark, sf_dir, "customer")
    base = c.groupBy("c_mktsegment").agg(
        F.percentile("c_acctbal", F.lit(grid)).alias("_g"),
        F.percentile_approx("c_acctbal", qs, accuracy).alias("_approx"),
        F.count("*").alias("_n"),
    )
    # all three quartiles must pass (or the group is sub-n_min)
    within = (F.col("_n") < n_min) | (
        F.element_at("_approx", 1).between(
            F.element_at("_g", 1), F.element_at("_g", 3)
        )
        & F.element_at("_approx", 2).between(
            F.element_at("_g", 4), F.element_at("_g", 6)
        )
        & F.element_at("_approx", 3).between(
            F.element_at("_g", 7), F.element_at("_g", 9)
        )
    )
    return base.select(
        "c_mktsegment",
        # e4 fixed-point: quartile interpolation of 2-dp money uses
        # fractions in {0,.25,.5,.75}, so v*1e4 is integer-valued and
        # floor(v*1e4+0.5) recovers it deterministically; round(v, 2)
        # ties at the half-cent midpoints
        F.floor(F.element_at("_g", 2) * 10000 + 0.5).cast("long").alias("p25_e4"),
        F.floor(F.element_at("_g", 5) * 10000 + 0.5).cast("long").alias("p50_e4"),
        F.floor(F.element_at("_g", 8) * 10000 + 0.5).cast("long").alias("p75_e4"),
        within.alias("approx_within_tol"),
    )


@query(
    "hll_sketch_union_rollup",
    oracle="""
    SELECT c_mktsegment, count(DISTINCT c_custkey)::BIGINT AS n_exact,
           TRUE AS sketch_within_tol
    FROM customer GROUP BY c_mktsegment
    UNION ALL
    -- the total row exists only when the input does (Spark's rollup
    -- over the 0-row per-segment aggregate emits nothing on empty
    -- input; HAVING drops DuckDB's count-0 global row to match)
    SELECT '__TOTAL__', count(DISTINCT c_custkey)::BIGINT, TRUE
    FROM customer HAVING count(*) > 0
    """,
)
def hll_sketch_union_rollup(spark, sf_dir):
    """Mergeable Apache DataSketches HLL: per-segment sketches built in
    one pass, then the GLOBAL distinct count derived by ``hll_union_agg``
    over the per-segment sketches — never re-scanning the input.

    This is the additive-rollup property ``approx_count_distinct``
    cannot give you (its sketch is consumed inside the aggregate):
    at 100 TB you materialize one sketch per (day, segment) partition,
    and any coarser distinct count — per segment, per day, grand
    total — is a union of stored sketches, a few KB each, instead of
    a fresh scan. The hash-checkable contract mirrors
    ``approx_count_distinct_custkeys``: exact counts plus a boolean
    asserting the estimate sits inside 6× the sketch's published rsd
    (lgConfigK=12 → rsd ≈ 1.04/√4096 ≈ 1.63%, 6σ ≈ 9.8%, floor 10) —
    a flip means broken, not unlucky."""
    lg_k = 12
    tol_rel = 6 * 1.04 / (2 ** (lg_k / 2.0))
    c = load_table(spark, sf_dir, "customer")
    # c_custkey is the table PK, so count(*) IS the exact distinct
    # count — mixing count_distinct into the sketch aggregate would
    # trigger Spark's multi-stage distinct planning (6 exchanges vs 2)
    # for a number the key constraint already gives us.
    seg = c.groupBy("c_mktsegment").agg(
        F.count("*").alias("_n_exact"),
        F.hll_sketch_agg("c_custkey", F.lit(lg_k)).alias("_sk"),
    )
    # ROLLUP over the 5 aggregated sketch rows — NOT over customer —
    # so the detail rows pass through unions-of-one and the grand
    # total is genuinely hll_union_agg over the segment sketches,
    # all in a single plan branch (a naive seg_rows ∪ seg.agg(...)
    # re-executes the customer scan+agg twice: no CSE across plan
    # branches).
    rolled = seg.rollup("c_mktsegment").agg(
        F.sum("_n_exact").alias("n_exact"),  # segments partition customers
        F.hll_sketch_estimate(F.hll_union_agg("_sk")).alias("_est"),
        F.grouping("c_mktsegment").alias("_g"),
    )
    tol = F.greatest(F.col("n_exact") * tol_rel, F.lit(10.0))
    return rolled.select(
        F.when(F.col("_g") == 1, F.lit("__TOTAL__"))
        .otherwise(F.col("c_mktsegment"))
        .alias("c_mktsegment"),
        "n_exact",
        (F.abs(F.col("_est") - F.col("n_exact")) <= tol).alias("sketch_within_tol"),
    )


def _cms_oracle() -> str:
    from oracle_to_cassandra_spark.functions.hashing import (
        base31_sql,
        perm_hash_sql,
    )

    h = base31_sql("o_custkey::VARCHAR")
    cell_rows = " UNION ALL ".join(
        f"SELECT {i} AS i, ({perm_hash_sql('h31', i)}) % {_CMS_W} AS b, h31 FROM hashed"
        for i in range(_CMS_D)
    )
    return f"""
    WITH hashed AS (
      SELECT {h} AS h31, o_custkey FROM orders
    ),
    cells AS ({cell_rows}),
    sketch AS (
      SELECT i, b, count(*)::BIGINT AS c FROM cells GROUP BY i, b
    ),
    top_keys AS (
      SELECT o_custkey, count(*)::BIGINT AS n_exact,
             {base31_sql("o_custkey::VARCHAR")} AS h31
      FROM orders GROUP BY o_custkey
      ORDER BY count(*) DESC, o_custkey LIMIT {_CMS_TOPK}
    ),
    probes AS (
      {" UNION ALL ".join(
          f"SELECT o_custkey, n_exact, {i} AS i, "
          f"({perm_hash_sql('h31', i)}) % {_CMS_W} AS b FROM top_keys"
          for i in range(_CMS_D)
      )}
    )
    SELECT p.o_custkey, any_value(p.n_exact)::BIGINT AS n_exact,
           min(s.c)::BIGINT AS cms_est,
           (min(s.c) >= any_value(p.n_exact)) AS overestimate_ok
    FROM probes p JOIN sketch s ON s.i = p.i AND s.b = p.b
    GROUP BY p.o_custkey
    """


#: count-min geometry: d=4 independent universal-hash rows × w=1024
#: buckets — ε = e/w ≈ 0.27% of stream length per estimate, δ = e^-4
_CMS_D = 4
_CMS_W = 1024
_CMS_TOPK = 10


@query("cms_heavy_hitters", oracle=_cms_oracle())
def cms_heavy_hitters(spark, sf_dir):
    """Count-min sketch heavy hitters, built from the repo's
    cross-engine universal-hash family — unlike the opaque JVM
    ``count_min_sketch`` binary, every cell is a deterministic
    (row, bucket, count) triple DuckDB reproduces exactly, so the
    ESTIMATES hash-match, not just a tolerance boolean. Completes the
    mergeable-sketch family: HLL (distinct), KLL-style quantiles,
    CMS (frequency).

    Shape: stream → d×w cell counts (one explode to d rows per
    record, then a map-side-combinable groupBy — the sketch build is
    one mergeable aggregate, the property that lets 1000 executors
    each build a partial sketch and union them); point queries probe
    d cells and take the min. ``overestimate_ok`` states the CMS
    guarantee (min over rows ≥ true count, always).

    Scale: the sketch is 4×1024 cells regardless of input size and is
    broadcast to the probe join; the exact top-k side uses
    sort+limit (TakeOrderedAndProject), never a global sort."""
    from oracle_to_cassandra_spark.functions.hashing import base31_sx, perm_hash_sx

    orders = load_table(spark, sf_dir, "orders")
    h = base31_sx("CAST(o_custkey AS STRING)")
    cells = orders.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("i"),
                        (F.expr(perm_hash_sx(h, i)) % _CMS_W).alias("b"),
                    )
                    for i in range(_CMS_D)
                ]
            )
        ).alias("rb")
    )
    sketch = cells.groupBy(
        F.col("rb.i").alias("i"), F.col("rb.b").alias("b")
    ).agg(F.count("*").alias("c"))

    top = (
        orders.groupBy("o_custkey")
        .agg(F.count("*").alias("n_exact"))
        .orderBy(F.desc("n_exact"), F.asc("o_custkey"))
        .limit(_CMS_TOPK)
    )
    probes = top.select(
        "o_custkey",
        "n_exact",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("i"),
                        (F.expr(perm_hash_sx(h, i)) % _CMS_W).alias("b"),
                    )
                    for i in range(_CMS_D)
                ]
            )
        ).alias("rb"),
    ).select("o_custkey", "n_exact", "rb.i", "rb.b")
    est = (
        probes.join(F.broadcast(sketch), ["i", "b"])
        .groupBy("o_custkey")
        .agg(
            F.any_value("n_exact").alias("n_exact"),
            F.min("c").alias("cms_est"),
        )
    )
    return est.select(
        "o_custkey",
        "n_exact",
        "cms_est",
        (F.col("cms_est") >= F.col("n_exact")).alias("overestimate_ok"),
    )


@query(
    "benford_first_digit_audit",
    oracle="""
    WITH digits AS (
      SELECT substr(printf('%.0f', abs(o_totalprice)), 1, 1)::INT AS d
      FROM orders WHERE o_totalprice >= 1
    ),
    counts AS (
      SELECT d, count(*)::BIGINT AS n FROM digits GROUP BY d
    ),
    tot AS (SELECT sum(n) AS nt FROM counts)
    SELECT c.d AS first_digit, c.n AS n_values,
           (c.n * 1000000 // t.nt)::BIGINT AS observed_ppm,
           round(ln(1.0 + 1.0 / c.d) / ln(10.0), 6) AS benford_p,
           round((c.n * 1.0 / t.nt - ln(1.0 + 1.0 / c.d) / ln(10.0))
                 * (c.n * 1.0 / t.nt - ln(1.0 + 1.0 / c.d) / ln(10.0))
                 / (ln(1.0 + 1.0 / c.d) / ln(10.0)), 6) AS chi2_term
    FROM counts c, tot t
    """,
)
def benford_first_digit_audit(spark, sf_dir):
    """Benford's-law first-digit audit on order totals: observed vs
    expected log₁₀(1 + 1/d) digit frequencies with per-digit χ²
    terms — the forensic screen that flags fabricated or clipped
    monetary data (TPC-H's uniform-ish price generator deviates from
    Benford, and the audit SHOWS that, which is the point: the test
    reports, a human interprets). First digit is taken from the
    rounded integer rendering identically in both engines.

    Scale: scan-side digit extraction, a 9-key aggregate, and a
    1-row total broadcast — runs at any corpus size for the cost of
    one scan."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1)
    d = F.substring(
        F.format_string("%.0f", F.abs(F.col("o_totalprice"))), 1, 1
    ).cast("int")
    counts = o.select(d.alias("d")).groupBy("d").agg(F.count("*").alias("n"))
    tot = counts.agg(F.sum("n").alias("nt"))
    benford = F.log(1.0 + 1.0 / F.col("d")) / F.log(F.lit(10.0))
    obs = F.col("n") / F.col("nt")
    return counts.crossJoin(F.broadcast(tot)).select(
        F.col("d").alias("first_digit"),
        F.col("n").alias("n_values"),
        F.expr("n * 1000000 div nt").alias("observed_ppm"),
        F.round(benford, 6).alias("benford_p"),
        F.round((obs - benford) * (obs - benford) / benford, 6).alias(
            "chi2_term"
        ),
    )


#: Poisson(1) inverse-CDF thresholds in ppm — fixed literals shared by
#: both engines (cumulative e^{-1} Σ 1/k!), capped at 7 draws
_POISSON1_CDF_PPM = (367879, 735759, 919699, 981012, 996340, 999406, 999917)

_BOOT_B = 8

from oracle_to_cassandra_spark.operators.text import (  # noqa: E402
    quality_micro_sql as _quality_micro_sql,
)
from oracle_to_cassandra_spark.queries.text_analysis import (  # noqa: E402
    _SW as _SW_BOOT,
)
from oracle_to_cassandra_spark.queries.text_analysis import (  # noqa: E402
    _TOK as _TOK_BOOT,
)

_QUALITY_MICRO_BOOT = _quality_micro_sql(_TOK_BOOT, _SW_BOOT)


def _poisson_count_sql(u: str) -> str:
    branches = " ".join(
        f"WHEN {u} < {t} THEN {k}" for k, t in enumerate(_POISSON1_CDF_PPM)
    )
    return f"(CASE {branches} ELSE 7 END)"


_BOOT_SQL = f"""
    WITH reps AS (SELECT unnest(range({_BOOT_B})) AS replicate_id),
    draws AS (
      SELECT r.replicate_id,
             {_poisson_count_sql(
                 "(('0x' || substr(md5('boot:' || r.replicate_id::VARCHAR"
                 " || ':' || d.doc_id::VARCHAR), 1, 15))::INT64 % 1000000)"
             )} AS cnt,
             {{q}}::BIGINT AS q_micro
      FROM documents d CROSS JOIN reps r
    )
    SELECT replicate_id::BIGINT AS replicate_id,
           sum(cnt)::BIGINT AS n_eff,
           (sum(cnt * q_micro) // sum(cnt))::BIGINT AS mean_quality_micro
    FROM draws GROUP BY replicate_id
    """


@query(
    "bootstrap_replicate_means",
    oracle=_BOOT_SQL.format(q=_QUALITY_MICRO_BOOT),
)
def bootstrap_replicate_means(spark, sf_dir):
    """Deterministic POISSON BOOTSTRAP over the corpus quality score:
    each of {_BOOT_B} replicates re-weights every document by a
    Poisson(1) draw derived from md5(replicate, doc_id) through the
    fixed inverse-CDF thresholds — the standard single-pass bootstrap
    for distributed data (no resampling shuffle, no shared RNG
    state), here fully integer-exact so both engines produce
    identical replicate means. The spread across replicate means IS
    the standard error of the corpus mean quality — the error bar
    every dataset-card statistic should carry.

    Scale: ONE pass over the corpus emits {_BOOT_B} weighted partial
    sums per partition (the cross join with the replicate spine is a
    broadcast of 8 rows); this is how bootstrap CIs are computed on
    100 TB without materializing a single resample."""
    from oracle_to_cassandra_spark.functions.hashing import md5_int64_sx
    from oracle_to_cassandra_spark.operators.text import quality_micro_sx

    d = load_table(spark, sf_dir, "documents")
    reps = spark.range(_BOOT_B).select(
        F.col("id").cast("long").alias("replicate_id")
    )
    u = F.expr(
        md5_int64_sx(
            "concat('boot:', CAST(replicate_id AS STRING), ':', "
            "CAST(doc_id AS STRING))"
        )
    ) % 1000000
    cnt = F.lit(7)
    for k, t in reversed(list(enumerate(_POISSON1_CDF_PPM))):
        cnt = F.when(u < t, k).otherwise(cnt)
    draws = (
        d.select(
            "doc_id",
            # exact integer micro-quality (operators/text.quality_micro_sx)
            # — a per-row round of q*1e6 ties at the half whenever the
            # token count carries an uncancelled factor of 2
            F.expr(quality_micro_sx("text")).alias("q_micro"),
        )
        .crossJoin(F.broadcast(reps))
        .select("replicate_id", cnt.cast("long").alias("cnt"), "q_micro")
    )
    return draws.groupBy("replicate_id").agg(
        F.sum("cnt").alias("n_eff"),
        F.floor(
            F.sum(F.col("cnt") * F.col("q_micro")) / F.sum("cnt")
        )
        .cast("long")
        .alias("mean_quality_micro"),
    )


@query(
    "percentile_disc_per_segment",
    oracle="""
    SELECT c_mktsegment,
           CAST(round(quantile_disc(c_acctbal, 0.5) * 100) AS BIGINT)
             AS p50_cents,
           CAST(round(quantile_disc(c_acctbal, 0.9) * 100) AS BIGINT)
             AS p90_cents
    FROM customer GROUP BY c_mktsegment
    """,
)
def percentile_disc_per_segment(spark, sf_dir):
    """DISCRETE percentiles (percentile_disc / WITHIN GROUP): the
    reported value is an ACTUAL data point (smallest value whose CDF
    reaches p), not an interpolation — which makes it cross-engine
    exact by construction (both engines select the same element of
    the same sorted multiset; no float arithmetic exists to diverge).
    The interpolated twin (`approx_quantiles_acctbal`) needs the
    sketch-tolerance contract; DISC needs none — the right default
    for reporting thresholds that must correspond to a real row
    (e.g. 'the p90 account', not a synthetic balance).

    Scale: one sort-based aggregate per group, same cost shape as
    median; emitted in integer cents."""
    c = load_table(spark, sf_dir, "customer")
    return (
        c.groupBy("c_mktsegment")
        .agg(
            F.expr(
                "percentile_disc(0.5) WITHIN GROUP (ORDER BY c_acctbal)"
            ).alias("p50"),
            F.expr(
                "percentile_disc(0.9) WITHIN GROUP (ORDER BY c_acctbal)"
            ).alias("p90"),
        )
        .select(
            "c_mktsegment",
            F.round(F.col("p50") * 100).cast("long").alias("p50_cents"),
            F.round(F.col("p90") * 100).cast("long").alias("p90_cents"),
        )
    )


@query(
    "bitmap_distinct_rollup",
    oracle="""
    SELECT c_mktsegment, count(DISTINCT c_custkey)::BIGINT AS n_distinct
    FROM customer GROUP BY c_mktsegment
    """,
)
def bitmap_distinct_rollup(spark, sf_dir):
    """EXACT distinct counting via the bitmap aggregate family
    (Spark 3.5 bitmap_construct_agg): keys bucket into 32k-bit
    bitmaps (bitmap_bucket_number / bitmap_bit_position), each
    (group, bucket) folds to one bitmap whose bits ARE the distinct
    keys, and the per-group sum of bitmap_counts is the exact
    distinct count. Unlike HLL this is exact, and unlike
    count(DISTINCT) the partial state is MERGEABLE bitmaps — the
    incremental-rollup property: tomorrow's bitmaps OR into today's
    without rescanning (the exact-count sibling of
    `hll_sketch_union_rollup`).

    Scale: state per (group, bucket) is a fixed 4 KB bitmap; dense
    key spaces make this strictly better than a distinct shuffle. The
    oracle certifies against count(DISTINCT)."""
    c = load_table(spark, sf_dir, "customer")
    per_bucket = c.groupBy(
        "c_mktsegment",
        F.expr("bitmap_bucket_number(c_custkey)").alias("bucket"),
    ).agg(
        F.expr(
            "bitmap_count(bitmap_construct_agg("
            "bitmap_bit_position(c_custkey)))"
        ).alias("n_bits")
    )
    return per_bucket.groupBy("c_mktsegment").agg(
        F.sum("n_bits").cast("long").alias("n_distinct")
    )
