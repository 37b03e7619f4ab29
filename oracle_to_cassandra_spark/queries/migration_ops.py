"""Migration validation + physical-layout planning ops.

The reference's end state is a MIGRATED copy of every Oracle table
living in Cassandra, validated by eyeballing row counts
(`/root/reference/README.md:875-886` runs ``SELECT COUNT(*)`` on both
sides and compares 107 = 107). At 100 TB that validation must be
(a) content-sensitive, not count-only — a count match hides corrupted
or stale rows — and (b) bucketed, so a mismatch localizes to a
re-checkable key range instead of "somewhere in 100 TB".

``zorder_layout_audit`` is the write-side counterpart: before laying
data down for a query-first sink (the reference's Cassandra tables are
partition-organized for exactly this reason, README.md:660-668), plan
file assignment along a Z-order (Morton) curve so BOTH frequent filter
dimensions get bounded min/max ranges per file — the layout lever that
turns parquet min/max stats into real file skipping.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from oracle_to_cassandra_spark.functions.hashing import md5_int64_sql, md5_int64_sx
from oracle_to_cassandra_spark.registry import query
from oracle_to_cassandra_spark.sources import load_table
from oracle_to_cassandra_spark.staging import stage

#: hash-range buckets for reconciliation; 50 divides the planted
#: update key pattern (keys ≡ 0 mod 100) so drift localizes to ONE
#: bucket in the test fixture — in production any bucket count works
_N_BUCKETS = 50

_ROW_EXPR = "concat_ws('|', o_orderkey, o_orderstatus)"


@query(
    "migration_bucket_reconciliation",
    oracle=f"""
    WITH src AS (
      SELECT o_orderkey % {_N_BUCKETS} AS bucket,
             count(*)::BIGINT AS n_src,
             bit_xor({md5_int64_sql(_ROW_EXPR)}) AS h_src
      FROM orders GROUP BY 1
    ),
    dst_rows AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 100 = 0 THEN 'U' ELSE o_orderstatus END
               AS o_orderstatus
      FROM orders
    ),
    dst AS (
      SELECT o_orderkey % {_N_BUCKETS} AS bucket,
             count(*)::BIGINT AS n_dst,
             bit_xor({md5_int64_sql(_ROW_EXPR)}) AS h_dst
      FROM dst_rows GROUP BY 1
    )
    SELECT coalesce(s.bucket, d.bucket) AS bucket,
           coalesce(n_src, 0)::BIGINT AS n_src,
           coalesce(n_dst, 0)::BIGINT AS n_dst,
           (n_src IS NOT NULL AND n_dst IS NOT NULL
            AND n_src = n_dst AND h_src = h_dst) AS content_match
    FROM src s FULL JOIN dst d ON s.bucket = d.bucket
    """,
)
def migration_bucket_reconciliation(spark, sf_dir):
    """Source-vs-migrated reconciliation: per hash-range bucket, row
    count AND an order-insensitive content hash (bit_xor of a
    deterministic per-row md5) on each side, full-outer joined on the
    bucket. A bucket matches iff counts and hashes both agree — count
    equality alone is the reference's validation and misses changed
    rows. The 'migrated' side here is the source with the post-
    migration status updates applied (keys ≡ 0 mod 100 → 'U', the same
    planted drift as merge_scd_status_update), so exactly the buckets
    containing multiples of 100 report content_match = false.

    Scale: each side is ONE map-side-combinable aggregate over its
    scan (bit_xor partials merge associatively, like the sketch
    rollups); the join is bucket-count-sized. No sort, no collect, no
    row-level transfer between sides — 100 TB per side reconciles with
    two scans and a 50-row join, and a failed bucket names the exact
    key range (k ≡ b mod {_N_BUCKETS}) to re-scan."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    migrated = orders.withColumn(
        "o_orderstatus",
        F.when(F.col("o_orderkey") % 100 == 0, F.lit("U")).otherwise(
            F.col("o_orderstatus")
        ),
    )

    def bucket_digest(df, n_name, h_name):
        row_h = F.expr(md5_int64_sx(_ROW_EXPR))
        return df.groupBy(
            (F.col("o_orderkey") % _N_BUCKETS).alias("bucket")
        ).agg(
            F.count("*").alias(n_name),
            F.bit_xor(row_h).alias(h_name),
        )

    s = bucket_digest(orders, "n_src", "h_src")
    d = bucket_digest(migrated, "n_dst", "h_dst")
    joined = s.join(d, "bucket", "full")
    return joined.select(
        "bucket",
        F.coalesce("n_src", F.lit(0)).cast("long").alias("n_src"),
        F.coalesce("n_dst", F.lit(0)).cast("long").alias("n_dst"),
        (
            F.col("n_src").isNotNull()
            & F.col("n_dst").isNotNull()
            & (F.col("n_src") == F.col("n_dst"))
            & (F.col("h_src") == F.col("h_dst"))
        ).alias("content_match"),
    )


#: Z-order parameters: 16 bits per dimension (covers custkey ≤ 65535
#: and ~179 years of non-negative day counts), 32-bit Morton address;
#: dropping the low 16 Z-bits (an 8-bit neighborhood per dimension)
#: leaves the curve prefix as the file bin — bin count tracks the
#: occupied key space (~hundreds at sf0.1), and on a 100 TB table the
#: same prefix width is re-chosen from target_file_size / avg_row_size.
#: The epoch sits at/before the data's min order date (TPC-H dates span
#: 1992-1998) so every day count is non-negative — a mid-range epoch
#: would two's-complement-wrap pre-epoch rows to the top of the 16-bit
#: range and invert their Z-curve position.
_ZBITS = 16
_BIN_SHIFT = 16
_EPOCH = "1992-01-01"


def _zorder_keyed(orders) -> DataFrame:
    """(ck, d) — custkey + days-since-epoch, the shared key derivation
    for both layout queries (zorder_layout_audit and
    layout_skipping_comparison). One cast form, so the two audits can
    never drift on epoch/timezone handling (the session tz is pinned
    UTC; datediff truncates to the date either way)."""
    return orders.select(
        F.col("o_custkey").cast("long").alias("ck"),
        F.datediff(F.col("o_orderdate"), F.lit(_EPOCH).cast("date"))
        .cast("long")
        .alias("d"),
    )


def _zvalue_sx(x: str, y: str) -> str:
    """Interleave the low _ZBITS of x (even positions) and y (odd) —
    pure shift/mask arithmetic, stays in whole-stage codegen. One
    Spark-SQL string: one SQL parse instead of ~400 py4j round trips
    per construction for a Column fold."""
    terms = ["CAST(0 AS BIGINT)"]
    for i in range(_ZBITS):
        terms.append(f"shiftleft((shiftright({x}, {i}) & 1), {2 * i})")
        terms.append(f"shiftleft((shiftright({y}, {i}) & 1), {2 * i + 1})")
    return "(" + " + ".join(terms) + ")"


def _zvalue_sql(x: str, y: str) -> str:
    terms = []
    for i in range(_ZBITS):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return "(" + " + ".join(terms) + ")"


@query(
    "zorder_layout_audit",
    oracle=f"""
    WITH keyed AS (
      SELECT o_custkey::BIGINT AS ck,
             date_diff('day', TIMESTAMP '{_EPOCH} 00:00:00', o_orderdate)::BIGINT
               AS d
      FROM orders
    ),
    z AS (
      SELECT ck, d, ({_zvalue_sql("ck", "d")} >> {_BIN_SHIFT})::BIGINT AS file_bin
      FROM keyed
    )
    SELECT file_bin, count(*)::BIGINT AS n_rows,
           min(ck)::BIGINT AS ck_lo, max(ck)::BIGINT AS ck_hi,
           min(d)::BIGINT  AS day_lo, max(d)::BIGINT  AS day_hi
    FROM z GROUP BY file_bin
    """,
)
def zorder_layout_audit(spark, sf_dir):
    """Z-order (Morton) layout plan + skipping audit: interleave the
    bits of the two hot filter dimensions (customer key, order day),
    assign each row to a file bin by Z-address prefix, and report each
    bin's min/max in BOTH dimensions — exactly the parquet footer
    stats a scan would prune on. Under a linear sort by custkey, a
    date-range query reads every file; under the Z-curve both
    dimensions get bounded per-file ranges, so either predicate skips.

    Scale: the Z-address is 32 shift/mask terms of codegen'd int
    arithmetic (no UDF); the audit is one map-side-combinable
    aggregate keyed by file bin (512 groups at any data size). The
    real write would be ``repartitionByRange(file_bin, z)`` +
    sortWithinPartitions — this audit is the cheap dry run that
    validates the layout before rewriting 100 TB.

    Cross-engine: day counts from a fixed epoch (DATEDIFF day) and the
    bit math are integer-exact in both engines."""
    orders = load_table(spark, sf_dir, "orders")
    keyed = _zorder_keyed(orders)
    z = keyed.select(
        "ck",
        "d",
        F.expr(f"shiftright({_zvalue_sx('ck', 'd')}, {_BIN_SHIFT}) AS file_bin"),
    )
    return z.groupBy("file_bin").agg(
        F.count("*").alias("n_rows"),
        F.min("ck").alias("ck_lo"),
        F.max("ck").alias("ck_hi"),
        F.min("d").alias("day_lo"),
        F.max("d").alias("day_hi"),
    )


#: planted corruption pattern for the row-level diff: every 97th order
#: key's migrated copy drops a cent and LOWER-cases the priority
#: (TPC-H priorities are stored uppercase, so lower() is a visible
#: corruption where upper() would be a vacuous no-op) — the
#: silent-corruption classes (value drift, encoding change) a
#: COUNT(*) validation can never see
_CORRUPT_MOD = 97


@query(
    "migration_row_diff",
    oracle=f"""
    WITH migrated AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % {_CORRUPT_MOD} = 0
                  THEN round(o_totalprice - 0.01, 2) ELSE o_totalprice END
               AS o_totalprice,
             CASE WHEN o_orderkey % {_CORRUPT_MOD} = 0
                  THEN lower(o_orderpriority) ELSE o_orderpriority END
               AS o_orderpriority,
             o_orderstatus
      FROM orders
    ),
    diff AS (
      SELECT s.o_orderkey,
             (s.o_totalprice <> m.o_totalprice) AS price_drift,
             (s.o_orderpriority <> m.o_orderpriority) AS priority_drift
      FROM orders s JOIN migrated m USING (o_orderkey)
      WHERE md5(concat_ws('|', s.o_totalprice::VARCHAR, s.o_orderpriority,
                          s.o_orderstatus))
         <> md5(concat_ws('|', m.o_totalprice::VARCHAR, m.o_orderpriority,
                          m.o_orderstatus))
    )
    SELECT o_orderkey, price_drift, priority_drift
    FROM diff ORDER BY o_orderkey LIMIT 100
    """,
)
def migration_row_diff(spark, sf_dir):
    """Row-level migration diff — the drill-down the bucket
    reconciliation triggers: compare a per-row md5 over the business
    columns of source vs migrated copy and emit the first 100
    mismatched keys with per-column drift flags. The migrated side is
    the source plus a PLANTED corruption (every {_CORRUPT_MOD}th key
    loses a cent and gains a lower-cased priority), so the check is
    non-vacuous: the diff must find exactly those keys and attribute
    both drift classes. The reference validates migration with
    COUNT(*) = COUNT(*) (`/root/reference/README.md:875-886`), which
    this corruption passes — the row digest does not.

    Scale: both sides hash down to one 32-byte digest per row at scan
    speed; the join is co-partitioned on the table key (in production
    both sides are bucketed by it), the mismatch filter cuts the
    result to drifted rows only, and the LIMIT bounds the operator
    triage page. Number formatting pitfall handled: both engines
    render the DECIMAL price with the same canonical string, which
    the digest inherits."""
    src = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority", "o_orderstatus"
    )
    corrupted = F.col("o_orderkey") % _CORRUPT_MOD == 0
    mig = src.select(
        "o_orderkey",
        F.when(corrupted, F.round(F.col("o_totalprice") - 0.01, 2))
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
        F.when(corrupted, F.lower("o_orderpriority"))
        .otherwise(F.col("o_orderpriority"))
        .alias("o_orderpriority"),
        "o_orderstatus",
    )

    def digest(side):
        return F.md5(
            F.concat_ws(
                "|",
                F.col(f"{side}.o_totalprice").cast("string"),
                F.col(f"{side}.o_orderpriority"),
                F.col(f"{side}.o_orderstatus"),
            )
        )

    joined = src.alias("s").join(mig.alias("m"), "o_orderkey")
    return (
        joined.filter(digest("s") != digest("m"))
        .select(
            "o_orderkey",
            (F.col("s.o_totalprice") != F.col("m.o_totalprice")).alias(
                "price_drift"
            ),
            (F.col("s.o_orderpriority") != F.col("m.o_orderpriority")).alias(
                "priority_drift"
            ),
        )
        .orderBy("o_orderkey")
        .limit(100)
    )


_PROFILE_COLS = (
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
)


@query(
    "migration_column_profile",
    oracle=" UNION ALL ".join(
        f"""
        SELECT '{c}' AS column_name,
               count(*)::BIGINT AS n_rows,
               (count(*) - count({c}))::BIGINT AS n_null,
               count(DISTINCT {c})::BIGINT AS n_distinct,
               min({c})::VARCHAR AS min_repr,
               max({c})::VARCHAR AS max_repr
        FROM orders
        """
        for c in _PROFILE_COLS
    ),
)
def migration_column_profile(spark, sf_dir):
    """Pre-migration column profile — the assessment the reference's
    migration runbook does by hand with per-table DESCRIBEs and
    spot-queries (`/root/reference/README.md:543-607`): for every
    column of the source table, null count, exact distinct count,
    and typed min/max (canonical string form). This is what sizes the
    target schema (distinct counts → partition-key viability, null
    counts → NOT NULL constraints, min/max → type ranges) before any
    data moves.

    Scale (r13 rewrite, guide §2.3): the old single-aggregate form
    put all six ``count_distinct`` columns through Spark's
    multi-distinct rewrite — an Expand ×7 whose 13-column rows were
    then SORT-aggregated on a 7-key Sort (the string min/max buffers
    bar HashAggregate), ~3.3 s at sf0.1 and a wide sort-shuffle at
    any scale. Split shape: (a) min/max/null-counts in ONE
    grouping-free aggregate — no Expand, no Sort (empty grouping key
    never sorts); (b) exact distincts over a MELTED
    (column_name, string-value) table — rows ×6 but 2 narrow columns
    instead of 13, hash-based partial dedup before the exchange.
    String-cast distinctness is injective for every profiled type
    (the ``migration_column_profile_approx`` contract, same columns).
    The 1-row and 6-row frames broadcast-assemble into the identical
    long-format output."""
    o = load_table(spark, sf_dir, "orders").select(*_PROFILE_COLS)
    aggs = []
    for c in _PROFILE_COLS:
        aggs += [
            F.count(F.col(c)).alias(f"{c}__nn"),
            F.min(F.col(c)).cast("string").alias(f"{c}__min"),
            F.max(F.col(c)).cast("string").alias(f"{c}__max"),
        ]
    one = o.agg(F.count(F.lit(1)).alias("__total"), *aggs)
    melted = (
        o.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(c).alias("column_name"),
                            F.col(c).cast("string").alias("v"),
                        )
                        for c in _PROFILE_COLS
                    ]
                )
            ).alias("e")
        )
        .select("e.column_name", "e.v")
        .filter(F.col("v").isNotNull())
    )
    nd = (
        melted.distinct()
        .groupBy("column_name")
        .agg(F.count("*").alias("__nd"))
    )
    rows = F.array(
        *[
            F.struct(
                F.lit(c).alias("column_name"),
                F.col("__total").alias("n_rows"),
                (F.col("__total") - F.col(f"{c}__nn")).alias("n_null"),
                F.col(f"{c}__min").alias("min_repr"),
                F.col(f"{c}__max").alias("max_repr"),
            )
            for c in _PROFILE_COLS
        ]
    )
    base = one.select(F.explode(rows).alias("p")).select("p.*")
    return base.join(F.broadcast(nd), "column_name", "left").select(
        "column_name",
        "n_rows",
        "n_null",
        F.coalesce(F.col("__nd"), F.lit(0).cast("long")).alias("n_distinct"),
        "min_repr",
        "max_repr",
    )


@query(
    "migration_column_profile_approx",
    oracle=" UNION ALL ".join(
        f"""
        SELECT '{c}' AS column_name,
               count(*)::BIGINT AS n_rows,
               (count(*) - count({c}))::BIGINT AS n_null,
               count(DISTINCT {c})::BIGINT AS n_distinct_exact,
               min({c})::VARCHAR AS min_repr,
               max({c})::VARCHAR AS max_repr,
               TRUE AS approx_within_tol
        FROM orders
        """
        for c in _PROFILE_COLS
    ),
)
def migration_column_profile_approx(spark, sf_dir):
    """The 100 TB variant ``migration_column_profile``'s docstring
    promises: identical long-format output, but the per-column
    distinct counts come from approx_count_distinct (HyperLogLog++) in
    ONE single-pass aggregate — no Expand, so the profile costs one
    scan regardless of how many columns are profiled (the exact
    variant's Expand multiplies rows ×N_columns into the partial
    aggregates).

    Correctness contract (the stats_funcs HLL precedent): sketch
    estimates are implementation-defined, so the hash-checkable output
    is the EXACT distinct count plus a boolean asserting the sketch
    landed within 6×rsd of it (a 6σ deviation means a broken sketch,
    not an unlucky one; HLL++ is deterministic per dataset so the
    boolean is rerun-stable). The exact side is computed WITHOUT
    Expand by melting the table into (column_name, value) pairs and
    running ONE grouped single-distinct aggregate — two-stage partial
    dedup, no row multiplication inside any aggregate node
    (`tests/test_round7_semantics.py` asserts the whole plan is
    Expand-free). String-cast values keep distinctness: every profiled
    type's canonical string form is injective.

    Scale: production runs the approx pass alone (one scan, constant
    memory per column); the melt-based exact pass here is the
    VERIFICATION harness. Its shuffle carries n_rows×N_columns pairs
    but partial-aggregates map-side, the same cost shape as any
    distinct count."""
    o = load_table(spark, sf_dir, "orders").select(*_PROFILE_COLS)
    rsd = 0.05
    aggs = []
    for c in _PROFILE_COLS:
        aggs += [
            F.count(F.col(c)).alias(f"{c}__nn"),
            F.approx_count_distinct(F.col(c), rsd=rsd).alias(f"{c}__ad"),
            F.min(F.col(c)).cast("string").alias(f"{c}__min"),
            F.max(F.col(c)).cast("string").alias(f"{c}__max"),
        ]
    one = o.agg(F.count(F.lit(1)).alias("__total"), *aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(c).alias("column_name"),
                F.col("__total").alias("n_rows"),
                (F.col("__total") - F.col(f"{c}__nn")).alias("n_null"),
                F.col(f"{c}__ad").alias("n_distinct_approx"),
                F.col(f"{c}__min").alias("min_repr"),
                F.col(f"{c}__max").alias("max_repr"),
            )
            for c in _PROFILE_COLS
        ]
    )
    approx = one.select(F.explode(rows).alias("p")).select(
        "p.column_name", "p.n_rows", "p.n_null", "p.n_distinct_approx",
        "p.min_repr", "p.max_repr",
    )
    # exact distinct per column via melt + ONE grouped single-distinct
    # aggregate (two-stage dedup, Expand-free)
    melted = o.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column_name"),
                        F.col(c).cast("string").alias("value"),
                    )
                    for c in _PROFILE_COLS
                ]
            )
        ).alias("m")
    ).select("m.column_name", "m.value")
    exact = melted.groupBy("column_name").agg(
        F.count_distinct("value").alias("n_distinct_exact")
    )
    joined = approx.join(F.broadcast(exact), "column_name", "left").withColumn(
        # an all-null column never appears in the melt aggregate
        "n_distinct_exact",
        F.coalesce("n_distinct_exact", F.lit(0)).cast("long"),
    )
    tol = F.greatest(F.col("n_distinct_exact") * (6 * rsd), F.lit(10.0))
    return joined.select(
        "column_name",
        "n_rows",
        "n_null",
        "n_distinct_exact",
        "min_repr",
        "max_repr",
        (
            F.abs(F.col("n_distinct_approx") - F.col("n_distinct_exact")) <= tol
        ).alias("approx_within_tol"),
    )


@query(
    "referential_integrity_audit",
    oracle="""
    SELECT 'orders.custkey -> customer' AS relationship,
           (SELECT count(*) FROM orders o LEFT JOIN customer c
              ON o.o_custkey = c.c_custkey
            WHERE c.c_custkey IS NULL)::BIGINT AS n_orphans,
           (SELECT count(*) FROM orders)::BIGINT AS n_children
    UNION ALL
    SELECT 'lineitem.orderkey -> orders',
           (SELECT count(*) FROM lineitem l LEFT JOIN orders o
              ON l.l_orderkey = o.o_orderkey
            WHERE o.o_orderkey IS NULL)::BIGINT,
           (SELECT count(*) FROM lineitem)::BIGINT
    UNION ALL
    SELECT 'supplier.nationkey -> nation',
           (SELECT count(*) FROM supplier s LEFT JOIN nation n
              ON s.s_nationkey = n.n_nationkey
            WHERE n.n_nationkey IS NULL)::BIGINT,
           (SELECT count(*) FROM supplier)::BIGINT
    """,
)
def referential_integrity_audit(spark, sf_dir):
    """Referential-integrity audit across the FK graph the reference's
    schema diagram draws (`Oracle_to_Cassandra_OSchema.png`,
    `/root/reference/README.md:321-389`): per relationship, how many
    child rows point at a missing parent — the orphan check a
    migration MUST run after denormalization drops the FK constraints
    that used to enforce this (Cassandra enforces nothing; the audit
    becomes a pipeline job).

    Scale: each check is an anti-join on the FK key — parent sides
    here are broadcast-sized dims or co-partitioned fact keys; at
    100 TB the orders/lineitem pair rides the same orderkey bucketing
    as the TPC-H joins. A zero row is the EXPECTED result; the query
    shape is the deliverable (plant a violation and it reports)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")

    def audit(child, ckey, parent, pkey, name, broadcast_parent=True):
        keys = parent.select(F.col(pkey).alias("__pk")).distinct()
        if broadcast_parent:
            keys = F.broadcast(keys)
        joined = child.join(keys, child[ckey] == F.col("__pk"), "left")
        return joined.agg(
            F.lit(name).alias("relationship"),
            # count(CASE), not sum: 0 (not NULL) over an empty child
            # table, matching the oracle's count(*) subquery
            F.count(F.when(F.col("__pk").isNull(), 1)).alias("n_orphans"),
            F.count("*").alias("n_children"),
        )

    out = audit(o, "o_custkey", c, "c_custkey", "orders.custkey -> customer")
    out = out.union(
        audit(
            li, "l_orderkey", o, "o_orderkey",
            "lineitem.orderkey -> orders", broadcast_parent=False,
        )
    )
    return out.union(
        audit(s, "s_nationkey", n, "n_nationkey", "supplier.nationkey -> nation")
    )


@query(
    "functional_dependency_audit",
    oracle="""
    SELECT 'supplier: s_suppkey -> s_nationkey' AS dependency,
           (SELECT count(*) FROM (
              SELECT s_suppkey FROM supplier
              GROUP BY s_suppkey HAVING count(DISTINCT s_nationkey) > 1
           ))::BIGINT AS n_violating_keys
    UNION ALL
    SELECT 'nation: n_nationkey -> n_regionkey',
           (SELECT count(*) FROM (
              SELECT n_nationkey FROM nation
              GROUP BY n_nationkey HAVING count(DISTINCT n_regionkey) > 1
           ))::BIGINT
    UNION ALL
    SELECT 'orders: o_orderkey -> o_custkey',
           (SELECT count(*) FROM (
              SELECT o_orderkey FROM orders
              GROUP BY o_orderkey HAVING count(DISTINCT o_custkey) > 1
           ))::BIGINT
    """,
)
def functional_dependency_audit(spark, sf_dir):
    """Functional-dependency audit: for each key → attribute
    dependency the denormalized sink RELIES on (a wide-partition
    table silently assumes one department_name per department —
    `/root/reference/README.md:903-913`'s static column is exactly
    such an FD), count keys whose attribute takes more than one
    value. Zero is the healthy answer; any violation means the
    denormalization would smear contradictory values into one
    partition and the static-column write becomes order-dependent.

    Scale: each check is one keyed aggregate with a count-distinct
    (map-side partials); the three 1-row results union. Run BEFORE a
    migration, not after a bug report."""

    def fd(df, key, attr, name):
        v = (
            df.groupBy(key)
            .agg(F.count_distinct(attr).alias("nv"))
            .filter(F.col("nv") > 1)
            .agg(
                F.lit(name).alias("dependency"),
                F.count("*").alias("n_violating_keys"),
            )
        )
        return v

    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders")
    out = fd(s, "s_suppkey", "s_nationkey", "supplier: s_suppkey -> s_nationkey")
    out = out.union(
        fd(n, "n_nationkey", "n_regionkey", "nation: n_nationkey -> n_regionkey")
    )
    return out.union(
        fd(o, "o_orderkey", "o_custkey", "orders: o_orderkey -> o_custkey")
    )


@query(
    "merge_upsert_apply",
    oracle=f"""
    WITH changes AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 50 = 0 THEN 'D'
                  WHEN o_orderkey % 50 = 1 THEN 'U'
                  ELSE NULL END AS op,
             CAST(round(o_totalprice * 110) AS BIGINT) AS new_cents
      FROM orders WHERE o_orderkey % 50 IN (0, 1)
    ),
    merged AS (
      SELECT o.o_orderkey,
             CASE WHEN c.op = 'U' THEN c.new_cents
                  ELSE CAST(round(o.o_totalprice * 100) AS BIGINT)
             END AS price_cents
      FROM orders o LEFT JOIN changes c USING (o_orderkey)
      WHERE c.op IS NULL OR c.op <> 'D'
    )
    SELECT count(*)::BIGINT AS n_rows_after,
           (SELECT count(*) FROM changes WHERE op = 'D')::BIGINT AS n_deleted,
           (SELECT count(*) FROM changes WHERE op = 'U')::BIGINT AS n_updated,
           bit_xor(('0x' || substr(md5(o_orderkey::VARCHAR || '|' ||
                     price_cents::VARCHAR), 1, 15))::INT64)::BIGINT
             AS content_digest
    FROM merged
    """,
)
def merge_upsert_apply(spark, sf_dir):
    """MERGE-style changeset application on a plain parquet snapshot
    (no table format required): a deterministic CDC batch (every
    50th key deleted, the next key's price +10%) applied via one
    full-width left join — update rows take the change's value,
    delete rows drop, everything else passes through — then the
    result is certified by row count, applied-op counts, and the
    order-insensitive content digest (same md5-int64 family as the
    migration reconciliation). This is the apply-side primitive
    under every lakehouse MERGE INTO; expressing it as a join keeps
    it available on raw parquet.

    Scale: the changeset is broadcast (CDC batches are small next to
    snapshots); the pass-through side streams at scan speed; at
    100 TB the rewrite targets only the partitions the changeset
    touches (partition pruning on the join keys)."""
    o = load_table(spark, sf_dir, "orders")
    # staged: the changeset feeds TWO branches (the broadcast join
    # side and the n_ops aggregate) — unstaged, the orders scan +
    # filter would execute once per branch
    changes = stage(
        o.filter(F.col("o_orderkey") % 50 < 2)
        .select(
            "o_orderkey",
            F.when(F.col("o_orderkey") % 50 == 0, "D").otherwise("U").alias("op"),
            # +10% in integer cents (x*110 is ONE multiply — the same
            # double in both engines — where round(x*1.1, 2) and a
            # %.2f format each diverge at decimal boundaries; the
            # digest flipped at sf0.1 under the float form)
            F.round(F.col("o_totalprice") * 110).cast("long").alias("new_cents"),
        )
    )
    merged = (
        o.join(F.broadcast(changes), "o_orderkey", "left")
        .filter(F.col("op").isNull() | (F.col("op") != "D"))
        .select(
            "o_orderkey",
            F.when(F.col("op") == "U", F.col("new_cents"))
            .otherwise(F.round(F.col("o_totalprice") * 100).cast("long"))
            .alias("price_cents"),
        )
    )
    # conditional counts, not a pivot: count() is 0 (never NULL) over
    # an empty changeset, so the engines agree at zero rows — the
    # pivot emitted NULL op columns on empty input (empty-dataset
    # stress sweep)
    n_ops = changes.agg(
        F.count(F.when(F.col("op") == "D", 1)).alias("n_deleted"),
        F.count(F.when(F.col("op") == "U", 1)).alias("n_updated"),
    )
    digest_row = (
        "concat(CAST(o_orderkey AS STRING), '|', CAST(price_cents AS STRING))"
    )
    return merged.agg(
        F.count("*").alias("n_rows_after"),
        F.bit_xor(F.expr(md5_int64_sx(digest_row))).alias("content_digest"),
    ).crossJoin(F.broadcast(n_ops)).select(
        "n_rows_after", "n_deleted", "n_updated", "content_digest"
    )


@query(
    "gdpr_delete_propagation",
    oracle="""
    WITH tombstones AS (
      SELECT c_custkey FROM customer WHERE c_custkey % 101 = 0
    ),
    -- every table keys off ACTUAL tombstone membership (the cascade
    -- the implementation runs), not the bare mod predicate — so the
    -- two engines stay in lockstep even if a fixture regeneration
    -- widens events.user_id beyond the customer key range
    t_customer AS (
      SELECT 'customer' AS table_name,
             count(*) FILTER (c_custkey IN (SELECT c_custkey FROM tombstones))::BIGINT AS n_purge,
             (count(*) - count(*) FILTER (c_custkey IN (SELECT c_custkey FROM tombstones)))::BIGINT AS n_keep
      FROM customer
    ),
    t_orders AS (
      SELECT 'orders',
             count(*) FILTER (o_custkey IN (SELECT c_custkey FROM tombstones))::BIGINT,
             (count(*) - count(*) FILTER (o_custkey IN (SELECT c_custkey FROM tombstones)))::BIGINT
      FROM orders
    ),
    t_lineitem AS (
      SELECT 'lineitem',
             count(*) FILTER (o.o_custkey IN (SELECT c_custkey FROM tombstones))::BIGINT,
             (count(*) - count(*) FILTER (o.o_custkey IN (SELECT c_custkey FROM tombstones)))::BIGINT
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    t_events AS (
      SELECT 'events',
             count(*) FILTER (user_id IN (SELECT c_custkey FROM tombstones))::BIGINT,
             (count(*) - count(*) FILTER (user_id IN (SELECT c_custkey FROM tombstones)))::BIGINT
      FROM events
    )
    SELECT * FROM t_customer UNION ALL SELECT * FROM t_orders
    UNION ALL SELECT * FROM t_lineitem UNION ALL SELECT * FROM t_events
    """,
)
def gdpr_delete_propagation(spark, sf_dir):
    """Right-to-be-forgotten impact plan: given a tombstone set of
    customer keys (c_custkey ≡ 0 mod 101 stands in for the deletion
    queue), compute per table how many rows the cascade purges and how
    many remain — customer directly, orders via its FK, lineitem via
    the orders hop (no direct customer key — the transitive edge every
    real schema has), events via the shared user id space. This is the
    DRY-RUN every GDPR pipeline runs before rewriting 100 TB: the
    counts size the rewrite and the FK walk proves the cascade reaches
    every table the subject touches.

    Scale: the tombstone set is deletion-queue-sized — it broadcasts
    into semi-join membership probes, so each table is ONE scan with a
    broadcast hash probe (lineitem additionally hops through orders,
    keyed on its natural join). The actual purge would be the same
    plans with anti-join writers; counts-first is the safety gate."""
    tomb = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 101 == 0)
        .select(F.col("c_custkey").alias("tomb_key"))
    )

    def audit(df, key_col, name):
        hit = F.col("tomb_key").isNotNull()
        return (
            df.join(
                F.broadcast(tomb), F.col(key_col) == F.col("tomb_key"), "left"
            )
            .agg(
                # count(CASE ...), not sum: count is 0 over an empty
                # table where sum is NULL — the oracle's count FILTER
                # is a count, so the engines must agree at zero rows
                # (empty-dataset stress sweep)
                F.count(F.when(hit, 1)).alias("n_purge"),
                F.count(F.when(~hit, 1)).alias("n_keep"),
            )
            .select(F.lit(name).alias("table_name"), "n_purge", "n_keep")
        )

    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    line = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    line_cust = line.join(
        orders.select("o_orderkey", "o_custkey"),
        line.l_orderkey == orders.o_orderkey,
    )
    events = load_table(spark, sf_dir, "events").select("user_id")
    return (
        audit(cust, "c_custkey", "customer")
        .unionByName(audit(orders, "o_custkey", "orders"))
        .unionByName(audit(line_cust, "o_custkey", "lineitem"))
        .unionByName(audit(events, "user_id", "events"))
    )


@query(
    "cassandra_partition_size_audit",
    oracle="""
    WITH per_part AS (
      SELECT o_custkey AS partition_key,
             count(*)::BIGINT AS n_rows,
             sum(octet_length(encode(o_orderstatus))
                 + octet_length(encode(o_orderpriority)) + 24)::BIGINT
               AS est_bytes
      FROM orders GROUP BY o_custkey
    )
    SELECT CASE WHEN n_rows >= 100 THEN 'oversized'
                WHEN n_rows >= 40 THEN 'warn'
                ELSE 'ok' END AS size_band,
           count(*)::BIGINT AS n_partitions,
           sum(n_rows)::BIGINT AS total_rows,
           sum(est_bytes)::BIGINT AS total_bytes,
           max(n_rows)::BIGINT AS widest_partition_rows
    FROM per_part GROUP BY 1
    """,
)
def cassandra_partition_size_audit(spark, sf_dir):
    """The data-modeling audit the reference's Cassandra target makes
    mandatory (`/root/reference/README.md:660-668`: tables are
    partition-organized around a partition key): per partition key
    (customer, for orders_by_customer), row count and estimated
    serialized bytes, banded into ok / warn / oversized. Cassandra's
    operational guidance caps partitions (~100 MB / ~100k rows);
    a key chosen without this audit produces hot, unsplittable
    partitions that degrade reads AND repair — the single most common
    migration design error. The banded histogram is what signs off a
    partition-key choice BEFORE 100 TB lands in it; the thresholds
    here are scaled to the test fixture (row-count bands), production
    uses byte bands from the same per-partition aggregate.

    Scale: one keyed aggregate (map-side combinable) + a band
    re-aggregate — identical shape to the k-anonymity audit; no row
    data moves."""
    o = load_table(spark, sf_dir, "orders")
    per_part = o.groupBy(F.col("o_custkey").alias("partition_key")).agg(
        F.count("*").alias("n_rows"),
        F.sum(
            F.octet_length("o_orderstatus")
            + F.octet_length("o_orderpriority")
            + F.lit(24)
        ).alias("est_bytes"),
    )
    band = (
        F.when(F.col("n_rows") >= 100, "oversized")
        .when(F.col("n_rows") >= 40, "warn")
        .otherwise("ok")
    )
    return per_part.groupBy(band.alias("size_band")).agg(
        F.count("*").alias("n_partitions"),
        F.sum("n_rows").alias("total_rows"),
        F.sum("est_bytes").alias("total_bytes"),
        F.max("n_rows").alias("widest_partition_rows"),
    )


@query(
    "ttl_expiry_compaction_plan",
    oracle="""
    WITH horizon AS (SELECT max(ts) AS now_ts FROM events)
    SELECT e.event_type,
           count(*)::BIGINT AS n_rows,
           sum(CASE WHEN e.ts < h.now_ts - INTERVAL 30 DAY
                    THEN 1 ELSE 0 END)::BIGINT AS n_expired,
           sum(CASE WHEN e.ts < h.now_ts - INTERVAL 30 DAY
                    THEN octet_length(encode(e.props)) + 32
                    ELSE 0 END)::BIGINT AS reclaim_bytes
    FROM events e CROSS JOIN horizon h
    GROUP BY e.event_type
    """,
)
def ttl_expiry_compaction_plan(spark, sf_dir):
    """TTL-expiry planning — Cassandra's row-level TTL is a core
    feature of the reference's target system, and its flip side is
    compaction debt: expired rows occupy space until compacted. This
    is the dry run: per event type, how many rows are past a 30-day
    TTL (measured from the dataset's own time horizon, so the check
    is rerun-stable) and how many bytes compaction would reclaim.
    The Spark-side equivalent of the purge is a partition-overwrite
    of the affected date partitions — the same counts-first gate as
    `gdpr_delete_propagation`.

    Scale: the horizon is a 1-row broadcast; the scan is one pass
    with map-side-combinable conditional aggregates. On a
    time-partitioned table the TTL predicate prunes to the expired
    date partitions and the 'scan' is metadata-only."""
    ev = load_table(spark, sf_dir, "events")
    horizon = ev.agg(F.max("ts").alias("now_ts"))
    expired = F.col("ts") < F.col("now_ts") - F.expr("INTERVAL 30 DAY")
    return (
        ev.crossJoin(F.broadcast(horizon))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.when(expired, 1).otherwise(0)).alias("n_expired"),
            F.sum(
                F.when(expired, F.octet_length("props") + 32).otherwise(0)
            ).alias("reclaim_bytes"),
        )
    )


@query(
    "layout_skipping_comparison",
    oracle=f"""
    WITH keyed AS (
      SELECT o_custkey::BIGINT AS ck,
             date_diff('day', TIMESTAMP '{_EPOCH} 00:00:00',
                       o_orderdate)::BIGINT AS d
      FROM orders
    ),
    linear_bins AS (
      SELECT ck // 64 AS bin,
             max(ck) - min(ck) AS ck_span, max(d) - min(d) AS d_span
      FROM keyed GROUP BY 1
    ),
    z_bins AS (
      SELECT ({_zvalue_sql("ck", "d")} >> {_BIN_SHIFT}) AS bin,
             max(ck) - min(ck) AS ck_span, max(d) - min(d) AS d_span
      FROM keyed GROUP BY 1
    )
    SELECT 'linear_by_custkey' AS layout,
           count(*)::BIGINT AS n_bins,
           (sum(ck_span) // count(*))::BIGINT AS avg_ck_span,
           (sum(d_span) // count(*))::BIGINT AS avg_day_span
    FROM linear_bins
    UNION ALL
    SELECT 'zorder', count(*)::BIGINT,
           (sum(ck_span) // count(*))::BIGINT,
           (sum(d_span) // count(*))::BIGINT
    FROM z_bins
    """,
)
def layout_skipping_comparison(spark, sf_dir):
    """The NUMBERS behind the Z-order claim (`zorder_layout_audit`
    asserts the layout; this measures the alternative): the same
    orders keyed by (custkey, order-day) binned two ways — linear
    custkey ranges (what a single-column sort/range-partition write
    produces) vs Morton-curve prefixes — and per layout the average
    per-file min/max SPAN in each dimension. Linear bins have tight
    custkey spans but each covers essentially the FULL date range
    (avg_day_span ≈ the dataset's whole span → a date predicate
    skips nothing); Z-order bounds both spans, which is the entire
    argument for multi-dimensional clustering stated as data instead
    of doctrine.

    Scale: both binnings are closed-form per-row arithmetic (no
    global sort — the linear layout is modeled by key-range bins,
    exactly what a range-partitioned write approximates) + one
    map-side-combinable aggregate each."""
    o = load_table(spark, sf_dir, "orders")
    keyed = _zorder_keyed(o)

    def spans(binned, name):
        per_bin = binned.groupBy("bin").agg(
            (F.max("ck") - F.min("ck")).alias("ck_span"),
            (F.max("d") - F.min("d")).alias("d_span"),
        )
        return per_bin.agg(
            F.lit(name).alias("layout"),
            F.count("*").alias("n_bins"),
            F.floor(F.sum("ck_span") / F.count("*")).cast("long").alias(
                "avg_ck_span"
            ),
            F.floor(F.sum("d_span") / F.count("*")).cast("long").alias(
                "avg_day_span"
            ),
        ).select("layout", "n_bins", "avg_ck_span", "avg_day_span")

    linear = keyed.withColumn("bin", F.floor(F.col("ck") / 64).cast("long"))
    zord = keyed.withColumn(
        "bin",
        F.expr(
            f"CAST(shiftright({_zvalue_sx('ck', 'd')}, {_BIN_SHIFT}) AS BIGINT)"
        ),
    )
    return spans(linear, "linear_by_custkey").unionByName(
        spans(zord, "zorder")
    )
