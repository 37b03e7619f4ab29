"""Nested-type surface: structs, maps, JSON→map, explode of key/value
pairs — the column shapes a multimodal/metadata-rich corpus uses.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from oracle_to_cassandra_spark.registry import query
from oracle_to_cassandra_spark.sources import load_table


@query(
    "struct_pack_unpack",
    oracle="""
    SELECT o_orderkey,
           o_orderstatus  AS status,
           round(o_totalprice, 2) AS price
    FROM orders WHERE o_totalprice > 300000
    """,
)
def struct_pack_unpack(spark, sf_dir):
    """Struct round-trip: pack columns into a struct, operate on it,
    unpack fields — nested projection pruning keeps only the accessed
    fields in the scan."""
    o = load_table(spark, sf_dir, "orders")
    packed = o.select(
        "o_orderkey",
        F.struct(
            F.col("o_orderstatus").alias("status"),
            F.round("o_totalprice", 2).alias("price"),
        ).alias("info"),
    )
    return packed.filter(F.col("info.price") > 300000).select(
        "o_orderkey",
        F.col("info.status").alias("status"),
        F.col("info.price").alias("price"),
    )


@query(
    "json_to_map_explode",
    oracle="""
    SELECT event_id, 'k' AS prop_key,
           json_extract_string(props, '$.k')::INT AS prop_value
    FROM events
    WHERE json_extract_string(props, '$.k') IS NOT NULL
    """,
)
def json_to_map_explode(spark, sf_dir):
    """JSON → MapType → explode to (key, value) rows — the generic
    property-bag flattening (schema-free JSON handled without a
    per-field parse). The Spark side is fully generic (any key set);
    the oracle exploits the fixture's known single-key props shape
    because this DuckDB build lacks the json_each table function.
    The oracle filter mirrors explode's NULL semantics: a row whose
    props is NULL (or lacks the key) produces a NULL/empty map and
    explode emits NOTHING for it — without the filter the oracle
    emits a NULL-valued row per such event and the engines diverge
    the moment props acquires NULLs (null-injection stress sweep)."""
    ev = load_table(spark, sf_dir, "events")
    m = ev.withColumn("props_map", F.from_json("props", "map<string,int>"))
    return m.select(
        "event_id", F.explode("props_map").alias("prop_key", "prop_value")
    )


@query(
    "map_construction_lookup",
    oracle="""
    SELECT event_id, event_type,
           CASE event_type WHEN 'purchase' THEN 10 WHEN 'signup' THEN 5
                WHEN 'click' THEN 1 ELSE 0 END AS weight
    FROM events
    """,
)
def map_construction_lookup(spark, sf_dir):
    """Literal map construction + element lookup with a default —
    the broadcast-free dimension-lookup idiom for tiny static
    mappings (the map literal ships inside the plan, no join)."""
    ev = load_table(spark, sf_dir, "events")
    weights = F.create_map(
        F.lit("purchase"), F.lit(10),
        F.lit("signup"), F.lit(5),
        F.lit("click"), F.lit(1),
    )
    return ev.select(
        "event_id",
        "event_type",
        F.coalesce(weights[F.col("event_type")], F.lit(0)).alias("weight"),
    )


@query(
    "unpivot_stack_measures",
    oracle="""
    SELECT l_orderkey, l_linenumber, measure, round(value, 2) AS value
    FROM (
      SELECT l_orderkey, l_linenumber, 'quantity' AS measure, l_quantity AS value
      FROM lineitem
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'price', l_extendedprice FROM lineitem
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'discount', l_discount FROM lineitem
    )
    """,
)
def unpivot_stack_measures(spark, sf_dir):
    """Unpivot (wide→long) via stack — the inverse of pivot; plan is a
    single scan exploded ×3, no shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.expr(
            "stack(3, 'quantity', l_quantity, 'price', l_extendedprice,"
            " 'discount', l_discount) AS (measure, raw)"
        ),
    ).select(
        "l_orderkey", "l_linenumber", "measure", F.round("raw", 2).alias("value")
    )


@query(
    "map_higher_order_battery",
    oracle="""
    WITH counts AS (
      SELECT user_id, event_type, count(*)::BIGINT AS n
      FROM events GROUP BY user_id, event_type
    )
    SELECT user_id, event_type, (n * 10)::BIGINT AS boosted_count
    FROM counts WHERE n >= 3
    """,
)
def map_higher_order_battery(spark, sf_dir):
    """MAP higher-order functions end to end: per user the event
    stream folds into a MapType column (map_from_entries over
    collected pairs), then ``map_filter`` drops rare entries
    (n < 3), ``transform_values`` rescales the survivors, and
    ``explode`` returns to rows. The oracle states the relational
    equivalent (grouped counts, filtered, scaled), so the hash
    compare certifies the entire map pipeline — construction,
    filtering, value transformation, and entry explosion — preserves
    exactly the relational semantics it should.

    Scale: the map lives per user row (bounded by event-type
    cardinality, never corpus-sized); all four operators are codegen
    expressions — this is the idiom for carrying per-entity feature
    maps through a pipeline without exploding them until the end."""
    ev = load_table(spark, sf_dir, "events")
    per_type = ev.groupBy("user_id", "event_type").agg(
        F.count("*").alias("n")
    )
    as_map = per_type.groupBy("user_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct("event_type", "n"))
        ).alias("m")
    )
    transformed = as_map.select(
        "user_id",
        F.transform_values(
            F.map_filter("m", lambda k, v: v >= 3), lambda k, v: v * 10
        ).alias("m"),
    )
    return transformed.select(
        "user_id", F.explode("m").alias("event_type", "boosted_count")
    )


@query(
    "struct_field_surgery",
    oracle="""
    SELECT o_orderstatus,
           count(*)::BIGINT AS n_orders,
           sum(CAST(round(o_totalprice * 100) AS BIGINT) + 1)::BIGINT
             AS adjusted_cents_sum
    FROM orders GROUP BY o_orderstatus
    """,
)
def struct_field_surgery(spark, sf_dir):
    """Nested-struct SURGERY (Column.withField / dropFields): mutate
    one field deep inside a struct column WITHOUT rebuilding it —
    the operator that makes wide nested schemas (the shape parquet
    event logs and protobuf drops actually have) maintainable: a
    rebuild-the-struct expression must re-list every sibling field
    and silently drops any it forgets; withField is closed over the
    rest of the schema. Here an order struct gains an adjusted price
    (+1 cent planted delta), loses a scratch field, and the aggregate
    over the EXTRACTED mutated field proves the surgery touched
    exactly the intended leaf.

    Scale: withField compiles to an UpdateFields expression — no
    shuffle, no re-serialization of sibling fields."""
    o = load_table(spark, sf_dir, "orders")
    nested = o.select(
        "o_orderstatus",
        F.struct(
            F.col("o_orderkey").alias("key"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
            F.lit("scratch").alias("tmp"),
        ).alias("order_rec"),
    )
    mutated = nested.withColumn(
        "order_rec",
        F.col("order_rec")
        .withField("cents", F.col("order_rec.cents") + 1)
        .dropFields("tmp"),
    )
    return mutated.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        F.sum("order_rec.cents").alias("adjusted_cents_sum"),
    )
