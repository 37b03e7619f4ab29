"""End-to-end tests for the reference's Query 1/2 build pipelines
(README.md:683-694, 892-967): build → write partitioned+clustered →
read back by partition key."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from oracle_to_cassandra_spark import pipelines as P
from oracle_to_cassandra_spark.sinks import read_partition
from oracle_to_cassandra_spark.sources import load_table
from oracle_to_cassandra_spark.scratch import BASE
from tests.conftest import SF_DIR

SCRATCH = os.path.join(BASE, "tests")


def test_build_orders_table_point_lookup(spark):
    """Query 1 analog: single-PK table, bucketed partitioning, point
    lookup returns exactly the one row."""
    path = os.path.join(SCRATCH, "orders_q1")
    P.build_orders_table(spark, SF_DIR, path)
    out = spark.read.parquet(path)
    # pk bucket pruning + key filter = the CQL point lookup
    row = out.filter(F.col("o_orderkey") == 7).collect()
    assert len(row) == 1
    # FK columns are dropped, as the reference drops them (README.md:653)
    assert "o_custkey" not in out.columns


def test_build_orders_by_customer_clustering(spark):
    """Query 2 analog: composite partition+clustering layout; rows
    within a partition file come back in clustering order."""
    path = os.path.join(SCRATCH, "orders_q2")
    P.build_orders_by_customer(spark, SF_DIR, path)
    seg = read_partition(spark, path, "c_mktsegment", "BUILDING")
    n_direct = (
        P.denorm_orders_by_customer(spark, SF_DIR)
        .filter(F.col("c_mktsegment") == "BUILDING")
        .count()
    )
    assert seg.count() == n_direct
    # static-column semantics: exactly one c_name per c_custkey
    dup_names = (
        seg.groupBy("c_custkey")
        .agg(F.count_distinct("c_name").alias("n"))
        .filter(F.col("n") > 1)
        .count()
    )
    assert dup_names == 0


def test_sql_ddl_partitioned_table(spark):
    """S10 analog (README.md:668,683-694): CREATE TABLE ... USING
    parquet PARTITIONED BY through SQL DDL, insert, partition-pruned
    read."""
    spark.sql("DROP TABLE IF EXISTS ddl_orders")
    spark.sql(
        """
        CREATE TABLE ddl_orders (
          o_orderkey BIGINT, o_totalprice DOUBLE, o_orderstatus STRING
        ) USING parquet PARTITIONED BY (o_orderstatus)
        """
    )
    try:
        load_table(spark, SF_DIR, "orders").select(
            "o_orderkey", "o_totalprice", "o_orderstatus"
        ).write.mode("append").insertInto("ddl_orders")
        got = spark.sql(
            "SELECT count(*) AS n FROM ddl_orders WHERE o_orderstatus = 'F'"
        ).collect()[0].n
        want = (
            load_table(spark, SF_DIR, "orders")
            .filter(F.col("o_orderstatus") == "F")
            .count()
        )
        assert got == want
    finally:
        spark.sql("DROP TABLE IF EXISTS ddl_orders")


def test_bench_summary_line_is_tail_sufficient():
    """The LAST stdout line bench.py emits must be self-contained
    JSON under the driver's ~2000-char tail capture: aggregate value,
    error count, and the slowest-query map (BENCH_r05's truncation
    regression, pinned)."""
    import json

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCH_LOCAL.json")) as fh:
        full = json.loads(fh.read().strip())
    assert full["queries"], "full record empty"
    assert all(v >= 0 for v in full["queries"].values()), "errored query in record"
    # reconstruct the summary the same way bench.py does and check size
    slowest = sorted(full["queries"].items(), key=lambda kv: -kv[1])
    top = {}
    for n, t in slowest:
        top[n] = t
        if len(json.dumps(top, separators=(",", ":"))) > 1100:
            del top[n]
            break
    summary = {
        "metric": full["metric"], "value": full["value"], "unit": full["unit"],
        "sf": full["sf"], "n_queries": len(full["queries"]), "n_errored": 0,
        "queries": top,
        "queries_elided": len(full["queries"]) - len(top),
        "queries_full": "BENCH_LOCAL.json",
    }
    line = json.dumps(summary, separators=(",", ":"))
    assert len(line) < 1900, f"summary line {len(line)} chars overflows the tail"
    assert json.loads(line)["value"] == full["value"]
