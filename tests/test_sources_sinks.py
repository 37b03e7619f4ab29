"""Unit tests for the source/sink layer (S1-S10 of SURVEY.md §2.1) —
the pieces the DuckDB differential can't see: JDBC option validation,
sink case validation, partition layout on disk."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from oracle_to_cassandra_spark.sinks import (
    CaseMismatchError,
    read_partition,
    validate_sink_columns,
    write_query_table,
)
from oracle_to_cassandra_spark.sources import load_table, register_views
from oracle_to_cassandra_spark.sources.jdbc import jdbc_options
from oracle_to_cassandra_spark.scratch import BASE
from tests.conftest import SF_DIR

SCRATCH = os.path.join(BASE, "tests")


def test_jdbc_options_plain():
    opts = jdbc_options(url="jdbc:oracle:thin:@host:1521/orcl", dbtable="HR.EMPLOYEES")
    assert opts["fetchsize"] == "1000"  # README.md:543 default, not Oracle's 10
    assert "partitionColumn" not in opts


def test_jdbc_options_partitioned_scan():
    # the README.md:549-558 shape: stride partitioning on a numeric column
    opts = jdbc_options(
        url="jdbc:oracle:thin:@host:1521/orcl",
        dbtable="HR.EMPLOYEES",
        driver="oracle.jdbc.OracleDriver",
        partition_column="DEPARTMENT_ID",
        lower_bound=1,
        upper_bound=100000000,
        num_partitions=4,
    )
    assert opts["numPartitions"] == "4"
    assert opts["partitionColumn"] == "DEPARTMENT_ID"


def test_jdbc_options_partial_partition_spec_rejected():
    with pytest.raises(ValueError, match="partitioned JDBC scan"):
        jdbc_options(url="u", dbtable="t", partition_column="ID")


def test_sink_rejects_mixed_case(spark):
    df = spark.range(3).select(F.col("id").alias("MixedCase"))
    with pytest.raises(CaseMismatchError):
        validate_sink_columns(df)


def test_sink_rejects_schema_mismatch(spark):
    df = spark.range(3).select(F.col("id").alias("a"))
    with pytest.raises(CaseMismatchError):
        validate_sink_columns(df, expected=["a", "b"])


def test_sink_partition_layout_and_pruned_readback(spark):
    path = os.path.join(SCRATCH, "orders_by_status")
    orders = load_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_orderstatus", "o_custkey"
    )
    write_query_table(
        orders, path, partition_by=["o_orderstatus"], cluster_by=["o_orderkey"]
    )
    # partition directories exist (the Cassandra partition-key analog)
    dirs = {d for d in os.listdir(path) if d.startswith("o_orderstatus=")}
    assert dirs, "no partition directories written"
    # pruned point lookup returns exactly that partition's rows
    status = sorted(dirs)[0].split("=", 1)[1]
    got = read_partition(spark, path, "o_orderstatus", status).count()
    want = orders.filter(F.col("o_orderstatus") == status).count()
    assert got == want


def test_register_views_exposes_sql(spark):
    register_views(spark, SF_DIR, ("region",))
    n = spark.sql("SELECT count(*) AS n FROM region").collect()[0].n
    assert n == 5


def test_cassandra_sink_fails_actionably_without_connector(spark):
    from oracle_to_cassandra_spark.sinks import write_to_cassandra

    df = load_table(spark, SF_DIR, "customer")
    df = df.toDF(*[c.lower() for c in df.columns])
    with pytest.raises(RuntimeError, match="spark-cassandra-connector"):
        write_to_cassandra(df, keyspace="hr", table="customer")


def test_cassandra_sink_validates_case_before_classpath(spark):
    # the case check must fire BEFORE the connector-classpath gate:
    # a user with the connector installed still gets the documented
    # README.md:705-709 failure mode, and a user without it learns
    # about the schema problem first
    from oracle_to_cassandra_spark.sinks import write_to_cassandra

    df = spark.range(3).select(F.col("id").alias("MixedCase"))
    with pytest.raises(CaseMismatchError):
        write_to_cassandra(df, keyspace="hr", table="customer")


def test_brute_force_topk_probe_cap(spark):
    from oracle_to_cassandra_spark.operators.similarity import (
        MAX_PROBES,
        brute_force_topk,
        ivf_topk,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    too_many = list(range(MAX_PROBES + 1))
    with pytest.raises(ValueError, match="MAX_PROBES"):
        brute_force_topk(emb, too_many)
    with pytest.raises(ValueError, match="MAX_PROBES"):
        ivf_topk(emb, too_many)
