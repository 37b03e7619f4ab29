"""The benchmark's workloads: fixed op sets over the package's public
functions.

Every workload is a closed loop with one client: the next op starts when
the previous one returns. An op returns a result that ``verify`` checks
after the op's timer has stopped. The seed only permutes the op set and
picks lookup / read-back keys, so every seed does the same amount of
work.

* ``query_mix`` -- the read path: point lookups on sink tables built in
  set-up, interleaved with single-action registered analytics. Writes
  nothing.
* ``curation_loops`` -- registered curation and stream queries whose
  time goes to jobs submitted before the final action (connected-
  component rounds, rank iterations, merge loops, Python workers,
  micro-batches), plus one rebuild of a query-first table with a
  partition read-back: the write path (pipelines, sinks).
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import functions as F

#: one representative each of six registry families, chosen among the
#: cheaper members so a pass stays short enough to repeat in one run
QUERY_MIX_REGISTRY = (
    "fk_chain_walk",                  # relational
    "rollup_region_nation",           # aggregates
    "running_total_per_customer",     # windows
    "tpch_q5_local_supplier_volume",  # tpch_suite
    "correlated_exists_orders",       # subqueries
    "session_windows_per_user",       # event_time
)
#: point lookups per pass on the PK table and on orders_by_customer.
#: Lookups are the majority of ops, as on a table that serves
#: partition-key reads, so the median op is a customer lookup; the
#: registry queries around the middle of the latency range vary by a
#: fifth between runs, the customer lookup by much less.
PK_LOOKUPS, CUSTOMER_LOOKUPS = 1, 10

#: one query per mechanism: staged driver-loop rounds, rank iterations,
#: Python workers, micro-batches. With the table-build op that makes an
#: odd number of ops of well-separated latency, so the median op is one
#: op's own latency, not the gap between two of them.
CURATION_REGISTRY = (
    "dedup_cluster_assignment",       # dedup_clusters: connected-component rounds
    "trade_graph_pagerank",           # graph_rank: rank iterations
    "grouped_map_zscore",             # udfs: applyInPandas on Python workers
    "stream_tumbling_event_counts",   # streaming: micro-batches + state store
)


@dataclass
class Op:
    name: str
    kind: str                       # "registry" | "lookup" | "build"
    run: Callable[[], Any]          # timed; returns what verify checks
    verify: Callable[[Any], None] = lambda result: None
    rows: int = 0                   # sink rows one run writes
    query: str | None = None        # registry name, for the oracle check


@dataclass
class Ctx:
    spark: Any
    data_dir: str
    work_dir: str
    duck: Any                       # DuckDB connection over the input tables
    tracer: Any
    seed: int
    state: dict = field(default_factory=dict)

    def path(self, name: str) -> str:
        return os.path.join(self.work_dir, "sinks", name)


def _expect(cond: bool, msg: str) -> None:
    if not cond:
        raise AssertionError(msg)


def _scalar(ctx: Ctx, sql: str, *params):
    return ctx.duck.execute(sql, list(params)).fetchone()[0]


# --- registry ops -----------------------------------------------------


def registry_op(ctx: Ctx, name: str) -> Op:
    """Build the registered query's DataFrame, then run it to a noop
    sink (the final action)."""
    from oracle_to_cassandra_spark import registry

    fn = registry.QUERIES[name]
    tr = ctx.tracer

    def run():
        with tr.span("queries.construct"):
            df = fn(ctx.spark, ctx.data_dir)
        with tr.span("queries.action"):
            df.write.format("noop").mode("overwrite").save()

    return Op(name=name, kind="registry", run=run, query=name)


# --- query_mix --------------------------------------------------------


def prepare_query_mix(ctx: Ctx) -> None:
    """Build the two lookup tables with the package's pipelines."""
    from oracle_to_cassandra_spark import pipelines

    pk, by_cust = ctx.path("orders_pk"), ctx.path("orders_by_customer")
    pipelines.build_orders_table(ctx.spark, ctx.data_dir, pk)
    pipelines.build_orders_by_customer(ctx.spark, ctx.data_dir, by_cust)
    ctx.state["schemas"] = {
        p: ctx.spark.read.parquet(p).schema for p in (pk, by_cust)
    }


def query_mix_ops(ctx: Ctx) -> list[Op]:
    from oracle_to_cassandra_spark.sinks import read_partition

    rng = random.Random(f"{ctx.seed}:keys")
    n_orders = _scalar(ctx, "SELECT count(*) FROM orders")
    pk, by_cust = ctx.path("orders_pk"), ctx.path("orders_by_customer")
    schemas = ctx.state["schemas"]
    tr = ctx.tracer
    ops = [registry_op(ctx, q) for q in QUERY_MIX_REGISTRY]

    def pk_lookup(key: int) -> Op:
        def run():
            with tr.span("queries.construct"):
                df = read_partition(ctx.spark, pk, "pk_bucket", key % 64, schema=schemas[pk])
                df = df.filter(F.col("o_orderkey") == key)
            with tr.span("queries.action"), tr.span("sinks.read"):
                return df.collect()

        def verify(rows):
            _expect(len(rows) == 1 and rows[0]["o_orderkey"] == key,
                    f"orders_pk lookup {key}: got {rows}")

        return Op("lookup_orders_pk", "lookup", run, verify)

    # customers that placed orders, so every lookup returns rows
    custs = [r[0] for r in ctx.duck.execute(
        "SELECT DISTINCT o_custkey FROM orders ORDER BY 1").fetchall()]

    def cust_lookup(key: int) -> Op:
        seg, n = ctx.duck.execute(
            "SELECT c_mktsegment, count(*) FROM orders JOIN customer "
            "ON o_custkey = c_custkey WHERE c_custkey = ? GROUP BY 1", [key]
        ).fetchone()

        def run():
            with tr.span("queries.construct"):
                df = read_partition(ctx.spark, by_cust, "c_mktsegment", seg,
                                    schema=schemas[by_cust])
                df = df.filter(F.col("c_custkey") == key)
            with tr.span("queries.action"), tr.span("sinks.read"):
                return df.collect()

        def verify(rows):
            _expect(len(rows) == n and all(r["c_custkey"] == key for r in rows),
                    f"orders_by_customer lookup {key}: {len(rows)} rows, want {n}")

        return Op("lookup_orders_by_customer", "lookup", run, verify)

    ops += [pk_lookup(k) for k in rng.sample(range(n_orders), PK_LOOKUPS)]
    ops += [cust_lookup(k) for k in rng.sample(custs, CUSTOMER_LOOKUPS)]
    return ops


# --- curation_loops ---------------------------------------------------


def build_op(ctx: Ctx) -> Op:
    """Rebuild the orders-by-customer query-first table with the
    package's pipeline (load, denormalizing join, partitioned write),
    then read one partition back."""
    from oracle_to_cassandra_spark import pipelines
    from oracle_to_cassandra_spark.sinks import read_partition

    path, tr = ctx.path("orders_by_customer"), ctx.tracer
    rng = random.Random(f"{ctx.seed}:keys")
    seg = rng.choice([r[0] for r in ctx.duck.execute(
        "SELECT DISTINCT c_mktsegment FROM customer ORDER BY 1").fetchall()])
    join = "orders JOIN customer ON o_custkey = c_custkey"
    total = _scalar(ctx, f"SELECT count(*) FROM {join}")
    want = _scalar(ctx, f"SELECT count(*) FROM {join} WHERE c_mktsegment = ?", seg)

    def run():
        with tr.span("queries.action"):
            pipelines.build_orders_by_customer(ctx.spark, ctx.data_dir, path)
        with tr.span("sinks.read"):
            return read_partition(ctx.spark, path, "c_mktsegment", seg).count()

    def verify(got):
        _expect(got == want, f"orders_by_customer read-back {seg}: {got} rows, want {want}")

    return Op("build_orders_by_customer", "build", run, verify, rows=total)


def curation_ops(ctx: Ctx) -> list[Op]:
    return [registry_op(ctx, q) for q in CURATION_REGISTRY] + [build_op(ctx)]


@dataclass
class Workload:
    #: program work before the check pass (billed to setup_s), or None
    prepare: Callable[[Ctx], None] | None
    #: the op set; the benchmark's own work, not billed
    make_ops: Callable[[Ctx], list[Op]]
    #: untimed passes after the check pass, billed to setup_s
    warmup_passes: int


WORKLOADS = {
    "query_mix": Workload(prepare_query_mix, query_mix_ops, warmup_passes=8),
    "curation_loops": Workload(None, curation_ops, warmup_passes=2),
}
