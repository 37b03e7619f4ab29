"""trade_graph_pagerank runs its rounds in one grouped-map task: the
query is lazy, its action costs a handful of jobs, and the Python
recurrence is the oracle's `_round_sql` chain digit for digit."""

from __future__ import annotations

import duckdb
import pandas as pd

from oracle_to_cassandra_spark.queries import graph_rank
from oracle_to_cassandra_spark.queries.graph_rank import (
    _PR_SQL,
    _pagerank_frame,
    pagerank_ranks,
    trade_graph_pagerank,
)
from oracle_to_cassandra_spark.sources import load_table
from tests.conftest import SF_DIR

#: hand-built graph: 1 → 2 → 3 → 1 cycle, 1 → 4, and 4 a dangling node
#: (edges in, none out); weights chosen so every floor division drops
#: a remainder
_EDGES = [(1, 2, 3), (2, 3, 7), (3, 1, 5), (1, 4, 2), (2, 4, 1)]


def _oracle(edges):
    """Run the registered `_PR_SQL` in DuckDB over fact tables built so
    that its edge aggregate is exactly ``edges``: one supplier per
    source nation, one customer and order per destination nation, and
    ``w`` line items per edge."""
    con = duckdb.connect()
    sup = {src: k for k, src in enumerate(sorted({e[0] for e in edges}, key=str))}
    cus = {dst: k for k, dst in enumerate(sorted({e[1] for e in edges}, key=str))}
    con.execute("CREATE TABLE supplier (s_suppkey BIGINT, s_nationkey INT)")
    con.execute("CREATE TABLE customer (c_custkey BIGINT, c_nationkey INT)")
    con.execute("CREATE TABLE orders (o_orderkey BIGINT, o_custkey BIGINT)")
    con.execute("CREATE TABLE lineitem (l_orderkey BIGINT, l_suppkey BIGINT)")
    for nation, k in sup.items():
        con.execute("INSERT INTO supplier VALUES (?, ?)", [k, nation])
    for nation, k in cus.items():
        con.execute("INSERT INTO customer VALUES (?, ?)", [k, nation])
        con.execute("INSERT INTO orders VALUES (?, ?)", [k, k])
    for src, dst, w in edges:
        for _ in range(w):
            con.execute("INSERT INTO lineitem VALUES (?, ?)", [cus[dst], sup[src]])
    return dict(con.execute(_PR_SQL).fetchall())


def test_recurrence_matches_oracle_with_dangling_node():
    ranks = pagerank_ranks(_EDGES)
    assert ranks == _oracle(_EDGES)
    assert set(ranks) == {1, 2, 3, 4}
    assert sum(ranks.values()) <= graph_rank.PR_SCALE


def test_recurrence_null_keys_match_oracle():
    """A NULL nation key never matches an equi-join in the oracle: its
    out-edges carry no mass, mass sent to it is lost, and it counts as
    dangling. The grouped-map frame sees NULL keys as NaN."""
    edges = _EDGES + [(None, 2, 4), (3, None, 6)]
    expected = _oracle(edges)
    assert None in expected
    assert pagerank_ranks(edges) == expected
    pdf = pd.DataFrame(edges, columns=["src", "dst", "w"])
    assert pdf["src"].dtype == "float64"
    out = _pagerank_frame(pdf)
    got = {
        (None if pd.isna(k) else int(k)): int(r)
        for k, r in zip(out["nationkey"], out["pagerank_nano"])
    }
    assert got == expected


def test_recurrence_empty_input():
    assert pagerank_ranks([]) == {}
    assert _oracle([]) == {}


def test_pagerank_is_lazy_and_runs_few_jobs(spark):
    """Constructing the query submits no job; construct plus collect
    submits at most 8 (the per-round loop submitted 47). The four
    parquet tables are opened first so their one-off schema reads are
    not billed to the query."""
    assert not hasattr(graph_rank, "stage")
    for t in ("lineitem", "orders", "customer", "supplier"):
        load_table(spark, SF_DIR, t)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    try:
        sc.setJobGroup("pagerank_construct", "pagerank_construct")
        df = trade_graph_pagerank(spark, SF_DIR)
        assert tracker.getJobIdsForGroup("pagerank_construct") == []
        sc.setJobGroup("pagerank_collect", "pagerank_collect")
        assert len(df.collect()) == 25
        assert len(tracker.getJobIdsForGroup("pagerank_collect")) <= 8
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
