"""Weighted PageRank over the nation-level trade graph — the second
iterative graph query next to connected components
(`operators/graph.py`), on a DIFFERENT recurrence (weighted
matrix-vector product per round rather than min-label contraction).

Graph: one edge supplier-nation → customer-nation per shipping
relationship, weighted by line-item count (the TPC-H Q7 join shape
collapsed to nation granularity). PageRank over it answers "which
nation is the gravitational center of the trade network" — the same
centrality a corpus pipeline runs over citation/link graphs to score
source authority (the classic crawl-prioritization signal).

Cross-engine exactness: the entire recurrence is INTEGER arithmetic —
ranks live in 10⁻⁹ units of probability mass (S = 10⁹), every
per-edge contribution is ``r·w // W``, damping 0.85 is applied as
``(85·x) // 100``. Every operand is non-negative, so Python's floor
``//`` equals DuckDB's ``//`` (both truncate toward zero here), and
Python ints cannot overflow; the driver hash compare works on raw rank
integers with no float tolerance anywhere.

Scale: only the edge aggregate scales with the data — the fact join
and its ``(src, dst) → w`` count run distributed, shuffling the fact
rows once. The node set is nations, constant at every SF, so the
aggregate is at most 25 × 25 = 625 rows. A distributed round only pays
for itself when the state does not fit in one task; here it always
does, so all rounds run inside ONE grouped-map task over the edge list
— no driver loop, no per-round job, no staged rank vector. The generic
distributed-round pattern lives on in `operators/graph.py` (connected
components, whose state is node-sized). Dangling nodes (no outgoing
edges — at small SFs most nations have customers but no suppliers)
spray their whole rank uniformly over the node set; without it ~60%
of total mass bleeds away in 3 rounds (measured on the sf0.001
fixture).
"""

from __future__ import annotations

import sys

import pandas as pd
from pyspark import cloudpickle
from pyspark.sql import functions as F

from oracle_to_cassandra_spark.registry import query
from oracle_to_cassandra_spark.sources import load_table

# the grouped-map body ships to Python workers, where this package may
# not be importable: pickle this module's functions by value
cloudpickle.register_pickle_by_value(sys.modules[__name__])

PR_SCALE = 1_000_000_000
PR_ITERATIONS = 3
_D_NUM, _D_DEN = 85, 100  # damping 0.85 as exact integers

_EDGES_SQL = """
    edges AS (
      SELECT s.s_nationkey AS src, c.c_nationkey AS dst,
             count(*)::BIGINT AS w
      FROM lineitem l
      JOIN orders o   ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      GROUP BY 1, 2
    ),
    outw AS (SELECT src, sum(w)::BIGINT AS w_out FROM edges GROUP BY src),
    nodes AS (SELECT DISTINCT src AS node FROM edges
              UNION SELECT DISTINCT dst FROM edges)
"""


def _round_sql(k: int) -> str:
    return f"""
    dang{k} AS (
      SELECT coalesce(sum(r.pr), 0)::BIGINT AS dmass
      FROM r{k - 1} r LEFT JOIN outw o ON o.src = r.node
      WHERE o.src IS NULL
    ),
    r{k} AS (
      SELECT n.node,
             ({(100 - _D_NUM) * PR_SCALE} // {_D_DEN})
               // (SELECT count(*) FROM nodes)
             + ({_D_NUM} * (coalesce(m.mass, 0)
                            + (SELECT dmass FROM dang{k})
                              // (SELECT count(*) FROM nodes)))
               // {_D_DEN} AS pr
      FROM nodes n LEFT JOIN (
        SELECT e.dst AS node, sum((r.pr * e.w) // o.w_out)::BIGINT AS mass
        FROM edges e
        JOIN r{k - 1} r ON r.node = e.src
        JOIN outw o     ON o.src = e.src
        GROUP BY e.dst
      ) m ON m.node = n.node
    )"""


_PR_SQL = (
    "WITH "
    + _EDGES_SQL
    + f""",
    r0 AS (SELECT node,
                  {PR_SCALE} // (SELECT count(*) FROM nodes) AS pr
           FROM nodes),
    """
    + ",\n    ".join(_round_sql(k) for k in range(1, PR_ITERATIONS + 1))
    + f"""
    SELECT node AS nationkey, pr::BIGINT AS pagerank_nano
    FROM r{PR_ITERATIONS}
    """
)


@query("trade_graph_pagerank", oracle=_PR_SQL)
def trade_graph_pagerank(spark, sf_dir):
    """3-round weighted PageRank over the supplier-nation →
    customer-nation trade graph; see the module docstring for the
    integer recurrence and why the rounds run in one task."""
    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    edges = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .groupBy(
            F.col("s_nationkey").alias("src"), F.col("c_nationkey").alias("dst")
        )
        .agg(F.count("*").alias("w"))
    )
    # one group holds the whole ≤625-row edge list; no rows, no group,
    # so empty input yields an empty rank vector as the oracle does
    return edges.groupBy().applyInPandas(
        _pagerank_frame, schema="nationkey int, pagerank_nano bigint"
    )


def _key(x):
    """Nation key as a Python int; NULL (NaN in a nullable pandas
    column) as None."""
    return None if pd.isna(x) else int(x)


def _pagerank_frame(pdf: pd.DataFrame) -> pd.DataFrame:
    ranks = pagerank_ranks(
        zip(map(_key, pdf["src"]), map(_key, pdf["dst"]), pdf["w"].tolist())
    )
    return pd.DataFrame(
        {
            "nationkey": pd.array(list(ranks), dtype="Int32"),
            "pagerank_nano": pd.array(list(ranks.values()), dtype="Int64"),
        }
    )


def pagerank_ranks(edges) -> dict:
    """The `_PR_SQL` recurrence over ``(src, dst, w)`` triples, in
    Python ints. NULL keys follow the oracle's join semantics: a NULL
    node never matches an equi-join, so its out-edges carry no mass,
    mass sent to it is lost, and it always counts as dangling."""
    edges = list(edges)
    w_out: dict = {}
    for src, _, w in edges:
        w_out[src] = w_out.get(src, 0) + w
    nodes = {src for src, _, _ in edges} | {dst for _, dst, _ in edges}
    n = len(nodes)
    if n == 0:
        return {}
    teleport = ((_D_DEN - _D_NUM) * PR_SCALE // _D_DEN) // n
    ranks = dict.fromkeys(nodes, PR_SCALE // n)
    for _ in range(PR_ITERATIONS):
        mass = dict.fromkeys(nodes, 0)
        for src, dst, w in edges:
            if src is not None and dst is not None:
                mass[dst] += (ranks[src] * w) // w_out[src]
        dmass = sum(
            r for v, r in ranks.items() if v is None or v not in w_out
        )
        ranks = {
            v: teleport + (_D_NUM * (mass[v] + dmass // n)) // _D_DEN
            for v in nodes
        }
    return ranks
