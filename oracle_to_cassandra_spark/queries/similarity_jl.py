"""Johnson–Lindenstrauss random projection: compress 64-dim embeddings
to {K_OUT} dims through a deterministic ±1 Rademacher matrix, then
MEASURE what the compression costs — recall@10 of nearest-neighbor
retrieval in the projected space, and the distance-distortion ratio
over each probe's true neighborhood.

This is the third measured lever on the 100 TB embedding-search cost
axis (IVF prunes the search space, PQ compresses the codes, JL
compresses the geometry): a 4× dimensionality cut shrinks every
downstream shuffle/scan of the vector column 4×, and the audit
quantifies the recall/distortion price instead of assuming the lemma's
asymptotics apply at this k. The projection itself is a map-side fold
(k_out × dim multiply-adds inside whole-stage codegen) — no shuffle,
no UDF; the matrix is INLINED as literals in both engines (same
md5-constant pattern as the MinHash permutations / LSH hyperplanes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from oracle_to_cassandra_spark.operators.similarity import (
    EMBEDDING_DIM,
    rademacher_matrix,
)
from oracle_to_cassandra_spark.queries.similarity import PROBE_IDS, _PROBES_SQL
from oracle_to_cassandra_spark.registry import query
from oracle_to_cassandra_spark.sources import load_table

K_OUT = 16  #: projected dimensionality (64 → 16: a 4× cut)
TOP_K = 10
_SCALE = 4.0  #: 1/sqrt(K_OUT) scaling keeps E[‖Δy‖²] = ‖Δx‖²

_MAT = rademacher_matrix(K_OUT, EMBEDDING_DIM)

_MAT_SQL = (
    "[" + ", ".join("[" + ", ".join(str(v) for v in row) + "]" for row in _MAT) + "]"
)

#: squared L2 between two equal-length double lists a/b of length n
_D2 = "round(list_sum(list_transform(range({n}), i -> ({a}[i+1]-{b}[i+1])*({a}[i+1]-{b}[i+1]))), 6)"

_JL_SQL = f"""
    WITH mat(m) AS (SELECT {_MAT_SQL}),
    proj AS (
      SELECT vec_id,
             list_transform(range({K_OUT}), j ->
               round(list_sum(list_transform(range({EMBEDDING_DIM}),
                 i -> embedding[i+1]::DOUBLE * m[j+1][i+1])) / {_SCALE}, 6)) AS p,
             list_transform(embedding, x -> x::DOUBLE) AS e
      FROM embeddings, mat
    ),
    pairs AS (
      SELECT pr.vec_id AS probe_id, c.vec_id AS neighbor_id,
             {_D2.format(n=EMBEDDING_DIM, a="pr.e", b="c.e")} AS orig_d2,
             {_D2.format(n=K_OUT, a="pr.p", b="c.p")} AS proj_d2
      FROM proj pr JOIN proj c ON pr.vec_id <> c.vec_id
      WHERE pr.vec_id IN {_PROBES_SQL}
    ),
    exact AS (
      SELECT probe_id, neighbor_id, orig_d2, proj_d2 FROM (
        SELECT *, row_number() OVER (PARTITION BY probe_id
                                     ORDER BY orig_d2, neighbor_id) AS rn
        FROM pairs
      ) WHERE rn <= {TOP_K}
    ),
    ptop AS (
      SELECT probe_id, neighbor_id FROM (
        SELECT *, row_number() OVER (PARTITION BY probe_id
                                     ORDER BY proj_d2, neighbor_id) AS rn
        FROM pairs
      ) WHERE rn <= {TOP_K}
    ),
    inter AS (
      SELECT x.probe_id, count(*)::BIGINT AS n_overlap
      FROM exact x JOIN ptop q
        ON x.probe_id = q.probe_id AND x.neighbor_id = q.neighbor_id
      GROUP BY x.probe_id
    )
    SELECT e.probe_id,
           round(coalesce(any_value(i.n_overlap), 0) / {TOP_K}.0, 2) AS recall_at_10,
           (sum(CAST(round(e.proj_d2 / nullif(e.orig_d2, 0)
                            * 1000000) AS BIGINT))::BIGINT
            // count(e.proj_d2 / nullif(e.orig_d2, 0)))
             AS mean_distortion_micro
    FROM exact e LEFT JOIN inter i ON e.probe_id = i.probe_id
    GROUP BY e.probe_id
    """


def _project_sx(emb: str) -> str:
    """k_out sequential folds — identical operand order to the
    oracle's list_sum, all inside whole-stage codegen. Built as ONE
    Spark-SQL string: one SQL parse instead of composing 16 × 64
    literal array entries one py4j call at a time (~10k round trips of
    pure driver latency per construction); double literals carry the
    ``D`` suffix so they parse as DOUBLE, matching ``F.lit(float)``.
    Entries render via ``repr`` (shortest exact round-trip form, parsed
    exactly by the JVM) — a fixed one-decimal format would silently
    round any future matrix whose entries aren't exact at one decimal
    (scaled Achlioptas/Gaussian planes)."""
    rows = []
    for row in _MAT:
        arr = "array(" + ", ".join(f"{v!r}D" for v in row) + ")"
        rows.append(
            f"round(aggregate(zip_with({emb}, {arr}, "
            f"(x, y) -> CAST(x AS DOUBLE) * y), 0.0D, "
            f"(acc, v) -> acc + v) / {_SCALE}D, 6)"
        )
    return "array(" + ", ".join(rows) + ")"


def _sq_l2_sx(a: str, b: str) -> str:
    """Squared L2 distance rounded to 6 dp, as ONE Spark-SQL string:
    one SQL parse instead of a Column fold's per-node py4j round
    trips."""
    return (
        f"round(aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), "
        f"0.0D, (acc, x) -> acc + x), 6)"
    )


@query("jl_projection_recall_distortion", oracle=_JL_SQL)
def jl_projection_recall_distortion(spark, sf_dir):
    """Per-probe audit of the {K_OUT}-dim JL projection: recall@10 of
    projected-space retrieval against the exact squared-L2 top-10, and
    the mean projected/original distance ratio over that true top-10
    (the empirical distortion the JL lemma bounds).

    Scale: the probe set broadcasts; each corpus vector is projected
    once in its own task and scored against the ≤5 probes; both
    rankings are WindowGroupLimit top-k, never a global sort."""
    e = load_table(spark, sf_dir, "embeddings")
    proj = e.selectExpr(
        "vec_id",
        "transform(embedding, x -> CAST(x AS DOUBLE)) AS e",
        f"{_project_sx('embedding')} AS p",
    )
    probes = proj.filter(F.col("vec_id").isin(PROBE_IDS)).select(
        F.col("vec_id").alias("probe_id"),
        F.col("e").alias("pe"),
        F.col("p").alias("pp"),
    )
    pairs = (
        F.broadcast(probes)
        .join(proj, F.col("probe_id") != F.col("vec_id"))
        .selectExpr(
            "probe_id",
            "vec_id AS neighbor_id",
            f"{_sq_l2_sx('pe', 'e')} AS orig_d2",
            f"{_sq_l2_sx('pp', 'p')} AS proj_d2",
        )
    )
    # BOTH ranks are computed on the same row in one probe_id-partitioned
    # pass (two Window sorts over ONE exchange) — a pair is a projected-
    # space hit iff its rn_p also clears TOP_K, so no self-join is needed
    # and the pairs subtree executes exactly once
    w_exact = Window.partitionBy("probe_id").orderBy("orig_d2", "neighbor_id")
    w_proj = Window.partitionBy("probe_id").orderBy("proj_d2", "neighbor_id")
    ranked = pairs.withColumn("rn_e", F.row_number().over(w_exact)).withColumn(
        "rn_p", F.row_number().over(w_proj)
    )
    exact = ranked.filter(F.col("rn_e") <= TOP_K)
    return exact.groupBy("probe_id").agg(
        F.round(
            F.sum(F.when(F.col("rn_p") <= TOP_K, 1).otherwise(0)) / float(TOP_K), 2
        ).alias("recall_at_10"),
        # exact integer micro-unit mean (int64 sum, one int64 div):
        # the float mean ties at the half-micro across engines
        (
            F.sum(
                F.round(
                    F.col("proj_d2")
                    / F.when(F.col("orig_d2") != 0, F.col("orig_d2"))
                    * 1000000
                ).cast("long")
            )
        ).alias("_dist_sum"),
        F.count(
            F.col("proj_d2") / F.when(F.col("orig_d2") != 0, F.col("orig_d2"))
        ).alias("_dist_n"),
    ).select(
        "probe_id",
        "recall_at_10",
        F.expr("_dist_sum div _dist_n").alias("mean_distortion_micro"),
    )


K_PREFIX = 16  #: Matryoshka truncation width (same budget as the JL audit)

_MRL_SQL = f"""
    WITH proj AS (
      SELECT vec_id,
             list_transform(embedding[1:{K_PREFIX}], x -> x::DOUBLE) AS p,
             list_transform(embedding, x -> x::DOUBLE) AS e
      FROM embeddings
    ),
    pairs AS (
      SELECT pr.vec_id AS probe_id, c.vec_id AS neighbor_id,
             {_D2.format(n=EMBEDDING_DIM, a="pr.e", b="c.e")} AS orig_d2,
             {_D2.format(n=K_PREFIX, a="pr.p", b="c.p")} AS pref_d2
      FROM proj pr JOIN proj c ON pr.vec_id <> c.vec_id
      WHERE pr.vec_id IN {_PROBES_SQL}
    ),
    ranked AS (
      SELECT probe_id, neighbor_id,
             row_number() OVER (PARTITION BY probe_id
                                ORDER BY orig_d2, neighbor_id) AS rn_e,
             row_number() OVER (PARTITION BY probe_id
                                ORDER BY pref_d2, neighbor_id) AS rn_p
      FROM pairs
    )
    SELECT probe_id,
           round(sum(CASE WHEN rn_p <= {TOP_K} THEN 1 ELSE 0 END)
                 / {TOP_K}.0, 2) AS recall_at_10
    FROM ranked WHERE rn_e <= {TOP_K}
    GROUP BY probe_id
    """


@query("matryoshka_prefix_recall", oracle=_MRL_SQL)
def matryoshka_prefix_recall(spark, sf_dir):
    """Matryoshka-style truncation audit (Kusupati et al. 2022): use
    only the FIRST {K_PREFIX} dimensions as the compressed
    representation and measure recall@10 against the full-dimension
    squared-L2 top-10 — the practical question behind MRL embeddings
    ("can we serve the 4× cheaper prefix?"). Same compression budget
    as the JL audit, so the two queries together answer which lever
    (learned-ordered prefix vs data-oblivious projection) loses less
    on THIS corpus — for synthetic unordered dimensions the prefix
    carries no privileged information, so JL ≈ prefix here; on real
    MRL-trained embeddings the prefix wins, and this audit is how
    you'd verify that.

    Scale: identical plan to the JL audit — probe broadcast, map-side
    prefix slice, one probe-partitioned dual-rank pass, no self-join."""
    e = load_table(spark, sf_dir, "embeddings")
    proj = e.selectExpr(
        "vec_id",
        "transform(embedding, x -> CAST(x AS DOUBLE)) AS e",
        f"transform(slice(embedding, 1, {K_PREFIX}), x -> CAST(x AS DOUBLE)) AS p",
    )
    probes = proj.filter(F.col("vec_id").isin(PROBE_IDS)).select(
        F.col("vec_id").alias("probe_id"),
        F.col("e").alias("pe"),
        F.col("p").alias("pp"),
    )
    pairs = (
        F.broadcast(probes)
        .join(proj, F.col("probe_id") != F.col("vec_id"))
        .selectExpr(
            "probe_id",
            "vec_id AS neighbor_id",
            f"{_sq_l2_sx('pe', 'e')} AS orig_d2",
            f"{_sq_l2_sx('pp', 'p')} AS pref_d2",
        )
    )
    w_exact = Window.partitionBy("probe_id").orderBy("orig_d2", "neighbor_id")
    w_pref = Window.partitionBy("probe_id").orderBy("pref_d2", "neighbor_id")
    ranked = pairs.withColumn("rn_e", F.row_number().over(w_exact)).withColumn(
        "rn_p", F.row_number().over(w_pref)
    )
    return (
        ranked.filter(F.col("rn_e") <= TOP_K)
        .groupBy("probe_id")
        .agg(
            F.round(
                F.sum(F.when(F.col("rn_p") <= TOP_K, 1).otherwise(0))
                / float(TOP_K),
                2,
            ).alias("recall_at_10")
        )
    )
