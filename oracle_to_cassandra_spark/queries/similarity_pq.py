"""Product-quantization ANN (Jégou et al. 2011): subspace codebooks,
corpus encoding to compact codes, and asymmetric-distance (ADC) top-k
— the memory-compression scale path for embedding search, plus a
recall@10 self-audit against the exact squared-L2 ranking.

At 100 TB the point of PQ is that the SEARCH never touches raw
vectors: each 64-dim float vector (256 bytes) is encoded once into
M=4 one-byte codes, and a probe scores the whole corpus through a
broadcast M×K distance table — a scan over 4-byte codes plus four
table lookups per vector. The codebook (M×K×{SUB}-dim, a few KB)
broadcasts everywhere; nothing corpus-sized ever shuffles raw
embeddings. Here K = the 10 synthetic cluster labels (production
trains K=256 per subspace with k-means — identical plan shape, the
Lloyd step exists at ``similarity_eval.ivf_centroid_refinement``).

Everything is INTEGER-EXACT and oracle-twinned: vector components
are quantized once per row to int64 micro-units (the only float
round in the whole family — a single deterministic op on identical
raw inputs), codebook components are the rounded integer mean of
integer components, and every distance from there on is an exact
int64 sum of squared integer differences (components ≤ ~0.6 in
magnitude → per-dim squares ≤ ~1.5e12, 64-dim sums ≤ ~1e14 — five
orders of magnitude inside int64). No float accumulation exists
anywhere in the encode/score path, so argmin ties and top-k ranks
cannot flip across engines or partition orders at ANY scale (the
r8.0 form kept per-subspace 6-dp float rounds and was caught 1-ulp
apart at sf0.1). Extends the reference's static lookup surface
(`/root/reference/README.md:792-812`) to the compressed-index shape
its engine cannot express.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from oracle_to_cassandra_spark.queries.similarity import PROBE_IDS, _PROBES_SQL
from oracle_to_cassandra_spark.registry import query
from oracle_to_cassandra_spark.staging import stage
from oracle_to_cassandra_spark.sources import load_table

M = 4  #: number of subspaces
SUB = 16  #: dimensions per subspace (64-dim embeddings)
TOP_K = 10

#: shared SQL fragments ---------------------------------------------------

#: per-(vector, subspace) INTEGER MICRO-UNIT subvectors — the single
#: per-row float round of the family; DuckDB list slices are 1-based
#: and inclusive on both ends
_SUB_SQL = f"""
  SELECT vec_id, label, t.m,
         list_transform(embedding[(t.m * {SUB} + 1):((t.m + 1) * {SUB})],
                        x -> CAST(round(x::DOUBLE * 1000000) AS BIGINT)) AS sv
  FROM embeddings, range({M}) t(m)
"""

#: codebook: per (subspace, label) mean subvector in integer
#: micro-units — exact int64 component sums, ONE division + ONE round
#: per component (deterministic on identical exact operands)
_CB_SQL = """
  SELECT m, code_id, list(c ORDER BY pos) AS cw FROM (
    SELECT m, code_id, pos,
           CAST(round(sum(v)::DOUBLE / count(v)) AS BIGINT) AS c FROM (
      SELECT m, label AS code_id, generate_subscripts(sv, 1) AS pos,
             unnest(sv) AS v
      FROM sub
    ) GROUP BY m, code_id, pos
  ) GROUP BY m, code_id
"""

#: EXACT squared L2 (micro²-units) between integer subvector a and
#: integer codeword b — pure int64 arithmetic, no float anywhere
_D2 = ("list_sum(list_transform(range({n}), "
       "i -> (a[i+1]-b[i+1])*(a[i+1]-b[i+1])))::BIGINT")


def _pq_core_sql() -> str:
    """Shared CTE prefix: subvectors, codebook, corpus codes, probe
    distance tables, and the ADC scores for the fixed probe set."""
    d2 = _D2.format(n=SUB)
    return f"""
    sub AS ({_SUB_SQL}),
    cb AS ({_CB_SQL}),
    enc0 AS (
      SELECT s.vec_id, s.m, cb.code_id,
             {d2.replace('a[', 's.sv[').replace('b[', 'cb.cw[')} AS d
      FROM sub s JOIN cb ON s.m = cb.m
    ),
    enc AS (
      SELECT vec_id, m, code_id AS code FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id, m
                                     ORDER BY d, code_id) AS r
        FROM enc0
      ) WHERE r = 1
    ),
    dtab AS (
      SELECT s.vec_id AS probe_id, s.m, cb.code_id,
             {d2.replace('a[', 's.sv[').replace('b[', 'cb.cw[')} AS d
      FROM sub s JOIN cb ON s.m = cb.m
      WHERE s.vec_id IN {_PROBES_SQL}
    ),
    adc AS (
      SELECT dtab.probe_id, enc.vec_id AS neighbor_id,
             sum(dtab.d)::BIGINT AS adc_micro2
      FROM enc JOIN dtab ON enc.m = dtab.m AND enc.code = dtab.code_id
      WHERE enc.vec_id <> dtab.probe_id
      GROUP BY dtab.probe_id, enc.vec_id
    ),
    pq_topk AS (
      SELECT probe_id, neighbor_id, adc_micro2, rn FROM (
        SELECT *, row_number() OVER (PARTITION BY probe_id
                                     ORDER BY adc_micro2, neighbor_id)::BIGINT AS rn
        FROM adc
      ) WHERE rn <= {TOP_K}
    )
    """


_PQ_TOPK_SQL = f"""
    WITH {_pq_core_sql()}
    SELECT probe_id, neighbor_id, adc_micro2, rn FROM pq_topk
    """


def _subvectors(e: DataFrame) -> DataFrame:
    """(vec_id, label, m, sv: array<long>) — one row per subspace,
    components quantized to integer micro-units (the family's single
    per-row float round). Built as ONE Spark-SQL string: one SQL parse
    instead of composing M slice/transform/struct trees one py4j round
    trip at a time (~600 trips per construction, ×3 uses per PQ
    query)."""
    structs = ", ".join(
        f"struct({m} AS m, "
        f"transform(slice(embedding, {m * SUB + 1}, {SUB}), "
        f"x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS sv)"
        for m in range(M)
    )
    return e.select(
        "vec_id", "label", F.expr(f"explode(array({structs}))").alias("s")
    ).select("vec_id", "label", F.col("s.m").alias("m"), F.col("s.sv").alias("sv"))


def _codebook(sub: DataFrame) -> DataFrame:
    """(m, code_id, cw: array<long>) — per-(subspace, label) mean
    subvector in integer micro-units (exact int64 component sums, one
    division + one round per component). M*K rows — broadcast size."""
    dims = sub.select("m", F.col("label").alias("code_id"), F.posexplode("sv").alias("pos", "v"))
    cent = dims.groupBy("m", "code_id", "pos").agg(
        F.round(F.sum("v").cast("double") / F.count("v"))
        .cast("long")
        .alias("c")
    )
    return (
        cent.groupBy("m", "code_id")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "c"))).alias("pc"))
        .select("m", "code_id", F.transform("pc", lambda s: s.getField("c")).alias("cw"))
    )


def _sq_l2_sx(a: str, b: str) -> str:
    """EXACT squared L2 in micro²-units between two integer micro-unit
    arrays — a left fold of int64 squared differences. Associative and
    order-independent, so the argmin and every downstream rank are
    bit-stable across engines and partition orders. One Spark-SQL
    string: one SQL parse instead of ~25 py4j round trips per use
    across five call sites."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), "
        f"CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )


def _pq_topk(spark, sf_dir) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    sub = _subvectors(e)
    # the codebook feeds BOTH the corpus encode and the probe distance
    # tables; stage the 40-row result so the centroid aggregation runs
    # once (same handoff as ivf_centroid_refinement)
    cb = stage(_codebook(sub), eager=True)
    scored = sub.join(F.broadcast(cb), "m").select(
        "vec_id", "m", "code_id", F.expr(_sq_l2_sx("sv", "cw")).alias("d")
    )
    enc = scored.groupBy("vec_id", "m").agg(
        F.min_by("code_id", F.struct("d", "code_id")).alias("code")
    )
    # rename the distance-table keys: enc and dtab share lineage, so a
    # dtab.m/enc.m join degrades to a trivially-true predicate
    dtab = (
        sub.filter(F.col("vec_id").isin(PROBE_IDS))
        .join(F.broadcast(cb), "m")
        .select(
            F.col("vec_id").alias("probe_id"),
            F.col("m").alias("dm"),
            F.col("code_id").alias("dcode"),
            F.expr(_sq_l2_sx("sv", "cw")).alias("d"),
        )
    )
    adc = (
        enc.join(
            F.broadcast(dtab),
            (F.col("m") == F.col("dm")) & (F.col("code") == F.col("dcode")),
        )
        .filter(F.col("vec_id") != F.col("probe_id"))
        .groupBy("probe_id", "vec_id")
        # the ADC distance is an exact int64 sum of M integer
        # subspace distances — associative, rank-stable at any scale
        .agg(F.sum("d").alias("adc_micro2"))
    )
    w = Window.partitionBy("probe_id").orderBy("adc_micro2", F.col("vec_id"))
    return (
        adc.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= TOP_K)
        .select(
            "probe_id", F.col("vec_id").alias("neighbor_id"), "adc_micro2", "rn"
        )
    )


@query("similarity_pq_adc_topk", oracle=_PQ_TOPK_SQL)
def similarity_pq_adc_topk(spark, sf_dir):
    """PQ-ADC top-10 for the fixed probe set: encode the corpus to
    M={M} subspace codes against a per-label codebook, score probes
    through broadcast distance tables, rank by asymmetric distance.

    Scale: the ADC join touches only (vec_id, m, code) — 4 small ints
    per vector — against a broadcast probe×codeword table; the
    aggregation to (probe, vector) partial-sums map-side and the
    per-probe top-k is a WindowGroupLimit, never a global sort. Raw
    embeddings are read exactly twice (codebook + encode), never
    shuffled."""
    return _pq_topk(spark, sf_dir)


_PQ_RECALL_SQL = f"""
    WITH {_pq_core_sql()},
    exact AS (
      SELECT probe_id, neighbor_id FROM (
        SELECT p.vec_id AS probe_id, e.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY p.vec_id
                 ORDER BY list_sum(list_transform(range(64),
                   i -> (CAST(round(p.embedding[i+1]::DOUBLE * 1000000) AS BIGINT)
                         - CAST(round(e.embedding[i+1]::DOUBLE * 1000000) AS BIGINT))
                        * (CAST(round(p.embedding[i+1]::DOUBLE * 1000000) AS BIGINT)
                           - CAST(round(e.embedding[i+1]::DOUBLE * 1000000) AS BIGINT)))),
                   e.vec_id
               ) AS rn
        FROM embeddings p JOIN embeddings e ON p.vec_id <> e.vec_id
        WHERE p.vec_id IN {_PROBES_SQL}
      ) WHERE rn <= {TOP_K}
    ),
    inter AS (
      SELECT x.probe_id, count(*)::BIGINT AS n_overlap
      FROM exact x JOIN pq_topk q
        ON x.probe_id = q.probe_id AND x.neighbor_id = q.neighbor_id
      GROUP BY x.probe_id
    )
    SELECT p.probe_id, round(coalesce(i.n_overlap, 0) / {TOP_K}.0, 2) AS recall_at_10
    FROM (SELECT DISTINCT probe_id FROM exact) p
    LEFT JOIN inter i ON i.probe_id = p.probe_id
    """


@query("similarity_pq_recall_at_10", oracle=_PQ_RECALL_SQL)
def similarity_pq_recall_at_10(spark, sf_dir):
    """Recall@10 of the PQ-ADC ranking against the exact squared-L2
    top-10 — the compression/quality trade-off MEASURED in-engine
    (same audit shape as similarity_ivf_recall_at_10, which scores
    the IVF pruning lever; this scores the quantization lever).

    Expected value here is LOW (~0.1): with only K=10 label-mean
    codewords the quantizer resolves between-cluster structure but a
    probe's true top-10 are within-cluster neighbors whose ADC
    distances are nearly constant, so recall ≈ 10/cluster-size. That
    is the honest information-theoretic floor of a K=10 codebook —
    the audit exists precisely to measure how K trades against it
    (production: K=256 per subspace, trained by the Lloyd step).

    Scale: the exact side is the bounded 5-probe broadcast scan; the
    PQ side is the compressed-code scan above; the audit join is
    probe-keyed over ≤ {TOP_K} rows per probe."""
    e = load_table(spark, sf_dir, "embeddings")
    # exact side scores on the same integer micro-unit quantization as
    # the PQ side — the audit compares rankings, not raw floats
    micro = lambda x: F.round(x.cast("double") * 1000000).cast("long")  # noqa: E731
    probes = e.filter(F.col("vec_id").isin(PROBE_IDS)).select(
        F.col("vec_id").alias("probe_id"),
        F.transform("embedding", micro).alias("p_emb"),
    )
    cands = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.transform("embedding", micro).alias("c_emb"),
    )
    scored = F.broadcast(probes).join(
        cands, F.col("probe_id") != F.col("neighbor_id")
    ).select(
        "probe_id",
        "neighbor_id",
        F.expr(_sq_l2_sx("p_emb", "c_emb")).alias("d2"),
    )
    w = Window.partitionBy("probe_id").orderBy("d2", F.col("neighbor_id"))
    # the exact top-10 feeds TWO branches (overlap join + probe
    # roll-call) but needs NO explicit staging: AQE stage-reuse dedups
    # the identical scoring/window exchanges at runtime — an explicit
    # localCheckpoint here measured SLOWER (1.89 → 2.42 s, r14 A/B)
    exact = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("probe_id", "neighbor_id")
    )
    pq = _pq_topk(spark, sf_dir).select("probe_id", "neighbor_id")
    inter = (
        exact.join(F.broadcast(pq), ["probe_id", "neighbor_id"])
        .groupBy("probe_id")
        .agg(F.count("*").alias("n_overlap"))
    )
    return (
        exact.select("probe_id")
        .distinct()
        .join(F.broadcast(inter), "probe_id", "left")
        .select(
            "probe_id",
            F.round(
                F.coalesce(F.col("n_overlap"), F.lit(0)) / TOP_K, 2
            ).alias("recall_at_10"),
        )
    )


#: incremental split: vec_id % 10 == NEW_MOD is the arriving batch,
#: everything else is the indexed snapshot the codebook was trained on
NEW_MOD = 7

_PQ_INCR_SQL = f"""
    WITH sub AS (
      SELECT vec_id, label, t.m,
             list_transform(embedding[(t.m * {SUB} + 1):((t.m + 1) * {SUB})],
                            x -> CAST(round(x::DOUBLE * 1000000) AS BIGINT))
               AS sv
      FROM embeddings, range({M}) t(m)
    ),
    cb AS (
      SELECT m, code_id, list(c ORDER BY pos) AS cw FROM (
        SELECT m, code_id, pos,
               CAST(round(sum(v)::DOUBLE / count(v)) AS BIGINT) AS c FROM (
          SELECT m, label AS code_id, generate_subscripts(sv, 1) AS pos,
                 unnest(sv) AS v
          FROM sub WHERE vec_id % 10 <> {NEW_MOD}
        ) GROUP BY m, code_id, pos
      ) GROUP BY m, code_id
    ),
    scored AS (
      SELECT s.vec_id, s.m, cb.code_id,
             list_sum(list_transform(range({SUB}),
               i -> (s.sv[i+1]-cb.cw[i+1])*(s.sv[i+1]-cb.cw[i+1])))::BIGINT AS d
      FROM sub s JOIN cb ON s.m = cb.m
      WHERE s.vec_id % 10 = {NEW_MOD}
    ),
    enc AS (
      SELECT vec_id, m, code_id AS code, d FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id, m
                                     ORDER BY d, code_id) AS r
        FROM scored
      ) WHERE r = 1
    )
    SELECT m::INT AS m, code::INT AS code,
           count(*)::BIGINT AS n_new_vectors,
           (sum(d)::BIGINT // count(*))::BIGINT AS mean_err_micro2
    FROM enc GROUP BY m, code
    """


@query("incremental_pq_encode", oracle=_PQ_INCR_SQL)
def incremental_pq_encode(spark, sf_dir):
    """Index maintenance for the PQ path (twin of
    incremental_lsh_dedup): vectors arriving after the index build
    (vec_id % 10 == {NEW_MOD}) are encoded against the FROZEN
    snapshot codebook — no retraining, no touch of the indexed
    corpus beyond the one codebook aggregation. Output: per (subspace,
    codeword) how many new vectors landed there and their mean
    quantization error — the drift signal that tells an operator when
    the codebook needs a retrain (error creeping up = the new data's
    distribution left the codebook behind).

    Scale: the snapshot codebook is a 40-row broadcast (in production
    it's read from the index manifest, zero recompute); the new batch
    is the only thing scanned for encoding, and the aggregate is
    M×K-sized. Nothing touches the indexed vectors."""
    e = load_table(spark, sf_dir, "embeddings")
    sub = _subvectors(e)
    snapshot_cb = stage(
        _codebook(sub.filter(F.col("vec_id") % 10 != NEW_MOD)), eager=True
    )
    new_scored = (
        sub.filter(F.col("vec_id") % 10 == NEW_MOD)
        .join(F.broadcast(snapshot_cb), "m")
        .select(
            "vec_id", "m", "code_id", F.expr(_sq_l2_sx("sv", "cw")).alias("d")
        )
    )
    enc = new_scored.groupBy("vec_id", "m").agg(
        F.min_by(F.struct("code_id", "d"), F.struct("d", "code_id")).alias("best")
    )
    return (
        enc.select(
            "m",
            F.col("best.code_id").alias("code"),
            F.col("best.d").alias("d"),
        )
        .groupBy("m", "code")
        .agg(
            F.count("*").alias("n_new_vectors"),
            # d is already an exact int64 micro²-units distance; the
            # drift signal is its exact integer mean (floor division
            # — identical `div`/`//` semantics on non-negative int64
            # in both engines, zero float ops)
            F.sum("d").alias("d_sum"),
        )
        .select(
            F.col("m").cast("int").alias("m"),
            F.col("code").cast("int").alias("code"),
            "n_new_vectors",
            F.expr("d_sum div n_new_vectors").alias("mean_err_micro2"),
        )
    )
