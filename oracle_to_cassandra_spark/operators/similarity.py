"""Similarity search over embeddings (north-star surface).

Two paths, one semantics (top-k cosine neighbors per probe):

  * ``brute_force_topk`` — exact: probes × corpus cosine scoring,
    per-probe top-k via WindowGroupLimit. The baseline and the
    verifier for approximate variants. Scale: cost = |probes| · |corpus|
    — keep the probe set bounded; the corpus side stays distributed
    (probes are broadcast).
  * ``ivf_topk`` — IVF-style: k-means-ish coarse quantization with the
    per-dimension label centroids as the codebook; a probe is assigned
    to its nearest centroid and scores ONLY that cell's vectors. At
    100 TB the cells are parquet partitions → partition pruning turns
    a corpus scan into a cell scan. Recall < 1.0 by construction; the
    brute-force twin measures it.

Scoring uses zip_with/aggregate in double precision (JVM codegen, no
UDF) — see functions/vector.py; a Pandas-UDF BLAS path exists there
for very wide vectors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from oracle_to_cassandra_spark.functions.vector import cosine_sx, dot_sx

#: hard cap on the probe set. Both paths BROADCAST the probes (that is
#: what keeps the corpus side distributed and shuffle-free), so the
#: probe set must fit in every executor's memory — and for brute force
#: the scoring cost is |probes| · |corpus|. The 100 TB contract is
#: "bounded probes against an unbounded corpus"; this enforces it in
#: code rather than in a docstring. Raise deliberately, per call site,
#: if a larger bound is truly intended.
MAX_PROBES = 4096


def _check_probe_count(probe_ids: list[int]) -> None:
    if len(probe_ids) > MAX_PROBES:
        raise ValueError(
            f"{len(probe_ids)} probe ids exceed MAX_PROBES={MAX_PROBES}; "
            "the probe set is broadcast and pair-scored — for bulk "
            "all-vs-all similarity use the LSH/IVF bucketed paths, or "
            "chunk the probes"
        )


def _scored_pairs(probes: DataFrame, cands: DataFrame) -> DataFrame:
    """Broadcast probes against candidate vectors; cosine per pair."""
    return (
        F.broadcast(probes)
        .join(cands, F.col("probe_id") != F.col("neighbor_id"))
        .withColumn("cos_sim", F.expr(f"round({cosine_sx('p_emb', 'c_emb')}, 6)"))
    )


def brute_force_topk(
    embeddings: DataFrame, probe_ids: list[int], k: int = 10
) -> DataFrame:
    """Exact top-k cosine neighbors for each probe id."""
    _check_probe_count(probe_ids)
    probes = embeddings.filter(F.col("vec_id").isin(probe_ids)).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("p_emb")
    )
    cands = embeddings.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_emb")
    )
    scored = _scored_pairs(probes, cands)
    w = Window.partitionBy("probe_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= k)
        .select("probe_id", "neighbor_id", "cos_sim", "rn")
    )


def label_centroids(embeddings: DataFrame) -> DataFrame:
    """Per-label mean vector via posexplode → per-dimension avg →
    re-assembled array (sorted by position). The IVF codebook."""
    exploded = embeddings.select(
        "label", F.posexplode("embedding").alias("pos", "v")
    )
    # centroid mean from exact integer micro-unit sums (exactnum
    # contract): the codebook is bit-identical in both engines no
    # matter the partition merge order of the per-dimension aggregate
    dims = exploded.groupBy("label", "pos").agg(
        (
            (
                F.sum(
                    F.round(F.col("v").cast("double") * 1000000).cast("long")
                )
                / 1000000.0
            )
            / F.count("v")
        ).alias("c")
    )
    return dims.groupBy("label").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("pos"), F.col("c")))
        ).alias("pc")
    ).select(
        "label", F.transform(F.col("pc"), lambda s: s.getField("c")).alias("centroid")
    )


def ivf_topk(embeddings: DataFrame, probe_ids: list[int], k: int = 10) -> DataFrame:
    """IVF-style ANN: assign each probe to its nearest label centroid,
    then brute-force only within that cell."""
    _check_probe_count(probe_ids)
    cents = label_centroids(embeddings)
    probes = embeddings.filter(F.col("vec_id").isin(probe_ids)).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("p_emb")
    )
    assigned = (
        probes.crossJoin(F.broadcast(cents))
        .withColumn("c_sim", F.expr(cosine_sx("p_emb", "centroid")))
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("c_sim"), F.asc("label"))
    best_cell = (
        assigned.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("probe_id", "p_emb", F.col("label").alias("cell"))
    )
    cands = embeddings.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("c_label"),
        F.col("embedding").alias("c_emb"),
    )
    scored = (
        F.broadcast(best_cell)
        .join(
            cands,
            (F.col("cell") == F.col("c_label"))
            & (F.col("probe_id") != F.col("neighbor_id")),
        )
        .withColumn("cos_sim", F.expr(f"round({cosine_sx('p_emb', 'c_emb')}, 6)"))
    )
    wk = Window.partitionBy("probe_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(wk).cast("long"))
        .filter(F.col("rn") <= k)
        .select("probe_id", F.col("cell"), "neighbor_id", "cos_sim", "rn")
    )


# ---------------------------------------------------------------- #
# Random-hyperplane LSH ANN                                         #
# ---------------------------------------------------------------- #

#: hyperplane count for the signature. 4 planes → 16 buckets sized for
#: the test corpus (≥23 vectors/bucket at sf0.01, so top-10 retrieval
#: is never starved); at 100 TB raise to 16-24 planes and add
#: multi-probe (flip each signature bit in turn) — the operator shape
#: is unchanged, buckets become parquet partitions.
N_HYPERPLANES = 4
EMBEDDING_DIM = 64


def hyperplane_signs(n_planes: int = N_HYPERPLANES, dim: int = EMBEDDING_DIM):
    """±1 hyperplane components, derived deterministically from md5 so
    the Spark expressions and the DuckDB oracle inline the IDENTICAL
    constants (same pattern as the MinHash permutation constants)."""
    import hashlib

    return [
        [
            1.0
            if int(hashlib.md5(f"hp:{j}:{i}".encode()).hexdigest()[:8], 16) & 1
            else -1.0
            for i in range(dim)
        ]
        for j in range(n_planes)
    ]


def hyperplane_bucket_sx(emb: str, signs) -> str:
    """LSH signature: bit j = sign of ⟨emb, hyperplane_j⟩. The dot is
    a sequential double fold (zip_with + aggregate, JVM codegen) —
    identical element order to the oracle's list_dot_product, and the
    corpus's worst |dot| margin (2·10⁻⁵) is 10 orders above any
    cross-engine float-accumulation drift, so the sign never flips
    between engines. Built as ONE Spark-SQL string: one SQL parse
    instead of composing n_planes × dim literals one py4j round trip
    at a time (~2.5k trips of pure driver latency per construction);
    ``D``-suffixed literals parse as DOUBLE, exactly
    ``F.lit(float)``. Entries render via ``repr`` (shortest exact
    round-trip form, parsed exactly by the JVM) — a fixed one-decimal
    format would silently round any future sign matrix whose entries
    aren't exact at one decimal."""
    terms = ["0"]
    for j, row in enumerate(signs):
        arr = "array(" + ", ".join(f"{v!r}D" for v in row) + ")"
        terms.append(
            f"(CASE WHEN {dot_sx(emb, arr)} > 0 THEN {1 << j} ELSE 0 END)"
        )
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


def hyperplane_ann_topk(
    embeddings: DataFrame,
    probe_ids: list[int],
    k: int = 10,
    n_planes: int = N_HYPERPLANES,
) -> DataFrame:
    """LSH-bucketed ANN: score each probe ONLY against vectors sharing
    its hyperplane-signature bucket — the equi-join form of ANN. At
    100 TB the bucket column is the table's hash-partition key, so the
    join is co-located and the scan per probe is one bucket, not the
    corpus. Recall < 1 by construction (cosine-similar vectors agree
    on each plane with P = 1 − θ/π); the brute-force twin measures it."""
    _check_probe_count(probe_ids)
    signs = hyperplane_signs(n_planes)
    sigd = embeddings.select(
        "vec_id",
        "embedding",
        F.expr(hyperplane_bucket_sx("embedding", signs)).alias("bucket"),
    )
    probes = sigd.filter(F.col("vec_id").isin(probe_ids)).select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").alias("p_emb"),
        "bucket",
    )
    cands = sigd.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        "bucket",
    )
    scored = (
        F.broadcast(probes)
        .join(cands, ["bucket"])
        .filter(F.col("probe_id") != F.col("neighbor_id"))
        .withColumn("cos_sim", F.expr(f"round({cosine_sx('p_emb', 'c_emb')}, 6)"))
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= k)
        .select("probe_id", "bucket", "neighbor_id", "cos_sim", "rn")
    )


def rademacher_matrix(k_out: int, dim: int = EMBEDDING_DIM, prefix: str = "jl"):
    """±1 Johnson–Lindenstrauss projection matrix (k_out × dim),
    md5-derived like ``hyperplane_signs`` so Spark expressions and the
    DuckDB oracle inline IDENTICAL constants (Achlioptas 2003: ±1
    entries satisfy the JL lemma with the same guarantees as
    Gaussians, and the projection stays integer-multiply-free)."""
    import hashlib

    return [
        [
            1.0
            if int(hashlib.md5(f"{prefix}:{j}:{i}".encode()).hexdigest()[:8], 16) & 1
            else -1.0
            for i in range(dim)
        ]
        for j in range(k_out)
    ]
