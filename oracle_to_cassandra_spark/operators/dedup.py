"""Deduplication operators (north-star surface): exact, MinHash+LSH,
SimHash, n-gram Jaccard verification.

Pipeline shape (the standard LLM-corpus dedup stack):

  documents → shingle (3-word n-grams) → one md5 per shingle →
  k universal-hash permutations → per-doc MinHash signature →
  LSH banding (b bands × r rows) → band-bucket self-join →
  candidate pairs → exact Jaccard verify → near-dup clusters

Scale notes:
  * ONE md5 per distinct (doc, shingle); the k permutations are
    integer multiply-add — at 100 TB this is the dominant cost lever
    vs k independent md5 passes.
  * The LSH self-join shuffles on (band_id, band_value): collisions —
    not all pairs — drive the join size. b/r are chosen so random
    pairs (J≈0.03 in the test corpus) almost never collide while
    planted near-dups (J≥0.9) almost always do: with r=4, b=2,
    P(candidate) = 1−(1−J⁴)² → 0.97 at J=0.9, ~2·10⁻⁶ at J=0.03.
  * Exact Jaccard verification touches only LSH candidates; the
    shingle-intersection join shuffles on the shingle hash.
  * SimHash: one md5 per token, 16 sign-sums per doc → a single
    64→16-bit fingerprint; bucket-equal fingerprints are near-dups
    (Hamming-0 LSH). Cheaper but coarser than MinHash.

All arithmetic is integer-exact and mirrored in DuckDB SQL (see
functions/hashing.py) so every stage is driver-hash-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from oracle_to_cassandra_spark.functions.hashing import (
    N_PERM,
    base31_sql,
    base31_sx,
    md5_int64_sql,
    md5_int64_sx,
    perm_hash_sql,
    perm_hash_sx,
)
from oracle_to_cassandra_spark.operators.text import shingles_sql, shingles_sx, tokens_sx
from oracle_to_cassandra_spark.staging import stage

SIMHASH_BITS = 16
_TOK_SQL = "string_split(lower(text), ' ')"


def exact_dedup_keepers(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup: one keeper (min id) per distinct text + copy count.
    Scale: a hash groupBy on the text — for long documents group on
    ``md5(text)`` instead so the shuffle carries 32 bytes per row."""
    return df.groupBy(F.md5(F.col(text_col)).alias("text_md5")).agg(
        F.min(id_col).alias("keeper_id"),
        F.count("*").alias("n_copies"),
    )


def doc_shingle_hashes(
    documents: DataFrame, k: int = 3, toked: DataFrame | None = None
) -> DataFrame:
    """(doc_id, h31) exploded — shingles hashed to int64 INSIDE the
    per-row array (one md5 per shingle, before the explode), distinct
    per doc. Every downstream stage (signature mins, Jaccard
    intersection joins) operates on 8-byte hashes, never on shingle
    strings — at 100 TB the explode/shuffle carries longs, not
    n-gram text. Set semantics are preserved modulo md5 collisions
    (~2⁻⁶⁰ per pair), identically on both engines.

    Pass ``toked`` — a (doc_id, __tok) frame, staged by the caller —
    to share ONE tokenization across several shingle widths (the
    width-sensitivity audit runs k=3 and k=5 over the same corpus;
    the translate+lower+split chain is ~25% of pipeline wall time
    and must not run per width)."""
    # tokenize ONCE per row behind a named projection: shingles_sx()
    # references its token input k times (zip_with slices are
    # CodegenFallback, no CSE), so inlining tokens_sx() here re-runs the
    # whole translate+lower+split chain per slice — ~25% of this
    # pipeline's wall time at k=5. CollapseProject keeps a non-cheap
    # multi-referenced alias materialized, so the select is a real
    # evaluation barrier.
    if toked is None:
        toked = documents.selectExpr(
            "doc_id", f"{tokens_sx('text')} AS __tok"
        )
    # built as ONE parseable string: one SQL parse instead of ~3k
    # py4j round trips per construction for the per-shingle hash
    # lambda composed Column by Column
    hashed = f"array_distinct(transform({shingles_sx('__tok', k)}, sh -> {base31_sx('sh')}))"
    return (
        toked.where(f"size(__tok) >= {k}")
        .selectExpr("doc_id", f"explode({hashed}) AS h31")
    )


def doc_shingle_hashes_sql(k: int = 3) -> str:
    """DuckDB CTE body matching ``doc_shingle_hashes``.

    Tokenizes into a named column FIRST: inlining the split expression
    into the shingle lambda makes DuckDB re-evaluate the whole
    string_split per list element × k slice references — O(tokens²)
    per document, the same higher-order-function re-evaluation trap
    the Spark side's named-projection barrier avoids. Caught by the
    longdoc stress axis at 12× document length (the MinHash oracle
    family went from seconds to minutes)."""
    return f"""
      SELECT doc_id,
             unnest(list_distinct(list_transform({shingles_sql("tok", k)},
                                                 sh -> {base31_sql('sh')}))) AS h31
      FROM (SELECT doc_id, {_TOK_SQL} AS tok FROM documents)
      WHERE len(tok) >= {k}
    """


def minhash_signatures(
    documents: DataFrame,
    n_perm: int = N_PERM,
    shingle_hashes: DataFrame | None = None,
) -> DataFrame:
    """Per-doc MinHash signature (sig0..sig{n-1}): one base hash per
    shingle, n universal-hash permutations, min per doc (map-side
    partial aggregation collapses each input partition to one row per
    doc before the exchange). Pass ``shingle_hashes`` to share an
    already-staged shingle table with other pipeline stages."""
    sh = shingle_hashes if shingle_hashes is not None else doc_shingle_hashes(documents)
    sig_cols = [
        F.expr(f"min({perm_hash_sx('h31', i)}) AS sig{i}")
        for i in range(n_perm)
    ]
    return sh.groupBy("doc_id").agg(*sig_cols)


def minhash_signatures_sql(n_perm: int = N_PERM, k: int = 3) -> str:
    sig_cols = ",\n           ".join(
        f"min({perm_hash_sql('h31', i)}) AS sig{i}" for i in range(n_perm)
    )
    return f"""
    WITH sh_tbl AS ({doc_shingle_hashes_sql(k)})
    SELECT doc_id,
           {sig_cols}
    FROM sh_tbl GROUP BY doc_id
    """


def lsh_bands(sigs: DataFrame, bands: int = 2, rows: int = 4) -> DataFrame:
    """Signature → (doc_id, band_id, band_val): band value is the
    concatenated row signatures; docs colliding on any band are
    candidates."""
    band_structs = ", ".join(
        f"named_struct('band_id', {b}, 'band_val', concat_ws('_', "
        + ", ".join(f"sig{b * rows + r}" for r in range(rows))
        + "))"
        for b in range(bands)
    )
    return sigs.selectExpr(
        "doc_id", f"explode(array({band_structs})) AS band"
    ).selectExpr("doc_id", "band.band_id AS band_id", "band.band_val AS band_val")


def lsh_candidate_pairs(sigs: DataFrame, bands: int = 2, rows: int = 4) -> DataFrame:
    """Distinct candidate pairs (doc_a < doc_b) sharing any LSH band.
    The self-join shuffles on (band_id, band_val) — bucket collisions,
    not n², drive the cost. The band table is staged (lazy
    checkpoint) because the self-join references it on both sides and
    would otherwise execute the whole signature pipeline twice."""
    b = stage(lsh_bands(sigs, bands, rows))
    left = b.alias("x")
    right = b.alias("y")
    return (
        left.join(
            right,
            (F.col("x.band_id") == F.col("y.band_id"))
            & (F.col("x.band_val") == F.col("y.band_val"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
        .distinct()
    )


def lsh_candidate_pairs_sql(bands: int = 2, rows: int = 4, k: int = 3) -> str:
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_id, "
        + " || '_' || ".join(f"sig{b * rows + r}::VARCHAR" for r in range(rows))
        + " AS band_val FROM sigs"
        for b in range(bands)
    )
    return f"""
    WITH sigs AS ({minhash_signatures_sql(k=k)}),
    bands_tbl AS ({band_rows})
    SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
    FROM bands_tbl x JOIN bands_tbl y
      ON x.band_id = y.band_id AND x.band_val = y.band_val
     AND x.doc_id < y.doc_id
    """


def jaccard_verified_pairs(
    documents: DataFrame,
    threshold: float = 0.6,
    k: int = 3,
    shingle_hashes: DataFrame | None = None,
    candidate_pairs: DataFrame | None = None,
) -> DataFrame:
    """The full MinHash→LSH→exact-Jaccard pipeline: candidates from
    LSH, verified with exact shingle-set Jaccard, filtered at
    ``threshold``.

    The shingle hash table feeds FOUR consumers (signature mins, the
    set-size relation, and both sides of the intersection join); Spark
    has no CSE across plan branches and post-pruning the subtrees
    differ enough that ReusedExchange never fires — without staging,
    the tokenize→shingle→md5 derivation (the dominant CPU at corpus
    scale) executes once per consumer. The lazy checkpoint
    materializes it once inside the consuming job; on a cluster this
    is the 'stage the shingle table' step of every production dedup
    pipeline.

    Callers that ALSO consume the shingle table or the candidate
    pairs pass them in (both already staged) so the expensive
    derivations run once per query, not once per consumer — the
    recall/precision audits would otherwise execute the whole
    MinHash pipeline twice (r13 measurement: ~1.3 s per extra
    execution at sf0.1)."""
    sh = (
        shingle_hashes
        if shingle_hashes is not None
        else stage(doc_shingle_hashes(documents, k))
    )
    cands = (
        candidate_pairs
        if candidate_pairs is not None
        else lsh_candidate_pairs(minhash_signatures(documents, shingle_hashes=sh))
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))

    sa = sh.alias("sa")
    sb = sh.alias("sb")
    inter = (
        cands.join(sa, F.col("sa.doc_id") == F.col("doc_a"))
        .join(
            sb,
            (F.col("sb.doc_id") == F.col("doc_b")) & (F.col("sb.h31") == F.col("sa.h31")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_inter"))
    )
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    thr_k = round(threshold * 1000)
    jac = (
        inter.join(na, "doc_a")
        .join(nb, "doc_b")
        .withColumn("u", F.col("n_a") + F.col("n_b") - F.col("n_inter"))
    )
    # FULLY integer: the threshold test 1000·|A∩B| >= k·|A∪B| and the
    # emitted ppm ratio are exact int64 in both engines — no float
    # division or round anywhere in the dedup pipeline's compare path
    return (
        jac.filter(F.col("n_inter") * 1000 >= thr_k * F.col("u"))
        .select(
            "doc_a", "doc_b", F.expr("n_inter * 1000000 div u").alias("jaccard_ppm")
        )
    )


def jaccard_verified_pairs_sql(threshold: float = 0.6, k: int = 3) -> str:
    thr_k = round(threshold * 1000)
    return f"""
    WITH sh_tbl AS ({doc_shingle_hashes_sql(k)}),
    cands AS ({lsh_candidate_pairs_sql(k=k)}),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh_tbl GROUP BY doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, count(*) AS n_inter
      FROM cands c
      JOIN sh_tbl sa ON sa.doc_id = c.doc_a
      JOIN sh_tbl sb ON sb.doc_id = c.doc_b AND sb.h31 = sa.h31
      GROUP BY c.doc_a, c.doc_b
    )
    SELECT i.doc_a, i.doc_b,
           (i.n_inter * 1000000 // (za.n_sh + zb.n_sh - i.n_inter))::BIGINT
             AS jaccard_ppm
    FROM inter i
    JOIN sizes za ON za.doc_id = i.doc_a
    JOIN sizes zb ON zb.doc_id = i.doc_b
    WHERE i.n_inter * 1000 >= {thr_k} * (za.n_sh + zb.n_sh - i.n_inter)
    """


def simhash_fingerprints(documents: DataFrame, bits: int = SIMHASH_BITS) -> DataFrame:
    """Per-doc SimHash: one md5 per distinct token; bit i of the
    fingerprint is the sign of Σ(±1) over bit i of the token hashes."""
    # whole construction in _sx strings: one SQL parse instead of
    # ~1k py4j round trips for the 48-bit form's per-bit sum/fold loops
    t = documents.selectExpr(
        "doc_id", f"explode(array_distinct({tokens_sx('text')})) AS t"
    ).selectExpr("doc_id", "t", f"{md5_int64_sx('t')} AS h")
    sums = t.groupBy("doc_id").agg(
        *[
            F.expr(
                f"sum(CASE WHEN (shiftright(h, {i}) & 1) = 1 THEN 1 ELSE -1 END) AS s{i}"
            )
            for i in range(bits)
        ]
    )
    fp = " + ".join(
        f"(CASE WHEN s{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(bits)
    )
    return sums.selectExpr("doc_id", f"CAST({fp} AS BIGINT) AS simhash")


def simhash_fingerprints_sql(bits: int = SIMHASH_BITS) -> str:
    h = md5_int64_sql("t")
    sum_cols = ",\n           ".join(
        f"sum(CASE WHEN (({h} >> {i}) & 1) = 1 THEN 1 ELSE -1 END) AS s{i}"
        for i in range(bits)
    )
    fp = " + ".join(f"(CASE WHEN s{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(bits))
    return f"""
    WITH tok_tbl AS (
      SELECT doc_id, unnest(list_distinct({_TOK_SQL})) AS t FROM documents
    ),
    sums AS (SELECT doc_id, {sum_cols} FROM tok_tbl GROUP BY doc_id)
    SELECT doc_id, ({fp})::BIGINT AS simhash FROM sums
    """


# ---------------------------------------------------------------- #
# SimHash Hamming-banded near-dup detection                         #
# ---------------------------------------------------------------- #

#: the wide fingerprint used for BANDED Hamming search (the 16-bit
#: fingerprint above is the compact bucket-equality form). 48 bits in
#: 2 bands of 24: by pigeonhole, two fingerprints within Hamming
#: distance 1 (< number of bands) must agree on at least one whole
#: band, so the band-bucket self-join has NO false negatives at the
#: max_hamming=1 contract — and a 24-bit band keeps random collisions
#: at 2^-24, so the candidate join stays bucket-sized at 100 TB.
SIMHASH_WIDE_BITS = 48
SIMHASH_BANDS = 2
SIMHASH_MAX_HAMMING = 1


def simhash_near_dup_stats(
    documents: DataFrame,
    bits: int = SIMHASH_WIDE_BITS,
    bands: int = SIMHASH_BANDS,
    max_hamming: int = SIMHASH_MAX_HAMMING,
) -> DataFrame:
    """Per-doc near-dup degree + single-pass keeper decision from
    banded SimHash: (doc_id, n_near, is_keeper).

    Stages: wide fingerprint (one agg) → band explode (carrying the
    fingerprint, so no join-back) → shuffle to band buckets →
    IN-BUCKET pair enumeration (collect the bucket, lambda-filter
    j>i) → distinct pairs → exact Hamming verify (``bit_count(xor)``)
    → per-doc degree. Keeper policy is the greedy single-pass rule —
    drop any doc with a near-neighbor of smaller id; transitive chains
    are the clustering pipeline's job (connected_components over
    MinHash pairs), not this operator's.

    Plan discipline (the first cut was 4× slower): a band self-join
    (``a.join(b, bucket_keys)``) re-executes the fingerprint aggregate
    on BOTH branches, and a ``pairs ∪ pairs.swapped`` direction-union
    doubles that again — Spark has no CSE across plan branches. Pair
    enumeration inside the collected bucket needs ONE fingerprint
    pass, and both pair directions come from one explode over the
    2-struct array.

    Scale — fingerprint contraction: pair enumeration runs over
    DISTINCT fingerprints with multiplicities, never over docs. An
    exact-dup mega-cluster (every copy shares every band) contracts to
    ONE bucket element, so the earlier failure mode — a 500k-copy
    cluster collected into a single task and pair-enumerated O(m²) —
    cannot occur; its degree contribution is the closed form m-1.
    The in-bucket collect is then safe by construction at the fp
    level: at the default max_hamming=1 a Hamming ball holds at most
    bits+1 distinct fingerprints (the center plus one per flippable
    position); for larger max_hamming the bound is the sum of
    binomials Σ_{i≤max_hamming} C(bits, i) — still polynomial in
    ``bits``, never corpus-sized. Random band collisions add
    n_distinct·2^-band_width on top. Output stays corpus-sized (one row per
    doc); the only pair-sized relation is between distinct
    fingerprints."""
    assert bands > max_hamming, "pigeonhole guarantee needs bands > max_hamming"
    band_width = bits // bands
    mask = (1 << band_width) - 1
    fp = simhash_fingerprints(documents, bits=bits)

    # Contract identical fingerprints: per doc, its group's size m,
    # smallest member gmin, and second-smallest gmin2 (the min doc's
    # own nearest within-group neighbor). Two chained window selects
    # over the same partitioning key cost ONE exchange; the lazy
    # localCheckpoint lets the group-level and doc-level branches
    # below share one execution of the expensive 48-sum fingerprint
    # aggregate instead of re-deriving it per branch (no CSE across
    # plan branches).
    w = Window.partitionBy("simhash")
    fpx = fp.select(
        "doc_id",
        "simhash",
        F.count("*").over(w).alias("m"),
        F.min("doc_id").over(w).alias("gmin"),
    ).withColumn(
        "gmin2",
        F.min(F.when(F.col("doc_id") != F.col("gmin"), F.col("doc_id"))).over(w),
    )
    fpx = stage(fpx)

    groups = fpx.select("simhash", "m", "gmin").distinct()
    banded = groups.select(
        "simhash",
        "m",
        "gmin",
        F.posexplode(
            F.array(
                *[
                    F.shiftright("simhash", band_width * j).bitwiseAND(mask)
                    for j in range(bands)
                ]
            )
        ).alias("band_id", "band_val"),
    )
    buckets = (
        banded.groupBy("band_id", "band_val")
        .agg(F.collect_list(F.struct("simhash", "m", "gmin")).alias("xs"))
        .filter(F.size("xs") >= 2)
    )
    # fingerprint-level candidate pairs (j>i by fp value, distinct
    # across bands), Hamming-verified
    fp_pairs = (
        buckets.select(F.explode("xs").alias("x"), "xs")
        .select(
            F.col("x").alias("x"),
            F.explode(F.expr("filter(xs, y -> y.simhash > x.simhash)")).alias("y"),
        )
        .select(
            F.col("x.simhash").alias("fp_a"),
            F.col("x.m").alias("m_a"),
            F.col("x.gmin").alias("gmin_a"),
            F.col("y.simhash").alias("fp_b"),
            F.col("y.m").alias("m_b"),
            F.col("y.gmin").alias("gmin_b"),
        )
        .distinct()
        .filter(
            F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b"))) <= max_hamming
        )
    )
    # both directions from ONE explode (not pairs ∪ pairs.swapped):
    # every doc in group(fp) is near every doc of each neighbor group,
    # so the degree contribution is the neighbor's multiplicity and
    # the smallest cross-group neighbor is the neighbor's gmin
    directed = fp_pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("fp_a").alias("fp"),
                    F.col("m_b").alias("nbr_m"),
                    F.col("gmin_b").alias("nbr_min"),
                ),
                F.struct(
                    F.col("fp_b").alias("fp"),
                    F.col("m_a").alias("nbr_m"),
                    F.col("gmin_a").alias("nbr_min"),
                ),
            )
        ).alias("e")
    ).select("e.fp", "e.nbr_m", "e.nbr_min")
    cross = directed.groupBy("fp").agg(
        F.sum("nbr_m").alias("cross_n"), F.min("nbr_min").alias("cross_min")
    )
    # per-doc degree = within-group (m-1) + Σ neighbor-group sizes;
    # smallest near neighbor = least of the within-group candidate
    # (gmin, or gmin2 for the min doc itself) and the cross-group min
    # (least() skips NULLs)
    within_min = F.when(
        F.col("m") > 1,
        F.when(F.col("doc_id") == F.col("gmin"), F.col("gmin2")).otherwise(
            F.col("gmin")
        ),
    )
    per_doc = fpx.join(cross, fpx["simhash"] == cross["fp"], "left").select(
        "doc_id",
        ((F.col("m") - 1) + F.coalesce("cross_n", F.lit(0)))
        .cast("long")
        .alias("n_near"),
        F.least(within_min, F.col("cross_min")).alias("_min_nbr"),
    )
    # the full doc list comes from the RAW table: docs with no tokens
    # never enter the fingerprint aggregate but must still report
    # (n_near=0, keeper)
    return (
        documents.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_near", F.lit(0)).cast("long").alias("n_near"),
            (F.col("_min_nbr").isNull() | (F.col("_min_nbr") > F.col("doc_id"))).alias(
                "is_keeper"
            ),
        )
    )


def simhash_near_dup_stats_sql(
    bits: int = SIMHASH_WIDE_BITS,
    bands: int = SIMHASH_BANDS,
    max_hamming: int = SIMHASH_MAX_HAMMING,
) -> str:
    band_width = bits // bands
    mask = (1 << band_width) - 1
    return f"""
    WITH fp AS ({simhash_fingerprints_sql(bits=bits)}),
    banded AS (
      SELECT doc_id, simhash, j AS band_id,
             (simhash >> ({band_width} * j)) & {mask} AS band_val
      FROM fp, (SELECT unnest(range(0, {bands})) AS j)
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                      a.simhash AS fp_a, b.simhash AS fp_b
      FROM banded a
      JOIN banded b ON a.band_id = b.band_id AND a.band_val = b.band_val
                   AND a.doc_id < b.doc_id
    ),
    near AS (
      SELECT doc_a, doc_b FROM pairs
      WHERE bit_count(xor(fp_a, fp_b)) <= {max_hamming}
    ),
    directed AS (
      SELECT doc_a AS doc_id, doc_b AS nbr FROM near
      UNION ALL
      SELECT doc_b AS doc_id, doc_a AS nbr FROM near
    ),
    degrees AS (
      SELECT doc_id, count(*)::BIGINT AS n_near, min(nbr) AS min_nbr
      FROM directed GROUP BY doc_id
    )
    SELECT d.doc_id,
           coalesce(degrees.n_near, 0)::BIGINT AS n_near,
           (degrees.min_nbr IS NULL OR degrees.min_nbr > d.doc_id) AS is_keeper
    FROM (SELECT doc_id FROM documents) d
    LEFT JOIN degrees ON d.doc_id = degrees.doc_id
    """


def substring_dup_spans(documents: DataFrame, w: int = 8) -> DataFrame:
    """Cross-document EXACT substring duplication (the suffix-array
    dedup of Lee et al. 2022, "Deduplicating Training Data Makes
    Language Models Better"), re-expressed for a shared-nothing
    engine: instead of one global suffix array, every w-token window
    ("anchor") is hashed in place, anchors whose hash occurs in ≥2
    distinct documents are flagged, and per document the flagged
    anchor positions are merged into maximal duplicated spans
    (gaps-and-islands: anchors at positions p₁ < p₂ cover one
    contiguous token range iff p₂ ≤ p₁ + w). A duplicated passage of
    T ≥ w tokens yields anchors at every offset, so its merged span
    recovers the FULL passage extent — the w-token granularity only
    blinds the detector to duplicates shorter than w, exactly the
    suffix-array method's own min-match-length parameter.

    Returns one row per document that contains any cross-doc
    duplicated span: (doc_id, n_dup_spans, dup_tokens, n_tokens,
    dup_coverage_bp).  dup_coverage_bp (basis points of the doc's
    tokens inside duplicated spans) is the removal/weighting signal.

    Scale: the anchor table carries (doc_id, int64 hash, position) —
    8-byte shuffle keys, never suffix text; the duplicated-hash set
    comes from a hash groupBy (map-side partial on doc-sorted input)
    and the flag-back is a shuffle-hash join on int64. Nothing is
    quadratic in corpus size: cost is O(total tokens) rows through
    two exchanges plus one per-doc sort — at 100 TB the same plan
    partitions by hash and streams. The anchor table feeds BOTH the
    duplicated-hash aggregate and the flag-back join, so it is staged
    once (lazy checkpoint)."""
    merged = dup_span_table(documents, w)
    return (
        merged.groupBy("doc_id", "n_tokens")
        .agg(
            F.count("*").alias("n_dup_spans"),
            F.sum("span_tokens").cast("long").alias("dup_tokens"),
        )
        .select(
            "doc_id",
            "n_dup_spans",
            "dup_tokens",
            "n_tokens",
            F.expr("dup_tokens * 10000 div n_tokens")
            .cast("long")
            .alias("dup_coverage_bp"),
        )
    )


def _doc_tokens(documents: DataFrame, w: int) -> DataFrame:
    """(doc_id, __tok) for docs long enough to carry a w-token anchor
    — the shared tokenization of the substring-dedup family."""
    return documents.selectExpr(
        "doc_id", f"{tokens_sx('text')} AS __tok"
    ).where(f"size(__tok) >= {w}")


def dup_span_table(
    documents: DataFrame, w: int = 8, toked: DataFrame | None = None
) -> DataFrame:
    """The substring-dedup core: maximal cross-document duplicated
    spans, one row per (doc, span) — (doc_id, n_tokens, span_id,
    start_pos, span_tokens), positions 1-based. Both public queries
    (per-doc coverage, corpus hot passages) consume this table.

    Pass ``toked`` (a ``_doc_tokens`` table, staged by the caller) to
    share one tokenization with downstream stages that also need the
    token arrays — the translate+lower+split chain is ~25% of
    pipeline wall time and must not run twice."""
    if toked is None:
        toked = _doc_tokens(documents, w)
    anchors = stage(
        toked.selectExpr(
            "doc_id",
            "CAST(size(__tok) AS BIGINT) AS n_tokens",
            f"posexplode(transform({shingles_sx('__tok', w)}, "
            f"sh -> {base31_sx('sh')})) AS (pos0, h)",
        ).selectExpr("doc_id", "n_tokens", "(pos0 + 1) AS pos", "h")
    )
    dup_h = (
        anchors.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h")
    )
    dup_anchor = anchors.join(dup_h, "h").select("doc_id", "n_tokens", "pos")
    byp = Window.partitionBy("doc_id").orderBy("pos")
    flagged = dup_anchor.withColumn(
        "new_span",
        F.when(
            F.lag("pos").over(byp).isNull()
            | (F.col("pos") > F.lag("pos").over(byp) + w),
            1,
        ).otherwise(0),
    )
    spans = flagged.withColumn(
        "span_id",
        F.sum("new_span").over(byp.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return spans.groupBy("doc_id", "n_tokens", "span_id").agg(
        F.min("pos").alias("start_pos"),
        (F.max("pos") - F.min("pos") + w).alias("span_tokens"),
    )


def substring_hot_passages(
    documents: DataFrame, w: int = 8, k: int = 20
) -> DataFrame:
    """The corpus-level answer to "what IS the duplicated text":
    extract every maximal duplicated span's literal passage and rank
    passages by how many documents carry them — the boilerplate /
    license / quoted-chunk leaderboard that drives a removal rule.

    Scale: the span table is TINY relative to the corpus (one row per
    duplicated span, a handful of ints); passage text materializes
    only AFTER the join back to the token arrays, i.e. once per
    duplicated span — never per anchor. The group-by shuffles the
    passages themselves, which is exactly the output's size, and the
    top-k is a TakeOrdered, not a global sort."""
    toked = stage(_doc_tokens(documents, w))
    spans = dup_span_table(documents, w, toked=toked)
    passages = spans.join(toked, "doc_id").select(
        "doc_id",
        F.array_join(
            F.slice(F.col("__tok"), F.col("start_pos"), F.col("span_tokens")),
            " ",
        ).alias("passage"),
        "span_tokens",
    )
    agg = passages.groupBy("passage").agg(
        F.max("span_tokens").cast("long").alias("passage_tokens"),
        F.countDistinct("doc_id").alias("n_docs"),
        F.count("*").alias("n_occurrences"),
    )
    return (
        agg.withColumn("passage_md5", F.md5("passage"))
        .orderBy(
            F.desc("n_docs"), F.desc("n_occurrences"), F.asc("passage_md5")
        )
        .limit(k)
        .select(
            "passage_md5",
            "passage_tokens",
            "n_docs",
            "n_occurrences",
            F.substring("passage", 1, 64).alias("preview"),
        )
    )


def _dup_span_cte(w: int) -> str:
    """Shared DuckDB CTE chain ending in ``merged`` — the span table
    both substring-dedup oracles build on (twin of
    ``dup_span_table``)."""
    return f"""toked AS (
      -- split evaluated ONCE in the inner projection: filtering on
      -- the alias (not a repeated {{_TOK_SQL}}) halves tokenize cost
      -- on the longdoc axis, same guard as doc_shingle_hashes_sql
      SELECT doc_id, tok
      FROM (SELECT doc_id, {_TOK_SQL} AS tok FROM documents)
      WHERE len(tok) >= {w}
    ),
    shlist AS (
      SELECT doc_id, len(tok)::BIGINT AS n_tokens,
             {shingles_sql("tok", w)} AS shl
      FROM toked
    ),
    anchors AS (
      SELECT doc_id, n_tokens,
             unnest(shl) AS sh,
             generate_subscripts(shl, 1)::BIGINT AS pos
      FROM shlist
    ),
    hashed AS (
      SELECT doc_id, n_tokens, pos, {base31_sql("sh")} AS h FROM anchors
    ),
    dup_h AS (
      SELECT h FROM hashed GROUP BY h HAVING count(DISTINCT doc_id) >= 2
    ),
    dup_anchor AS (
      SELECT a.doc_id, a.n_tokens, a.pos FROM hashed a JOIN dup_h USING (h)
    ),
    flagged AS (
      SELECT doc_id, n_tokens, pos,
             CASE WHEN lag(pos) OVER byp IS NULL
                    OR pos > lag(pos) OVER byp + {w}
                  THEN 1 ELSE 0 END AS new_span
      FROM dup_anchor
      WINDOW byp AS (PARTITION BY doc_id ORDER BY pos)
    ),
    spans AS (
      SELECT doc_id, n_tokens, pos,
             sum(new_span) OVER (PARTITION BY doc_id ORDER BY pos
                                 ROWS UNBOUNDED PRECEDING) AS span_id
      FROM flagged
    ),
    merged AS (
      SELECT doc_id, n_tokens, span_id,
             min(pos) AS start_pos,
             max(pos) - min(pos) + {w} AS span_tokens
      FROM spans GROUP BY doc_id, n_tokens, span_id
    )"""


def substring_dup_spans_sql(w: int = 8) -> str:
    """DuckDB twin of ``substring_dup_spans`` (positions 1-based on
    both engines; Spark's 0-based posexplode is shifted at the
    source)."""
    return f"""
    WITH {_dup_span_cte(w)}
    SELECT doc_id,
           count(*)::BIGINT AS n_dup_spans,
           sum(span_tokens)::BIGINT AS dup_tokens,
           n_tokens,
           (sum(span_tokens) * 10000 // n_tokens)::BIGINT AS dup_coverage_bp
    FROM merged GROUP BY doc_id, n_tokens
    """


def substring_hot_passages_sql(w: int = 8, k: int = 20) -> str:
    """DuckDB twin of ``substring_hot_passages`` (list slicing is
    1-based inclusive; md5 is the deterministic tiebreak)."""
    return f"""
    WITH {_dup_span_cte(w)},
    passages AS (
      SELECT m.doc_id,
             array_to_string(
               t.tok[m.start_pos : m.start_pos + m.span_tokens - 1], ' '
             ) AS passage,
             m.span_tokens
      FROM merged m JOIN toked t USING (doc_id)
    )
    SELECT md5(passage) AS passage_md5,
           max(span_tokens)::BIGINT AS passage_tokens,
           count(DISTINCT doc_id)::BIGINT AS n_docs,
           count(*)::BIGINT AS n_occurrences,
           substr(passage, 1, 64) AS preview
    FROM passages GROUP BY passage
    ORDER BY n_docs DESC, n_occurrences DESC, passage_md5 ASC
    LIMIT {k}
    """
