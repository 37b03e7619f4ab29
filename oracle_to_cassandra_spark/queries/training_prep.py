"""Training-data preparation: token-budget sequence packing,
hash-based train/val/test splits, and the multimodal resize stub —
the last mile between a curated corpus and a training run.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from oracle_to_cassandra_spark.functions.hashing import base31_sql, base31_sx
from oracle_to_cassandra_spark.queries.text_analysis import (
    QUALITY_SQL as _QUALITY_SQL,
)
from oracle_to_cassandra_spark.operators import text as TX
from oracle_to_cassandra_spark.registry import query
from oracle_to_cassandra_spark.sources import load_table
from oracle_to_cassandra_spark.staging import stage

_TOKENS = "len(string_split(lower(text), ' '))"
PACK_BUDGET = 512

#: the ONE packing-cumsum formulation (per-language windowed running
#: sum → start_tok → chunk_id) — both packing oracles select from this
#: fragment, and both Spark plans come from ``_packed_cumsum``, so the
#: packing rule (budget, ordering tiebreak, token definition) lives in
#: exactly one place per engine.
_PACK_CUMSUM_SQL = f"""
      SELECT doc_id, lang, n_tokens,
             (cum_tokens - n_tokens)::BIGINT AS start_tok,
             floor((cum_tokens - n_tokens) / {PACK_BUDGET})::BIGINT AS chunk_id
      FROM (
        SELECT doc_id, lang, {_TOKENS}::BIGINT AS n_tokens,
               sum({_TOKENS}) OVER (PARTITION BY lang ORDER BY doc_id
                                    ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_tokens
        FROM documents
      )
"""


def _packed_cumsum(spark, sf_dir):
    """(doc_id, lang, n_tokens, start_tok, chunk_id) — the Spark twin
    of ``_PACK_CUMSUM_SQL``; the per-language window keeps the cumsum
    parallel across partitions (a global cumsum would serialize onto
    one task at 100 TB)."""
    d = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(F.expr(TX.tokens_sx("text"))).cast("long")
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        d.select("doc_id", "lang", n_tokens.alias("n_tokens"))
        .withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .withColumn(
            "start_tok",
            (F.col("cum_tokens") - F.col("n_tokens")).cast("long"),
        )
        .withColumn(
            "chunk_id",
            F.floor(F.col("start_tok") / PACK_BUDGET).cast("long"),
        )
        .drop("cum_tokens")
    )


@query(
    "pack_documents_token_budget",
    oracle=f"""
    SELECT doc_id, lang, n_tokens, chunk_id
    FROM ({_PACK_CUMSUM_SQL})
    """,
)
def pack_documents_token_budget(spark, sf_dir):
    """Sequence packing: assign documents to ~512-token training chunks
    by cumulative token count (contiguous packing; a doc straddling a
    boundary starts in the chunk where its first token lands).

    Scale: the running sum is windowed PER LANGUAGE so packing
    parallelizes across partitions — a single global cumsum would
    serialize onto one task at 100 TB."""
    return _packed_cumsum(spark, sf_dir).select(
        "doc_id", "lang", "n_tokens", "chunk_id"
    )


@query(
    "train_val_test_split",
    oracle=f"""
    SELECT split, count(*)::BIGINT AS n_docs,
           sum({_TOKENS})::BIGINT AS n_tokens
    FROM (
      SELECT text,
             CASE WHEN {base31_sql("doc_id::VARCHAR")} % 10 < 8 THEN 'train'
                  WHEN {base31_sql("doc_id::VARCHAR")} % 10 = 8 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    )
    GROUP BY split
    """,
)
def train_val_test_split(spark, sf_dir):
    """Hash-based 80/10/10 split on the document key — stable across
    reruns, engines, and partitionings (the property random splits
    lack), summarized per split. New documents never reshuffle old
    assignments."""
    d = load_table(spark, sf_dir, "documents")
    h = F.expr(base31_sx("CAST(doc_id AS STRING)")) % 10
    split = (
        F.when(h < 8, "train").when(h == 8, "val").otherwise("test").alias("split")
    )
    return (
        d.select(split, F.size(F.expr(TX.tokens_sx("text"))).cast("long").alias("nt"))
        .groupBy("split")
        .agg(F.count("*").alias("n_docs"), F.sum("nt").alias("n_tokens"))
    )


def _bmp_resize_oracle() -> str:
    from oracle_to_cassandra_spark.operators.multimodal import (
        BMP_B,
        BMP_G,
        BMP_R,
        BMP_RS_H,
        BMP_RS_W,
    )

    # 2x2 box filter in closed form: resized pixel i (row-major over
    # the rw x rh grid) floor-averages source pixels at base, base+1,
    # base+w, base+w+1 where base = 2*(i // rw)*w + 2*(i % rw)
    def box(ch: str, base: str) -> str:
        taps = " + ".join(
            f"({ch.format(i=f'({base} + {off})')})"
            for off in ("0", "1", "w", "w + 1")
        )
        return f"(({taps}) // 4)"

    base = "(2 * (i // rw) * w + 2 * (i % rw))"
    return f"""
    WITH dims AS (
      SELECT doc_id, ({BMP_RS_W})::INT AS w, ({BMP_RS_H})::INT AS h,
             (({BMP_RS_W}) // 2)::INT AS rw, (({BMP_RS_H}) // 2)::INT AS rh
      FROM documents
    )
    SELECT doc_id, w AS width, h AS height,
           rw AS resized_w, rh AS resized_h,
           list_sum(list_transform(range(0, rw * rh),
                                   i -> {box(BMP_B, base)}))::BIGINT AS rs_sum_b,
           list_sum(list_transform(range(0, rw * rh),
                                   i -> {box(BMP_G, base)}))::BIGINT AS rs_sum_g,
           list_sum(list_transform(range(0, rw * rh),
                                   i -> {box(BMP_R, base)}))::BIGINT AS rs_sum_r,
           {box(BMP_B, "0")}::INT AS rs_b00
    FROM dims
    """


@query("multimodal_bmp_resize_boxfilter", oracle=_bmp_resize_oracle())
def multimodal_bmp_resize_boxfilter(spark, sf_dir):
    """Resize stage of the multimodal training pipeline, on REAL
    pixels (retires the clamp-formula resize stub): plant even-
    dimension 24bpp BMPs, decode the actual pixel bytes (stride
    strip + bottom-up flip), and 2× downsample with an integer 2×2
    box filter — the decode→resize step every vision-model ingest
    runs before batching. The oracle restates the filter closed-form
    over the planting formulas: per-channel sums of the RESIZED image
    verify stride/interleave and the floor-average arithmetic, and
    the orientation-sensitive top-left probe ``rs_b00`` catches a
    decoder that forgets BMP's bottom-up row order.

    Scale: Arrow-batched, embarrassingly parallel, nothing but
    16-byte stat rows ever shuffles — the pixels stay inside the
    executor that decoded them."""
    from oracle_to_cassandra_spark.operators.multimodal import (
        BMP_RS_H,
        BMP_RS_W,
        decode_bmp_resize_box,
        plant_bmp_blobs,
    )

    d = load_table(spark, sf_dir, "documents")
    return decode_bmp_resize_box(
        plant_bmp_blobs(d, w_expr=BMP_RS_W, h_expr=BMP_RS_H)
    )


N_ID_BLOCKS = 32


@query(
    "dense_global_ids",
    oracle=f"""
    SELECT doc_id,
           (row_number() OVER (
              ORDER BY {base31_sql("doc_id::VARCHAR")} % {N_ID_BLOCKS}, doc_id
            ) - 1)::BIGINT AS global_id
    FROM documents
    """,
)
def dense_global_ids(spark, sf_dir):
    """Dense, contiguous global IDs (0..N−1) WITHOUT a global sort:
    the classic two-pass block-offset pattern. Rows hash into
    {N_ID_BLOCKS} blocks; pass 1 counts each block (tiny aggregate);
    a running sum over the {N_ID_BLOCKS}-row count table yields each
    block's starting offset (broadcast); pass 2 ranks rows WITHIN
    their block and adds the offset.

    Scale: a naive ``row_number() OVER (ORDER BY …)`` funnels 100 B
    rows through one task. Here the only row-scale wide op is the
    per-block window — {N_ID_BLOCKS} independent partitions (set
    blocks ≈ executor count in production; hash blocks are uniform by
    construction so no skew) — and the offset table is O(blocks).
    The oracle is the single-sort formulation: global order by
    (block, doc_id) ≡ block offset + in-block rank, which is exactly
    the equivalence the pattern relies on."""
    d = load_table(spark, sf_dir, "documents")
    block = (F.expr(base31_sx("CAST(doc_id AS STRING)")) % N_ID_BLOCKS).alias("block")
    rows = d.select("doc_id", block)
    counts = rows.groupBy("block").agg(F.count("*").alias("n"))
    w_off = (
        Window.orderBy("block").rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        "block", F.coalesce(F.sum("n").over(w_off), F.lit(0)).alias("offset")
    )
    w_local = Window.partitionBy("block").orderBy("doc_id")
    ranked = rows.withColumn("lrank", F.row_number().over(w_local))
    return ranked.join(F.broadcast(offsets), "block").select(
        "doc_id",
        (F.col("offset") + F.col("lrank") - 1).cast("long").alias("global_id"),
    )


def _leakage_oracle() -> str:
    from oracle_to_cassandra_spark.operators.dedup import (
        jaccard_verified_pairs_sql,
    )

    split_case = (
        f"CASE WHEN {base31_sql('doc_id::VARCHAR')} % 10 < 8 THEN 'train' "
        f"WHEN {base31_sql('doc_id::VARCHAR')} % 10 = 8 THEN 'val' "
        "ELSE 'test' END"
    )
    return f"""
    WITH pairs AS ({jaccard_verified_pairs_sql(threshold=0.6)}),
    sp AS (SELECT doc_id, {split_case} AS split FROM documents)
    SELECT least(sa.split, sb.split)    AS split_lo,
           greatest(sa.split, sb.split) AS split_hi,
           count(*)::BIGINT             AS n_pairs,
           (sum(p.jaccard_ppm)::BIGINT // count(p.jaccard_ppm))
             AS avg_jaccard_ppm,
           (least(sa.split, sb.split) <> greatest(sa.split, sb.split))
             AS is_leakage
    FROM pairs p
    JOIN sp sa ON sa.doc_id = p.doc_a
    JOIN sp sb ON sb.doc_id = p.doc_b
    GROUP BY 1, 2
    """


@query("split_leakage_audit", oracle=_leakage_oracle())
def split_leakage_audit(spark, sf_dir):
    """Train/val/test leakage audit: LSH-verified near-dup pairs
    grouped by the (unordered) pair of split assignments. Rows with
    ``is_leakage`` true are near-duplicates STRADDLING a split
    boundary — eval examples the model effectively saw in training,
    the contamination hash-splitting alone cannot prevent (near-dups
    hash independently). Within-split rows are the residual dedup
    backlog. This is the audit run between dedup and training; a
    non-zero train/val or train/test row blocks the split.

    Scale: the pair set is LSH-bounded (never all-pairs); the split
    assignment is a PURE FUNCTION of doc_id (hash-split), so it is
    evaluated as an expression directly on the pair rows — no
    corpus-sized split relation, no attachment joins, no shuffle
    beyond the pipeline's own (r13; the earlier form joined the
    corpus-sized split table once per pair side). The final
    aggregate has at most 6 groups. No collect, no global sort."""
    from oracle_to_cassandra_spark.operators.dedup import jaccard_verified_pairs

    docs = load_table(spark, sf_dir, "documents")
    pairs = jaccard_verified_pairs(docs, 0.6)

    def _split(col):
        h = F.expr(base31_sx(f"CAST({col} AS STRING)")) % 10
        return F.when(h < 8, "train").when(h == 8, "val").otherwise("test")

    attached = pairs.select(
        "doc_a",
        "doc_b",
        "jaccard_ppm",
        _split("doc_a").alias("split_a"),
        _split("doc_b").alias("split_b"),
    )
    lo = F.least("split_a", "split_b")
    hi = F.greatest("split_a", "split_b")
    return (
        attached.groupBy(lo.alias("split_lo"), hi.alias("split_hi"))
        .agg(
            F.count("*").alias("n_pairs"),
            # exact integer mean of the pipeline's int64 ppm column
            F.expr("sum(jaccard_ppm) div count(jaccard_ppm)").alias(
                "avg_jaccard_ppm"
            ),
        )
        .withColumn("is_leakage", F.col("split_lo") != F.col("split_hi"))
    )


@query(
    "packed_sequence_offsets",
    oracle=f"""
    SELECT doc_id, lang, chunk_id,
           (start_tok - chunk_id * {PACK_BUDGET})::BIGINT AS off_begin,
           (start_tok - chunk_id * {PACK_BUDGET} + n_tokens)::BIGINT AS off_end
    FROM ({_PACK_CUMSUM_SQL})
    """,
)
def packed_sequence_offsets(spark, sf_dir):
    """The tensor-building metadata on top of sequence packing: per
    document its chunk and its [off_begin, off_end) token span INSIDE
    the chunk — what the training loader needs to build attention
    masks / position ids that reset at document boundaries. A doc
    whose off_end exceeds the {PACK_BUDGET}-token budget straddles
    into the next chunk (contiguous packing keeps documents whole;
    the loader wraps the tail).

    Scale: identical shape to pack_documents_token_budget — the SAME
    ``_packed_cumsum`` plan (one per-language windowed cumsum,
    parallel across languages, never a global sort), then pure
    arithmetic."""
    staged = _packed_cumsum(spark, sf_dir)
    return staged.select(
        "doc_id",
        "lang",
        "chunk_id",
        (F.col("start_tok") - F.col("chunk_id") * PACK_BUDGET)
        .cast("long")
        .alias("off_begin"),
        (F.col("start_tok") - F.col("chunk_id") * PACK_BUDGET + F.col("n_tokens"))
        .cast("long")
        .alias("off_end"),
    )


@query(
    "embedding_winsorization_stats",
    oracle="""
    WITH dims AS (
      SELECT generate_subscripts(embedding, 1) - 1 AS pos,
             unnest(embedding)::DOUBLE AS v
      FROM embeddings
    ),
    pct AS (
      SELECT pos,
             round(quantile_cont(v, 0.01), 6) AS p01,
             round(quantile_cont(v, 0.99), 6) AS p99
      FROM dims GROUP BY pos
    )
    SELECT d.pos::INT AS pos, p.p01, p.p99,
           count(*)::BIGINT AS n_values,
           sum(CASE WHEN d.v < p.p01 OR d.v > p.p99 THEN 1 ELSE 0 END)::BIGINT
             AS n_clipped,
           (sum(CASE WHEN d.v < p.p01 OR d.v > p.p99 THEN 1 ELSE 0 END)
            * 1000000 // count(*))::BIGINT AS clip_ppm
    FROM dims d JOIN pct p USING (pos)
    GROUP BY d.pos, p.p01, p.p99
    """,
)
def embedding_winsorization_stats(spark, sf_dir):
    """Per-dimension winsorization plan for the embedding feature
    matrix: exact p01/p99 cutpoints and the fraction of values each
    dimension would clip — the normalization audit a training run
    does before standardizing features (exact percentiles here, vs
    the sketch-based approx_quantiles_acctbal: this is the
    small-group exact path, 64 groups × corpus values).

    Scale: phase 1 shuffles (pos, v) pairs to 64 dimension groups —
    the groups are few but large, and exact percentile sorts within
    each; at 100 TB swap in percentile_approx on the same plan (or
    sample per group) — same shape, bounded memory. Phase 2
    broadcasts the 64-row cutpoint table back against a second scan,
    so the clip count is a map-side compare + one keyed aggregation;
    comparisons use the ROUNDED cutpoints in both engines so the
    boundary can't flip cross-engine.

    Extends the reference's static column math
    (`/root/reference/README.md:592-607`) to distribution-aware
    feature hygiene."""
    e = load_table(spark, sf_dir, "embeddings")
    dims = e.select(F.posexplode("embedding").alias("pos", "v0")).select(
        "pos", F.col("v0").cast("double").alias("v")
    )
    pct = dims.groupBy("pos").agg(
        F.round(F.percentile("v", 0.01), 6).alias("p01"),
        F.round(F.percentile("v", 0.99), 6).alias("p99"),
    )
    clipped = F.when((F.col("v") < F.col("p01")) | (F.col("v") > F.col("p99")), 1).otherwise(0)
    return (
        dims.join(F.broadcast(pct), "pos")
        .groupBy("pos", "p01", "p99")
        .agg(
            F.count("*").alias("n_values"),
            F.sum(clipped).cast("long").alias("n_clipped"),
            (F.sum(clipped) * 1000000).cast("long").alias("_clip_n"),
        )
        .select(
            "pos",
            "p01",
            "p99",
            "n_values",
            "n_clipped",
            F.expr("_clip_n div n_values").alias("clip_ppm"),
        )
    )


CHUNK_SIZE = 32  #: tokens per retrieval chunk
CHUNK_STRIDE = 24  #: stride (8-token overlap between neighbors)


@query(
    "rag_chunking_overlap",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, {_TOKENS}::BIGINT AS n_tokens FROM documents
    ),
    chunks AS (
      SELECT doc_id, n_tokens,
             unnest(range(0, greatest((n_tokens - {CHUNK_SIZE}
                                       + {CHUNK_STRIDE} - 1)
                                      // {CHUNK_STRIDE}, 0) + 1))::BIGINT
               AS chunk_idx
      FROM tok
    )
    SELECT doc_id, chunk_idx,
           (chunk_idx * {CHUNK_STRIDE})::BIGINT AS begin_tok,
           least(chunk_idx * {CHUNK_STRIDE} + {CHUNK_SIZE}, n_tokens)::BIGINT
             AS end_tok,
           (least(chunk_idx * {CHUNK_STRIDE} + {CHUNK_SIZE}, n_tokens)
            - chunk_idx * {CHUNK_STRIDE})::BIGINT AS chunk_len
    FROM chunks
    """,
)
def rag_chunking_overlap(spark, sf_dir):
    """Retrieval-ingestion chunking: split each document into
    {CHUNK_SIZE}-token windows at stride {CHUNK_STRIDE} (8-token
    overlap so no sentence is orphaned at a boundary) and emit the
    chunk table — (doc, chunk, [begin, end) token span) — that a RAG
    index embeds. The chunk COUNT follows ceil((n - size) / stride)
    + 1 with a floor of one chunk for short docs; the final chunk is
    allowed to be short rather than re-reading earlier tokens twice.

    Distinct from pack_documents_token_budget (training packing:
    contiguous, budget-bound, cross-doc) — chunking is per-doc,
    overlapping, index-bound. Scale: pure row-local arithmetic +
    explode inside codegen; output is metadata (5 ints/chunk), the
    text itself stays in place until the embed stage streams it."""
    d = load_table(spark, sf_dir, "documents")
    n_tok = F.size(F.expr(TX.tokens_sx("text"))).cast("long")
    n_chunks = F.greatest(
        F.ceil((n_tok - CHUNK_SIZE) / CHUNK_STRIDE), F.lit(0)
    ).cast("long") + 1
    chunks = d.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        F.explode(F.sequence(F.lit(0).cast("long"), n_chunks - 1)).alias(
            "chunk_idx"
        ),
    )
    begin = F.col("chunk_idx") * CHUNK_STRIDE
    end = F.least(begin + CHUNK_SIZE, F.col("n_tokens"))
    return chunks.select(
        "doc_id",
        "chunk_idx",
        begin.cast("long").alias("begin_tok"),
        end.cast("long").alias("end_tok"),
        (end - begin).cast("long").alias("chunk_len"),
    )


@query(
    "stratified_split_audit",
    oracle=f"""
    WITH tagged AS (
      SELECT doc_id, lang,
             CASE WHEN len({{tok}}) >= 56 THEN 'long' ELSE 'short' END AS tier,
             CASE WHEN ('0x' || substr(md5('split:' || doc_id::VARCHAR), 1, 15))::INT64
                       % 10 < 8 THEN 'train'
                  WHEN ('0x' || substr(md5('split:' || doc_id::VARCHAR), 1, 15))::INT64
                       % 10 < 9 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    )
    SELECT lang, tier, split,
           count(*)::BIGINT AS n_docs,
           (count(*) * 1000000 // sum(count(*))
            OVER (PARTITION BY lang, tier))::BIGINT AS achieved_ppm
    FROM tagged GROUP BY lang, tier, split
    """.replace("{tok}", "string_split(lower(text), ' ')"),
)
def stratified_split_audit(spark, sf_dir):
    """Split-quality audit for the hash-based 80/10/10 assignment:
    within every (language, length-tier) stratum, the achieved split
    ratios — the check that catches a skewed hash or a stratum small
    enough that 80/10/10 doesn't hold, BEFORE a model trains on a
    val set that under-represents a language. The split hash is the
    same md5-int64 family as hash_split_train_val_test, salted with a
    'split:' prefix so assignment is independent of every other hash
    in the pipeline.

    Scale: one scan computes stratum and split per row; the aggregate
    is strata×3-sized with map-side partials, and the ratio window
    re-uses the same grouping keys — no second scan, no join."""
    from oracle_to_cassandra_spark.functions.hashing import md5_int64_sx

    d = load_table(spark, sf_dir, "documents")
    n_tok = F.size(F.expr(TX.tokens_sx("text")))
    bucket = F.expr(md5_int64_sx("concat('split:', CAST(doc_id AS STRING))")) % 10
    tagged = d.select(
        "lang",
        F.when(n_tok >= 56, "long").otherwise("short").alias("tier"),
        F.when(bucket < 8, "train").when(bucket < 9, "val").otherwise("test").alias("split"),
    )
    counts = tagged.groupBy("lang", "tier", "split").agg(
        F.count("*").alias("n_docs")
    )
    w = Window.partitionBy("lang", "tier")
    return (
        counts.withColumn("tot", F.sum("n_docs").over(w))
        .select(
            "lang",
            "tier",
            "split",
            "n_docs",
            F.expr("n_docs * 1000000 div tot").alias("achieved_ppm"),
        )
    )


#: temporal split boundary and embargo gap for leakage-free
#: time-series model evaluation
_SPLIT_TS = "2024-01-20 00:00:00"
_EMBARGO_DAYS = 3


@query(
    "temporal_embargo_split",
    oracle=f"""
    WITH tagged AS (
      SELECT user_id, ts,
             CASE WHEN ts < TIMESTAMP '{_SPLIT_TS}' - INTERVAL {_EMBARGO_DAYS} DAY
                  THEN 'train'
                  WHEN ts >= TIMESTAMP '{_SPLIT_TS}' THEN 'test'
                  ELSE 'embargo' END AS split
      FROM events
    )
    SELECT split,
           count(*)::BIGINT AS n_events,
           count(DISTINCT user_id)::BIGINT AS n_users,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS min_ts,
           strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS max_ts
    FROM tagged GROUP BY split
    """,
)
def temporal_embargo_split(spark, sf_dir):
    """Time-based train/test split WITH an embargo gap: events before
    (boundary − {_EMBARGO_DAYS} days) train, events after the
    boundary test, and the {_EMBARGO_DAYS}-day window between is
    QUARANTINED — the split discipline that stops look-ahead leakage
    through lagged/windowed features whose support straddles the
    boundary (a plain temporal cut leaks exactly that window). The
    report per split: volume, distinct users, and the realized time
    range — the min/max columns are the audit that the embargo
    actually held.

    Scale: pure scan-side CASE tagging + one 3-key aggregate; the
    timestamp predicate pushes to the parquet scan for any
    split-specific downstream read. Complements the hash split
    (IID data) and the stratified audit (per-stratum ratios): this is
    the third split family, for temporally-dependent data."""
    ev = load_table(spark, sf_dir, "events")
    boundary = F.to_timestamp(F.lit(_SPLIT_TS))
    split = (
        F.when(
            F.col("ts") < boundary - F.expr(f"INTERVAL {_EMBARGO_DAYS} DAY"),
            "train",
        )
        .when(F.col("ts") >= boundary, "test")
        .otherwise("embargo")
    )
    fmt = "yyyy-MM-dd HH:mm:ss"
    return (
        ev.select("user_id", "ts", split.alias("split"))
        .groupBy("split")
        .agg(
            F.count("*").alias("n_events"),
            F.count_distinct("user_id").alias("n_users"),
            F.date_format(F.min("ts"), fmt).alias("min_ts"),
            F.date_format(F.max("ts"), fmt).alias("max_ts"),
        )
    )


#: role template shared by the SFT render and its loss-mask twin —
#: 'assistant' turns are the completions a supervised fine-tune
#: computes loss on; everything else is masked context
_SFT_ROLE = (
    "CASE WHEN event_type IN ('purchase', 'signup') THEN 'assistant' "
    "ELSE 'user' END"
)
_SFT_TURN = (
    "'<|' || ({role}) || '|>' || event_type || '\n'"
)


@query(
    "sft_conversation_render",
    oracle=f"""
    WITH turns AS (
      SELECT user_id, ts, event_id,
             {_SFT_TURN.format(role=_SFT_ROLE)} AS txt
      FROM events
    )
    SELECT user_id,
           count(*)::BIGINT AS n_turns,
           sum(octet_length(encode(txt)))::BIGINT AS n_chars,
           md5(string_agg(txt, '' ORDER BY ts, event_id)) AS render_md5
    FROM turns GROUP BY user_id
    """,
)
def sft_conversation_render(spark, sf_dir):
    """Conversation → training-example rendering (the SFT data-prep
    step): each user's event stream becomes an ordered multi-turn
    transcript under a chat template ('<|role|>' headers), reduced to
    its length and an md5 so the oracle certifies BYTE-EXACT rendering
    including turn order — the property chat-template bugs silently
    break (a swapped turn changes the md5, not the count).

    Spark side renders with ``array_sort(collect_list(struct(...)))``
    + ``array_join`` — per-user state is one aggregation buffer, no
    window shuffle beyond the groupBy; DuckDB's ordered
    ``string_agg`` is the literal twin.

    Scale: one keyed aggregation; transcript bytes concatenate inside
    the aggregate (bounded by the longest single conversation, the
    same bound the training example itself must satisfy)."""
    ev = load_table(spark, sf_dir, "events")
    turn = F.expr(_SFT_TURN.format(role=_SFT_ROLE))
    return (
        ev.select("user_id", "ts", "event_id", turn.alias("txt"))
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_turns"),
            F.sum(F.octet_length("txt")).alias("n_chars"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("ts", "event_id", "txt"))
                        ),
                        lambda s: s["txt"],
                    ),
                    "",
                )
            ).alias("render_md5"),
        )
    )


@query(
    "sft_loss_mask_spans",
    oracle=f"""
    WITH turns AS (
      SELECT user_id, ts, event_id,
             {_SFT_ROLE} AS role,
             octet_length(encode({_SFT_TURN.format(role=_SFT_ROLE)}))::BIGINT
               AS turn_len
      FROM events
    ),
    offsets AS (
      SELECT user_id, ts, event_id, role, turn_len,
             coalesce(sum(turn_len) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0)::BIGINT AS span_begin,
             row_number() OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             )::BIGINT AS turn_idx
      FROM turns
    )
    SELECT user_id, turn_idx, span_begin,
           (span_begin + turn_len)::BIGINT AS span_end
    FROM offsets WHERE role = 'assistant'
    """,
)
def sft_loss_mask_spans(spark, sf_dir):
    """The loss-mask companion to the conversation render: byte spans
    [begin, end) of every ASSISTANT turn inside each user's rendered
    transcript — exactly the offsets a supervised fine-tune feeds its
    loss mask (context masked, completions scored). Offsets are a
    running sum over the SAME (ts, event_id) order the render uses,
    so the two queries are consistent by construction: span_end of
    the last turn equals the render's n_chars.

    Scale: one partitioned running-sum window per user (bounded
    partitions — conversation-sized), no global sort; pairs with
    ``packed_sequence_offsets`` which does the same arithmetic at the
    chunk-packing tier."""
    ev = load_table(spark, sf_dir, "events")
    role = F.expr(_SFT_ROLE)
    turn_len = F.octet_length(F.expr(_SFT_TURN.format(role=_SFT_ROLE)))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    offs = ev.select(
        "user_id",
        role.alias("role"),
        turn_len.cast("long").alias("turn_len"),
        F.coalesce(
            F.sum(turn_len.cast("long")).over(
                w.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("span_begin"),
        F.row_number().over(w).cast("long").alias("turn_idx"),
    )
    return offs.filter(F.col("role") == "assistant").select(
        "user_id",
        "turn_idx",
        "span_begin",
        (F.col("span_begin") + F.col("turn_len")).alias("span_end"),
    )


_DPO_SQL = """
    WITH ranked AS (
      SELECT doc_id, lang,
             CAST(round(({q}) * 1000000) AS BIGINT) AS quality_micro,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY CAST(round(({q}) * 1000000) AS BIGINT) DESC, doc_id
             ) AS rk
      FROM documents
    )
    SELECT a.lang,
           a.doc_id AS chosen_id,
           b.doc_id AS rejected_id,
           (a.quality_micro - b.quality_micro)::BIGINT AS quality_gap_micro
    FROM ranked a JOIN ranked b
      ON a.lang = b.lang AND b.rk = a.rk + 1
    WHERE a.quality_micro > b.quality_micro
    """


@query("dpo_preference_pairs", oracle=_DPO_SQL.format(q=_QUALITY_SQL))
def dpo_preference_pairs(spark, sf_dir):
    """Preference-pair construction for DPO/RLHF data prep: within
    each language, documents rank by an integer quality score and
    ADJACENT ranks pair as (chosen, rejected) — adjacent rather than
    best-vs-worst because preference training wants pairs the model
    can actually confuse (hard pairs carry gradient; easy pairs are
    noise). Ties are excluded deterministically (gap must be strictly
    positive): a pair with no real preference teaches nothing and
    flips arbitrarily between engines.

    Scale: one ranking window per language partition and one
    self-join on (lang, rank) — both shuffle on lang; the quality
    score is the corpus-wide deterministic formula
    (`operators/text.quality_score_sx`), micro-unit-integer so rank
    order is engine-exact."""
    from oracle_to_cassandra_spark.operators.text import quality_score_sx

    d = load_table(spark, sf_dir, "documents")
    qm = F.round(F.expr(quality_score_sx("text")) * 1000000).cast("long")
    w = Window.partitionBy("lang").orderBy(
        F.col("quality_micro").desc(), "doc_id"
    )
    ranked = d.select(
        "doc_id", "lang", qm.alias("quality_micro")
    ).withColumn("rk", F.row_number().over(w))
    a = ranked.select(
        F.col("lang"),
        F.col("doc_id").alias("chosen_id"),
        F.col("quality_micro").alias("q_a"),
        F.col("rk"),
    )
    b = ranked.select(
        F.col("lang").alias("lang_b"),
        F.col("doc_id").alias("rejected_id"),
        F.col("quality_micro").alias("q_b"),
        (F.col("rk") - 1).alias("rk_b"),
    )
    return (
        a.join(b, (a.lang == b.lang_b) & (a.rk == b.rk_b))
        .filter(F.col("q_a") > F.col("q_b"))
        .select(
            "lang",
            "chosen_id",
            "rejected_id",
            (F.col("q_a") - F.col("q_b")).alias("quality_gap_micro"),
        )
    )


@query(
    "contrastive_inbatch_collision_audit",
    oracle="""
    WITH batched AS (
      SELECT vec_id % 32 AS batch_id, label FROM embeddings
    ),
    per_label AS (
      SELECT batch_id, label, count(*)::BIGINT AS n
      FROM batched GROUP BY batch_id, label
    )
    SELECT batch_id,
           sum(n)::BIGINT AS batch_size,
           sum(n * (n - 1) / 2)::BIGINT AS n_false_negative_pairs
    FROM per_label GROUP BY batch_id
    """,
)
def contrastive_inbatch_collision_audit(spark, sf_dir):
    """In-batch negative sampling audit for contrastive training:
    with dataloader batches simulated by ``vec_id % 32``, count per
    batch how many same-label pairs exist — each is a FALSE NEGATIVE
    (the loss pushes apart embeddings that should attract), the
    quiet recall-killer of contrastive runs on label-skewed data.
    The fix this audit sizes: label-aware batch assignment or a
    false-negative mask.

    Scale: two keyed aggregations (batch×label, then batch) — both
    map-side combinable; no pair enumeration (C(n,2) is computed
    from group counts, never materialized)."""
    e = load_table(spark, sf_dir, "embeddings")
    per_label = (
        e.select((F.col("vec_id") % 32).alias("batch_id"), "label")
        .groupBy("batch_id", "label")
        .agg(F.count("*").alias("n"))
    )
    return per_label.groupBy("batch_id").agg(
        F.sum("n").alias("batch_size"),
        F.sum(F.col("n") * (F.col("n") - 1) / 2)
        .cast("long")
        .alias("n_false_negative_pairs"),
    )


@query(
    "kv_cache_block_allocation",
    oracle=f"""
    WITH per_doc AS (
      SELECT source, {_TOKENS}::BIGINT AS n_tokens,
             CAST(ceil({_TOKENS} / 16.0) AS BIGINT) AS n_blocks
      FROM documents
    )
    SELECT source,
           count(*)::BIGINT AS n_docs,
           sum(n_tokens)::BIGINT AS total_tokens,
           sum(n_blocks)::BIGINT AS total_blocks,
           (sum(n_blocks) * 16 - sum(n_tokens))::BIGINT AS wasted_slots,
           ((sum(n_blocks) * 16 - sum(n_tokens)) * 1000000
            // (sum(n_blocks) * 16))::BIGINT AS frag_ppm
    FROM per_doc GROUP BY source
    """,
)
def kv_cache_block_allocation(spark, sf_dir):
    """Paged-attention KV-cache sizing (the serving-side twin of
    sequence packing): with 16-token blocks, each sequence occupies
    ceil(len/16) blocks and wastes the remainder of its last block —
    this reports per source the block demand and the internal
    fragmentation ppm, the two numbers a vLLM-style serving fleet is
    capacity-planned from. High-fragmentation sources (many short
    sequences) argue for smaller blocks or request coalescing.

    Scale: pure per-row arithmetic + one keyed aggregate; the same
    query over real request logs sizes a production cache."""
    d = load_table(spark, sf_dir, "documents")
    n_tok = F.size(F.expr(TX.tokens_sx("text"))).cast("long")
    per_doc = d.select(
        "source",
        n_tok.alias("n_tokens"),
        F.ceil(n_tok / 16.0).cast("long").alias("n_blocks"),
    )
    agg = per_doc.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum("n_blocks").alias("total_blocks"),
    )
    wasted = F.col("total_blocks") * 16 - F.col("total_tokens")
    return agg.select(
        "source",
        "n_docs",
        "total_tokens",
        "total_blocks",
        wasted.alias("wasted_slots"),
        F.floor(wasted * 1000000 / (F.col("total_blocks") * 16))
        .cast("long")
        .alias("frag_ppm"),
    )


@query(
    "length_bucketed_batching_waste",
    oracle=f"""
    WITH sized AS (
      SELECT doc_id, {_TOKENS}::BIGINT AS n_tokens,
             CAST(floor(log2(greatest({_TOKENS}, 1))) AS BIGINT) AS bucket
      FROM documents
    ),
    batched AS (
      SELECT bucket, n_tokens,
             (row_number() OVER (PARTITION BY bucket ORDER BY doc_id) - 1)
               // 8 AS batch_idx
      FROM sized
    ),
    per_batch AS (
      SELECT bucket, batch_idx, count(*)::BIGINT AS n_seqs,
             max(n_tokens)::BIGINT AS max_len,
             sum(n_tokens)::BIGINT AS used
      FROM batched GROUP BY bucket, batch_idx
    )
    SELECT bucket,
           count(*)::BIGINT AS n_batches,
           sum(used)::BIGINT AS used_tokens,
           sum(max_len * n_seqs - used)::BIGINT AS padding_tokens,
           (sum(max_len * n_seqs - used) * 1000000
            // greatest(sum(max_len * n_seqs), 1))::BIGINT AS waste_ppm
    FROM per_batch GROUP BY bucket
    """,
)
def length_bucketed_batching_waste(spark, sf_dir):
    """Dataloader padding economics: sequences grouped into power-of-2
    LENGTH BUCKETS, batched 8 at a time within each bucket (arrival
    order), padding waste = Σ(batch_max − len) per batch — the number
    that justifies length bucketing over naive batching (same-bucket
    sequences are within 2× of each other, bounding waste at ~50%
    worst case; naive batching has no bound). Complements
    `kv_cache_block_allocation` (serving-side) and the packing family
    (`packed_sequence_offsets` eliminates padding entirely at the cost
    of attention masking).

    Scale: bucket assignment is per-row arithmetic; the batch index
    window partitions by bucket (bounded partitions after the
    power-of-2 split); two keyed aggregates."""
    d = load_table(spark, sf_dir, "documents")
    n_tok = F.size(F.expr(TX.tokens_sx("text"))).cast("long")
    sized = d.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        F.floor(F.log2(F.greatest(n_tok, F.lit(1)))).cast("long").alias(
            "bucket"
        ),
    )
    w = Window.partitionBy("bucket").orderBy("doc_id")
    batched = sized.withColumn(
        "batch_idx", F.floor((F.row_number().over(w) - 1) / 8).cast("long")
    )
    per_batch = batched.groupBy("bucket", "batch_idx").agg(
        F.count("*").alias("n_seqs"),
        F.max("n_tokens").alias("max_len"),
        F.sum("n_tokens").alias("used"),
    )
    padded = F.col("max_len") * F.col("n_seqs")
    return per_batch.groupBy("bucket").agg(
        F.count("*").alias("n_batches"),
        F.sum("used").alias("used_tokens"),
        F.sum(padded - F.col("used")).alias("padding_tokens"),
        F.floor(
            F.sum(padded - F.col("used"))
            * 1000000
            / F.greatest(F.sum(padded), F.lit(1))
        )
        .cast("long")
        .alias("waste_ppm"),
    )


SAMPLE_TARGET = 200


@query(
    "weighted_systematic_sample",
    oracle=f"""
    WITH wdoc AS (
      SELECT doc_id, source, greatest(n_chars, 1)::BIGINT AS w,
             {base31_sql("doc_id::VARCHAR")} AS key
      FROM documents
    ),
    tot AS (SELECT sum(w)::BIGINT AS w_total FROM wdoc),
    cum AS (
      SELECT doc_id, source, w,
             sum(w) OVER (ORDER BY key % {N_ID_BLOCKS}, key, doc_id
                          ROWS UNBOUNDED PRECEDING)::BIGINT AS cw
      FROM wdoc
    ),
    sel AS (
      SELECT c.source, c.w
      FROM cum c, tot t
      WHERE c.cw // greatest(t.w_total // {SAMPLE_TARGET}, 1)
            > (c.cw - c.w) // greatest(t.w_total // {SAMPLE_TARGET}, 1)
    )
    SELECT source, count(*)::BIGINT AS n_selected,
           sum(w)::BIGINT AS w_selected
    FROM sel GROUP BY source
    """,
)
def weighted_systematic_sample(spark, sf_dir):
    """Weighted sampling WITHOUT replacement via systematic (grid)
    selection over cumulative integer weights — the deterministic,
    single-pass way to draw a weight-proportional corpus subsample
    (importance-weighted training mixtures, eval panels) at any
    scale. Docs are laid on a line in a hash-shuffled deterministic
    order, each occupying `weight` units; a grid of
    total_weight/{SAMPLE_TARGET} spacing picks every doc whose
    interval contains a grid point — inclusion probability
    proportional to weight, zero RNG, reproducible bit-for-bit on
    both engines (pure int64 `div` arithmetic; per-doc weight =
    greatest(n_chars, 1)).

    Scale: the global cumulative sum does NOT use a global window —
    it reuses the two-pass block-offset pattern (`dense_global_ids`):
    {N_ID_BLOCKS} hash blocks, per-block totals (tiny aggregate), a
    {N_ID_BLOCKS}-row offset table broadcast back, within-block
    window cumsum. At 1000 executors each block's cumsum runs
    independently; the grid test is a per-row integer comparison, and
    the output is one row per source."""
    d = load_table(spark, sf_dir, "documents")
    key = F.expr(base31_sx("CAST(doc_id AS STRING)"))
    wdoc = d.select(
        "doc_id",
        "source",
        F.greatest(F.col("n_chars"), F.lit(1)).cast("long").alias("w"),
        key.alias("key"),
        (key % N_ID_BLOCKS).alias("block"),
    )
    # the 32-row block table feeds BOTH the offsets and the grand
    # total — staged so the corpus-wide weight aggregate runs once
    counts = stage(wdoc.groupBy("block").agg(F.sum("w").alias("bw")))
    tot = counts.agg(F.sum("bw").alias("w_total"))
    w_off = Window.orderBy("block").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "block", F.coalesce(F.sum("bw").over(w_off), F.lit(0)).alias("offset")
    )
    w_local = Window.partitionBy("block").orderBy("key", "doc_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = (
        wdoc.withColumn("local_cw", F.sum("w").over(w_local))
        .join(F.broadcast(offsets), "block")
        .select(
            "source", "w", (F.col("offset") + F.col("local_cw")).alias("cw")
        )
    )
    sel = (
        cum.crossJoin(F.broadcast(tot))
        .withColumn(
            "step",
            F.greatest(F.expr(f"w_total div {SAMPLE_TARGET}"), F.lit(1)).cast(
                "long"
            ),
        )
        .filter(F.expr("cw div step > (cw - w) div step"))
    )
    return sel.groupBy("source").agg(
        F.count("*").alias("n_selected"), F.sum("w").alias("w_selected")
    )
