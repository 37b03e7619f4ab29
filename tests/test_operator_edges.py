"""Edge-case unit tests on crafted mini-data — semantics the
sf-differential can't isolate: as-of tie-breaks and no-match NULLs,
shingle short-doc guards, connected-component chain convergence."""

from __future__ import annotations

from pyspark.sql import functions as F

from oracle_to_cassandra_spark.operators.asof import asof_join
from oracle_to_cassandra_spark.operators.graph import connected_components
from oracle_to_cassandra_spark.operators.text import shingles_sx, tokens_sx


def _ts(spark, rows, schema):
    df = spark.createDataFrame(rows, schema)
    for c, t in [("ts", "timestamp"), ("p_ts", "timestamp")]:
        if c in df.columns:
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def test_asof_no_match_yields_nulls(spark):
    left = _ts(spark, [(1, 100, "2024-01-01 00:00:00")], "user_id int, event_id int, ts string")
    right = _ts(
        spark,
        [(1, 7, "2024-01-02 00:00:00", 9.9)],  # AFTER the left row
        "user_id int, p_event_id int, p_ts string, p_value double",
    )
    out = asof_join(left, right, "user_id", "ts", "p_ts", ["p_event_id", "p_value"]).collect()
    assert len(out) == 1
    assert out[0]["asof_p_event_id"] is None


def test_asof_exact_tie_right_visible(spark):
    # right row at exactly the left timestamp IS matched (<= semantics)
    left = _ts(spark, [(1, 100, "2024-01-01 12:00:00")], "user_id int, event_id int, ts string")
    right = _ts(
        spark,
        [(1, 7, "2024-01-01 12:00:00", 1.0), (1, 5, "2024-01-01 11:00:00", 2.0)],
        "user_id int, p_event_id int, p_ts string, p_value double",
    )
    out = asof_join(left, right, "user_id", "ts", "p_ts", ["p_event_id", "p_value"]).collect()
    assert out[0]["asof_p_event_id"] == 7


def test_asof_equal_right_ts_picks_max_payload(spark):
    # two right rows at the same ts: the max (p_event_id-ordered) struct
    # wins. The winner is listed FIRST and the input repartitioned, so a
    # result that merely echoes arrival order (last row seen) returns 3 —
    # only the deterministic _payload sort key yields 9.
    left = _ts(spark, [(1, 100, "2024-01-01 12:00:00")], "user_id int, event_id int, ts string")
    right = _ts(
        spark,
        [(1, 9, "2024-01-01 11:00:00", 2.0), (1, 3, "2024-01-01 11:00:00", 1.0)],
        "user_id int, p_event_id int, p_ts string, p_value double",
    ).repartition(4)
    out = asof_join(left, right, "user_id", "ts", "p_ts", ["p_event_id", "p_value"]).collect()
    assert out[0]["asof_p_event_id"] == 9


def test_asof_null_right_ts_never_matches(spark):
    # a right row with NULL ts can't satisfy right.ts <= left.ts (SQL
    # three-valued logic); without the up-front filter it would sort
    # NULLS-FIRST to the partition head and be carried into EVERY
    # left row by last(ignorenulls)
    left = _ts(spark, [(1, 100, "2024-01-01 12:00:00")], "user_id int, event_id int, ts string")
    right = _ts(
        spark,
        [(1, 7, None, 9.9), (1, 5, "2024-01-01 13:00:00", 2.0)],
        "user_id int, p_event_id int, p_ts string, p_value double",
    )
    out = asof_join(left, right, "user_id", "ts", "p_ts", ["p_event_id", "p_value"]).collect()
    assert out[0]["asof_p_event_id"] is None and out[0]["asof_p_value"] is None


def test_zscore_single_row_group_is_null_not_nan(spark):
    # pandas std(ddof=1) of one row is NaN; the SQL twin's
    # stddev_samp is NULL — the operator must emit NULL so the
    # driver's exact compare can't diverge on singleton groups
    import math

    from oracle_to_cassandra_spark.operators.udfs import zscore_per_group

    df = spark.createDataFrame(
        [("solo", 5.0), ("pair", 1.0), ("pair", 3.0)], "seg string, v double"
    )
    rows = {
        (r["seg"], r["v"]): r["zscore"]
        for r in zscore_per_group(df, "seg", "v").collect()
    }
    assert rows[("solo", 5.0)] is None
    assert not any(
        isinstance(z, float) and math.isnan(z) for z in rows.values()
    )
    assert rows[("pair", 3.0)] == 0.707107


def test_shingles_short_doc_empty(spark):
    df = spark.createDataFrame([("a b",), ("a b c d",)], "text string")
    out = df.select(
        F.size(F.expr(shingles_sx(tokens_sx("text")))).alias("n")
    ).collect()
    assert [r.n for r in out] == [0, 2]


def test_connected_components_chain_and_isolated_pair(spark):
    # chain 1-2-3-4 plus pair 10-11: two clusters, min-label ids
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "doc_a long, doc_b long"
    )
    out = {r.doc_id: r.cluster_id for r in connected_components(edges).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_session_window_strict_gap_boundary(spark):
    # probed semantics pinned as a regression test: event at exactly
    # prev+gap MERGES; strictly beyond starts a new session
    rows = [
        (1, "2024-01-01 00:00:00"),
        (1, "2024-01-01 00:30:00"),   # == gap → same session
        (1, "2024-01-01 01:00:01"),   # > gap → new session
    ]
    df = spark.createDataFrame(rows, "user_id int, t string").select(
        "user_id", F.col("t").cast("timestamp").alias("ts")
    )
    sessions = (
        df.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .count()
        .collect()
    )
    assert sorted(r["count"] for r in sessions) == [1, 2]


def test_zipwith_bigrams_match_naive_python(spark):
    # the zip_with(t, slice(t,2,n)) construction vs a character-level
    # naive oracle — covers the rewrite ADVICE flagged as vacuously
    # verified (round-2 driver compare was 0 rows on both engines)
    corpus = [
        "the quick brown fox jumps over the quick brown dog",
        "one two",
        "solo",
        "",
        "a a a a",
    ]
    expected = {}
    for text in corpus:
        toks = text.lower().split(" ")
        if len(toks) < 2:
            continue
        for a, b in zip(toks, toks[1:]):
            bg = f"{a} {b}"
            expected[bg] = expected.get(bg, 0) + 1

    df = spark.createDataFrame([(t,) for t in corpus], "text string")
    got = {
        r.bigram: r.freq
        for r in df.select(
            F.explode(F.expr(shingles_sx(tokens_sx("text"), k=2))).alias("bigram")
        )
        .groupBy("bigram")
        .agg(F.count("*").alias("freq"))
        .collect()
    }
    assert got == expected


def test_connected_components_long_chain_converges(spark):
    # 100-node chain: diameter 99. The round-2 min-label propagation
    # needed O(diameter) rounds and RAISED here at max_iter=20; the
    # two-phase large-star/small-star variant is O(log n).
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 100)], "doc_a long, doc_b long"
    )
    out = {r.doc_id: r.cluster_id for r in connected_components(edges).collect()}
    assert out == {i: 1 for i in range(1, 101)}


def test_connected_components_random_vs_union_find(spark):
    # randomized graphs (seeded) vs a plain Python union-find oracle
    import random

    rng = random.Random(1234)
    for trial in range(3):
        n = 60
        pairs = [
            (rng.randrange(1, n + 1), rng.randrange(1, n + 1)) for _ in range(45)
        ]
        pairs = [(a, b) for a, b in pairs if a != b]

        parent = {x: x for ab in pairs for x in ab}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in pairs:
            parent[find(a)] = find(b)
        groups = {}
        for x in parent:
            groups.setdefault(find(x), []).append(x)
        expected = {x: min(g) for g in groups.values() for x in g}

        edges = spark.createDataFrame(pairs, "doc_a long, doc_b long")
        got = {r.doc_id: r.cluster_id for r in connected_components(edges).collect()}
        assert got == expected, f"trial {trial} mismatch"


def test_simhash_bucket_pairs_match_naive_all_pairs(spark):
    """The in-bucket pair enumeration (collect_list + lambda-filtered
    explode) must find exactly the pairs a naive all-pairs Hamming
    scan finds — banding guarantees no false negatives at
    max_hamming < bands (pigeonhole), and the distinct() must collapse
    pairs that collide in both bands."""
    from oracle_to_cassandra_spark.operators.dedup import (
        SIMHASH_MAX_HAMMING,
        SIMHASH_WIDE_BITS,
        simhash_fingerprints,
        simhash_near_dup_stats,
    )

    corpus = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon zeta"),   # exact dup of 1
        (3, "alpha beta gamma delta epsilon eta"),    # near dup of 1/2
        (4, "completely different words entirely here now"),
        (5, "unrelated text about some other topic"),
        (6, "alpha beta gamma delta epsilon zeta theta"),  # near of 1/2
    ]
    docs = spark.createDataFrame(corpus, "doc_id long, text string")
    fps = {
        r.doc_id: r.simhash
        for r in simhash_fingerprints(docs, bits=SIMHASH_WIDE_BITS).collect()
    }
    naive_pairs = {
        (a, b)
        for a in fps
        for b in fps
        if a < b and bin(fps[a] ^ fps[b]).count("1") <= SIMHASH_MAX_HAMMING
    }
    got = {
        r.doc_id: (r.n_near, r.is_keeper)
        for r in simhash_near_dup_stats(docs).collect()
    }
    naive_degree = {d: 0 for d in fps}
    for a, b in naive_pairs:
        naive_degree[a] += 1
        naive_degree[b] += 1
    for d in fps:
        min_nbr = min(
            [x for p in naive_pairs for x in p if d in p and x != d],
            default=None,
        )
        keeper = min_nbr is None or min_nbr > d
        assert got[d] == (naive_degree[d], keeper), f"doc {d}: {got[d]}"
    assert naive_pairs, "fixture produced no near pairs — test is vacuous"


def test_simhash_mega_cluster_contracts(spark):
    """A planted 500-copy exact-dup cluster must contract to ONE
    fingerprint-level bucket element (the old doc-level bucket collect
    pair-enumerated it O(m²) in a single task). Degrees come from the
    closed form: each copy has 499 within-group neighbors plus any
    cross-fingerprint near-dups; only the smallest doc_id is keeper."""
    from oracle_to_cassandra_spark.operators.dedup import simhash_near_dup_stats

    text = "alpha beta gamma delta epsilon zeta"
    corpus = [(i, text) for i in range(500)] + [
        (1000, "completely different words entirely here now"),
        (1001, "unrelated text about some other topic"),
    ]
    docs = spark.createDataFrame(corpus, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_near, r.is_keeper)
        for r in simhash_near_dup_stats(docs).collect()
    }
    assert len(got) == 502
    # the two distinct singletons may or may not be near the cluster's
    # fingerprint; read the cluster's cross-degree off doc 0's result
    cluster_cross = got[0][0] - 499
    assert cluster_cross >= 0
    for i in range(500):
        assert got[i] == (499 + cluster_cross, i == 0), f"doc {i}: {got[i]}"


def test_dense_global_ids_bijective_and_contiguous(spark):
    """The block-offset ID assignment must produce exactly 0..N-1,
    each id once — the property the two-pass decomposition exists to
    preserve."""
    import __spark_entry__ as E
    from tests.conftest import SF_DIR

    rows = E.queries()["dense_global_ids"](spark, SF_DIR).collect()
    ids = sorted(r.global_id for r in rows)
    assert ids == list(range(len(rows)))
    assert len({r.doc_id for r in rows}) == len(rows)


def test_png_decoder_detects_corruption(spark):
    """The PNG parse must be real: flipping one IHDR byte after CRC
    computation must flip crc_ok (proving the CRC is re-verified from
    the bytes, not assumed)."""
    from pyspark.sql import functions as F

    from oracle_to_cassandra_spark.operators import multimodal as M

    docs = spark.range(0, 10, 2).withColumnRenamed("id", "doc_id").withColumn(
        "text", F.lit("x")
    )
    planted = M.plant_png_blobs(docs)
    # corrupt the width's low byte (offset 19) without touching the CRC
    corrupted = planted.withColumn(
        "payload",
        F.concat(
            F.expr("substring(payload, 1, 19)"),
            F.unhex(F.lit("FF")),
            F.expr("substring(payload, 21)"),
        ),
    )
    ok = M.decode_png_headers(planted).agg(F.min("crc_ok")).collect()[0][0]
    bad = M.decode_png_headers(corrupted).agg(F.max("crc_ok")).collect()[0][0]
    assert ok is True and bad is False


def test_wav_decoder_rejects_malformed(spark):
    """The RIFF walk must validate structure: a truncated blob (RIFF
    size mismatch) raises rather than emitting garbage rows."""
    import pytest
    from pyspark.sql import functions as F

    from oracle_to_cassandra_spark.operators import multimodal as M

    docs = spark.range(1, 9, 2).withColumnRenamed("id", "doc_id").withColumn(
        "text", F.lit("x")
    )
    truncated = M.plant_wav_blobs(docs).withColumn(
        "payload", F.expr("substring(payload, 1, octet_length(payload) - 4)")
    )
    with pytest.raises(Exception, match="RIFF size mismatch"):
        M.decode_wav_pcm_stats(truncated).count()


def test_bmp_decoder_handles_stride_padding(spark):
    """Pixel sums must come from the pixel bytes with padding
    EXCLUDED: corrupting a row's pad byte leaves sums unchanged,
    corrupting a pixel byte changes them. Uses width=1 (3 data bytes +
    1 pad byte per row) so both byte classes exist."""
    from pyspark.sql import functions as F

    from oracle_to_cassandra_spark.operators import multimodal as M

    # doc_id=4 -> width 1, height 2: rows are [B G R pad] bottom-up
    docs = spark.range(4, 5).withColumnRenamed("id", "doc_id").withColumn(
        "text", F.lit("x")
    )
    planted = M.plant_bmp_blobs(docs)

    def flip_byte(df, pos_1idx):
        return df.withColumn(
            "payload",
            F.concat(
                F.expr(f"substring(payload, 1, {pos_1idx - 1})"),
                F.unhex(F.lit("EE")),
                F.expr(f"substring(payload, {pos_1idx + 1})"),
            ),
        )

    base = M.decode_bmp_pixel_stats(planted).collect()[0]
    # byte 58 = offset 54 + 4th byte of the first stored row = its pad
    pad_flipped = M.decode_bmp_pixel_stats(flip_byte(planted, 58)).collect()[0]
    # byte 55 = first pixel byte (blue channel)
    px_flipped = M.decode_bmp_pixel_stats(flip_byte(planted, 55)).collect()[0]
    assert (pad_flipped.sum_b, pad_flipped.sum_g, pad_flipped.sum_r) == (
        base.sum_b, base.sum_g, base.sum_r
    ), "pad byte leaked into pixel sums — stride handling broken"
    assert px_flipped.sum_b != base.sum_b, "pixel byte change not reflected"


def test_y4m_decoder_validates_container(spark):
    """The FRAME walk must validate structure: truncating the stream
    mid-frame (trailing-bytes check) raises instead of emitting
    partial-frame stats."""
    import pytest
    from pyspark.sql import functions as F

    from oracle_to_cassandra_spark.operators import multimodal as M

    docs = spark.range(0, 4).withColumnRenamed("id", "doc_id").withColumn(
        "text", F.lit("x")
    )
    truncated = M.plant_y4m_blobs(docs).withColumn(
        "payload", F.expr("substring(payload, 1, octet_length(payload) - 2)")
    )
    with pytest.raises(Exception, match="trailing bytes|bad FRAME"):
        M.decode_y4m_frame_stats(truncated).count()


def test_bpe_greedy_rewrite_edges(spark):
    """Pin the greedy left-to-right merge semantics both engines share:
    consecutive identical pairs merge pairwise ("aaaa" -> "aa","aa",
    NOT "aa","a","a"), overlapping sites resolve left-first, and a
    symbol that is a suffix of a longer symbol never false-matches."""
    from pyspark.sql import functions as F

    from oracle_to_cassandra_spark.queries.bpe_train import _MERGE_FOLD

    df = (
        spark.createDataFrame(
            [("·a·a·a·a",), ("·a·a·a",), ("·d·a·t·a",), ("·ba·a·b",)],
            ["sym"],
        )
        .withColumn("p1", F.lit("a"))
        .withColumn("p2", F.lit("a"))
        .withColumn("merged", F.expr(_MERGE_FOLD))
    )
    got = {r["sym"]: r["merged"] for r in df.collect()}
    assert got["·a·a·a·a"] == "·aa·aa"
    assert got["·a·a·a"] == "·aa·a"
    assert got["·d·a·t·a"] == "·d·a·t·a"  # no adjacent (a, a)
    # 'ba' ends with 'a' but is a DIFFERENT symbol: must not merge
    assert got["·ba·a·b"] == "·ba·a·b"


def test_substring_dup_spans_merge_and_extent(spark):
    """Two docs sharing one long verbatim passage: the merged span
    must recover the passage's FULL token extent (anchors at every
    offset chain into one island), not w-token fragments — and a
    second shared passage separated by unique text must come out as
    a SEPARATE span."""
    from oracle_to_cassandra_spark.operators.dedup import substring_dup_spans

    shared_a = " ".join(f"dup{i}" for i in range(12))      # 12 tokens
    shared_b = " ".join(f"boiler{i}" for i in range(9))    # 9 tokens
    docs = spark.createDataFrame(
        [
            # doc 1: [shared_a][10 unique][shared_b]
            (1, shared_a + " " + " ".join(f"u{i}" for i in range(10)) + " " + shared_b),
            # doc 2: [5 unique][shared_a][5 unique][shared_b]
            (2, " ".join(f"v{i}" for i in range(5)) + " " + shared_a
                + " " + " ".join(f"w{i}" for i in range(5)) + " " + shared_b),
            # doc 3: fully unique, long enough to anchor
            (3, " ".join(f"x{i}" for i in range(20))),
        ],
        "doc_id int, text string",
    )
    out = {r["doc_id"]: r for r in substring_dup_spans(docs, w=8).collect()}
    assert sorted(out) == [1, 2]  # doc 3 has no cross-doc span
    for d, n_tok in ((1, 31), (2, 31)):
        r = out[d]
        assert r["n_dup_spans"] == 2
        assert r["dup_tokens"] == 12 + 9
        assert r["n_tokens"] == n_tok
        assert r["dup_coverage_bp"] == (12 + 9) * 10000 // n_tok


def test_substring_dup_spans_within_doc_repeat_not_flagged(spark):
    """A passage repeated only WITHIN one document is not a cross-doc
    duplicate (count(DISTINCT doc_id) >= 2 gate)."""
    from oracle_to_cassandra_spark.operators.dedup import substring_dup_spans

    rep = " ".join(f"r{i}" for i in range(8))
    docs = spark.createDataFrame(
        [(1, rep + " mid " + rep), (2, " ".join(f"z{i}" for i in range(10)))],
        "doc_id int, text string",
    )
    assert substring_dup_spans(docs, w=8).count() == 0


def test_substring_hot_passages_extracts_literal_text(spark):
    """The leaderboard row must carry the exact shared passage (via
    md5 + preview) and count reach correctly: 3 docs share passage A,
    2 docs share passage B -> A ranks first."""
    from oracle_to_cassandra_spark.operators.dedup import substring_hot_passages

    pa = " ".join(f"alpha{i}" for i in range(10))
    pb = " ".join(f"beta{i}" for i in range(8))
    docs = spark.createDataFrame(
        [
            (1, pa + " one " + " ".join(f"f{i}" for i in range(8))),
            (2, " pre " + pa + " two " + pb),
            (3, pa + " " + " ".join(f"g{i}" for i in range(8))),
            (4, pb + " " + " ".join(f"h{i}" for i in range(8))),
        ],
        "doc_id int, text string",
    )
    rows = substring_hot_passages(docs, w=8, k=20).collect()
    assert [r["n_docs"] for r in rows] == [3, 2]
    top = rows[0]
    assert top["passage_tokens"] == 10
    assert top["preview"].startswith("alpha0 alpha1")
    import hashlib

    assert top["passage_md5"] == hashlib.md5(pa.encode()).hexdigest()


def _hand_bmp(width, height, px_bgr):
    """Build a 24bpp BMP from a logical top-down pixel grid
    ``px_bgr[y][x] = (b, g, r)`` — independent of the planting
    expressions, so the decoder is tested against bytes a second
    implementation produced."""
    import struct

    stride = (width * 3 + 3) // 4 * 4
    rows = b""
    for y in range(height - 1, -1, -1):  # stored bottom-up
        row = b"".join(bytes(px_bgr[y][x]) for x in range(width))
        rows += row + b"\x00" * (stride - len(row))
    return (
        b"BM"
        + struct.pack("<III", 54 + stride * height, 0, 54)
        + struct.pack("<Iii", 40, width, height)
        + struct.pack("<HHI", 1, 24, 0)
        + struct.pack("<I", stride * height)
        + struct.pack("<II", 2835, 2835)
        + struct.pack("<II", 0, 0)
        + rows
    )


def test_bmp_header_decode_parses_and_cross_checks(spark):
    """decode_bmp_headers must emit the parsed little-endian fields
    and reject a blob whose declared file size disagrees with its
    actual length."""
    import pytest

    from oracle_to_cassandra_spark.operators import multimodal as M

    px = [[(1, 2, 3), (4, 5, 6)], [(7, 8, 9), (10, 11, 12)]]
    blob = _hand_bmp(2, 2, px)
    df = spark.createDataFrame([(7, bytearray(blob))], "doc_id long, payload binary")
    row = M.decode_bmp_headers(df).collect()[0]
    assert (row.width, row.height, row.bpp) == (2, 2, 24)
    assert row.stride == 8 and row.img_bytes == 16
    assert row.n_bytes == len(blob) and row.data_offset == 54

    bad = spark.createDataFrame(
        [(7, bytearray(blob + b"\x00"))], "doc_id long, payload binary"
    )
    with pytest.raises(Exception, match="file size mismatch"):
        M.decode_bmp_headers(bad).count()


def test_bmp_resize_box_filter_and_orientation(spark):
    """The 2x2 box filter must floor-average LOGICAL top-down blocks:
    on a 2x4 image whose top half is all-16 and bottom half all-80,
    the resized top-left pixel is 16 only if the decoder flipped
    BMP's bottom-up storage."""
    from oracle_to_cassandra_spark.operators import multimodal as M

    top, bot = (16, 17, 18), (80, 90, 100)
    px = [[top, top], [top, top], [bot, bot], [bot, bot]]
    blob = _hand_bmp(2, 4, px)
    df = spark.createDataFrame([(3, bytearray(blob))], "doc_id long, payload binary")
    row = M.decode_bmp_resize_box(df).collect()[0]
    assert (row.resized_w, row.resized_h) == (1, 2)
    assert row.rs_b00 == 16  # un-flipped decode would read 80
    # resized pixels: (16,17,18) and (80,90,100) -> channel sums
    assert (row.rs_sum_b, row.rs_sum_g, row.rs_sum_r) == (96, 107, 118)
