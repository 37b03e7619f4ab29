"""Streaming ⇔ batch equality: every memory-sink streaming query must
produce the SAME rows as its batch twin over the finite events input —
a much stronger check than the driver's rows-only fallback (which only
proves the stream runs).

The file stream source + availableNow trigger processes the whole
table, so complete/update-mode results are directly comparable to the
batch aggregation; append-mode dedup is compared on its key set (the
kept representative per key is processing-order dependent by design).
"""

from __future__ import annotations

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

import __spark_entry__ as E
from oracle_to_cassandra_spark.sources import load_table
from tests.conftest import SF_DIR


def _cents():
    """Batch-twin cents expression — exact int64 micro-unit sum, one
    truncating integer division, no final float round. (Function, not
    module constant: F.expr needs an active session.)"""
    return F.expr("sum(CAST(round(value * 1000000) AS BIGINT)) div 10000")



def _rows(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_stream_tumbling_equals_batch(spark):
    qs = E.queries()
    stream = qs["stream_tumbling_event_counts"](spark, SF_DIR)
    batch = qs["tumbling_daily_event_counts"](spark, SF_DIR)
    cols = ["window_start", "event_type", "n_events", "total_value_c"]
    assert _rows(stream, cols) == _rows(batch, cols)


def test_stream_sessionization_equals_batch(spark):
    qs = E.queries()
    stream = qs["stream_sessionization_watermark"](spark, SF_DIR)
    batch = qs["session_windows_per_user"](spark, SF_DIR)
    cols = ["user_id", "session_start", "n_events"]
    assert _rows(stream, cols) == _rows(batch, cols)


def test_stream_enrichment_equals_batch_join(spark):
    qs = E.queries()
    stream = qs["stream_static_enrichment_join"](spark, SF_DIR)
    ev = load_table(spark, SF_DIR, "events")
    customers = load_table(spark, SF_DIR, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    batch = (
        ev.join(customers, "user_id")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_events"),
            _cents().alias("total_value_c"),
        )
    )
    cols = ["c_mktsegment", "n_events", "total_value_c"]
    assert _rows(stream, cols) == _rows(batch, cols)


def test_stream_dedup_keys_equal_batch_distinct(spark):
    """dropDuplicatesWithinWatermark keeps ONE row per key (all input
    arrives in a single availableNow batch, before any watermark
    eviction); which event_id survives is processing-order dependent,
    so equality is on the key set."""
    qs = E.queries()
    stream = qs["stream_dedup_within_watermark"](spark, SF_DIR)
    ev = load_table(spark, SF_DIR, "events")
    batch_keys = ev.select("user_id", "event_type").distinct()
    assert _rows(stream, ["user_id", "event_type"]) == _rows(
        batch_keys, ["user_id", "event_type"]
    )


def test_stream_stateful_profile_equals_batch_agg(spark):
    """update-mode applyInPandasWithState emits the final profile per
    user once all input is processed — it must equal the plain batch
    per-user aggregate."""
    qs = E.queries()
    stream = qs["stream_stateful_user_profile"](spark, SF_DIR)
    # update mode re-emits a row per key per batch; keep each user's
    # final emission ATOMICALLY via max_by on n_events (monotone per
    # key). Independent per-column max() would stitch together a row
    # that matches no actual emission whenever availableNow splits the
    # input into several micro-batches and values can be negative
    # (max(total_value) from a non-final emission).
    final = stream.groupBy("user_id").agg(
        F.max_by(
            F.struct("n_events", "total_value_c", "last_ts"), "n_events"
        ).alias("f")
    ).select(
        "user_id", F.col("f.n_events"), F.col("f.total_value_c"), F.col("f.last_ts")
    )
    ev = load_table(spark, SF_DIR, "events")
    batch = ev.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        _cents().alias("total_value_c"),
        F.max("ts").alias("last_ts"),
    )
    cols = ["user_id", "n_events", "total_value_c", "last_ts"]
    assert _rows(final, cols) == _rows(batch, cols)


def test_stream_foreachbatch_parquet_sink(spark, tmp_path):
    """foreachBatch: the escape hatch for sinks Spark lacks a native
    streaming writer for (the Cassandra-connector path of the
    reference would use exactly this shape). Micro-batches append to
    parquet keyed by batch id; the materialized sink must equal the
    batch aggregation."""
    from oracle_to_cassandra_spark.streaming import read_events_stream

    out_dir = str(tmp_path / "fb_sink")
    ev = read_events_stream(spark, SF_DIR)
    agg = ev.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        _cents().alias("total_value_c"),
    )

    def write_batch(batch_df, batch_id):
        # complete mode: each emission is the full result — overwrite,
        # so a replayed batch id is idempotent (exactly-once effect)
        batch_df.write.mode("overwrite").parquet(out_dir)

    q = (
        agg.writeStream.outputMode("complete")
        .foreachBatch(write_batch)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "fb_ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    q.awaitTermination()

    got = sorted(
        tuple(r)
        for r in spark.read.parquet(out_dir)
        .select("event_type", "n_events", "total_value_c")
        .collect()
    )
    ev_b = load_table(spark, SF_DIR, "events")
    want = sorted(
        tuple(r)
        for r in ev_b.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            _cents().alias("total_value_c"),
        )
        .collect()
    )
    assert got == want


def test_stream_stream_join_equals_batch_join(spark):
    """The watermarked stream-stream interval join must emit exactly
    the batch join's matches: with availableNow consuming the whole
    input, the initial watermark (epoch 0) evicts nothing before the
    matches are produced, so append mode carries every pair."""
    stream = E.queries()["stream_stream_interval_join"](spark, SF_DIR)
    ev = load_table(spark, SF_DIR, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("ts").alias("view_ts"),
        F.col("event_id").alias("view_id"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    batch = (
        views.join(
            purchases,
            F.expr(
                """user_id = p_user_id AND purchase_ts >= view_ts
                   AND purchase_ts <= view_ts + INTERVAL 30 MINUTES"""
            ),
        )
        .select(
            "user_id",
            "view_id",
            F.date_format("view_ts", "yyyy-MM-dd HH:mm:ss").alias("view_time"),
            F.date_format("purchase_ts", "yyyy-MM-dd HH:mm:ss").alias(
                "purchase_time"
            ),
            F.round(F.col("purchase_value") * 100).cast("long").alias(
                "purchase_value_c"
            ),
        )
    )
    cols = [
        "user_id", "view_id", "view_time", "purchase_time", "purchase_value_c"
    ]
    assert _rows(stream, cols) == _rows(batch, cols)
    assert stream.count() > 0


class _FakeValueState:
    def __init__(self):
        self._v = None

    def exists(self):
        return self._v is not None

    def get(self):
        return self._v

    def update(self, v):
        self._v = v


class _FakeMapState:
    def __init__(self):
        self._m = {}

    def containsKey(self, k):
        return k in self._m

    def getValue(self, k):
        return self._m.get(k)

    def updateValue(self, k, v):
        self._m[k] = v

    def keys(self):
        return iter(self._m.keys())


class _FakeHandle:
    def getValueState(self, name, schema, ttlDurationMs=None):
        return _FakeValueState()

    def getMapState(self, name, kschema, vschema, ttlDurationMs=None):
        return _FakeMapState()


def test_tws_processor_cumulative_semantics():
    """The Spark 4 transformWithState processor can't run end-to-end
    here (its state server needs protobuf, absent in this env — the
    query dispatches to the applyInPandasWithState twin), so pin its
    semantics at the unit level: cumulative counts/sums across
    batches, per-type tally in MapState, monotone n_events."""
    import pandas as pd

    from oracle_to_cassandra_spark.streaming.stateful import (
        UserActivityProcessor,
    )

    p = UserActivityProcessor()
    p.init(_FakeHandle())
    # the stream feeds JVM-quantized micro-units (value_u)
    b1 = pd.DataFrame(
        {"event_type": ["a", "b", "a"], "value_u": [1_000_000, 2_000_000, 3_000_000]}
    )
    (out1,) = p.handleInputRows((7,), iter([b1]), None)
    assert out1.iloc[0].to_dict() == {
        "user_id": 7, "n_events": 3, "total_value_c": 600, "n_event_types": 2,
    }
    b2 = pd.DataFrame({"event_type": ["c"], "value_u": [500_000]})
    (out2,) = p.handleInputRows((7,), iter([b2]), None)
    assert out2.iloc[0].to_dict() == {
        "user_id": 7, "n_events": 4, "total_value_c": 650, "n_event_types": 3,
    }


def test_tws_stream_equals_batch_agg(spark):
    """The dispatched stream (either API path) must equal the plain
    batch per-user aggregate after the monotone-final reduction the
    registered query applies."""
    qs = E.queries()
    final = qs["stream_tws_user_activity"](spark, SF_DIR)
    ev = load_table(spark, SF_DIR, "events")
    batch = ev.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        _cents().alias("total_value_c"),
        F.count_distinct("event_type").alias("n_event_types"),
    )
    cols = ["user_id", "n_events", "total_value_c", "n_event_types"]
    assert _rows(final, cols) == _rows(batch, cols)


def test_single_batch_assert_fires_on_multibatch_source(spark):
    """The watermark-sensitive streams' oracles assume ONE data
    micro-batch (initial-zero watermark); run_stream_to_memory's
    expect_single_batch must fail LOUDLY when the source delivers
    more. Forced here with a two-file copy of events read under
    maxFilesPerTrigger=1 — each file becomes its own batch even with
    availableNow."""
    import pytest
    from pyspark.sql import functions as F

    from oracle_to_cassandra_spark import scratch
    from oracle_to_cassandra_spark.streaming.core import run_stream_to_memory

    src = load_table(spark, SF_DIR, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    two_files = scratch.session_path("multibatch", "events_2f")
    src.repartition(2).write.mode("overwrite").parquet(two_files)

    stream = (
        spark.readStream.schema(spark.read.parquet(two_files).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(two_files)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    with pytest.raises(AssertionError, match="ONE data micro-batch"):
        run_stream_to_memory(
            stream, output_mode="append", expect_single_batch=True
        )

    # control: the same two-file source WITHOUT the file cap is one
    # availableNow batch and passes the assertion
    stream_ok = (
        spark.readStream.schema(spark.read.parquet(two_files).schema)
        .parquet(two_files)
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
    )
    out = run_stream_to_memory(
        stream_ok, output_mode="complete", expect_single_batch=True
    )
    assert out.count() > 0


def test_sink_view_retirement_is_session_scoped(spark):
    """r11 ADVICE item 2 + r12 ADVICE item 1: retiring memory-sink
    views must only drop views belonging to the CURRENT underlying
    session — a name-only drop against a foreign session's ledger
    entry is a silent no-op that leaks the real view — and ownership
    is decided by the underlying session TOKEN, not Python wrapper
    identity, so a view registered through a re-constructed
    ``SparkSession(sc)`` wrapper over the same session is still ours.
    The most recent previous view must survive so the
    one-outstanding-result consumption pattern stays valid."""
    from oracle_to_cassandra_spark.streaming import core as C

    saved = list(C._SINK_VIEWS)
    C._SINK_VIEWS.clear()
    try:
        for n in ("sv_test_a", "sv_test_b"):
            spark.range(1).createOrReplaceTempView(n)
            C._retire_sink_views(spark, n)
        # both registered, none dropped yet (keep-most-recent-previous)
        assert spark.catalog.tableExists("sv_test_a")
        assert spark.catalog.tableExists("sv_test_b")

        # a view recorded against ANOTHER session must NOT be dropped
        # by this session's retirement (simulated with a foreign token
        # + dead wrapper ref registered under a throwaway object)
        class _Fake:
            pass

        fake = _Fake()
        import weakref

        C._SINK_VIEWS.insert(
            0, ("foreign-token", weakref.ref(fake), "sv_test_a")
        )
        spark.range(1).createOrReplaceTempView("sv_test_c")
        C._retire_sink_views(spark, "sv_test_c")
        # sv_test_a (oldest OWN view) dropped; foreign entry untouched
        assert not spark.catalog.tableExists("sv_test_a")
        assert spark.catalog.tableExists("sv_test_b")
        assert spark.catalog.tableExists("sv_test_c")
        del fake  # dead foreign-session entries prune on the next call
        spark.range(1).createOrReplaceTempView("sv_test_d")
        C._retire_sink_views(spark, "sv_test_d")
        tok = C._session_token(spark)
        assert all(t == tok for t, _, _ in C._SINK_VIEWS)

        # r12 ADVICE item 1: a DISTINCT Python wrapper over the SAME
        # underlying session shares the token, so its views are ours —
        # retiring through the original wrapper drops the older view
        # the second wrapper registered
        from pyspark.sql import SparkSession as _SS

        twin = _SS(spark.sparkContext, jsparkSession=spark._jsparkSession)
        assert twin is not spark
        assert C._session_token(twin) == tok
        spark.range(1).createOrReplaceTempView("sv_test_e")
        C._retire_sink_views(twin, "sv_test_e")  # drops sv_test_c
        assert not spark.catalog.tableExists("sv_test_c")
        spark.range(1).createOrReplaceTempView("sv_test_f")
        C._retire_sink_views(spark, "sv_test_f")  # drops sv_test_d
        assert not spark.catalog.tableExists("sv_test_d")
        assert spark.catalog.tableExists("sv_test_e")
        assert spark.catalog.tableExists("sv_test_f")
    finally:
        for n in (
            "sv_test_a",
            "sv_test_b",
            "sv_test_c",
            "sv_test_d",
            "sv_test_e",
            "sv_test_f",
        ):
            spark.catalog.dropTempView(n) if spark.catalog.tableExists(n) else None
        C._SINK_VIEWS[:] = saved


def test_left_outer_interval_join_watermark_boundary(spark, tmp_path):
    """Pins the emission-on-expiry boundary of the stream-stream LEFT
    OUTER interval join AND proves the registered DuckDB oracle
    reproduces it row-for-row on a planted boundary dataset:

    * global watermark = min over sides of (max event time FLOORED TO
      MILLISECONDS - delay) — the max-setter view carries +999 µs that
      must NOT advance the watermark;
    * an unmatched view emits null-padded iff
      ``view_ts <= wm - 30min - 1ms`` (µs-exact): the row AT the
      cutoff emits, the row 1 µs past it stays buffered;
    * matched pairs emit regardless of the watermark; unmatched
      purchases never emit; pre-epoch views are dropped as late by
      the initial zero watermark.
    """
    import datetime as dt

    import duckdb
    import pandas as pd

    T0 = dt.datetime(2024, 1, 1)

    def ts(h=0, m=0, s=0, us=0):
        return T0 + dt.timedelta(hours=h, minutes=m, seconds=s, microseconds=us)

    # wm_view = floor_ms(10:00:00.000999) - 1h = 9:00:00.000
    # wm_purch = 12:00 - 2h = 10:00  →  global wm = 9:00:00.000
    # left-state cutoff = wm - 30min - 1ms = 8:29:59.999000
    rows = [
        (1, ts(10, 0, 0, 999), 100, "view", None),  # young: held
        (2, ts(12), 101, "purchase", 5.0),  # unmatched right: never emits
        (3, ts(2), 1, "view", None),  # matched pair with #4
        (4, ts(2, 10), 1, "purchase", 7.5),
        (5, ts(1), 2, "view", None),  # old unmatched: null row
        (30, ts(8, 29, 59, 999000), 10, "view", None),  # == cutoff: null row
        (31, ts(8, 29, 59, 999999), 11, "view", None),  # cutoff+1µs: held
        (32, ts(8, 30), 12, "view", None),  # past cutoff: held
        (33, T0.replace(year=1969, month=12, day=31), 13, "view", None),  # late
    ]
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value"]
    )
    # a single parquet FILE named events.parquet (the testdata layout
    # read_events_stream's pathGlobFilter expects), not a directory
    pdf.to_parquet(str(tmp_path / "events.parquet"), index=False)

    out = E.queries()["stream_stream_left_outer_interval_join"](
        spark, str(tmp_path)
    )
    got = {
        (r.view_id, r.purchase_time is None)
        for r in out.collect()
    }
    assert got == {
        (3, False),  # matched pair
        (5, True),  # old unmatched
        (30, True),  # exactly at the eviction cutoff
    }

    # the registered oracle reproduces the same rows on this dataset
    from tests.compare import compare_query

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{tmp_path}/events.parquet')"
    )
    compare_query(
        E.queries()["stream_stream_left_outer_interval_join"](
            spark, str(tmp_path)
        ),
        con,
        E.oracle_sql()["stream_stream_left_outer_interval_join"],
        name="stream_stream_left_outer_interval_join[boundary]",
    )


def test_no_data_flag_restored_when_start_raises(spark):
    """A stream that fails at start() must leave the trailing no-data
    micro-batch enabled for the rest of the session, as it found it."""
    from oracle_to_cassandra_spark.streaming.core import (
        read_events_stream,
        run_stream_to_memory,
    )

    key = "spark.sql.streaming.noDataMicroBatches.enabled"
    assert spark.conf.get(key) == "true"
    ev = read_events_stream(spark, SF_DIR)
    # complete mode without an aggregation is rejected at start()
    with pytest.raises(AnalysisException):
        run_stream_to_memory(
            ev.select("event_id"), output_mode="complete", no_data_batches=False
        )
    assert spark.conf.get(key) == "true"
