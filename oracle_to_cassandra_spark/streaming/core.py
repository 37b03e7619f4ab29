"""Structured Streaming core: stream source wiring + synchronous
micro-batch execution for tests/driver checks.

The reference is batch-only ETL (SURVEY.md §2.6: streaming explicitly
absent); this is north-star surface. The ``events`` table is the
stream-shaped input (event_id, ts, user_id, event_type, value, props).

Scale notes: the same logical plans here run against Kafka/files on a
cluster; event-time windows + watermarks bound state, and
``availableNow`` triggers give batch-backfill semantics with streaming
code. The memory sink is only for local verification.
"""

from __future__ import annotations

import os
import uuid
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from oracle_to_cassandra_spark.session import scoped_conf

#: memory-sink temp views created by run_stream_to_memory, oldest
#: first — retired lazily on the next call (see there for the bound)
#: retired-view ledger: (session_token, weakref-to-wrapper, view_name).
#: Scoped per underlying session because temp views ARE per-session —
#: dropping a name against a different live session is a silent no-op
#: and the real view (plus its pinned memory-sink result) would leak
#: for the session lifetime (r11 ADVICE item 2). Ownership compares
#: the JVM ``sessionUUID`` token, not Python wrapper identity: two
#: distinct Python SparkSession wrappers over the same underlying
#: session (e.g. a re-constructed ``SparkSession(sc)``) must see each
#: other's views as their own (r12 ADVICE item 1). Entries whose
#: wrapper is garbage-collected AND whose token differs from the
#: caller's are pruned lazily — we can no longer reach that session
#: to drop anything, and if it died its views died with it.
_SINK_VIEWS: list[tuple[str, "weakref.ref", str]] = []

#: cap for the default state-partition width below
_STATE_CAP = 8


def default_state_partitions(spark: SparkSession) -> int:
    """State-partition width for streams that do not size their own.
    A streaming query PINS its state-partition count at first start —
    it is a property of the checkpoint, not of the session — so the
    right width is set by expected state SIZE, never by the
    batch-shuffle default (guide §2: partitioning derived from the
    data, not a constant tuned for one deployment). Every stateful
    operator here opens one state store per partition and commits one
    delta file per partition per micro-batch; running test-SF state
    (thousands of keys) at the 32-wide batch default quadruples that
    fixed cost for nothing. Below 8 cores the width follows the core
    count, so one task wave covers the stores (at ``local[4]`` a
    width of 8 ran two waves for 150 state rows). Production
    overrides at submit time via ``SPARK_GRAFT_STATE_PARTITIONS``
    sized to peak keyed state."""
    return _core_width(spark, "SPARK_GRAFT_STATE_PARTITIONS", _STATE_CAP)


#: state width for STREAM-STREAM JOINS, which open FOUR state stores
#: per partition (two sides × two stores each: keyToNumValues +
#: keyWithIndexToValue) — so for equal state volume the store-lifecycle
#: fixed cost per micro-batch is 4× an aggregation's at the same
#: width. The join buffers are bounded at O(rate × (delay + range))
#: rows regardless of width (width is layout, not semantics), and the
#: per-batch join work is JVM-side (no Python compute to parallelize),
#: so a narrower width strictly wins until a single partition's buffer
#: skews: measured 8 → 4 at sf0.1 cut both interval joins ~20-25% on
#: BOTH local[32] and local[8] (r14). Production sizes by peak buffer
#: volume via the env override.
JOIN_STATE_PARTITIONS = int(
    os.environ.get("SPARK_GRAFT_JOIN_STATE_PARTITIONS", "4")
)

#: cap for the derived Python-stateful width below — past this the
#: per-partition state-store open/commit fixed cost outgrows the
#: added Python parallelism (measured flat 12→16 at local[32], r14)
_PANDAS_STATE_CAP = 16


def pandas_state_partitions(spark: SparkSession) -> int:
    """State width for PYTHON-stateful operators
    (``applyInPandasWithState`` / ``transformWithStateInPandas``).

    Unlike JVM stateful operators (state-store fixed cost dominated —
    see ``JOIN_STATE_PARTITIONS``), the per-batch keyed work here runs
    in Python workers, so the width is COMPUTE parallelism first: one
    partition per available core, capped where store fixed cost
    overtakes the gain. Measured at sf0.1 (r14): local[32] prefers
    12-16 over 8 (session timers 3.08 → 2.48 s, profile 1.56 → 1.18),
    local[8] prefers 8 over 12-16 — i.e. the right width tracks the
    core count, which ``defaultParallelism`` carries on local mode and
    a cluster alike. Production overrides by keyspace via
    ``SPARK_GRAFT_PANDAS_STATE_PARTITIONS``."""
    return _core_width(
        spark, "SPARK_GRAFT_PANDAS_STATE_PARTITIONS", _PANDAS_STATE_CAP
    )


def _core_width(spark: SparkSession, env_var: str, cap: int) -> int:
    """The width set in ``env_var``, else one partition per core up to
    ``cap``."""
    env = os.environ.get(env_var)
    if env:
        return int(env)
    return min(cap, spark.sparkContext.defaultParallelism)


def _session_token(spark: SparkSession) -> str:
    """Stable identity of the UNDERLYING session — the scope temp
    views actually live in. Falls back to the Python wrapper id when
    the JVM handle is absent (Spark Connect), where one wrapper per
    connection is the invariant anyway."""
    try:
        return str(spark._jsparkSession.sessionUUID())
    except Exception:
        return f"py-id-{id(spark)}"

def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``readStream`` over the events parquet — the file-source analog
    of a Kafka topic; schema must be declared (no streaming inference).

    The declared schema is taken from a batch read of the SAME files so
    the stream reads whatever physical type the testdata generation
    shipped (int64 nanos under ``nanosAsLong``, or native
    timestamp[us]); ``ts`` is then normalized to TimestampType with the
    same dispatch as ``sources.parquet.load_table``. Declaring a stale
    Long schema against timestamp[us] files would silently reinterpret
    the microsecond int64 and land every event in 1970 — deriving the
    schema from the files makes that class of drift impossible.
    """
    # guarded set, same convention as sources.parquet.load_table:
    # no reader mutates session state it doesn't need to change
    if spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    from oracle_to_cassandra_spark.sources.parquet import read_parquet

    raw_schema = read_parquet(spark, f"{sf_dir}/events.parquet").schema
    # the file stream source lists a DIRECTORY (a Kafka-topic analog);
    # pathGlobFilter narrows it to the events table
    raw = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    ts_type = raw_schema["ts"].dataType
    if isinstance(ts_type, T.LongType):
        return raw.withColumn(
            "ts", F.timestamp_micros(F.expr("ts DIV 1000"))
        )
    if not isinstance(ts_type, T.TimestampType):
        raw = raw.withColumn("ts", F.col("ts").cast(T.TimestampType()))
    return raw


def _retire_sink_views(spark: SparkSession, name: str) -> None:
    """Register ``name`` in the sink-view ledger, dropping this
    underlying session's older views (keep the most recent previous
    one). Entries are claimed by session TOKEN, so a view created via
    a different Python wrapper of the same session is still retired
    here; foreign-session entries whose wrapper died are pruned (their
    session is unreachable from this call)."""
    token = _session_token(spark)
    _SINK_VIEWS[:] = [
        e for e in _SINK_VIEWS if e[0] == token or e[1]() is not None
    ]
    mine = [e for e in _SINK_VIEWS if e[0] == token]
    while len(mine) > 1:
        victim = mine.pop(0)
        _SINK_VIEWS.remove(victim)
        spark.catalog.dropTempView(victim[2])
    _SINK_VIEWS.append((token, weakref.ref(spark), name))


def run_stream_to_memory(
    result: DataFrame,
    output_mode: str = "complete",
    state_partitions: int | None = None,
    available_now: bool = True,
    expect_single_batch: bool = False,
    no_data_batches: bool = True,
) -> DataFrame:
    """Execute a streaming plan to completion against the memory sink
    (synchronous: availableNow trigger + processAllAvailable) and
    return the materialized result as a batch DataFrame.

    ``state_partitions`` narrows ``spark.sql.shuffle.partitions`` for
    the duration of the stream start — a streaming query pins its
    state-partition count at first start, and a stream-stream join
    opens FOUR state stores per partition, so the right width is set
    by state SIZE, not by the session's batch-shuffle default (on a
    cluster you'd size it once per checkpoint; here each run is a
    fresh checkpoint).

    ``available_now=False`` falls back to the default micro-batch
    trigger: an availableNow run snapshots ``latestOffset`` ONCE at
    start, which truncates sources that reveal their backlog one
    micro-batch at a time (the custom Python stream reader, a
    rate-limited queue cursor); the default trigger re-polls until
    ``processAllAvailable`` observes no progress, draining them
    fully.

    ``no_data_batches=False`` disables the trailing no-data
    micro-batch for the duration of this query. ONLY legal for a
    stream whose output is a pure function of its data batches — an
    INNER stream-stream join emits exclusively on data arrival; the
    final no-data batch exists to evict join state, which stopping at
    exhaustion makes moot. NEVER set it on a stream whose no-data
    batch EMITS (watermark-gated null padding on outer joins, expiry
    timers, any append-mode aggregate flushed by the final watermark)
    — those would silently lose their last rows. Result equality was
    probed row-for-row against the default before adoption (r14).

    ``expect_single_batch=True`` asserts, from the query's progress
    log, that ALL input rows arrived in ONE micro-batch. The
    watermark-sensitive oracles (initial-zero late-row admission, the
    final-watermark timer boundary) are derived under exactly that
    precondition — a fixture change that splits the events table into
    multiple files/batches would advance the watermark mid-stream and
    silently desync Spark from the oracle as a bare hash mismatch;
    this assertion makes it fail loudly at the true cause instead."""
    spark = result.sparkSession
    name = f"stream_out_{uuid.uuid4().hex[:8]}"
    # the memory sink pins each query's fully materialized result in
    # driver heap for the session lifetime; every caller consumes the
    # returned table synchronously (hash-compare / noop write) before
    # the NEXT streaming query runs — the returned DataFrame is LAZY
    # over the view, so holding two results while starting a third
    # reads the oldest as TABLE_OR_VIEW_NOT_FOUND at collect time (a
    # documented invariant of this harness, not a supported pattern).
    # Retiring all but the most recent previous view bounds the sink
    # footprint at 2 results instead of growing across a 300+-query
    # sweep. Retirement is SESSION-SCOPED: only views created on THIS
    # session are dropped (a name-only drop against a different
    # session is a silent no-op that leaks the real view), and entries
    # whose session has been collected are pruned — their views died
    # with the session.
    _retire_sink_views(spark, name)
    if state_partitions is None:
        state_partitions = default_state_partitions(spark)
    writer = (
        result.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    # the no-data flag is consulted per trigger, so it spans start AND
    # run; the state width is pinned at first start, so it spans start
    # only
    nd_conf = "spark.sql.streaming.noDataMicroBatches.enabled"
    with scoped_conf(spark, {nd_conf: None if no_data_batches else "false"}):
        with scoped_conf(
            spark, {"spark.sql.shuffle.partitions": str(state_partitions)}
        ):
            q = writer.start()
        try:
            q.processAllAvailable()
            if expect_single_batch:
                data_batches = [
                    p for p in q.recentProgress if _input_rows(p) > 0
                ]
                if len(data_batches) > 1:
                    raise AssertionError(
                        f"watermark-sensitive stream expected ONE data "
                        f"micro-batch, got {len(data_batches)} — the source "
                        f"fixture no longer delivers in a single batch, so "
                        f"the initial-zero-watermark oracle premise is void"
                    )
        finally:
            q.stop()
            q.awaitTermination()
    return spark.table(name)


def _input_rows(progress) -> int:
    """numInputRows from a StreamingQueryProgress (attribute on the
    PySpark object; key in its dict/json form). Raises when the field
    can't be read at all: returning 0 would silently disarm the
    ``expect_single_batch`` loud-failure guard (every batch would look
    empty and the assertion could never fire)."""
    try:
        return int(progress["numInputRows"])
    except (TypeError, KeyError):
        pass
    rows = getattr(progress, "numInputRows", None)
    if rows is None:
        raise AttributeError(
            f"cannot read numInputRows from {type(progress).__name__} — "
            f"the single-batch precondition guard would be blind"
        )
    return int(rows)
