"""Structured Streaming queries — every one fully DuckDB-oracled
(the last rows-only query was upgraded in round 10 by projecting the
stream's output to its deterministic part). The convention for a new
stream: register an exact oracle — either the batch twin's oracle by
reference (``_twin_oracle``), or a closed form over ``_ON_TIME`` /
``events`` depending on whether the stream is watermarked. Rows-only
registration is no longer used in this file.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from oracle_to_cassandra_spark.registry import query
from oracle_to_cassandra_spark.session import scoped_conf
from oracle_to_cassandra_spark.streaming import (
    JOIN_STATE_PARTITIONS,
    pandas_state_partitions,
    read_events_stream,
    run_stream_to_memory,
)

_TS_FMT = "yyyy-MM-dd HH:mm:ss"
_TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S"

#: Spark's watermarked stateful operators drop rows whose event time
#: is below the current watermark; the file source delivers the whole
#: table in ONE availableNow batch whose watermark is the INITIAL
#: zero, so exactly the pre-epoch rows (temporal stress mode plants
#: 1969 timestamps) are late. Oracles of WATERMARKED streams must
#: read from this filtered view; unwatermarked streams must NOT.
_ON_TIME = "(SELECT * FROM events WHERE ts >= TIMESTAMP '1970-01-01 00:00:00')"


def _twin_oracle(name: str) -> str:
    """A stream's oracle IS its batch twin's registered oracle —
    composed by reference so an edit to the twin can never de-sync
    the stream's check (the _gopher_gate_oracle pattern)."""
    from oracle_to_cassandra_spark import registry
    from oracle_to_cassandra_spark.queries import event_time  # noqa: F401

    return registry.ORACLE[name]


@query(
    "stream_tumbling_event_counts",
    oracle=_twin_oracle("tumbling_daily_event_counts"),
)
def stream_tumbling_event_counts(spark, sf_dir):
    """readStream → tumbling 1-day window counts → memory sink
    (complete mode). Identical logical agg to
    ``tumbling_daily_event_counts`` — whose registered oracle this
    stream reuses verbatim (complete mode emits the FINAL state after
    the availableNow run, i.e. the full-data aggregate; no watermark,
    so no late-row admission filter applies)."""
    ev = read_events_stream(spark, sf_dir)
    agg = (
        ev.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            # micro-unit integer sum emitted as integer CENTS (one
            # int64 div): micro-batch slicing cannot move the value vs
            # the batch twin, and no final float round exists to tie
            F.expr(
                "sum(CAST(round(value * 1000000) AS BIGINT)) div 10000"
            ).alias("total_value_c"),
        )
        .select(
            F.date_format(F.col("w.start"), _TS_FMT).alias("window_start"),
            "event_type",
            "n_events",
            "total_value_c",
        )
    )
    return run_stream_to_memory(agg, output_mode="complete")


@query(
    "stream_sessionization_watermark",
    oracle=f"""
    WITH flagged AS (
      -- gaps-and-islands with the (ts, event_id) tiebreak — see
      -- session_windows_per_user. Admission differs from row-level
      -- stateful ops: a watermarked WINDOWED aggregation drops a row
      -- only when its window END (ts + gap) is at or below the
      -- watermark (probed at µs precision: ts + 30min == wm drops,
      -- +1µs admits). Single-batch watermark = the initial zero, so
      -- the admitted set is ts > epoch − 30min — which INCLUDES the
      -- last half-hour of 1969 the temporal stress mode plants.
      SELECT user_id, event_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w > INTERVAL '30 minutes'
                  THEN 1 ELSE 0 END AS new_session
      FROM (SELECT * FROM events
            WHERE ts > TIMESTAMP '1969-12-31 23:30:00') events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), numbered AS (
      SELECT user_id, ts,
             sum(new_session) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    )
    SELECT user_id,
           strftime(min(ts), '{_TS_FMT_DUCK}') AS session_start,
           count(*)::BIGINT AS n_events
    FROM numbered GROUP BY user_id, session_id
    """,
)
def stream_sessionization_watermark(spark, sf_dir):
    """readStream → watermark(10 min) → session_window(30 min) per user
    → memory sink. The streaming twin of ``session_windows_per_user``;
    the watermark bounds session state — sessions idle past the
    watermark are finalized and evicted in append mode. Session-window
    aggregation supports append/complete output (not update); complete
    returns every finalized + in-flight session, i.e. the FULL batch
    session set over the watermark-admitted rows — deterministic, so
    the gaps-and-islands oracle checks it exactly."""
    ev = read_events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("sw"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.date_format(F.col("sw.start"), _TS_FMT).alias("session_start"),
            "n_events",
        )
    )
    return run_stream_to_memory(
        agg, output_mode="complete", expect_single_batch=True
    )


@query(
    "stream_static_enrichment_join",
    oracle="""
    SELECT c.c_mktsegment AS c_mktsegment,
           count(*)::BIGINT AS n_events,
           (sum(CAST(round(e.value * 1000000) AS BIGINT))::BIGINT // 10000)
             AS total_value_c
    FROM events e JOIN customer c ON c.c_custkey = e.user_id
    GROUP BY c.c_mktsegment
    """,
)
def stream_static_enrichment_join(spark, sf_dir):
    """Stream-static join: the event stream enriched against the
    static customer dimension (broadcast per micro-batch) — the
    standard streaming-ETL enrichment shape; aggregated per segment so
    the memory-sink result is small. Complete mode + no watermark →
    the final state is the full-data join-aggregate, checked exactly
    by the batch-join oracle."""
    from oracle_to_cassandra_spark.sources import load_table

    ev = read_events_stream(spark, sf_dir)
    customers = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    enriched = ev.join(F.broadcast(customers), "user_id")
    agg = enriched.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_events"),
        F.expr(
            "sum(CAST(round(value * 1000000) AS BIGINT)) div 10000"
        ).alias("total_value_c"),
    )
    return run_stream_to_memory(agg, output_mode="complete")


@query(
    "stream_dedup_within_watermark",
    oracle=f"SELECT DISTINCT user_id, event_type FROM {_ON_TIME}",
)
def stream_dedup_within_watermark(spark, sf_dir):
    """Streaming deduplication: dropDuplicatesWithinWatermark on
    (user_id, event_type) — state for a key is held only until the
    watermark passes, so the dedup store is bounded (the streaming
    twin of exact dedup: at 100 TB/day the unbounded variant would
    accumulate forever).

    Fully DuckDB-oracled (upgraded from the rows-only contract) by
    projecting to the DETERMINISTIC part of the output: WHICH
    payload row survives per key depends on intra-batch processing
    order, but the emitted KEY SET does not — every
    watermark-admitted key appears exactly once (state is
    hash-partitioned by key, so one partition owns each key), and a
    row-level stateful op drops exactly the rows below the initial
    zero watermark (ts < epoch; probed semantics, see _ON_TIME). The
    single-batch precondition is asserted: across batches a key
    could legally re-emit once its state expires past the
    watermark."""
    ev = read_events_stream(spark, sf_dir)
    deduped = (
        ev.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    return run_stream_to_memory(
        deduped, output_mode="append", expect_single_batch=True
    )


@query(
    "stream_stream_interval_join",
    oracle=f"""
    SELECT v.user_id AS user_id,
           v.event_id AS view_id,
           strftime(v.ts, '{_TS_FMT_DUCK}') AS view_time,
           strftime(p.ts, '{_TS_FMT_DUCK}') AS purchase_time,
           CAST(round(p.value * 100) AS BIGINT) AS purchase_value_c
    FROM {_ON_TIME} v
    JOIN {_ON_TIME} p
      ON p.user_id = v.user_id
     AND p.ts >= v.ts
     AND p.ts <= v.ts + INTERVAL '30 minutes'
    WHERE v.event_type = 'view' AND p.event_type = 'purchase'
    """,
)
def stream_stream_interval_join(spark, sf_dir):
    """Stream-stream inner join with watermarks + event-time range:
    view events matched to the same user's purchases within 30
    minutes — the attribution-join shape (reference analog: the FK
    join `/root/reference/README.md:792-812`, lifted to two unbounded
    inputs).

    Both sides carry watermarks and the join condition bounds
    purchase_ts to [view_ts, view_ts + 30 min], so Spark derives a
    state-eviction bound for BOTH join buffers — without the time
    bound, stream-stream join state grows forever; with it, each
    side's buffer holds at most watermark-delay + range worth of
    rows per key. That bounded buffer is the whole 100 TB/day story:
    state is O(rate × window), not O(history).

    Oracled exactly: an INNER interval join emits every qualifying
    pair regardless of watermark timing (eviction only limits MATCHES
    ACROSS batches, and availableNow delivers both sides in one
    batch), so the result equals the batch self-join over the
    watermark-admitted rows. The purchase value is emitted as integer
    CENTS — a per-row float round(x, 2) compare column is the known
    cross-engine tie hazard."""
    views = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select(
            "user_id",
            F.col("ts").alias("view_ts"),
            F.col("event_id").alias("view_id"),
        )
        .withWatermark("view_ts", "1 hour")
    )
    purchases = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    joined = views.join(
        purchases,
        F.expr(
            """user_id = p_user_id
               AND purchase_ts >= view_ts
               AND purchase_ts <= view_ts + INTERVAL 30 MINUTES"""
        ),
        "inner",
    ).select(
        "user_id",
        "view_id",
        F.date_format("view_ts", _TS_FMT).alias("view_time"),
        F.date_format("purchase_ts", _TS_FMT).alias("purchase_time"),
        F.round(F.col("purchase_value") * 100).cast("long").alias(
            "purchase_value_c"
        ),
    )
    # width: JOIN_STATE_PARTITIONS (4 state stores per partition — see
    # streaming/core.py); no_data_batches=False: an INNER interval
    # join emits only on data batches — the trailing no-data batch
    # exists to evict join state, moot when the query stops at
    # exhaustion. Rows probed identical with/without it (r14); the
    # left-outer twin below KEEPS no-data batches (its null padding is
    # emitted by exactly that watermark-driven eviction pass).
    return run_stream_to_memory(
        joined,
        output_mode="append",
        state_partitions=JOIN_STATE_PARTITIONS,
        expect_single_batch=True,
        no_data_batches=False,
    )


@query(
    "stream_stream_left_outer_interval_join",
    oracle=f"""
    WITH v AS (
      SELECT user_id, ts AS view_ts, event_id AS view_id
      FROM {_ON_TIME} WHERE event_type = 'view'
    ), p AS (
      SELECT user_id AS p_user_id, ts AS purchase_ts,
             value AS purchase_value
      FROM {_ON_TIME} WHERE event_type = 'purchase'
    ), wm AS (
      -- Spark's global watermark: per-side watermark = max observed
      -- event time FLOORED TO MILLISECONDS minus the declared delay
      -- (EventTimeStats collects micros DIV 1000); global = min of
      -- the sides (default multipleWatermarkPolicy). A side that saw
      -- no data never advances its watermark, so the global stays at
      -- the initial zero and NO null-padded row is ever emitted —
      -- hence the explicit CASE (DuckDB least() IGNORES a NULL
      -- argument, which would silently pick the other side).
      SELECT CASE WHEN v_max IS NULL OR p_max IS NULL THEN NULL
             ELSE least(
               (epoch_us(v_max) // 1000) * 1000 - 3600000000,
               (epoch_us(p_max) // 1000) * 1000 - 7200000000)
             END AS wm_us
      FROM (SELECT (SELECT max(view_ts) FROM v) AS v_max,
                   (SELECT max(purchase_ts) FROM p) AS p_max)
    )
    SELECT v.user_id AS user_id,
           v.view_id AS view_id,
           strftime(v.view_ts, '{_TS_FMT_DUCK}') AS view_time,
           strftime(p.purchase_ts, '{_TS_FMT_DUCK}') AS purchase_time,
           CAST(round(p.purchase_value * 100) AS BIGINT)
             AS purchase_value_c
    FROM v JOIN p
      ON p.p_user_id = v.user_id
     AND p.purchase_ts >= v.view_ts
     AND p.purchase_ts <= v.view_ts + INTERVAL '30 minutes'
    UNION ALL
    -- null-padded rows: emitted ONLY once the final watermark proves
    -- no matching purchase can still arrive. Spark's left-state
    -- eviction cutoff is wm - 30min - 1ms (the conservative extra
    -- millisecond of getStateValueWatermark), compared µs-exact:
    -- view_ts <= cutoff. Probed empirically at the boundary
    -- (tests/test_streaming_equality.py::test_left_outer_interval_
    -- join_watermark_boundary): wm-30min-1ms emits, +1µs is held.
    SELECT v.user_id, v.view_id,
           strftime(v.view_ts, '{_TS_FMT_DUCK}') AS view_time,
           NULL AS purchase_time,
           CAST(NULL AS BIGINT) AS purchase_value_c
    FROM v, wm
    WHERE epoch_us(v.view_ts) <= wm.wm_us - 1800001000
      AND NOT EXISTS (
        SELECT 1 FROM p
        WHERE p.p_user_id = v.user_id
          AND p.purchase_ts >= v.view_ts
          AND p.purchase_ts <= v.view_ts + INTERVAL '30 minutes')
    """,
)
def stream_stream_left_outer_interval_join(spark, sf_dir):
    """Stream-stream LEFT OUTER interval join with watermark-gated
    null emission: every view matched to same-user purchases within
    30 minutes, plus a null-padded row per view for which the global
    watermark has PROVEN no match can still arrive — the
    unconverted-traffic shape of attribution pipelines (the inner
    twin `stream_stream_interval_join` keeps only conversions).

    The semantics under test is emission-on-expiry: an unmatched view
    row may NOT be emitted when first seen (a qualifying purchase
    could still arrive within watermark allowance); it is emitted
    null-padded exactly when the left join-state buffer evicts it —
    global watermark (min over both sides of ms-floored max event
    time minus delay) past ``view_ts + 30min + 1ms``. Views younger
    than that cutoff stay buffered at end-of-stream and are absent
    from the result; the oracle reproduces the cutoff to the
    microsecond (boundary behavior pinned by probe, see the oracle
    comment). A side with no data holds the global watermark at its
    initial zero, so no null row is emitted at all — also mirrored.

    Scale: identical state-bound story to the inner twin — each
    side's buffer holds O(rate × (delay + range)) rows, not history;
    the null-emission adds no state, it rides the eviction scan that
    happens anyway. The single-batch precondition is asserted: across
    multiple micro-batches the MATCHED pairs are emitted identically,
    but which unmatched views cross the cutoff depends on the final
    watermark only, which the single-batch run pins to the global
    max."""
    views = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select(
            "user_id",
            F.col("ts").alias("view_ts"),
            F.col("event_id").alias("view_id"),
        )
        .withWatermark("view_ts", "1 hour")
    )
    purchases = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    joined = views.join(
        purchases,
        F.expr(
            """user_id = p_user_id
               AND purchase_ts >= view_ts
               AND purchase_ts <= view_ts + INTERVAL 30 MINUTES"""
        ),
        "leftOuter",
    ).select(
        "user_id",
        "view_id",
        F.date_format("view_ts", _TS_FMT).alias("view_time"),
        F.date_format("purchase_ts", _TS_FMT).alias("purchase_time"),
        F.round(F.col("purchase_value") * 100).cast("long").alias(
            "purchase_value_c"
        ),
    )
    return run_stream_to_memory(
        joined,
        output_mode="append",
        state_partitions=JOIN_STATE_PARTITIONS,
        expect_single_batch=True,
    )


@query(
    "stream_stateful_user_profile",
    oracle="""
    SELECT user_id,
           count(*)::BIGINT AS n_events,
           -- coalesce pins the state semantics: the running total
           -- STARTS at 0, so an all-NULL-value user emits 0 cents
           -- where a bare SQL sum would emit NULL
           (coalesce(sum(CAST(round(value * 1000000) AS BIGINT)), 0)::BIGINT
             // 10000) AS total_value_c,
           max(ts) AS last_ts
    FROM events GROUP BY user_id
    """,
)
def stream_stateful_user_profile(spark, sf_dir):
    """Custom stateful operator (applyInPandasWithState): per-user
    running profile with explicit state schema — the north-star custom
    stateful streaming surface.

    Oracled exactly via the cumulative-emission trick (see
    stream_tws_user_activity): update mode re-emits each key's
    profile per touching batch; keeping the highest-n_events emission
    per key (atomically, max_by on the struct) yields the final
    full-data profile no matter how the source slices batches. No
    watermark → no late-row admission filter."""
    from oracle_to_cassandra_spark.streaming.stateful import user_profile_stream

    ev = read_events_stream(spark, sf_dir)
    # Python-stateful: width = compute parallelism (streaming/core.py)
    out = run_stream_to_memory(
        user_profile_stream(ev),
        output_mode="update",
        state_partitions=pandas_state_partitions(spark),
    )
    return (
        out.groupBy("user_id")
        .agg(
            F.max_by(
                F.struct("n_events", "total_value_c", "last_ts"), "n_events"
            ).alias("f")
        )
        .select(
            "user_id",
            F.col("f.n_events").alias("n_events"),
            F.col("f.total_value_c").alias("total_value_c"),
            F.col("f.last_ts").alias("last_ts"),
        )
    )


@query(
    "stream_ingest_sink_roundtrip",
    oracle="""
    SELECT user_id, count(*)::BIGINT AS n_purchases,
           (sum(CAST(round(value * 1000000) AS BIGINT))::BIGINT // 10000)
             AS total_value_c
    FROM events WHERE event_type = 'purchase' GROUP BY user_id
    """,
)
def stream_ingest_sink_roundtrip(spark, sf_dir):
    """The reference's ETL loop (`/root/reference/README.md:839-889`)
    run as STREAMING ingest: readStream over events → foreachBatch
    writes each micro-batch into the Cassandra-style partitioned sink
    layout → partition-pruned read-back → per-user aggregate.

    foreachBatch is the connector escape hatch: the real
    spark-cassandra-connector write would sit in the same callback.
    Each batch appends under partition directories keyed by
    event_type; the read-back predicate prunes to ONE partition at
    planning time. Exactly-once at scale comes from the checkpoint +
    idempotent per-batch-id writes; here each run uses a fresh
    scratch namespace so reruns never double-count (hash-checkable
    against the batch oracle — availableNow processes the whole input
    exactly once)."""
    import uuid as _uuid

    from oracle_to_cassandra_spark import scratch
    from oracle_to_cassandra_spark.sinks.cassandra_style import read_partition

    run_id = _uuid.uuid4().hex[:8]
    out_dir = scratch.session_path("stream_ingest", run_id, "table")
    ckpt = scratch.session_path("stream_ingest", run_id, "ckpt")
    ev = read_events_stream(spark, sf_dir).select(
        "event_id", "user_id", "event_type", "value"
    )

    def write_batch(batch_df, batch_id):
        batch_df.write.mode("append").partitionBy("event_type").parquet(out_dir)

    q = (
        ev.writeStream.outputMode("append")
        .foreachBatch(write_batch)
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()

    return (
        read_partition(
            spark, out_dir, "event_type", "purchase", schema=ev.schema
        )
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_purchases"),
            F.expr(
                "sum(CAST(round(value * 1000000) AS BIGINT)) div 10000"
            ).alias("total_value_c"),
        )
    )


@query(
    "stream_tws_user_activity",
    oracle="""
    SELECT user_id,
           count(*)::BIGINT AS n_events,
           -- coalesce pins the state semantics: the running total
           -- starts at 0 (all-NULL-value user → 0 cents, not NULL)
           (coalesce(sum(CAST(round(value * 1000000) AS BIGINT)), 0)::BIGINT
             // 10000) AS total_value_c,
           count(DISTINCT event_type)::BIGINT AS n_event_types
    FROM events GROUP BY user_id
    """,
)
def stream_tws_user_activity(spark, sf_dir):
    """Spark 4 ``transformWithStateInPandas`` stateful operator, fully
    DuckDB-oracled: per-user running profile with TYPED state — a
    ValueState scalar aggregate plus a MapState per-event-type tally
    (see ``streaming/stateful.py:UserActivityProcessor``). The
    processor emits the cumulative profile each micro-batch; because
    cumulative state is monotone in n_events, keeping each key's
    highest-n_events row afterwards yields the exact full-data
    aggregate NO MATTER how the file source slices batches — which is
    what upgrades this stream from the rows-only contract to a full
    value-hash oracle.

    Scale: state is partitioned by user_id in the executors' state
    store (RocksDB on a cluster; one column family per state
    primitive), so 100 M users hold a few scalars each; the
    post-processing is a user_id-keyed aggregate over one row per
    (key, touching batch)."""
    ev = read_events_stream(spark, sf_dir)
    from oracle_to_cassandra_spark.streaming.stateful import (
        user_activity_tws_stream,
    )

    out = run_stream_to_memory(
        user_activity_tws_stream(ev),
        output_mode="update",
        state_partitions=pandas_state_partitions(spark),
    )
    return out.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max_by("total_value_c", "n_events").alias("total_value_c"),
        F.max_by("n_event_types", "n_events").alias("n_event_types"),
    )


def _gopher_gate_oracle() -> str:
    """Composes the rule battery AND the tokenizer from the batch
    side's shared SQL builders (``gopher_pass_sql`` / ``_TOK_SQL``),
    so neither a threshold, rule-expression, nor tokenizer-fold edit
    can silently de-sync the stream's oracle from the batch twin —
    the same single-source contract ``gopher_rule_flags`` gives the
    two Spark sides."""
    from oracle_to_cassandra_spark.queries.corpus_quality import (
        _TOK_SQL,
        gopher_pass_sql,
    )

    rule = gopher_pass_sql("ts")
    return f"""
    WITH tok AS (
      SELECT doc_id, source, {_TOK_SQL} AS ts
      FROM documents
    )
    SELECT source,
           count(*)::BIGINT AS n_docs,
           sum({rule}::INT)::BIGINT AS n_pass,
           (sum({rule}::INT) * 1000000 // count(*))::BIGINT
             AS retention_ppm
    FROM tok GROUP BY source
    """


@query("stream_gopher_quality_gate", oracle=_gopher_gate_oracle())
def stream_gopher_quality_gate(spark, sf_dir):
    """Streaming admission control, fully DuckDB-oracled: readStream
    over the documents files (Kafka-topic analog), the SAME
    Gopher-style rule battery as the batch query evaluated per
    arriving document, aggregated per source in complete mode — the
    ingest-time quality gate that decides admission BEFORE a
    low-quality drop lands in the lake. Proves the rule battery is
    trigger-agnostic (aggregates are commutative over micro-batch
    slicing, so the final complete-mode table equals the batch
    answer regardless of file batching).

    Scale: rules run inside codegen on each micro-batch; state is the
    per-source running counts (a handful of rows in the state store);
    the sink table is source-count-sized."""
    from oracle_to_cassandra_spark.queries.corpus_quality import (
        gopher_pass_expr,
    )

    from oracle_to_cassandra_spark.sources.parquet import read_parquet

    raw_schema = read_parquet(spark, f"{sf_dir}/documents.parquet").schema
    docs = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    # the SAME rule-battery expression as the batch report — shared
    # builder, so an expression fix propagates to both twins
    pass_all = gopher_pass_expr("text")
    agg = (
        docs.select("source", pass_all.cast("int").alias("ok"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("ok").cast("long").alias("n_pass"),
            F.expr("sum(ok) * 1000000 div count(*)").alias("retention_ppm"),
        )
    )
    return run_stream_to_memory(agg, output_mode="complete")


@query(
    "stream_trending_event_types",
    oracle="""
    WITH counts AS (
      SELECT strftime(time_bucket(INTERVAL 6 HOUR, ts), '%Y-%m-%d %H:%M:%S')
               AS window_start,
             event_type,
             count(*)::BIGINT AS n_events
      FROM events GROUP BY 1, 2
    )
    SELECT window_start, event_type, n_events, rnk FROM (
      SELECT *, row_number() OVER (PARTITION BY window_start
                                   ORDER BY n_events DESC, event_type)::BIGINT
                  AS rnk
      FROM counts
    ) WHERE rnk <= 3
    """,
)
def stream_trending_event_types(spark, sf_dir):
    """Trending detection, fully oracled: 6-hour tumbling counts per
    event type computed IN the stream (complete mode — the running
    leaderboard state), then the per-window top-3 ranked on the
    materialized sink table (window functions are not allowed inside
    a streaming aggregation, so production does exactly this split:
    stream maintains the counts, the serving layer ranks them). The
    complete-mode aggregate is micro-batch-slicing-proof, which is
    what makes the stream oracle-able.

    Scale: streaming state is (windows × event-types) rows; the rank
    runs over the tiny sink table, partitioned per window."""
    ev = read_events_stream(spark, sf_dir)
    agg = (
        ev.groupBy(F.window("ts", "6 hours"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.date_format("window.start", _TS_FMT).alias("window_start"),
            "event_type",
            "n_events",
        )
    )
    out = run_stream_to_memory(agg, output_mode="complete")
    from pyspark.sql import Window as W

    wk = W.partitionBy("window_start").orderBy(
        F.desc("n_events"), "event_type"
    )
    return (
        out.withColumn("rnk", F.row_number().over(wk).cast("long"))
        .filter(F.col("rnk") <= 3)
        .select("window_start", "event_type", "n_events", "rnk")
    )


@query(
    "stream_crash_resume_reconciliation",
    oracle="""
    SELECT event_type, count(*)::BIGINT AS n_events,
           sum(CAST(round(value * 1000000) AS BIGINT))::BIGINT AS value_micro
    FROM events GROUP BY event_type
    """,
)
def stream_crash_resume_reconciliation(spark, sf_dir):
    """Checkpoint-recovery evidence AS AN ORACLED QUERY: the events
    table is laid down as three files, a foreachBatch ingest is KILLED
    by a planted fault after the second DATA micro-batch's sink write (the
    at-least-once redelivery window — written but not committed), then
    RESUMED from the same checkpoint; the reconciliation aggregate
    over the recovered sink must equal the closed-form oracle over
    the source. Any lost batch, duplicated redelivery, or
    offset-tracking error fails the hash compare. The idempotent
    batch_id-keyed writer (`streaming/recovery.py`) is what absorbs
    the redelivered batch.

    Scale: this is the property a 100 TB streaming ingest's
    exactly-once claim actually rests on — checkpointed source
    offsets + idempotent per-batch sink writes; the test harness twin
    (`tests/test_streaming_recovery.py`) additionally asserts the
    no-op restart."""
    import uuid as _uuid

    from oracle_to_cassandra_spark import scratch
    from oracle_to_cassandra_spark.streaming.recovery import run_resumable_ingest

    from oracle_to_cassandra_spark.sources import load_table

    run_id = _uuid.uuid4().hex[:8]
    in_dir = scratch.session_path("crashres", run_id, "input")
    out_dir = scratch.session_path("crashres", run_id, "out")
    ckpt = scratch.session_path("crashres", run_id, "ckpt")
    # exactly 3 files = the MINIMUM the mid-stream property needs
    # (crash after data batch 2 of 3, resume drains 1) — same sizing
    # as the typed-state twin below; the r13 4-file layout paid one
    # extra micro-batch + checkpoint commit in BOTH runs for no
    # additional coverage (r14)
    src = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    src.repartition(3).write.mode("overwrite").parquet(in_dir)
    schema = spark.read.parquet(in_dir).schema
    def _source():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
        )

    class _PlantedCrash(RuntimeError):
        pass

    fired = {"crash": False, "data_batches": 0}

    def crash_after_two(batch_df, batch_id):
        # DATA-batch aware: Spark writes empty part files, so batch
        # ids are not a proxy for data delivery — a crash keyed on
        # batch_id==1 can land after zero data rows (n_partial == 0)
        # or after the LAST data file (n_partial == n_src), both of
        # which void the mid-stream property. Crash after the SECOND
        # non-empty batch's sink write instead: with >= 3 data files
        # (guarded below) that is always strictly mid-stream.
        if batch_df.isEmpty():
            return
        fired["data_batches"] += 1
        if fired["data_batches"] == 2:
            # flag FIRST: identifying the planted fault by this flag
            # (not by substring-matching the wrapped exception text)
            # survives PySpark changing how StreamingQueryException
            # renders a foreachBatch cause chain
            fired["crash"] = True
            raise _PlantedCrash("planted crash after the 2nd data batch")

    agg_cols = [
        F.count("*").alias("n_events"),
        F.sum(F.round(F.col("value") * 1000000).cast("long")).alias(
            "value_micro"
        ),
    ]
    # count rows and NON-EMPTY files in ONE pass over the just-written
    # input (count_distinct(input_file_name) only sees files with
    # rows): repartition(4) on a tiny source can emit empty part
    # files, and an empty "file count" would pass the guard while the
    # stream delivers fewer real data batches than the property needs
    stats = (
        spark.read.parquet(in_dir)
        .select(F.input_file_name().alias("f"))
        .agg(
            F.count("*").alias("n"),
            F.count_distinct("f").alias("nf"),
        )
        .first()
    )
    n_src, n_data_files = stats["n"], stats["nf"]
    if n_data_files < 3:
        # the resume-after-partial-write property needs >= 3 DATA
        # micro-batches: the fault fires after the 2nd data batch's
        # sink write, so with 1 data file it never fires ("fault did
        # not fire") and with 2 the crash lands after the LAST data
        # write (n_partial == n_src — a cold restart, not a resume).
        # A tiny/empty source must degrade to the plain aggregate,
        # not to a harness assertion (empty/tiny stress sweeps).
        return src.groupBy("event_type").agg(*agg_cols)
    try:
        run_resumable_ingest(
            spark, _source(), out_dir, ckpt, on_batch=crash_after_two
        )
    except Exception:  # noqa: BLE001 - filtered just below
        # Only the PLANTED crash may pass: an unrelated run-1 failure
        # before batch 0 commits would let run 2 ingest everything and
        # still hash-match, silently voiding the resume-after-partial-
        # write property this query exists to certify. The fault hook
        # flags itself before raising, so this check is exact.
        if not fired["crash"]:
            raise
    if not fired["crash"]:
        raise AssertionError("fault injection did not fire in run 1")
    # the crash must have landed MID-stream: some batches written,
    # some not — otherwise run 2 is a cold start, not a resume
    partial = spark.read.option("basePath", out_dir).parquet(out_dir)
    n_partial = partial.count()
    if not (0 < n_partial < n_src):
        raise AssertionError(
            f"crash not mid-stream: {n_partial} of {n_src} rows in sink"
        )
    # resume from the same checkpoint; redelivered batch 1 overwrites
    run_resumable_ingest(spark, _source(), out_dir, ckpt)
    sink = spark.read.option("basePath", out_dir).parquet(out_dir)
    return sink.groupBy("event_type").agg(*agg_cols)


@query(
    "stream_rocksdb_state_aggregate",
    oracle="""
    SELECT event_type, count(*)::BIGINT AS n_events,
           sum(CAST(round(value * 1000000) AS BIGINT))::BIGINT AS value_micro
    FROM events GROUP BY event_type
    """,
)
def stream_rocksdb_state_aggregate(spark, sf_dir):
    """The PRODUCTION state backend: the same complete-mode streaming
    aggregate executed with the RocksDB state store provider instead
    of the default in-memory HDFS-backed store. At 100 TB of keyed
    state this is not a tuning flag but the survival requirement —
    RocksDB spills state to local disk with incremental checkpointing
    to the checkpoint location, where the default provider holds
    every key in executor heap. Identical results to the closed-form
    oracle prove the backend swap is semantics-free; the provider is
    scoped to this query's start and restored afterwards (a streaming
    query pins its provider at first start, so the conf round-trip
    cannot leak into sibling streams)."""
    rocksdb = {
        "spark.sql.streaming.stateStore.providerClass":
            "org.apache.spark.sql.execution.streaming."
            "state.RocksDBStateStoreProvider",
    }
    with scoped_conf(spark, rocksdb):
        ev = read_events_stream(spark, sf_dir)
        agg = ev.groupBy("event_type").agg(
            F.count("*").alias("n_events"),
            F.sum(F.round(F.col("value") * 1000000).cast("long")).alias(
                "value_micro"
            ),
        )
        return run_stream_to_memory(agg, output_mode="complete",
                                    state_partitions=8)


def _session_expiry_oracle() -> str:
    """Composed from the SAME gap/watermark constants the processor
    uses (the _gopher_gate_oracle pattern), with the timer-eligibility
    boundary mirroring Spark's event-time timeout EXACTLY as probed on
    a synthetic ms-knife-edge fixture: both the registered timer and
    the watermark floor microseconds to MILLISECONDS, and the timer
    fires only when strictly below the final watermark
    (floor_ms(s_end) + gap_ms < floor_ms(max_ts) - wm_ms)."""
    from oracle_to_cassandra_spark.streaming.stateful import (
        SESSION_GAP_MIN,
        SESSION_WM_MIN,
    )

    gap_ms = SESSION_GAP_MIN * 60_000
    wm_ms = SESSION_WM_MIN * 60_000
    return f"""
    WITH on_time AS (
      -- Spark's watermarked stateful operators DROP rows whose event
      -- time is below the watermark; the file source delivers all
      -- data in ONE batch, whose watermark is the INITIAL zero — so
      -- pre-epoch events (temporal stress mode plants 1969 rows) are
      -- late by definition and never reach the session state
      SELECT user_id, ts, event_id FROM events
      WHERE ts >= TIMESTAMP '1970-01-01 00:00:00'
    ), flagged AS (
      -- event_id tiebreak: duplicate timestamps can never SPLIT a
      -- session (gap 0), but a bare ORDER BY ts lets the lag pass and
      -- the running-sum pass resolve a tie in DIFFERENT arbitrary
      -- orders, stranding the new-session flag mid-tie and splitting
      -- the tied run (caught live by the temporal stress sweep)
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w > INTERVAL {SESSION_GAP_MIN} MINUTE
                  THEN 1 ELSE 0 END AS new_sess
      FROM on_time
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), numbered AS (
      SELECT user_id, ts,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    ), sessions AS (
      SELECT user_id, sid,
             min(ts) AS session_start, max(ts) AS session_end,
             count(*)::BIGINT AS n_events,
             max(sid) OVER (PARTITION BY user_id) AS max_sid
      FROM numbered GROUP BY user_id, sid
    )
    SELECT user_id, session_start, session_end, n_events,
           CASE WHEN sid < max_sid THEN 'gap' ELSE 'timer' END AS closed_by
    FROM sessions
    WHERE sid < max_sid
       OR (epoch_us(session_end) // 1000) + {gap_ms}
          < (SELECT max(epoch_us(ts)) // 1000 FROM events) - {wm_ms}
    """


@query("stream_session_expiry_timers", oracle=_session_expiry_oracle())
def stream_session_expiry_timers(spark, sf_dir):
    """TIMER-DRIVEN session expiry — the second ``transformWithState``
    shape: per-user sessions close EITHER when a successor event
    arrives past the 30-min gap (``closed_by='gap'``) OR when the
    event-time watermark passes last_ts + gap with no successor — an
    expiry TIMER (``handle.registerTimer`` → ``handleExpiredTimer`` on
    the Spark 4 API; ``EventTimeTimeout`` + ``setTimeoutTimestamp`` on
    the applyInPandasWithState fallback this environment runs). The
    in-flight tail session per user stays open (never emitted) — so
    the result is fully deterministic and DuckDB-oracled, including
    which sessions the FINAL no-data micro-batch's timers flush
    (boundary semantics probed and mirrored in the oracle:
    ms-floored, strictly-less-than watermark).

    Scale: state is one (start, last_ts, n) triple per live user in
    the keyed state store; timers evict dormant keys the moment the
    watermark proves their session unreachable — the mechanism that
    keeps a 100 TB/day clickstream's session state bounded by ACTIVE
    users rather than ever-seen users. Per-key batch work is
    vectorized pandas (diff→cumsum→groupby), no per-event Python
    (see ``streaming/stateful.py:_fold_sessions``)."""
    from oracle_to_cassandra_spark.streaming.stateful import (
        session_expiry_stream,
    )

    ev = read_events_stream(spark, sf_dir)
    return run_stream_to_memory(
        session_expiry_stream(ev),
        output_mode="append",
        state_partitions=pandas_state_partitions(spark),
        expect_single_batch=True,
    )


@query(
    "stream_tws_checkpoint_resume",
    # oracle BY REFERENCE to the primary typed-state stream: this
    # query certifies the same final profile THROUGH a mid-stream
    # restart, so an edit to the primary's oracle can never de-sync
    # this one (the _twin_oracle pattern; registered above in this
    # module, so the lookup is safe at decoration time)
    oracle=_twin_oracle("stream_tws_user_activity"),
)
def stream_tws_checkpoint_resume(spark, sf_dir):
    """Typed-state checkpoint DURABILITY as an oracled query (r11
    verdict item 7): the per-user activity profile stream
    (``user_activity_tws_stream`` — transformWithStateInPandas when
    protobuf is present, the applyInPandasWithState twin otherwise;
    identical emission contract) is KILLED by a planted fault after
    its second data micro-batch's sink write, then RESUMED from the
    same checkpoint. The cumulative emissions land in the idempotent
    batch_id-keyed parquet sink (`streaming/recovery.py`); keeping
    each key's highest-n_events emission afterwards yields the exact
    full-data profile — but ONLY if the keyed state store restored
    across the restart: a user touched both before and after the
    crash would otherwise restart from zero mid-run and the final
    max-n_events row would under-count, failing the hash compare.

    This is the stateful complement of
    ``stream_crash_resume_reconciliation``, which proves offset
    replay + idempotent writes for a STATELESS ingest; here the
    contract extends to ValueState/MapState contents surviving the
    restart — the property a 100 TB streaming job's restartability
    actually rests on (state is checkpointed per micro-batch commit
    and reloaded by the restarted executors).

    Scale: identical movement to the primary stream (state keyed by
    user_id); the fault harness adds one extra stream start, nothing
    else."""
    import uuid as _uuid

    from oracle_to_cassandra_spark import scratch
    from oracle_to_cassandra_spark.sources import load_table
    from oracle_to_cassandra_spark.streaming.recovery import (
        run_resumable_ingest,
    )
    from oracle_to_cassandra_spark.streaming.stateful import (
        user_activity_tws_stream,
    )

    run_id = _uuid.uuid4().hex[:8]
    in_dir = scratch.session_path("twsres", run_id, "input")
    out_dir = scratch.session_path("twsres", run_id, "out")
    ckpt = scratch.session_path("twsres", run_id, "ckpt")

    src = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "value"
    )
    # exactly 3 files = the MINIMUM the mid-stream property needs
    # (crash lands after data batch 2 of 3, resume drains 1): each
    # extra file adds a fixed micro-batch + checkpoint-commit cost
    # twice (both runs) with no additional coverage
    src.repartition(3).write.mode("overwrite").parquet(in_dir)
    schema = spark.read.parquet(in_dir).schema

    def _stream():
        ev = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
        )
        return user_activity_tws_stream(ev)

    # >= 3 NON-EMPTY files so the fault (after the 2nd data batch's
    # write) is strictly mid-stream — same guard structure as
    # stream_crash_resume_reconciliation; a tiny/empty source degrades
    # to a single uncrashed run of the same harness, not an assertion.
    # Row count and non-empty-file count come from ONE pass over the
    # just-written input (r14: the separate src.count() re-read the
    # source table for a number the sink already determines).
    stats = (
        spark.read.parquet(in_dir)
        .select(F.input_file_name().alias("f"))
        .agg(
            F.count("*").alias("n"),
            F.count_distinct("f").alias("nf"),
        )
        .first()
    )
    n_src, n_data_files = stats["n"], stats["nf"]

    class _PlantedCrash(RuntimeError):
        pass

    state = {"crash": False, "data_batches": 0, "armed": n_data_files >= 3}

    def on_batch(batch_df, batch_id):
        # the sink write already happened (run_resumable_ingest wraps
        # the idempotent batch_id-keyed writer); this hook only counts
        # data batches and plants the mid-stream fault
        if batch_df.isEmpty():
            return
        state["data_batches"] += 1
        if state["armed"] and state["data_batches"] == 2:
            state["crash"] = True
            state["armed"] = False  # run 2 must drain unimpeded
            raise _PlantedCrash("planted crash after the 2nd data batch")

    def _run():
        run_resumable_ingest(
            spark,
            _stream(),
            out_dir,
            ckpt,
            on_batch=on_batch,
            output_mode="update",
            state_partitions=pandas_state_partitions(spark),
        )

    if state["armed"]:
        try:
            _run()
        except Exception:  # noqa: BLE001 - filtered just below
            # only the PLANTED fault may pass (flag set before raise);
            # an unrelated run-1 failure would let run 2 ingest
            # everything cold and still hash-match, voiding the
            # state-restore property this query exists to certify
            if not state["crash"]:
                raise
        if not state["crash"]:
            raise AssertionError("fault injection did not fire in run 1")
        pre_resume = state["data_batches"]
        _run()  # resume from the same checkpoint, fault disarmed
        # strict progress guard (r12 ADVICE item 2): the crash fired
        # AFTER batch 2's sink write but BEFORE its offset commit, so
        # a correct resume must both REPLAY the uncommitted batch AND
        # drain the remaining file — exactly 2 data batches under
        # maxFilesPerTrigger=1 with the >=3-file arming condition. A
        # resume that merely re-delivers the uncommitted batch without
        # draining the tail (pre_resume + 1) is also a void run.
        if state["data_batches"] < pre_resume + 2:
            raise AssertionError(
                "resume did not replay the uncommitted batch AND drain "
                "the remaining file — the crash was not mid-stream and "
                "the state-restore property is void"
            )
    else:
        _run()  # tiny source: plain single-run drain, same sink

    out = (
        spark.read.option("basePath", out_dir)
        .parquet(out_dir)
        .drop("batch_id")
    )
    return out.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max_by("total_value_c", "n_events").alias("total_value_c"),
        F.max_by("n_event_types", "n_events").alias("n_event_types"),
    )
