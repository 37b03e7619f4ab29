"""Checkpoint-resume / exactly-once plumbing for foreachBatch sinks.

The reference's ETL loop (`/root/reference/README.md:839-889`) is
batch-only; the streaming ingest twin (`queries/streaming.py::
stream_ingest_sink_roundtrip`) relies on the property demonstrated
here: a query killed mid-stream resumes from its checkpoint with no
lost and no duplicated rows, PROVIDED the per-batch write is
idempotent on batch_id. This module is that write pattern.

Why batch_id-keyed overwrite: Structured Streaming's contract is
at-least-once delivery of each micro-batch to foreachBatch — a batch
whose sink write succeeded but whose checkpoint commit did not is
REDELIVERED on restart. A blind ``mode=append`` would double those
rows; writing each batch under its own ``batch_id=<id>`` directory
with ``mode=overwrite`` makes redelivery a harmless rewrite of
identical content (the file source replays the same files into the
same batch id). That is exactly the dynamic-partition-overwrite trick
production foreachBatch sinks use, expressed on the local filesystem.

Scale: one directory per micro-batch is the same layout a cluster job
produces; compaction of old batch directories is the sink's offline
concern, not the stream's.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from oracle_to_cassandra_spark.session import scoped_conf


def idempotent_batch_writer(out_dir: str) -> Callable[[DataFrame, int], None]:
    """A foreachBatch callback writing each micro-batch under
    ``{out_dir}/batch_id=<id>`` with overwrite — redelivered batches
    rewrite identical content instead of duplicating it."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(f"{out_dir}/batch_id={batch_id}")

    return write_batch


def run_resumable_ingest(
    spark: SparkSession,
    source: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    on_batch: Callable[[DataFrame, int], None] | None = None,
    output_mode: str = "append",
    state_partitions: int | None = None,
) -> None:
    """Run a streaming ingest to exhaustion (availableNow) through the
    idempotent batch writer. Batch granularity is the SOURCE's concern
    — build ``source`` with ``.option("maxFilesPerTrigger", 1)`` to
    get one file per micro-batch. ``on_batch`` is a fault-injection
    hook (tests raise from it to simulate a crash after N batches);
    re-calling with the SAME checkpoint_dir resumes from the last
    committed batch.

    ``output_mode="update"`` serves stateful sources whose foreachBatch
    frame carries per-key updated rows (the typed-state resume query);
    ``state_partitions`` pins ``spark.sql.shuffle.partitions`` for the
    stream's FIRST start only — a streaming query fixes its
    state-partition count in the checkpoint, so the width must be set
    by state size, not the session's batch-shuffle default."""
    writer = idempotent_batch_writer(out_dir)

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        # every fault hook in the repo inspects batch_df (isEmpty at
        # minimum) AFTER the sink write — without a persist that
        # re-executes the whole micro-batch plan (for stateful sources:
        # state-store load + Python worker round-trip) a second time
        batch_df.persist()
        try:
            writer(batch_df, batch_id)
            if on_batch is not None:
                on_batch(batch_df, batch_id)
        finally:
            batch_df.unpersist()

    width = None if state_partitions is None else str(state_partitions)
    with scoped_conf(spark, {"spark.sql.shuffle.partitions": width}):
        q = (
            source.writeStream.outputMode(output_mode)
            .foreachBatch(_write)
            .trigger(availableNow=True)
            .option("checkpointLocation", checkpoint_dir)
            .start()
        )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()
