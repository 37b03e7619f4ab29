"""SparkSession factory.

The reference runs a DSE-embedded Spark 1.6 shell with a HiveContext
(`/root/reference/README.md:435,443`). Here a single factory owns every
session-level knob so tests, the driver entry point, and bench all run
the same configuration.

Scale notes (100 TB posture):
  * AQE on — runtime join re-planning, skew-join splitting, and
    post-shuffle partition coalescing replace hand-tuned partition
    counts when the input is 1000× bigger than the test SF.
  * ``spark.sql.shuffle.partitions`` defaults to the local core count;
    on a real cluster this is overridden (or simply left to AQE's
    coalescing with a high initial value).
  * Arrow enabled — every pandas UDF crosses the JVM↔Python boundary
    in columnar batches, never row-at-a-time.
  * Session timezone pinned to UTC so event-time semantics are stable
    across drivers/executors (and match the DuckDB oracle).
"""

from __future__ import annotations

import os
from collections.abc import Iterator, Mapping
from contextlib import contextmanager

from pyspark.sql import SparkSession

APP_NAME = "oracle_to_cassandra_spark"


def _default_cpus() -> str:
    return os.environ.get("SPARK_GRAFT_CPUS", "32")


def get_spark(
    app_name: str = APP_NAME,
    cpus: str | int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    ``cpus`` controls local-mode parallelism; shuffle partitions track
    it so tiny test runs aren't over-parallelized (pitfall: the 200
    default is wrong at both ends of the scale).
    """
    cpus = str(cpus or _default_cpus())
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.enableVectorizedReader", "true")
        # Testdata generations have shipped events.ts both as
        # TIMESTAMP(NANOS) int64 and TIMESTAMP(MICROS); the legacy
        # conf lets the nanos generation load as a plain long (the
        # loader then converts — sources/parquet.py). Set once here at
        # session build so no reader mutates session state; it only
        # affects parquet columns with nanos precision.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


@contextmanager
def scoped_conf(
    spark: SparkSession, confs: Mapping[str, str | None]
) -> Iterator[None]:
    """Set session confs for the body and restore them on exit, also
    when the body raises: a key set before gets its prior value back, a
    key unset before is unset again. ``None`` values are skipped — the
    key is neither read nor written."""
    prior: dict[str, str | None] = {}
    try:
        for key, value in confs.items():
            if value is not None:
                prior[key] = spark.conf.get(key, None)
                spark.conf.set(key, value)
        yield
    finally:
        for key, value in prior.items():
            if value is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, value)
