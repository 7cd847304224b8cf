"""SparkSession construction with scale-appropriate defaults.

The reference runs a single pandas process (SURVEY §3.1); here every knob is
chosen for a multi-executor cluster and merely *tested* on local[N]:

- AQE on: runtime coalescing of post-shuffle partitions + skew-join splitting
  (plays/users have wildly varying row counts; SURVEY §4.2).
- shuffle partitions sized for the test harness; on a real cluster this is
  overridden (or left to AQE with a high initial value).
- Arrow on: every pandas-UDF boundary (sequence model inference, multimodal
  decode) moves batches, not rows.
- One Parquet storage format for every writer (staging, layout, shards,
  streaming sinks): zstd pages, v2 data pages (DELTA_BINARY_PACKED,
  DELTA_BYTE_ARRAY, RLE_DICTIONARY encodings) and INT64 TIMESTAMP_MICROS
  timestamps, whose min/max statistics let timestamp range scans prune
  (legacy INT96 carries none).  No writer passes its own codec.
- ``configure(spark)`` owns the settings the query registry's answers
  depend on (``ENGINE_CONF``): the UTC session zone, LTZ timestamp
  inference, nano timestamps read as longs, the Parquet format and the
  ``InferFiltersFromGenerate`` exclusion.  ``build_session`` applies it,
  and so does ``read_table``, so a session built anywhere else (a
  caller's own) runs the same engine from its first read.

This is the only module that sets a Spark conf key.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))
DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

# The Parquet storage format every writer inherits.  Each key is set on
# the session after getOrCreate, so it also holds when that returns a live
# session: the session conf is copied into each write's Hadoop conf, which
# is why the parquet-mr keys are un-prefixed (a spark.hadoop.* key is read
# only when the context starts).  The buffer pool lets zstd reuse its
# compression buffers instead of allocating them per column chunk; zstd
# stays at its default level (SCALE.md, "One storage format").
PARQUET_FORMAT = {
    "spark.sql.parquet.compression.codec": "zstd",
    "parquet.compression.codec.zstd.bufferPool.enabled": "true",
    "parquet.writer.version": "PARQUET_2_0",
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
}

_EXCLUDED_RULES = "spark.sql.optimizer.excludedRules"

# Runtime settings every query/oracle pair was validated under.
ENGINE_CONF = {
    # hour()/dayofweek()/unix_timestamp read the session zone, and the
    # oracles use DuckDB's NAIVE timestamp arithmetic (≡ UTC).  Without
    # the pin the answers depend on the host JVM zone.
    "spark.sql.session.timeZone": "UTC",
    # pandas-written timestamps (isAdjustedToUTC=false) read as TIMESTAMP,
    # not TIMESTAMP_NTZ, and TIMESTAMP(NANOS) columns as longs that
    # read_table truncates to micros (sources/io.py).
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    **PARQUET_FORMAT,
    # Appended to the rules the session already excludes.  The rule
    # copies every exploded computed array expression into a
    # size(e) > 0 filter below the repartition, evaluating it twice per
    # row, and Parquet never prunes on array size.  Excluding an
    # optimizer rule preserves semantics by contract (measurements:
    # SCALE.md, "One engine configuration").
    _EXCLUDED_RULES: "org.apache.spark.sql.catalyst.optimizer."
                     "InferFiltersFromGenerate",
}

# WeakSet, not id()-keyed: a stopped session's id can be reused.
_CONFIGURED: "weakref.WeakSet[SparkSession]" = weakref.WeakSet()


def configure(spark: SparkSession) -> SparkSession:
    """Apply ``ENGINE_CONF`` to ``spark`` once; return it."""
    if spark in _CONFIGURED:
        return spark
    for key, value in ENGINE_CONF.items():
        if key == _EXCLUDED_RULES:
            current = spark.conf.get(key, None) or ""
            rules = [r.strip() for r in current.split(",") if r.strip()]
            value = ",".join(dict.fromkeys(rules + [value]))
        spark.conf.set(key, value)
    _CONFIGURED.add(spark)
    return spark


def build_session(app_name: str = "big_data_bowl_spark",
                  master: str | None = None,
                  shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults."""
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions",
                str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # no \r progress frames interleaved with a script's own output
        .config("spark.ui.showConsoleProgress", "false")
    )
    if master:
        builder = builder.master(master)
    elif not SparkSession.getActiveSession():
        builder = builder.master(f"local[{DEFAULT_CPUS}]")
    return configure(builder.getOrCreate())
