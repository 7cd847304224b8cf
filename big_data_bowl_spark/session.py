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
"""

from __future__ import annotations

import os

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
        # Pin the session timezone: hour()/dayofweek()/unix_timestamp
        # read it, and every query/oracle pair was validated against
        # DuckDB's NAIVE timestamp arithmetic (≡ UTC).  Without the pin
        # the parity contract silently depends on the host JVM zone —
        # correct on a UTC CI box, wrong (and DST-warped) anywhere else.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        # InferFiltersFromGenerate synthesizes size(e) > 0 AND
        # isnotnull(e) above every explode(e) of a PROJECTED
        # HOF-computed array and pushes it below repartitions — the
        # whole gram/shingle-hash expression evaluated TWICE per row,
        # on the scan's (often 1-2) partitions.  Our workloads explode
        # computed token/gram/shingle arrays everywhere, and parquet
        # can never prune on array size, so the rule is pure cost here:
        # measured q_span_dedup 5.5s → 2.3s at sf0.1 (r13).  Excluding
        # an optimizer rule is semantics-preserving by contract.
        .config("spark.sql.optimizer.excludedRules",
                "org.apache.spark.sql.catalyst.optimizer."
                "InferFiltersFromGenerate")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if master:
        builder = builder.master(master)
    elif not SparkSession.getActiveSession():
        builder = builder.master(f"local[{DEFAULT_CPUS}]")
    spark = builder.getOrCreate()
    for key, value in PARQUET_FORMAT.items():
        spark.conf.set(key, value)
    return spark
