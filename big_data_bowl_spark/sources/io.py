"""Sources and sinks (SURVEY §2.1, S1–S6).

The reference globs weekly CSV shards, concatenates them in pandas, and
caches the combined frame back to CSV (bdb2026/data_io.py:19-79).  In Spark
all three steps collapse into declarative equivalents:

- S1/S2: a glob path IS the multi-file scan — ``spark.read.csv(dir/prefix*)``
  unions shards at the source with no driver-side concat;
  ``unionByName(allowMissingColumns=True)`` covers schema drift.
- S3: materialize-if-missing becomes a write-once Parquet staging table
  (``mode("ignore")``) — columnar, splittable, statistics-bearing; at 100 TB
  this is the difference between re-parsing CSV per run and pruned scans.
  Every writer here inherits the session's one storage format
  (``session.configure``): zstd pages, v2 data pages, and timestamps
  as INT64 TIMESTAMP_MICROS.  The INT64 form is what makes timestamp keys
  statistics-bearing: Spark's default, legacy INT96, carries no min/max
  statistics, so a timestamp range filter would read every row group.
- S4: the three-table loader becomes a named catalog of temp views.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..schemas import TEST_TABLES
from ..session import configure

TEST_TABLE_NAMES = tuple(TEST_TABLES)


# Columns written as parquet TIMESTAMP(NANOS): Spark refuses them natively
# (PARQUET_TYPE_ILLEGAL) while DuckDB silently truncates to micros.  We read
# them as nano longs (legacy conf) and truncate to micros with INTEGER
# division — bit-identical to the DuckDB oracle's value.
_NANOS_TS_COLS: dict[str, tuple[str, ...]] = {
    "events": ("ts",),
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
}


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """S1: single-table parquet scan. Parquet carries its own schema; column
    pruning and predicate pushdown happen at the scan (SURVEY §4.2).

    Timestamp normalization: pandas-written parquet stores timestamps with
    isAdjustedToUTC=false, which Spark 4 infers as TIMESTAMP_NTZ by default.
    The engine (and the DuckDB oracles, via an Etc/UTC session) treats event
    time as instants, so they read as TIMESTAMP — the same dtype every query
    was validated against — and nano columns as longs.  Both settings come
    from ``session.configure``, which this call applies to any session it
    has not seen (a caller's own included)."""
    configure(spark)
    nanos = _NANOS_TS_COLS.get(name, ())
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    dtypes = dict(df.dtypes)
    for c in nanos:
        if dtypes.get(c) == "bigint":  # actually-nano column, read as long
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df


def load_catalog(spark: SparkSession, sf_dir: str,
                 names: tuple[str, ...] = TEST_TABLE_NAMES) -> dict[str, DataFrame]:
    """S4: load all tables and register them as temp views so both the
    DataFrame API and ``spark.sql`` can address them by name."""
    out: dict[str, DataFrame] = {}
    for name in names:
        df = read_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def read_csv_glob(spark: SparkSession, pattern: str, schema: StructType,
                  header: bool = True) -> DataFrame:
    """S2: multi-file CSV scan.  Replaces _find_weekly_files + _concat_csvs
    (bdb2026/data_io.py:19-38): the glob is expanded by the scan, each file is
    a split, and the declared schema skips the inference pass entirely."""
    return (spark.read.schema(schema)
            .option("header", str(header).lower())
            .csv(pattern))


def stage_parquet(df: DataFrame, path: str,
                  partition_by: list[str] | None = None,
                  mode: str = "ignore") -> None:
    """S3/S5: write-once Parquet staging (mode='ignore' == materialize-if-
    missing, bdb2026/data_io.py:41-79).  ``partition_by`` (e.g. a game/date
    key) gives partition pruning to every downstream per-key lookup (P8)."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_csv(df: DataFrame, path: str, header: bool = True,
              single_file: bool = True, mode: str = "overwrite") -> None:
    """S5: CSV sink matching the reference's ``to_csv(path, index=False)``
    semantics (bdb2026/data_io.py:71,77: header row, no index column).
    ``single_file`` coalesces to one part — right for the reference's
    play/player-level outputs (≤18K rows); leave False for frame-level
    tables so the write stays parallel."""
    out = df.coalesce(1) if single_file else df
    (out.write.mode(mode)
        .option("header", str(header).lower())
        .csv(path))


def read_csv_dir(spark: SparkSession, path: str, schema: StructType,
                 header: bool = True) -> DataFrame:
    """Re-read a :func:`write_csv` output directory with a declared schema
    (the S5 round-trip; inference is never used — SURVEY §1.1)."""
    return (spark.read.schema(schema)
            .option("header", str(header).lower())
            .csv(path))


def stage_parquet_bloom(df: DataFrame, path: str, bloom_cols: list[str],
                        expected_ndv: int = 100_000,
                        mode: str = "overwrite") -> None:
    """Parquet staging with PER-COLUMN BLOOM FILTERS — the file-skipping
    complement to min/max stats (:func:`stage_sorted`): min/max prune
    RANGE predicates, but a point lookup on a high-cardinality UNSORTED
    key (user_id, doc digest, join key) matches every file's [min, max]
    span and prunes nothing.  A bloom filter answers "definitely not in
    this row group" for equality probes, so the scan skips row groups
    that min/max cannot — the standard layout for needle-in-haystack id
    lookups and for shipping pre-filtered join build sides at 100 TB.
    ``expected_ndv`` sizes each filter (~1.2 bytes/key at the default
    1% FPP); undersizing degrades the FPP, never correctness.

    Dictionary encoding is disabled on the bloom columns: parquet-mr
    SILENTLY OMITS the bloom filter when a column stays fully
    dictionary-encoded (the dictionary already answers exact
    membership), so a small-SF test would write no filter and a
    production column that falls out of dictionary mid-file would get
    one — disabling it makes the layout deterministic.  At true
    high-cardinality scale the column exceeds the 1 MB dictionary-page
    cap and falls back anyway, so this costs nothing where blooms
    matter."""
    writer = df.write.mode(mode)
    for c in bloom_cols:
        writer = (writer
                  .option(f"parquet.bloom.filter.enabled#{c}", "true")
                  .option(f"parquet.bloom.filter.expected.ndv#{c}",
                          str(expected_ndv))
                  .option(f"parquet.enable.dictionary#{c}", "false"))
    writer.parquet(path)


def load_kaggle_layout(spark: SparkSession, root_dir: str,
                       supplementary_csv: str,
                       input_schema: StructType,
                       output_schema: StructType,
                       supp_schema: StructType,
                       train_subdir: str = "train"
                       ) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The reference's Kaggle-download loader
    (bdb2026/data_io.py:82-127 ``load_bdb_csvs_from_kaggle_download``)
    re-expressed Spark-first:

        <root_dir>/<train_subdir>/input_*.csv, output_*.csv
        <supplementary_csv>

    The reference combines weekly CSVs into cached group_input/
    group_output files before reading (pandas needs one file); on Spark
    the GLOB IS the combine — each weekly file is a scan split, so
    there is nothing to pre-concatenate and no cache to invalidate
    (``force_recombine`` has no equivalent; the scan always reflects
    the files present).  Declared schemas skip inference (SURVEY §1.1).
    Fails loud on a missing supplementary file or an empty weekly glob
    — the same FileNotFoundError contract the reference enforces.

    Returns (inputs, outputs, supplementary)."""
    import glob as _glob
    import os as _os
    train_dir = f"{root_dir.rstrip('/')}/{train_subdir}"
    # The eager existence checks are DRIVER-LOCAL (os/glob), so they
    # only apply to local paths; for object-store / HDFS URIs
    # (s3://…, hdfs://…) the Spark scan itself raises PATH_NOT_FOUND —
    # the same fail-loud outcome, delivered by the layer that can
    # actually see the storage.
    local = "://" not in root_dir
    if local:
        if not _os.path.isdir(train_dir):
            raise FileNotFoundError(
                f"train_dir does not exist: {train_dir}")
        if "://" not in supplementary_csv \
                and not _os.path.isfile(supplementary_csv):
            raise FileNotFoundError(
                f"supplementary_csv not found: {supplementary_csv}")
    pats = {"input": f"{train_dir}/input_*.csv",
            "output": f"{train_dir}/output_*.csv"}
    if local:
        for kind, pat in pats.items():
            if not _glob.glob(pat):
                raise FileNotFoundError(f"no weekly {kind}_*.csv under "
                                        f"{train_dir}")
    df_in = read_csv_glob(spark, pats["input"], input_schema)
    df_out = read_csv_glob(spark, pats["output"], output_schema)
    df_supp = read_csv_glob(spark, supplementary_csv, supp_schema)
    return df_in, df_out, df_supp


def stage_sorted(df: DataFrame, path: str, range_cols: list[str],
                 n_files: int = 8, mode: str = "overwrite") -> None:
    """Range-clustered sorted staging: ``repartitionByRange`` +
    ``sortWithinPartitions`` so each output file owns a DISJOINT range of
    the sort key.  Parquet footers then carry tight min/max stats per
    file/row-group, and any range predicate on the key skips every file
    outside its span — the single-dimension cousin of Z-ordering, free in
    stock Spark.  Use for time-range-scanned event tables (the 100 TB
    access pattern behind W1–W5).  Timestamp keys prune because the
    session writes them as INT64 TIMESTAMP_MICROS, which carries min/max
    statistics; legacy INT96 carried none, so the scan read every row."""
    (df.repartitionByRange(n_files, *[F.col(c) for c in range_cols])
       .sortWithinPartitions(*range_cols)
       .write.mode(mode).parquet(path))


def write_jsonl(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """JSON-lines sink — the interchange format most document corpora ship
    in.  One JSON object per line per row; splittable on read."""
    df.write.mode(mode).json(path)


def read_jsonl(spark: SparkSession, path: str,
               schema: StructType) -> DataFrame:
    """JSON-lines source with a DECLARED schema (never inference — the
    S1 rule): malformed fields go null, extra fields are dropped, and the
    scan prunes to the requested columns."""
    return spark.read.schema(schema).json(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """ORC sink — the other columnar interchange format (Hive/Trino
    ecosystems); same pushdown/pruning properties as parquet, so a
    consumer locked to ORC gets the engine's scan discipline unchanged."""
    df.write.mode(mode).orc(path)


def read_orc(spark: SparkSession, path: str,
             schema: StructType | None = None) -> DataFrame:
    """ORC source; pass a schema to pin dtypes (the S1 declared-schema
    rule), else ORC's embedded schema is authoritative (unlike CSV/JSON,
    columnar formats carry exact types, so inference is not a guess)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.orc(path)


def compact_parquet(spark: SparkSession, src: str, dst: str,
                    target_bytes: int = 256 << 20) -> int:
    """Small-files compaction: rewrite a parquet directory into
    ⌈total/target⌉ files of ~``target_bytes`` each.  Streaming ingestion
    and fine-grained partitioning both leave thousands of tiny files whose
    per-file open/footer cost dominates scans at 100 TB; periodic
    compaction to row-group-sized files restores scan efficiency.  Round-
    robin repartition (no keys, no skew).  Returns the file count."""
    import math

    jpath = spark._jvm.org.apache.hadoop.fs.Path(src)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    total = fs.getContentSummary(jpath).getLength()
    n = max(1, math.ceil(total / target_bytes))
    spark.read.parquet(src).repartition(n) \
        .write.mode("overwrite").parquet(dst)
    return n


def stage_bucketed(df: DataFrame, table: str, bucket_cols: list[str],
                   n_buckets: int = 32, mode: str = "ignore") -> None:
    """Bucketed staging table: ``bucketBy(n, keys) + sortBy(keys)`` into the
    session catalog.  Two tables bucketed the same way equi-join WITHOUT a
    shuffle (both sides arrive hash-distributed on disk) — at 100 TB this
    converts every recurring fact⋈fact join on the bucket key from a
    full-data exchange into a zero-exchange sort-merge.  Pick ``n_buckets``
    so one bucket ≈ one task's memory budget at target scale."""
    (df.write.mode(mode)
       .bucketBy(n_buckets, *bucket_cols)
       .sortBy(*bucket_cols)
       .saveAsTable(table))
