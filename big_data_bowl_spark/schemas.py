"""Explicit StructType schemas for every table the engine reads or derives.

The reference infers types at CSV load time (``pd.read_csv``,
bdb2026/data_io.py:122-125) and validates columns dynamically with
``KeyError`` guards (bdb2026/preprocess.py:288-293).  The idiomatic Spark fix
(SURVEY §1.1) is a declared schema per table — scans then prune columns at
the source and never pay an inference pass — plus the same fail-loud column
checks at the API layer (:func:`require_columns`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)


def require_columns(df: DataFrame, cols: list[str], caller: str = "operator") -> None:
    """Fail loud when a required column is missing.

    Mirrors the reference's defensive ``KeyError`` guards
    (bdb2026/preprocess.py:288-293,313-317; bdb2026/metrics.py:234-251).
    """
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise KeyError(f"{caller}: missing required columns {missing}; "
                       f"have {df.columns}")


# Minimum rows a pre-Arrow fan-out partition should carry.  Each
# mapInPandas partition costs a Python worker spin-up plus an Arrow
# round-trip (~50-100 ms floor, and the most phantom-load-sensitive
# shape on a contended host — r14 driver measured q_minhash_pairs
# 2.28→5.18s at 32 workers on a degraded host while the SAME code was
# faster at 8 workers); below this many rows per partition the worker
# floor dominates the vectorized compute it buys.
ARROW_ROWS_FLOOR = 256


def fan_out(df: DataFrame) -> DataFrame:
    """Repartition to full parallelism BEFORE a CPU-bound map stage.  A
    single-row-group parquet scan or a localCheckpoint arrives in 1-2
    partitions no matter what maxPartitionBytes says, so every map stage
    downstream of it would run on 1-2 cores (SCALE.md r13/r14 has the
    measured wins).  One narrow shuffle; at cluster scale scans arrive
    pre-parallel and this is a cheap exchange.  The only reader of
    ``defaultParallelism`` besides :func:`arrow_fanout`."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


def arrow_fanout(df: DataFrame, rows_floor: int = ARROW_ROWS_FLOOR) -> DataFrame:
    """Repartition a narrow projection ahead of a ``mapInPandas`` stage,
    with the partition count BOUNDED BY INPUT SIZE:
    ``min(defaultParallelism, ceil(n / rows_floor))``.

    ``n`` comes from a LIMIT-bounded count — it never scans more than
    ``defaultParallelism * rows_floor`` rows, so the probe job stays a
    few milliseconds at any scale (and column-prunes to a bare row
    count).  Tiny inputs route through few Python workers (the worker
    spin-up floor, not the shuffle, is the cost there); genuine scale
    (n ≥ parallelism·floor) keeps full parallelism, which is where the
    fan-out wins live (single-row-group scans would otherwise run the
    whole Arrow stage on one core).

    The probe is EAGER: calling this runs a Spark job at plan-
    construction time, and the input lineage is evaluated twice (the
    probe, then the real stage).  Cheap over a scan or a checkpoint;
    a caller holding an expensive un-pinned lineage should pin it
    first.
    """
    sc = df.sparkSession.sparkContext
    parallelism = sc.defaultParallelism
    n = df.limit(parallelism * rows_floor).count()
    return df.repartition(max(1, min(parallelism,
                                     -(-n // rows_floor))))


def _s(*fields: tuple[str, object]) -> StructType:
    return StructType([StructField(n, t, True) for n, t in fields])


# ---------------------------------------------------------------------------
# Synthetic TPC-H-ish test tables (TESTDATA.md)
# ---------------------------------------------------------------------------

REGION = _s(("r_regionkey", IntegerType()), ("r_name", StringType()))

NATION = _s(("n_nationkey", IntegerType()), ("n_name", StringType()),
            ("n_regionkey", IntegerType()))

CUSTOMER = _s(("c_custkey", LongType()), ("c_name", StringType()),
              ("c_nationkey", IntegerType()), ("c_acctbal", DoubleType()),
              ("c_mktsegment", StringType()))

SUPPLIER = _s(("s_suppkey", LongType()), ("s_name", StringType()),
              ("s_nationkey", IntegerType()), ("s_acctbal", DoubleType()))

PART = _s(("p_partkey", LongType()), ("p_name", StringType()),
          ("p_brand", StringType()), ("p_type", StringType()),
          ("p_size", IntegerType()), ("p_retailprice", DoubleType()))

ORDERS = _s(("o_orderkey", LongType()), ("o_custkey", LongType()),
            ("o_orderstatus", StringType()), ("o_totalprice", DoubleType()),
            ("o_orderdate", TimestampType()), ("o_orderpriority", StringType()))

LINEITEM = _s(("l_orderkey", LongType()), ("l_partkey", LongType()),
              ("l_suppkey", LongType()), ("l_linenumber", IntegerType()),
              ("l_quantity", DoubleType()), ("l_extendedprice", DoubleType()),
              ("l_discount", DoubleType()), ("l_tax", DoubleType()),
              ("l_returnflag", StringType()), ("l_linestatus", StringType()),
              ("l_shipdate", TimestampType()))

EVENTS = _s(("event_id", LongType()), ("ts", TimestampType()),
            ("user_id", LongType()), ("event_type", StringType()),
            ("value", DoubleType()), ("props", StringType()))

DOCUMENTS = _s(("doc_id", LongType()), ("text", StringType()),
               ("lang", StringType()), ("source", StringType()),
               ("n_chars", LongType()))

EMBEDDINGS = _s(("vec_id", LongType()), ("embedding", ArrayType(FloatType())),
                ("label", IntegerType()))

TEST_TABLES: dict[str, StructType] = {
    "region": REGION, "nation": NATION, "customer": CUSTOMER,
    "supplier": SUPPLIER, "part": PART, "orders": ORDERS,
    "lineitem": LINEITEM, "events": EVENTS, "documents": DOCUMENTS,
    "embeddings": EMBEDDINGS,
}


# ---------------------------------------------------------------------------
# Reference-domain schemas (tracking tables; SURVEY §1.2)
# ---------------------------------------------------------------------------

TRACKING_INPUT = _s(
    ("game_id", LongType()), ("play_id", LongType()),
    ("player_to_predict", BooleanType()), ("nfl_id", LongType()),
    ("frame_id", IntegerType()), ("play_direction", StringType()),
    ("absolute_yardline_number", IntegerType()), ("player_name", StringType()),
    ("player_height", StringType()), ("player_weight", IntegerType()),
    ("player_birth_date", StringType()), ("player_position", StringType()),
    ("player_side", StringType()), ("player_role", StringType()),
    ("x", DoubleType()), ("y", DoubleType()), ("s", DoubleType()),
    ("a", DoubleType()), ("dir", DoubleType()), ("o", DoubleType()),
    ("num_frames_output", IntegerType()),
    ("ball_land_x", DoubleType()), ("ball_land_y", DoubleType()),
)

TRACKING_OUTPUT = _s(
    ("game_id", LongType()), ("play_id", LongType()), ("nfl_id", LongType()),
    ("frame_id", IntegerType()), ("x", DoubleType()), ("y", DoubleType()),
)
