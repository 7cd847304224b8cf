"""Multi-dimensional data layout: Z-order (Morton) clustering.

At 100 TB the dominant cost is the scan, and the scan is only cheap when
file/row-group min-max statistics prune it.  Range-partitioning by ONE
column prunes filters on that column alone; interleaving the bits of TWO
(or more) normalized columns into a Z-value and range-partitioning by it
gives every interleaved dimension partial locality — a filter on either
column skips most files (the Delta/Iceberg OPTIMIZE ZORDER idea, built
here from plain Spark expressions: no UDF, no RDD).

The Z-value itself is deterministic integer arithmetic (min-max
normalize to ``bits`` bits via an aggregate + 1-row broadcast, then bit
interleave) — engine-reproducible, so it carries a DuckDB oracle twin.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..schemas import require_columns


def _interleave2(x: Column, y: Column, bits: int) -> Column:
    """Morton-interleave two ``bits``-bit non-negative ints: bit b of x
    lands at 2b, bit b of y at 2b+1.  Unrolled to 2·bits constant shift/
    mask terms — pure integer exprs, whole-stage-codegen friendly."""
    out = F.lit(0).cast("long")
    for b in range(bits):
        out = out + F.shiftleft(F.shiftrightunsigned(x, b).bitwiseAND(F.lit(1)),
                                2 * b)
        out = out + F.shiftleft(F.shiftrightunsigned(y, b).bitwiseAND(F.lit(1)),
                                2 * b + 1)
    return out


def with_zorder(df: DataFrame, col_x: str, col_y: str,
                bits: int = 16, out: str = "zval") -> DataFrame:
    """Append a Z-order value over two numeric columns.

    Normalization is min-max to ``[0, 2^bits)`` in exact BIGINT
    arithmetic (``(v − min) · (2^bits − 1) div (max − min)``) — bounds
    come from an aggregate + 1-row broadcast crossJoin (map-side
    combinable; no whole-partition window).  Constant columns normalize
    to 0.  Nulls propagate to a null Z-value (sorts first, harmless for
    layout)."""
    require_columns(df, [col_x, col_y], "with_zorder")
    top = F.lit((1 << bits) - 1).cast("long")
    ext = df.agg(F.min(col_x).cast("long").alias("__xlo"),
                 F.max(col_x).cast("long").alias("__xhi"),
                 F.min(col_y).cast("long").alias("__ylo"),
                 F.max(col_y).cast("long").alias("__yhi"))

    def norm(v: Column, lo: Column, hi: Column) -> Column:
        # exact BIGINT product, then floor-division — (v−lo)·top ≤
        # span·2^16 stays well inside double's 2^53 exact range, and
        # floor(a/b) on non-negatives matches DuckDB's // bit-for-bit
        span = hi - lo
        return F.when(span == 0, F.lit(0).cast("long")).otherwise(
            F.floor(((v.cast("long") - lo) * top) / span)).cast("long")

    zx = norm(F.col(col_x), F.col("__xlo"), F.col("__xhi"))
    zy = norm(F.col(col_y), F.col("__ylo"), F.col("__yhi"))
    return (df.crossJoin(F.broadcast(ext))
              .withColumn(out, _interleave2(zx, zy, bits))
              .drop("__xlo", "__xhi", "__ylo", "__yhi"))


def write_zordered(df: DataFrame, path: str, col_x: str, col_y: str,
                   n_files: int = 8, bits: int = 16,
                   mode: str = "overwrite") -> None:
    """Write parquet clustered on the Z-value of (col_x, col_y):
    ``repartitionByRange`` splits the Z-space into ``n_files`` contiguous
    ranges (one shuffle — a range exchange with a sampled boundary pass)
    and ``sortWithinPartitions`` keeps row groups tight, so parquet
    min-max stats on BOTH source columns become selective and a filter on
    either column prunes most files.  The helper column is dropped from
    the stored schema."""
    zdf = with_zorder(df, col_x, col_y, bits=bits, out="__z")
    (zdf.repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode(mode).parquet(path))


def hilbert_xy2d_py(bits: int, x: int, y: int) -> int:
    """Python reference for the Hilbert index (xy2d, reflection against
    the FULL grid n−1 so coordinates stay in [0, n) — no negative values
    anywhere, which is what lets the SQL twin use plain bit tests).
    Kept next to the expression builder so tests can pin engine ≡
    reference and the curve's defining properties (bijectivity +
    unit-step adjacency) directly."""
    n = 1 << bits
    d = 0
    s = n // 2
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x = n - 1 - x
                y = n - 1 - y
            x, y = y, x
        s //= 2
    return d


def with_hilbert(df: DataFrame, col_x: str, col_y: str,
                 bits: int = 8, out: str = "hval",
                 normalize: bool = True) -> DataFrame:
    """Append a Hilbert-curve value over two numeric columns — the
    space-filling layout key with strictly better locality than Z-order
    (consecutive Hilbert cells are always grid-adjacent; Morton order
    jumps).  Same contract as :func:`with_zorder`: min-max normalize to
    ``[0, 2^bits)`` in exact integer arithmetic (skip with
    ``normalize=False`` when inputs are already in range), then the
    ``bits`` reflect/swap rounds.

    The rounds run in ONE vectorized pandas UDF over the two normalized
    long columns (see the inline note below); as expressions, the
    rotation references x/y twice, so a nested build would grow ~3× per
    round.  The SQL oracle twin mirrors the rounds as chained CTE stages
    for that reason.  A null coordinate gives a null value (sorts
    first, harmless for layout), as in :func:`with_zorder`."""
    require_columns(df, [col_x, col_y], "with_hilbert")
    n = 1 << bits
    if normalize:
        top = F.lit(n - 1).cast("long")
        ext = df.agg(F.min(col_x).cast("long").alias("__xlo"),
                     F.max(col_x).cast("long").alias("__xhi"),
                     F.min(col_y).cast("long").alias("__ylo"),
                     F.max(col_y).cast("long").alias("__yhi"))

        def norm(v: Column, lo: Column, hi: Column) -> Column:
            span = hi - lo
            return F.when(span == 0, F.lit(0).cast("long")).otherwise(
                F.floor(((v.cast("long") - lo) * top) / span)).cast("long")

        cur = (df.crossJoin(F.broadcast(ext))
                 .withColumn("__hx", norm(F.col(col_x), F.col("__xlo"),
                                          F.col("__xhi")))
                 .withColumn("__hy", norm(F.col(col_y), F.col("__ylo"),
                                          F.col("__yhi")))
                 .drop("__xlo", "__xhi", "__ylo", "__yhi"))
    else:
        cur = (df.withColumn("__hx", F.col(col_x).cast("long"))
                 .withColumn("__hy", F.col(col_y).cast("long")))
    # Rounds: one pandas UDF over (hx, hy); see SCALE.md "Hilbert UDF".
    @pandas_udf("long")
    def _hval(hx: pd.Series, hy: pd.Series) -> pd.Series:
        import numpy as np
        # a null coordinate arrives as NaN (float64 column): compute on
        # 0 in its place, then null the result
        null = (hx.isna() | hy.isna()).to_numpy()
        x = hx.fillna(0).to_numpy(dtype=np.int64).copy()
        y = hy.fillna(0).to_numpy(dtype=np.int64).copy()
        d = np.zeros(len(x), dtype=np.int64)
        for i in reversed(range(bits)):
            s = 1 << i
            rx = ((x & s) > 0).astype(np.int64)
            ry = ((y & s) > 0).astype(np.int64)
            d += (s * s) * ((3 * rx) ^ ry)
            refl_x = np.where(rx == 1, (n - 1) - y, y)
            refl_y = np.where(rx == 1, (n - 1) - x, x)
            swap = ry == 0
            x, y = (np.where(swap, refl_x, x),
                    np.where(swap, refl_y, y))
        hval = pd.Series(pd.array(d, dtype="Int64"))
        hval[null] = pd.NA
        return hval

    return (cur.withColumn(out, _hval(F.col("__hx"), F.col("__hy")))
               .drop("__hx", "__hy"))

