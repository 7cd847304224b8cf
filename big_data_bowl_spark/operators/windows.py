"""Partitioned analytic windows (SURVEY §2.5, W6–W11).

Each replaces a reference idiom that in pandas needs a sort + groupby +
join-back; in Spark each is one window over the same (group, order) spec so
a single hash-shuffle on the group keys serves all of them.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.scalar import zscore_expr
from ..schemas import require_columns


def zscore_in_group(df: DataFrame, col: str, group: list[str], out: str,
                    ddof: int = 0, clip3: bool = False,
                    negate: bool = False) -> DataFrame:
    """W6: within-group z-score transform (metrics.py:97-122).  ddof=0 →
    stddev_pop (the reference's default at metrics.py:112); ddof=1 →
    stddev_samp (routes.py:102 uses pandas default).  Divide-by-zero → 0.0,
    optional ±3 clip, optional negation (Phase3#cell14 RouteExecIQ).

    Group stats come from an AGGREGATE + broadcast join-back, not an
    unbounded window: the grouping keys here are LOW-cardinality (5
    event types, 12 route clusters), so a whole-partition window would
    cap parallelism at the group count and funnel the full fact table
    through a handful of tasks.  The aggregate partial-combines map-side
    at full parallelism, the k-row stats table broadcasts, and the
    z-score itself stays a map-side expression — no wide shuffle of the
    fact at all (plan-shape-tested)."""
    stats = df.groupBy(*group).agg(
        F.avg(col).alias("__mu"),
        (F.stddev_pop(col) if ddof == 0
         else F.stddev_samp(col)).alias("__sd"))
    z = zscore_expr(F.col(col), F.col("__mu"), F.col("__sd"), clip3=clip3)
    return (df.join(F.broadcast(stats), group, "left")
              .withColumn(out, -z if negate else z)
              .drop("__mu", "__sd"))


def rank_desc(df: DataFrame, score: str, out: str = "rank",
              group: list[str] | None = None) -> DataFrame:
    """W7: competition rank, highest score = 1 (metrics.py:348
    ``rank(method='min', ascending=False)``).  Cast long so the schema
    matches SQL oracles (DuckDB rank() is BIGINT)."""
    w = (Window.partitionBy(*group) if group else Window.partitionBy())
    return df.withColumn(out, F.rank().over(w.orderBy(F.desc(score))).cast("long"))


def _bucket_staged(df: DataFrame, first: str, n: int,
                   order_exprs: list, descending: bool) -> DataFrame:
    """Deterministic order-respecting partition ids for the distributed
    rank/cumsum operators.

    THE invariant both operators rest on: the partition id of a row
    must be the SAME in every re-execution of the plan, because the
    windowed relation feeds two consumer subtrees (the offsets pass and
    the output join) and Spark re-executes the subtree per consumer
    (column pruning keeps ReuseExchange from deduplicating them).  The
    original `repartitionByRange` + `spark_partition_id()` form broke
    it — range boundaries are SAMPLED with an execution-dependent seed,
    and offsets computed under one sampled partitioning joined rows
    computed under another, silently corrupting 5715 of 6583 cumulative
    rows at sf0.01 (caught by the AUC oracle; KS had been green on
    plan-shape luck).

    Numeric first-order-column (every current caller): collect ~n
    approximate quantile boundaries ONCE to the driver (a single-column
    pass; boundary QUALITY only affects partition balance, never
    values) and compute the bucket id IN-ROW against the literal
    array — a pure function of the row, identical in every execution,
    with zero materialization (the hash exchange on ``__pid`` happens
    at the window, same cost class as the range exchange it replaces).
    Equal first-column values always share a bucket (strict
    comparison), preserving the ties-never-straddle invariant.
    Boundary comparisons require a NON-NULL first column.

    Non-numeric ordering falls back to range partitioning PINNED by an
    eager localCheckpoint — materialization as the price of a stable
    id."""
    from pyspark.sql.types import NumericType
    if isinstance(df.schema[first].dataType, NumericType):
        probs = [i / n for i in range(1, n)]
        bounds = df.approxQuantile(first, probs, 1.0 / (4 * n))
        bs = sorted({float(b) for b in bounds})
        if not bs:
            return df.withColumn("__pid", F.lit(0))
        arr = F.array(*[F.lit(b) for b in bs])
        col = F.col(first)
        pid = (F.size(F.filter(arr, lambda b: col < b)) if descending
               else F.size(F.filter(arr, lambda b: col > b)))
        return df.withColumn("__pid", pid)
    staged = (df.repartitionByRange(n, *order_exprs)
                .withColumn("__pid", F.spark_partition_id()))
    return staged.localCheckpoint(eager=True)


def rank_desc_distributed(df: DataFrame, score: str, out: str = "rank",
                          tiebreak: list[str] | None = None,
                          partitions: int | None = None) -> DataFrame:
    """W7 at unbounded cardinality: competition rank (method='min',
    descending) WITHOUT the single-task empty-partition window.

    Three-phase: (1) assign every row a DETERMINISTIC order-respecting
    bucket id (in-row comparison against driver-collected quantile
    boundaries — see :func:`_bucket_staged`; equal scores share a
    bucket, so ties never straddle a boundary); (2) rank locally within
    each bucket; (3) per-bucket row counts (a ``partitions``-row table)
    cumulative-sum into offsets and broadcast back, so ``rank =
    local_rank + offset``.  The only whole-dataset operation is the
    hash exchange on the bucket id; the global pass runs over
    `partitions` rows.

    Use when the ranked frame is fact-grain.  For post-aggregation boards
    (thousands of rows) the plain :func:`rank_desc` window is cheaper —
    one exchange, no join."""
    require_columns(df, [score], "rank_desc_distributed")
    n = int(partitions or df.sparkSession.conf.get(
        "spark.sql.shuffle.partitions", "32"))
    order = [F.desc(score), *[F.asc(c) for c in (tiebreak or [])]]
    staged = _bucket_staged(df, score, n, order, descending=True)
    local = staged.withColumn(
        "__lr", F.rank().over(Window.partitionBy("__pid").orderBy(*order)))
    woff = (Window.orderBy("__pid")
                  .rowsBetween(Window.unboundedPreceding, -1))
    offs = (staged.groupBy("__pid")
                  .agg(F.count(F.lit(1)).alias("__n"))
                  .withColumn("__off", F.coalesce(F.sum("__n").over(woff),
                                                  F.lit(0))))
    # competition-rank boundary invariant: without a tiebreak, equal
    # scores are one range key and land in ONE partition, so earlier
    # partitions hold strictly-greater rows only.  With a tiebreak the
    # ordering must be UNIQUE (rank == row_number), which straddles
    # safely.  Non-unique tiebreaks would break ties across partitions.
    return (local.join(F.broadcast(offs.select("__pid", "__off")), "__pid")
                 .withColumn(out, (F.col("__lr") + F.col("__off"))
                             .cast("long"))
                 .drop("__pid", "__lr"))


def cumsum_distributed(df: DataFrame, order: list[str],
                       sums: list[str],
                       partitions: int | None = None,
                       keep_pid: bool = False) -> DataFrame:
    """Globally-ordered prefix sums WITHOUT the single-reducer window —
    the cumulative-sum sibling of :func:`rank_desc_distributed`, same
    three-phase deterministic-bucket discipline:

    (1) assign in-row bucket ids against driver-collected quantile
    boundaries (:func:`_bucket_staged` — every bucket holds a
    contiguous key range); (2) local ``rowsBetween(unbounded, 0)``
    prefix sums within each bucket; (3) per-bucket totals (a
    ``partitions``-row table) prefix-sum into offsets on the driver-
    scale grain and broadcast back, so ``cum = local + offset``.  The
    only whole-dataset operations are the bucket hash exchange and the
    local window; the global ordering pass touches `partitions` rows.

    The ordering over ``order`` must be UNIQUE (e.g. a distinct-value
    grain): equal keys may straddle a range boundary, and a non-unique
    ordering would make their relative prefix order non-deterministic.
    The ``sums`` columns must be NON-NULL: window sums skip nulls, so
    an all-null prefix inside one range partition would yield a null
    local prefix where the single-window form still carries the
    earlier partitions' running total.  Appends one ``cum_<col>``
    column per entry in ``sums``."""
    require_columns(df, [*order, *sums], "cumsum_distributed")
    n = int(partitions or df.sparkSession.conf.get(
        "spark.sql.shuffle.partitions", "32"))
    order_exprs = [F.asc(c) for c in order]
    staged = _bucket_staged(df, order[0], n, order_exprs,
                            descending=False)
    w_local = (Window.partitionBy("__pid").orderBy(*order_exprs)
                     .rowsBetween(Window.unboundedPreceding, 0))
    local = staged.select(
        "*", *[F.sum(c).over(w_local).alias(f"__l_{c}") for c in sums])
    # Per-partition totals derive FROM the local prefix result (the
    # prefix at each partition's LAST row IS its total, via max_by on
    # the unique ordering).  The offsets window IS single-partition —
    # over `partitions` rows, by design the only global pass.
    last_key = F.struct(*[F.col(c) for c in order])
    woff = (Window.orderBy("__pid")
                  .rowsBetween(Window.unboundedPreceding, -1))
    offs = (local.groupBy("__pid")
                 .agg(*[F.max_by(f"__l_{c}", last_key).alias(f"__t_{c}")
                        for c in sums])
                 .select("__pid",
                         *[F.coalesce(F.sum(f"__t_{c}").over(woff),
                                      F.lit(0)).alias(f"__o_{c}")
                           for c in sums]))
    out = local.join(F.broadcast(offs), "__pid")
    for c in sums:
        out = out.withColumn(f"cum_{c}",
                             F.col(f"__l_{c}") + F.col(f"__o_{c}"))
    # keep_pid lets a caller run FURTHER order-respecting window work
    # (e.g. neighbor gaps) on the same staged relation instead of paying
    # a second quantile collection + bucket exchange
    out = out.drop(*[f"__l_{c}" for c in sums],
                   *[f"__o_{c}" for c in sums])
    return out if keep_pid else out.drop("__pid")


def argmax_rows(df: DataFrame, col: str, group: list[str]) -> DataFrame:
    """W8: keep rows where ``col == max(col) per group`` — the reference's
    throw-frame / catch-frame selection (preprocess.py:366-373,479-482),
    expressed as a window filter instead of agg + join-back."""
    require_columns(df, [col, *group], "argmax_rows")
    w = Window.partitionBy(*group)
    return (df.withColumn("__gmax", F.max(col).over(w))
              .filter(F.col(col) == F.col("__gmax"))
              .drop("__gmax"))


def dedup_keep_last(df: DataFrame, keys: list[str], order: list[str],
                    tiebreak: list[str] | None = None) -> DataFrame:
    """W9: one row per key, keeping the last by ``order`` —
    ``sort_values().drop_duplicates(keep='last')`` (metrics.py:260-265).
    pandas relies on stable sort order; Spark needs the explicit tie-break
    (SURVEY §7.5 risk 4), appended after the ordering columns."""
    ordering = [F.desc(c) for c in order] + [F.desc(c) for c in (tiebreak or [])]
    w = Window.partitionBy(*keys).orderBy(*ordering)
    return (df.withColumn("__rn", F.row_number().over(w))
              .filter(F.col("__rn") == 1).drop("__rn"))


def topk_per_group(df: DataFrame, group: list, order: list[Column],
                   k) -> DataFrame:
    """W10/O3: the first ``k`` rows per group under the sort Columns
    ``order`` (grp.tail(n), nlargest, top player per route —
    sequences.py:82, viz.py:586-594, _inisghts.ipynb#cell3).  ``group``
    takes names or Columns; ``k`` may be a Column for a per-row bound.
    One ``row_number`` window: every ≤ k ranking in the engine, the ANN
    re-ranks included, goes through here."""
    w = Window.partitionBy(*group).orderBy(*order)
    return (df.withColumn("__rn", F.row_number().over(w))
              .filter(F.col("__rn") <= k).drop("__rn"))


def closest_to_median(df: DataFrame, col: str, group: list[str],
                      tiebreak: list[str]) -> DataFrame:
    """W11: the group's most-representative row — argmin |x − median(group)|
    (viz.py:327-336).  Exact percentile (not approx) so oracle comparisons
    hold (SURVEY §4.3 item 5; swap in percentile_approx at corpus scale,
    where exact percentile buffers the group).

    Shape: median via aggregate + broadcast join-back, argmin via
    ``min(struct(dist, tiebreak…, row))`` — both partial-aggregable at
    full parallelism.  The former window form sorted every group on a
    single task, capping parallelism at the (low-cardinality) group
    count."""
    require_columns(df, [col, *group, *tiebreak], "closest_to_median")
    stats = df.groupBy(*group).agg(
        F.percentile(col, F.lit(0.5)).alias("__med"))
    rest = [c for c in df.columns if c not in group]
    ordered = [*tiebreak, *[c for c in rest if c not in tiebreak]]
    picked = (df.join(F.broadcast(stats), group)
                .withColumn("__dist", F.abs(F.col(col) - F.col("__med")))
                .groupBy(*group)
                .agg(F.min(F.struct("__dist", *ordered)).alias("__best")))
    return picked.select(
        *group, *[F.col(f"__best.{c}").alias(c) for c in rest])


def skyline_2d(df: DataFrame, d1: str, d2: str) -> DataFrame:
    """2-D skyline (Pareto frontier, maximize both): rows not dominated
    by any other row — the multi-criteria shortlist query (Börzsönyi et
    al. 2001's SKYLINE OF).  p dominates q iff p ≥ q on both dimensions
    and > on at least one.

    Never the O(n²) self-join.  The 2-D structure makes dominance a
    prefix problem: a row (a, b) survives iff

      (1) b  >  max{ b' : a' > a }   — beats every strictly-better-d1
                                       row on d2, and
      (2) b  =  max{ b' : a' = a }   — tops its own d1 tie group
                                       (ties on both dims all survive).

    Phase shape: collapse to the DISTINCT-d1 grain (one exchange,
    map-side combine) carrying max(d2) per d1; compute the strict-prefix
    running max over d1-descending with the SAME three-phase
    deterministic-bucket discipline as :func:`cumsum_distributed` —
    in-row bucket ids from driver-collected quantile boundaries, local
    window running max, per-bucket totals prefix-folded on the
    ``partitions``-row grain and broadcast back (max is associative, so
    the offset fold is exact).  No single-reducer whole-data window
    anywhere; the fact table is touched twice (the collapse + the final
    filter join on d1, a distinct-grain broadcast-or-shuffle equi-join).

    Both dimensions should be exact-comparable (integers / cents) —
    dominance on rounded floats is engine-unstable.  Returns df's rows
    (all columns) that lie on the frontier."""
    require_columns(df, [d1, d2], "skyline_2d")
    grain = (df.groupBy(d1).agg(F.max(d2).alias("__best"))
               .localCheckpoint(eager=True))
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    staged = _bucket_staged(grain, d1, n, [F.desc(d1)], descending=True)
    # rows strictly earlier in the d1-descending order have d1 > current
    # (the grain is distinct on d1, and equal d1 shares a bucket)
    w_local = (Window.partitionBy("__pid").orderBy(F.desc(d1))
                     .rowsBetween(Window.unboundedPreceding, -1))
    local = staged.withColumn("__lmax", F.max("__best").over(w_local))
    woff = (Window.orderBy("__pid")
                  .rowsBetween(Window.unboundedPreceding, -1))
    offs = (staged.groupBy("__pid")
                  .agg(F.max("__best").alias("__t"))
                  .withColumn("__omax", F.max("__t").over(woff))
                  .select("__pid", "__omax"))
    frontier = (local.join(F.broadcast(offs), "__pid")
                     .withColumn("__m1", F.greatest(F.col("__lmax"),
                                                    F.col("__omax")))
                     .filter(F.col("__m1").isNull()
                             | (F.col("__best") > F.col("__m1")))
                     .select(d1, "__best"))
    return (df.join(frontier, d1)
              .filter(F.col(d2) == F.col("__best"))
              .drop("__best"))


def median_distributed(df: DataFrame, col: str,
                       tiebreak: list[str] | None = None,
                       buckets: int = 1024) -> DataFrame:
    """Exact median (quantile_cont(0.5) semantics: mean of the two
    middle positions when n is even) via distributed SELECTION, not
    sorting: a value-range histogram locates the bucket holding each
    target position, and only those buckets' rows (≈ n/buckets each)
    pay a sort.  Two linear scans + one tiny window — no global sort,
    no single-reducer percentile buffer (F.percentile's sort measured
    10s at 2.9M rows; this runs the same median in ~1s).

    The float bucketing is internal machinery, not a cross-engine
    contract: a value maps to exactly one bucket, so ties never
    straddle, and the selected ORDER STATISTIC is algorithm-independent
    — an oracle may compute the same median any way it likes.  The
    degenerate all-equal-values input collapses into one bucket (one
    full sort); callers with that shape don't need a median.

    ``tiebreak`` columns (with ``col``, a unique total order) make the
    within-bucket row_number deterministic; ties in ``col`` alone are
    value-equal, so the result is unaffected either way.  Returns a
    1-row DataFrame (n, median)."""
    require_columns(df, [col], "median_distributed")
    # NULLs are excluded up front (quantile_cont semantics): counting
    # them in n while least(buckets-1, NULL) dumps them into the top
    # bucket would shift every selected position — a review-confirmed
    # wrong-median bug on NULL-bearing inputs.  CALLER NOTE: this
    # IS NOT NULL predicate can be pushed below upstream joins, where
    # ANSI mode evaluates it on rows the join condition would exclude —
    # if ``col`` is a division (or other partial expression) guarded by
    # a join condition, build it with try_divide/try_* (see
    # q_theil_sen's slopes, which hit exactly this).
    df = df.filter(F.col(col).isNotNull())
    # 1-row/2-row intermediates pin eagerly: each broadcast consumer
    # would otherwise re-execute the full upstream scan per reference
    ext = df.agg(F.min(col).alias("__lo"), F.max(col).alias("__hi"),
                 F.count(F.lit(1)).alias("__n")) \
            .localCheckpoint(eager=True)
    span = F.col("__hi") - F.col("__lo")
    b = F.when(span == 0, F.lit(0)).otherwise(
        F.least(F.lit(buckets - 1),
                F.floor((F.col(col) - F.col("__lo")) / span * buckets)))
    withb = (df.crossJoin(F.broadcast(ext))
               .withColumn("__b", b.cast("long")))
    hist = (withb.groupBy("__b").agg(F.count(F.lit(1)).alias("__c")))
    wcum = Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, 0)
    cum = (hist.withColumn("__cum", F.sum("__c").over(wcum))
               .crossJoin(F.broadcast(ext.select("__n"))))
    # the two quantile_cont(0.5) positions (1-indexed, equal when odd)
    m1 = F.floor((F.col("__n") + 1) / 2).cast("long")
    m2 = (F.floor(F.col("__n") / 2) + 1).cast("long")
    targets = (cum.select(
        "__b", "__cum", "__c",
        F.explode(F.array(m1, m2)).alias("__m"))
        .filter((F.col("__cum") - F.col("__c") < F.col("__m"))
                & (F.col("__m") <= F.col("__cum")))
        .select("__b",
                (F.col("__m") - (F.col("__cum") - F.col("__c")))
                .alias("__k"))
        .localCheckpoint(eager=True))
    t2 = targets.select(F.col("__b").alias("__tb"), "__k")
    order = [F.asc(col), *[F.asc(c) for c in (tiebreak or [])]]
    wk = Window.partitionBy("__b").orderBy(*order)
    picked = (withb.join(F.broadcast(t2.select("__tb").distinct()
                                     .withColumnRenamed("__tb", "__b")),
                         "__b", "left_semi")
                   .withColumn("__rn", F.row_number().over(wk))
                   .join(F.broadcast(t2),
                         (F.col("__b") == F.col("__tb"))
                         & (F.col("__rn") == F.col("__k")))
                   .select(F.col(col).alias("__v")))
    return (picked.crossJoin(F.broadcast(ext.select("__n")))
                  .groupBy()
                  .agg(F.max("__n").alias("n"),
                       F.avg("__v").alias("median")))
