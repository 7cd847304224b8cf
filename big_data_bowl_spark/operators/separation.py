"""Separation operators — the reference's distinctive within-group
cross-join family (SURVEY §2.3 J6/J7/J8), generalized.

Reference sites:
- compute_catch_separation (preprocess.py:441-513): offense × defense at the
  catch frame, min Euclidean distance per offensive player.
- compute_initial_separation_at_throw (preprocess.py:330-402): same at the
  throw frame (max input frame).
- calculate_defender_separation (BDB_2026.ipynb#cell69): per-frame variant,
  written as a Python nested loop flagged "This may take a minute..." — here
  it is the SAME equi-join keyed one level deeper (frame included), which is
  both correct and embarrassingly parallel.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.scalar import euclidean
from .joins import nearest_in_group
from .windows import argmax_rows

# Hard cap on adaptive-ladder depth: each rung is a full re-grid plus an
# eager checkpoint job, so a pathological geometry must not buy dozens.
_MAX_RUNGS = 8


def separation_at_frame(tracking: DataFrame, group: list[str],
                        entity: str, side_col: str,
                        left_side: str, right_side: str,
                        x: str = "x", y: str = "y",
                        per_frame: bool = False, frame: str = "frame_id",
                        default: float | None = None) -> DataFrame:
    """Min distance from each ``left_side`` entity to any ``right_side``
    entity, per group (optionally per frame).  J6/J7/J8 unified."""
    keys = group + ([frame] if per_frame else [])
    left = (tracking.filter(F.lower(F.col(side_col)) == left_side.lower())
                    .select(*keys, entity, x, y))
    right = (tracking.filter(F.lower(F.col(side_col)) == right_side.lower())
                     .select(*keys,
                             F.col(x).alias("__rx"), F.col(y).alias("__ry")))
    dist = euclidean(F.col(f"l.{x}"), F.col(f"l.{y}"),
                     F.col("r.__rx"), F.col("r.__ry"))
    return nearest_in_group(left, right, keys, entity, dist,
                            out="separation", default=default,
                            right_cols=["__rx", "__ry"])


def separation_at_max_frame(tracking: DataFrame, group: list[str],
                            entity: str, side_col: str,
                            left_side: str, right_side: str,
                            frame: str = "frame_id",
                            **kw) -> DataFrame:
    """J7: restrict to the argmax frame per group (throw/catch frame, W8),
    then compute separation there."""
    at_frame = argmax_rows(tracking, frame, group)
    return separation_at_frame(at_frame, group, entity, side_col,
                               left_side, right_side, **kw)


def _grid_best(p: DataFrame, width: float, max_d2: float,
               carry: tuple[str, ...], predicate, k: int) -> DataFrame:
    """Best ``k`` (min-d², min-id tie-break) candidates per point among
    the 3×3 ``width``-cell neighborhood, pairs filtered to d² ≤
    ``max_d2`` — the kernel of the first ladder rung and of the
    single-level form.  Probes replicate 9×, join the cell key exactly
    (plain equi-join, never a cross join).  ``carry`` threads extra
    columns through both sides (as __q_<c> / __n_<c>) and ``predicate``
    (a 0-arg callable returning a Column over those) restricts the
    candidate SUBSET — e.g. hard-negative mining's label mismatch.  The
    two-level refinement stays exact for any such row predicate: the
    subset is identical at both levels, so the L∞ block bound applies
    unchanged.  Input ``p`` carries (__id, __x, __y, *carry).
    Returns (__qid, __nid, __d2)."""
    c = (p.withColumn("__cx", F.floor(F.col("__x") / width))
          .withColumn("__cy", F.floor(F.col("__y") / width)))
    offsets = F.array(*[F.struct(F.lit(dx).alias("ox"),
                                 F.lit(dy).alias("oy"))
                        for dx in (-1, 0, 1) for dy in (-1, 0, 1)])
    probes = (c.withColumn("__o", F.explode(offsets))
                .select(F.col("__id").alias("__qid"),
                        F.col("__x").alias("__qx"),
                        F.col("__y").alias("__qy"),
                        (F.col("__cx") + F.col("__o.ox")).alias("__jx"),
                        (F.col("__cy") + F.col("__o.oy")).alias("__jy"),
                        *[F.col(cc).alias(f"__q_{cc}") for cc in carry]))
    src = c.select(F.col("__id").alias("__nid"), "__x", "__y",
                   F.col("__cx").alias("__jx"), F.col("__cy").alias("__jy"),
                   *[F.col(cc).alias(f"__n_{cc}") for cc in carry])
    dist2 = ((F.col("__qx") - F.col("__x"))
             * (F.col("__qx") - F.col("__x"))
             + (F.col("__qy") - F.col("__y"))
             * (F.col("__qy") - F.col("__y")))
    pairs = (probes.join(src, ["__jx", "__jy"])
                   .filter(F.col("__qid") != F.col("__nid"))
                   .withColumn("__d2", dist2))
    if predicate is not None:
        pairs = pairs.filter(predicate())
    pairs = pairs.filter(F.col("__d2") <= F.lit(max_d2))
    from pyspark.sql import Window
    w = Window.partitionBy("__qid").orderBy(F.asc("__d2"), F.asc("__nid"))
    return (pairs.withColumn("__rn", F.row_number().over(w))
                 .filter(F.col("__rn") <= k)
                 .select("__qid", "__nid", "__d2", "__rn"))


def _ladder_widths(p: DataFrame, radius: float, refine: int,
                   target_occupancy: float) -> list[float] | None:
    """Derive the refinement-ladder rung widths for a point frame
    (``__x``/``__y`` columns).  ``None`` means run single-level at the
    radius width (sparse / degenerate / refine<=1).

    With ``target_occupancy`` = K, one driver-scale stats
    job (count + bbox, 5 scalars) sizes the finest width so the
    EXPECTED candidates per probe is K — w₀ = √(K·area/(9n)) in 2-D,
    K·extent/(3n) when one extent collapses below a cell (1-D data) —
    then geometric rungs ×8, skipping any within ×2 of the radius
    (such a rung resolves little the backstop wouldn't, but costs a
    full re-grid + checkpoint of job latency — the small-SF tax)."""
    if refine <= 1:
        return None
    if not (target_occupancy > 0.0):  # also rejects NaN
        raise ValueError(
            f"target_occupancy must be > 0 (got {target_occupancy!r})")
    st = p.agg(F.count(F.lit(1)).alias("n"),
               F.min("__x").alias("x0"), F.max("__x").alias("x1"),
               F.min("__y").alias("y0"), F.max("__y").alias("y1")
               ).first()
    n = st["n"] or 0
    if n <= 1:
        return None
    ex = max(float(st["x1"]) - float(st["x0"]), 0.0)
    ey = max(float(st["y1"]) - float(st["y0"]), 0.0)
    k = float(target_occupancy)
    if ex > 0.0 and ey > 0.0:
        w0 = math.sqrt(k * ex * ey / (9.0 * n))
        if min(ex, ey) < w0:
            # thin extent < one 2-D cell: effectively 1-D occupancy
            w0 = k * max(ex, ey) / (3.0 * n)
    elif max(ex, ey) > 0.0:
        w0 = k * max(ex, ey) / (3.0 * n)
    else:
        return None  # all points coincide: no grid can help
    # Near-coincident clouds (tiny nonzero bbox, large n) would yield an
    # unbounded rung count — each rung is a full re-grid + checkpoint job —
    # and an underflowed w0 == 0.0 would loop forever.  Floor w0 so the
    # ladder is at most _MAX_RUNGS deep; below that width every occupied
    # cell is one dense clump the grid can't split further anyway.
    w0 = max(w0, float(radius) / 2.0 / 8.0 ** _MAX_RUNGS)
    widths = []
    w = w0
    while w < float(radius) / 2.0 and len(widths) < _MAX_RUNGS:
        widths.append(w)
        w *= 8.0
    return widths or None  # sparse: occupancy < K even at radius width


def grid_nearest(points: DataFrame, radius: float,
                 id_col: str = "id", x_col: str = "x",
                 y_col: str = "y", refine: int = 8,
                 carry: tuple[str, ...] = (),
                 predicate=None,
                 target_occupancy: float = 32.0) -> DataFrame:
    """Nearest neighbor within ``radius``, grid-bucketed — the
    UNBOUNDED-scale form of the within-group separation join: where
    J6/J8 bound the quadratic blow-up by the play key (≤22 players), this
    bounds it by a spatial cell key.  EXACT for the radius-bounded
    semantics (a true nearest neighbor farther than r is reported as no
    row).  It is :func:`grid_knn` at k = 1, the density-adaptive ladder
    included (history: SCALE.md, "One greedy driver").  Returns
    (``id_col``, neighbor_id, dist).
    """
    return grid_knn(points, radius, 1, id_col, x_col, y_col, refine,
                    carry, predicate, target_occupancy).drop("rank")


def grid_knn(points: DataFrame, radius: float, k: int = 3,
             id_col: str = "id", x_col: str = "x", y_col: str = "y",
             refine: int = 8, carry: tuple[str, ...] = (),
             predicate=None,
             target_occupancy: float = 32.0) -> DataFrame:
    """Radius-bounded k-nearest-neighbors, grid-bucketed (kNN-graph
    construction, multi-negative contrastive mining, density
    estimation; :func:`grid_nearest` is k = 1).  Each point lands in
    cell (⌊x/w⌋, ⌊y/w⌋); any neighbor within w is necessarily in the
    3×3 cell neighborhood, so probes replicate 9× and join the cell key
    exactly — a plain equi-join, never a cross join.  EXACT for the
    radius-bounded semantics: per point, UP TO ``k`` rows (fewer when
    fewer true neighbors exist within ``radius``), ranked by distance
    with neighbor-id tie-break.

    DENSITY-ADAPTIVE ladder: one stats job (count + bbox) sizes the
    finest width w₀ = √(K·area/(9n)) so the EXPECTED candidates per
    probe is the constant K (``target_occupancy``), which keeps pair
    volume ≈ n·K linear in n; effectively-1-D data (one extent ≪ the
    other, e.g. PSM's score line) uses K·extent/(3n), and fully stacked
    or sparse data collapses to the single-level form.  Unresolved
    points escalate a GEOMETRIC ladder (w₀, 8w₀, 64w₀, … below
    radius/2) and finally the radius-width backstop against the full
    table; ``refine=1`` is the plain single-level form.

    Every rung is exactness-preserving by the k-resolution rule: it
    filters candidates to d ≤ w BEFORE the per-query top-k window, so a
    query that retains a FULL k rows is resolved exactly — its k candidates all sit at d ≤ w, any point outside the
    3×3 block is at L∞ > w (strictly: ≥2-cell offsets exceed one cell
    width), hence farther than all k, and in-block candidates past w
    are farther than every kept row; ties at the k-boundary are
    in-block by the same bound, so the (d², id) window order matches
    the global brute-force order row-for-row.  Queries with fewer than
    k in-rung matches escalate (they may still have k true neighbors
    at larger d, or genuinely fewer than k within the radius — only
    the radius-width backstop can tell).  Per-rung cost is the same
    O(n·K) candidate volume; only the window keeps k rows instead
    of 1.  Returns (``id_col``, neighbor_id, rank 1..k, dist)."""
    require = [id_col, x_col, y_col, *carry]
    from ..schemas import require_columns
    require_columns(points, require, "grid_knn")
    p = points.select(
        F.col(id_col).alias("__id"),
        F.col(x_col).cast("double").alias("__x"),
        F.col(y_col).cast("double").alias("__y"),
        *carry)
    r2 = float(radius) * float(radius)

    def fmt(best):
        # rank cast long: DuckDB row_number is BIGINT (oracle parity)
        return best.select(F.col("__qid").alias(id_col),
                           F.col("__nid").alias("neighbor_id"),
                           F.col("__rn").cast("long").alias("rank"),
                           F.round(F.sqrt("__d2"), 6).alias("dist"))

    widths = _ladder_widths(p, radius, refine, target_occupancy)
    if widths is None:
        return fmt(_grid_best(p, float(radius), max_d2=r2,
                              carry=carry, predicate=predicate, k=k))
    from pyspark.sql import Window
    parts = []
    residue = p
    first = True
    for wk in widths:
        best = (_grid_best(residue, wk, max_d2=wk * wk, carry=carry,
                           predicate=predicate, k=k)
                if first else
                _grid_best_against(residue, p, wk, max_d2=wk * wk,
                                   carry=carry, predicate=predicate,
                                   k=k))
        best = best.localCheckpoint(eager=True)
        # resolved ⟺ the rung kept a FULL k rows (all at d ≤ w by the
        # pre-window filter) — the window count is rung-local, no join
        full = (best.withColumn(
                    "__ct", F.count(F.lit(1)).over(
                        Window.partitionBy("__qid")))
                    .filter(F.col("__ct") == k).drop("__ct"))
        parts.append(full)
        residue = residue.join(
            full.select(F.col("__qid").alias("__id")).distinct(),
            "__id", "left_anti")
        first = False
    coarse = _grid_best_against(residue, p, float(radius), max_d2=r2,
                                carry=carry, predicate=predicate, k=k)
    out = fmt(parts[0])
    for part in parts[1:]:
        out = out.unionByName(fmt(part))
    return out.unionByName(fmt(coarse))


def _grid_best_against(queries: DataFrame, corpus: DataFrame,
                       width: float, max_d2: float,
                       carry: tuple[str, ...], predicate,
                       k: int) -> DataFrame:
    """Coarse escalation level: best corpus candidate per QUERY point
    (queries ⊆ corpus, both carrying __id/__x/__y/*carry) among the 3×3
    ``width``-cell neighborhood — same kernel as :func:`_grid_best` but
    with an asymmetric probe side, so the escalated residue never
    re-scans its own cross-pairs against itself twice."""
    cx, cy = F.floor(F.col("__x") / width), F.floor(F.col("__y") / width)
    offsets = F.array(*[F.struct(F.lit(dx).alias("ox"),
                                 F.lit(dy).alias("oy"))
                        for dx in (-1, 0, 1) for dy in (-1, 0, 1)])
    probes = (queries.withColumn("__cx", cx).withColumn("__cy", cy)
              .withColumn("__o", F.explode(offsets))
              .select(F.col("__id").alias("__qid"),
                      F.col("__x").alias("__qx"),
                      F.col("__y").alias("__qy"),
                      (F.col("__cx") + F.col("__o.ox")).alias("__jx"),
                      (F.col("__cy") + F.col("__o.oy")).alias("__jy"),
                      *[F.col(cc).alias(f"__q_{cc}") for cc in carry]))
    src = (corpus.withColumn("__cx", cx).withColumn("__cy", cy)
           .select(F.col("__id").alias("__nid"), "__x", "__y",
                   F.col("__cx").alias("__jx"),
                   F.col("__cy").alias("__jy"),
                   *[F.col(cc).alias(f"__n_{cc}") for cc in carry]))
    dist2 = ((F.col("__qx") - F.col("__x"))
             * (F.col("__qx") - F.col("__x"))
             + (F.col("__qy") - F.col("__y"))
             * (F.col("__qy") - F.col("__y")))
    pairs = (probes.join(src, ["__jx", "__jy"])
                   .filter(F.col("__qid") != F.col("__nid"))
                   .withColumn("__d2", dist2))
    if predicate is not None:
        pairs = pairs.filter(predicate())
    pairs = pairs.filter(F.col("__d2") <= F.lit(max_d2))
    from pyspark.sql import Window
    w = Window.partitionBy("__qid").orderBy(F.asc("__d2"), F.asc("__nid"))
    return (pairs.withColumn("__rn", F.row_number().over(w))
                 .filter(F.col("__rn") <= k)
                 .select("__qid", "__nid", "__d2", "__rn"))
