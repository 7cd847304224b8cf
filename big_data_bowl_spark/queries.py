"""Named correctness-suite queries (SURVEY §5.3) on the synthetic tables.

Each query is ``(spark, sf_dir) -> DataFrame`` and has a DuckDB oracle twin
in :mod:`oracles` with IDENTICAL column names and types.  Mapping of the
reference domain onto the synthetic star schema (TESTDATA.md):

- ``events`` (user_id, ts, value)  ≙ tracking frames (player, frame, coord):
  every window/kinematics operator runs here.
- ``lineitem``/``orders``/``customer`` ≙ play-level fact + dimensions:
  joins, aggregations, scorecards.
- ``documents``/``embeddings``: the training-data-pipeline operators
  (dedup, text analysis, similarity search).

Hash-stability conventions (SURVEY §7.5 risks 4/5):
- every float output rounded to 6 decimals on BOTH sides (`roundn`);
- ranks/counts cast to long to match DuckDB BIGINT;
- timestamps emitted as formatted strings, never raw;
- all computed columns aliased identically on both sides.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions.scalar import (
    cents,
    minmax_100,
    nan_to_null,
    piecewise_multiplier,
    roundn,
    safe_div,
)
from .operators import (
    argmax_rows,
    build_sequences,
    cum_index,
    dedup_keep_last,
    enrich_left,
    group_min_offset,
    group_stats,
    lag_diff,
    lead_diff,
    nearest_in_group,
    ols_slope,
    rank_desc,
    semi_join_on,
    topk_per_group,
    trajectory_features,
    unpivot_sequences,
    value_counts,
    zscore_in_group,
)
from .pipeline.dedup import exact_dedup, ngram_jaccard_pairs
from .pipeline.similarity import cosine_topk
from .pipeline.text import language_id, quality_features
from .schemas import fan_out
from .sources.io import read_table

QueryFn = Callable[[SparkSession, str], DataFrame]


# ---------------------------------------------------------------------------
# P-family: projections / filters / predicates
# ---------------------------------------------------------------------------

def q_filter_project(spark, sf_dir):
    """P1+P2+P5: conjunctive filter + projection, pushed to the parquet scan."""
    li = read_table(spark, sf_dir, "lineitem")
    return (li.filter((F.col("l_returnflag") == "R") & (F.col("l_quantity") > 25))
              .select("l_orderkey", "l_linenumber", "l_quantity",
                      roundn(F.col("l_extendedprice")).alias("l_extendedprice")))


def q_case_norm_filter(spark, sf_dir):
    """P3: case-normalized equality (str.lower().eq, preprocess.py:296-298)."""
    c = read_table(spark, sf_dir, "customer")
    return (c.filter(F.lower(F.col("c_mktsegment")) == "building")
             .select("c_custkey", "c_name",
                     F.upper(F.col("c_mktsegment")).alias("segment")))


def q_set_membership(spark, sf_dir):
    """P4: junk-route-style anti-membership filter (~isin)."""
    e = read_table(spark, sf_dir, "events")
    return (e.filter(~F.col("event_type").isin("error", "signup"))
             .select("event_id", "user_id", "event_type"))


def q_null_range_filter(spark, sf_dir):
    """P6+P7+P9: dropna + range predicate + coerce-cast on the JSON props."""
    e = read_table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (e.withColumn("k", k)
             .filter(F.col("value").isNotNull() & (F.col("value") > 100.0))
             .filter(F.col("k").isNotNull())
             .select("event_id", "user_id", roundn(F.col("value")).alias("value"), "k"))


# ---------------------------------------------------------------------------
# J-family: joins
# ---------------------------------------------------------------------------

def q_label_attach(spark, sf_dir):
    """J1: exact-key inner label attach (lineitem ⋈ orders), facts keep their
    grain; orders side is the smaller input → broadcast by Catalyst/AQE."""
    li = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice")
    return (li.join(o, li.l_orderkey == o.o_orderkey, "inner")
              .select("l_orderkey", "l_linenumber", "o_orderstatus",
                      roundn(F.col("o_totalprice")).alias("o_totalprice")))


def q_semi_join(spark, sf_dir):
    """J3: left-semi — orders whose customer sits in region AMERICA
    (the reference's dedup-then-inner-merge emulation, preprocess.py:302-327)."""
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    n = read_table(spark, sf_dir, "nation")
    r = read_table(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    keys = (c.join(n, c.c_nationkey == n.n_nationkey)
             .join(r, n.n_regionkey == r.r_regionkey)
             .select(F.col("c_custkey").alias("o_custkey")))
    return (semi_join_on(o, keys, ["o_custkey"])
            .select("o_orderkey", "o_custkey",
                    roundn(F.col("o_totalprice")).alias("o_totalprice")))


def q_enrich_left(spark, sf_dir):
    """J4: left enrichment join + fillna (merge_route_embeddings shape):
    per-user event totals left-joined back onto customers, missing → 0."""
    c = read_table(spark, sf_dir, "customer")
    e = read_table(spark, sf_dir, "events")
    totals = e.groupBy(F.col("user_id").alias("c_custkey")) \
              .agg(F.sum("value").alias("total_value"))
    out = enrich_left(c.select("c_custkey", "c_name"), totals,
                      ["c_custkey"], fill={"total_value": 0.0})
    return out.select("c_custkey", "c_name",
                      roundn(F.col("total_value")).alias("total_value"))


def q_nearest_in_group(spark, sf_dir):
    """J6+A9: within-group cross join → min distance.  Customers × suppliers
    per nation; nearest supplier by |acctbal difference| (the
    compute_catch_separation shape, preprocess.py:441-513)."""
    c = read_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey"), "c_custkey", "c_acctbal")
    s = read_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey"), "s_acctbal")
    dist = F.abs(F.col("l.c_acctbal") - F.col("r.s_acctbal"))
    out = nearest_in_group(c, s, ["nationkey"], "c_custkey", dist,
                           out="min_bal_dist", default=None,
                           right_cols=["s_acctbal"])
    return out.select("nationkey", "c_custkey",
                      roundn(F.col("min_bal_dist")).alias("min_bal_dist"))


def _sep_tracking(e: DataFrame) -> DataFrame:
    """Events ≙ tracking frames for the separation family (J6/J7/J8):
    play = user cohort, frame = event_id mod 8, player = event_id,
    side = event_type cohort (click/view ≙ offense), (x, y) = (value,
    event_id mod 97).  Deterministic and expressible in the oracle SQL."""
    return e.select(
        (F.col("user_id") % 25).alias("play_id"),
        (F.col("event_id") % 8).alias("frame_id"),
        F.col("event_id").alias("player_id"),
        F.when(F.col("event_type").isin("click", "view"), F.lit("Offense"))
         .otherwise(F.lit("Defense")).alias("side"),
        F.col("value").alias("x"),
        (F.col("event_id") % 97).cast("double").alias("y"))


def q_catch_separation(spark, sf_dir):
    """J6: min offense→defense distance at the catch frame
    (compute_catch_separation, preprocess.py:441-513) — filter to the
    designated frame, within-group cross join, min per offensive player."""
    from .operators.separation import separation_at_frame
    t = _sep_tracking(read_table(spark, sf_dir, "events")).filter(
        F.col("frame_id") == 3)
    out = separation_at_frame(t, ["play_id"], "player_id", "side",
                              "offense", "defense")
    return out.select("play_id", "player_id",
                      roundn(F.col("separation")).alias("separation"))


def q_initial_separation(spark, sf_dir):
    """J7: separation at the THROW frame — argmax frame per play (W8) then
    the same within-group min (compute_initial_separation_at_throw,
    preprocess.py:330-402)."""
    from .operators.separation import separation_at_max_frame
    t = _sep_tracking(read_table(spark, sf_dir, "events"))
    out = separation_at_max_frame(t, ["play_id"], "player_id", "side",
                                  "offense", "defense")
    return out.select("play_id", "player_id",
                      roundn(F.col("separation")).alias("separation"))


def q_defender_sep_frame(spark, sf_dir):
    """J8-as-join: PER-FRAME nearest defender with the notebook's
    20.0-when-no-defenders default (calculate_defender_separation,
    BDB_2026.ipynb#cell69) — the banned Python nested loop as one equi-join
    keyed one level deeper."""
    from .operators.separation import separation_at_frame
    t = _sep_tracking(read_table(spark, sf_dir, "events"))
    out = separation_at_frame(t, ["play_id"], "player_id", "side",
                              "offense", "defense", per_frame=True,
                              default=20.0)
    return out.select("play_id", "frame_id", "player_id",
                      roundn(F.col("separation")).alias("separation"))


# ---------------------------------------------------------------------------
# W-family: windows
# ---------------------------------------------------------------------------

def q_frame_diff(spark, sf_dir):
    """W1+F1: lag-diff kinematics — per-user ordered value diff ≙ frame-to-
    frame speed (preprocess.py:125-127), first row filled 0."""
    e = read_table(spark, sf_dir, "events")
    out = lag_diff(e, "value", ["user_id"], ["ts", "event_id"],
                   out="dvalue", fill=0.0)
    return out.select("event_id", "user_id", roundn(F.col("dvalue")).alias("dvalue"))


def q_converge_rate_lead(spark, sf_dir):
    """W3: notebook-dialect converge rate — value[t] − value[t+1], last
    row → 0 (BDB_2026.ipynb#cell80)."""
    e = read_table(spark, sf_dir, "events")
    out = lead_diff(e, "value", ["user_id"], ["ts", "event_id"],
                    out="converge_rate", fill=0.0)
    return out.select("event_id", "user_id",
                      roundn(F.col("converge_rate")).alias("converge_rate"))


def q_cum_index(spark, sf_dir):
    """W4+W5: cumcount within group + offset from group min
    (frame_since_throw / time_since_throw, preprocess.py:196-201)."""
    e = read_table(spark, sf_dir, "events")
    out = cum_index(e, ["user_id"], ["ts", "event_id"], out="seq_idx")
    out = group_min_offset(out, "event_id", ["user_id"], out="id_offset")
    return out.select("event_id", "user_id", "seq_idx",
                      F.col("id_offset").cast("long").alias("id_offset"))


def q_zscore_in_group(spark, sf_dir):
    """W6: within-group z-score, ddof=0, clipped ±3 (metrics.py:97-122)."""
    e = read_table(spark, sf_dir, "events")
    out = zscore_in_group(e, "value", ["event_type"], out="z",
                          ddof=0, clip3=True)
    return out.select("event_id", "event_type", roundn(F.col("z")).alias("z"))


def q_rank_leaderboard(spark, sf_dir):
    """W7+O2+A1: leaderboard — mean value per user, competition-ranked desc
    (build_truespeed_scorecard rank, metrics.py:348)."""
    e = read_table(spark, sf_dir, "events")
    # integer-cents mean (see cents()): engine-invariant before rounding
    vc = cents(F.col("value"))
    board = e.groupBy("user_id").agg(
        (F.sum(vc) / F.count("value") / 100.0).alias("mean_value"),
        F.count(F.lit(1)).alias("n_events"))
    out = rank_desc(board, "mean_value", out="rank")
    return out.select("user_id", roundn(F.col("mean_value")).alias("mean_value"),
                      "n_events", "rank")


def q_argmax_frame(spark, sf_dir):
    """W8: rows at the per-group max ordering key (throw-frame selection,
    preprocess.py:366-373) — window filter, no join-back."""
    e = read_table(spark, sf_dir, "events")
    out = argmax_rows(e, "event_id", ["user_id"])
    return out.select("user_id", "event_id", "event_type",
                      roundn(F.col("value")).alias("value"))


def q_dedup_keep_last(spark, sf_dir):
    """W9: one row per (user, type), keeping latest by ts with explicit
    event_id tie-break (metrics.py:260-265; SURVEY risk 4)."""
    e = read_table(spark, sf_dir, "events")
    out = dedup_keep_last(e, ["user_id", "event_type"], ["ts"],
                          tiebreak=["event_id"])
    return out.select("user_id", "event_type", "event_id",
                      roundn(F.col("value")).alias("value"))


def q_topk_per_group(spark, sf_dir):
    """W10/O3: top-3 events per user by value (nlargest / top player per
    route, _inisghts.ipynb#cell3), event_id tie-break."""
    e = read_table(spark, sf_dir, "events")
    out = topk_per_group(e, ["user_id"],
                         [F.desc("value"), F.desc("event_id")], k=3)
    return out.select("user_id", "event_id", roundn(F.col("value")).alias("value"))


# ---------------------------------------------------------------------------
# A-family: aggregations
# ---------------------------------------------------------------------------

def q_tpch_q1(spark, sf_dir):
    """A1/A11 flagship: TPC-H Q1-shaped pricing summary — the multi-metric
    named aggregation block (metrics.py:296-322) on lineitem."""
    li = read_table(spark, sf_dir, "lineitem")
    # integer-cents pricing arithmetic (see cents()): price×(1−disc) and
    # ×(1+tax) become exact long products (2+2 and 2+2+2 decimals), so
    # every sum/avg below is engine- and partition-order-invariant even
    # when the billion-scale sums would otherwise wobble past 6 decimals
    pc, dc, tc = cents(F.col("l_extendedprice")), \
        cents(F.col("l_discount")), cents(F.col("l_tax"))
    disc_c = pc * (100 - dc)              # 1e-4 dollar units
    charge_c = disc_c * (100 + tc)        # 1e-6 dollar units
    n = F.count(F.lit(1))
    return (li.filter(F.col("l_shipdate") <= F.lit("2024-09-02 00:00:00"))
              .groupBy("l_returnflag", "l_linestatus")
              .agg(roundn(F.sum("l_quantity")).alias("sum_qty"),
                   roundn(F.sum(pc) / 100.0).alias("sum_base_price"),
                   roundn(F.sum(disc_c) / 1e4).alias("sum_disc_price"),
                   roundn(F.sum(charge_c) / 1e6).alias("sum_charge"),
                   roundn(F.sum("l_quantity") / n).alias("avg_qty"),
                   roundn(F.sum(pc) / n / 100.0).alias("avg_price"),
                   roundn(F.sum(dc) / n / 100.0).alias("avg_disc"),
                   F.count(F.lit(1)).alias("count_order")))


def q_trajectory_features(spark, sf_dir):
    """A3–A8 fused: the route-feature block (routes.py:34-172) over events —
    start/end/path-length/range/count per user in ONE groupBy pass."""
    e = read_table(spark, sf_dir, "events")
    ts_s = F.col("ts").cast("double")
    e2 = e.withColumn("__t", ts_s)
    out = trajectory_features(e2, ["user_id"], "event_id",
                              x="__t", y="value", speed="value")
    return out.select(
        "user_id",
        roundn(F.col("start_y")).alias("start_value"),
        roundn(F.col("end_y")).alias("end_value"),
        roundn(F.col("lateral_range")).alias("value_range"),
        "n_frames",
        roundn(F.col("speed_mean")).alias("value_mean"),
        roundn(F.col("speed_max")).alias("value_max"),
        roundn(nan_to_null(F.col("speed_std"))).alias("value_std"))


def q_group_stats(spark, sf_dir):
    """A5+A14: group summary incl. exact median (Spark `median` ==
    DuckDB quantile_cont 0.5; SURVEY §4.3 item 5)."""
    e = read_table(spark, sf_dir, "events")
    out = group_stats(e, ["event_type"], "value", ddof=1)
    return out.select("event_type", roundn(F.col("mean")).alias("mean"),
                      roundn(F.col("max")).alias("max"),
                      roundn(F.col("min")).alias("min"),
                      roundn(F.col("std")).alias("std"),
                      roundn(F.col("median")).alias("median"), "n")


def q_quantiles(spark, sf_dir):
    """A14: exact quantile thresholds (tight/open q25/q75,
    BDB_2026.ipynb#cell71)."""
    e = read_table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        roundn(F.percentile("value", F.lit(0.25))).alias("q25"),
        roundn(F.percentile("value", F.lit(0.75))).alias("q75"),
        roundn(F.percentile("value", F.lit(0.90))).alias("q90"))


def q_value_counts(spark, sf_dir):
    """A15: frequency table."""
    return value_counts(read_table(spark, sf_dir, "events"), "event_type")


def q_distinct_users(spark, sf_dir):
    """A12: distinct + per-group distinct-count (nunique)."""
    e = read_table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"))


def q_scalar_threshold(spark, sf_dir):
    """A13+P7: global scalar agg feeding a filter — users with ≥50% of the
    max event count (the metrics.py:329-330 volume-threshold idiom), via a
    broadcast 1-row cross join (no driver round-trip)."""
    e = read_table(spark, sf_dir, "events")
    counts = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    thresh = counts.agg((F.max("n") * 0.5).alias("__thr"))
    return (counts.crossJoin(F.broadcast(thresh))
                  .filter(F.col("n") >= F.col("__thr"))
                  .select("user_id", "n"))


def q_conditional_flags(spark, sf_dir):
    """A11+F11: boolean→int flag aggregation (is_explosive / is_successful,
    metrics.py:306-308): per user, share of purchases and big events."""
    e = read_table(spark, sf_dir, "events")
    return e.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
         .cast("long").alias("n_purchases"),
        F.sum(F.when(F.col("value") > 150.0, 1).otherwise(0))
         .cast("long").alias("n_big"),
        roundn(F.avg(F.when(F.col("value") > 150.0, 1.0).otherwise(0.0)))
         .alias("big_rate"))


def q_corr_trend(spark, sf_dir):
    """A18: Pearson r + OLS slope per group from covariance aggregates
    (np.polyfit deg=1, viz.py:431-436)."""
    li = read_table(spark, sf_dir, "lineitem")
    out = ols_slope(li, ["l_returnflag"], "l_quantity", "l_extendedprice")
    return out.select("l_returnflag",
                      roundn(F.col("pearson_r")).alias("pearson_r"),
                      roundn(F.col("slope")).alias("slope"),
                      roundn(F.col("intercept")).alias("intercept"), "n")


# ---------------------------------------------------------------------------
# Metric layer: F10/F12/F15 + scorecard
# ---------------------------------------------------------------------------

def q_minmax_norm(spark, sf_dir):
    """F10+A13: 0–100 min-max normalized per-user mean value
    (normalize_scores_to_100, metrics.py:129-137)."""
    e = read_table(spark, sf_dir, "events")
    board = e.groupBy("user_id").agg(F.avg("value").alias("mv"))
    # global extrema via aggregate + 1-row broadcast crossJoin — a
    # whole-partition window would funnel the entity-grain board through
    # ONE task; the aggregate partial-combines at full parallelism.
    ext = board.agg(F.min("mv").alias("__lo"), F.max("mv").alias("__hi"))
    score = minmax_100(F.col("mv"), F.col("__lo"), F.col("__hi"))
    return (board.crossJoin(F.broadcast(ext))
                 .select("user_id", roundn(score).alias("score_100")))


def q_safe_div(spark, sf_dir):
    """F12: null-on-zero-denominator ratio (yards/target shape,
    metrics.py:321-322)."""
    e = read_table(spark, sf_dir, "events")
    agg = e.groupBy("user_id").agg(
        F.sum("value").alias("total_value"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
         .cast("long").alias("n_purchases"))
    return agg.select("user_id",
                      roundn(safe_div(F.col("total_value"),
                                      F.col("n_purchases"))).alias("value_per_purchase"))


def q_piecewise_score(spark, sf_dir):
    """F15: the AirPlayIQ piecewise hybrid expression
    (Phase3_Metrics.ipynb#cell18:237-260) as pure nested CASE arithmetic:
    wide-open branch (sep > 5 → ts + 0.05), else 0.8*ts*mult + 0.2*re."""
    e = read_table(spark, sf_dir, "events")
    agg = e.groupBy("user_id").agg(F.avg("value").alias("ts"),
                                   F.stddev_pop("value").alias("re"),
                                   (F.avg("value") / 50.0).alias("sep"))
    mult = piecewise_multiplier(F.col("sep"))
    score = F.when(F.col("sep") > 5.0, F.col("ts") + 0.05) \
             .otherwise(0.8 * F.col("ts") * mult + 0.2 * F.col("re"))
    return agg.select("user_id", roundn(score).alias("hybrid_iq"))


def q_scorecard(spark, sf_dir):
    """A11+W7+P7+F10 composite: the build_truespeed_scorecard pipeline
    (metrics.py:198-367) — process metrics + production metrics + volume
    threshold + 0-100 normalize + rank, one declarative plan."""
    e = read_table(spark, sf_dir, "events")
    # integer-cents reductions (see cents()): engine-invariant mean/sum
    vc = cents(F.col("value"))
    board = e.groupBy("user_id").agg(
        (F.sum(vc) / F.count("value") / 100.0).alias("mean_value"),
        F.count(F.lit(1)).alias("n_events"),
        (F.sum(F.when(F.col("event_type") == "purchase", vc)
                .otherwise(F.lit(0).cast("long"))) / 100.0)
        .alias("purchase_value"))
    thresh = board.agg((F.max("n_events") * 0.25).alias("__thr"))
    qualified = (board.crossJoin(F.broadcast(thresh))
                      .filter(F.col("n_events") >= F.col("__thr")))
    # normalize over the QUALIFIED set (reference normalizes post-filter);
    # extrema via aggregate + 1-row broadcast, not a whole-partition window
    ext = qualified.agg(F.min("mean_value").alias("__lo"),
                        F.max("mean_value").alias("__hi"))
    score = minmax_100(F.col("mean_value"), F.col("__lo"), F.col("__hi"))
    qualified = (qualified.crossJoin(F.broadcast(ext))
                          .withColumn("score_100", score))
    out = rank_desc(qualified, "score_100", out="rank")
    return out.select("user_id", roundn(F.col("mean_value")).alias("mean_value"),
                      "n_events", roundn(F.col("purchase_value")).alias("purchase_value"),
                      roundn(F.col("score_100")).alias("score_100"), "rank")


# ---------------------------------------------------------------------------
# O/U-family: sorts, sets
# ---------------------------------------------------------------------------

def q_top_orders(spark, sf_dir):
    """O2: global top-N by score (nlargest, viz.py:449)."""
    o = read_table(spark, sf_dir, "orders")
    return (o.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey")).limit(20)
             .select("o_orderkey", "o_custkey",
                     roundn(F.col("o_totalprice")).alias("o_totalprice")))


def q_union_dedup(spark, sf_dir):
    """U1: union of two filtered slices + key-dedup (viz.py:597 exemplar
    union; weekly-shard concat data_io.py:38).  Overlapping slices make the
    dedup meaningful."""
    e = read_table(spark, sf_dir, "events")
    hi = e.filter(F.col("value") > 150.0)
    err = e.filter(F.col("event_type") == "error")
    out = hi.unionByName(err).dropDuplicates(["event_id"])
    return out.select("event_id", "user_id", "event_type",
                      roundn(F.col("value")).alias("value"))


# ---------------------------------------------------------------------------
# T-family: sequence bridge
# ---------------------------------------------------------------------------

SEQ_LEN = 10


def q_sequence_build(spark, sf_dir):
    """T1: per-user ordered, last-N, padded sequence (build_sequences,
    sequences.py:21-88) — emitted as a comma-joined string of rounded values
    so the DuckDB oracle can hash-match the tensor content exactly."""
    e = read_table(spark, sf_dir, "events")
    seq = build_sequences(e, ["user_id"], "event_id", ["value"],
                          max_len=SEQ_LEN, keep="last")
    flat = F.transform(F.col("seq"),
                       lambda r: F.format_string("%.2f", r[0].cast("double")))
    return seq.select("user_id", "real_len",
                      F.concat_ws(",", flat).alias("seq_str"))


def q_unpivot_sequences(spark, sf_dir):
    """T2: posexplode un-pivot of (actual, pred) arrays → long residual
    table (Submission.ipynb#cell7), padded steps dropped.  'pred' here is a
    deterministic stand-in (value shifted by the per-user mean) so the
    oracle can reproduce it."""
    e = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    e2 = (e.withColumn("pred", F.avg("value").over(w))
           .withColumn("actual", F.col("value")))
    seq = e2.groupBy("user_id").agg(
        F.array_sort(F.collect_list(F.struct("event_id", "actual", "pred")))
         .alias("steps"))
    # residual is derived from the ROUNDED actual/pred: a difference of two
    # 6-decimal values never lands on a round-half tie, where Spark
    # (half-away-from-zero) and DuckDB (half-toward-+inf) disagree for
    # negative values (found by driving sf0.01: -33.2609375).
    out = (seq.select("user_id", F.posexplode("steps").alias("t", "s"))
              .select("user_id", F.col("t").cast("long").alias("t"),
                      roundn(F.col("s.actual")).alias("actual"),
                      roundn(F.col("s.pred")).alias("pred")))
    return out.withColumn("residual",
                          roundn(F.col("actual") - F.col("pred")))


# ---------------------------------------------------------------------------
# Pipeline family: dedup / text / similarity (documents, embeddings)
# ---------------------------------------------------------------------------

def q_dedup_exact(spark, sf_dir):
    """Exact dedup via content hash: canonical doc id per md5(text)."""
    d = read_table(spark, sf_dir, "documents")
    return exact_dedup(d, text_col="text", id_col="doc_id")


def q_text_quality(spark, sf_dir):
    """Text quality features: char/token counts, stopword & punctuation
    ratios, mean token length — all native expressions."""
    d = read_table(spark, sf_dir, "documents")
    return quality_features(d)


def q_language_id(spark, sf_dir):
    """Heuristic language ID from stopword hit counts (n-gram heuristic
    class); deterministic, SQL-expressible."""
    d = read_table(spark, sf_dir, "documents")
    return language_id(d)


def q_ngram_jaccard(spark, sf_dir):
    """Near-dup candidate pairs: token-set Jaccard ≥ 0.5 between documents
    of the same source (token-sorted-join shape: explode → join on token →
    count intersection — the shuffle-friendly set-similarity plan)."""
    d = read_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(d, threshold=0.5)


def q_dup_components(spark, sf_dir):
    """Duplicate GROUPS from near-dup pairs: Jaccard candidate pairs →
    connected components via iterative min-label propagation.  The oracle
    twin computes the same fixpoint with a recursive CTE — an exact check
    on a genuinely iterative distributed algorithm."""
    from .pipeline.dedup import duplicate_components, ngram_jaccard_pairs
    pairs = ngram_jaccard_pairs(read_table(spark, sf_dir, "documents"), threshold=0.5)
    return duplicate_components(pairs)


def q_containment(spark, sf_dir):
    """Asymmetric containment near-dup pairs, C(A→B) = |A∩B|/|A| ≥ 0.8
    with |B| > |A| — the quote/excerpt duplicate Jaccard scores near
    zero (J = |A|/|B| for A ⊆ B) but a curation pipeline must drop.
    Same bucketed candidate plan as q_ngram_jaccard; only the bounded
    probe-side size table broadcasts."""
    from .pipeline.dedup import containment_pairs
    return containment_pairs(read_table(spark, sf_dir, "documents"),
                             threshold=0.8)


def q_winnow_pairs(spark, sf_dir):
    """Near-dup candidates from FULL winnowing (Schleimer–Wilkerson–
    Aiken/MOSS: k=4-gram polynomial hashes, w=4 sliding window, min with
    rightmost tie-break): docs sharing ≥ 2 selected fingerprints, after
    dropping stop-fingerprints seen in > 100 docs.  The scale contrast
    with q_span_dedup: the gram index ships EVERY gram; winnowing ships
    ~2/(w+1) of them with the ≥ w+k−1 shared-run detection guarantee."""
    from .pipeline.text import winnow_pairs
    return winnow_pairs(read_table(spark, sf_dir, "documents"))


def q_leakage_split(spark, sf_dir):
    """Leakage-safe corpus split at the DUP-COMPONENT grain: near-dup
    pairs → connected components (min-label fixpoint); every doc splits
    train/val by its component canonical (singletons by their own id),
    so near-duplicates can never straddle the split — the
    train/eval contamination a row-grain split can't prevent.  Output:
    per-split doc/group counts plus the cross-split near-dup pair
    count, COMPUTED from the pair table (0 by construction — the
    invariant both engines must derive, not a literal).  Modulo hasher
    for oracle parity (q_group_split discipline); the library crc32
    hasher is property-tested."""
    from .pipeline.dedup import duplicate_components, ngram_jaccard_pairs
    d = read_table(spark, sf_dir, "documents")
    pairs = (ngram_jaccard_pairs(d, threshold=0.5)
             .select("doc_a", "doc_b")
             .localCheckpoint(eager=True))  # reused by components AND leak audit
    comp = duplicate_components(pairs)
    keyed = (d.select("doc_id")
              .join(comp, "doc_id", "left")
              .withColumn("gkey", F.coalesce("component", "doc_id")))
    tagged = (keyed.withColumn(
        "split", F.when(F.col("gkey") % 5 == 0, "val").otherwise("train"))
        .localCheckpoint(eager=True))
    sa = tagged.select(F.col("doc_id").alias("doc_a"),
                       F.col("split").alias("__sa"))
    sb = tagged.select(F.col("doc_id").alias("doc_b"),
                       F.col("split").alias("__sb"))
    leaks = (pairs.join(sa, "doc_a").join(sb, "doc_b")
                  .filter(F.col("__sa") != F.col("__sb"))
                  .agg(F.count(F.lit(1)).alias("n_leaked_pairs")))
    return (tagged.groupBy("split")
                  .agg(F.count(F.lit(1)).alias("n_docs"),
                       F.countDistinct("gkey").alias("n_groups"))
                  .crossJoin(F.broadcast(leaks)))


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination (GPT-3/PaLM n-gram rule): docs with
    doc_id % 97 == 0 play the eval benchmark; every other doc sharing ≥ 5
    distinct word 2-grams with ANY benchmark doc is reported with its
    overlap counts.  (Real pipelines use 8-13-grams; the synthetic corpus
    is too short/random for that — 2-grams exercise the same plan.)
    Benchmark n-gram set broadcasts; one count shuffle."""
    from .pipeline.decontam import ngram_contamination
    d = read_table(spark, sf_dir, "documents")
    benchmark = d.filter(F.col("doc_id") % 97 == 0)
    corpus = d.filter(F.col("doc_id") % 97 != 0)
    return ngram_contamination(corpus, benchmark, n=2, min_overlap=5)


def q_heavy_hitters(spark, sf_dir):
    """Exact heavy hitters (parts ordered ≥ 40 times) with a count-min
    prefilter: occurrences whose CMS estimate is under the threshold drop
    map-side (est ≥ true ⇒ lossless), only candidates reach the exact
    count shuffle.  Result is exact — plain GROUP BY/HAVING oracle."""
    from .operators.sketches import cms_heavy_hitters
    l = read_table(spark, sf_dir, "lineitem")
    return (cms_heavy_hitters(l, "l_partkey", min_count=40)
            .select(F.col("l_partkey"), F.col("n")))


def q_bloom_semi_join(spark, sf_dir):
    """Bloom-prefiltered semi-join: lineitem rows whose order is in the
    top-decile-value key set.  The key set's Bloom table (≤1024 words)
    broadcasts where a 10⁹-key hash relation could not; false positives
    are removed by the final semi-join, so the result is EXACT — the
    oracle is the plain IN-subquery."""
    from .operators.joins import bloom_semi_join
    l = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders")
    keys = (o.filter(F.col("o_totalprice") > 450000)
             .select(F.col("o_orderkey").alias("l_orderkey")))
    kept = bloom_semi_join(l, keys, "l_orderkey")
    return (kept.groupBy("l_returnflag")
                .agg(F.count(F.lit(1)).alias("n_items"),
                     roundn(F.sum("l_quantity")).alias("sum_qty")))


def q_zorder_values(spark, sf_dir):
    """Z-order (Morton) values over (user_id, event time): the layout key
    that makes parquet min-max stats selective on BOTH columns after a
    repartitionByRange write (sources/layout.py).  Pure integer
    arithmetic — exact DuckDB oracle twin; the pruning effect itself is
    pinned by the layout locality test."""
    from .sources.layout import with_zorder
    e = read_table(spark, sf_dir, "events")
    base = e.select("event_id", "user_id",
                    F.unix_timestamp("ts").alias("__ep"))
    return (with_zorder(base, "user_id", "__ep", bits=16)
            .select("event_id", "zval"))


def q_minhash_incremental(spark, sf_dir):
    """Incremental dedup under the driver: ~1/7 of the corpus arrives as
    the 'new batch' and is matched against the signature INDEX of the
    rest — only the batch is shingled; index buckets derive from stored
    signatures.  Hash-verified (the polynomial hash family — the oracle
    rebuilds both the stored index and the batch probe in SQL); the
    cross-batch match ≡ batch-mode equivalence is property-tested."""
    from .pipeline.dedup import minhash_lsh_match, minhash_signatures
    d = read_table(spark, sf_dir, "documents")
    index = minhash_signatures(d.filter(F.col("doc_id") % 7 != 0))
    batch = d.filter(F.col("doc_id") % 7 == 0)
    return minhash_lsh_match(batch, index, min_est_jaccard=0.5)


def q_embed_dup(spark, sf_dir):
    """Embedding-cosine near-dup pairs (the fifth dedup tier): label-
    blocked candidate generation, JVM-side cosine, threshold keep.  The
    0.25 threshold fits the synthetic corpus (random 64-dim vectors top
    out near 0.47 within a block; real near-dup corpora use ~0.9) — the
    oracle is EXACT because blocking is on a stored column, not an
    engine-specific hash."""
    from .pipeline.dedup import embedding_dup_pairs
    em = read_table(spark, sf_dir, "embeddings")
    return embedding_dup_pairs(em, threshold=0.25)


def q_pq_topk(spark, sf_dir):
    """Product-quantization ANN end-to-end: train m=8×k=16 codebooks (one
    Lloyd loop for all subspaces, deterministic hash init on a hash-
    sampled training set), encode the corpus to 8-int codes, then ADC
    top-3 for the first 5 vectors — the search scans CODES only, never
    the original vectors.  Hash-verified since r5 on the wang-hash init:
    the oracle unrolls both Lloyd rounds with dense-position codebooks
    (the hot path's gap-safe position semantics), re-encodes the corpus,
    and replays the ADC lookup in SQL; recall containment and
    prototype-exactness are property-tested besides."""
    from .pipeline.similarity import pq_codebooks, pq_encode, pq_topk_adc
    em = read_table(spark, sf_dir, "embeddings")
    books = pq_codebooks(em, m=8, k=16, iters=2, train_frac=0.25)
    codes = pq_encode(em, books, m=8)
    queries = em.filter(F.col("vec_id").isin([0, 1, 2, 3, 4]))
    return pq_topk_adc(codes, books, queries, k=3, m=8)


def q_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-k over the embedding column: for the first 5
    vectors, the 3 nearest others.  Dot products via F.aggregate/zip_with —
    JVM-side, no Python."""
    em = read_table(spark, sf_dir, "embeddings")
    return cosine_topk(em, query_ids=[0, 1, 2, 3, 4], k=3)


# ---------------------------------------------------------------------------
# time-series + skew operators (beyond the reference's inventory)
# ---------------------------------------------------------------------------

def q_asof_join(spark, sf_dir):
    """Backward as-of join: each purchase gets the most recent prior (or
    simultaneous) view's value for the same user.  Spark has no native
    as-of join — implemented as union + carry-forward window (one shuffle,
    linear); DuckDB's native ASOF JOIN is the oracle."""
    from .operators.asof import asof_join
    e = read_table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase")
    views = e.filter(F.col("event_type") == "view") \
             .select("user_id", "ts", "value", "event_id")
    out = asof_join(purchases, views, by=["user_id"], ts="ts",
                    payload=["value"], tie_col="event_id")
    return out.select("event_id", "user_id",
                      roundn(F.col("value")).alias("purchase_value"),
                      roundn(F.col("value_asof")).alias("last_view_value"))


def q_salted_agg(spark, sf_dir):
    """Skew-tolerant two-phase aggregation over hot keys (5 event types →
    5 hot partitions at scale): phase 1 on (key, salt) spreads each hot key
    over 16 reducers; phase 2 merges partials.  Result must equal the
    direct groupBy — the oracle IS the direct formulation."""
    from .operators.skew import salted_agg
    e = read_table(spark, sf_dir, "events")
    out = salted_agg(e, ["event_type"], "value", n_salts=16)
    return out.select("event_type", roundn(F.col("total")).alias("total"),
                      "n", roundn(F.col("min")).alias("min"),
                      roundn(F.col("max")).alias("max"),
                      roundn(F.col("mean")).alias("mean"))


# ---------------------------------------------------------------------------
# ML-adjacent relational queries (M5/A17/F17/M8 — deterministic parts)
# ---------------------------------------------------------------------------

def q_cluster_centroids(spark, sf_dir):
    """A17: per-cluster mean of the first 3 embedding dims (groupby-mean
    centroid table, Phase3_Metrics.ipynb#cell10)."""
    em = read_table(spark, sf_dir, "embeddings")
    def dim(i):
        return F.element_at("embedding", i + 1).cast("double")
    return em.groupBy("label").agg(
        roundn(F.avg(dim(0))).alias("c0"),
        roundn(F.avg(dim(1))).alias("c1"),
        roundn(F.avg(dim(2))).alias("c2"),
        F.count(F.lit(1)).alias("n"))


def q_centroid_score(spark, sf_dir):
    """M5+F10: L2 distance of each vector to its own cluster centroid
    (RouteExecution score, metrics.py:139-187) on the fixed ``label``
    assignment — exploded-dim join against the broadcast centroid table,
    then negate + min-max 0-100."""
    from .ml.clustering import centroid_distance_score
    em = read_table(spark, sf_dir, "embeddings")
    out = centroid_distance_score(em, "vec_id", "label", "embedding")
    return out.select("vec_id", "label", roundn(F.col("dist")).alias("dist"),
                      roundn(F.col("score_100")).alias("score_100"))


def q_onehot(spark, sf_dir):
    """F17: one-hot encode event_type into K float columns
    (make_route_embedding_table, routes.py:279-295)."""
    e = read_table(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    cols = [F.when(F.col("event_type") == t, 1.0).otherwise(0.0)
            .alias(f"is_{t}") for t in types]
    return e.select("event_id", *cols)


def q_group_split(spark, sf_dir):
    """M8: leakage-safe group split — every event of a user lands on one
    side; split sizes per side prove the grouping (by-game 80/20 split,
    BDB_2026.ipynb#cell91).  Modulo hasher here for oracle parity; the
    library's crc32 hasher is covered by property tests."""
    e = read_table(spark, sf_dir, "events")
    split = F.when(F.col("user_id") % 5 == 0, "val").otherwise("train")
    return (e.withColumn("split", split)
             .groupBy("split")
             .agg(F.count(F.lit(1)).alias("n_events"),
                  F.countDistinct("user_id").alias("n_users")))


def q_closest_to_median(spark, sf_dir):
    """W11: the most-representative row per group — argmin |value −
    median(group)| (viz.py:327-336).  Distance is rounded BEFORE ordering
    so interpolated-median ulp differences between engines can't flip
    near-ties; event_id breaks exact ties."""
    e = read_table(spark, sf_dir, "events")
    # median via aggregate + broadcast join-back, argmin via a combinable
    # min(struct(...)) — no per-group sort, no low-cardinality window
    # (operators/windows.py:closest_to_median rationale)
    stats = e.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("__med"))
    scored = (e.join(F.broadcast(stats), "event_type")
               .withColumn("__d", roundn(F.abs(F.col("value")
                                               - F.col("__med")))))
    pick = scored.groupBy("event_type").agg(
        F.min(F.struct("__d", "event_id", "value", "__med")).alias("b"))
    return pick.select("event_type",
                       F.col("b.event_id").alias("event_id"),
                       roundn(F.col("b.value")).alias("value"),
                       roundn(F.col("b.__med")).alias("med"))


# ---------------------------------------------------------------------------
# TPC-H-shaped multi-join aggregates (join-perf headliners)
# ---------------------------------------------------------------------------

def q_tpch_q3(spark, sf_dir):
    """Q3 shape: 3-table join, filter both sides of the date, top-10 revenue.
    customer is the small build side (broadcast); the orders⋈lineitem join
    shuffles once on orderkey."""
    c = read_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING")
    o = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15 00:00:00"))
    li = read_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15 00:00:00"))
    rev = F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (li.join(o, li.l_orderkey == o.o_orderkey)
              .join(F.broadcast(c), o.o_custkey == c.c_custkey)
              .groupBy("l_orderkey",
                       F.date_format("o_orderdate", "yyyy-MM-dd")
                        .alias("order_date"))
              .agg(roundn(rev).alias("revenue"))
              .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
              .limit(10))


def q_tpch_q5(spark, sf_dir):
    """Q5 shape: 6-table snowflake join — revenue by nation where customer
    and supplier share the nation.  Dimensions (region/nation/customer/
    supplier) broadcast; the single big shuffle is lineitem⋈orders."""
    r = read_table(spark, sf_dir, "region")
    n = read_table(spark, sf_dir, "nation")
    c = read_table(spark, sf_dir, "customer")
    s = read_table(spark, sf_dir, "supplier")
    o = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    # integer-cents revenue (see cents()): per-nation sums reach 1e9+ at
    # bench SF, where a float sum's association error crosses 6 decimals
    rev_c4 = cents(F.col("l_extendedprice")) \
        * (100 - cents(F.col("l_discount")))
    return (li.join(o, li.l_orderkey == o.o_orderkey)
              .join(F.broadcast(c), o.o_custkey == c.c_custkey)
              .join(F.broadcast(s), (li.l_suppkey == s.s_suppkey)
                    & (c.c_nationkey == s.s_nationkey))
              .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
              .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
              .groupBy("n_name")
              .agg(roundn(F.sum(rev_c4) / 1e4).alias("revenue"),
                   F.count(F.lit(1)).alias("n_items")))


EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def q_pivot_event_types(spark, sf_dir):
    """Pivot (wide one-hot aggregation, the F17 one-hot family as a single
    operator): per-user event counts spread across explicit type columns.
    The explicit value list skips the extra values-discovery job — at
    scale the domain is a catalog fact, not something to re-scan for."""
    e = read_table(spark, sf_dir, "events")
    out = (e.groupBy("user_id")
            .pivot("event_type", EVENT_TYPES)
            .agg(F.count(F.lit(1))))
    return out.select("user_id",
                      *[F.coalesce(F.col(t), F.lit(0)).cast("long")
                         .alias(f"n_{t}") for t in EVENT_TYPES])


def q_phase3_pipeline(spark, sf_dir):
    """SURVEY §3.3 entry point C END-TO-END as one oracle-checked query:
    centroid distance (M5) → within-cluster negated z-score (W6, RouteExec)
    → per-entity mean, joined with lag-diff TrueSpeed (W1+A1), hybrid
    piecewise AirPlayIQ (F15), production context join (A11), volume
    threshold (A13), rank (W7).  The reference runs this as four notebook
    stages with CSV hops; here it is ONE lazy plan."""
    from .functions.scalar import piecewise_multiplier
    from .ml.clustering import centroid_distance_score
    from .operators.kinematics import lag_diff as _lag_diff

    em = read_table(spark, sf_dir, "embeddings")
    dist = centroid_distance_score(em, "vec_id", "label", "embedding") \
        .select("vec_id", "label", "dist")
    iq = zscore_in_group(dist, "dist", ["label"], out="route_exec",
                         negate=True)
    route = (iq.withColumn("user_id", F.col("vec_id") % 15)
               .groupBy("user_id")
               .agg(F.avg("route_exec").alias("route_exec")))

    e = read_table(spark, sf_dir, "events")
    # integer-cents residual/mean (see cents()): engine-invariant averages
    vc = e.withColumn("__vc", cents(F.col("value")))
    resid = _lag_diff(vc, "__vc", ["user_id"], ["ts", "event_id"],
                      out="resid_c")
    n = F.count(F.lit(1))
    ts = (resid.filter(F.col("resid_c").isNotNull())
               .groupBy("user_id")
               .agg((F.sum(F.abs("resid_c")) / n / 100.0).alias("truespeed"),
                    F.count(F.lit(1)).alias("n_frames"),
                    (F.sum("__vc") / n / 10000.0).alias("sep")))

    o = read_table(spark, sf_dir, "orders")
    prod = (o.groupBy(F.col("o_custkey").alias("user_id"))
             .agg(F.sum("o_totalprice").alias("total_value"),
                  F.count(F.lit(1)).alias("n_orders")))

    master = (ts.join(F.broadcast(route), "user_id", "left")
                .join(F.broadcast(prod), "user_id", "left")
                .withColumn("route_exec",
                            F.coalesce("route_exec", F.lit(0.0)))
                .withColumn("total_value",
                            F.coalesce("total_value", F.lit(0.0)))
                .withColumn("n_orders",
                            F.coalesce("n_orders", F.lit(0)).cast("long")))
    thr = master.agg((F.max("n_frames") * 0.5).alias("__thr"))
    qual = (master.crossJoin(F.broadcast(thr))
                  .filter(F.col("n_frames") >= F.col("__thr")))
    air_iq = F.when(F.col("sep") > 2.0, F.col("truespeed") + 0.05) \
              .otherwise(0.8 * F.col("truespeed")
                         * piecewise_multiplier(F.col("sep"))
                         + 0.2 * F.col("route_exec"))
    out = rank_desc(qual.withColumn("air_iq", air_iq), "air_iq")
    return out.select("user_id", roundn(F.col("truespeed")).alias("truespeed"),
                      roundn(F.col("route_exec")).alias("route_exec"),
                      "n_frames", roundn(F.col("air_iq")).alias("air_play_iq"),
                      roundn(F.col("total_value")).alias("total_value"),
                      "n_orders", "rank")


def _insight_metrics(spark, sf_dir):
    """Per-(user, type) metric rows shared by the three insights-notebook
    replays (BDB_2026_inisghts.ipynb#cell2-4): exec/conv metric values
    derived from events exactly as the notebook's per-play IQ columns —
    quantized to exact integer units (cents / floor-micro) so every
    downstream MEAN is a long-sum (order-free, engine-stable)."""
    e = read_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    return e.select(
        "user_id", "event_type",
        cents(F.col("value")).alias("__exec_c"),
        F.floor(F.pmod(F.col("value") * 7.0, F.lit(50.0)) * 1e6)
         .cast("long").alias("__conv_u"),
        F.floor((F.col("value")
                 - F.pmod(F.col("value") * 7.0, F.lit(50.0))) * 1e6)
         .cast("long").alias("__resid_u"))


def q_archetypes(spark, sf_dir):
    """Insight 1 replay (BDB_2026_inisghts.ipynb#cell2), HASH-VERIFIED:
    per-player metric means → starter volume filter (> 40% of max
    volume, a 1-row broadcast) → pandas-style percentile ranks
    (rank(pct=True), average method: (rank + (ties−1)/2) / n) → the
    when-chain archetype labels (Elite / Freestyle / Separator /
    Struggling / Balanced at the notebook's 0.70/0.40 cut points).
    Means reduce as exact integer units (long sums), so every double
    here is bit-identical across engines — no in-engine rounding
    needed.  The ranked frame is player-grain (post-aggregation), so
    the global windows are rank_leaderboard-class: thousands of rows,
    one exchange, never fact-grain."""
    m = (_insight_metrics(spark, sf_dir)
         .groupBy("user_id")
         .agg((F.sum("__exec_c") / F.count(F.lit(1)) / 100.0)
              .alias("exec_iq"),
              (F.sum("__conv_u") / F.count(F.lit(1)) / 1e6)
              .alias("conv_iq"),
              F.count(F.lit(1)).alias("routes_run")))
    thr = m.agg((F.max("routes_run") * 0.4).alias("__thr"))
    style = (m.crossJoin(F.broadcast(thr))
              .filter(F.col("routes_run") > F.col("__thr")))
    n = Window.partitionBy()
    def _pct(col):
        r = F.rank().over(Window.orderBy(col))
        ties = F.count(F.lit(1)).over(Window.partitionBy(col))
        return (r + (ties - 1) / 2.0) / F.count(F.lit(1)).over(n)
    ranked = style.select(
        "user_id", "routes_run",
        _pct(F.col("exec_iq")).alias("exec_pct"),
        _pct(F.col("conv_iq")).alias("conv_pct"))
    arch = (F.when((F.col("exec_pct") > 0.70)
                   & (F.col("conv_pct") > 0.70), "Elite All-Around")
             .when((F.col("exec_pct") < 0.40)
                   & (F.col("conv_pct") > 0.70),
                   "Freestyle / Physical Freak")
             .when((F.col("exec_pct") > 0.70)
                   & (F.col("conv_pct") < 0.40), "Separator / Technician")
             .when((F.col("exec_pct") < 0.40)
                   & (F.col("conv_pct") < 0.40), "Struggling")
             .otherwise("Balanced"))
    return ranked.select("user_id", "routes_run", "exec_pct", "conv_pct",
                         arch.alias("archetype"))


def q_route_kings(spark, sf_dir):
    """Insight 2 replay ("Kings of the Route Tree",
    BDB_2026_inisghts.ipynb#cell3), HASH-VERIFIED: per-(route, player)
    mean score + volume, per-route qualification at max(5, 20% of that
    route's max volume), then the single best qualified player per route
    — the notebook's sort_values().iloc[0] pinned with an explicit
    user_id tie-break (SURVEY §7.5 risk 4: pandas relies on stable sort
    order).  The per-route max-volume table is route-grain (broadcast),
    and the top-1 is one window over the post-agg grain."""
    rs = (_insight_metrics(spark, sf_dir)
          .groupBy("event_type", "user_id")
          .agg((F.sum("__exec_c") / F.count(F.lit(1)) / 100.0)
               .alias("score"),
               F.count(F.lit(1)).alias("n_runs")))
    mx = rs.groupBy("event_type").agg(F.max("n_runs").alias("__mx"))
    qual = (rs.join(F.broadcast(mx), "event_type")
              .filter(F.col("n_runs")
                      >= F.greatest(F.lit(5.0), F.col("__mx") * 0.2)))
    w = Window.partitionBy("event_type").orderBy(
        F.desc("score"), F.asc("user_id"))
    return (qual.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .select(F.col("event_type").alias("route"),
                        F.col("user_id").alias("best_player"),
                        "score", "n_runs"))


def q_model_beaters(spark, sf_dir):
    """Insight 3 replay ("Model Beaters",
    BDB_2026_inisghts.ipynb#cell4), HASH-VERIFIED: mean residual
    (actual − predicted) per player, semi-joined to the starter set
    (the archetype query's volume threshold) and reduced to the top 10
    hidden-speed players with an explicit user_id tie-break.  Residuals
    quantize to floor-micro units before the mean (long-sum,
    order-free); the starter threshold is the same 1-row broadcast."""
    m = (_insight_metrics(spark, sf_dir)
         .groupBy("user_id")
         .agg((F.sum("__resid_u") / F.count(F.lit(1)) / 1e6)
              .alias("mean_residual"),
              F.count(F.lit(1)).alias("routes_run")))
    thr = m.agg((F.max("routes_run") * 0.4).alias("__thr"))
    starters = (m.crossJoin(F.broadcast(thr))
                 .filter(F.col("routes_run") > F.col("__thr")))
    w = Window.orderBy(F.desc("mean_residual"), F.asc("user_id"))
    return (starters.withColumn("__rn", F.row_number().over(w))
                    .filter(F.col("__rn") <= 10)
                    .select("user_id", "mean_residual", "routes_run",
                            F.col("__rn").cast("long").alias("rank")))


def q_metric_correlations(spark, sf_dir):
    """The reference's metric-correlation analysis
    (outputs/metric_correlation.png, market_inefficiency_correlations),
    HASH-VERIFIED as an EXACT-INTEGER Pearson matrix: the three insight
    metrics correlate pairwise at the observation grain via the
    algebraic form r = (n·Σxy − Σx·Σy) / √((n·Σx² − (Σx)²)(n·Σy² −
    (Σy)²)) with every Σ a DECIMAL(38,0) sum of integer-quantized
    values — exact under any partition order with a fail-loud guard at
    the DECIMAL(38,0) moment ceiling (reached near ~4e11 rows at these
    unit scales; rescale units past it), ONE pass over the facts (a
    single 10-sum aggregate), and
    one final double expression per pair that is bit-identical across
    engines (no rounding applied, none needed).  Built-in corr() would
    NOT hash-match: its streaming-covariance accumulation is
    association-order-dependent."""
    m = _insight_metrics(spark, sf_dir)
    dec = "decimal(38,0)"
    x = F.col("__exec_c").cast(dec)
    y = F.col("__conv_u").cast(dec)
    z = F.col("__resid_u").cast(dec)
    agg = m.agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum(x).alias("sx"), F.sum(y).alias("sy"), F.sum(z).alias("sz"),
        F.sum(x * x).alias("sxx"), F.sum(y * y).alias("syy"),
        F.sum(z * z).alias("szz"),
        F.sum(x * y).alias("sxy"), F.sum(x * z).alias("sxz"),
        F.sum(y * z).alias("syz"))

    # fail-loud guard past DECIMAL(38,0): the moment products n·Σaa or
    # (Σa)² approach 1e38 they overflow to NULL in non-ANSI Spark and
    # every r would silently emit NULL (the ks_two_sample overflow
    # class).  Magnitudes are checked in double (approximate is fine —
    # the guard needs an order of magnitude, not exactness).
    _mag = F.greatest(*[F.abs(F.col(c)).cast("double")
                        for c in ("sx", "sy", "sz")])
    _ss = F.greatest(*[F.col(c).cast("double")
                       for c in ("sxx", "syy", "szz")],
                     *[F.abs(F.col(c)).cast("double")
                       for c in ("sxy", "sxz", "syz")])
    _ok = ((F.col("n").cast("double") * _ss < F.lit(9e37))
           & (_mag * _mag < F.lit(9e37)))

    def r(sa, sb, saa, sbb, sab):
        num = (F.col("n") * F.col(sab)
               - F.col(sa) * F.col(sb)).cast("double")
        da = (F.col("n") * F.col(saa)
              - F.col(sa) * F.col(sa)).cast("double")
        db = (F.col("n") * F.col(sbb)
              - F.col(sb) * F.col(sb)).cast("double")
        return F.when(_ok, num / F.sqrt(da * db)).otherwise(
            F.raise_error(F.lit(
                "q_metric_correlations: moment products exceed "
                "DECIMAL(38,0) exactness — rescale the quantized "
                "units before trusting r")))

    pairs = F.array(
        F.struct(F.lit("exec").alias("metric_a"),
                 F.lit("conv").alias("metric_b"),
                 r("sx", "sy", "sxx", "syy", "sxy").alias("r")),
        F.struct(F.lit("exec").alias("metric_a"),
                 F.lit("resid").alias("metric_b"),
                 r("sx", "sz", "sxx", "szz", "sxz").alias("r")),
        F.struct(F.lit("conv").alias("metric_a"),
                 F.lit("resid").alias("metric_b"),
                 r("sy", "sz", "syy", "szz", "syz").alias("r")))
    return (agg.select(F.explode(pairs).alias("__p"),
                       F.col("n").cast("long").alias("n_obs"))
               .select("__p.metric_a", "__p.metric_b", "__p.r", "n_obs"))


def q_rollup_revenue(spark, sf_dir):
    """Hierarchical subtotals: ROLLUP over (returnflag, linestatus) with a
    grouping id — the multi-grain agg the reference computes as separate
    groupbys, in one shuffle."""
    li = read_table(spark, sf_dir, "lineitem")
    return (li.rollup("l_returnflag", "l_linestatus")
              .agg(roundn(F.sum("l_quantity")).alias("sum_qty"),
                   F.count(F.lit(1)).alias("n"),
                   F.grouping_id().cast("long").alias("gid")))


def q_sliding_window(spark, sf_dir):
    """Sliding-frame window (ROWS BETWEEN 3 PRECEDING AND CURRENT ROW):
    trailing mean + max per user — the moving-average shape the reference
    never needed but any kinematics smoothing does."""
    e = read_table(spark, sf_dir, "events")
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
               .rowsBetween(-3, 0))
    return e.select("event_id", "user_id",
                    roundn(F.avg("value").over(w)).alias("trailing_mean"),
                    roundn(F.max("value").over(w)).alias("trailing_max"))


def q_tpch_q14(spark, sf_dir):
    """Q14 shape: promo-revenue share — lineitem⋈part broadcast join with
    a conditional aggregate over the joined rows (CASE inside sum / total
    sum, one pass)."""
    li = read_table(spark, sf_dir, "lineitem")
    p = read_table(spark, sf_dir, "part")
    # integer-cents revenue (see cents()): the global total is a
    # billion-scale sum where float association error crosses 6 decimals
    rev_c4 = cents(F.col("l_extendedprice")) \
        * (100 - cents(F.col("l_discount")))
    promo = F.sum(F.when(F.col("p_type") == "PROMO", rev_c4)
                   .otherwise(F.lit(0).cast("long")))
    return (li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
              .agg(roundn(100.0 * promo / F.sum(rev_c4)).alias("promo_pct"),
                   roundn(F.sum(rev_c4) / 1e4).alias("total_revenue"),
                   F.count(F.lit(1)).alias("n_items")))


def q_range_window(spark, sf_dir):
    """RANGE-frame window: per-user trailing 1-hour event count/sum by
    event TIME, not row position — the frame family time-series smoothing
    needs when sampling is irregular.  Ordered on epoch seconds so the
    range arithmetic is integral in both engines."""
    e = read_table(spark, sf_dir, "events")
    epoch = F.unix_timestamp("ts").cast("long")
    w = (Window.partitionBy("user_id").orderBy(epoch)
               .rangeBetween(-3600, 0))
    return (e.withColumn("n_1h", F.count(F.lit(1)).over(w).cast("long"))
             .withColumn("sum_1h", roundn(F.sum("value").over(w)))
             .select("event_id", "user_id", "n_1h", "sum_1h"))


def q_tpch_q18(spark, sf_dir):
    """Q18 shape: large-quantity orders — HAVING over a fact-side agg,
    then semi-join back to enrich.  The agg's build side is tiny after the
    threshold, so the enrich join broadcasts."""
    li = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders")
    big = (li.groupBy("l_orderkey")
             .agg(F.sum("l_quantity").alias("total_qty"))
             .filter(F.col("total_qty") > 150))
    return (o.join(F.broadcast(big), o.o_orderkey == big.l_orderkey)
             .select("o_orderkey", "o_custkey",
                     F.date_format("o_orderdate", "yyyy-MM-dd")
                      .alias("order_date"),
                     roundn(F.col("o_totalprice")).alias("o_totalprice"),
                     roundn(F.col("total_qty")).alias("total_qty")))


def q_tpch_q6(spark, sf_dir):
    """Q6 shape: single-table filtered aggregate.  Every predicate is
    scan-eligible (date range, discount band, quantity cap) so the whole
    WHERE clause pushes into the parquet reader and the only exchange is
    the final one-row reduce — the cheapest possible 100 TB full-scan
    query, bounded by IO not shuffle."""
    li = read_table(spark, sf_dir, "lineitem")
    sel = li.filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00"))
        & (F.col("l_discount") >= 0.05) & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24))
    return sel.agg(
        roundn(F.sum(cents(F.col("l_extendedprice"))
                     * cents(F.col("l_discount"))) / 1e4)
        .alias("revenue"),
        F.count(F.lit(1)).alias("n_items"))


def q_exists_late_ship(spark, sf_dir):
    """Q4 shape: correlated EXISTS as a non-equi left-semi join — orders
    with at least one lineitem shipped >60 days after the order date,
    counted by priority.  The semi-join stops probing an order on first
    match; the extra inequality rides on the equi-join, no theta join."""
    o = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    late = o.join(
        li, (o.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > o.o_orderdate + F.expr("INTERVAL 60 DAYS")),
        "left_semi")
    return (late.groupBy("o_orderpriority")
                .agg(F.count(F.lit(1)).alias("order_count")))


def q_tpch_q10(spark, sf_dir):
    """Q10 shape: returned-item revenue per customer, top 20.  The
    returnflag filter prunes lineitem before the one orderkey shuffle;
    customer and nation broadcast onto the aggregated (small) side."""
    li = read_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    n = read_table(spark, sf_dir, "nation")
    rev = F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (li.join(o, li.l_orderkey == o.o_orderkey)
              .join(F.broadcast(c), o.o_custkey == c.c_custkey)
              .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
              .groupBy("c_custkey", "c_name", "n_name")
              .agg(roundn(rev).alias("revenue"))
              .orderBy(F.desc("revenue"), F.asc("c_custkey"))
              .limit(20))


def q_tpch_q12(spark, sf_dir):
    """Q12 shape: conditional bucket counts after a fact-fact join —
    per linestatus, how many 1997 shipments belonged to high- vs
    low-priority orders.  One shuffle (orderkey); the CASE buckets are
    map-side expressions feeding a partial agg."""
    li = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00")))
    o = read_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (li.join(o, li.l_orderkey == o.o_orderkey)
              .groupBy("l_linestatus")
              .agg(F.sum(F.when(high, 1).otherwise(0)).cast("long")
                    .alias("high_line_count"),
                   F.sum(F.when(high, 0).otherwise(1)).cast("long")
                    .alias("low_line_count")))


def q_anti_join(spark, sf_dir):
    """Left-anti join (NOT EXISTS): customers with no URGENT order.
    Complements J3's left-semi — same broadcast-able build side (the
    filtered key set), opposite polarity.  The reference's ``~isin`` (P4)
    is this operator with a driver-side list; anti-join is the form that
    survives when the exclusion set no longer fits on the driver."""
    c = read_table(spark, sf_dir, "customer")
    urgent = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT")
    return (c.join(urgent, c.c_custkey == urgent.o_custkey, "left_anti")
             .select("c_custkey", "c_name",
                     roundn(F.col("c_acctbal")).alias("c_acctbal")))


def q_cube_qty(spark, sf_dir):
    """CUBE over (returnflag, linestatus) — all four grain combinations
    (detail, each single-axis subtotal, grand total) in ONE shuffle, where
    the reference runs a separate groupby per grain.  grouping() flags
    disambiguate real NULLs from subtotal rows."""
    li = read_table(spark, sf_dir, "lineitem")
    return (li.cube("l_returnflag", "l_linestatus")
              .agg(roundn(F.sum("l_quantity")).alias("sum_qty"),
                   F.count(F.lit(1)).alias("n"),
                   F.grouping_id().cast("long").alias("gid")))


def q_interval_join(spark, sf_dir):
    """Interval (range) join, bucketed scale path: every event of a user
    within ±6 h of one of that user's error events — pairs, not a window
    frame, so downstream can aggregate per error.  The 6 h bucket width
    matches the interval length (explode factor ≤ 3); the plan is a pure
    equi-join on (user_id, bucket) + exact containment filter."""
    from .operators.ranges import interval_join
    e = read_table(spark, sf_dir, "events")
    errs = (e.filter(F.col("event_type") == "error")
             .select("user_id", F.col("event_id").alias("err_event_id"),
                     (F.col("ts") - F.expr("INTERVAL 6 HOURS")).alias("w_start"),
                     (F.col("ts") + F.expr("INTERVAL 6 HOURS")).alias("w_end")))
    out = interval_join(
        e.select("event_id", "user_id", "ts", "event_type", "value"),
        errs, left_ts="ts", right_start="w_start", right_end="w_end",
        on=[("user_id", "user_id")], payload=["err_event_id"],
        bucket_seconds=21600)
    return (out.filter(F.col("event_id") != F.col("err_event_id"))
               .select("event_id", "err_event_id", "user_id", "event_type",
                       roundn(F.col("value")).alias("value")))


def q_training_prep(spark, sf_dir):
    """Composed training-data prep — the pipeline a pre-training corpus
    runs, end to end in ONE lazy plan: window-dedup to canonical docs
    (one shuffle on content hash, no join-back), language-ID + quality
    features (pure projections, fused by codegen), a length/stopword
    keep-filter, then per-language corpus stats including language-ID
    accuracy against the table's ground-truth ``lang`` column."""
    docs = read_table(spark, sf_dir, "documents")
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    canon = (docs.withColumn("_rn", F.row_number().over(w))
                 .filter(F.col("_rn") == 1).drop("_rn"))
    # quality + language-ID + ground truth are all pure projections of the
    # SAME parent — fuse them into one select (zero joins, zero extra
    # shuffles; codegen fuses the whole feature block) instead of
    # branch-joining three derivatives back on doc_id.
    from .pipeline.text import language_id_columns, quality_columns
    feat = canon.select("doc_id", "lang",
                        *quality_columns("text"),
                        *language_id_columns("text"))
    kept = feat.filter((F.col("n_tokens") >= 20)
                       & (F.col("stopword_ratio") >= 0.01))
    return (kept.groupBy("predicted_lang")
                .agg(F.count(F.lit(1)).alias("n_docs"),
                     F.sum("n_tokens").alias("total_tokens"),
                     roundn(F.avg("stopword_ratio")).alias("avg_stopword_ratio"),
                     roundn(F.avg("punct_ratio")).alias("avg_punct_ratio"),
                     roundn(F.avg(F.when(F.col("predicted_lang")
                                         == F.col("lang"), 1.0)
                                   .otherwise(0.0))).alias("langid_accuracy")))


def q_tpch_q7(spark, sf_dir):
    """Q7 shape: shipping volume between two nations by year, both
    directions — the double-dimension join where the customer nation and
    supplier nation are DIFFERENT dimension rows of the same table (two
    broadcast aliases), with a disjunctive pair predicate and a year
    rollup of the fact."""
    li = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    s = read_table(spark, sf_dir, "supplier")
    n = read_table(spark, sf_dir, "nation")
    n1 = n.select(F.col("n_nationkey").alias("c_nk"),
                  F.col("n_name").alias("cust_nation"))
    n2 = n.select(F.col("n_nationkey").alias("s_nk"),
                  F.col("n_name").alias("supp_nation"))
    pair = (((F.col("cust_nation") == "NATION_1")
             & (F.col("supp_nation") == "NATION_2"))
            | ((F.col("cust_nation") == "NATION_2")
               & (F.col("supp_nation") == "NATION_1")))
    # integer-cents revenue (see cents()): nation-pair-year sums are
    # large enough for float association error to cross 6 decimals
    rev_c4 = cents(F.col("l_extendedprice")) \
        * (100 - cents(F.col("l_discount")))
    return (li.join(o, li.l_orderkey == o.o_orderkey)
              .join(F.broadcast(c), o.o_custkey == c.c_custkey)
              .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
              .join(F.broadcast(n1), F.col("c_nationkey") == F.col("c_nk"))
              .join(F.broadcast(n2), F.col("s_nationkey") == F.col("s_nk"))
              .filter(pair)
              .groupBy("supp_nation", "cust_nation",
                       F.year("l_shipdate").cast("long").alias("ship_year"))
              .agg(roundn(F.sum(rev_c4) / 1e4).alias("revenue"),
                   F.count(F.lit(1)).alias("n_items")))


HASH_SAMPLE_MULT = 2654435761  # Knuth multiplicative constant (2^32·φ)
HASH_SAMPLE_MOD = 1 << 32
HASH_SAMPLE_KEY_MOD = 1 << 31  # pre-multiply reduction: (2^31-1)*MULT < 2^63 (int64-exact)


def q_shard_stats(spark, sf_dir):
    """Training-shard manifest, HASH-VERIFIED: deterministic shard
    assignment (neutral hash of doc_id mod 8 — membership is a pure
    function of the key, reproducible on any engine/run/partitioning)
    plus the per-shard manifest aggregates a trainer checks before an
    epoch (rows, distinct keys, corpus chars).  The write path
    (sources/shards.py) clusters on this id so each shard directory is
    one task's output; this query pins the assignment + manifest math."""
    from .sources.shards import shard_assignment
    d = read_table(spark, sf_dir, "documents")
    return (shard_assignment(d, "doc_id", 8)
            .groupBy("shard")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.countDistinct("doc_id").alias("n_keys"),
                 F.sum(F.col("n_chars").cast("long")).alias("n_chars")))


def q_quota_sample(spark, sf_dir):
    """Per-source token-BUDGET sampling, HASH-VERIFIED: the data-mixing
    step that fills each source's quota of a training mix — documents
    visited in deterministic neutral-hash order, kept while the running
    char total stays within 3000 per source (whole documents only).
    Unlike a sampling RATE, the quota adapts to each source's size
    distribution.  At sf0.01 every source exceeds the budget, so the
    oracle verifies the cut point, not the trivial keep-all case."""
    from .pipeline.sampling import quota_sample
    d = read_table(spark, sf_dir, "documents")
    kept = quota_sample(d, "source", "doc_id", "n_chars", 3000)
    return (kept.groupBy("source")
                .agg(F.count(F.lit(1)).alias("n_docs"),
                     F.sum(F.col("n_chars").cast("long"))
                      .alias("chars_kept")))


def q_hash_sample(spark, sf_dir):
    """Deterministic hash sampling — the stable-split idiom every
    training-data pipeline needs: membership depends only on the row KEY
    (multiplicative hash, explicit arithmetic — engine-neutral, unlike
    ``rand(seed)`` or engine hash builtins), so the same 20% sample falls
    out on any engine, any partitioning, any run.  Map-side filter: no
    shuffle, combines with predicate pushdown of the id column.  The key
    is reduced mod 2^31 before the multiply so the product stays < 2^63
    for any int64 key (mod 2^32 would NOT suffice: reduced keys ≳ 3.47e9
    overflow — wrapping in Spark but promoting to HUGEINT in DuckDB,
    breaking the cross-engine guarantee)."""
    d = read_table(spark, sf_dir, "documents")
    bucket = F.pmod(F.pmod(F.col("doc_id"), F.lit(HASH_SAMPLE_KEY_MOD))
                    * F.lit(HASH_SAMPLE_MULT),
                    F.lit(HASH_SAMPLE_MOD))
    return (d.filter(bucket < int(0.2 * HASH_SAMPLE_MOD))
             .select("doc_id", "lang", "source",
                     F.col("n_chars").cast("long").alias("n_chars")))


def q_approx_quantiles(spark, sf_dir):
    """A14 scale path: ``percentile_approx`` with an explicit accuracy
    knob — the mergeable-sketch percentile for 100 TB, where the exact
    percentile's per-group full sort is the bottleneck.  Rows-only (the
    sketch is engine-specific); the containment contract vs the EXACT
    per-group quantiles (approx within the rank-error bound) is pinned by
    tests/test_pipeline.py::test_approx_quantiles_within_rank_error."""
    e = read_table(spark, sf_dir, "events")
    acc = 1000  # rank error ≤ n / acc per group
    return (e.groupBy("event_type")
             .agg(roundn(F.percentile_approx("value", 0.5, acc)).alias("p50"),
                  roundn(F.percentile_approx("value", 0.9, acc)).alias("p90"),
                  roundn(F.percentile_approx("value", 0.99, acc)).alias("p99"),
                  F.count("value").alias("n")))


def q_quantile_sketch(spark, sf_dir):
    """A14 scale path, HASH-VERIFIED: bottom-k-by-neutral-hash quantile
    sketch (KMV uniform sample) built at (event_type, day) grain — the
    persisted per-batch state — then min-k-merged to event_type and
    estimated with exact sample percentiles.  The deterministic twin of
    q_approx_quantiles: same mergeable-state contract as the neutral HLL
    (union ≡ whole, never rescan history), but every step is explicit
    arithmetic, so the DuckDB oracle reproduces sample AND estimate
    bit-for-bit.  k=128 < the sf0.01 group sizes, so the sampling path
    (not the trivial whole-group case) is what the oracle verifies."""
    from .operators.sketches import (quantile_sketch_estimate,
                                     quantile_sketch_merge,
                                     quantile_sketch_state)
    e = read_table(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    daily = quantile_sketch_state(e, ["event_type", "day"], "value",
                                  "event_id", k=128)
    merged = quantile_sketch_merge(daily.drop("day"), ["event_type"],
                                   "value", "event_id", k=128)
    return quantile_sketch_estimate(
        merged, ["event_type"], "value",
        {"p25": 0.25, "p50": 0.5, "p90": 0.9})


def q_distribution_windows(spark, sf_dir):
    """Distribution window functions over a global ordering: decile
    (ntile), percent_rank, cume_dist of customer balances — WITHOUT the
    single-reducer global window.  The total order (acctbal, custkey)
    is tie-free, so a distributed row_number (cumsum_distributed over a
    constant-1 column: range-partitioned local prefix + a partitions-row
    offset pass) determines all three EXACTLY in-row:
    ntile(k) follows SQL's big-buckets-first split (first n%k buckets
    get ⌈n/k⌉ rows), percent_rank = (rn−1)/(n−1), cume_dist = rn/n
    (tie-free).  The oracle stays the plain window formulation — the
    hash match proves the distributed form IS the window semantics."""
    from .operators.windows import cumsum_distributed
    c = (read_table(spark, sf_dir, "customer")
         .select("c_custkey", "c_acctbal", F.lit(1).alias("__one")))
    rn = F.col("cum___one")
    ranked = (cumsum_distributed(c, ["c_acctbal", "c_custkey"],
                                 ["__one"])
              .crossJoin(F.broadcast(
                  c.agg(F.count(F.lit(1)).alias("__n")))))
    # integer floor-divs ride double division (exact below 2^53 ≈ 9e15
    # rows — far past any real table; past that, cast to DECIMAL)
    n, k = F.col("__n"), F.lit(10)
    base, rem = (n / k).cast("long"), n % k
    cut = rem * (base + 1)
    decile = (F.when(rn <= cut, (rn + base) / (base + 1))
               .otherwise(rem + (rn - cut + base - 1) / base)
               .cast("long"))
    return ranked.select(
        "c_custkey",
        decile.alias("decile"),
        roundn(F.when(n == 1, F.lit(0.0))
                .otherwise((rn - 1) / (n - 1))).alias("pct_rank"),
        roundn(rn / n).alias("cume"))


# ---------------------------------------------------------------------------
# event-time windows (streaming-shaped, batch-checkable)
# ---------------------------------------------------------------------------

def q_window_agg_hourly(spark, sf_dir):
    """Event-time tumbling window aggregation — the batch twin of the
    Structured Streaming operator (streaming/stream_ops.py); epoch-aligned
    1-hour windows ≙ date_trunc('hour')."""
    from .streaming.stream_ops import hourly_window_agg
    e = read_table(spark, sf_dir, "events")
    out = hourly_window_agg(e, exact_cents=True)
    return out.select("window_start", "event_type", "n",
                      roundn(F.col("total_value")).alias("total_value"),
                      roundn(F.col("mean_value")).alias("mean_value"))


def q_sessionize(spark, sf_dir):
    """Gap-based sessionization per user (session_window, 30-min gap) —
    oracle via the gaps-and-islands formulation (new session when the gap
    to the previous event is ≥ 30 min)."""
    from .streaming.stream_ops import sessionize
    e = read_table(spark, sf_dir, "events")
    out = sessionize(e, gap="30 minutes")
    return out.select("user_id", "session_start", "n_events",
                      roundn(F.col("session_value")).alias("session_value"))


def q_token_counts(spark, sf_dir):
    """Token counting: whitespace tokens + chars + BPE-ish estimate."""
    from .pipeline.text import token_counts
    return token_counts(read_table(spark, sf_dir, "documents"))


def q_text_normalize(spark, sf_dir):
    """Canonical text normalization (lower → punct-strip → whitespace-
    collapse → trim): the pre-step that makes trivial variants hash equal
    in exact dedup.  Pure codegen projection, exact oracle."""
    from .pipeline.text import normalize_text
    return normalize_text(read_table(spark, sf_dir, "documents"))


def q_chunk_docs(spark, sf_dir):
    """Sequence packing: every document split into consecutive 32-token
    chunks (last ragged) — the pretraining chunking step as a staged
    token array + executor-side posexplode fan-out.  Exact oracle over
    doc_id × chunk_id with the chunk text and its token count."""
    from .pipeline.text import chunk_documents
    return chunk_documents(read_table(spark, sf_dir, "documents"), chunk_size=32)


def q_union_by_name(spark, sf_dir):
    """S2/U1: schema-drift union — two projections with different columns
    combined by NAME with nulls for the missing side
    (unionByName(allowMissingColumns=True), the weekly-shard concat fix)."""
    e = read_table(spark, sf_dir, "events")
    a = e.filter(F.col("event_type") == "purchase") \
         .select("event_id", "user_id", roundn(F.col("value")).alias("value"))
    b = e.filter(F.col("event_type") == "error") \
         .select("event_id", "user_id")
    return a.unionByName(b.withColumn("value", F.lit(None).cast("double")),
                         allowMissingColumns=True)


# ---------------------------------------------------------------------------
# rows-only queries (probabilistic / hash-based / pandas-UDF ops: no SQL
# oracle — the driver records the weaker rows-only check; property tests in
# tests/ cover their semantics)
# ---------------------------------------------------------------------------

def q_minhash_pairs(spark, sf_dir):
    """MinHash+LSH near-dup candidates over documents (minhash_lsh_pairs,
    unfiltered split), hash-verified against the DuckDB oracle: every
    hash in the pipeline is the polynomial family.  Threshold 0.4
    distinguishes it from q_minhash_neutral's 0.5."""
    from .pipeline.dedup import minhash_lsh_pairs
    return minhash_lsh_pairs(read_table(spark, sf_dir, "documents"),
                             min_est_jaccard=0.4)


def q_simhash(spark, sf_dir):
    """SimHash near-duplicate PAIRS: band equi-join candidates + exact
    Hamming filter (bit_count of XOR) over the engine-neutral 60-bit
    fingerprint — hash-verified (r5; previously fingerprints only,
    rows-only)."""
    from .pipeline.dedup import simhash_neutral_pairs
    return simhash_neutral_pairs(read_table(spark, sf_dir, "documents"),
                                 max_hamming=4)


def q_lsh_topk(spark, sf_dir):
    """Multi-table random-hyperplane LSH approximate cosine top-k
    (16 tables × 6 sign bits, OR-of-ANDs — r9; the single-table r1–r8
    shape measured recall@3 = 0.0 at sf0.1).  Measured recall@3 = 0.620
    at sf0.1 over 50 query ids, asserted ≥ 0.52 by
    tests/test_recall_sf01.py (trade curve in SCALE.md r10)."""
    from .pipeline.similarity import lsh_bucketed_topk
    return lsh_bucketed_topk(read_table(spark, sf_dir, "embeddings"),
                             query_ids=[0, 1, 2, 3, 4], k=3)


def q_ivf_topk(spark, sf_dir):
    """IVF coarse-quantizer ANN: KMeans cells + nprobe probing + exact
    re-rank at the measured default (16 cells, nprobe=6 — recall@3 =
    0.800 over 50 queries at sf0.1, full frontier table in ivf_topk's
    docstring / SCALE.md; floor 0.70 asserted by
    tests/test_recall_sf01.py).  Approximate (rows-only check);
    equivalence to brute force at nprobe == n_cells is pinned by
    test_ivf_full_probe_equals_brute_force."""
    from .pipeline.similarity import ivf_topk
    return ivf_topk(read_table(spark, sf_dir, "embeddings"),
                    query_ids=[0, 1, 2, 3, 4], k=3)


def q_lsh_neutral(spark, sf_dir):
    """Engine-neutral hyperplane LSH (hash-verified): plane weights from
    an explicit multiplicative hash, sign decision on an EXACT integer
    sum (floor-to-micro-units quantization), bucket equi-join, exact
    cosine re-rank — the ANN analogue of q_minhash_neutral."""
    from .pipeline.similarity import lsh_neutral_topk
    return lsh_neutral_topk(read_table(spark, sf_dir, "embeddings"),
                            query_ids=[0, 1, 2, 3, 4], k=3)


def q_ivf_neutral(spark, sf_dir):
    """Engine-neutral IVF (hash-verified): deterministic per-label mean
    centroids as the coarse quantizer, nprobe=2 probing, exact cosine
    re-rank — same plan shape as q_ivf_topk with a value-comparable cell
    assignment."""
    from .pipeline.similarity import ivf_neutral_topk
    return ivf_neutral_topk(read_table(spark, sf_dir, "embeddings"),
                            query_ids=[0, 1, 2, 3, 4], k=3, nprobe=2)


def q_fingerprint(spark, sf_dir):
    """Winnowing-style document fingerprint (polynomial rolling hash —
    explicit arithmetic, so the DuckDB oracle reproduces it exactly)."""
    from .pipeline.text import fingerprint_documents
    return fingerprint_documents(read_table(spark, sf_dir, "documents"))


def q_media_ahash(spark, sf_dir):
    """Perceptual average-hash over decoded media payloads,
    HASH-VERIFIED: the image-dedup fingerprint computed at the Python
    decode seam (mapInPandas, Arrow batches) with integer-exact block
    thresholds, plus its 4 LSH band keys — the media analog of the
    SimHash text fingerprint, verified bit-for-bit because the fake
    decode is byte-deterministic and every threshold is an integer
    cross-multiplication.  Pairing (ahash_near_dup_pairs) is the
    SimHash banding discipline and carries planted-perturbation tests."""
    from .pipeline.multimodal import (ahash_band_cols,
                                      attach_binary_payload,
                                      perceptual_ahash)
    d = read_table(spark, sf_dir, "documents")
    media = attach_binary_payload(d, "doc_id", "text")
    h = perceptual_ahash(media)
    return h.select("media_id", "ahash", *ahash_band_cols("ahash", 4))


def q_multimodal_features(spark, sf_dir):
    """Binary-column multimodal plumbing: utf-8 payloads → mapInPandas
    decode-stub → per-payload features (Arrow-batched, schema-typed)."""
    from .pipeline.multimodal import attach_binary_payload, extract_features
    d = read_table(spark, sf_dir, "documents")
    media = attach_binary_payload(d, "doc_id", "text")
    return extract_features(media)


def q_frame_sample(spark, sf_dir):
    """Video-frame extraction shape, fully JVM-side: the binary payload
    treated as fixed 32-byte frames, stride-2 sampled via sequence/filter
    and sliced with binary substring — executor-side fan-out, decode
    deferred to sampled frames only.  Oracle checks the frame grid
    (media_id × frame_idx) and each frame's byte length arithmetically."""
    from .pipeline.multimodal import attach_binary_payload, explode_frames
    d = read_table(spark, sf_dir, "documents")
    media = attach_binary_payload(d, "doc_id", "text")
    return explode_frames(media, frame_bytes=32, every_n=2) \
        .select("media_id", "frame_idx", "n_bytes")


def q_pack_chunks(spark, sf_dir):
    """Greedy sequence packing as a WINDOW CUMSUM — how a pretraining
    pipeline assigns token chunks to fixed-size context windows at scale:
    within each packing stream (ordered by doc, then chunk), bin =
    floor(running-token-total / 256); then per-bin occupancy stats.

    Streams are (lang, doc_id mod 8): ANY deterministic partition of
    documents is a valid set of packing streams, and sharding within
    language keeps the window parallelism at streams × langs instead of
    capping it at the language count (4-5 values would serialize a
    100 TB corpus onto a handful of tasks).  Never a driver loop, never
    a global single-partition ordering."""
    from .pipeline.text import chunk_documents
    d = read_table(spark, sf_dir, "documents")
    chunks = chunk_documents(d, chunk_size=32, carry=("lang",)) \
        .withColumn("stream", F.pmod(F.col("doc_id"), F.lit(8)).cast("long"))
    w = Window.partitionBy("lang", "stream").orderBy("doc_id", "chunk_id")
    binned = chunks.withColumn(
        "bin",
        F.floor((F.sum("n_tokens").over(w) - F.col("n_tokens")) / 256)
         .cast("long"))
    return (binned.groupBy("lang", "stream", "bin")
                  .agg(F.count(F.lit(1)).alias("n_chunks"),
                       F.sum("n_tokens").alias("bin_tokens"),
                       F.countDistinct("doc_id").alias("n_docs")))


def q_bpe_merges(spark, sf_dir):
    """Distributed BPE merge learning (pipeline/bpe.py): the tokenizer-
    training loop over the word-frequency table — the corpus collapses
    to vocab grain in one combinable aggregation (top-K capped), and all
    merges learn driver-side.  Hash-verified since r5: the oracle
    unrolls the 8 merge rounds as materialized CTE stages (pair-count →
    argmax with the count/lexicographic tie-break → greedy merge via
    wrapped-symbol string replace — pure integer/string work, so the
    match is exact); gold-corpus and determinism tests pin the
    algorithm besides."""
    from .pipeline.bpe import bpe_learn_merges
    return bpe_learn_merges(read_table(spark, sf_dir, "documents"), n_merges=8)


def q_bpe_encode(spark, sf_dir):
    """The tokenizer ENCODE side, HASH-VERIFIED: learn 8 merges (the
    vocab-grain driver seam q_bpe_merges pins), then segment every
    document distributed — per-word symbol arrays staged once, one
    interpreted fold per merge (HOF-CSE rule), whole-document piece
    counts JVM-side.  The oracle replays the same 8 unrolled merge
    rounds to the word→pieces map and joins it onto each document's
    words, so the per-doc token counts a data-mixing budget consumes
    are verified end-to-end, not just the learned merge list."""
    from .pipeline.bpe import bpe_learn_merges, bpe_segment
    d = read_table(spark, sf_dir, "documents")
    merges = [(r["left"], r["right"]) for r in
              bpe_learn_merges(d, n_merges=8).orderBy("rank").collect()]
    return bpe_segment(d, merges)


def q_route_clusters(spark, sf_dir):
    """M1-M3 (cluster_routes_kmeans, bdb2026/routes.py:173-233) as the
    deterministic relational pipeline: median impute → per-dim z-scale →
    Lloyd k-means (per-label init, 2 rounds) → cluster sizes.  Every step
    is explicit arithmetic, so the DuckDB oracle reproduces assignments
    bit-for-bit (hash-verified since r5; the Spark ML KMeans form stays
    the library path, covered by label-invariant tests — its labels are
    init-dependent and can never value-match another engine)."""
    from .ml.clustering import route_clusters_relational
    return route_clusters_relational(read_table(spark, sf_dir, "embeddings"),
                                     n_dims=8, iters=2)


def q_pca_embed(spark, sf_dir):
    """M4 (PCA(2) for viz, BDB_2026.ipynb#cell39): project the leading
    embedding dims onto 2 principal components — hash-verified since r5
    via the deterministic power-iteration construction (explicit ordered
    arithmetic + sign canon; the oracle unrolls the same 50 rounds as
    1-row scalar CTE stages).  The Spark ML eigendecomposition form
    (pca_2d) stays the library path with variance/orthogonality
    invariant tests — its component SIGN is library-specific and can
    never value-match another engine."""
    from .ml.clustering import pca_power_2d
    out = pca_power_2d(read_table(spark, sf_dir, "embeddings"), n_dims=6,
                       iters=50)
    return out.select("vec_id", roundn(F.col("pc1")).alias("pc1"),
                      roundn(F.col("pc2")).alias("pc2"))


# ---------------------------------------------------------------------------
# flagship (SURVEY §7.3): scan → window → join → agg → rank — the spine of
# every reference pipeline in one query
# ---------------------------------------------------------------------------

def q_flagship_truespeed(spark, sf_dir):
    """TrueSpeed-shaped residual aggregation: per-user ordered lag-diff of
    ``value`` (≙ W1/W2 converge rate), left-join the customer dimension
    (≙ J4, broadcast), mean |residual| per user (≙ A1/A2 MAE), rank desc
    (≙ W7).  One shuffle for the window, one for the agg; the dimension
    join is broadcast and free."""
    e = read_table(spark, sf_dir, "events")
    # integer-cents residuals: exact long arithmetic end to end, so the
    # mean is bit-identical across engines/partitionings (see cents())
    vc = e.withColumn("__vc", cents(F.col("value")))
    d = lag_diff(vc, "__vc", ["user_id"], ["ts", "event_id"], out="resid_c")
    dim = read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_name")
    joined = d.filter(F.col("resid_c").isNotNull()) \
              .join(F.broadcast(dim), "user_id", "left")
    board = joined.groupBy("user_id", "c_name").agg(
        ((F.sum(F.abs(F.col("resid_c"))) / F.count(F.lit(1))) / 100.0)
        .alias("truespeed"),
        F.count(F.lit(1)).alias("n_frames"))
    out = rank_desc(board, "truespeed", out="rank")
    return out.select("user_id", "c_name",
                      roundn(F.col("truespeed")).alias("truespeed"),
                      "n_frames", "rank")


def q_tpch_q13(spark, sf_dir):
    """Q13 shape: customer order-count distribution — LEFT OUTER join so
    zero-order customers survive into the 0 bucket, then a second agg over
    the first's output.  Two shuffles total (custkey, then count key); the
    second agg's input is one row per customer, so it is tiny regardless
    of fact scale — the classic two-level agg that needs no broadcast."""
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT")
    per_cust = (c.join(o, c.c_custkey == o.o_custkey, "left")
                 .groupBy("c_custkey")
                 .agg(F.count("o_orderkey").alias("c_count")))
    return (per_cust.groupBy("c_count")
                    .agg(F.count(F.lit(1)).alias("custdist")))


def q_tpch_q15(spark, sf_dir):
    """Q15 shape: top supplier by windowed revenue — agg to one row per
    supplier, take the global max as a 1-row broadcast, keep the arg-max
    rows by equality join.  The whole 'view + scalar subquery' lowers to
    agg → crossJoin(broadcast(max)) → filter; no second scan of the
    fact."""
    li = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00"))
        & (F.col("l_shipdate") < F.lit("1997-04-01 00:00:00")))
    s = read_table(spark, sf_dir, "supplier")
    rev = (li.groupBy("l_suppkey")
             .agg(roundn(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))))
              .alias("total_revenue")))
    top = rev.agg(F.max("total_revenue").alias("max_rev"))
    return (rev.crossJoin(F.broadcast(top))
               .filter(F.col("total_revenue") == F.col("max_rev"))
               .join(F.broadcast(s), rev.l_suppkey == s.s_suppkey)
               .select(F.col("s_suppkey"), F.col("s_name"),
                       F.col("total_revenue")))


def q_tpch_q16(spark, sf_dir):
    """Q16 shape: distinct-supplier counts per part attribute, minus an
    exclusion set — the partsupp bridge is played by lineitem (this
    schema has no partsupp).  Suppliers in bad standing (negative
    acctbal) are removed with a broadcast LEFT ANTI before the distinct
    agg; count(DISTINCT) shuffles on the (brand,type,size-bucket) key."""
    li = read_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    p = read_table(spark, sf_dir, "part").filter(F.col("p_brand") != "Brand#4")
    bad = (read_table(spark, sf_dir, "supplier")
           .filter(F.col("s_acctbal") < 0).select("s_suppkey"))
    return (li.join(F.broadcast(bad),
                    li.l_suppkey == bad.s_suppkey, "left_anti")
              .join(F.broadcast(p), li.l_partkey == p.p_partkey)
              .groupBy("p_brand", "p_type",
                       F.floor((F.col("p_size") - 1) / 10).cast("long")
                       .alias("size_bucket"))
              .agg(F.countDistinct("l_suppkey").alias("supplier_cnt")))


def q_tpch_q17(spark, sf_dir):
    """Q17 shape: small-quantity revenue — per-part average quantity as a
    correlated scalar subquery, lowered to agg + broadcast join-back (the
    per-part agg is |part| rows, always broadcastable), then the
    below-threshold filter and a one-row reduce.  Avoids the window-over-
    partkey alternative, which would shuffle the full fact on partkey."""
    li = read_table(spark, sf_dir, "lineitem")
    p = read_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#4")
    branded = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    avg_qty = (branded.groupBy(F.col("l_partkey").alias("ak"))
                      .agg(F.avg("l_quantity").alias("avg_qty")))
    return (branded.join(F.broadcast(avg_qty),
                         branded.l_partkey == avg_qty.ak)
                   .filter(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
                   .agg(roundn(F.sum("l_extendedprice") / 7.0)
                        .alias("avg_yearly"),
                        F.count(F.lit(1)).alias("n_small")))


def q_tpch_q19(spark, sf_dir):
    """Q19 shape: disjunctive multi-band predicate over a fact-dim join.
    Each OR arm pairs a brand with a size band and quantity band; the
    part side prunes to the union of arms BEFORE the join (derived
    predicate), the residual disjunction evaluates post-join — exactly
    what Catalyst's constraint propagation does with an OR of
    conjunctions."""
    li = read_table(spark, sf_dir, "lineitem")
    p = read_table(spark, sf_dir, "part")
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    arm1 = ((F.col("p_brand") == "Brand#2") & (F.col("p_size") <= 5)
            & (F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 11))
    arm2 = ((F.col("p_brand") == "Brand#17") & (F.col("p_size") <= 10)
            & (F.col("l_quantity") >= 10) & (F.col("l_quantity") <= 20))
    arm3 = ((F.col("p_brand") == "Brand#19") & (F.col("p_size") <= 15)
            & (F.col("l_quantity") >= 20) & (F.col("l_quantity") <= 30))
    return (j.filter(arm1 | arm2 | arm3)
             .agg(roundn(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))))
                  .alias("revenue"),
                  F.count(F.lit(1)).alias("n_items")))


def q_tpch_q22(spark, sf_dir):
    """Q22 shape: above-average balances with no recent orders — global
    scalar AVG (one-row broadcast) feeding the filter, LEFT ANTI against
    the recent-order keys, grouped by the nation code.  (Reference Q22
    uses phone-prefix country codes and an empty-orders NOT EXISTS; this
    schema's customers all have old orders, so 'recent' keeps the anti
    join meaningful.)"""
    c = read_table(spark, sf_dir, "customer")
    recent = (read_table(spark, sf_dir, "orders")
              .filter(F.col("o_orderdate") >= F.lit("2000-01-01 00:00:00"))
              .select("o_custkey"))
    pos_avg = (c.filter(F.col("c_acctbal") > 0.0)
                .agg(F.avg("c_acctbal").alias("avg_bal")))
    return (c.crossJoin(F.broadcast(pos_avg))
             .filter(F.col("c_acctbal") > F.col("avg_bal"))
             .join(F.broadcast(recent),
                   c.c_custkey == recent.o_custkey, "left_anti")
             .groupBy(F.col("c_nationkey").alias("cntry"))
             .agg(F.count(F.lit(1)).alias("numcust"),
                  roundn(F.sum("c_acctbal")).alias("totacctbal")))


def q_tpch_q2(spark, sf_dir):
    """Q2 shape: groupwise-min supplier per part within a region — the
    correlated MIN subquery, lowered to agg + join-back on (part, min)
    equality.  (No partsupp in this schema: lineitem is the part↔supplier
    bridge and s_acctbal stands in for ps_supplycost.)  All dimension
    joins broadcast; only the bridge dedup shuffles."""
    li = read_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    p = (read_table(spark, sf_dir, "part")
         .filter((F.col("p_type") == "ECONOMY") & (F.col("p_size") < 10)))
    s = read_table(spark, sf_dir, "supplier")
    n = read_table(spark, sf_dir, "nation")
    r = read_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    cand = (li.dropDuplicates(["l_partkey", "l_suppkey"])
              .join(F.broadcast(p), li.l_partkey == p.p_partkey)
              .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
              .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
              .join(F.broadcast(r), n.n_regionkey == r.r_regionkey))
    best = (cand.groupBy(F.col("p_partkey").alias("bk"))
                .agg(F.min("s_acctbal").alias("min_bal")))
    return (cand.join(F.broadcast(best),
                      (cand.p_partkey == best.bk)
                      & (cand.s_acctbal == best.min_bal))
                .select("p_partkey", "p_name", "s_suppkey", "s_name",
                        "n_name", roundn(F.col("s_acctbal"))
                        .alias("s_acctbal")))


def q_tpch_q8(spark, sf_dir):
    """Q8 shape: market share — one nation's revenue fraction by order
    year among a region's customers for one part type.  The share is a
    conditional-sum / sum ratio inside one agg, so the whole query is one
    fact shuffle (orderkey) plus broadcast dims."""
    li = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00")))
    c = read_table(spark, sf_dir, "customer")
    s = read_table(spark, sf_dir, "supplier")
    p = read_table(spark, sf_dir, "part").filter(F.col("p_type") == "STANDARD")
    n = read_table(spark, sf_dir, "nation")
    r = read_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nc = n.select(F.col("n_nationkey").alias("c_nk"),
                  F.col("n_regionkey").alias("c_rk"))
    ns = n.select(F.col("n_nationkey").alias("s_nk"),
                  F.col("n_name").alias("supp_nation"))
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
              .join(o, li.l_orderkey == o.o_orderkey)
              .join(F.broadcast(c), o.o_custkey == c.c_custkey)
              .join(F.broadcast(nc), F.col("c_nationkey") == F.col("c_nk"))
              .join(F.broadcast(r), F.col("c_rk") == r.r_regionkey)
              .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
              .join(F.broadcast(ns), F.col("s_nationkey") == F.col("s_nk"))
              .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
              .agg(roundn(F.sum(F.when(F.col("supp_nation") == "NATION_2",
                                       vol).otherwise(0.0))
                          / F.sum(vol)).alias("mkt_share"),
                   roundn(F.sum(vol)).alias("total_volume")))


def q_tpch_q9(spark, sf_dir):
    """Q9 shape: profit by supplier nation and year over a name-pattern
    part filter.  Cost side uses p_retailprice·quantity·0.6 as the
    supplycost proxy (no partsupp here).  The contains() filter cannot
    push to a dictionary but prunes the broadcast side before the fact
    join."""
    li = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders")
    s = read_table(spark, sf_dir, "supplier")
    p = (read_table(spark, sf_dir, "part")
         .filter(F.col("p_name").contains("widget")))
    n = read_table(spark, sf_dir, "nation")
    # integer-cents profit in 1e-4-dollar units: price·(1−disc) is
    # pc·(100−dc); 0.6·retail·qty dollars is 60·retail_cents·qty (exact —
    # quantity is integral).  Long arithmetic end to end (see cents()).
    amount_c4 = (cents(F.col("l_extendedprice"))
                 * (100 - cents(F.col("l_discount")))
                 - 60 * cents(F.col("p_retailprice"))
                 * F.col("l_quantity").cast("long"))
    return (li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
              .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
              .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
              .join(o, li.l_orderkey == o.o_orderkey)
              .groupBy(F.col("n_name").alias("nation"),
                       F.year("o_orderdate").cast("long").alias("o_year"))
              .agg(roundn(F.sum(amount_c4) / 1e4).alias("sum_profit"),
                   F.count(F.lit(1)).alias("n_items")))


def q_tpch_q11(spark, sf_dir):
    """Q11 shape: per-part inventory value for one nation's suppliers,
    kept only where it exceeds a fraction of the GLOBAL value — the
    HAVING-against-scalar-subquery idiom: same aggregated table feeds
    both sides, the global reduce is one broadcast row, no second fact
    scan."""
    li = read_table(spark, sf_dir, "lineitem")
    s = read_table(spark, sf_dir, "supplier")
    n = (read_table(spark, sf_dir, "nation")
         .filter(F.col("n_name").isin("NATION_1", "NATION_2")))
    val = (li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
             .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
             .groupBy("l_partkey")
             .agg(F.sum(F.col("l_extendedprice") * F.col("l_quantity"))
                  .alias("value")))
    total = val.agg((F.sum("value") * 0.001).alias("threshold"))
    return (val.crossJoin(F.broadcast(total))
               .filter(F.col("value") > F.col("threshold"))
               .select("l_partkey", roundn(F.col("value")).alias("value")))


def q_tpch_q20(spark, sf_dir):
    """Q20 shape: suppliers who dominate a part's flow — per
    (part, supplier) shipped quantity against 30% of the part's total,
    then a semi-join up to the supplier dimension.  Two aggs over one
    scan shape: the per-pair agg reshuffles to per-part with a window
    instead of a second scan."""
    li = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00")))
    s = read_table(spark, sf_dir, "supplier")
    n = (read_table(spark, sf_dir, "nation")
         .filter(F.col("n_name").isin("NATION_0", "NATION_3")))
    pair = (li.groupBy("l_partkey", "l_suppkey")
              .agg(F.sum("l_quantity").alias("pair_qty")))
    w = Window.partitionBy("l_partkey")
    dominant = (pair.withColumn("part_qty", F.sum("pair_qty").over(w))
                    .filter(F.col("pair_qty") > 0.3 * F.col("part_qty"))
                    .select("l_suppkey").distinct())
    return (s.join(dominant, s.s_suppkey == dominant.l_suppkey, "left_semi")
             .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
             .select("s_suppkey", "s_name", "n_name"))


def q_tpch_q21(spark, sf_dir):
    """Q21 shape: suppliers-who-kept-the-order-waiting — on orders with
    ≥2 distinct suppliers, the SOLE late supplier (late = shipped >90
    days after the order date).  The classic EXISTS/NOT-EXISTS pair
    lowers to ONE per-order aggregate (distinct-supplier count, late-
    supplier count, the late supplier key via conditional max) — one
    orderkey shuffle instead of two correlated self-probes of the
    fact."""
    li = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    s = read_table(spark, sf_dir, "supplier")
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr(
        "INTERVAL 90 DAYS")
    # pre-aggregate to one row per (order, supplier) instead of the double
    # countDistinct: the distinct-agg planner would Expand every fact row
    # into 2 grouping replicas; this shape combines map-side, then the
    # per-order rollup is one row per supplier-order — strictly less data
    # through both exchanges
    per_pair = (li.join(o, li.l_orderkey == o.o_orderkey)
                  .groupBy("l_orderkey", "l_suppkey")
                  .agg(F.max(late).alias("is_late")))
    per_order = (per_pair.groupBy("l_orderkey")
                         .agg(F.count(F.lit(1)).alias("n_supp"),
                              F.sum(F.col("is_late").cast("long"))
                               .alias("n_late"),
                              F.max(F.when(F.col("is_late"),
                                           F.col("l_suppkey")))
                               .alias("late_supp")))
    blamed = per_order.filter((F.col("n_supp") >= 2)
                              & (F.col("n_late") == 1))
    return (blamed.groupBy("late_supp")
                  .agg(F.count(F.lit(1)).alias("numwait"))
                  .join(F.broadcast(s),
                        F.col("late_supp") == s.s_suppkey)
                  .select(F.col("s_name"), F.col("numwait"))
                  .orderBy(F.desc("numwait"), F.asc("s_name"))
                  .limit(20))


def q_repetition(spark, sf_dir):
    """Within-document repetition filters (distinct-token ratio, top-token
    share) — explode → two-level agg so the shuffle carries one row per
    distinct (doc, token) after map-side combine."""
    from .pipeline.text import repetition_features
    return repetition_features(read_table(spark, sf_dir, "documents"))


def q_dup_ngrams(spark, sf_dir):
    """Gopher/MassiveText n-gram repetition rules (Rae et al. 2021
    §A1.1) on token n-grams: per doc, the duplicate-occurrence fraction
    and top-gram share for bigrams AND trigrams — the
    degenerate/boilerplate text filters a pretraining pipeline runs
    after the token-level q_repetition pass.  Gram build is in-row
    (zip_with over shifted slices, codegen); counting is the same
    map-side-combinable explode → (doc, gram) → doc two-level agg, one
    shuffled row per distinct gram per doc."""
    from .pipeline.text import dup_ngram_features
    docs = read_table(spark, sf_dir, "documents")
    bg = dup_ngram_features(docs, n=2)
    tg = dup_ngram_features(docs, n=3)
    pick = ["n_grams", "dup_gram_occurrences", "dup_gram_fraction",
            "top_gram_share"]
    bg = bg.select("doc_id", *[F.col(c).alias(f"bg_{c}") for c in pick])
    tg = tg.select("doc_id", *[F.col(c).alias(f"tg_{c}") for c in pick])
    return bg.join(tg, "doc_id")


def q_stratified_sample(spark, sf_dir):
    """Per-language deterministic downsampling: dominant language at 10%,
    tail languages at 50% — rate is a broadcast when-chain, membership is
    a key hash, the whole thing a map-side filter (no shuffle, no rand())."""
    from .pipeline.sampling import stratified_hash_sample
    d = read_table(spark, sf_dir, "documents")
    rates = {"en": 0.1, "de": 0.5, "es": 0.5, "fr": 0.5, "zh": 0.5}
    return (stratified_hash_sample(d, "doc_id", "lang", rates)
            .select("doc_id", "lang", "source",
                    F.col("n_chars").cast("long").alias("n_chars")))


def q_nearest_centroid(spark, sf_dir):
    """IVF coarse-quantizer assignment step: per-label mean centroids
    (posexplode → (label, dim) avg — constant-size shuffle), then each
    vector scored against the K-row broadcast centroid table, argmax by
    one row_number window."""
    from .pipeline.similarity import nearest_centroid
    return nearest_centroid(read_table(spark, sf_dir, "embeddings"))


def q_doc_histogram(spark, sf_dir):
    """Corpus length histogram: fixed-width buckets by integer floor
    arithmetic (engine-neutral, unlike width_bucket variants), count +
    mean per bucket — the one-pass profile every corpus audit starts
    with."""
    d = read_table(spark, sf_dir, "documents")
    return (d.groupBy(F.floor(F.col("n_chars") / 50).cast("long")
                       .alias("bucket"))
             .agg(F.count(F.lit(1)).alias("n_docs"),
                  roundn(F.avg("n_chars")).alias("avg_chars"),
                  F.countDistinct("lang").alias("n_langs")))


def q_lloyd_kmeans(spark, sf_dir):
    """Pure-DataFrame Lloyd k-means (3 rounds, deterministic per-label
    init): iterative assignment (map-only in-row argmin against the
    broadcast-nested codebook) +
    update (posexplode mean), lineage cut per round with localCheckpoint.
    Hash-verified since r5: a fixed iteration count from a deterministic
    init is a fixpoint the oracle unrolls as chained CTE stages (the
    q_pagerank technique); monotone-inertia and self-consistency
    properties are additionally pinned in tests."""
    from .pipeline.similarity import lloyd_kmeans
    return lloyd_kmeans(read_table(spark, sf_dir, "embeddings"), iters=3)


def q_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS — the generalization of rollup/cube: per
    (returnflag), per (linestatus), and grand total in ONE pass (single
    shuffle with grouping-id expansion), not three scans unioned."""
    li = read_table(spark, sf_dir, "lineitem")
    return (li.groupingSets([["l_returnflag"], ["l_linestatus"], []],
                            "l_returnflag", "l_linestatus")
              .agg(roundn(F.sum("l_quantity")).alias("sum_qty"),
                   F.count(F.lit(1)).alias("n"),
                   F.grouping_id("l_returnflag", "l_linestatus")
                    .cast("long").alias("gid")))


def q_forward_fill(spark, sf_dir):
    """Gap repair by forward-fill: ``last_value(..., ignorenulls)`` over an
    unbounded-preceding frame — the sensor-dropout fix for tracking
    streams (masking error-frames as the gaps here, since the synthetic
    table has no nulls).  Same single partition-shuffle as every W-family
    window; no self-join, no loop."""
    e = read_table(spark, sf_dir, "events")
    masked = F.when(F.col("event_type") == "error", None) \
              .otherwise(F.col("value"))
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
               .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (e.withColumn("masked", masked)
             .select("event_id", "user_id",
                     roundn(F.last("masked", ignorenulls=True).over(w))
                     .alias("filled")))


def q_pct_of_total(spark, sf_dir):
    """Percent-of-total (ratio_to_report): each user's share of their
    event-type's total value and of the grand total — two window sums at
    different grains over ONE scan of the aggregated (small) table."""
    e = read_table(spark, sf_dir, "events")
    per_user = (e.groupBy("user_id", "event_type")
                 .agg(F.sum("value").alias("user_value")))
    # Denominators via aggregates + broadcast join-backs, not windows: a
    # whole-partition window single-tasks the table and the 5-value
    # event_type window caps parallelism at 5.  Both aggregates partial-
    # combine; exchange reuse shares the per_user shuffle across branches.
    by_type = per_user.groupBy("event_type") \
                      .agg(F.sum("user_value").alias("__type_total"))
    total = per_user.agg(F.sum("user_value").alias("__grand_total"))
    return (per_user
            .join(F.broadcast(by_type), "event_type")
            .crossJoin(F.broadcast(total))
            .select(
                "user_id", "event_type",
                roundn(F.col("user_value")).alias("user_value"),
                roundn(F.col("user_value") / F.col("__type_total"))
                .alias("pct_of_type"),
                roundn(F.col("user_value") / F.col("__grand_total"))
                .alias("pct_of_total")))


def q_truespeed_variants(spark, sf_dir):
    """A1/A2 full dispatch in one pass: mean, median, sum, MAE, RMSE of
    the per-user lag-diff residual — the reference's five
    ``compute_truespeed`` variants (metrics.py:13-57) as one multi-agg
    (everything shares the single user_id window shuffle)."""
    e = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # integer-cents residuals (see cents()): every aggregate below reduces
    # exact longs, so the pre-round doubles are engine/partition-invariant
    resid = (e.withColumn("__vc", cents(F.col("value")))
              .withColumn("rc", F.col("__vc") - F.lag("__vc").over(w))
              .filter(F.col("rc").isNotNull()))
    rc, n = F.col("rc"), F.count(F.lit(1))
    return (resid.groupBy("user_id")
                 .agg(roundn(F.sum(rc) / n / 100.0).alias("ts_mean"),
                      roundn(F.median(rc) / 100.0).alias("ts_median"),
                      roundn(F.sum(rc) / 100.0).alias("ts_sum"),
                      roundn(F.sum(F.abs(rc)) / n / 100.0).alias("ts_mae"),
                      roundn(F.sqrt((F.sum(rc * rc) / n)) / 100.0)
                      .alias("ts_rmse")))


def _submission_inputs(spark, sf_dir):
    """Tracking-shaped (tracking, labels, supp) derived DETERMINISTICALLY
    from ``events`` (user → play, ordered rows → frames, value →
    coordinates; one receiver + one trailing defender per play) — shared
    by q_submission_pipeline (full ML run) and q_submission_spine (the
    hash-verified relational spine), so the two can never drift apart.
    Every coordinate is an exact sequence of IEEE ops on the parquet
    doubles (pmod/mul/add), bit-reproducible in DuckDB."""
    e = read_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    base = (e.filter(F.col("user_id") < 300)
             .withColumn("frame_id", F.row_number().over(w))
             .filter(F.col("frame_id") <= 8)
             .select(F.lit(1).cast("long").alias("game_id"),
                     F.col("user_id").alias("play_id"), "frame_id",
                     F.when(F.col("user_id") % 2 == 0, "left")
                      .otherwise("right").alias("play_direction"),
                     (F.pmod(F.col("value"), F.lit(100.0)) + 10.0).alias("x"),
                     F.pmod(F.col("value") * 7.0, F.lit(50.0)).alias("y"),
                     F.lit(2.0).alias("s"), F.lit(90.0).alias("dir"),
                     F.lit(60.0).alias("ball_land_x"),
                     F.lit(25.0).alias("ball_land_y")))
    off = base.select(
        "*", F.col("play_id").alias("nfl_id"),
        F.lit(True).alias("player_to_predict"),
        F.lit("Offense").alias("player_side"),
        F.lit("WR").alias("player_position"),
        F.lit("Targeted Receiver").alias("player_role"))
    deff = base.select(
        "*", (F.col("play_id") + 1_000_000).alias("nfl_id"),
        F.lit(False).alias("player_to_predict"),
        F.lit("Defense").alias("player_side"),
        F.lit("CB").alias("player_position"),
        F.lit("Defensive Coverage").alias("player_role")) \
        .withColumn("y", F.col("y") + 3.0)
    tracking = off.unionByName(deff)
    labels = off.select("game_id", "play_id", "nfl_id", "frame_id",
                        (F.col("x") + 0.5).alias("x"), "y")
    supp = (base.select("game_id", "play_id").distinct()
                .withColumn("pass_result",
                            F.when(F.col("play_id") % 10 < 8, "C")
                             .otherwise("I"))
                .withColumn("yards_gained",
                            (F.col("play_id") % 20).cast("double"))
                .withColumn("expected_points_added",
                            (F.col("play_id") % 7).cast("double") / 7.0 - 0.4))
    return tracking, labels, supp


def q_submission_pipeline(spark, sf_dir):
    """Entry point A (§3.1, Submission.ipynb) END TO END through
    ``run_submission_pipeline`` — normalize → initial separation → target
    select → completed semi-join → frame kinematics → post-throw geometry
    → label attach → converge rate → route features → k-means clusters →
    one-hot embeddings → sequence build → broadcast-model inference
    (the real pandas-UDF seam) → un-pivot → TrueSpeed → scorecard —
    HASH-VERIFIED since r8.  The model seam is pinned to the injected
    LinearBlendModel (the bit-reproducible float32/float64 composition
    q_submission_spine proved) and TrueSpeed uses the order-free
    quantized reduction (``mae_q6``: FLOOR to integer micro-units before
    the long-sum), so the whole pipeline is a pure IEEE function the
    DuckDB oracle reproduces.  No in-engine rounding (see
    q_submission_spine's note — raw doubles hash identically; the driver
    normalizes).  The trained-LSTM run of the SAME pipeline (model=None
    → numpy LSTM with the reference topology, ml/lstm.py) is exercised
    end-to-end in tests/test_tracking_pipeline.py, where a SQL twin is
    impossible by nature."""
    from .ml.lstm import LinearBlendModel
    from .pipeline.submission import run_submission_pipeline
    tracking, labels, supp = _submission_inputs(spark, sf_dir)
    out = run_submission_pipeline(spark, tracking, labels, supp,
                                  k_clusters=4, max_len=8,
                                  model=LinearBlendModel(0.5, 0.25),
                                  truespeed_agg="mae_q6",
                                  eager_checks=False)
    return out["scorecard"].select(
        "nfl_id", "truespeed",
        F.col("n_targets").cast("long").alias("n_targets"),
        F.col("total_yards").alias("total_yards"),
        F.col("rank").cast("long").alias("rank"))


def q_submission_spine(spark, sf_dir):
    """The §3.1 Submission pipeline's DETERMINISTIC RELATIONAL SPINE,
    HASH-VERIFIED on the same event-derived inputs as
    q_submission_pipeline: normalize → initial separation → target
    select → completed semi-join → post-throw geometry → label attach →
    converge rate → sequence build (float32 tensor) → broadcast-model
    inference through the REAL pandas-UDF seam → un-pivot → quantized
    TrueSpeed → production join → rank.  The model seam is pinned to
    the injected LinearBlendModel (pred = 0.5·converge + 0.25·dist in
    float64, one float32 cast at the seam) so inference is a pure
    function the DuckDB oracle reproduces as CAST(.. AS REAL) — only
    the trained-LSTM run (q_submission_pipeline) stays rows-only.

    The per-player MAE quantizes residuals to integer micro-units with
    FLOOR before the sum (long-sum order-free, floor tie-free across
    engines — the verified house rule for engine-stable means); the
    float32 feature casts, the double blend, and every coordinate op
    are bit-reproducible IEEE, so the hash pins the whole composition."""
    from .ml.lstm import LinearBlendModel, predict_sequences
    from .operators.normalize import (add_postthrow_geometry,
                                      normalize_coordinates)
    from .operators.sequences import build_sequences, unpivot_sequences
    from .operators.tracking import (PLAY_KEYS, PLAYER_KEYS,
                                     add_converge_rate,
                                     attach_output_labels,
                                     compute_initial_separation,
                                     filter_to_completed_catches,
                                     select_target_receiver_rows)
    from .operators.windows import rank_desc
    tracking, labels, supp = _submission_inputs(spark, sf_dir)
    norm = normalize_coordinates(tracking, dialect="package")
    init_sep = compute_initial_separation(norm)
    targets = select_target_receiver_rows(norm)
    completed = filter_to_completed_catches(targets, supp)
    post = add_postthrow_geometry(completed, y="y", land_y="ball_land_y")
    labeled = attach_output_labels(post, labels, expect_rows=False)
    conv = add_converge_rate(labeled, dialect="package")
    seq = build_sequences(conv, PLAYER_KEYS, "frame_id",
                          ["converge_rate", "dist_to_land"],
                          max_len=8, keep="last")
    pred = predict_sequences(spark, seq, LinearBlendModel(0.5, 0.25))
    pred = pred.withColumn("actual", F.transform("seq", lambda s: s[0]))
    long = unpivot_sequences(pred, PLAYER_KEYS, "actual", "pred")
    qr = F.floor((F.col("actual").cast("double")
                  - F.col("pred").cast("double")) * 1e6).cast("long")
    ts = (long.groupBy(*PLAYER_KEYS)
              .agg((F.sum(F.abs(qr)) / F.count(F.lit(1)) / 1e6)
                   .alias("truespeed"),
                   F.count(F.lit(1)).cast("long").alias("n_steps")))
    enriched = (ts.join(init_sep, PLAYER_KEYS, "left")
                  .join(F.broadcast(
                      supp.select(*PLAY_KEYS, "yards_gained").distinct()),
                      PLAY_KEYS, "left"))
    # No in-engine rounding here, deliberately: every double in this
    # query is a BIT-IDENTICAL sequence of IEEE ops in both engines, and
    # in-engine round() is the one place the engines can disagree (on a
    # boundary-adjacent double like sum/8/1e6 = x.xxxxx45 exactly, Spark
    # rounds via the shortest decimal repr, DuckDB via scaling — caught
    # at sf0.1).  Raw doubles hash identically; the driver normalizes.
    return rank_desc(enriched, "truespeed").select(
        "nfl_id", "truespeed", "n_steps",
        F.col("separation").alias("init_sep"), "yards_gained",
        F.col("rank").cast("long").alias("rank"))


def q_scorecard_golden(spark, sf_dir):
    """Golden replay of the full §3.1 scorecard spine (metrics.py:198-367,
    the TrueSpeed.csv shape): a fixed 6-play / 2-player / 8-frame tracking
    fixture — literal arithmetic, independent of sf_dir — runs the ENTIRE
    Submission pipeline (normalize → separation → semi-join → kinematics →
    labels → converge → routes → k-means → sequences → EMA inference →
    un-pivot → TrueSpeed → scorecard) and must reproduce the pinned
    scorecard EXACTLY (oracle = VALUES literal).  Coordinates are dyadic
    rationals and each receiver owns one play, so every float reduction is
    IEEE-exact and partition-order-invariant — any drift in any operator
    of the spine breaks the hash.  The model seam is pinned to the EMA
    predictor ON PURPOSE: its α=0.3 recurrence stays dyadic-exact, so the
    golden values are libm-independent (the trained numpy LSTM — exp/tanh
    touch libm — is exercised end-to-end by q_submission_pipeline
    instead)."""
    from .ml.lstm import EmaFallbackModel
    from .pipeline.submission import run_submission_pipeline
    tracking, labels, supp = _golden_fixture(spark)
    out = run_submission_pipeline(spark, tracking, labels, supp,
                                  k_clusters=2, max_len=8,
                                  model=EmaFallbackModel(),
                                  eager_checks=False)
    return out["scorecard"].select(
        "nfl_id", roundn(F.col("truespeed")).alias("truespeed"),
        F.col("n_targets").cast("long").alias("n_targets"),
        roundn(F.col("total_yards")).alias("total_yards"),
        F.col("rank").cast("long").alias("rank"))


def _golden_fixture(spark):
    """The shared 6-play / 2-player / 8-frame literal tracking fixture
    behind the golden-replay family (q_scorecard_golden,
    q_postthrow_golden, q_routeexec_golden): dyadic-rational coordinates,
    one targeted receiver + one trailing defender per play, play 6
    incomplete.  Returns (tracking, output_labels, supp)."""
    base = (spark.range(6 * 8)
            .select((F.col("id") % 6 + 1).alias("play_id"),
                    (F.col("id") / 6 + 1).cast("int").alias("frame_id"))
            .select(F.lit(1).cast("long").alias("game_id"),
                    F.col("play_id").cast("long"), "frame_id",
                    F.when(F.col("play_id") % 2 == 0, "left")
                     .otherwise("right").alias("play_direction"),
                    (F.lit(10.0) + F.col("frame_id") * 0.5
                     + F.col("play_id") * 2.0).alias("x"),
                    (F.lit(5.0) + F.col("play_id") * 1.25
                     + (F.col("frame_id") % 3) * 0.25).alias("y"),
                    F.lit(2.5).alias("s"), F.lit(90.0).alias("dir"),
                    F.lit(60.0).alias("ball_land_x"),
                    (F.lit(20.0) + F.col("play_id")).alias("ball_land_y")))
    off = base.select(
        "*", (F.col("play_id") + 100).alias("nfl_id"),
        F.lit(True).alias("player_to_predict"),
        F.lit("Offense").alias("player_side"),
        F.lit("WR").alias("player_position"),
        F.lit("Targeted Receiver").alias("player_role"))
    deff = base.select(
        "*", (F.col("play_id") + 200).alias("nfl_id"),
        F.lit(False).alias("player_to_predict"),
        F.lit("Defense").alias("player_side"),
        F.lit("CB").alias("player_position"),
        F.lit("Defensive Coverage").alias("player_role")) \
        .withColumn("y", F.col("y") + 2.5)
    tracking = off.unionByName(deff)
    labels = off.select("game_id", "play_id", "nfl_id", "frame_id",
                        (F.col("x") + 0.75).alias("x"), "y")
    supp = (base.select("game_id", "play_id").distinct()
                .withColumn("pass_result",
                            F.when(F.col("play_id") <= 5, "C")
                             .otherwise("I"))
                .withColumn("yards_gained",
                            (F.col("play_id") * 2).cast("double"))
                .withColumn("expected_points_added",
                            F.col("play_id") * 0.25 - 0.5))
    return tracking, labels, supp


def q_postthrow_golden(spark, sf_dir):
    """Golden replay of outputs/postthrow_predictions_*.csv (entry point
    A's long prediction table: game/play/frame, actual vs predicted
    converge rate, residual — Submission.ipynb#cell7 un-pivot): the
    fixture pipeline's ``predictions`` stage with the dyadic-exact EMA
    model, pinned row-for-row against a VALUES oracle.  Pins the T2
    un-pivot (posexplode + pad-drop) and the model-seam output schema."""
    from .ml.lstm import EmaFallbackModel
    from .pipeline.submission import run_submission_pipeline
    tracking, labels, supp = _golden_fixture(spark)
    out = run_submission_pipeline(spark, tracking, labels, supp,
                                  k_clusters=2, max_len=8,
                                  model=EmaFallbackModel(),
                                  eager_checks=False)
    return out["predictions"].select(
        "game_id", "play_id", "nfl_id",
        (F.col("t") + 1).cast("long").alias("frame_id"),
        roundn(F.col("actual").cast("double"))
        .alias("actual_converge_rate"),
        roundn(F.col("pred").cast("double"))
        .alias("predicted_converge_rate"),
        roundn(F.col("residual").cast("double")).alias("residual"))


def q_routeexec_golden(spark, sf_dir):
    """Golden replay of outputs/RouteExecIQ.csv (entry point C's route-
    execution table: per-play route cluster, centroid deviation,
    within-cluster negated z — compute_route_execution_score,
    metrics.py:139-187 + BDB_2026_Phase3_Metrics.ipynb §3.1 — with
    production context): route features → seeded k-means → L2 deviation
    from own centroid over the feature block → RouteExecIQ z-score →
    supp join, on the literal fixture, pinned against a VALUES oracle.
    The exposed cluster id is re-labeled by each cluster's min play_id
    (dense rank), so the pinned values are invariant to the ML library's
    arbitrary label permutation."""
    from .ml.clustering import fit_route_clusters
    from .operators.normalize import normalize_coordinates
    from .operators.tracking import route_features, select_target_receiver_rows
    from .pipeline.submission import ROUTE_FEATURE_COLS

    tracking, labels, supp = _golden_fixture(spark)
    # The shared fixture's routes are identical within a direction class
    # (centroid deviation degenerates to 0), so this replay adds a
    # play-dependent dyadic y-wiggle before feature extraction — giving
    # each cluster genuine spread to pin the deviation/z arithmetic.
    tracking = tracking.withColumn(
        "y", F.col("y") + (F.col("play_id") % 3) * F.col("frame_id") * 0.125)
    norm = normalize_coordinates(tracking, dialect="package")
    targets = select_target_receiver_rows(norm)
    feats = route_features(targets)
    _, preds = fit_route_clusters(feats, ROUTE_FEATURE_COLS, k=2, seed=42)
    cents = (preds.groupBy("cluster")
                  .agg(*[F.avg(c).alias(f"__c_{c}")
                         for c in ROUTE_FEATURE_COLS]))
    dev_sq = None
    for c in ROUTE_FEATURE_COLS:
        term = F.pow(F.col(c) - F.col(f"__c_{c}"), 2)
        dev_sq = term if dev_sq is None else dev_sq + term
    dev = (preds.join(F.broadcast(cents), "cluster")
                .withColumn("route_deviation", F.sqrt(dev_sq)))
    iq = zscore_in_group(dev, "route_deviation", ["cluster"],
                         out="route_exec_iq", negate=True)
    stable = (iq.groupBy("cluster").agg(F.min("play_id").alias("__m"))
                .withColumn("route_cluster",
                            F.row_number().over(
                                Window.orderBy("__m")).cast("long"))
                .select("cluster", "route_cluster"))
    return (iq.join(F.broadcast(stable), "cluster")
              .join(F.broadcast(supp), ["game_id", "play_id"])
              .select("game_id", "play_id", "nfl_id", "route_cluster",
                      roundn(F.col("route_deviation"))
                      .alias("route_deviation"),
                      roundn(F.col("route_exec_iq")).alias("route_exec_iq"),
                      "pass_result",
                      (F.col("pass_result") == "C").cast("long")
                      .alias("pass_result_num"),
                      roundn(F.col("yards_gained")).alias("yards_gained"),
                      roundn(F.col("expected_points_added")).alias("epa")))


def q_eval_metrics(spark, sf_dir):
    """M9 (eval_predictions; BDB_2026.ipynb#cell102): MSE/RMSE/MAE/R² of a
    persistence forecast (lag-1 of value per user) in ONE partial-
    aggregable pass — R² via the algebraic SStot = Σy² − (Σy)²/n, so no
    empty-partition window ever funnels the exploded prediction rows
    through a single task (plan-shape-tested)."""
    from .ml.lstm import eval_predictions
    e = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    p = (e.select(F.col("value").alias("actual"),
                  F.lag("value").over(w).alias("pred"))
          .filter(F.col("pred").isNotNull()))
    m = eval_predictions(p)
    return m.select(roundn(F.col("mse")).alias("mse"),
                    roundn(F.col("rmse")).alias("rmse"),
                    roundn(F.col("mae")).alias("mae"),
                    roundn(F.col("r2")).alias("r2"))


def q_normalize_flip(spark, sf_dir):
    """F4 direction-normalization on the synthetic table: conditional
    mirror (120−x for 'left' rows ≙ error-type events) and the 180°
    wraparound rotation via pmod — pure map-side expressions, zero
    shuffle."""
    e = read_table(spark, sf_dir, "events")
    left = F.col("event_type") == "error"
    angle = F.pmod(F.col("event_id").cast("double"), F.lit(360.0))
    return e.select(
        "event_id", "user_id",
        roundn(F.when(left, 120.0 - F.col("value"))
                .otherwise(F.col("value"))).alias("x_norm"),
        roundn(F.when(left, F.pmod(angle + 180.0, F.lit(360.0)))
                .otherwise(angle)).alias("dir_norm"))


def q_asof_tolerance(spark, sf_dir):
    """As-of join with a lookback bound (pandas ``merge_asof`` tolerance):
    purchases match the latest prior view ONLY within 1 hour — older
    matches go null.  Same single union+window shuffle as the unbounded
    form; the age test is map-side."""
    from .operators.asof import asof_join
    e = read_table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase")
    views = e.filter(F.col("event_type") == "view") \
             .select("user_id", "ts", "value", "event_id")
    out = asof_join(purchases, views, by=["user_id"], ts="ts",
                    payload=["value"], tie_col="event_id",
                    tolerance_seconds=3600.0)
    return out.select("event_id", "user_id",
                      roundn(F.col("value")).alias("purchase_value"),
                      roundn(F.col("value_asof")).alias("recent_view_value"))


def q_group_ksample(spark, sf_dir):
    """Deterministic fixed-k per-group sample ("reservoir" without the
    sequential reservoir): rank rows inside each language by the key hash
    and keep k=10 — the exact-k cousin of rate-based stratified sampling
    (same engine-neutral hash, so the SAME 10 docs survive on any engine
    or partitioning).  One window shuffle on the group key; no global
    sort, no rand()."""
    from .pipeline.sampling import hash_bucket
    d = read_table(spark, sf_dir, "documents")
    # Two-phase exact top-k: a single window per LANGUAGE would rank the
    # whole language on one task (4-5 partitions for the corpus).  Phase 1
    # takes the k smallest hashes within (lang, doc_id mod 16) shards —
    # full parallelism; phase 2 ranks the ≤ 16k survivors per language —
    # entity-grain.  Top-k of the union ≡ top-k of per-shard top-ks, so
    # the result is identical to the one-window form.
    hb = d.withColumn("__hb", hash_bucket("doc_id")) \
          .withColumn("__shard", F.pmod(F.col("doc_id"), F.lit(16)))
    w1 = Window.partitionBy("lang", "__shard") \
               .orderBy(F.asc("__hb"), F.asc("doc_id"))
    survivors = (hb.withColumn("__rn1", F.row_number().over(w1))
                   .filter(F.col("__rn1") <= 10))
    w2 = Window.partitionBy("lang").orderBy(F.asc("__hb"), F.asc("doc_id"))
    return (survivors.withColumn("rn", F.row_number().over(w2))
            .filter(F.col("rn") <= 10)
            .select("doc_id", "lang",
                    F.col("n_chars").cast("long").alias("n_chars")))


def q_json_struct(spark, sf_dir):
    """Structured JSON parsing: ``from_json`` with a declared schema (the
    scale path — parsed ONCE into a struct, pruned/pushed like any column,
    vs per-reference get_json_object re-parsing per extraction), then an
    aggregate over the typed field."""
    e = read_table(spark, sf_dir, "events")
    props = F.from_json(F.col("props"), "k BIGINT")
    return (e.withColumn("k", props["k"])
             .groupBy(F.col("event_type"))
             .agg(F.count("k").alias("n_with_k"),
                  F.sum("k").cast("long").alias("sum_k"),
                  roundn(F.avg("k")).alias("avg_k"),
                  F.max("k").cast("long").alias("max_k")))


def q_array_hof(spark, sf_dir):
    """Higher-order array functions over the embedding column — the
    JVM-side vector math path (transform/filter/aggregate run in codegen;
    no Python, no explode): component mean/min/max, L2 norm, and the
    count of positive components per vector."""
    emb = read_table(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    total = F.aggregate(v, F.lit(0.0), lambda a, x: a + x)
    return emb.select(
        "vec_id",
        F.size("embedding").cast("long").alias("dim"),
        roundn(total / F.size("embedding")).alias("mean_comp"),
        roundn(F.array_min(v)).alias("min_comp"),
        roundn(F.array_max(v)).alias("max_comp"),
        roundn(F.sqrt(F.aggregate(v, F.lit(0.0),
                                  lambda a, x: a + x * x))).alias("l2_norm"),
        F.size(F.filter(v, lambda x: x > 0)).cast("long")
         .alias("n_positive"))


def q_bm25_rank(spark, sf_dir):
    """BM25 keyword retrieval over the documents corpus: top-10 for the
    3-term query (spark, join, window).  Two-pass corpus-statistics shape:
    df/N/avgdl aggregate once (broadcast back), hits filter BEFORE the
    shuffle, scores round before ranking (doc_id tie-break)."""
    from .pipeline.ranking import bm25_rank
    d = read_table(spark, sf_dir, "documents")
    return bm25_rank(d, ["spark", "join", "window"], topk=10)


def q_unigram_scores(spark, sf_dir):
    """Unigram LM quality score (cheap KenLM stand-in): corpus token
    log-probabilities learned in one aggregate, broadcast back, mean
    per document."""
    from .pipeline.ranking import unigram_scores
    d = read_table(spark, sf_dir, "documents")
    return unigram_scores(d)


def q_bigram_scores(spark, sf_dir):
    """Interpolated bigram LM scoring, HASH-VERIFIED — the KenLM-style
    perplexity filter one step past q_unigram_scores: P(t|p) =
    0.75·P_bigram + 0.25·P_unigram, per-document mean log-prob over
    bigrams.  Bigram/unigram probability tables are vocabulary-grain
    shuffle joins (never broadcast hints); per-bigram logp quantizes to
    integer micro-units before the mean (order-free long sums)."""
    from .pipeline.ranking import bigram_scores
    d = read_table(spark, sf_dir, "documents")
    return bigram_scores(d)


def q_hybrid_rrf(spark, sf_dir):
    """Hybrid retrieval via reciprocal-rank fusion, HASH-VERIFIED: the
    standard two-retriever stack — BM25 keyword top-20 (3-term query)
    fused with embedding cosine top-20 (query vector = doc 0's
    embedding, the aligned vec_id space) — score = Σ 1/(60+rank), a
    fixed-order sum of exact reciprocals (bit-identical across engines,
    no rounding).  Both input lists rank on ROUNDED scores with id
    tie-breaks; the fuse is a full-outer join of two top-N lists —
    dimension-scale at any corpus size.  Returns the fused top-10."""
    from .pipeline.ranking import bm25_rank, rrf_fuse
    from .pipeline.similarity import cosine_topk
    d = read_table(spark, sf_dir, "documents")
    em = read_table(spark, sf_dir, "embeddings")
    bm = (bm25_rank(d, ["spark", "join", "window"], topk=20)
          .withColumn("rank", F.row_number().over(
              Window.orderBy(F.desc("score"), F.asc("doc_id"))))
          .select("doc_id", "rank"))
    cos = (cosine_topk(em, query_ids=[0], k=20)
           .withColumn("rank", F.row_number().over(
               Window.orderBy(F.desc("cosine"), F.asc("neighbor_id"))))
           .select(F.col("neighbor_id").alias("doc_id"), "rank"))
    fused = rrf_fuse([("bm25", bm), ("cos", cos)], "doc_id")
    return fused.limit(10)


def q_span_dedup(spark, sf_dir):
    """Exact duplicated-substring spans (Lee et al. 2022 re-grained to
    rolling 8-token grams), HASH-VERIFIED: per-document gram counts,
    cross-document duplicated-gram counts, and the duplicated fraction
    — the span-level training-data dedup signal.  Grams build in-row
    (zero exchange), the ≥2-distinct-docs gram set is one
    vocabulary-grain aggregate, the flag is a gram equi-join.
    dup_fraction is a raw long/long division (bit-identical)."""
    from .pipeline.dedup import duplicated_spans
    d = read_table(spark, sf_dir, "documents")
    return duplicated_spans(d, n=8, min_docs=2)


def q_span_dedup_incremental(spark, sf_dir):
    """Incremental span-level dedup, HASH-VERIFIED: the last 100 doc
    ids play the NEW BATCH, everything before them the stored gram
    index (built once — the history side is never re-grammed at match
    time) — the minhash-incremental shape applied to exact 8-token
    spans.  Output: per new doc, how much of it already exists in the
    corpus (the contamination gate an ingest pipeline applies before
    accepting a crawl batch)."""
    from .pipeline.dedup import duplicated_spans_incremental, gram_index
    d = read_table(spark, sf_dir, "documents")
    cut = d.agg((F.max("doc_id") - 99).alias("__c"))
    hist = (d.crossJoin(F.broadcast(cut))
             .filter(F.col("doc_id") < F.col("__c")).drop("__c"))
    batch = (d.crossJoin(F.broadcast(cut))
              .filter(F.col("doc_id") >= F.col("__c")).drop("__c"))
    return duplicated_spans_incremental(batch, gram_index(hist, n=8),
                                        n=8)


def q_semdedup(spark, sf_dir):
    """SemDeDup semantic near-dup pruning (Abbas et al. 2023),
    HASH-VERIFIED: embeddings assign to deterministic label-mean
    centroids (map-only broadcast argmin, the IVF quantizer), pairs
    compare ONLY within a cell (the banding discipline on embeddings —
    no all-pairs), near-dup pairs emit with the lower id as the kept
    representative.  Threshold pinned at 0.35 FOR THIS CORPUS: random
    synthetic embeddings top out near cosine 0.49 in-cell, so the
    production default (0.9) would make the gate vacuously 0-row —
    0.35 keeps a real result set flowing through the boundary logic.
    Oracle recomputes centroids/assignment/pairs from scratch in SQL —
    the hash checks quantizer, assignment tie-breaks, and the pair
    threshold at once."""
    from .pipeline.similarity import semantic_dedup_pairs
    em = read_table(spark, sf_dir, "embeddings")
    return semantic_dedup_pairs(em, threshold=0.35)


def q_curation_funnel(spark, sf_dir):
    """Round-8 flagship composite — the pretraining curation FUNNEL as
    one lazy plan: per source, how many docs survive each sequential
    gate (raw → exact-dedup keep-min → length ≥ 30 tokens →
    distinct-token ratio ≥ 0.35 → bigram dup fraction ≤ 0.10), the
    drop-count report every pipeline operator actually watches.  Every
    ratio gate compares as INTEGER cross-multiplication
    (100·distinct ≥ 35·tokens; 10·dup_occ ≤ grams) so no float boundary
    can ever flip a count between engines.  Shuffles: the dedup window,
    the (doc, gram) bigram aggregation pair, and the final per-source
    report — token stats are in-row."""
    from .pipeline.text import dup_ngram_features
    d = read_table(spark, sf_dir, "documents")
    w = Window.partitionBy(F.md5("text")).orderBy(F.asc("doc_id"))
    toks = F.filter(F.split(F.col("text"), " "), lambda t: t != "")
    base = (d.select("doc_id", "source", "text")
             .withColumn("__uniq", F.row_number().over(w) == 1)
             .withColumn("__ntok", F.size(toks))
             .withColumn("__ndis", F.size(F.array_distinct(toks))))
    bg = dup_ngram_features(d, n=2).select(
        "doc_id", F.col("n_grams").alias("__ng"),
        F.col("dup_gram_occurrences").alias("__dup"))
    g = (base.join(bg, "doc_id")
             .withColumn("__len_ok", F.col("__uniq")
                         & (F.col("__ntok") >= 30))
             .withColumn("__rep_ok", F.col("__len_ok")
                         & (100 * F.col("__ndis") >= 35 * F.col("__ntok")))
             .withColumn("__dup_ok", F.col("__rep_ok")
                         & (10 * F.col("__dup") <= F.col("__ng"))))
    return (g.groupBy("source")
             .agg(F.count(F.lit(1)).alias("n_raw"),
                  F.sum(F.col("__uniq").cast("long")).alias("n_unique"),
                  F.sum(F.col("__len_ok").cast("long")).alias("n_len"),
                  F.sum(F.col("__rep_ok").cast("long")).alias("n_lowrep"),
                  F.sum(F.col("__dup_ok").cast("long")).alias("n_final")))


def q_psm_match(spark, sf_dir):
    """Propensity-score matching with a caliper (the causal-inference
    workhorse): every TREATED unit matches its nearest CONTROL by
    propensity score within caliper 1.0, nearest-neighbor
    with-replacement — implemented as the refined 1-D grid (y pinned to
    0, treatment flags carried, treated→control as the candidate
    predicate), HASH-VERIFIED against the brute-force all-pairs oracle.
    The score is a deterministic stand-in (per-user mean value in exact
    integer cents → one long/long division, bit-identical in both
    engines); treatment = user_id % 3 == 0; units thinned to
    user_id % 7 == 0 so the oracle's quadratic pair table stays
    tractable at the sweep SFs while the engine side scales by the
    caliper-cell key like any grid query."""
    from .functions.scalar import cents
    e = read_table(spark, sf_dir, "events").filter(
        (F.col("user_id") % 7 == 0) & F.col("value").isNotNull())
    units = (e.groupBy("user_id")
              .agg((F.sum(cents(F.col("value")))
                    / F.count(F.lit(1)) / 100.0).alias("score"))
              .withColumn("treated",
                          (F.col("user_id") % 3 == 0).cast("int")))
    pts = units.select(F.col("user_id").alias("vec_id"),
                       F.col("treated").alias("label"),
                       F.col("score").alias("x"), F.lit(0.0).alias("y"))
    from .operators.separation import grid_nearest
    matched = grid_nearest(
        pts, 1.0, id_col="vec_id", x_col="x", y_col="y", refine=8,
        carry=("label",),
        predicate=lambda: (F.col("__q_label") == 1)
                          & (F.col("__n_label") == 0))
    return matched.select(F.col("vec_id").alias("treated_user"),
                          F.col("neighbor_id").alias("control_user"),
                          F.col("dist").alias("score_gap"))


def q_hard_negatives(spark, sf_dir):
    """Hard-negative mining over the embeddings' first two dims: per
    point, the nearest DIFFERENT-label point within radius 0.5 — the
    triplet-mining primitive of contrastive training data prep,
    HASH-VERIFIED against the brute-force all-pairs oracle.  Reuses the
    density-adaptive refined grid (exact under the label-mismatch
    predicate: the candidate subset is identical at every rung, so the
    L∞ resolution bound holds unchanged; 51.6× → ~3× at the 10×
    stress SF, SCALE.md r10)."""
    from .pipeline.similarity import hard_negatives
    em = read_table(spark, sf_dir, "embeddings")
    pts = em.select("vec_id", "label",
                    F.element_at("embedding", 1).alias("x"),
                    F.element_at("embedding", 2).alias("y"))
    return hard_negatives(pts, radius=0.5)


def q_mmr_rerank(spark, sf_dir):
    """MMR diverse re-ranking (λ=1/2) of the embedding corpus against
    vec 0's embedding as the query, HASH-VERIFIED: relevance and the
    running max-similarity state both FLOOR-quantize to integer
    micro-units, so every greedy pick is an integer argmax with id
    tie-break (at λ=1/2 the blend is monotone in rel − maxsim) — the
    diversity-aware final stage of the retrieval stack, after
    BM25/RRF/ANN candidate generation.  Oracle unrolls the 8 picks as
    MATERIALIZED CTE stages, the query vector joined in-SQL from the
    same row the engine collected."""
    from .pipeline.similarity import mmr_rerank
    em = read_table(spark, sf_dir, "embeddings")
    qv = [float(x) for x in
          em.filter(F.col("vec_id") == 0).select("embedding").first()[0]]
    return mmr_rerank(em.filter(F.col("vec_id") != 0), qv, k=8)


def q_set_cover(spark, sf_dir):
    """Greedy maximum-coverage selection of 8 docs over the bigram
    vocabulary (the (1−1/e) set-cover greedy), HASH-VERIFIED: integer
    gains end-to-end, lowest-id tie-break, early stop on an exhausted
    universe — the coverage-based seed-corpus curation primitive (the
    vocabulary dual of q_kcenter_coreset's geometric spread).  Oracle
    unrolls the 8 rounds as chained MATERIALIZED covered-set CTEs."""
    from .pipeline.sampling import greedy_set_cover
    return greedy_set_cover(read_table(spark, sf_dir, "documents"), k=8)


def q_novelty_scores(spark, sf_dir):
    """Per-doc novelty vs a reference corpus: the share of a candidate
    doc's bigram OCCURRENCES whose gram never appears in the reference
    partition (source src0) — the contribution-scoring dual of
    decontamination (there: drop overlap with eval; here: rank by what
    a doc ADDS to what the corpus already holds).  Candidate grams
    LEFT-ANTI the distinct reference gram set on the gram key (at
    100 TB the reference set is corpus-scale, so this is a key shuffle
    join, never a broadcast — the q_unigram_scores rule); counts are
    integers, the ratio is one division of exact longs."""
    from .pipeline.text import _token_ngrams
    d = read_table(spark, sf_dir, "documents")
    grams = d.select("doc_id", "source",
                     F.explode(_token_ngrams("text", 2)).alias("g"))
    ref = (grams.filter(F.col("source") == "src0")
                .select("g").distinct())
    cand = grams.filter(F.col("source") != "src0")
    novel = (cand.join(ref, "g", "left_anti")
                 .groupBy("doc_id")
                 .agg(F.count(F.lit(1)).alias("__novel")))
    return (cand.groupBy("doc_id")
                .agg(F.count(F.lit(1)).alias("n_grams"))
                .join(novel, "doc_id", "left")
                .select("doc_id",
                        F.col("n_grams").cast("long").alias("n_grams"),
                        F.coalesce("__novel", F.lit(0)).cast("long")
                         .alias("n_novel"),
                        roundn(F.coalesce(F.col("__novel"), F.lit(0))
                               / F.col("n_grams")).alias("novelty")))


def q_weighted_cover(spark, sf_dir):
    """Cost-weighted greedy coverage (ln(n)-approx weighted set cover):
    each round picks the doc with the best newly-covered-grams per
    TOKEN ratio — the token-budgeted seed-corpus selection.
    HASH-VERIFIED: the ratio compares as FLOOR(gain·10⁶ / cost) — the
    quotient of bounded integers is ≥ 1/cost ≈ 10⁻³ away from any
    integer unless exact, far above double ulp, so the double-division
    floor equals exact integer division in both engines.  Oracle
    unrolls the rounds with DuckDB's // on the same integers."""
    from .pipeline.sampling import greedy_weighted_cover
    return greedy_weighted_cover(read_table(spark, sf_dir, "documents"), k=8)


def q_jl_project(spark, sf_dir):
    """Sparse-sign Johnson-Lindenstrauss projection of the embedding
    table to 16 dims (Achlioptas ±1 signs from the deterministic
    multiplicative hash of the coordinate pair), HASH-VERIFIED: pure
    map-only in-row folds, no shuffle, no UDF — the shrink-before-index
    step ahead of LSH/IVF at 100 TB.  Exploded to (id, dim, value)
    scalar rows so the driver's float normalization applies; the
    1/√16 = 0.25 scale is exact dyadic."""
    from .pipeline.similarity import jl_project
    em = read_table(spark, sf_dir, "embeddings")
    return jl_project(em, d_out=16)


def q_kcenter_coreset(spark, sf_dir):
    """Greedy k-center coreset selection (Gonzalez 1985) over the
    embedding table, HASH-VERIFIED: seed = lowest id, then 7 rounds of
    pick-the-farthest with min-squared-distances FLOOR-quantized to
    integer micro-units before the argmax (float-tie-free, id
    tiebreak) — the diversity-sampling primitive of training-data
    curation (the dual of SemDeDup: keep the spread, not prune the
    redundant).  No fact shuffle: each round is a 1-row center
    broadcast + in-row distance fold + 1-row argmax reduce.  Oracle
    unrolls the 8 selections as chained MATERIALIZED CTE stages (the
    q_pagerank discipline)."""
    from .pipeline.similarity import kcenter_coreset
    em = read_table(spark, sf_dir, "embeddings")
    return kcenter_coreset(em, k=8)


def q_sequence_packing(spark, sf_dir):
    """GPT-style contiguous sequence packing, HASH-VERIFIED: documents
    laid end-to-end in id order, cut into 1024-token training bins
    (docs split at boundaries — the pad-free pre-training layout).
    The global running offset is cumsum_distributed (range-partitioned
    prefix sums at FACT grain — the scale path, no single-reducer
    window, plan-tested); bins are in-row integer floor-divs, so every
    output value is exact."""
    from .pipeline.sampling import pack_documents
    d = read_table(spark, sf_dir, "documents")
    return pack_documents(d, ctx_len=1024)


def q_packed_bins(spark, sf_dir):
    """The packed-bin writer output, HASH-VERIFIED: every 1024-token
    training bin's size, document count, and first/last token by GLOBAL
    stream position — the materialized form of q_sequence_packing.
    Every bin must hold exactly 1024 tokens except the last; first/last
    tokens pin the exact layout without shipping full arrays."""
    from .pipeline.sampling import materialize_bins
    d = read_table(spark, sf_dir, "documents")
    return materialize_bins(d, ctx_len=1024)


def q_redact_pii(spark, sf_dir):
    """PII scrubbing with audit counts.  The synthetic corpus carries no
    PII, so the query PLANTS a deterministic email + account number per
    document first (same concat in the oracle), then redacts — proving
    both the match counts and the rewritten text byte-for-byte."""
    from .pipeline.text import redact_pii
    d = read_table(spark, sf_dir, "documents")
    planted = d.select(
        "doc_id",
        F.concat(F.col("text"), F.lit(" contact u"),
                 F.col("doc_id").cast("string"),
                 F.lit("@mail.example.com ref "),
                 (F.col("doc_id") * 1234567 + 1000000).cast("string"))
         .alias("text"))
    return redact_pii(planted)


def q_merge_upsert(spark, sf_dir):
    """MERGE INTO / CDC apply on the events snapshot: a deterministic
    changes feed (updates for event_id%7=0, deletes for %11=0 of the
    rest, inserts at event_id+10M for %97=0) full-outer-merges into the
    base.  Exercises all three MERGE branches; value rounds to 6 so the
    oracle hash is stable."""
    from .operators.merge import merge_upsert
    e = (read_table(spark, sf_dir, "events")
         .select("event_id", "user_id", "event_type",
                 roundn(F.col("value")).alias("value")))
    updates = (e.filter(F.col("event_id") % 7 == 0)
                .select("event_id", "user_id",
                        F.lit("updated").alias("event_type"),
                        roundn(F.col("value") + 100.0).alias("value"),
                        F.lit("U").alias("op")))
    deletes = (e.filter((F.col("event_id") % 11 == 0)
                        & (F.col("event_id") % 7 != 0))
                .select("event_id", "user_id", "event_type", "value",
                        F.lit("D").alias("op")))
    inserts = (e.filter(F.col("event_id") % 97 == 0)
                .select((F.col("event_id") + 10_000_000).alias("event_id"),
                        "user_id", F.lit("inserted").alias("event_type"),
                        "value", F.lit("U").alias("op")))
    changes = updates.unionByName(deletes).unionByName(inserts)
    return merge_upsert(e, changes, keys=["event_id"])


def q_pagerank(spark, sf_dir):
    """PageRank over the co-interaction graph (users sharing an item =
    event_id div 5 — an item universe that GROWS with the data, so
    per-item fan-out stays ≤5 at every SF; a fixed modulus would turn
    every item into a hub whose pair fan-out grows quadratically with
    scale).  The in-plan cardinality guard proves the bound instead of
    assuming it.  5 damped rounds with dangling redistribution.
    Hash-verified against a 5-stage unrolled CTE oracle (the iteration
    count is part of the semantics); mass conservation and star-shape
    ordering are additionally property-tested.  Top-20 by rounded rank,
    user_id tie-break."""
    from .operators.graph import bipartite_edges, pagerank
    e = read_table(spark, sf_dir, "events")
    rel = e.select("user_id", (F.col("event_id") / 5).cast("long").alias("item"))
    edges = bipartite_edges(rel, "user_id", "item", max_entities_per_item=8)
    pr = pagerank(edges, iters=5)
    return (pr.select(F.col("node").alias("user_id"),
                      roundn(F.col("rank")).alias("rank"))
              .orderBy(F.desc("rank"), F.asc("user_id"))
              .limit(20))


def q_triangle_count(spark, sf_dir):
    """Per-node triangle counts over the user co-occurrence graph,
    HASH-VERIFIED: degree-oriented wedge closing (operators/graph.py) —
    each undirected edge orients low→high (degree, node), bounding the
    wedge join's fan-out by the oriented out-degree O(√2m) even at hub
    nodes; three shuffles total.  The oracle enumerates canonical
    x<y<z triangles — a different but provably count-equivalent
    formulation, so the hash match checks the orientation logic, not a
    shared implementation."""
    from .operators.graph import bipartite_edges, triangle_count
    e = read_table(spark, sf_dir, "events")
    rel = e.select("user_id",
                   (F.col("event_id") / 5).cast("long").alias("item"))
    # undirected=True: canonical src<dst edges — half the projection
    # fan-out, and triangle_count's own canonicalize becomes a no-op
    edges = bipartite_edges(rel, "user_id", "item",
                            max_entities_per_item=8, undirected=True)
    return (triangle_count(edges)
            .select(F.col("node").alias("user_id"), "n_triangles"))


def q_winsorize(spark, sf_dir):
    """Winsorization (outlier clamping) per group: values clip to the
    exact [p05, p95] of their event_type — one percentile aggregate
    broadcast back, map-side clamp.  Thresholds round before the clamp
    so engines agree at the boundary."""
    e = read_table(spark, sf_dir, "events")
    pct = e.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.05)), 6).alias("__lo"),
        F.round(F.percentile("value", F.lit(0.95)), 6).alias("__hi"))
    clamped = F.least(F.greatest(roundn(F.col("value")), F.col("__lo")),
                      F.col("__hi"))
    return (e.join(F.broadcast(pct), "event_type")
             .select("event_id", "event_type",
                     roundn(F.col("value")).alias("value"),
                     clamped.alias("winsorized"),
                     (roundn(F.col("value")) != clamped).alias("was_clipped")))


def q_ewma(spark, sf_dir):
    """Per-user EWMA (α = 0.2) of the value series — the RECURSIVE
    sequential op window functions cannot express (each state depends on
    the previous).  One shuffle: values collect to a per-user ordered
    array and a single in-row fold runs the recurrence; both engines
    fold in identical order, so the doubles match bit-for-bit before the
    final rounding.  Returns the final smoothed level per user.

    A hot key would build an unbounded in-row array, so the group count
    is guarded at 100k events/user — the raise_error branch rides the
    live n_events column (fails loud at execution, no extra pass), same
    discipline as funnel_stages' max_group."""
    e = read_table(spark, sf_dir, "events")
    max_group = 100_000
    arr = F.transform(
        F.array_sort(F.collect_list(F.struct("ts", "event_id", "value"))),
        lambda s: s["value"])
    fold = F.aggregate(
        F.col("__vals"), F.lit(None).cast("double"),
        lambda acc, x: F.when(acc.isNull(), x)
                        .otherwise(0.2 * x + 0.8 * acc))
    guarded_n = F.when(
        F.col("n_events") <= max_group, F.col("n_events")
    ).otherwise(F.raise_error(F.concat(
        F.lit(f"q_ewma[max_group={max_group}]: hot key "),
        F.col("user_id").cast("string"), F.lit(" has "),
        F.col("n_events").cast("string"), F.lit(" events"))).cast("long"))
    return (e.groupBy("user_id")
             .agg(F.count(F.lit(1)).alias("n_events"), arr.alias("__vals"))
             .select("user_id", guarded_n.alias("n_events"),
                     roundn(fold).alias("ewma")))


def q_intersect_except(spark, sf_dir):
    """Set algebra beyond union: users who both purchased AND errored
    (INTERSECT), minus those who signed up (EXCEPT) — native
    intersect/exceptAll lowering to hash semi/anti aggregates."""
    e = read_table(spark, sf_dir, "events")
    users = lambda t, v: (e.filter((F.col("event_type") == t)
                                   & (F.col("value") > v))
                           .select("user_id"))
    both = users("purchase", 95).intersect(users("error", 95))
    out = both.exceptAll(users("signup", 97).distinct())
    return out.orderBy("user_id")


def q_mad_robust(spark, sf_dir):
    """Robust dispersion per group: median absolute deviation —
    median(|x − median(x)|) via two aggregate passes with a broadcast
    join-back between them (no window, no sort of the fact table)."""
    e = read_table(spark, sf_dir, "events")
    med = e.groupBy("event_type").agg(F.median("value").alias("__med"))
    return (e.join(F.broadcast(med), "event_type")
             .withColumn("__ad", F.abs(F.col("value") - F.col("__med")))
             .groupBy("event_type")
             .agg(F.count(F.lit(1)).alias("n"),
                  roundn(F.max("__med")).alias("median"),
                  roundn(F.median("__ad")).alias("mad")))


def q_corpus_release(spark, sf_dir):
    """Round-3 flagship composite — the corpus RELEASE pipeline as ONE
    lazy plan: normalize → exact-dedup (keep-min per digest) → quality
    gates (length + stopword ratio) → temperature-2 source mixing (rates
    from the quality survivors, in-plan) → per-source release report
    (candidates / quality / sampled / rate).  Three shuffles total: the
    dedup window, the per-source counts, the final report aggregate —
    everything else is map-side or broadcast."""
    d = read_table(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(
        F.regexp_replace(F.lower(F.col("text")), r"[.,!?;:]", ""),
        r"\s+", " "))
    staged = d.select("doc_id", "source", norm.alias("norm_text"))
    w = Window.partitionBy(F.md5("norm_text")).orderBy(F.asc("doc_id"))
    canon = (staged.withColumn("__rn", F.row_number().over(w))
                   .filter(F.col("__rn") == 1).drop("__rn"))
    toks = F.filter(F.split(F.col("norm_text"), " "), lambda t: t != "")
    n_tok = F.size(toks)
    stop_hits = F.size(F.filter(toks, lambda t: t.isin("the", "a", "of",
                                                       "and", "to")))
    quality = (n_tok >= 20) & (stop_hits / n_tok >= 0.02)
    flagged = canon.withColumn("__q", quality)
    counts = (flagged.filter("__q").groupBy("source")
                     .agg(F.count(F.lit(1)).alias("__n")))
    tot = counts.agg(F.sum(F.sqrt("__n")).alias("__tot"))
    rates = (counts.crossJoin(F.broadcast(tot))
                   .select("source",
                           (F.lit(150.0) * F.sqrt("__n") / F.col("__tot")
                            / F.col("__n")).alias("rate")))
    u = (F.pmod(F.pmod(F.col("doc_id"), F.lit(1 << 31))
                * F.lit(2654435761), F.lit(1 << 32))
         / F.lit(float(1 << 32)))
    enriched = (flagged.join(F.broadcast(rates), "source", "left")
                       .withColumn("__s", F.col("__q") & (u < F.col("rate"))))
    return (enriched.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_candidates"),
                 F.sum(F.when(F.col("__q"), 1).otherwise(0)).cast("long")
                  .alias("n_quality"),
                 F.sum(F.when(F.col("__s"), 1).otherwise(0)).cast("long")
                  .alias("n_sampled"),
                 roundn(F.max("rate")).alias("rate")))


def q_corpus_diff(spark, sf_dir):
    """Dataset-versioning diff: one full-outer join + content-hash compare
    classifies every doc as added / removed / changed / unchanged between
    two corpus snapshots (v2 simulated deterministically: every 13th doc
    dropped, every 7th edited, shifted ids added).  The md5 compare means
    the shuffle carries 32-byte digests, not documents."""
    d = read_table(spark, sf_dir, "documents")
    v1 = d.select("doc_id", F.md5("text").alias("h1"))
    v2_keep = (d.filter(F.col("doc_id") % 13 != 0)
                .select("doc_id",
                        F.md5(F.when(F.col("doc_id") % 7 == 0,
                                     F.concat(F.col("text"), F.lit(" v2")))
                               .otherwise(F.col("text"))).alias("h2")))
    v2_new = (d.filter(F.col("doc_id") % 17 == 0)
               .select((F.col("doc_id") + 1_000_000).alias("doc_id"),
                       F.md5("text").alias("h2")))
    v2 = v2_keep.unionByName(v2_new)
    j = v1.join(v2, "doc_id", "full_outer")
    status = (F.when(F.col("h1").isNull(), "added")
               .when(F.col("h2").isNull(), "removed")
               .when(F.col("h1") != F.col("h2"), "changed")
               .otherwise("unchanged"))
    return (j.withColumn("status", status)
             .groupBy("status")
             .agg(F.count(F.lit(1)).alias("n")))


def q_filter_funnel(spark, sf_dir):
    """Corpus-prep yield report: how many docs survive each CUMULATIVE
    quality gate (length → stopword ratio → mean token length) — the
    one-pass conditional-aggregate funnel every dataset card quotes.
    Single aggregate row; no per-filter scans."""
    d = read_table(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.col("text"), " "), lambda t: t != "")
    n_tok = F.size(toks)
    stop_hits = F.size(F.filter(toks, lambda t: t.isin("the", "a", "of",
                                                       "and", "to")))
    c1 = n_tok >= 20
    c2 = c1 & (stop_hits / n_tok >= 0.02)
    c3 = c2 & ((F.length("text") / n_tok) <= 8.0)
    as_n = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("long")
    return d.agg(F.count(F.lit(1)).alias("n_docs"),
                 as_n(c1).alias("pass_length"),
                 as_n(c2).alias("pass_stopwords"),
                 as_n(c3).alias("pass_token_len"))


def q_ngram_hotspots(spark, sf_dir):
    """Boilerplate detection: corpus-repeated bigrams (count ≥ 20, top
    15) — the within-corpus complement of the cross-corpus decontam
    sweep.  The sliding n-gram explode is a staged-token-array slide
    (HOF-CSE rule); the count is one combinable aggregate.  (Real
    boilerplate sweeps use 5-grams+; the synthetic vocabulary is too
    small for 5-gram repeats, so the query pins the mechanics on
    bigrams.)"""
    d = read_table(spark, sf_dir, "documents")
    staged = d.select("doc_id",
                      F.filter(F.split(F.col("text"), " "),
                               lambda t: t != "").alias("__toks"))
    n = F.size("__toks")
    # applied after the n >= 2 filter, so the sequence is ascending
    grams = F.transform(
        F.sequence(F.lit(1), n - 1),
        lambda i: F.concat_ws(" ", F.slice("__toks", i, 2)))
    out = (staged.filter(n >= 2)
                 .select(F.explode(grams).alias("gram"))
                 .groupBy("gram")
                 .agg(F.count(F.lit(1)).alias("n"))
                 .filter(F.col("n") >= 20)
                 .orderBy(F.desc("n"), F.asc("gram"))
                 .limit(15))
    return out


def q_ivfpq_topk(spark, sf_dir):
    """IVF-PQ composite ANN (the FAISS-style production shape): coarse
    cells route each query to nprobe=2 cells; ADC scans only those
    cells' PQ codes, map-only.  Hash-verified since r5: label-centroid
    cells + wang-hash PQ init, so the oracle composes the ivf_neutral
    and pq oracles and replays the cell-restricted ADC; full-probe ≡
    flat-PQ equality is property-tested."""
    from .pipeline.similarity import ivfpq_topk
    em = read_table(spark, sf_dir, "embeddings")
    return ivfpq_topk(em, [0, 1, 2, 3, 4], k=3, nprobe=2,
                      m=8, pq_k=16, train_frac=0.25, iters=1)


def q_span_corruption(spark, sf_dir):
    """T5-style denoising example construction: per document, a
    deterministic token span (hash-picked start, length 5) is cut out —
    input = prefix + <extra_id_0> + suffix, target = the span.  Pure
    array slicing over the staged token column (HOF-CSE rule); the
    training-pair fan-out is map-side.  Docs shorter than the span are
    dropped (both engines agree)."""
    d = read_table(spark, sf_dir, "documents")
    span = 5
    staged = d.select(
        "doc_id",
        F.filter(F.split(F.col("text"), " "), lambda t: t != "")
         .alias("__toks"))
    n = F.size("__toks")
    start = F.pmod(F.pmod(F.col("doc_id"), F.lit(1 << 31))
                   * F.lit(2654435761), F.lit(1 << 32)) % (n - span) + 1
    eligible = staged.filter(n > span).withColumn("__s", start)
    inp = F.concat_ws(
        " ",
        F.concat(F.slice("__toks", F.lit(1), F.col("__s") - 1),
                 F.array(F.lit("<extra_id_0>")),
                 F.slice("__toks", F.col("__s") + span,
                         F.size("__toks"))))
    tgt = F.concat_ws(" ", F.slice("__toks", F.col("__s"), span))
    return eligible.select("doc_id", F.col("__s").cast("long").alias("span_start"),
                           inp.alias("input"), tgt.alias("target"))


def q_kfold(spark, sf_dir):
    """Leakage-safe k-fold assignment: every event of a user lands in ONE
    fold (key-hash mod k); per-fold sizes prove balance.  The k-way
    generalization of the M8 group split."""
    e = read_table(spark, sf_dir, "events")
    fold = F.pmod(F.pmod(F.col("user_id"), F.lit(1 << 31))
                  * F.lit(2654435761), F.lit(1 << 32)) % 5
    return (e.withColumn("fold", fold)
             .groupBy("fold")
             .agg(F.count(F.lit(1)).alias("n_events"),
                  F.countDistinct("user_id").alias("n_users")))


def q_rolling_active_users(spark, sf_dir):
    """DAU / trailing-7-day WAU per day, HASH-VERIFIED: distinct users
    active each day and in the trailing week.  The WAU shape is
    MAP-SIDE fan-out, not a range join: each (user, day) row explodes
    to the ≤7 report days it contributes to (sequence of dates), then
    one distinct-count per report day — the bounded-explode discipline
    (cf. interval_join's bucketing), with report days clipped to days
    that actually exist.  The oracle uses the equivalent BETWEEN range
    join — different formulation, same result, so the match checks the
    fan-out logic."""
    e = read_table(spark, sf_dir, "events")
    act = (e.select("user_id", F.to_date("ts").alias("day"))
            .distinct())
    dau = (act.groupBy("day")
              .agg(F.countDistinct("user_id").alias("dau")))
    contrib = act.select(
        "user_id",
        F.explode(F.sequence(
            F.col("day"), F.date_add(F.col("day"), 6))).alias("day"))
    wau = (contrib.join(act.select("day").distinct(), "day")
                  .groupBy("day")
                  .agg(F.countDistinct("user_id").alias("wau")))
    return dau.join(wau, "day").select("day", "dau", "wau")


def q_table_profile(spark, sf_dir):
    """Column-profile table, HASH-VERIFIED: per column of events —
    null count, distinct count, and min/max rendered as strings — the
    data-profiling sweep every warehouse quality tool runs before
    trusting a feed.  ONE scan: every per-column aggregate computes in
    a single agg pass, then the wide row unpivots to (column, stats)
    rows via an in-row struct array — never one scan per column (the
    naive UNION ALL formulation the oracle is allowed to use, because
    DuckDB reads a 500-row view).  Scale caveat, stated honestly: the
    multi-distinct computes via Expand — rows multiply by the number of
    distinct-counted columns through the aggregate.  At 100 TB swap
    n_distinct to ``approx_count_distinct`` (mergeable HLL, no Expand,
    one true pass) — the A12 scale rule; exact stays here because the
    oracle hash-verifies it."""
    e = read_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value")
    total = F.count(F.lit(1))
    aggs = []
    for c in e.columns:
        aggs += [
            (total - F.count(F.col(c))).alias(f"__nn_{c}"),
            F.countDistinct(F.col(c)).alias(f"__nd_{c}"),
            F.min(F.col(c)).cast("string").alias(f"__mn_{c}"),
            F.max(F.col(c)).cast("string").alias(f"__mx_{c}"),
        ]
    wide = e.agg(*aggs)
    rows = F.array(*[
        F.struct(F.lit(c).alias("column"),
                 F.col(f"__nn_{c}").alias("n_nulls"),
                 F.col(f"__nd_{c}").alias("n_distinct"),
                 F.col(f"__mn_{c}").alias("min_value"),
                 F.col(f"__mx_{c}").alias("max_value"))
        for c in e.columns])
    return (wide.select(F.explode(rows).alias("p"))
                .select("p.column", "p.n_nulls", "p.n_distinct",
                        "p.min_value", "p.max_value"))


def q_period_over_period(spark, sf_dir):
    """Period-over-period BI comparison, HASH-VERIFIED: daily value
    totals per event type with the prior-day and 7-days-ago totals
    (CALENDAR day−1 / day−7 self-joins of the day grain, NOT lag(1)/
    lag(7) over observed rows — a row-based lag silently compares the
    7th-prior EXISTING day on any sparse series, which is not what a BI
    reader means by "week over week"; r6 review fix).  A missing
    comparison day yields null.  Joins touch only the O(types · days)
    aggregated grain; integer-cents sums keep totals exact and each
    delta is an integer subtraction before one division."""
    from .functions.scalar import cents
    e = read_table(spark, sf_dir, "events")
    daily = (e.groupBy("event_type", F.to_date("ts").alias("day"))
              .agg(F.sum(cents(F.col("value"))).alias("__c")))
    d1 = daily.select("event_type",
                      F.date_add("day", 1).alias("day"),
                      F.col("__c").alias("__c1"))
    d7 = daily.select("event_type",
                      F.date_add("day", 7).alias("day"),
                      F.col("__c").alias("__c7"))
    return (daily.join(d1, ["event_type", "day"], "left")
                 .join(d7, ["event_type", "day"], "left")
                 .select(
                     "event_type", "day",
                     F.round(F.col("__c") / 100.0, 2).alias("total"),
                     F.round((F.col("__c") - F.col("__c1")) / 100.0, 2)
                      .alias("dod_delta"),
                     F.round((F.col("__c") - F.col("__c7")) / 100.0, 2)
                      .alias("wow_delta")))


def q_new_vs_returning(spark, sf_dir):
    """New-vs-returning users per day, HASH-VERIFIED: the exact twin of
    the Bloom ingest gate's question — a user's first-seen day marks
    them new that day, returning after.  User-grain first-day table
    joins the (user, day) activity grain (both shuffle on user_id and
    co-partition; never broadcast — the PageRank node-table rule)."""
    e = read_table(spark, sf_dir, "events")
    act = (e.select("user_id", F.to_date("ts").alias("day"))
            .distinct())
    first = act.groupBy("user_id").agg(F.min("day").alias("first_day"))
    return (act.join(first, "user_id")
               .groupBy("day")
               .agg(F.sum((F.col("day") == F.col("first_day"))
                          .cast("long")).alias("n_new"),
                    F.sum((F.col("day") > F.col("first_day"))
                          .cast("long")).alias("n_returning")))


def q_group_entropy(spark, sf_dir):
    """Per-user event-type Shannon entropy, HASH-VERIFIED: the behavior-
    diversity score a quality/bot filter thresholds on (entropy ≈ 0 =
    single-action bots).  Two aggregates on the same key chain —
    (user, type) counts, then the in-group entropy sum — one shuffle
    each, the second over the already-collapsed grain; p·log2(p) terms
    round at 9 digits BEFORE the sum so the addition order across
    engines cannot flip the 6-digit output."""
    e = read_table(spark, sf_dir, "events")
    counts = (e.groupBy("user_id", "event_type")
               .agg(F.count(F.lit(1)).alias("n")))
    w_tot = Window.partitionBy("user_id")
    p = F.col("n") / F.sum("n").over(w_tot)
    terms = counts.select(
        "user_id",
        F.round(-p * F.log2(p), 9).alias("__t"),
        F.col("n"))
    return (terms.groupBy("user_id")
                 .agg(F.round(F.sum("__t"), 6).alias("entropy"),
                      F.sum("n").alias("n_events")))


def q_cohort_ltv(spark, sf_dir):
    """Cumulative cohort value curves (LTV), HASH-VERIFIED: per
    first-seen cohort, the running total of value by day offset — the
    revenue view of the retention matrix.  Day-grain cents sums
    aggregate first (cohort × offset grain), THEN the running-sum
    window walks that tiny series — the window never sees fact rows,
    and integer cents keep the cumulative totals engine-exact."""
    from .functions.scalar import cents
    e = read_table(spark, sf_dir, "events")
    first = (e.groupBy("user_id")
              .agg(F.min(F.to_date("ts")).alias("cohort_day")))
    cells = (e.join(first, "user_id")
              .groupBy("cohort_day",
                       F.datediff(F.to_date("ts"), F.col("cohort_day"))
                        .cast("long").alias("offset_days"))
              .agg(F.sum(cents(F.col("value"))).alias("__c")))
    w = (Window.partitionBy("cohort_day").orderBy("offset_days")
               .rowsBetween(Window.unboundedPreceding, 0))
    return cells.select(
        "cohort_day", "offset_days",
        F.round(F.col("__c") / 100.0, 2).alias("period_value"),
        F.round(F.sum("__c").over(w) / 100.0, 2).alias("cum_value"))


def q_chi_square(spark, sf_dir):
    """Categorical-drift statistic, HASH-VERIFIED: chi-square of
    independence over the documents lang × source contingency table —
    the test a corpus monitor runs to catch a source whose language mix
    shifted.  All marginals join back onto the O(R·C) cell grain;
    per-cell terms round at 9 digits before the final sum (the
    q_group_entropy association-order rule)."""
    d = read_table(spark, sf_dir, "documents")
    cells = d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n"))
    row = cells.groupBy("lang").agg(F.sum("n").alias("__r"))
    col = cells.groupBy("source").agg(F.sum("n").alias("__c"))
    total = cells.agg(F.sum("n").alias("__t"))
    dims = (row.agg(F.count(F.lit(1)).alias("__nr"))
               .crossJoin(col.agg(F.count(F.lit(1)).alias("__nc"))))
    terms = (cells.join(F.broadcast(row), "lang")
                  .join(F.broadcast(col), "source")
                  .crossJoin(F.broadcast(total)))
    e = (F.col("__r") * F.col("__c")).cast("double") / F.col("__t")
    t = F.round(F.pow(F.col("n") - e, 2) / e, 9)
    # dof derives in-plan (1-row broadcast) — no eager .count() at
    # query construction
    return (terms.agg(F.round(F.sum(t), 6).alias("chi2"))
                 .crossJoin(F.broadcast(dims))
                 .select("chi2",
                         ((F.col("__nr") - 1) * (F.col("__nc") - 1))
                         .cast("long").alias("dof")))


def q_ks_drift(spark, sf_dir):
    """Numeric-drift statistic, HASH-VERIFIED: the exact two-sample
    Kolmogorov–Smirnov D between two event types' value distributions
    (purchase vs error) — max CDF gap, the distribution-shift alarm for
    a numeric feed.  The core is INTEGER-EXACT: per distinct value,
    cumulative counts cross-multiply (|cum_a·n_b − cum_b·n_a|) so the
    max is over exact integers, with ONE final division.  The
    cross-multiply is int64-exact only while na·nb < 2^63 (~3e9 rows
    per side); past that the plan switches IN-PLAN to a DECIMAL(38,0)
    cross-multiply (exact to ~1e19 rows per side) — no scale cliff.
    The cumulative pass runs on the DISTINCT-VALUE grain through
    cumsum_distributed's range-partitioned prefix sums, never a
    single-reducer global window (operators/drift.py)."""
    from .operators.drift import ks_two_sample
    e = read_table(spark, sf_dir, "events")
    tagged = (e.filter(F.col("event_type").isin("purchase", "error"))
               .select("value",
                       (F.col("event_type") == "purchase")
                       .cast("long").alias("is_a")))
    return ks_two_sample(tagged, "value", "is_a")


def q_auc_exact(spark, sf_dir):
    """EXACT ROC AUC ("does value discriminate purchases?"),
    HASH-VERIFIED: the Mann–Whitney rank form with midrank ties —
    2·R⁺ = Σ p·(2b+t+1) over the distinct-score grain, accumulated in
    DECIMAL(38,0) (no int64 ceiling), cumulative counts via
    cumsum_distributed (no single-reducer window), ONE final double
    division over exact integers — auc emitted unrounded because every
    engine computes the identical bits (operators/drift.py)."""
    from .operators.drift import auc_exact
    e = (read_table(spark, sf_dir, "events")
         .filter(F.col("value").isNotNull())
         .withColumn("is_pos",
                     (F.col("event_type") == "purchase").cast("long")))
    return auc_exact(e, "value", "is_pos")


def q_auc_by_group(spark, sf_dir):
    """Per-segment exact AUC (fairness / cohort monitoring),
    HASH-VERIFIED: the same integer midrank form as q_auc_exact, but
    per weekday cohort — and because the grain is (group, distinct
    score), the cumulative pass is a PLAIN window partitioned by the
    group (parallelism = #groups × in-group locality; the global
    distributed-cumsum machinery is only needed when there is no
    partition key).  DECIMAL(38,0) term accumulation, one final
    division per group, auc unrounded (bit-identical)."""
    e = (read_table(spark, sf_dir, "events")
         .filter(F.col("value").isNotNull())
         .select(F.dayofweek("ts").alias("dow"), "value",
                 (F.col("event_type") == "purchase").cast("long")
                  .alias("pos")))
    dec = "decimal(38,0)"
    per = (e.groupBy("dow", F.col("value").alias("__s"))
            .agg(F.sum("pos").alias("p"),
                 F.count(F.lit(1)).alias("t")))
    w = (Window.partitionBy("dow").orderBy("__s")
               .rowsBetween(Window.unboundedPreceding, 0))
    cum = per.withColumn("ct", F.sum("t").over(w))
    term = (F.col("p").cast(dec)
            * (F.lit(2).cast(dec) * (F.col("ct") - F.col("t")).cast(dec)
               + F.col("t").cast(dec) + F.lit(1).cast(dec)))
    agg = (cum.groupBy("dow")
              .agg(F.sum(term).alias("r2"),
                   F.sum("p").cast(dec).alias("np"),
                   (F.sum("t") - F.sum("p")).cast(dec).alias("nn")))
    num = F.col("r2") - F.col("np") * (F.col("np") + F.lit(1).cast(dec))
    den = F.lit(2).cast(dec) * F.col("np") * F.col("nn")
    return agg.select(
        F.col("dow").cast("long").alias("dow"),
        F.col("np").cast("long").alias("n_pos"),
        F.col("nn").cast("long").alias("n_neg"),
        (num.cast("double") / den.cast("double")).alias("auc"))


def q_cumulative_gains(spark, sf_dir):
    """Cumulative gains / lift table, HASH-VERIFIED: score deciles
    (percentile boundaries broadcast, descending bins — bin 0 is the
    TOP decile), per-bin positives, and the cumulative capture rate
    (share of all positives reached by targeting down to this bin) —
    the campaign-targeting staple.  Cumulative pass is a window over
    the 10-row bin grain; capture = long/long division, unrounded."""
    e = (read_table(spark, sf_dir, "events")
         .filter(F.col("value").isNotNull())
         .select("value",
                 (F.col("event_type") == "purchase").cast("long")
                  .alias("pos")))
    bounds = e.agg(F.percentile(
        "value", F.array(*[F.lit(i / 10.0) for i in range(1, 10)]))
        .alias("__b"))
    # descending bin: 0 = above the 90th percentile
    bin_of = (F.lit(9) - F.size(F.filter(
        "__b", lambda b: F.col("value") > b))).alias("bin")
    bins = (e.crossJoin(F.broadcast(bounds))
             .select(bin_of, "pos")
             .groupBy("bin")
             .agg(F.count(F.lit(1)).alias("n"),
                  F.sum("pos").alias("n_pos")))
    tot = bins.agg(F.sum("n_pos").alias("__tp"))
    w = (Window.orderBy("bin")
               .rowsBetween(Window.unboundedPreceding, 0))
    return (bins.withColumn("cum_pos", F.sum("n_pos").over(w))
                .crossJoin(F.broadcast(tot))
                .select("bin", "n", "n_pos", "cum_pos",
                        (F.col("cum_pos") / F.col("__tp"))
                         .alias("capture_rate")))


def q_classification_report(spark, sf_dir):
    """Thresholded classification report, HASH-VERIFIED: confusion
    counts at score ≥ 100 plus precision / recall / F1 — all four
    counts from ONE combinable aggregate pass, the three metrics as
    exact-integer divisions (F1 via 2TP/(2TP+FP+FN), one division —
    never the precision·recall composite, which would divide three
    times and round twice)."""
    e = (read_table(spark, sf_dir, "events")
         .filter(F.col("value").isNotNull())
         .select((F.col("value") >= 100.0).cast("long").alias("pred"),
                 (F.col("event_type") == "purchase").cast("long")
                  .alias("pos")))
    agg = e.agg(
        F.sum(F.col("pred") * F.col("pos")).alias("tp"),
        F.sum(F.col("pred") * (1 - F.col("pos"))).alias("fp"),
        F.sum((1 - F.col("pred")) * F.col("pos")).alias("fn"),
        F.sum((1 - F.col("pred")) * (1 - F.col("pos"))).alias("tn"))
    return agg.select(
        "tp", "fp", "fn", "tn",
        (F.col("tp") / (F.col("tp") + F.col("fp"))).alias("precision"),
        (F.col("tp") / (F.col("tp") + F.col("fn"))).alias("recall"),
        (2 * F.col("tp")
         / (2 * F.col("tp") + F.col("fp") + F.col("fn"))).alias("f1"))


def q_calibration_bins(spark, sf_dir):
    """Model-calibration (reliability) bins, HASH-VERIFIED: scores bin
    into deciles fixed on the score distribution's own percentile
    boundaries (one percentile-array row broadcast — the q_psi_drift
    bin discipline), then per bin: count, mean score, and positive
    rate.  Means reduce as integer-unit long sums (cents for the
    score); rates are long/long divisions — every double bit-identical
    across engines, so no rounding is applied."""
    e = (read_table(spark, sf_dir, "events")
         .filter(F.col("value").isNotNull())
         .select("value",
                 (F.col("event_type") == "purchase").cast("long")
                  .alias("is_pos")))
    bounds = e.agg(F.percentile(
        "value", F.array(*[F.lit(i / 10.0) for i in range(1, 10)]))
        .alias("__b"))
    bin_of = F.size(F.filter(
        "__b", lambda b: F.col("value") > b)).alias("bin")
    return (e.crossJoin(F.broadcast(bounds))
             .select(bin_of, cents(F.col("value")).alias("__vc"),
                     "is_pos")
             .groupBy("bin")
             .agg(F.count(F.lit(1)).alias("n"),
                  (F.sum("__vc") / F.count(F.lit(1)) / 100.0)
                   .alias("mean_score"),
                  (F.sum("is_pos") / F.count(F.lit(1)))
                   .alias("pos_rate")))


def q_trending_decay(spark, sf_dir):
    """Exponentially-decayed frequency ("trending now"), HASH-VERIFIED:
    per event type, Σ 2^(−Δdays/7) over its events — recency-weighted
    popularity with a 7-day half-life, anchored on the corpus max
    timestamp (a 1-row broadcast).  Δ is computed in INTEGER seconds
    (epoch-floor, both engines truncate identically) and each decay
    term rounds at 9 BEFORE the sum (the q_group_entropy discipline:
    rounded-term sums are association-order-proof), with the final sum
    rounded at 6."""
    e = read_table(spark, sf_dir, "events")
    anchor = e.agg(F.max(F.unix_timestamp("ts")).alias("__t0"))
    term = F.round(
        F.pow(F.lit(2.0),
              -((F.col("__t0") - F.unix_timestamp("ts"))
                .cast("double") / F.lit(7 * 86400.0))), 9)
    return (e.crossJoin(F.broadcast(anchor))
             .select("event_type", term.alias("__w"))
             .groupBy("event_type")
             .agg(F.count(F.lit(1)).alias("n_events"),
                  F.round(F.sum("__w"), 6).alias("decayed_freq")))


def q_psi_drift(spark, sf_dir):
    """Population Stability Index, HASH-VERIFIED: THE ML-monitoring
    drift score — decile bins fixed on the REFERENCE window (days 1–15)
    and PSI = Σ (pᵢ−qᵢ)·ln(pᵢ/qᵢ) against the current window (days
    16+).  Fully in-plan: the 9 boundary values are one percentile-array
    row broadcast onto both windows, bin assignment is an in-row
    ``size(filter(boundaries, b -> value > b))`` (no driver round-trip,
    no width_bucket uniform-bins limitation), empty current bins clamp
    at 1e-6 (standard practice, deterministic in both engines), and
    per-bin terms round at 9 before the final sum."""
    e = read_table(spark, sf_dir, "events").select(
        "value", F.dayofmonth(F.to_date("ts")).alias("__dom"))
    ref = e.filter(F.col("__dom") <= 15)
    cur = e.filter(F.col("__dom") > 15)
    bounds = ref.agg(F.percentile(
        "value", F.array(*[F.lit(i / 10.0) for i in range(1, 10)]))
        .alias("__b"))
    bin_of = F.size(F.filter(
        "__b", lambda b: F.col("value") > b)).alias("bin")
    rb = (ref.crossJoin(F.broadcast(bounds)).select(bin_of)
             .groupBy("bin").agg(F.count(F.lit(1)).alias("np")))
    cb = (cur.crossJoin(F.broadcast(bounds)).select(bin_of)
             .groupBy("bin").agg(F.count(F.lit(1)).alias("nq")))
    # totals derive IN-PLAN from the bin counts (1-row broadcasts) —
    # a driver-side .count() here would run two eager scans at query
    # CONSTRUCTION time, breaking the lazy-builder convention
    tp = rb.agg(F.sum("np").alias("__tp"))
    tq = cb.agg(F.sum("nq").alias("__tq"))
    joined = (rb.join(cb, "bin", "left")
                .crossJoin(F.broadcast(tp))
                .crossJoin(F.broadcast(tq))
                .select(
                    "bin",
                    (F.col("np") / F.col("__tp").cast("double"))
                     .alias("p"),
                    F.greatest(F.coalesce(F.col("nq"), F.lit(0))
                               / F.col("__tq").cast("double"),
                               F.lit(1e-6)).alias("q")))
    term = F.round((F.col("p") - F.col("q"))
                   * F.log(F.col("p") / F.col("q")), 9)
    return joined.agg(F.round(F.sum(term), 6).alias("psi"),
                      F.count(F.lit(1)).alias("n_bins"))


def q_gini_concentration(spark, sf_dir):
    """Activity concentration (Gini) per event type, HASH-VERIFIED: how
    unevenly a type's events distribute over its users — the inequality
    score monitoring uses to spot bot-dominated segments (Gini → 1 =
    one user generates everything).  Per-user counts rank under a
    deterministic total order (count, user_id); every term of
    G = (2·Σ(i·xᵢ) − (n+1)·Σxᵢ) / (n·Σxᵢ) is an exact integer until
    the single final division, so association order cannot drift."""
    e = read_table(spark, sf_dir, "events")
    counts = (e.groupBy("event_type", "user_id")
               .agg(F.count(F.lit(1)).alias("x")))
    w = Window.partitionBy("event_type").orderBy("x", "user_id")
    ranked = counts.withColumn("i", F.row_number().over(w))
    return (ranked.groupBy("event_type")
            .agg(F.round(
                (2 * F.sum(F.col("i") * F.col("x"))
                 - (F.count(F.lit(1)) + 1) * F.sum("x")).cast("double")
                / (F.count(F.lit(1)) * F.sum("x")).cast("double"),
                6).alias("gini"),
                F.count(F.lit(1)).alias("n_users")))


def q_path_analysis(spark, sf_dir):
    """Top session paths, HASH-VERIFIED: gaps-and-islands sessionization
    (the q_sessionize formulation), each session's first 5 event types
    joined in order, then the 20 most frequent paths (count desc, path
    asc — a deterministic total order, so the limit cut is engine-
    stable).  The ordered per-session path is the T1 array discipline:
    array_sort over (ts, event_id, type) structs, transform, slice —
    one shuffle for the session window, one for the session agg, one
    for the path count."""
    e = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # gap in exact MICROSECONDS (unix_micros), not truncated seconds:
    # unix_timestamp floors each side, so a sub-second-straddling gap
    # of 1799.5s could round UP to 1800 and split a session the
    # oracle's microsecond-precise INTERVAL comparison keeps together —
    # the full-sf0.1 sweep caught exactly two such sessions.
    gap = (F.unix_micros("ts")
           - F.unix_micros(F.lag("ts").over(w)))
    marked = e.select(
        "user_id", "ts", "event_id", "event_type",
        F.when(gap.isNull() | (gap >= 1800 * 1_000_000), F.lit(1))
         .otherwise(F.lit(0)).alias("new_session"))
    islands = marked.withColumn(
        "session_id",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
    paths = (islands.groupBy("user_id", "session_id")
             .agg(F.concat_ws(
                 ">",
                 F.slice(F.transform(
                     F.array_sort(F.collect_list(
                         F.struct("ts", "event_id", "event_type"))),
                     lambda s: s["event_type"]), 1, 5)).alias("path")))
    return (paths.groupBy("path")
                 .agg(F.count(F.lit(1)).alias("n_sessions"))
                 .orderBy(F.desc("n_sessions"), F.asc("path"))
                 .limit(20))


def q_retention_cohorts(spark, sf_dir):
    """Retention cohort matrix, HASH-VERIFIED: users cohort by their
    first-seen day; each (cohort_day, day-offset) cell counts distinct
    users active that many days later — the product-analytics staple
    missing between funnel/attribution/sessionize.  Plan shape: the
    (user, day) grain dedups once, the first-day table is user-grain
    (joined, NOT broadcast — user-grain scales with the fact table, the
    PageRank node-table rule), and the cell count combines map-side.
    At 100 TB both sides shuffle on user_id and co-partition."""
    e = read_table(spark, sf_dir, "events")
    act = (e.select("user_id", F.to_date("ts").alias("day"))
            .distinct())
    first = act.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (act.join(first, "user_id")
               .groupBy("cohort_day",
                        F.datediff("day", "cohort_day")
                         .cast("long").alias("offset_days"))
               .agg(F.countDistinct("user_id").alias("n_users")))


def q_attribution(spark, sf_dir):
    """Last-touch attribution: every purchase credits the user's latest
    PRECEDING non-purchase event (channel + lead time) — the as-of self
    join, linear union+window plan; DuckDB native ASOF JOIN oracle."""
    from .operators.asof import asof_join
    e = read_table(spark, sf_dir, "events")
    purchases = (e.filter(F.col("event_type") == "purchase")
                  .select("event_id", "user_id", "ts"))
    touches = (e.filter(F.col("event_type") != "purchase")
                .select("user_id", "ts",
                        F.col("event_type").alias("channel"), "event_id"))
    out = asof_join(purchases, touches, by=["user_id"], ts="ts",
                    payload=["channel"], tie_col="event_id")
    return out.select("event_id", "user_id",
                      F.col("channel_asof").alias("channel"))


def q_quantile_normalize(spark, sf_dir):
    """Within-group quantile normalization (batch-effect correction):
    each value maps to its percent_rank inside its event_type — rank
    windows share the one group exchange; ranks round before hashing."""
    e = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(F.asc("value"),
                                                 F.asc("event_id"))
    return (e.select("event_id", "event_type",
                     roundn(F.col("value")).alias("value"))
             .withColumn("qnorm", roundn(F.percent_rank().over(w))))


def q_temperature_mix(spark, sf_dir):
    """Temperature-2 dataset mixing over the documents sources:
    √n-proportional sampling rates derived in-plan, deterministic hash
    membership — the multilingual rebalancing rule, reproducibly."""
    from .pipeline.sampling import temperature_mixture
    d = read_table(spark, sf_dir, "documents")
    out = temperature_mixture(d, "source", "doc_id", target_rows=200)
    return out.select("doc_id", "source", roundn(F.col("rate")).alias("rate"))


def q_negative_samples(spark, sf_dir):
    """Contrastive-training negative sampling: for each positive
    (user, item) interaction (item = event_id mod 1000), two
    deterministic hash-drawn candidates from the item space, accidental
    positives removed by one left-anti join.  Reproducible across
    engines/partitionings — no rand()."""
    from .pipeline.sampling import negative_samples
    e = read_table(spark, sf_dir, "events")
    pos = (e.select("user_id", (F.col("event_id") % 1000).alias("item"))
            .distinct())
    return negative_samples(pos, "user_id", "item", n_items=1000, k=2)


def q_synthetic_source(spark, sf_dir):
    """Spark 4 custom Python DataSource: 10k deterministic synthetic
    events generated partition-parallel (no files), aggregated per type.
    DuckDB cannot run a Spark data source, but the generator is pure
    arithmetic on the row id, so the oracle REGENERATES the rows with
    `range(10000)` and the same multiplicative hash — a full value-hash
    check, not just a smoke.  Values are exact 2-decimal floats, so the
    sum goes through integer cents (exact int64) rather than a float
    fold whose association-order drift could cross a rounding boundary."""
    from .sources.synthetic import SyntheticEventsDataSource
    spark.dataSource.register(SyntheticEventsDataSource)
    df = (spark.read.format("synthetic_events")
          .option("rows", 10_000).option("partitions", 8).load())
    cents = F.round(F.col("value") * 100).cast("long")
    return (df.groupBy("event_type")
              .agg(F.count(F.lit(1)).alias("n"),
                   roundn(F.sum(cents).cast("double") / 100.0)
                     .alias("sum_value"),
                   F.countDistinct("user_id").alias("n_users")))


def q_fuzzy_join(spark, sf_dir):
    """Typo-variant record linkage: every customer-name pair within
    Levenshtein distance 1 — exact, never a cross join, equals the naive
    all-pairs join the oracle spells out.  Strategy: deletion
    neighborhoods (FastSS), chosen over Ed-Join gram prefixes because
    zero-padded key-like names have an all-hub gram distribution (11×
    fewer candidates measured); both strategies are property-tested
    equal to brute force."""
    from .pipeline.dedup import deletion_neighborhood_pairs
    c = read_table(spark, sf_dir, "customer")
    return deletion_neighborhood_pairs(c, max_dist=1,
                                       id_col="c_custkey",
                                       string_col="c_name")


def q_hll_neutral(spark, sf_dir):
    """Engine-neutral HyperLogLog distinct-user estimate per event type
    (explicit registers, exact integer register sums, one double
    division) — the sketch-tier trio's third hash-verified twin; the
    DataSketches binary form stays the production path."""
    from .operators.sketches import hll_neutral
    e = read_table(spark, sf_dir, "events")
    return hll_neutral(e, ["event_type"], "user_id")


def q_near_dup_diff(spark, sf_dir):
    """Edit-structure analysis of near-dup candidates: the bucketed
    Jaccard pairs attach their texts and a Python UDTF (difflib
    opcodes — the engine's UDTF seam; not SQL-expressible) rolls up
    per-pair matched/inserted/deleted/replaced token counts and the
    difflib ratio.  Python cost ∝ candidate pairs, never the corpus.
    Rows-only at the driver; opcode semantics pinned by unit tests."""
    from .pipeline.dedup import ngram_jaccard_pairs
    from .pipeline.diffing import diff_summary
    d = read_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(d, threshold=0.5)
    texts = d.select("doc_id", "text")
    withtext = (pairs
                .join(texts.select(F.col("doc_id").alias("doc_a"),
                                   F.col("text").alias("text_a")),
                      "doc_a")
                .join(texts.select(F.col("doc_id").alias("doc_b"),
                                   F.col("text").alias("text_b")),
                      "doc_b"))
    # no orderBy: the driver's rows-only check is order-free, and a
    # global sort of the pair summaries would add a range exchange for
    # nothing (the lint discipline applied to ourselves)
    # r14: fan the pair rows out BEFORE the difflib UDTF — the joined
    # pair table is tiny in bytes, so AQE coalesces it onto 1-2
    # partitions and the O(tokens²) SequenceMatcher runs serially (the
    # fan-out-before-CPU-bound-stage rule; interleaved min-of-3 at
    # sf0.1: 4.11 → 2.12s)
    return diff_summary(fan_out(withtext))


def q_grid_nearest(spark, sf_dir):
    """Radius-bounded nearest neighbor over the embeddings' first two
    dims, grid-bucketed: the unbounded-scale form of the nearest-
    defender join (cell key bounds the quadratic fan-out the way the
    play key does in J6/J8).  Exact for the within-radius semantics —
    the oracle brute-forces all pairs."""
    from .operators.separation import grid_nearest
    em = read_table(spark, sf_dir, "embeddings")
    pts = em.select("vec_id",
                    F.element_at("embedding", 1).alias("x"),
                    F.element_at("embedding", 2).alias("y"))
    return grid_nearest(pts, radius=0.15, id_col="vec_id")


def q_grid_knn(spark, sf_dir):
    """Radius-bounded k-nearest-neighbors (k=3) over the embeddings'
    first two dims, grid-bucketed with the density-adaptive ladder —
    the kNN-graph construction primitive (mutual-kNN clustering,
    multi-negative contrastive mining, local density estimation).
    EXACT: per point up to 3 rows ranked by distance with neighbor-id
    tie-break; the oracle brute-forces all pairs.  A rung resolves a
    query only when it retains a FULL k rows at d ≤ w (the L∞ block
    bound then covers all k), so partially-matched queries escalate to
    the radius backstop."""
    from .operators.separation import grid_knn
    em = read_table(spark, sf_dir, "embeddings")
    pts = em.select("vec_id",
                    F.element_at("embedding", 1).alias("x"),
                    F.element_at("embedding", 2).alias("y"))
    return grid_knn(pts, radius=0.3, k=3, id_col="vec_id")


def q_hard_negatives_k(spark, sf_dir):
    """Multi-negative mining, HASH-VERIFIED: per point the 3 nearest
    DIFFERENT-label points within radius 0.5, ranked hardest-first —
    the InfoNCE / multiple-negatives batch shape (vs q_hard_negatives'
    single triplet negative).  grid_knn's full-k rung resolution stays
    exact under the label predicate (identical candidate subset at
    every rung); the oracle brute-forces all label-mismatched pairs."""
    from .pipeline.similarity import hard_negatives_k
    em = read_table(spark, sf_dir, "embeddings")
    pts = em.select("vec_id", "label",
                    F.element_at("embedding", 1).alias("x"),
                    F.element_at("embedding", 2).alias("y"))
    return hard_negatives_k(pts, radius=0.5, k=3)


def q_mutual_knn(spark, sf_dir):
    """Mutual-kNN graph over the embeddings' first two dims,
    HASH-VERIFIED: edge (a, b) iff each is among the other's 3 nearest
    within radius 0.3 — the symmetrized kNN graph density clustering
    builds on (mutual edges are the high-precision subset; one-way
    kNN edges are hub noise).  The kNN table pins once at
    (point × ≤k) grain, then one reciprocity self-join — n·k rows
    through the mutuality shuffle, never candidate pairs."""
    from .pipeline.similarity import mutual_knn_edges
    em = read_table(spark, sf_dir, "embeddings")
    pts = em.select("vec_id",
                    F.element_at("embedding", 1).alias("x"),
                    F.element_at("embedding", 2).alias("y"))
    return mutual_knn_edges(pts, radius=0.3, k=3)


def q_triplet_mining(spark, sf_dir):
    """Triplet mining, HASH-VERIFIED: per anchor the nearest SAME-label
    point (positive) and nearest DIFFERENT-label point (hard negative)
    within radius 0.5, inner-joined on the anchor (a triplet needs all
    three legs) — the metric-learning batch primitive, two adaptive-grid
    passes + one point-grain join.  Oracle: two brute-force ranked CTEs
    joined the same way."""
    from .pipeline.similarity import triplet_mining
    em = read_table(spark, sf_dir, "embeddings")
    pts = em.select("vec_id", "label",
                    F.element_at("embedding", 1).alias("x"),
                    F.element_at("embedding", 2).alias("y"))
    return triplet_mining(pts, radius=0.5)


def q_quality_classifier(spark, sf_dir):
    """Hashed linear quality classifier (fastText-style keep/drop
    filter), HASH-VERIFIED: tokens hash into 1024 feature buckets via
    the engine-neutral polynomial hash, bucket weights are a fixed
    pseudo-random integer map, doc score = one long/long double
    division, keep = an integer sign test.  Map-only (in-row array
    transform + aggregate — no explode, no shuffle at any corpus
    size)."""
    from .pipeline.text import quality_classifier
    return quality_classifier(read_table(spark, sf_dir, "documents"))


def q_perplexity_buckets(spark, sf_dir):
    """CCNet-style perplexity bucketing, HASH-VERIFIED: every document
    scored by the interpolated bigram LM (q_bigram_scores' machinery),
    then split into head/middle/tail tertiles PER LANGUAGE by an ntile
    window over (avg_logp desc, doc_id) — the standard web-corpus
    quality stratification (keep head, sample middle, drop tail).  The
    tier boundary is deterministic because avg_logp is a long/long
    division, bit-identical across engines."""
    from .pipeline.ranking import perplexity_buckets
    return perplexity_buckets(read_table(spark, sf_dir, "documents"))


def q_mixture_weights(spark, sf_dir):
    """Domain-mixture reweighting (DoReMi-style data mixing),
    HASH-VERIFIED: per source, observed token share vs the uniform
    target — weight = total_tokens / (n_sources · source_tokens), one
    double division of exact integer counts — and the sampling rate
    min(1, weight).  One group aggregate + a 1-row totals broadcast."""
    from .pipeline.sampling import mixture_weights
    return mixture_weights(read_table(spark, sf_dir, "documents"))


def q_simhash_neutral(spark, sf_dir):
    """Engine-neutral SimHash: 60-bit fingerprint from two polynomial
    character hashes with bit voting — integer arithmetic end-to-end, so
    the oracle reproduces fingerprints and 15-bit bands exactly (the
    fingerprint stage of q_simhash)."""
    from .pipeline.dedup import simhash_neutral
    d = read_table(spark, sf_dir, "documents")
    return simhash_neutral(d)


def q_cdc_chunks(spark, sf_dir):
    """Content-defined chunking: cut where the polynomial hash of the
    trailing 4-token window divides 16, so boundaries depend only on
    local content — inserts don't shift downstream chunks, which is what
    makes chunk-level dedup stable.  In-row arithmetic over the staged
    token array; the oracle reproduces every chunk bit-for-bit."""
    from .pipeline.text import cdc_chunk_documents
    d = read_table(spark, sf_dir, "documents")
    return cdc_chunk_documents(d, window=4, divisor=16)


def q_minhash_neutral(spark, sf_dir):
    """MinHash+LSH with every hash an explicit arithmetic formula
    (polynomial shingle hash, affine slot family, polynomial band fold):
    the DuckDB oracle reproduces signatures, buckets, candidate pairs,
    and estimates bit-for-bit.  Same pipeline as q_minhash_pairs over
    the empty-token-filtered split (minhash_neutral_pairs)."""
    from .pipeline.dedup import minhash_neutral_pairs
    d = read_table(spark, sf_dir, "documents")
    return minhash_neutral_pairs(d, min_est_jaccard=0.5)


def q_minhash_oph(spark, sf_dir):
    """One-permutation-hashing MinHash signature table (Li/Owen/Zhang
    NIPS'12; rotation densification per Shrivastava & Li ICML'14),
    HASH-VERIFIED slot by slot: the DuckDB oracle rebuilds bins,
    rotation distances, and densification offsets exactly; exploding
    to (doc_id, slot, value) verifies the ENTIRE algorithm including
    the empty-bin borrow logic on every short document.  One Arrow
    stage on the shared shingle-hash kernel (SCALE.md, "One
    shingle-hash kernel", has its history and timings)."""
    from .pipeline.dedup import minhash_oph_signatures
    sig = minhash_oph_signatures(read_table(spark, sf_dir, "documents"))
    return sig.select("doc_id",
                      F.posexplode("sig").alias("slot", "value"))


def q_minhash_oph_pairs(spark, sf_dir):
    """MinHash+LSH near-dup pairs over ONE-PERMUTATION signatures —
    the end-to-end OPH pipeline (bin/densify → band fold → bucket join
    → matched-slot estimate), hash-verified: the oracle reproduces
    candidates AND estimates bit-for-bit, so the cheap signature path
    is held to the same standard as the classic one
    (q_minhash_neutral)."""
    from .pipeline.dedup import minhash_oph_pairs
    return minhash_oph_pairs(read_table(spark, sf_dir, "documents"),
                             min_est_jaccard=0.5)


def q_entity_resolution(spark, sf_dir):
    """Entity resolution end-to-end, at DICTIONARY grain: dedupe the
    distinct part-name dictionary with the deletion-neighborhood join
    (d ≤ 2), resolve match pairs into entity clusters (connected
    components, min-label canonical), then attach every corpus row back
    by exact name.  The scale-correct ER shape: fuzzy matching runs on
    the vocabulary-sized dictionary, never the fact table — the fact
    side only ever pays an exact equi-join.  Oracle: brute-force pairs
    + recursive-CTE closure + the same attach-back."""
    from .pipeline.dedup import (
        deletion_neighborhood_pairs,
        duplicate_components,
    )
    p = read_table(spark, sf_dir, "part")
    dic = p.groupBy("p_name").agg(F.min("p_partkey").alias("dict_id"))
    pairs = deletion_neighborhood_pairs(dic, max_dist=2,
                                        id_col="dict_id",
                                        string_col="p_name")
    comp = duplicate_components(pairs, "key_a", "key_b")
    labeled = (dic.join(comp, dic.dict_id == comp.doc_id, "left")
                  .select("p_name",
                          F.coalesce("component", "dict_id")
                           .alias("entity_id")))
    return (p.join(labeled, "p_name")
             .groupBy("entity_id")
             .agg(F.countDistinct("p_name").alias("n_names"),
                  F.count(F.lit(1)).alias("n_parts"),
                  F.min("p_name").alias("canonical_name")))


def q_ivm_refresh(spark, sf_dir):
    """Incremental view maintenance: the per-type rollup refreshed from
    three independent batches (base + two deltas, split on event_id mod
    10) via mergeable per-group states — NEVER rescanning the whole
    table in one pass.  The oracle aggregates all rows at once, proving
    batch-split ⊕ merge ≡ one-shot; at 100 TB only the delta partitions
    are ever read."""
    from .operators.ivm import agg_state, finalize_state, merge_states
    e = read_table(spark, sf_dir, "events")
    batches = [e.filter(F.col("event_id") % 10 <= 7),
               e.filter(F.col("event_id") % 10 == 8),
               e.filter(F.col("event_id") % 10 == 9)]
    states = [agg_state(b, ["event_type"], "value") for b in batches]
    return finalize_state(merge_states(states, ["event_type"]),
                          ["event_type"])


def q_jaccard_prefix(spark, sf_dir):
    """EXACT all-pairs Jaccard ≥ 0.6 with PPJoin prefix filtering:
    candidates only from rarest-token prefixes (guaranteed complete),
    verified in-row — equals the naive all-pairs join the oracle
    spells out."""
    from .pipeline.dedup import jaccard_prefix_pairs
    d = read_table(spark, sf_dir, "documents")
    return jaccard_prefix_pairs(d, threshold=0.6)


def q_resample_ffill(spark, sf_dir):
    """Regular-grid resampling with forward-fill: every user's value
    series aligned to a 6-hour grid (executor-side sequence fan-out, the
    linear as-of attach).  Grid points before a user's first event stay
    null — both engines agree.  Oracle uses DuckDB's native ASOF JOIN on
    fractional epochs."""
    from .operators.asof import resample_ffill
    e = (read_table(spark, sf_dir, "events")
         .select("user_id", "ts", roundn(F.col("value")).alias("value"),
                 "event_id"))
    out = resample_ffill(e, ["user_id"], "ts", ["value"],
                         step_seconds=6 * 3600, tie_col="event_id")
    return out.select("user_id", "grid_ep", "value_asof")


def q_hll_incremental(spark, sf_dir):
    """Incremental distinct-count rollup from persisted mergeable state:
    per-(event_type, day) register tables union (element-wise max) to the
    event_type grain — the 'never rescan history' pattern.  Hash-verified
    since r5 on the engine-neutral register family (the oracle rebuilds
    the day-grain state and the max-merge in SQL); the DataSketches
    binary form (hll_sketches/hll_rollup_estimate) stays the production
    path with union≡whole + accuracy property tests.  n_batches counts
    the day-grain states merged."""
    from .operators.sketches import hll_neutral_registers, hll_neutral_rollup
    e = read_table(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    # localCheckpoint (GC-released) stands in for the parquet the state
    # table would live in: both consumers (merge, batch count) read the
    # day-grain state, never the fact table twice — and unlike a bare
    # .persist(), repeated invocation in a long session doesn't
    # accumulate cached register tables (see q_hll_overlap's pin note).
    daily = hll_neutral_registers(e, ["event_type", "day"], "user_id") \
        .localCheckpoint(eager=True)
    est = hll_neutral_rollup(daily, ["event_type"])
    batches = (daily.select("event_type", "day").distinct()
                    .groupBy("event_type")
                    .agg(F.count(F.lit(1)).alias("n_batches")))
    return est.join(batches, "event_type") \
              .select("event_type", "n_batches", "hll_estimate")


def q_bloom_ingest_gate(spark, sf_dir):
    """Incremental ingest-dedup gate, HASH-VERIFIED: day-grain Bloom
    states over the user history OR-merge to one global filter (bit_or
    is associative + idempotent — union ≡ whole, never rescan), then the
    newest day's events are gated with ``maybe_seen`` via k broadcast
    probes (zero shuffle of the batch).  No false negatives: a user the
    history absorbed is never counted new — the conservative direction
    for a dedup gate; false positives only move rows from n_new to
    n_maybe_seen.  Completes the mergeable-ingest-state trio (MinHash
    index / HLL registers / Bloom bits)."""
    from .operators.sketches import (bloom_neutral_merge,
                                     bloom_neutral_state,
                                     with_bloom_maybe_seen)
    e = read_table(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    last = e.agg(F.max("day").alias("__last"))
    e2 = e.crossJoin(F.broadcast(last))
    hist = e2.filter(F.col("day") < F.col("__last"))
    batch = e2.filter(F.col("day") == F.col("__last"))
    daily = bloom_neutral_state(hist, ["day"], "user_id")
    state = bloom_neutral_merge(daily.drop("day"), [])
    flagged = with_bloom_maybe_seen(batch, state, "user_id")
    return (flagged.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.sum(F.col("maybe_seen").cast("long"))
                  .alias("n_maybe_seen"),
                 F.sum((~F.col("maybe_seen")).cast("long"))
                  .alias("n_new")))


def q_hll_overlap(spark, sf_dir):
    """Audience overlap from PERSISTED sketch state, HASH-VERIFIED:
    |A∩B| ≈ |A| + |B| − |A∪B| over every event-type pair, where |A∪B|
    comes from max-merging the two types' neutral-HLL register tables —
    set algebra on mergeable state, so overlaps of 100 TB audiences
    compute from O(types · 256) persisted rows without touching raw
    history.  The register table builds ONCE (pinned) and feeds the
    singles and every pair union; inclusion–exclusion composes the
    ROUNDED estimates (round-before-subtract, the house float rule)."""
    from .operators.sketches import (hll_neutral_registers,
                                     hll_neutral_rollup)
    e = read_table(spark, sf_dir, "events")
    # localCheckpoint, not persist: its lifetime is tied to the plan
    # object (GC-released), so repeated invocations (bench runs each
    # headline query twice; oracle parity runs every query in one
    # session) don't accumulate cached register tables in executor
    # memory the way an un-unpersisted .persist() would.
    regs = hll_neutral_registers(e, ["event_type"], "user_id") \
        .localCheckpoint(eager=True)
    singles = hll_neutral_rollup(regs, ["event_type"])
    types = regs.select("event_type").distinct()
    pairs = (types.select(F.col("event_type").alias("type_a"))
             .join(types.select(F.col("event_type").alias("type_b")),
                   F.col("type_a") < F.col("type_b")))
    pair_regs = (regs.join(F.broadcast(pairs),
                           F.col("event_type") == F.col("type_a"))
                 .select("type_a", "type_b", "register", "rho")
                 .unionByName(
                     regs.join(F.broadcast(pairs),
                               F.col("event_type") == F.col("type_b"))
                     .select("type_a", "type_b", "register", "rho")))
    unions = hll_neutral_rollup(pair_regs, ["type_a", "type_b"]) \
        .withColumnRenamed("hll_estimate", "est_union")
    sa = singles.select(F.col("event_type").alias("type_a"),
                        F.col("hll_estimate").alias("est_a"))
    sb = singles.select(F.col("event_type").alias("type_b"),
                        F.col("hll_estimate").alias("est_b"))
    return (unions.join(F.broadcast(sa), "type_a")
                  .join(F.broadcast(sb), "type_b")
                  .select("type_a", "type_b", "est_a", "est_b",
                          "est_union",
                          F.round(F.col("est_a") + F.col("est_b")
                                  - F.col("est_union"), 6)
                           .alias("est_intersection")))


def q_minhash_audience(spark, sf_dir):
    """Audience Jaccard from MinHash signature state, HASH-VERIFIED:
    per-DAY member signatures (32 affine min-slots — plain min
    aggregates, so the state is map-side-combinable, min-mergeable, and
    duplicate-member-proof) then pairwise slot-agreement estimates over
    consecutive-week day pairs — audience-churn tracking from
    O(groups · slots) persisted values instead of the member sets, the
    Jaccard companion of q_hll_overlap's set algebra.  DAY grain, not
    event_type: this corpus's types all share one user set, which would
    make agreement trivially 32/32 and the oracle unable to see a hash
    divergence (it only observes AGREEMENT, not slot values) — day
    audiences genuinely differ, so the match exercises the hash math.
    The signature table pins once (localCheckpoint) before its self-join."""
    from .pipeline.dedup import (minhash_audience_signatures,
                                 minhash_audience_similarity)
    e = read_table(spark, sf_dir, "events").withColumn(
        "day", F.to_date("ts"))
    # localCheckpoint (GC-released), not an un-unpersisted .persist():
    # see q_hll_overlap's pin note.
    sigs = minhash_audience_signatures(e, ["day"], "user_id") \
        .localCheckpoint(eager=True)
    return (minhash_audience_similarity(sigs, "day")
            .filter(F.datediff(F.col("b"), F.col("a")) == 7)
            .select(F.col("a").alias("day_a"), F.col("b").alias("day_b"),
                    "n_match", "est_jaccard"))


def q_variant_props(spark, sf_dir):
    """Schemaless JSON via the Spark 4 VARIANT type: ``try_parse_json``
    once into a binary variant column, then typed path extraction
    (``try_variant_get``) — the open-schema path for evolving telemetry
    where ``from_json`` (q_json_struct) would need a declared struct.
    Parse happens ONCE per row regardless of how many paths are pulled
    (vs get_json_object re-parsing per extraction)."""
    e = read_table(spark, sf_dir, "events")
    v = e.withColumn("__v", F.try_parse_json("props"))
    k = F.try_variant_get(F.col("__v"), "$.k", "bigint")
    return (v.select("event_type", k.alias("k"))
             .groupBy("event_type")
             .agg(F.count("k").alias("n_parsed"),
                  F.sum("k").cast("long").alias("sum_k"),
                  F.min("k").cast("long").alias("min_k"),
                  F.max("k").cast("long").alias("max_k")))


def q_weighted_sample(spark, sf_dir):
    """Deterministic weighted sampling (Efraimidis–Spirakis): 50 docs with
    inclusion probability ∝ length, reproducible across engines/runs/
    partitionings (key-derived uniform, no rand())."""
    from .pipeline.sampling import weighted_sample
    d = read_table(spark, sf_dir, "documents")
    out = weighted_sample(d, "doc_id", "n_chars", k=50)
    return out.select("doc_id", "lang", "wkey")


def q_cooccurrence(spark, sf_dir):
    """Market-basket co-occurrence: unordered event_type pairs sharing a
    user, counted across users.  Distinct-first then self-equi-join on
    the group key — the J6 bounded-fan-out discipline (≤C(5,2) pairs per
    user here)."""
    from .operators.aggregates import cooccurrence_pairs
    e = read_table(spark, sf_dir, "events")
    return cooccurrence_pairs(e, "user_id", "event_type")


def q_basket_lift(spark, sf_dir):
    """Association rules over the co-occurrence pairs, HASH-VERIFIED:
    support / both directional confidences / lift per unordered
    event-type pair, every probability from the same distinct
    (user, type) relation.  Item counts and the basket total are
    broadcast onto the pairs — the fact table is scanned once for the
    distinct relation and everything else is derived from it."""
    from .operators.aggregates import basket_lift
    e = read_table(spark, sf_dir, "events")
    return basket_lift(e, "user_id", "event_type")


def q_transition_matrix(spark, sf_dir):
    """First-order Markov transitions over each user's event sequence:
    lag window → pair counts → per-prev normalization via a broadcast
    totals join-back (states²-row table, never a whole-partition
    window)."""
    from .operators.aggregates import transition_matrix
    e = read_table(spark, sf_dir, "events")
    return transition_matrix(e, "user_id", "event_type", ["ts", "event_id"])


def q_pit_join(spark, sf_dir):
    """Point-in-time join — fact rows enriched against SCD2 validity
    intervals AS OF an earlier instant (here: each error event asks which
    event_type version was active 30 minutes before it).  Because SCD2
    runs tile per key, 'the interval containing t' == 'the latest
    valid_from ≤ t', so the lookup rides the linear union+window as-of
    join instead of an interval theta-join; the oracle spells out the
    interval form."""
    from .operators.asof import asof_join
    from .operators.scd import scd2_history
    e = read_table(spark, sf_dir, "events")
    hist = scd2_history(e, keys=["user_id"], ts_col="ts",
                        attr_cols=["event_type"], tie_cols=["event_id"])
    err = (e.filter(F.col("event_type") == "error")
            .select("event_id", "user_id",
                    (F.col("ts") - F.expr("INTERVAL 30 MINUTES"))
                    .alias("ts2")))
    versions = hist.select("user_id", F.col("valid_from").alias("ts2"),
                           F.col("event_type").alias("version"))
    out = asof_join(err, versions, by=["user_id"], ts="ts2",
                    payload=["version"], suffix="_asof")
    return out.select("event_id", "user_id",
                      F.col("version_asof").alias("version_asof"))


def q_equidepth_bins(spark, sf_dir):
    """A14 extension: equi-depth decile binning of event values — exact
    percentile thresholds once (broadcast back), bucket = in-row strict
    count below.  No global sort (the ntile trap)."""
    from .operators.aggregates import equidepth_bins
    e = read_table(spark, sf_dir, "events")
    out = equidepth_bins(e, "value", n_bins=10, keep=("event_id",))
    return out.select("event_id", roundn(F.col("value")).alias("value"),
                      "bin")


def q_rank_distributed(spark, sf_dir):
    """W7 scale path: the q_rank_leaderboard board ranked by
    rank_desc_distributed — range-partition on the score, local rank,
    broadcast offsets — instead of the single-task empty-partition
    window.  Same oracle as the window form (semantics identical); the
    plan is the one you'd want when the ranked frame is fact-grain."""
    from .operators.windows import rank_desc_distributed
    e = read_table(spark, sf_dir, "events")
    vc = cents(F.col("value"))
    board = e.groupBy("user_id").agg(
        (F.sum(vc) / F.count("value") / 100.0).alias("mean_value"),
        F.count(F.lit(1)).alias("n_events"))
    out = rank_desc_distributed(board, "mean_value", out="rank",
                                partitions=8)
    return out.select("user_id",
                      roundn(F.col("mean_value")).alias("mean_value"),
                      "n_events", "rank")


def q_scd2_history(spark, sf_dir):
    """Type-2 SCD build over the events feed: per-user event_type runs
    with validity intervals.  Consecutive-duplicate collapse (lag) + next
    change (lead) — one window partitioning, single shuffle.  Epochs
    floor-truncate (the DuckDB-cast gotcha, verify skill)."""
    from .operators.scd import scd2_history
    e = read_table(spark, sf_dir, "events")
    h = scd2_history(e, keys=["user_id"], ts_col="ts",
                     attr_cols=["event_type"], tie_cols=["event_id"])
    return h.select(
        "user_id", "event_type",
        F.unix_timestamp("valid_from").alias("valid_from_ep"),
        F.unix_timestamp("valid_to").alias("valid_to_ep"),
        "is_current")


def q_funnel_stages(spark, sf_dir):
    """Ordered funnel view → click → purchase per user (each step must
    come STRICTLY after the previous step's first hit).  One shuffle: a
    per-user sorted event array and a single fold — vs the k-shuffle
    aggregate+join chain per step the SQL oracle spells out."""
    from .operators.scd import funnel_stages
    e = read_table(spark, sf_dir, "events")
    return funnel_stages(e, "user_id", "ts", "event_type",
                         ["view", "click", "purchase"], tie_col="event_id")


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

# Dict order = driver evaluation order.  The driver's per-round
# correctness run may stop early (r1 and r2 each covered 50), so queries
# WITHOUT a green CORRECTNESS row from any prior round are listed first —
# maximizing fresh coverage per round; all entries pass the identical
# check locally (tests/test_oracle_parity.py + the verify driver sim).
def q_degree_distribution(spark, sf_dir):
    """Graph degree distribution + power-law exponent, HASH-VERIFIED:
    the degree histogram of the user co-occurrence graph and the
    discrete MLE α̂ = 1 + n / Σ ln(d / (d_min − ½)) (Clauset–Shalizi–
    Newman) over degrees ≥ d_min=2 — the heavy-tail diagnostic that
    says whether hub-aware strategies (degree-oriented wedges, salted
    joins) are worth their complexity on this graph.  One degree
    aggregate off the canonical edge union; the histogram is
    degree-grain; each ln term rounds at 9 before the sum and α̂ rides
    every histogram row (a 1-row broadcast)."""
    from .operators.graph import bipartite_edges
    e = read_table(spark, sf_dir, "events")
    rel = e.select("user_id",
                   (F.col("event_id") / 5).cast("long").alias("item"))
    edges = bipartite_edges(rel, "user_id", "item",
                            max_entities_per_item=8, undirected=True)
    edges = edges.localCheckpoint(eager=True)
    deg = (edges.select(F.col("src").alias("node"))
                .union(edges.select(F.col("dst").alias("node")))
                .groupBy("node").agg(F.count(F.lit(1)).alias("deg"))
                .localCheckpoint(eager=True))
    hist = deg.groupBy("deg").agg(F.count(F.lit(1)).alias("n_nodes"))
    dmin = 2
    tail = deg.filter(F.col("deg") >= dmin)
    alpha = (tail.agg(
        F.count(F.lit(1)).alias("__nt"),
        F.sum(F.round(F.log(F.col("deg").cast("double")
                            / (dmin - 0.5)), 9)).alias("__sl"))
        .select(F.round(1.0 + F.col("__nt").cast("double")
                        / F.col("__sl"), 6).alias("alpha_hat")))
    return (hist.crossJoin(F.broadcast(alpha))
                .select("deg", "n_nodes", "alpha_hat"))


def _hourly_grid(e):
    """Dense hour grid spanning the events table: missing hours must be
    TRUE ZEROS for any correlation over the series (dropping them
    biases r toward co-activity).  Shared by q_lead_lag and q_acf."""
    span = e.agg(
        F.unix_timestamp(F.date_trunc("hour", F.min("ts"))).alias("__lo"),
        F.unix_timestamp(F.date_trunc("hour", F.max("ts"))).alias("__hi"))
    return span.select(F.explode(F.sequence(
        F.col("__lo"), F.col("__hi"), F.lit(3600))).alias("__h"))


def _lagged_pearson(a, b, lags):
    """Pearson r between hour series ``a`` and ``b`` shifted by each lag
    (hours): ONE grid join + ONE whole-series window pass computing all
    lag columns + ONE 6-moment exact aggregate grouped by lag —
    DECIMAL(38,0) sums of integer counts (the metric_correlations
    discipline; built-in corr would not hash-match) and ONE identical r
    expression, so q_lead_lag and q_acf cannot drift apart (review
    finding: the two copies had to be kept bit-identical by hand).
    Both inputs are (__h, __c) and should be pinned by the caller.

    r14 restructure (guide §2.4 — remove shuffles outright): the old
    form ran one shifted self-join + one single-row aggregate PER LAG
    (12 jobs for q_acf, 7 for q_lead_lag) whose cost was join/job
    overhead, not data (the grid is span-bounded — hours, not events).
    Because both inputs are the SAME dense hour grid, the shifted
    inner join at lag k pairs exactly (x at h, y at h+k) for the
    span−|k| anchor hours — which is lead(__y, k) over the __h-ordered
    series with nulls (rows past the end) dropped.  The moment sums
    are exact integer DECIMALs, so regrouping the same pair multisets
    is bit-identical (q_acf/q_lead_lag stay hash-verified); measured
    same-session interleaved min-of-4 at sf0.1: q_acf 4.0s → 1.3s,
    q_lead_lag 3.0s → 1.4s.  The whole-series window is
    ONE partition by design and safe at any corpus scale: the frame
    is the span-bounded hour grid (a year is 8,760 rows)."""
    dec = "decimal(38,0)"
    lags = list(lags)
    base = (a.select(F.col("__h"), F.col("__c").alias("__x"))
             .join(b.select(F.col("__h"), F.col("__c").alias("__y")),
                   "__h"))
    w = Window.orderBy(F.asc("__h"))

    def shifted(k):
        return (F.lead("__y", k).over(w) if k >= 0
                else F.lag("__y", -k).over(w))

    # window columns must be staged in their own Project — Spark
    # rejects window expressions inside a Generate (explode)
    lag_cols = [shifted(k).alias(f"__yk{i}") for i, k in enumerate(lags)]
    stacked = (base
               .select("__x", *lag_cols)
               .select("__x", F.explode(F.array(*[
                   F.struct(F.lit(k).cast("long").alias("k"),
                            F.col(f"__yk{i}").alias("__y"))
                   for i, k in enumerate(lags)])).alias("kv"))
               .select("__x", F.col("kv.k").alias("__k"),
                       F.col("kv.__y").alias("__y"))
               .filter(F.col("__y").isNotNull()))
    x, y = F.col("__x").cast(dec), F.col("__y").cast(dec)
    m = (stacked.groupBy("__k")
                .agg(F.count(F.lit(1)).cast(dec).alias("n"),
                     F.sum(x).alias("sx"), F.sum(y).alias("sy"),
                     F.sum(x * x).alias("sxx"), F.sum(y * y).alias("syy"),
                     F.sum(x * y).alias("sxy")))
    num = (F.col("n") * F.col("sxy")
           - F.col("sx") * F.col("sy")).cast("double")
    da = (F.col("n") * F.col("sxx")
          - F.col("sx") * F.col("sx")).cast("double")
    db = (F.col("n") * F.col("syy")
          - F.col("sy") * F.col("sy")).cast("double")
    return m.select(
        F.col("__k").alias("lag_hours"),
        F.col("n").cast("long").alias("n_hours"),
        F.when((da > 0) & (db > 0),
               F.round(num / F.sqrt(da * db), 6))
         .otherwise(F.lit(0.0)).alias("r"))


def q_lead_lag(spark, sf_dir):
    """Lead–lag cross-correlation, HASH-VERIFIED: Pearson r between the
    hourly view series and the hourly purchase series at lags −3..+3 h —
    the "does activity lead conversion?" time-series diagnostic.  The
    hour grid is a DENSE explode of the full span (missing hours are
    true zeros, not dropped rows — dropping them biases r toward
    co-activity); each lag is one grid self-join plus a 6-moment exact
    aggregate (DECIMAL(38,0) sums of integer counts — the
    metric_correlations discipline; built-in corr would not
    hash-match), and r is one identical double expression.  The grid is
    span-bounded (hours, not events), so the 7 lag passes cost
    span × 7 rows total."""
    e = read_table(spark, sf_dir, "events")
    hours = (e.groupBy(F.unix_timestamp(
                 F.date_trunc("hour", F.col("ts"))).alias("__h"),
                       "event_type")
              .agg(F.count(F.lit(1)).alias("__n")))
    grid = _hourly_grid(e)

    def series(et):
        return (grid.join(hours.filter(F.col("event_type") == et)
                               .select("__h", "__n"), "__h", "left")
                    .select("__h", F.coalesce("__n", F.lit(0))
                            .alias("__c")))

    a = series("view").localCheckpoint(eager=True)
    b = series("purchase").localCheckpoint(eager=True)
    return _lagged_pearson(a, b, range(-3, 4))


def q_stratified_rates(spark, sf_dir):
    """Direct-standardized conversion rates, HASH-VERIFIED — the
    Simpson's-paradox guard for experiment readouts: per parity arm,
    the urgent-order rate among customers both RAW and ADJUSTED to the
    common nation mix (Σ_s w_s·rate_{arm,s}, w_s = the stratum's share
    of all customers).  Strata missing either arm are dropped from the
    adjusted sums ON BOTH SIDES (a one-armed stratum has no comparable
    rate).  Everything from one customer-grain outcome join + one
    stratum-grain aggregate; weighted-rate terms round at 9 before the
    sum."""
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders")
    conv = (o.filter(F.col("o_orderpriority") == "1-URGENT")
             .select(F.col("o_custkey").alias("c_custkey")).distinct()
             .withColumn("__conv", F.lit(1)))
    u = (c.join(conv, "c_custkey", "left")
          .select(F.col("c_nationkey").alias("__s"),
                  F.pmod(F.col("c_custkey"), F.lit(2)).alias("__arm"),
                  F.coalesce("__conv", F.lit(0)).alias("__x")))
    cells = (u.groupBy("__s", "__arm")
              .agg(F.count(F.lit(1)).alias("__n"),
                   F.sum("__x").alias("__cx"))
              .localCheckpoint(eager=True))
    # strata present in BOTH arms, with the stratum weight from ALL
    # customers (both arms)
    wide = (cells.groupBy("__s")
                 .agg(F.sum("__n").alias("__ns"),
                      F.count(F.lit(1)).alias("__arms"),
                      F.sum(F.when(F.col("__arm") == 0, F.col("__cx")))
                       .alias("__xa"),
                      F.sum(F.when(F.col("__arm") == 0, F.col("__n")))
                       .alias("__na"),
                      F.sum(F.when(F.col("__arm") == 1, F.col("__cx")))
                       .alias("__xb"),
                      F.sum(F.when(F.col("__arm") == 1, F.col("__n")))
                       .alias("__nb"))
                 .filter(F.col("__arms") == 2))
    tot = wide.agg(F.sum("__ns").alias("__N"))
    w_s = F.col("__ns").cast("double") / F.col("__N").cast("double")
    terms = (wide.crossJoin(F.broadcast(tot))
                 .select(
                     "__na", "__xa", "__nb", "__xb",
                     F.round(w_s * (F.col("__xa").cast("double")
                                    / F.col("__na").cast("double")), 9)
                      .alias("__ta"),
                     F.round(w_s * (F.col("__xb").cast("double")
                                    / F.col("__nb").cast("double")), 9)
                      .alias("__tb")))
    return terms.agg(
        F.sum("__na").alias("n_a"), F.sum("__xa").alias("x_a"),
        F.sum("__nb").alias("n_b"), F.sum("__xb").alias("x_b"),
        F.round(F.sum("__xa") / F.sum("__na").cast("double"), 6)
         .alias("raw_rate_a"),
        F.round(F.sum("__xb") / F.sum("__nb").cast("double"), 6)
         .alias("raw_rate_b"),
        F.round(F.sum("__ta"), 6).alias("adj_rate_a"),
        F.round(F.sum("__tb"), 6).alias("adj_rate_b"))


def q_vocab_kl(spark, sf_dir):
    """Per-source vocabulary KL divergence vs the corpus mix,
    HASH-VERIFIED: KL(P_source ‖ P_corpus) over unigram distributions —
    the domain-mix drift report that flags which source's language has
    wandered from the blend.  No smoothing needed: the corpus is a
    superset of every source, so P_corpus > 0 wherever a term
    contributes.  ONE token pass to the (source, token) grain; the
    corpus token table derives from it (vocab-grain second aggregate,
    joined back on the term); each p·ln(p/q) term rounds at 9 BEFORE
    the per-source sum (the q_group_entropy order-free discipline)."""
    d = read_table(spark, sf_dir, "documents")
    from .pipeline.text import _tokens
    st = (d.select("source", F.explode(_tokens("text")).alias("term"))
           .groupBy("source", "term")
           .agg(F.count(F.lit(1)).alias("n_st"))
           .localCheckpoint(eager=True))  # feeds corpus + source aggs
    src_tot = st.groupBy("source").agg(F.sum("n_st").alias("__ns"))
    corp = st.groupBy("term").agg(F.sum("n_st").alias("__nt"))
    tot = st.agg(F.sum("n_st").alias("__n"))
    p_s = F.col("n_st").cast("double") / F.col("__ns").cast("double")
    p_c = F.col("__nt").cast("double") / F.col("__n").cast("double")
    terms = (st.join(F.broadcast(src_tot), "source")
               .join(corp, "term")
               .crossJoin(F.broadcast(tot))
               .select("source", "__ns",
                       F.round(p_s * F.log(p_s / p_c), 9).alias("__t")))
    return (terms.groupBy("source")
                 .agg(F.max("__ns").alias("n_tokens"),
                      F.round(F.sum("__t"), 6).alias("kl")))


def q_burst_detection(spark, sf_dir):
    """Per-user burst score, HASH-VERIFIED: the maximum number of
    events inside any trailing one-hour window — the rate-anomaly / bot
    signal a simple count threshold misses when activity is bursty but
    sparse.  One user-partitioned RANGE window over integer epoch
    seconds (parallel across users, never global), then a per-user max
    — two aggregates on one exchange's partitioning."""
    e = (read_table(spark, sf_dir, "events")
         .select("user_id", F.unix_timestamp("ts").alias("__ep")))
    w = (Window.partitionBy("user_id").orderBy("__ep")
               .rangeBetween(-3600, 0))
    return (e.withColumn("__burst", F.count(F.lit(1)).over(w))
             .groupBy("user_id")
             .agg(F.count(F.lit(1)).alias("n_events"),
                  F.max("__burst").alias("max_burst_1h")))


MARKOV_CHANNELS = ["view", "click", "signup", "error"]
MARKOV_ITERS = 12


def _markov_transitions(spark, sf_dir):
    """User journeys truncated at FIRST purchase → first-order
    transition counts over START / channels / CONV (no-conversion ends
    are the implicit NULL sink: the solve only needs outgoing totals).
    One window shuffle on the user key; counts collapse to the ≤ 6×6
    grain."""
    e = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    conv = (e.filter(F.col("event_type") == "purchase")
             .groupBy("user_id")
             .agg(F.min(F.struct("ts", "event_id")).alias("__ck")))
    j = (e.join(conv, "user_id", "left")
          .filter(F.col("__ck").isNull()
                  | (F.struct("ts", "event_id") <= F.col("__ck")))
          .withColumn("__st",
                      F.when(F.col("event_type") == "purchase", "CONV")
                       .otherwise(F.col("event_type")))
          .withColumn("__src", F.coalesce(F.lag("__st").over(w),
                                          F.lit("START"))))
    return (j.groupBy(F.col("__src").alias("src"),
                      F.col("__st").alias("dst"))
             .agg(F.count(F.lit(1)).alias("n")))


def _markov_solve(P, removed):
    """Fixed-iteration absorption probability of CONV from START with
    channel ``removed`` pinned to 0 — accumulation order matches the
    oracle's SQL expression order term by term (left-assoc +)."""
    v = {c: 0.0 for c in MARKOV_CHANNELS}
    for _ in range(MARKOV_ITERS):
        nv = {}
        for t in MARKOV_CHANNELS:
            if t == removed:
                nv[t] = 0.0
                continue
            acc = P[t]["CONV"]
            for u in MARKOV_CHANNELS:
                acc = acc + P[t][u] * v[u]
            nv[t] = acc
        v = nv
    acc = P["START"]["CONV"]
    for u in MARKOV_CHANNELS:
        acc = acc + P["START"][u] * v[u]
    return acc


def q_markov_attribution(spark, sf_dir):
    """Markov-chain attribution removal effects, HASH-VERIFIED: the
    data-driven alternative to last-touch — each channel's value is
    how much the first-order journey chain's conversion probability
    drops when that channel is removed (its absorption probability
    pinned to 0), normalized into attribution shares.

    The DISTRIBUTED work is the journey build + transition counts
    (one user-key window shuffle, collapsing to the ≤ 6×6 grain); the
    solve collects that tiny matrix to the driver (the BPE-top-K /
    sketch-geometry collect class) and runs a FIXED 12-iteration
    absorption recursion per scenario in plain Python floats — every
    multiply/add in the same textual order as the oracle's unrolled
    1-row CTE stages (the pca_power / pagerank discipline), so the
    probabilities are bit-identical.  Returns one row per channel
    (channel, p_conv_base, removal_effect, attribution)."""
    counts = {(r["src"], r["dst"]): r["n"]
              for r in _markov_transitions(spark, sf_dir).collect()}
    srcs = ["START", *MARKOV_CHANNELS]
    dsts = [*MARKOV_CHANNELS, "CONV"]
    P = {}
    for s in srcs:
        tot = sum(counts.get((s, t2), 0)
                  for t2 in [*MARKOV_CHANNELS, "CONV"])
        P[s] = {t: (counts.get((s, t), 0) / tot if tot else 0.0)
                for t in dsts}
    p_base = _markov_solve(P, removed=None)
    re = {}
    for c in MARKOV_CHANNELS:
        pc = _markov_solve(P, removed=c)
        re[c] = (1.0 - pc / p_base) if p_base > 0 else 0.0
    tot_re = 0.0
    for c in MARKOV_CHANNELS:
        tot_re = tot_re + re[c]
    rows = [(c, round(p_base, 6), round(re[c], 6),
             round(re[c] / tot_re, 6) if tot_re > 0 else 0.0)
            for c in MARKOV_CHANNELS]
    return spark.createDataFrame(
        rows, "channel string, p_conv_base double, "
              "removal_effect double, attribution double")


def q_join_size_est(spark, sf_dir):
    """AGMS join-cardinality estimation, HASH-VERIFIED: size
    |orders ⋈ lineitem on orderkey| from two signed sketch tables
    alone — the cost-based-planner primitive, here as a first-class
    query.  Each hash row's signed inner product is an UNBIASED
    estimate (cross-key collision terms cancel in expectation — the
    count-min min-of-rows bound measured 15× over truth at this
    width); the median over 3 rows is exact integer arithmetic
    (sum − min − max).  The exact join count rides along so the result
    reports estimator quality; at 100 TB the estimate costs two d×w
    broadcastable tables, not a join."""
    from .operators.sketches import agms_join_size_estimate, \
        agms_sketch_build
    o = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    ca = agms_sketch_build(o, "o_orderkey", w=2048, d=3)
    cb = agms_sketch_build(li, "l_orderkey", w=2048, d=3)
    est = agms_join_size_estimate(ca, cb)
    exact = (o.join(li, o.o_orderkey == li.l_orderkey)
              .agg(F.count(F.lit(1)).alias("exact_join_size")))
    return (est.crossJoin(F.broadcast(exact))
               .select("est_join_size", "exact_join_size",
                       roundn(F.col("est_join_size").cast("double")
                              / F.col("exact_join_size").cast("double"))
                       .alias("est_over_exact")))


def q_rfm_segments(spark, sf_dir):
    """RFM segmentation, HASH-VERIFIED: the classic marketing
    customer-value grid — per user recency (days since last event),
    frequency (event count), monetary (integer-cents spend), each cut
    into quintiles by exact percentile thresholds (1-row broadcast,
    in-row bin assign — the equidepth discipline; recency quintile is
    REVERSED so 5 always means best), composed into the familiar
    3-digit segment code.  One fact collapse to the user grain, one
    percentile aggregate, one map-side scoring pass.  Returns the
    segment-grain rollup (r_score, f_score, m_score, segment,
    n_users)."""
    from .functions.scalar import cents
    e = (read_table(spark, sf_dir, "events")
         .filter(F.col("value").isNotNull()))
    fin = e.agg(F.max(F.unix_timestamp("ts")).alias("__end"))
    users = (e.crossJoin(F.broadcast(fin))
              .groupBy("user_id")
              .agg(F.floor((F.max("__end")
                            - F.max(F.unix_timestamp("ts"))) / 86400)
                    .alias("__rec"),
                   F.count(F.lit(1)).alias("__freq"),
                   F.sum(cents(F.col("value"))).alias("__mon"))
              .localCheckpoint(eager=True))  # thresholds + scoring
    fracs = [k / 5 for k in range(1, 5)]
    thr = users.agg(*[
        F.transform(F.percentile(c, F.array(*[F.lit(f) for f in fracs])),
                    lambda t: F.round(t, 6)).alias(f"__t{c}")
        for c in ("__rec", "__freq", "__mon")])

    def score(c):
        return (F.size(F.filter(F.col(f"__t{c}"),
                                lambda t: t < F.col(c))) + 1).cast("long")

    scored = (users.crossJoin(F.broadcast(thr))
                   .select((F.lit(6) - score("__rec")).alias("r_score"),
                           score("__freq").alias("f_score"),
                           score("__mon").alias("m_score")))
    return (scored.groupBy("r_score", "f_score", "m_score")
                  .agg(F.count(F.lit(1)).alias("n_users"))
                  .withColumn("segment",
                              (F.col("r_score") * 100
                               + F.col("f_score") * 10
                               + F.col("m_score")).cast("long")))


def q_kaplan_meier(spark, sf_dir):
    """Kaplan–Meier survival curve, HASH-VERIFIED: time from each
    user's first view to their first subsequent purchase, users with no
    purchase right-censored at the study end — the retention/
    time-to-convert curve product analytics reads daily.

    S(t) = Π_{event times ≤ t} (1 − d_i / n_i) with d_i events and n_i
    at risk.  Exactness discipline: integer-second durations (floored
    epochs, both engines), removal counts prefix-summed on the
    DISTINCT-DURATION grain via cumsum_distributed (never a
    single-reducer fact window), per-time ln(1 − d/n) factors rounded
    at 9 BEFORE the second distributed prefix sum (order-free), and
    S = exp(cum) rounded at 6 — |S| ≤ 1, so a last-ulp exp() difference
    cannot flip the 6th digit.  The everyone-dies boundary (d_i = n_i,
    ln 0 = −inf) uses a −1e9 sentinel whose exp underflows to exactly
    0.0 in both engines.  Returns event-time rows
    (duration, n_risk, n_event, surv)."""
    from .operators.windows import cumsum_distributed
    e = read_table(spark, sf_dir, "events")
    t1 = (e.filter(F.col("event_type") == "view")
           .groupBy("user_id")
           .agg(F.min(F.unix_timestamp("ts")).alias("__t0")))
    ev = (e.filter(F.col("event_type") == "purchase")
           .select("user_id", F.unix_timestamp("ts").alias("__et"))
           .join(t1, "user_id")
           .filter(F.col("__et") > F.col("__t0"))
           .groupBy("user_id")
           .agg(F.min("__et").alias("__ev")))
    fin = e.agg(F.max(F.unix_timestamp("ts")).alias("__end"))
    u = (t1.join(ev, "user_id", "left")
           .crossJoin(F.broadcast(fin))
           .select(
               F.coalesce(F.col("__ev") - F.col("__t0"),
                          F.col("__end") - F.col("__t0")).alias("__d"),
               F.col("__ev").isNotNull().cast("long").alias("__f")))
    nn = u.agg(F.count(F.lit(1)).alias("__n"))
    per = (u.groupBy("__d")
            .agg(F.sum("__f").alias("n_event"),
                 F.count(F.lit(1)).alias("__rem"))
            .localCheckpoint(eager=True))  # two cumsum passes consume it
    cum = (cumsum_distributed(per, ["__d"], ["__rem"])
           .crossJoin(F.broadcast(nn))
           .withColumn("n_risk", (F.col("__n") - (F.col("cum___rem")
                                                  - F.col("__rem")))
                       .cast("long")))
    p = F.col("n_event").cast("double") / F.col("n_risk").cast("double")
    fac = cum.withColumn(
        "__lf",
        F.when(F.col("n_event") == 0, F.lit(0.0))
         .when(F.col("n_event") < F.col("n_risk"),
               F.round(F.log(1.0 - p), 9))
         .otherwise(F.lit(-1e9))).localCheckpoint(eager=True)
    sv = cumsum_distributed(fac.select("__d", "n_event", "n_risk",
                                       "__lf"),
                            ["__d"], ["__lf"])
    return (sv.filter(F.col("n_event") > 0)
              .select(F.col("__d").alias("duration"), "n_risk",
                      "n_event",
                      F.round(F.exp(F.col("cum___lf")), 6).alias("surv")))


def q_forecast_backtest(spark, sf_dir):
    """Temporal backtest of a seasonal-naive baseline, HASH-VERIFIED:
    train on the first half of the time range (epoch-midpoint cutoff,
    floor semantics — the q_cuped split), score the second half with
    the (event_type × hour-of-day) train-mean, report per-type MAE and
    bias.  Train means are exact long/long divisions off one cell-grain
    aggregate (≤ types·24 rows, broadcast); per-event absolute/signed
    errors FLOOR-quantize to integer micro-units before the mean
    (floor, not round: the signed error can land on an exact dyadic
    half, where Spark rounds away from zero and DuckDB toward +inf —
    the established float-free-bucket rule; long sums are order-free),
    so the backtest metrics are engine-exact.  Test cells unseen in training are
    dropped (inner join) and counted via n_scored."""
    from .functions.scalar import cents
    e = (read_table(spark, sf_dir, "events")
         .filter(F.col("value").isNotNull())
         .select("event_type", "value",
                 cents(F.col("value")).alias("__vc"),
                 F.unix_timestamp("ts").alias("__ep"),
                 F.hour("ts").alias("__hr")))
    bounds = e.agg(F.floor((F.min("__ep") + F.max("__ep")) / 2)
                   .cast("long").alias("__cut"))
    e = e.crossJoin(F.broadcast(bounds))
    train = (e.filter(F.col("__ep") < F.col("__cut"))
              .groupBy("event_type", "__hr")
              .agg(F.sum("__vc").alias("__tot"),
                   F.count(F.lit(1)).alias("__n")))
    pred = (F.col("__tot").cast("double")
            / F.col("__n").cast("double") / 100.0)
    err = F.col("value") - pred
    scored = (e.filter(F.col("__ep") >= F.col("__cut"))
               .join(F.broadcast(train), ["event_type", "__hr"])
               .select("event_type",
                       F.floor(F.abs(err) * 1_000_000).alias("__ae_u"),
                       F.floor(err * 1_000_000).alias("__e_u")))
    return (scored.groupBy("event_type")
                  .agg(F.count(F.lit(1)).alias("n_scored"),
                       F.round(F.sum("__ae_u")
                               / F.count(F.lit(1)) / 1_000_000.0, 6)
                        .alias("mae"),
                       F.round(F.sum("__e_u")
                               / F.count(F.lit(1)) / 1_000_000.0, 6)
                        .alias("bias")))


def q_contrastive_pairs(spark, sf_dir):
    """Contrastive training-pair mining, HASH-VERIFIED: the
    (anchor, positive, negatives) construction an embedding-model
    trainer consumes.  Positives are each anchor's best cosine partner
    from the BLOCKED near-dup pairs (cosine ≥ 0.25 within label
    blocks — never all-pairs), picked by the deterministic
    (rounded-cosine desc, partner asc) argmax; two negatives per
    anchor come from the wang-mixed neutral hash over the dense id
    space (the negative-sampling op's actual family — every bit mixed,
    so consecutive anchors do NOT get correlated negatives), dropped
    on the (rare, deterministic) collision with the anchor or its
    positive.  Long-form output
    (anchor_id, partner_id, role, cosine with NULL for negatives) —
    one row per pair, ready to groupBy-collect into training
    examples."""
    from .pipeline.dedup import embedding_dup_pairs
    em = read_table(spark, sf_dir, "embeddings")
    pairs = embedding_dup_pairs(em, threshold=0.25)
    sym = (pairs.select(F.col("id_a").alias("anchor_id"),
                        F.col("id_b").alias("partner_id"), "cosine")
                .unionByName(
                    pairs.select(F.col("id_b").alias("anchor_id"),
                                 F.col("id_a").alias("partner_id"),
                                 "cosine")))
    best = (sym.groupBy("anchor_id")
               .agg(F.max(F.struct(F.col("cosine"),
                                   (-F.col("partner_id")).alias("__np")))
                     .alias("__b"))
               .select("anchor_id",
                       (-F.col("__b.__np")).alias("partner_id"),
                       F.col("__b.cosine").alias("cosine"))
               .localCheckpoint(eager=True))
    from .pipeline.sampling import wang_mixed_hash
    n_ids = em.agg((F.max("vec_id") + 1).alias("__n"))
    # one crossJoin + explode over the offset array (the negative_samples
    # fan-out shape) — NOT one plan branch per offset, which would scan
    # embeddings for max(vec_id) once per branch
    cand = F.pmod(wang_mixed_hash(F.col("anchor_id") * 2 + F.col("__i")),
                  F.col("__n"))
    negs = (best.crossJoin(F.broadcast(n_ids))
                .select("anchor_id",
                        F.col("partner_id").alias("__pos"),
                        "__n",
                        F.explode(F.array(F.lit(0), F.lit(1)))
                         .alias("__i"))
                .withColumn("__cand", cand)
                .filter((F.col("__cand") != F.col("anchor_id"))
                        & (F.col("__cand") != F.col("__pos")))
                .select("anchor_id",
                        F.col("__cand").alias("partner_id"),
                        F.lit("neg").alias("role"),
                        F.lit(None).cast("double").alias("cosine")))
    pos = best.select("anchor_id", "partner_id",
                      F.lit("pos").alias("role"), "cosine")
    return pos.unionByName(negs)


def q_dedup_canonical(spark, sf_dir):
    """Canonical-survivor selection, HASH-VERIFIED — the step after
    grouping that completes the dedup story (detect pairs → group →
    pick one member to KEEP): per duplicate component, the longest
    member survives (max n_chars, ties to the smallest doc_id — an
    integer-only rule, so no float-tie hazard).  The survivor is the
    unambiguous two-step max: component stats (n_members, max length)
    broadcast back, then min doc_id among the members at that length —
    identical formulation in the oracle, on top of the recursive-CTE
    component fixpoint."""
    from .pipeline.dedup import duplicate_components, ngram_jaccard_pairs
    d = read_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(d, threshold=0.5)
    comp = duplicate_components(pairs)
    # the catalog already carries n_chars — joining on it keeps the
    # corpus-scale text column out of the survivor join entirely
    members = (comp.join(d.select("doc_id",
                                  F.col("n_chars").cast("long")
                                   .alias("__nc")), "doc_id")
                   .localCheckpoint(eager=True))
    stats = members.groupBy("component").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.max("__nc").alias("survivor_chars"))
    surv = (members.join(F.broadcast(
                stats.select("component",
                             F.col("survivor_chars").alias("__mx"))),
                "component")
                   .filter(F.col("__nc") == F.col("__mx"))
                   .groupBy("component")
                   .agg(F.min("doc_id").alias("survivor_id")))
    return stats.join(surv, "component").select(
        "component", "n_members", "survivor_id", "survivor_chars")


def q_skew_advisor(spark, sf_dir):
    """Shuffle-key skew profile, HASH-VERIFIED: for each candidate
    shuffle key of the events fact (user_id, event_type), the
    group-size distribution stats that decide between a plain groupBy,
    AQE skew splitting, and explicit salting (q_salted_agg) — max group
    share and the p99/median size ratio.  Independent linear passes per
    candidate, unioned; exact percentiles over the size distribution."""
    from .operators.skew import skew_profile
    e = read_table(spark, sf_dir, "events")
    return skew_profile(e, ["user_id", "event_type"])


def q_cuped(spark, sf_dir):
    """CUPED variance reduction (Deng et al. 2013), HASH-VERIFIED: the
    standard pre-experiment covariate adjustment — users' pre-period
    spend x (first half of the time range) explains post-period spend y,
    θ = cov(x,y)/var(x), adjusted arm means ȳ_arm − θ·(x̄_arm − x̄),
    variance reduction = corr(x,y)².  Every moment is a DECIMAL(38,0)
    sum of integer cents at the user grain (the q_metric_correlations
    discipline — built-in covar/corr would NOT hash-match), per-arm
    sums ride the SAME single aggregate as conditional sums, and the
    finals are one identical double expression tree.  The time cutoff
    is the epoch-second midpoint (floor semantics on both engines)."""
    from .functions.scalar import cents
    e = (read_table(spark, sf_dir, "events")
         .filter(F.col("value").isNotNull())
         .select("user_id", "ts", cents(F.col("value")).alias("__vc")))
    # floor, not cast: cast truncates toward zero, which diverges from
    # the oracle's floor() if the epoch sum ever goes negative
    bounds = e.agg(
        F.floor((F.min(F.unix_timestamp("ts"))
                 + F.max(F.unix_timestamp("ts"))) / 2)
        .cast("long").alias("__cut"))
    pre = F.unix_timestamp("ts") < F.col("__cut")
    users = (e.crossJoin(F.broadcast(bounds))
              .groupBy("user_id")
              .agg(F.sum(F.when(pre, F.col("__vc")).otherwise(0))
                    .alias("x"),
                   F.sum(F.when(~pre, F.col("__vc")).otherwise(0))
                    .alias("y"))
              .withColumn("__b", F.pmod(F.col("user_id"), F.lit(2))))
    dec = "decimal(38,0)"
    x, y = F.col("x").cast(dec), F.col("y").cast(dec)
    is_b = F.col("__b") == 1
    agg = users.agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum(x).alias("sx"), F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"), F.sum(x * y).alias("sxy"),
        F.sum(y * y).alias("syy"),
        F.sum(F.when(is_b, 0).otherwise(1)).cast(dec).alias("na"),
        F.sum(F.when(is_b, 1).otherwise(0)).cast(dec).alias("nb"),
        F.sum(F.when(is_b, F.lit(0).cast(dec)).otherwise(x)).alias("sxa"),
        F.sum(F.when(is_b, x).otherwise(F.lit(0).cast(dec))).alias("sxb"),
        F.sum(F.when(is_b, F.lit(0).cast(dec)).otherwise(y)).alias("sya"),
        F.sum(F.when(is_b, y).otherwise(F.lit(0).cast(dec))).alias("syb"))
    d = lambda c: F.col(c).cast("double")
    # moment combinations stay EXACT decimal integers until the single
    # cast (n·sxx ≈ 1e32 even at 1e9 users × 1e5-dollar spends — inside
    # DECIMAL(38,0); the metric_correlations ceiling note applies)
    cov_n = (F.col("n") * F.col("sxy")
             - F.col("sx") * F.col("sy")).cast("double")   # n²·cov
    varx_n = (F.col("n") * F.col("sxx")
              - F.col("sx") * F.col("sx")).cast("double")  # n²·var(x)
    vary_n = (F.col("n") * F.col("syy")
              - F.col("sy") * F.col("sy")).cast("double")
    theta = F.when(varx_n > 0, cov_n / varx_n).otherwise(F.lit(0.0))
    mean_x = d("sx") / d("n") / 100.0
    adj = lambda sy_, sx_, n_: (d(sy_) / d(n_) / 100.0
                                - theta * (d(sx_) / d(n_) / 100.0
                                           - mean_x))
    var_red = F.when((varx_n > 0) & (vary_n > 0),
                     (cov_n * cov_n) / (varx_n * vary_n)) \
               .otherwise(F.lit(0.0))
    return agg.select(
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        F.round(d("sya") / d("na") / 100.0, 6).alias("mean_y_a"),
        F.round(d("syb") / d("nb") / 100.0, 6).alias("mean_y_b"),
        F.round(adj("sya", "sxa", "na"), 6).alias("adj_mean_a"),
        F.round(adj("syb", "sxb", "nb"), 6).alias("adj_mean_b"),
        F.round(theta, 6).alias("theta"),
        F.round(var_red, 6).alias("var_reduction"))


def q_seasonal_anomalies(spark, sf_dir):
    """Seasonality-adjusted anomaly shortlist, HASH-VERIFIED: each
    event's value against its (day-of-week × hour) baseline mean, top
    20 by absolute residual.  The baseline is one cell-grain aggregate
    (≤168 rows) broadcast back; the residual is per-row scalar math on
    exact integer cents (mean as long/long division — bit-identical);
    the shortlist is a distributed TakeOrdered (orderBy+limit — never a
    global window) under a rounded-residual + event_id total order."""
    from .functions.scalar import cents
    e = (read_table(spark, sf_dir, "events")
         .filter(F.col("value").isNotNull())
         .withColumn("__vc", cents(F.col("value")))
         .withColumn("__dow", F.dayofweek("ts"))
         .withColumn("__hr", F.hour("ts")))
    base = (e.groupBy("__dow", "__hr")
             .agg(F.sum("__vc").alias("__tot"),
                  F.count(F.lit(1)).alias("__n")))
    mean = (F.col("__tot").cast("double")
            / F.col("__n").cast("double") / 100.0)
    resid = F.col("value") - mean
    return (e.join(F.broadcast(base), ["__dow", "__hr"])
             .select("event_id", "event_type",
                     roundn(F.col("value")).alias("value"),
                     roundn(mean).alias("baseline_mean"),
                     roundn(resid).alias("residual"))
             .orderBy(F.desc(F.abs(F.col("residual"))),
                      F.asc("event_id"))
             .limit(20))


def q_dup_size_histogram(spark, sf_dir):
    """Near-dup cluster-size distribution, HASH-VERIFIED: the audit
    artifact a dedup run reports — how many duplicate groups of each
    size, and how many documents they hold.  Two tiny aggregates on the
    component labeling (which is itself exact-checked against a
    recursive-CTE fixpoint in q_dup_components)."""
    from .pipeline.dedup import duplicate_components, ngram_jaccard_pairs
    pairs = ngram_jaccard_pairs(read_table(spark, sf_dir, "documents"),
                                threshold=0.5)
    comp = duplicate_components(pairs)
    sizes = comp.groupBy("component").agg(
        F.count(F.lit(1)).alias("size"))
    return (sizes.groupBy("size")
                 .agg(F.count(F.lit(1)).alias("n_components"),
                      (F.count(F.lit(1)) * F.col("size"))
                      .alias("n_docs")))


def q_wasserstein_drift(spark, sf_dir):
    """Exact Wasserstein-1 (earth-mover) drift between purchase and
    error value distributions, HASH-VERIFIED: the magnitude-aware
    companion of q_ks_drift — integrates |F_a − F_b| over the value
    axis instead of taking the max gap.  Integer cents, DECIMAL(38,0)
    cross-multiplied interval terms, cumsum_distributed prefix counts,
    bucket-boundary-safe neighbor gaps, ONE final division.  The
    engine anchors interval terms at the left endpoint, the oracle at
    the right — algebraically identical, so the match verifies the
    telescoping."""
    from .functions.scalar import cents
    from .operators.drift import wasserstein_two_sample
    e = (read_table(spark, sf_dir, "events")
         .filter(F.col("event_type").isin("purchase", "error")
                 & F.col("value").isNotNull())
         .select(cents(F.col("value")).alias("__vc"),
                 (F.col("event_type") == "purchase")
                 .cast("long").alias("is_a")))
    return wasserstein_two_sample(e, "__vc", "is_a")


def q_k_anonymity(spark, sf_dir):
    """k-anonymity / l-diversity privacy profile, HASH-VERIFIED: the
    pre-release governance audit — customers grouped by their
    quasi-identifiers (nation, market segment), each equivalence
    class's size (k) and distinct count of the sensitive
    account-balance band (l), classes below k=5 flagged.  One exact
    aggregate; class count is domain-bounded, never table-bounded."""
    from .operators.checks import anonymity_profile
    c = (read_table(spark, sf_dir, "customer")
         .withColumn("balance_band",
                     F.floor(F.col("c_acctbal") / 1000).cast("long")))
    return anonymity_profile(c, ["c_nationkey", "c_mktsegment"],
                             "balance_band", k_threshold=5)


def q_theta_overlap(spark, sf_dir):
    """Audience intersections from theta/KMV SET sketches,
    HASH-VERIFIED: per-event-type user audiences sketched to bottom-32
    neutral-hash states, then DIRECT pairwise intersection estimates
    (m·2^32/cut — the theta-join estimator), unlike q_hll_overlap's
    inclusion–exclusion which compounds union error.  The member sets
    never move: everything after the state build runs on groups·k state
    rows.  Integer hash comparisons throughout; the only doubles are
    the final rounded estimates."""
    from .operators.sketches import theta_intersect_pairs, \
        theta_sketch_state
    e = read_table(spark, sf_dir, "events")
    st = theta_sketch_state(e, ["event_type"], "user_id", k=32)
    return theta_intersect_pairs(st, "event_type", "user_id")


def q_window_funnel(spark, sf_dir):
    """Time-bounded view→click→purchase funnel (2-hour window),
    HASH-VERIFIED: every later step must land within 2 h of the
    entity's earliest view — the bounded min-ts chain, anchored
    deterministically, as one in-row fold over the per-user sorted
    history (single shuffle + hot-key guard).  The oracle is the same
    CTE chain with the interval bound."""
    from .operators.scd import windowed_funnel
    e = read_table(spark, sf_dir, "events")
    return windowed_funnel(e, "user_id", "ts", "event_type",
                           ["view", "click", "purchase"],
                           within_seconds=7200)


def q_langid_confusion(spark, sf_dir):
    """Declared-vs-detected language confusion matrix, HASH-VERIFIED:
    the n-gram language_id prediction grouped against the catalog's
    declared lang column — the mislabeled-document audit a corpus
    cleaning pass gates on.  One projection pass (the language-ID block
    is in-row token counting), one cell-grain aggregate, per-declared-
    lang recall share as a long/long division against broadcast
    marginals."""
    from .pipeline.text import language_id_columns
    d = read_table(spark, sf_dir, "documents")
    pred = d.select("lang", *language_id_columns("text"))
    cells = (pred.groupBy("lang", "predicted_lang")
                 .agg(F.count(F.lit(1)).alias("n"))
                 .localCheckpoint(eager=True))
    marg = cells.groupBy("lang").agg(F.sum("n").alias("__tot"))
    return (cells.join(F.broadcast(marg), "lang")
                 .select("lang", "predicted_lang", "n",
                         roundn(F.col("n").cast("double")
                                / F.col("__tot").cast("double"))
                         .alias("share")))


def q_readability(spark, sf_dir):
    """LIX readability per document, HASH-VERIFIED: the syllable-free
    readability index (words/sentence + 100·longwords/words) — in-row
    integer counting and two divisions, map-only, the same quality-
    filter family as q_text_quality."""
    from .pipeline.text import readability
    d = read_table(spark, sf_dir, "documents")
    return readability(d)


def q_kcore(spark, sf_dir):
    """3-core of the user co-occurrence graph, HASH-VERIFIED: three
    fixed peel rounds (degree aggregate + two co-partitioned semi
    joins per round, result pinned each round — the pagerank lineage
    discipline), surviving (node, degree).  The oracle unrolls the
    SAME three rounds as materialized CTE stages, so the hash match
    verifies every intermediate peel."""
    from .operators.graph import bipartite_edges, kcore
    e = read_table(spark, sf_dir, "events")
    rel = e.select("user_id",
                   (F.col("event_id") / 5).cast("long").alias("item"))
    edges = bipartite_edges(rel, "user_id", "item",
                            max_entities_per_item=8, undirected=True)
    return (kcore(edges, k=3, rounds=3)
            .select(F.col("node").alias("user_id"), "deg"))


def q_cusum_drift(spark, sf_dir):
    """CUSUM change-point signal per event_type, HASH-VERIFIED: the
    range of the mean-centered cumulative walk over each type's
    time-ordered value series.  Exact integer-cents terms scaled by n
    (n·x − Σx), DECIMAL(38,0) prefix accumulation in a
    group-partitioned window, one final division — the
    ordering-sensitive sum never touches a float."""
    from .functions.scalar import cents
    from .operators.drift import cusum_range
    e = (read_table(spark, sf_dir, "events")
         .filter(F.col("value").isNotNull())
         .withColumn("__vc", cents(F.col("value"))))
    return cusum_range(e, "event_type", "__vc", ["ts", "event_id"])


def q_woe_iv(spark, sf_dir):
    """Weight-of-evidence / information-value table, HASH-VERIFIED:
    the credit-scoring feature-power statistic — value deciles (exact
    percentile thresholds, 1-row broadcast, in-row bin assign) scored
    against the purchase label with Laplace-1 smoothing.  Bin counts
    are one aggregate; WOE and the IV contribution are per-row scalar
    math on exact longs (identical expressions in the oracle), emitted
    at the bin grain so no float sum exists anywhere."""
    e = (read_table(spark, sf_dir, "events")
         .filter(F.col("value").isNotNull()))
    lab = F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    fracs = [k / 10 for k in range(1, 10)]
    thr = e.agg(F.transform(
        F.percentile("value", F.array(*[F.lit(f) for f in fracs])),
        lambda t: F.round(t, 6)).alias("__thr"))
    bin_col = (F.size(F.filter(F.col("__thr"),
                               lambda t: t < F.col("value")))
               + 1).cast("long")
    counts = (e.crossJoin(F.broadcast(thr))
               .groupBy(bin_col.alias("bin"))
               .agg(F.sum(lab).alias("n_pos"),
                    F.sum(1 - lab).alias("n_neg"))
               .localCheckpoint(eager=True))
    tot = counts.agg(F.sum("n_pos").alias("__p"),
                     F.sum("n_neg").alias("__q"))
    pr = ((F.col("n_pos") + 1).cast("double")
          / (F.col("__p") + 10).cast("double"))
    qr = ((F.col("n_neg") + 1).cast("double")
          / (F.col("__q") + 10).cast("double"))
    return (counts.crossJoin(F.broadcast(tot))
                  .select("bin", "n_pos", "n_neg",
                          roundn(F.log(pr / qr)).alias("woe"),
                          roundn((pr - qr) * F.log(pr / qr))
                          .alias("iv_term")))


def q_item_similarity(spark, sf_dir):
    """Item-based recommender candidates, HASH-VERIFIED: cosine +
    Jaccard similarity between parts from order-basket co-occurrence
    (orders as groups, parts as items, ≥3 shared orders).  Pairs from
    the bounded within-basket self-join, item counts broadcast back,
    similarities per-row scalar math on exact long counts."""
    from .operators.aggregates import item_similarity
    li = read_table(spark, sf_dir, "lineitem")
    return item_similarity(li, "l_orderkey", "l_partkey",
                           min_pair_groups=3)


def q_referential_integrity(spark, sf_dir):
    """Foreign-key health profile over the TPC-H snowflake,
    HASH-VERIFIED: per declared fk edge, fact rows / null keys /
    orphans (non-null keys with no parent) — the report that tells you
    which inner joins silently drop rows.  Each edge is one aggregate +
    one anti join against the distinct dimension keys; edges evaluate
    independently and union."""
    from .operators.checks import referential_profile
    li = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    s = read_table(spark, sf_dir, "supplier")
    p = read_table(spark, sf_dir, "part")
    n = read_table(spark, sf_dir, "nation")
    return referential_profile([
        ("lineitem->orders", li, ["l_orderkey"], o, ["o_orderkey"]),
        ("lineitem->part", li, ["l_partkey"], p, ["p_partkey"]),
        ("lineitem->supplier", li, ["l_suppkey"], s, ["s_suppkey"]),
        ("orders->customer", o, ["o_custkey"], c, ["c_custkey"]),
        ("customer->nation", c, ["c_nationkey"], n, ["n_nationkey"]),
        ("supplier->nation", s, ["s_nationkey"], n, ["n_nationkey"]),
    ])


def q_benford_audit(spark, sf_dir):
    """Benford first-digit audit of l_extendedprice, HASH-VERIFIED: the
    fraud/data-entry anomaly screen.  First significant digit extracted
    from exact integer cents via string head (float log10 near a power
    of 10 is engine-unstable; substring of a long is not), one
    digit-grain aggregate, observed share as long/long division,
    expected share log10(1+1/d) and the per-digit chi-square term as
    identical scalar expressions both engines round at 6."""
    li = read_table(spark, sf_dir, "lineitem")
    digit = F.substring(cents(F.col("l_extendedprice")).cast("string"),
                        1, 1).cast("long")
    counts = (li.filter(F.col("l_extendedprice") > 0)
                .groupBy(digit.alias("digit"))
                .agg(F.count(F.lit(1)).alias("n"))
                .localCheckpoint(eager=True))
    tot = counts.agg(F.sum("n").alias("n_total"))
    e = F.log10(1.0 + 1.0 / F.col("digit").cast("double"))
    exp_n = F.col("n_total").cast("double") * e
    return (counts.crossJoin(F.broadcast(tot))
                  .select("digit", "n",
                          roundn(F.col("n").cast("double")
                                 / F.col("n_total").cast("double"))
                          .alias("observed_p"),
                          roundn(e).alias("expected_p"),
                          roundn((F.col("n").cast("double") - exp_n)
                                 * (F.col("n").cast("double") - exp_n)
                                 / exp_n).alias("chi2_term")))


def q_ab_test(spark, sf_dir):
    """Two-proportion A/B z-test, HASH-VERIFIED: users split into arms
    by user_id parity, conversion = reached a purchase event; per-arm
    user/converter counts collapse at the user grain first (one
    exchange), then a 1-row scalar report — rates are long/long
    divisions and z is one identical double expression tree on exact
    counts (pooled-variance form), so the statistic is engine-exact."""
    e = read_table(spark, sf_dir, "events")
    users = (e.groupBy("user_id")
              .agg(F.max(F.when(F.col("event_type") == "purchase", 1)
                          .otherwise(0)).alias("__conv"))
              .withColumn("__arm", F.pmod(F.col("user_id"), F.lit(2))))
    arms = (users.groupBy("__arm")
                 .agg(F.count(F.lit(1)).alias("n"),
                      F.sum("__conv").alias("x")))
    a = arms.filter(F.col("__arm") == 0).select(
        F.col("n").alias("n_a"), F.col("x").alias("x_a"))
    b = arms.filter(F.col("__arm") == 1).select(
        F.col("n").alias("n_b"), F.col("x").alias("x_b"))
    j = a.crossJoin(F.broadcast(b))
    p_a = F.col("x_a").cast("double") / F.col("n_a").cast("double")
    p_b = F.col("x_b").cast("double") / F.col("n_b").cast("double")
    pp = ((F.col("x_a") + F.col("x_b")).cast("double")
          / (F.col("n_a") + F.col("n_b")).cast("double"))
    # degenerate pools (no conversions anywhere, or all converted) have
    # zero pooled variance and no evidence either way: z := 0
    z = F.when((F.col("x_a") + F.col("x_b") > 0)
               & (F.col("x_a") + F.col("x_b")
                  < F.col("n_a") + F.col("n_b")),
               (p_a - p_b)
               / F.sqrt(pp * (1.0 - pp)
                        * (1.0 / F.col("n_a").cast("double")
                           + 1.0 / F.col("n_b").cast("double")))) \
         .otherwise(F.lit(0.0))
    return j.select("n_a", "x_a", "n_b", "x_b",
                    roundn(p_a).alias("rate_a"),
                    roundn(p_b).alias("rate_b"),
                    roundn(z).alias("z_score"))


def q_skyline(spark, sf_dir):
    """2-D Pareto frontier (skyline) over the part grain,
    HASH-VERIFIED: parts not dominated on (total quantity sold, total
    revenue cents) — multi-criteria shortlist without the O(n²)
    dominance self-join.  Distinct-d1 grain + the three-phase
    deterministic-bucket running max (no single-reducer window); both
    dimensions exact integers.  Oracle is the independent NOT-EXISTS
    dominance formulation, so the hash match verifies the prefix-max
    LOGIC, not a mirror of it."""
    from .operators.windows import skyline_2d
    li = read_table(spark, sf_dir, "lineitem")
    parts = (li.groupBy("l_partkey")
               .agg(F.sum(F.col("l_quantity").cast("long"))
                     .alias("qty_total"),
                    F.sum(cents(F.col("l_extendedprice")))
                     .alias("rev_cents")))
    return skyline_2d(parts, "qty_total", "rev_cents")


def q_pmi_collocations(spark, sf_dir):
    """Collocation extraction via pointwise mutual information,
    HASH-VERIFIED: PMI over adjacent token bigrams with min-count 3 —
    the phrase-vocabulary / boilerplate-audit statistic.  Bigram and
    unigram tables are vocabulary-grain aggregates (map-side combine);
    PMI itself is per-row scalar math on exact integer counts, the
    double expression mirrored verbatim in the oracle (no float sums)."""
    from .pipeline.ranking import pmi_collocations
    d = read_table(spark, sf_dir, "documents")
    return pmi_collocations(d, min_count=3)


def q_mutual_information(spark, sf_dir):
    """Feature-relevance mutual information between documents.lang and
    documents.source, HASH-VERIFIED: joint counts in ONE scan, marginals
    and totals derived from the category-bounded cell table, MI / H(X) /
    H(Y) / NMI with every p·ln(p) term rounded at 9 digits before the
    sum (the q_group_entropy order-free discipline)."""
    from .operators.aggregates import mutual_information
    d = read_table(spark, sf_dir, "documents")
    return mutual_information(d, "lang", "source")


def q_dsir_weights(spark, sf_dir):
    """DSIR importance weights toward the lang='en' target domain,
    HASH-VERIFIED: hashed-unigram (neutral polynomial family, 64
    buckets) log-likelihood ratios with Laplace smoothing; per-doc
    weight is a LONG sum of cnt·micro-nat log-ratios (order-free), so
    the resampling score is engine-exact.  The only global state is two
    64-row bucket tables — the 100 TB cost is one linear token pass."""
    from .pipeline.sampling import dsir_weights
    d = read_table(spark, sf_dir, "documents")
    return dsir_weights(d, F.col("lang") == "en")


def q_label_propagation(spark, sf_dir):
    """Synchronous label-propagation communities over the user
    co-occurrence graph, HASH-VERIFIED: 3 LPA rounds (adopt the most
    frequent neighbor label, min-label tie-break — deterministic, so
    the oracle unrolls the exact rounds as CTE stages with the same
    (count DESC, label ASC) election), then the community-size report.
    The graph is the SPARSE purchase-partner relation (users sharing a
    purchase pair-slot, fan-out ≤2 per item) — the dense all-events
    graph is a giant quasi-random component where LPA degenerately
    collapses to one label; community detection is only meaningful on
    graphs with actual sparse structure.  Per round one adjacency⋈labels
    shuffle + one count aggregate whose argmax rides the same pass as
    max(struct(c, −label)) — no window; labels are node-grain and pin
    each round (fixpoint.iterate)."""
    from .operators.graph import bipartite_edges, label_propagation
    e = read_table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    rel = e.select("user_id",
                   (F.col("event_id") / 2).cast("long").alias("item"))
    edges = bipartite_edges(rel, "user_id", "item",
                            max_entities_per_item=8, undirected=True)
    lab = label_propagation(edges, rounds=3)
    return (lab.groupBy(F.col("label").alias("community"))
               .agg(F.count(F.lit(1)).alias("n_members")))


def q_hits(spark, sf_dir):
    """HITS hubs/authorities over the DIRECTED influence graph (within
    each 5-event item slot, the earlier event's user points to each
    later one — a citation-style direction), HASH-VERIFIED: 3
    integer-exact sweeps (long sums of micro-unit scores — no floats),
    each sweep closed by the deterministic integer rescale
    (col DIV (max(col) DIV quantum), triggered only past 2³¹) that
    keeps every sweep's input below 2³¹ scale — the integer analogue
    of Kleinberg's per-round normalization, without which a max degree
    of ~143 already wraps int64 at 3 rounds.  Top-20 by authority with
    node tie-break.
    Oracle unrolls the 6 sweeps + rescales as CTE stages with the same
    coalesce-0 dangling handling."""
    from .operators.graph import hits
    e = read_table(spark, sf_dir, "events").select(
        (F.col("event_id") / 5).cast("long").alias("item"),
        "user_id", "ts", "event_id")
    a, b = e.alias("a"), e.alias("b")
    earlier = (F.col("a.ts") < F.col("b.ts")) | \
              ((F.col("a.ts") == F.col("b.ts"))
               & (F.col("a.event_id") < F.col("b.event_id")))
    edges = (a.join(b, "item")
              .filter(earlier & (F.col("a.user_id") != F.col("b.user_id")))
              .select(F.col("a.user_id").alias("src"),
                      F.col("b.user_id").alias("dst"))
              .distinct())
    out = hits(edges, iters=3)
    return (out.orderBy(F.desc("auth"), F.asc("node")).limit(20)
               .select(F.col("node").alias("user_id"), "hub", "auth"))


def q_bfs_hops(spark, sf_dir):
    """Multi-source BFS reachability over the user co-occurrence graph,
    HASH-VERIFIED: hop distance from the seed set (user_id % 10 == 0)
    relaxed for 3 fixed rounds — the Pregel SSSP shape as joins, one
    adjacency⋈dist shuffle + one min aggregate per round, dist pinned
    each round.  The oracle unrolls the same 3 min-relax stages; hops
    are exact integers, so the match is bit-exact by construction."""
    from .operators.graph import bipartite_edges, bfs_hops
    e = read_table(spark, sf_dir, "events")
    rel = e.select("user_id",
                   (F.col("event_id") / 5).cast("long").alias("item"))
    edges = bipartite_edges(rel, "user_id", "item",
                            max_entities_per_item=8, undirected=True)
    seeds = (e.select(F.col("user_id").alias("node")).distinct()
              .filter(F.col("node") % 10 == 0))
    return (bfs_hops(edges, seeds, max_hops=3)
            .select(F.col("node").alias("user_id"), "hops"))


def q_tfidf_topk(spark, sf_dir):
    """TF-IDF keyword extraction, HASH-VERIFIED: top-3 most
    characteristic terms per document under the sklearn smoothed idf
    ln((1+N)/(1+df))+1.  One token explode into the (doc, term) tf
    aggregate, df from that same table at vocabulary grain, N a 1-row
    broadcast; the top-k window partitions BY DOCUMENT (group-grain,
    never a single reducer) and the score is a single product of
    engine-identical doubles, so rank order needs no quantization."""
    from .pipeline.ranking import tfidf_topk
    d = read_table(spark, sf_dir, "documents")
    return tfidf_topk(d, k=3)


def q_fd_profile(spark, sf_dir):
    """Approximate functional-dependency profile, HASH-VERIFIED: for
    four candidate FDs across events/documents, the g3-style violation
    report (groups, violating groups, violating-row share) that drives
    schema discovery and normalization decisions.  One determinant-grain
    shuffle per candidate, candidates independent and unioned — the
    fd sibling of the referential-integrity orphan profile."""
    from .operators.checks import fd_profile
    e = read_table(spark, sf_dir, "events")
    d = read_table(spark, sf_dir, "documents")
    return fd_profile([
        ("events: user_id -> event_type", e, ["user_id"], "event_type"),
        ("events: event_id -> event_type", e, ["event_id"], "event_type"),
        ("documents: source -> lang", d, ["source"], "lang"),
        ("documents: lang -> source", d, ["lang"], "source"),
    ])


def q_poisson_bootstrap(spark, sf_dir):
    """Distributed bootstrap CI for the mean order value,
    HASH-VERIFIED: 32 Poisson(1) replicates with hash-deterministic
    weights (wang-mixed (key·R + rep) → inverse-CDF lookup against
    engine-identical double literals), replicate means from exact
    integer-cent sums, and the 95% percentile interval riding every
    replicate row as a 1-row broadcast.  The ×32 fan-out collapses
    map-side into the partial aggregate — the cost is one linear pass
    at any scale, which is exactly why Poisson bootstrap replaced
    n-out-of-n resampling for big-data CIs."""
    from .pipeline.sampling import poisson_bootstrap
    o = read_table(spark, sf_dir, "orders")
    reps = poisson_bootstrap(
        o.select("o_orderkey", cents(F.col("o_totalprice")).alias("units")),
        "units", "o_orderkey", reps=32)
    # 32-row replicate table feeds BOTH the output and the CI agg —
    # pin it so the x32 fan-out pass runs once (as fixpoint.iterate's
    # callers pin their loop inputs)
    means = reps.select(
        "rep", "n_eff",
        F.round(F.col("mean_units") / 100.0, 6).alias("boot_mean")) \
        .localCheckpoint(eager=True)
    ci = means.agg(
        F.round(F.percentile("boot_mean", F.lit(0.025)), 6).alias("ci_lo"),
        F.round(F.percentile("boot_mean", F.lit(0.975)), 6).alias("ci_hi"))
    return means.crossJoin(F.broadcast(ci))


def q_frequent_triples(spark, sf_dir):
    """Frequent brand 3-itemsets over order baskets, HASH-VERIFIED:
    level-wise Apriori — L1 filters the distinct (order, brand)
    relation before any self-join, L2's frequent pairs prune candidate
    triples map-side via broadcast semi-joins, and by support
    monotonicity the prune is result-neutral, so the oracle verifies
    with a direct count-and-threshold formulation (the triangle-count
    count-equivalence pattern).  Thresholds are one IEEE product of
    min_support and the basket total on both engines."""
    from .operators.aggregates import frequent_triples
    li = read_table(spark, sf_dir, "lineitem")
    p = read_table(spark, sf_dir, "part")
    baskets = (li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
                 .select("l_orderkey", "p_brand"))
    return frequent_triples(baskets, "l_orderkey", "p_brand",
                            min_support=0.003)


def q_seasonal_decompose(spark, sf_dir):
    """Additive seasonal decomposition (classical moving-average STL
    precursor), HASH-VERIFIED: the hourly event count per type is
    detrended by a ±12h centered moving average — a RANGE window on the
    integer epoch-hour, so calendar gaps stay aligned where a ROWS
    frame would drift — and the seasonal component is the mean
    detrended value per (type, hour-of-day).  Trend is an exact
    long/long division (sum/count over the frame); detrended terms
    round at 9 before the seasonal mean (the q_group_entropy
    order-free discipline).  Windows partition by type — group-grain,
    never a single reducer; the output is the ≤ types×24 profile."""
    e = read_table(spark, sf_dir, "events")
    y = (e.groupBy("event_type",
                   F.floor(F.unix_timestamp("ts") / 3600)
                    .cast("long").alias("hr"))
          .agg(F.count(F.lit(1)).alias("y")))
    w = (Window.partitionBy("event_type").orderBy("hr")
               .rangeBetween(-12, 12))
    trend = (F.sum("y").over(w).cast("double")
             / F.count(F.lit(1)).over(w).cast("double"))
    det = F.round(F.col("y") - trend, 9)
    return (y.select("event_type", F.pmod(F.col("hr"), F.lit(24))
                     .alias("hod"), det.alias("__d"))
             .groupBy("event_type", "hod")
             .agg(F.count(F.lit(1)).alias("n_hours"),
                  F.round(F.sum("__d") / F.count(F.lit(1)), 6)
                   .alias("seasonal")))


def q_weighted_median(spark, sf_dir):
    """Exact weighted median per group, HASH-VERIFIED: the median order
    value per priority where each order weighs its lineitem count —
    the volume-weighted center the plain median misstates.  Two-pass
    shape: reduce to the DISTINCT-VALUE grain first (groupBy(group,
    cents) summing weights — the q_ks_drift discipline, so the window
    walks values, not rows), then one group-partitioned cumulative sum
    and the lower-median rule 2·cum ≥ total on exact longs.  Groups
    here are few-and-large; for a single enormous group swap the
    value-grain window for the rank_distributed range-partition form
    (operators/windows.py) — the value-grain reduction is what makes
    either walk cheap."""
    li = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders")
    w = li.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("__w"))
    r = (o.join(w, o.o_orderkey == w.l_orderkey)
          .select(F.col("o_orderpriority").alias("prio"),
                  cents(F.col("o_totalprice")).alias("__v"), "__w"))
    vg = r.groupBy("prio", "__v").agg(F.sum("__w").alias("__wv"))
    cum = F.sum("__wv").over(
        Window.partitionBy("prio").orderBy("__v"))
    tot = F.sum("__wv").over(Window.partitionBy("prio"))
    c = vg.select("prio", "__v", cum.alias("__cum"), tot.alias("__tot"))
    return (c.filter(F.col("__cum") * 2 >= F.col("__tot"))
             .groupBy(F.col("prio").alias("o_orderpriority"))
             .agg(F.min("__tot").alias("total_w"),
                  F.round(F.min("__v").cast("double") / 100.0, 6)
                   .alias("wmedian")))


def q_mutual_nn(spark, sf_dir):
    """Reciprocal (mutual) nearest-neighbor pairs, HASH-VERIFIED: the
    pairs where each point is the other's radius-bounded top-1 — the
    high-precision merge signal SemDeDup-style cluster consolidation
    and record-linkage survivorship use (a one-way nearest hit is a
    candidate; a MUTUAL hit is near-certain).  Composition: the
    grid-bucketed nearest table (J6's cell-key discipline — never a
    cross join) pinned once, then one self-join on the reciprocity
    condition with id_a < id_b canonicalization.  The nearest table is
    point-grain, so the mutuality join shuffles n rows, not pairs."""
    from .operators.separation import grid_nearest
    em = read_table(spark, sf_dir, "embeddings")
    pts = em.select("vec_id",
                    F.element_at("embedding", 1).alias("x"),
                    F.element_at("embedding", 2).alias("y"))
    nn = (grid_nearest(pts, radius=0.15, id_col="vec_id")
          .localCheckpoint(eager=True))  # both self-join sides
    a = nn.select(F.col("vec_id").alias("id_a"),
                  F.col("neighbor_id").alias("nb_a"),
                  F.col("dist").alias("dist"))
    b = nn.select(F.col("vec_id").alias("id_b"),
                  F.col("neighbor_id").alias("nb_b"))
    return (a.join(b, (F.col("nb_a") == F.col("id_b"))
                      & (F.col("nb_b") == F.col("id_a")))
             .filter(F.col("id_a") < F.col("id_b"))
             .select("id_a", "id_b", "dist"))


def q_time_weighted_avg(spark, sf_dir):
    """Time-weighted average value per (user, type) stream,
    HASH-VERIFIED: each observation holds until the stream's next
    event (step-function semantics — the TWAP every metering/pricing
    pipeline needs, where a plain mean over-weights bursty periods).
    One lead window per (user_id, event_type) partition — thousands of
    independent groups, never a global window; durations are exact
    integer seconds (floor-epoch), values exact cents, so
    Σ cents·dur / Σ dur is int64-exact under any association and the
    final long/long division is bit-identical on both engines.
    Streams whose total span is zero (single event or all-tied
    timestamps) are excluded — there is no interval to average over."""
    e = (read_table(spark, sf_dir, "events")
         .filter(F.col("value").isNotNull())
         .select("user_id", "event_type", "event_id",
                 cents(F.col("value")).alias("__c"),
                 F.unix_timestamp("ts").alias("__t")))
    w = (Window.partitionBy("user_id", "event_type")
               .orderBy("__t", "event_id"))
    dur = (F.lead("__t").over(w) - F.col("__t")).alias("__dur")
    stepped = e.select("user_id", "event_type", "__c", dur).filter(
        F.col("__dur").isNotNull())
    return (stepped.groupBy("user_id", "event_type")
                   .agg(F.count(F.lit(1)).alias("n_intervals"),
                        F.sum("__dur").alias("span_s"),
                        F.sum(F.col("__c") * F.col("__dur"))
                         .alias("__wsum"))
                   .filter(F.col("span_s") > 0)
                   .select("user_id", "event_type", "n_intervals",
                           "span_s",
                           F.round(F.col("__wsum").cast("double")
                                   / F.col("span_s").cast("double")
                                   / 100.0, 6).alias("twap")))


def q_isotonic_calibration(spark, sf_dir):
    """Isotonic (monotone) calibration of the reliability curve,
    HASH-VERIFIED: the weighted isotonic regression of per-decile
    positive rates via the exact minimax characterization
    fitted[i] = max_{j≤i} min_{k≥i} mean(y[j..k]) — mathematically THE
    PAV solution, but as pure relational algebra over the BIN-GRAIN
    table instead of a sequential pool-merge loop, so both engines
    compute the identical joins/aggregates and no iteration order
    exists to disagree on.  The corpus-scale work is the one pass
    reducing events to ≤10 decile bins (the q_calibration_bins
    discipline); everything after runs on ≤10/55/550-row bin-grain
    tables (minimax is O(b³) relational — the right trade for
    calibration's bounded bin counts; a driver-side PAV would be O(b)
    but order-dependent).  Interval means are exact long/long
    divisions; min/max of bit-identical doubles is deterministic."""
    e = (read_table(spark, sf_dir, "events")
         .filter(F.col("value").isNotNull())
         .select("value",
                 (F.col("event_type") == "purchase").cast("long")
                  .alias("is_pos")))
    bounds = e.agg(F.percentile(
        "value", F.array(*[F.lit(i / 10.0) for i in range(1, 10)]))
        .alias("__b"))
    bin_of = F.size(F.filter(
        "__b", lambda b: F.col("value") > b)).cast("long").alias("bin")
    bins = (e.crossJoin(F.broadcast(bounds))
             .select(bin_of, "is_pos")
             .groupBy("bin")
             .agg(F.count(F.lit(1)).alias("n"),
                  F.sum("is_pos").alias("pos"))
             .localCheckpoint(eager=True))  # 4 tiny-state consumers
    jk = (bins.select(F.col("bin").alias("j"))
              .join(F.broadcast(bins.select(F.col("bin").alias("k"))),
                    F.col("j") <= F.col("k")))
    iv = (jk.join(F.broadcast(bins.select(F.col("bin").alias("m"),
                                          "n", "pos")),
                  (F.col("m") >= F.col("j")) & (F.col("m") <= F.col("k")))
            .groupBy("j", "k")
            .agg((F.sum("pos").cast("double")
                  / F.sum("n").cast("double")).alias("__mean")))
    fitted = (bins.select(F.col("bin").alias("i"))
                  .join(F.broadcast(iv),
                        (F.col("j") <= F.col("i"))
                        & (F.col("k") >= F.col("i")))
                  .groupBy("i", "j").agg(F.min("__mean").alias("__lo"))
                  .groupBy("i").agg(F.round(F.max("__lo"), 6)
                                    .alias("iso_rate")))
    return (bins.join(fitted, bins.bin == fitted.i)
                .select("bin", "n",
                        (F.col("pos").cast("double")
                         / F.col("n").cast("double")).alias("pos_rate"),
                        "iso_rate"))


def q_modularity(spark, sf_dir):
    """Newman modularity of the LPA partition, HASH-VERIFIED: the
    standard community-quality score Q = Σ_c [e_in(c)/m −
    (deg(c)/2m)²] over the same purchase-partner graph and 3-round
    label propagation as q_label_propagation — detection and its
    evaluation as one pipeline.  Edges and labels pin once; e_in is one
    join of edges against labels on BOTH endpoints (node-grain build
    side), deg(c) one degree aggregate joined to labels; per-community
    terms round at 9 before the sum and Q rides every community row as
    a 1-row broadcast.  Everything after the LPA rounds is two
    aggregates on community-grain tables (operators.graph.modularity,
    r10 — factored out so the numpy twin can target it directly)."""
    from .operators.graph import (
        bipartite_edges,
        label_propagation,
        modularity,
    )
    e = read_table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    rel = e.select("user_id",
                   (F.col("event_id") / 2).cast("long").alias("item"))
    und = (bipartite_edges(rel, "user_id", "item",
                           max_entities_per_item=8, undirected=True)
           .localCheckpoint(eager=True))  # m, e_in, and degrees
    lab = (label_propagation(und, rounds=3)
           .localCheckpoint(eager=True))  # joined three times
    return modularity(und, lab)


def q_lsh_precision(spark, sf_dir):
    """LSH candidate-quality audit, HASH-VERIFIED: every MinHash+LSH
    candidate pair gets its EXACT 3-shingle Jaccard (intersection join
    restricted to candidate pairs — cost ∝ candidates · shingles, never
    all-pairs), and the report states precision at τ=0.5 plus the
    estimator's mean/max absolute error — the audit that tells you
    whether the banding geometry is tuned before you trust it on 100 TB.
    The ≥τ test is the integer cross-multiply 2·inter ≥ union (no float
    boundary); est is dyadic (m/32); per-pair errors round at 9 before
    the mean.  Zero-overlap bucket collisions keep their row (inter
    coalesces to 0) — hiding them would overstate precision."""
    from .pipeline.dedup import minhash_neutral_pairs, word_shingle_sets
    d = read_table(spark, sf_dir, "documents")
    cands = (minhash_neutral_pairs(d, min_est_jaccard=0.5)
             .localCheckpoint(eager=True))
    # r14: the per-doc distinct shingle build is one Arrow batch stage
    # (per-doc set dedup — the old explode → GLOBAL distinct shuffle of
    # every shingle string is equivalent and gone).  r15: the sets stay
    # NESTED (one array row per doc), so the exact intersection is an
    # in-row array_intersect (exact string equality — still the exact
    # Jaccard audit) after two doc-id-keyed joins, and shingle strings
    # never enter a join key: the old candidates×shingles fact-grain
    # (doc_b, s) shuffle — 4M string rows on the longdoc stress corpus,
    # its inter stage alone 4.3s+ — disappears, as does the separate
    # sizes aggregate (n_s = size(ss) in-row).  Every candidate doc has
    # a sets row (an empty doc yields the [""] singleton), so the inner
    # joins keep zero-overlap bucket collisions exactly like the old
    # left join + coalesce-0 did.
    sets = (word_shingle_sets(d, "doc_id", "text", 3)
            .localCheckpoint(eager=True))  # both join sides
    j = (cands
         .join(sets.select(F.col("doc_id").alias("doc_a"),
                           F.col("ss").alias("__ssa")), "doc_a")
         .join(sets.select(F.col("doc_id").alias("doc_b"),
                           F.col("ss").alias("__ssb")), "doc_b")
         .withColumn("__i", F.size(F.array_intersect("__ssa", "__ssb"))
                             .cast("long"))
         .select("est_jaccard", "__i",
                 (F.size("__ssa").cast("long")
                  + F.size("__ssb").cast("long")
                  - F.col("__i")).alias("__u")))
    err = F.round(F.abs(F.col("est_jaccard")
                        - F.col("__i").cast("double")
                        / F.col("__u").cast("double")), 9)
    return (j.select("__i", "__u", err.alias("__e"))
             .agg(F.count(F.lit(1)).alias("n_candidates"),
                  F.sum(F.when(2 * F.col("__i") >= F.col("__u"), 1)
                         .otherwise(0)).alias("n_true"),
                  F.round(F.sum(F.when(2 * F.col("__i") >= F.col("__u"),
                                       1).otherwise(0))
                          / F.count(F.lit(1)).cast("double"), 6)
                   .alias("precision"),
                  F.round(F.sum("__e") / F.count(F.lit(1)), 6)
                   .alias("mean_abs_err"),
                  F.round(F.max("__e"), 6).alias("max_abs_err")))


def q_hilbert_values(spark, sf_dir):
    """Hilbert-curve layout values over (user_id, event time),
    HASH-VERIFIED: the space-filling key with strictly better locality
    than Z-order (consecutive cells are always grid-adjacent), built as
    8 staged reflect/swap rounds of pure integer arithmetic — the SQL
    oracle mirrors the rounds as chained CTE stages and the curve's
    defining properties (bijectivity, unit-step adjacency, engine ≡
    Python reference) carry their own tests.  Same min-max
    normalization contract as q_zorder_values."""
    from .sources.layout import with_hilbert
    e = read_table(spark, sf_dir, "events")
    base = e.select("event_id", "user_id",
                    F.unix_timestamp("ts").alias("__ep"))
    return (with_hilbert(base, "user_id", "__ep", bits=8)
            .select("event_id", "hval"))


def q_acf(spark, sf_dir):
    """Autocorrelation function of the hourly event-count series at lags
    1–12h, HASH-VERIFIED: the seasonality/memory diagnostic that says
    which lags matter before anyone fits a forecaster (the q_lead_lag
    machinery turned on a single series).  Dense hour grid with true
    zeros, pinned once; each lag is one shifted self-join + a 6-moment
    exact aggregate (DECIMAL(38,0) sums of integer counts) and one
    identical Pearson expression.  Cost: span × 12 rows total — hours,
    not events."""
    e = read_table(spark, sf_dir, "events")
    hours = (e.groupBy(F.unix_timestamp(
                 F.date_trunc("hour", F.col("ts"))).alias("__h"))
              .agg(F.count(F.lit(1)).alias("__n")))
    s = (_hourly_grid(e).join(hours, "__h", "left")
         .select("__h", F.coalesce("__n", F.lit(0)).alias("__c"))
         .localCheckpoint(eager=True))  # both sides of all 12 lags
    return _lagged_pearson(s, s, range(1, 13))


def q_did(spark, sf_dir):
    """Difference-in-differences estimate, HASH-VERIFIED: the 2×2
    experimentation workhorse — treatment (odd user_id) vs control,
    pre vs post (epoch-midpoint cutoff with floor semantics, the
    q_cuped discipline), outcome = mean event value per cell from
    exact integer cents, and DiD = (T_post − T_pre) − (C_post − C_pre).
    One cell-grain aggregate (4 rows) off a single scan; every mean is
    a long/long division and the estimate is one identical expression
    tree over the four exact means."""
    e = (read_table(spark, sf_dir, "events")
         .filter(F.col("value").isNotNull())
         .select(F.pmod(F.col("user_id"), F.lit(2)).alias("__treat"),
                 cents(F.col("value")).alias("__c"),
                 F.unix_timestamp("ts").alias("__t")))
    cut = e.agg(F.floor((F.min("__t") + F.max("__t")) / 2)
                 .cast("long").alias("__cut"))
    cells = (e.crossJoin(F.broadcast(cut))
              .groupBy("__treat",
                       (F.col("__t") >= F.col("__cut")).cast("long")
                        .alias("__post"))
              .agg(F.count(F.lit(1)).alias("n"),
                   F.sum("__c").alias("__s"))
              .localCheckpoint(eager=True))
    mean = (F.col("__s").cast("double") / F.col("n").cast("double")
            / 100.0)
    wide = (cells.select("__treat", "__post", "n", mean.alias("__m"))
                 .groupBy()
                 .agg(F.sum("n").alias("n_events"),
                      F.max(F.when((F.col("__treat") == 1)
                                   & (F.col("__post") == 1),
                                   F.col("__m"))).alias("__tp"),
                      F.max(F.when((F.col("__treat") == 1)
                                   & (F.col("__post") == 0),
                                   F.col("__m"))).alias("__tq"),
                      F.max(F.when((F.col("__treat") == 0)
                                   & (F.col("__post") == 1),
                                   F.col("__m"))).alias("__cp"),
                      F.max(F.when((F.col("__treat") == 0)
                                   & (F.col("__post") == 0),
                                   F.col("__m"))).alias("__cq")))
    return wide.select(
        "n_events",
        F.round(F.col("__tp") - F.col("__tq"), 6).alias("treat_delta"),
        F.round(F.col("__cp") - F.col("__cq"), 6).alias("control_delta"),
        F.round((F.col("__tp") - F.col("__tq"))
                - (F.col("__cp") - F.col("__cq")), 6).alias("did"))


def q_theil_sen(spark, sf_dir):
    """Theil–Sen robust trend of daily revenue, HASH-VERIFIED: the
    median of all pairwise slopes (breakdown point 29% — one bad day
    cannot move it, unlike OLS), plus the median-residual intercept.
    The quadratic pair set lives at the DAY grain, which is bounded by
    the calendar, not the corpus — ~2.9M slope pairs is the CEILING at
    any SF — and that bound IS the plan (r11, VERDICT item 6): scan →
    day-cents aggregate → ONE single-group Arrow task running the whole
    estimator in numpy (operators.aggregates.theil_sen_bounded) — one
    Spark job where the r10 form paid ~6 fixed-latency jobs keeping
    calendar-bounded pairs distributed (8.6s → ~1.5s at sf0.1, values
    bit-identical: same float64 slope divisions, same two-middle order
    statistics, F.round HALF-UP semantics reproduced exactly).  For an
    UNBOUNDED grain, compose median_distributed over the pair join —
    kept and property-tested as the documented scale path."""
    from .operators.aggregates import theil_sen_bounded
    o = read_table(spark, sf_dir, "orders")
    days = (o.groupBy(F.floor(F.unix_timestamp("o_orderdate") / 86400)
                       .cast("long").alias("__d"))
             .agg(F.sum(cents(F.col("o_totalprice"))).alias("__r")))
    return (theil_sen_bounded(days, "__d", "__r")
            .select("n_pairs", "sen_slope", "n_days", "intercept"))


def q_personalized_pagerank(spark, sf_dir):
    """Personalized PageRank from the user_id % 25 == 0 seed set over
    the co-interaction graph, HASH-VERIFIED: teleport mass lands on the
    seeds (dangling mass re-teleports there too), so rank concentrates
    in their neighborhood — the topic-sensitive relatedness score
    recommenders build on.  5 rounds, same per-round shape as
    q_pagerank (one edges⋈ranks shuffle, one aggregate, a 1-row
    dangling broadcast; teleport carried as a ranks column); the oracle
    unrolls the rounds with IEEE-identical constants.  Top 20 by
    rounded rank, user_id tie-break."""
    from .operators.graph import bipartite_edges, personalized_pagerank
    e = read_table(spark, sf_dir, "events")
    rel = e.select("user_id",
                   (F.col("event_id") / 5).cast("long").alias("item"))
    edges = bipartite_edges(rel, "user_id", "item", max_entities_per_item=8)
    seeds = (e.select(F.col("user_id").alias("node")).distinct()
              .filter(F.col("node") % 25 == 0))
    pr = personalized_pagerank(edges, seeds, iters=5)
    return (pr.select(F.col("node").alias("user_id"),
                      F.round(F.col("rank"), 9).alias("rank"))
              .orderBy(F.desc("rank"), F.asc("user_id"))
              .limit(20))


def q_session_stats(spark, sf_dir):
    """Session-quality summary over the gap-sessionized stream,
    HASH-VERIFIED: session count, bounce rate (single-event sessions —
    the engagement metric every product dashboard leads with), and the
    LOWER-median session length via the 2·cum ≥ total crossing rule on
    the SESSION-LENGTH value grain (lengths are small integers, so the
    grain is tiny no matter how many sessions exist — the
    q_weighted_median discipline).  One session aggregate + one
    value-grain pass; everything long/long exact."""
    from .streaming.stream_ops import sessionize
    e = read_table(spark, sf_dir, "events")
    s = (sessionize(e, gap="30 minutes").select("n_events")
         .localCheckpoint(eager=True))  # summary + value grain
    vg = s.groupBy("n_events").agg(F.count(F.lit(1)).alias("__w"))
    cum = F.sum("__w").over(Window.orderBy("n_events"))
    tot = F.sum("__w").over(Window.partitionBy())
    c = vg.select("n_events", cum.alias("__cum"), tot.alias("__tot"))
    med = (c.filter(F.col("__cum") * 2 >= F.col("__tot"))
            .agg(F.min("n_events").alias("median_session_events")))
    summary = s.agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
         .alias("n_bounces"))
    return (summary.crossJoin(F.broadcast(med))
                   .select("n_sessions", "n_bounces",
                           F.round(F.col("n_bounces").cast("double")
                                   / F.col("n_sessions").cast("double"),
                                   6).alias("bounce_rate"),
                           "median_session_events"))


def q_conversion_lag(spark, sf_dir):
    """First-view → first-purchase conversion latency, HASH-VERIFIED:
    per user the gap in integer seconds between their first view and
    first purchase (users whose first view precedes their first
    purchase), with the exact mean (long/long) and the exact median via
    median_distributed — the histogram-selection median, so the
    user-grain delay table never hits a single-reducer percentile
    buffer at any scale."""
    from .operators.windows import median_distributed
    e = read_table(spark, sf_dir, "events")
    firsts = (e.groupBy("user_id")
               .agg(F.min(F.when(F.col("event_type") == "view",
                                 F.unix_timestamp("ts"))).alias("__fv"),
                    F.min(F.when(F.col("event_type") == "purchase",
                                 F.unix_timestamp("ts"))).alias("__fp")))
    delays = (firsts
              .filter(F.col("__fv").isNotNull()
                      & F.col("__fp").isNotNull()
                      & (F.col("__fv") < F.col("__fp")))
              .select("user_id",
                      (F.col("__fp") - F.col("__fv")).alias("__d"))
              .localCheckpoint(eager=True))  # summary + median passes
    med = (median_distributed(delays, "__d", tiebreak=["user_id"])
           .select(F.round(F.col("median"), 6).alias("median_delay_s")))
    return (delays.agg(F.count(F.lit(1)).alias("n_converters"),
                       F.round(F.sum("__d").cast("double")
                               / F.count(F.lit(1)).cast("double"), 6)
                        .alias("mean_delay_s"))
                  .crossJoin(F.broadcast(med)))


def q_stationary_dist(spark, sf_dir):
    """Stationary distribution of the user-journey Markov chain,
    HASH-VERIFIED: 5 power-iteration rounds π' = πP from the uniform
    start over the observed states — the long-run where-do-users-end-up
    summary the transition matrix (q_transition_matrix) only states
    locally.  The chain lives at the states² grain (≤ 25 rows here), so
    every round is a tiny join + aggregate; the corpus-scale work is
    the ONE lag-window pass counting transitions.  P entries are exact
    long/long divisions; per-round sums drift only at ~1e-16 relative
    (the q_pagerank argument), far inside the round-6 output."""
    from .operators.fixpoint import iterate
    e = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select("user_id", "event_type",
                   F.lag("event_type").over(w).alias("__prev"))
    pairs = (seq.filter(F.col("__prev").isNotNull())
                .groupBy(F.col("__prev").alias("prev_state"),
                         F.col("event_type").alias("next_state"))
                .agg(F.count(F.lit(1)).alias("__n"))
                .localCheckpoint(eager=False))  # totals + 5 rounds
    tot = pairs.groupBy("prev_state").agg(F.sum("__n").alias("__t"))
    p = (pairs.join(tot, "prev_state")
              .select("prev_state", "next_state",
                      (F.col("__n").cast("double")
                       / F.col("__t").cast("double")).alias("__p"))
              .localCheckpoint(eager=False))
    states = (p.select(F.col("prev_state").alias("state"))
               .union(p.select("next_state")).distinct()
               .localCheckpoint(eager=False))
    ns = states.agg(F.count(F.lit(1)).alias("__ns"))
    uniform = (states.crossJoin(F.broadcast(ns))
                     .select("state", (1.0 / F.col("__ns")).alias("pi")))

    def step(pi):
        # absorbing states (no outgoing transitions) keep their mass:
        # flow = pi·P for rows with outgoing edges, self-loop otherwise
        flow = (pi.join(p, pi.state == p.prev_state)
                  .groupBy(F.col("next_state").alias("state"))
                  .agg(F.sum(F.col("pi") * F.col("__p")).alias("__in")))
        stay = (pi.join(p.select(F.col("prev_state").alias("state"))
                         .distinct(), "state", "left_anti")
                  .select("state", F.col("pi").alias("__keep")))
        return (states.join(flow, "state", "left")
                      .join(stay, "state", "left")
                      .select("state",
                              (F.coalesce(F.col("__in"), F.lit(0.0))
                               + F.coalesce(F.col("__keep"), F.lit(0.0)))
                              .alias("pi")))

    pi = iterate(uniform, step, 5)
    return pi.select("state", F.round(F.col("pi"), 6).alias("pi"))


def q_zipf_tokens(spark, sf_dir):
    """Zipf diagnostic of the token-frequency distribution,
    HASH-VERIFIED: the count-of-counts histogram (how many tokens occur
    c times) plus the Clauset–Shalizi–Newman discrete power-law MLE
    α̂ = 1 + n / Σ ln(c / (c_min − ½)) over tokens with c ≥ 2 — the
    q_degree_distribution estimator pointed at vocabulary instead of
    degrees; it decides whether frequency-based vocab truncation has a
    heavy tail to exploit.  One token pass to the vocabulary grain, one
    count-grain histogram; ln terms round at 9 pre-sum."""
    d = read_table(spark, sf_dir, "documents")
    tok = d.select(F.explode(F.filter(F.split(F.col("text"), " "),
                                      lambda t: t != "")).alias("tk"))
    counts = (tok.groupBy("tk").agg(F.count(F.lit(1)).alias("cnt"))
                 .localCheckpoint(eager=True))  # histogram + alpha
    hist = counts.groupBy("cnt").agg(F.count(F.lit(1)).alias("n_tokens"))
    tail = counts.filter(F.col("cnt") >= 2)
    alpha = (tail.agg(
        F.count(F.lit(1)).alias("__nt"),
        F.sum(F.round(F.log(F.col("cnt").cast("double") / 1.5), 9))
         .alias("__sl"))
        .select(F.round(1.0 + F.col("__nt").cast("double")
                        / F.col("__sl"), 6).alias("alpha_hat")))
    return (hist.crossJoin(F.broadcast(alpha))
                .select("cnt", "n_tokens", "alpha_hat"))


def q_mde(spark, sf_dir):
    """Minimum detectable effect for the standing A/B setup,
    HASH-VERIFIED: given the parity-arm user counts and the pooled
    baseline conversion rate (exact longs from one user-grain pass),
    the two-proportion MDE at α=5% (two-sided) / 80% power —
    MDE = (z_{α/2} + z_β)·√(p(1−p)·(1/n_a + 1/n_b)) — the experiment-
    planning readout that says what lift this traffic can even see.
    The z constants are shortest-repr double literals identical in both
    engines; everything else is one expression over exact counts."""
    e = read_table(spark, sf_dir, "events")
    users = (e.groupBy("user_id")
              .agg(F.max(F.when(F.col("event_type") == "purchase", 1)
                          .otherwise(0)).alias("__conv"))
              .withColumn("__arm", F.pmod(F.col("user_id"), F.lit(2))))
    wide = users.agg(
        F.sum(F.when(F.col("__arm") == 0, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("__arm") == 1, 1).otherwise(0)).alias("n_b"),
        F.sum("__conv").alias("x"))
    z = 1.959963984540054 + 0.8416212335729143
    p = (F.col("x").cast("double")
         / (F.col("n_a") + F.col("n_b")).cast("double"))
    mde = F.lit(z) * F.sqrt(p * (1.0 - p)
                            * (1.0 / F.col("n_a").cast("double")
                               + 1.0 / F.col("n_b").cast("double")))
    return wide.select("n_a", "n_b",
                       F.round(p, 6).alias("baseline_rate"),
                       F.round(mde, 6).alias("mde_abs"))


def q_silhouette(spark, sf_dir):
    """Simplified silhouette of the Lloyd clustering, HASH-VERIFIED:
    per point a = distance to its own (final) centroid and b = distance
    to the nearest OTHER centroid, s = (b−a)/max(a,b), averaged per
    cluster — the centroid-based silhouette (Hruschka et al.), which is
    MAP-ONLY given the K-row codebook, where the classic pairwise form
    is O(n²).  The iteration is the exact q_lloyd_kmeans loop
    (lloyd_centroids — same code object), so the oracle reuses that
    query's unrolled stages and adds a second-nearest pick; per-point s
    rounds at 9 before the cluster mean."""
    from .pipeline.similarity import (_as_double, assign_with_runnerup,
                                      label_centroids, lloyd_centroids)
    em = read_table(spark, sf_dir, "embeddings")
    vecs = em.select("vec_id", _as_double(F.col("embedding")).alias("v"))
    cents0 = (label_centroids(em, "vec_id", "embedding", "label")
              .select(F.col("label").cast("long").alias("cand_label"),
                      "centroid"))
    cents = lloyd_centroids(vecs, cents0, iters=3)
    scored = assign_with_runnerup(vecs, cents)
    a, b = F.sqrt(F.col("d2_best")), F.sqrt(F.col("d2_runnerup"))
    s = F.when(F.greatest(a, b) > 0,
               F.round((b - a) / F.greatest(a, b), 9)).otherwise(0.0)
    return (scored.select(F.col("assigned_label").alias("cluster"),
                          s.alias("__s"))
                  .groupBy("cluster")
                  .agg(F.count(F.lit(1)).alias("n_points"),
                       F.round(F.sum("__s") / F.count(F.lit(1)), 6)
                        .alias("mean_silhouette")))


def q_bm25_batch(spark, sf_dir):
    """Batch BM25 retrieval, HASH-VERIFIED: three keyword queries
    answered in ONE corpus pass — the exploded token stream joins the
    broadcast (query_id, term) table once, so the shuffle carries only
    hits and corpus cost is independent of query count (running
    q_bm25_rank per query would rescan the corpus N times).  Scoring is
    the identical Okapi formula; df is per term (query-independent);
    top-5 per query by rounded score with doc_id tie-break."""
    from .pipeline.ranking import bm25_batch
    d = read_table(spark, sf_dir, "documents")
    q = spark.createDataFrame(
        [(0, "spark"), (0, "hash"), (1, "join"), (1, "merge"),
         (2, "window"), (2, "sort"), (2, "batch")],
        "query_id long, term string")
    return bm25_batch(d, q, topk=5)


def q_ivm_retract(spark, sf_dir):
    """IVM rollup under DELETES, HASH-VERIFIED: the maintained state
    retracts a deterministic deleted slice (event_id % 10 == 3) —
    counts/sums via a signed merge (group-invertible), min/max by
    recomputing ONLY the touched groups from the remaining base
    (semilattice aggregates are not invertible) — and the finalized
    result must equal aggregating the remaining rows from scratch,
    which is exactly what the oracle does.  Cost is O(deleted +
    touched-group rows + groups), never O(base)."""
    from .operators.ivm import agg_state, finalize_state, retract_state
    e = (read_table(spark, sf_dir, "events")
         .filter(F.col("value").isNotNull())
         .select("event_id", "event_type", "value")
         .localCheckpoint(eager=True))  # state + split consumers
    state = agg_state(e, ["event_type"], "value")
    deleted = e.filter(F.pmod(F.col("event_id"), F.lit(10)) == 3)
    remaining = e.filter(F.pmod(F.col("event_id"), F.lit(10)) != 3)
    out = retract_state(state, deleted, remaining,
                        ["event_type"], "value")
    return finalize_state(out, ["event_type"])


def q_expectations(spark, sf_dir):
    """Data-contract expectation report over events, HASH-VERIFIED: six
    declared expectations (row floor, null-share ceilings, key
    uniqueness, value range, type domain) each as ONE independent
    aggregate, unioned into the (check, observed, threshold, passed)
    report a pipeline gates on — the Deequ shape on the engine's
    fail-loud primitives, as a profile instead of an exception.  The
    relation pins once so six verdicts cost six cheap scans of a
    materialized table, not six source reads."""
    from .operators.checks import expectation_report
    e = read_table(spark, sf_dir, "events").localCheckpoint(eager=True)
    return expectation_report(e, [
        ("rows >= 100", "min_rows", 100),
        ("value null share <= 5%", "max_null_share", ("value", 0.05)),
        ("props null share <= 50%", "max_null_share", ("props", 0.5)),
        ("event_id unique", "unique", ["event_id"]),
        ("value in [-10000, 10000]", "in_range",
         ("value", -10000.0, 10000.0)),
        ("event_type domain", "allowed",
         ("event_type", ["view", "click", "purchase", "error",
                         "signup"])),
    ])


def q_uplift_deciles(spark, sf_dir):
    """Uplift-by-score-decile readout, HASH-VERIFIED: users bin into
    deciles of their mean event value (boundaries from one
    percentile-array row, the q_calibration_bins discipline), and each
    decile reports treatment vs control conversion with the uplift
    delta — the targeting diagnostic that says WHERE a treatment works,
    which the single overall z-test (q_ab_test) averages away.  User
    grain collapses first (one exchange); scores are exact-cents
    means; rates are long/long divisions; uplift is one identical
    subtraction rounded at 6."""
    e = read_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    users = (e.groupBy("user_id")
              .agg(F.max(F.when(F.col("event_type") == "purchase", 1)
                          .otherwise(0)).alias("__conv"),
                   (F.sum(cents(F.col("value")))
                    / (100.0 * F.count(F.lit(1)).cast("double")))
                   .alias("__score"))
              .withColumn("__treat", F.pmod(F.col("user_id"), F.lit(2)))
              .localCheckpoint(eager=True))  # bounds + binning
    bounds = users.agg(F.percentile(
        "__score", F.array(*[F.lit(i / 10.0) for i in range(1, 10)]))
        .alias("__b"))
    bin_of = F.size(F.filter(
        "__b", lambda b: F.col("__score") > b)).cast("long").alias("decile")
    cells = (users.crossJoin(F.broadcast(bounds))
                  .select(bin_of, "__treat", "__conv")
                  .groupBy("decile")
                  .agg(F.sum(F.when(F.col("__treat") == 1, 1)
                              .otherwise(0)).alias("n_t"),
                       F.sum(F.when(F.col("__treat") == 1,
                                    F.col("__conv")).otherwise(0))
                        .alias("x_t"),
                       F.sum(F.when(F.col("__treat") == 0, 1)
                              .otherwise(0)).alias("n_c"),
                       F.sum(F.when(F.col("__treat") == 0,
                                    F.col("__conv")).otherwise(0))
                        .alias("x_c")))
    # a decile missing an arm has no uplift (and ANSI raises on the
    # division, even for doubles) — NULL, matching the oracle's CASE
    rt = F.col("x_t").cast("double") / F.col("n_t").cast("double")
    rc = F.col("x_c").cast("double") / F.col("n_c").cast("double")
    uplift = F.when((F.col("n_t") > 0) & (F.col("n_c") > 0),
                    F.round(rt - rc, 6))
    return cells.select("decile", "n_t", "x_t", "n_c", "x_c",
                        uplift.alias("uplift"))


def q_ece(spark, sf_dir):
    """Expected calibration error, HASH-VERIFIED: the single-number
    summary of the reliability diagram (q_calibration_bins) — scores
    min-max-normalize to a [0,1] pseudo-probability (exact-integer
    bounds from one 1-row broadcast), bin into deciles of the
    normalized score, and ECE = Σ (n_b/N)·|acc_b − conf_b| with
    per-bin terms rounded at 9 before the sum.  Confidence is the
    bin's mean normalized score from exact long sums; accuracy the
    long/long positive rate; one cell-grain aggregate end to end."""
    e = (read_table(spark, sf_dir, "events")
         .filter(F.col("value").isNotNull())
         .select(cents(F.col("value")).alias("__c"),
                 (F.col("event_type") == "purchase").cast("long")
                  .alias("__pos")))
    ext = e.agg(F.min("__c").alias("__lo"), F.max("__c").alias("__hi"))
    # span-0 guard: a constant score column would make the normalizer
    # 0/0, which ANSI raises on even for doubles (the q_uplift lesson)
    p = F.when(F.col("__hi") == F.col("__lo"), F.lit(0.0)).otherwise(
        (F.col("__c") - F.col("__lo")).cast("double")
        / (F.col("__hi") - F.col("__lo")).cast("double"))
    binned = (e.crossJoin(F.broadcast(ext))
               .select(F.least(F.lit(9), F.floor(p * 10)).cast("long")
                        .alias("__b"),
                       (F.col("__c") - F.col("__lo")).alias("__pu"),
                       "__pos",
                       (F.col("__hi") - F.col("__lo")).alias("__span")))
    cells = (binned.groupBy("__b")
                   .agg(F.count(F.lit(1)).alias("__n"),
                        F.sum("__pu").alias("__sp"),
                        F.sum("__pos").alias("__x"),
                        F.max("__span").alias("__span"))
                   .localCheckpoint(eager=True))  # totals + terms
    # __ntot, not __N: column resolution is case-insensitive, so __N
    # would be ambiguous against the per-bin __n
    tot = cells.agg(F.sum("__n").alias("__ntot"))
    conf = (F.col("__sp").cast("double")
            / (F.col("__n").cast("double")
               * F.col("__span").cast("double")))
    acc = F.col("__x").cast("double") / F.col("__n").cast("double")
    term = F.round(F.col("__n").cast("double")
                   / F.col("__ntot").cast("double")
                   * F.abs(acc - conf), 9)
    return (cells.crossJoin(F.broadcast(tot))
                 .select(term.alias("__t"))
                 .agg(F.count(F.lit(1)).alias("n_bins"),
                      F.round(F.sum("__t"), 6).alias("ece")))


QUERIES: dict[str, QueryFn] = {
    "q_pmi_collocations": q_pmi_collocations,
    "q_mutual_information": q_mutual_information,
    "q_dsir_weights": q_dsir_weights,
    "q_item_similarity": q_item_similarity,
    "q_referential_integrity": q_referential_integrity,
    "q_benford_audit": q_benford_audit,
    "q_ab_test": q_ab_test,
    "q_skyline": q_skyline,
    "q_kcore": q_kcore,
    "q_cusum_drift": q_cusum_drift,
    "q_woe_iv": q_woe_iv,
    "q_degree_distribution": q_degree_distribution,
    "q_label_propagation": q_label_propagation,
    "q_bfs_hops": q_bfs_hops,
    "q_tfidf_topk": q_tfidf_topk,
    "q_fd_profile": q_fd_profile,
    "q_poisson_bootstrap": q_poisson_bootstrap,
    "q_frequent_triples": q_frequent_triples,
    "q_seasonal_decompose": q_seasonal_decompose,
    "q_weighted_median": q_weighted_median,
    "q_mutual_nn": q_mutual_nn,
    "q_time_weighted_avg": q_time_weighted_avg,
    "q_isotonic_calibration": q_isotonic_calibration,
    "q_modularity": q_modularity,
    "q_lsh_precision": q_lsh_precision,
    "q_hilbert_values": q_hilbert_values,
    "q_acf": q_acf,
    "q_did": q_did,
    "q_theil_sen": q_theil_sen,
    "q_personalized_pagerank": q_personalized_pagerank,
    "q_session_stats": q_session_stats,
    "q_conversion_lag": q_conversion_lag,
    "q_stationary_dist": q_stationary_dist,
    "q_zipf_tokens": q_zipf_tokens,
    "q_mde": q_mde,
    "q_silhouette": q_silhouette,
    "q_bm25_batch": q_bm25_batch,
    "q_ivm_retract": q_ivm_retract,
    "q_expectations": q_expectations,
    "q_uplift_deciles": q_uplift_deciles,
    "q_ece": q_ece,
    "q_lead_lag": q_lead_lag,
    "q_stratified_rates": q_stratified_rates,
    "q_vocab_kl": q_vocab_kl,
    "q_burst_detection": q_burst_detection,
    "q_markov_attribution": q_markov_attribution,
    "q_join_size_est": q_join_size_est,
    "q_rfm_segments": q_rfm_segments,
    "q_kaplan_meier": q_kaplan_meier,
    "q_forecast_backtest": q_forecast_backtest,
    "q_contrastive_pairs": q_contrastive_pairs,
    "q_dedup_canonical": q_dedup_canonical,
    "q_skew_advisor": q_skew_advisor,
    "q_cuped": q_cuped,
    "q_seasonal_anomalies": q_seasonal_anomalies,
    "q_dup_size_histogram": q_dup_size_histogram,
    "q_wasserstein_drift": q_wasserstein_drift,
    "q_k_anonymity": q_k_anonymity,
    "q_theta_overlap": q_theta_overlap,
    "q_window_funnel": q_window_funnel,
    "q_langid_confusion": q_langid_confusion,
    "q_readability": q_readability,
    # round-4 front-load: the separation family's first driver rows (J7/J8)
    # and the 4 queries that have never received a CORRECTNESS row
    "q_initial_separation": q_initial_separation,
    "q_catch_separation": q_catch_separation,
    "q_defender_sep_frame": q_defender_sep_frame,
    "q_approx_quantiles": q_approx_quantiles,
    "q_minhash_incremental": q_minhash_incremental,
    "q_pca_embed": q_pca_embed,
    "q_submission_pipeline": q_submission_pipeline,
    "q_submission_spine": q_submission_spine,
    "q_scorecard_golden": q_scorecard_golden,
    "q_postthrow_golden": q_postthrow_golden,
    "q_routeexec_golden": q_routeexec_golden,
    "q_pagerank": q_pagerank,
    "q_triangle_count": q_triangle_count,
    "q_winsorize": q_winsorize,
    "q_ewma": q_ewma,
    "q_intersect_except": q_intersect_except,
    "q_mad_robust": q_mad_robust,
    "q_corpus_release": q_corpus_release,
    "q_corpus_diff": q_corpus_diff,
    "q_filter_funnel": q_filter_funnel,
    "q_ngram_hotspots": q_ngram_hotspots,
    "q_ivfpq_topk": q_ivfpq_topk,
    "q_span_corruption": q_span_corruption,
    "q_kfold": q_kfold,
    "q_attribution": q_attribution,
    "q_retention_cohorts": q_retention_cohorts,
    "q_path_analysis": q_path_analysis,
    "q_cohort_ltv": q_cohort_ltv,
    "q_gini_concentration": q_gini_concentration,
    "q_chi_square": q_chi_square,
    "q_ks_drift": q_ks_drift,
    "q_auc_exact": q_auc_exact,
    "q_auc_by_group": q_auc_by_group,
    "q_cumulative_gains": q_cumulative_gains,
    "q_classification_report": q_classification_report,
    "q_calibration_bins": q_calibration_bins,
    "q_trending_decay": q_trending_decay,
    "q_psi_drift": q_psi_drift,
    "q_rolling_active_users": q_rolling_active_users,
    "q_table_profile": q_table_profile,
    "q_period_over_period": q_period_over_period,
    "q_new_vs_returning": q_new_vs_returning,
    "q_group_entropy": q_group_entropy,
    "q_quantile_normalize": q_quantile_normalize,
    "q_temperature_mix": q_temperature_mix,
    "q_negative_samples": q_negative_samples,
    "q_synthetic_source": q_synthetic_source,
    "q_jaccard_prefix": q_jaccard_prefix,
    "q_fuzzy_join": q_fuzzy_join,
    "q_ivm_refresh": q_ivm_refresh,
    "q_entity_resolution": q_entity_resolution,
    "q_minhash_neutral": q_minhash_neutral,
    "q_minhash_oph": q_minhash_oph,
    "q_minhash_oph_pairs": q_minhash_oph_pairs,
    "q_cdc_chunks": q_cdc_chunks,
    "q_simhash_neutral": q_simhash_neutral,
    "q_grid_nearest": q_grid_nearest,
    "q_grid_knn": q_grid_knn,
    "q_hard_negatives_k": q_hard_negatives_k,
    "q_mutual_knn": q_mutual_knn,
    "q_triplet_mining": q_triplet_mining,
    "q_quality_classifier": q_quality_classifier,
    "q_perplexity_buckets": q_perplexity_buckets,
    "q_mixture_weights": q_mixture_weights,
    "q_near_dup_diff": q_near_dup_diff,
    "q_hll_neutral": q_hll_neutral,
    "q_resample_ffill": q_resample_ffill,
    "q_hll_incremental": q_hll_incremental,
    "q_hll_overlap": q_hll_overlap,
    "q_minhash_audience": q_minhash_audience,
    "q_bloom_ingest_gate": q_bloom_ingest_gate,
    "q_variant_props": q_variant_props,
    "q_weighted_sample": q_weighted_sample,
    "q_cooccurrence": q_cooccurrence,
    "q_basket_lift": q_basket_lift,
    "q_transition_matrix": q_transition_matrix,
    "q_pit_join": q_pit_join,
    "q_equidepth_bins": q_equidepth_bins,
    "q_rank_distributed": q_rank_distributed,
    "q_scd2_history": q_scd2_history,
    "q_funnel_stages": q_funnel_stages,
    "q_bm25_rank": q_bm25_rank,
    "q_unigram_scores": q_unigram_scores,
    "q_bigram_scores": q_bigram_scores,
    "q_hybrid_rrf": q_hybrid_rrf,
    "q_span_dedup": q_span_dedup,
    "q_span_dedup_incremental": q_span_dedup_incremental,
    "q_semdedup": q_semdedup,
    "q_kcenter_coreset": q_kcenter_coreset,
    "q_jl_project": q_jl_project,
    "q_set_cover": q_set_cover,
    "q_hits": q_hits,
    "q_mmr_rerank": q_mmr_rerank,
    "q_hard_negatives": q_hard_negatives,
    "q_psm_match": q_psm_match,
    "q_curation_funnel": q_curation_funnel,
    "q_weighted_cover": q_weighted_cover,
    "q_novelty_scores": q_novelty_scores,
    "q_sequence_packing": q_sequence_packing,
    "q_packed_bins": q_packed_bins,
    "q_redact_pii": q_redact_pii,
    "q_merge_upsert": q_merge_upsert,
    "q_grouping_sets": q_grouping_sets,
    "q_forward_fill": q_forward_fill,
    "q_pct_of_total": q_pct_of_total,
    "q_truespeed_variants": q_truespeed_variants,
    "q_normalize_flip": q_normalize_flip,
    "q_asof_tolerance": q_asof_tolerance,
    "q_group_ksample": q_group_ksample,
    "q_json_struct": q_json_struct,
    "q_array_hof": q_array_hof,
    "q_eval_metrics": q_eval_metrics,
    "q_embed_dup": q_embed_dup,
    "q_text_normalize": q_text_normalize,
    "q_chunk_docs": q_chunk_docs,
    "q_frame_sample": q_frame_sample,
    "q_pack_chunks": q_pack_chunks,
    "q_bpe_merges": q_bpe_merges,
    "q_bpe_encode": q_bpe_encode,
    "q_decontaminate": q_decontaminate,
    "q_pq_topk": q_pq_topk,
    "q_zorder_values": q_zorder_values,
    "q_bloom_semi_join": q_bloom_semi_join,
    "q_heavy_hitters": q_heavy_hitters,
    "q_exists_late_ship": q_exists_late_ship,
    "q_tpch_q10": q_tpch_q10,
    "q_tpch_q12": q_tpch_q12,
    "q_anti_join": q_anti_join,
    "q_cube_qty": q_cube_qty,
    "q_distribution_windows": q_distribution_windows,
    "q_interval_join": q_interval_join,
    "q_training_prep": q_training_prep,
    "q_hash_sample": q_hash_sample,
    "q_tpch_q7": q_tpch_q7,
    "q_pivot_event_types": q_pivot_event_types,
    "q_phase3_pipeline": q_phase3_pipeline,
    "q_archetypes": q_archetypes,
    "q_route_kings": q_route_kings,
    "q_model_beaters": q_model_beaters,
    "q_metric_correlations": q_metric_correlations,
    "q_rollup_revenue": q_rollup_revenue,
    "q_sliding_window": q_sliding_window,
    "q_range_window": q_range_window,
    "q_tpch_q14": q_tpch_q14,
    "q_tpch_q5": q_tpch_q5,
    "q_window_agg_hourly": q_window_agg_hourly,
    "q_sessionize": q_sessionize,
    "q_shard_stats": q_shard_stats,
    "q_quota_sample": q_quota_sample,
    "q_token_counts": q_token_counts,
    "q_union_by_name": q_union_by_name,
    "q_minhash_pairs": q_minhash_pairs,
    "q_simhash": q_simhash,
    "q_lsh_topk": q_lsh_topk,
    "q_ivf_topk": q_ivf_topk,
    "q_lsh_neutral": q_lsh_neutral,
    "q_ivf_neutral": q_ivf_neutral,
    "q_fingerprint": q_fingerprint,
    "q_multimodal_features": q_multimodal_features,
    "q_media_ahash": q_media_ahash,
    "q_route_clusters": q_route_clusters,
    "q_tpch_q13": q_tpch_q13,
    "q_tpch_q15": q_tpch_q15,
    "q_tpch_q16": q_tpch_q16,
    "q_tpch_q17": q_tpch_q17,
    "q_tpch_q19": q_tpch_q19,
    "q_tpch_q22": q_tpch_q22,
    "q_tpch_q2": q_tpch_q2,
    "q_tpch_q8": q_tpch_q8,
    "q_tpch_q9": q_tpch_q9,
    "q_tpch_q11": q_tpch_q11,
    "q_tpch_q20": q_tpch_q20,
    "q_tpch_q21": q_tpch_q21,
    "q_repetition": q_repetition,
    "q_dup_ngrams": q_dup_ngrams,
    "q_stratified_sample": q_stratified_sample,
    "q_nearest_centroid": q_nearest_centroid,
    "q_doc_histogram": q_doc_histogram,
    "q_lloyd_kmeans": q_lloyd_kmeans,
    "q_flagship_truespeed": q_flagship_truespeed,
    "q_filter_project": q_filter_project,
    "q_case_norm_filter": q_case_norm_filter,
    "q_set_membership": q_set_membership,
    "q_null_range_filter": q_null_range_filter,
    "q_label_attach": q_label_attach,
    "q_semi_join": q_semi_join,
    "q_enrich_left": q_enrich_left,
    "q_nearest_in_group": q_nearest_in_group,
    "q_frame_diff": q_frame_diff,
    "q_converge_rate_lead": q_converge_rate_lead,
    "q_cum_index": q_cum_index,
    "q_zscore_in_group": q_zscore_in_group,
    "q_rank_leaderboard": q_rank_leaderboard,
    "q_argmax_frame": q_argmax_frame,
    "q_dedup_keep_last": q_dedup_keep_last,
    "q_topk_per_group": q_topk_per_group,
    "q_tpch_q1": q_tpch_q1,
    "q_trajectory_features": q_trajectory_features,
    "q_group_stats": q_group_stats,
    "q_quantile_sketch": q_quantile_sketch,
    "q_quantiles": q_quantiles,
    "q_value_counts": q_value_counts,
    "q_distinct_users": q_distinct_users,
    "q_scalar_threshold": q_scalar_threshold,
    "q_conditional_flags": q_conditional_flags,
    "q_corr_trend": q_corr_trend,
    "q_minmax_norm": q_minmax_norm,
    "q_safe_div": q_safe_div,
    "q_piecewise_score": q_piecewise_score,
    "q_scorecard": q_scorecard,
    "q_top_orders": q_top_orders,
    "q_union_dedup": q_union_dedup,
    "q_sequence_build": q_sequence_build,
    "q_unpivot_sequences": q_unpivot_sequences,
    "q_dedup_exact": q_dedup_exact,
    "q_text_quality": q_text_quality,
    "q_language_id": q_language_id,
    "q_ngram_jaccard": q_ngram_jaccard,
    "q_containment": q_containment,
    "q_winnow_pairs": q_winnow_pairs,
    "q_leakage_split": q_leakage_split,
    "q_dup_components": q_dup_components,
    "q_cosine_topk": q_cosine_topk,
    "q_asof_join": q_asof_join,
    "q_salted_agg": q_salted_agg,
    "q_cluster_centroids": q_cluster_centroids,
    "q_centroid_score": q_centroid_score,
    "q_onehot": q_onehot,
    "q_group_split": q_group_split,
    "q_closest_to_median": q_closest_to_median,
    "q_tpch_q3": q_tpch_q3,
    "q_tpch_q18": q_tpch_q18,
    "q_tpch_q6": q_tpch_q6,
}
