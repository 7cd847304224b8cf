"""Physical-plan quality gates (SURVEY §4): these assert the *shape* of the
plan, not the result — the properties that decide whether a query survives
a 100× scale-up.

- filters/projections reach the parquet scan (PushedFilters / ReadSchema)
- small dimensions broadcast (BroadcastHashJoin, no shuffle of the fact)
- compatible windows share one shuffle (single Exchange for same keys)
- whole-stage codegen covers the expression work
"""

from __future__ import annotations

from pyspark.sql import functions as F

from big_data_bowl_spark.plans import (
    assert_broadcast_join,
    assert_pushed_filters,
    count_exchanges,
    executed_plan,
    explain_formatted,
)
from big_data_bowl_spark.queries import QUERIES

from tests.conftest import SF_MEDIUM, SF_SMALL


def _q(spark, name: str):
    return QUERIES[name](spark, SF_SMALL)


def test_filter_pushdown_reaches_scan(spark):
    assert_pushed_filters(_q(spark, "q_filter_project"), "l_returnflag")


def test_projection_prunes_scan_columns(spark):
    plan = explain_formatted(_q(spark, "q_filter_project"))
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    # only the needed columns are read — not l_tax/l_shipdate etc.
    assert "l_tax" not in read_schema
    assert "l_orderkey" in read_schema


def test_flagship_broadcasts_dimension(spark):
    assert_broadcast_join(_q(spark, "q_flagship_truespeed"), min_count=1)


def test_tpch_q5_broadcasts_all_dimensions(spark):
    # every dimension join broadcast; only the fact⋈fact join may shuffle
    assert_broadcast_join(_q(spark, "q_tpch_q5"), min_count=4,
                          max_sort_merge=1)


def test_semi_join_stays_semi(spark):
    assert "LeftSemi" in executed_plan(_q(spark, "q_semi_join"))


def test_window_chain_single_shuffle(spark):
    """q_cum_index runs two windows over the same partition keys — they
    must share ONE hash exchange on user_id, not re-shuffle."""
    assert count_exchanges(_q(spark, "q_cum_index"), "user_id") == 1


def test_sequence_build_single_shuffle(spark):
    assert count_exchanges(_q(spark, "q_sequence_build"), "user_id") <= 1


def test_asof_join_single_shuffle(spark):
    """The as-of join is union + window: exactly one hash exchange on the
    by-keys — the property that makes it linear instead of quadratic."""
    assert count_exchanges(_q(spark, "q_asof_join"), "user_id") == 1


def test_quantile_sketch_partial_group_limit(spark):
    """The bottom-k sketch's row_number ≤ k filter must trigger Spark's
    WindowGroupLimit rewrite: each map task keeps its local bottom-k
    BEFORE the exchange, so the shuffle carries O(partitions · k) rows
    per group instead of the fact table — the property that makes the
    sketch build viable at 100 TB."""
    plan = explain_formatted(_q(spark, "q_quantile_sketch"))
    # a Partial WindowGroupLimit below each Exchange, Final above it
    assert plan.count("WindowGroupLimit") >= 2, plan
    assert "row_number(), 128, Partial" in plan, plan


def test_whole_stage_codegen_present(spark):
    plan = executed_plan(_q(spark, "q_tpch_q1"), execute=True)
    assert "isFinalPlan=true" in plan
    # codegen stages print as `*(n) Operator` in the finalized tree
    assert "*(" in plan


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    """Two tables bucketed on the join key must sort-merge-join with ZERO
    exchanges — the co-located-join contract that bucketed staging buys at
    100 TB (each recurring fact⋈fact join skips the full-data shuffle)."""
    from big_data_bowl_spark.sources.io import read_table, stage_bucketed

    orders = read_table(spark, SF_SMALL, "orders")
    lineitem = read_table(spark, SF_SMALL, "lineitem")
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        stage_bucketed(orders.select("o_orderkey", "o_totalprice"),
                       "orders_b", ["o_orderkey"], n_buckets=4)
        stage_bucketed(lineitem.select("l_orderkey", "l_quantity"),
                       "lineitem_b", ["l_orderkey"], n_buckets=4)
        joined = (spark.table("lineitem_b")
                  .join(spark.table("orders_b"),
                        F.col("l_orderkey") == F.col("o_orderkey"))
                  .groupBy("o_orderkey")
                  .agg(F.sum("l_quantity").alias("qty")))
        # no exchange of ANY kind: join and agg both reuse bucket layout
        assert count_exchanges(joined.filter(F.col("qty") > 0)
                               .select("o_orderkey", "qty")) == 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS lineitem_b")


def test_partitioned_staging_prunes_partitions(spark, tmp_path):
    """P8: a per-key lookup on a partitioned staging table must scan ONLY
    that key's partition directory (partition pruning at the source)."""
    from big_data_bowl_spark.sources.io import read_table, stage_parquet

    ev = read_table(spark, SF_SMALL, "events")
    path = str(tmp_path / "events_by_type")
    stage_parquet(ev, path, partition_by=["event_type"])

    one = (spark.read.parquet(path)
           .filter(F.col("event_type") == "purchase")
           .select("event_id", "value"))
    plan = explain_formatted(one)
    # the scan's partition filter must carry the predicate...
    assert "PartitionFilters" in plan and "purchase" in plan
    # ...and the non-matching partitions must not be read
    got_types = [r.event_type for r in
                 one.join(spark.read.parquet(path).select("event_id",
                                                          "event_type"),
                          "event_id").select("event_type").distinct().collect()]
    assert got_types == ["purchase"]


def test_phase3_pipeline_all_joins_broadcast(spark):
    """The composed metrics pipeline joins only play/player-grain frames
    onto the per-entity board — every join must broadcast (no SMJ)."""
    assert_broadcast_join(_q(spark, "q_phase3_pipeline"), min_count=3,
                          max_sort_merge=0)


def test_tpch_q6_full_pushdown(spark):
    """Q6's whole WHERE clause is scan-eligible: date range, discount
    band, and quantity cap must all reach PushedFilters, so a 100 TB scan
    reads only row groups whose stats intersect the predicate."""
    assert_pushed_filters(_q(spark, "q_tpch_q6"),
                          "l_shipdate", "l_discount", "l_quantity")


def test_anti_join_broadcasts_exclusion_set(spark):
    """NOT EXISTS compiles to a broadcast LeftAnti — the filtered key set
    ships to executors; the customer side is never shuffled."""
    plan = executed_plan(_q(spark, "q_anti_join"))
    assert "LeftAnti" in plan
    assert_broadcast_join(_q(spark, "q_anti_join"), min_count=1)


def test_tpch_q10_broadcasts_dimensions(spark):
    """customer and nation ride broadcast; the only shuffle joins the two
    facts on orderkey."""
    assert_broadcast_join(_q(spark, "q_tpch_q10"), min_count=2,
                          max_sort_merge=1)


def test_cube_single_shuffle(spark):
    """CUBE computes all four grains with one exchange (the expand feeds
    a single hash aggregate), not one shuffle per grain."""
    assert count_exchanges(_q(spark, "q_cube_qty")) <= 2


def test_tpch_q9_broadcasts_all_dimensions(spark):
    """Q9's four dimension joins all broadcast; the only sort-merge
    candidate is the lineitem⋈orders fact join."""
    assert_broadcast_join(_q(spark, "q_tpch_q9"), min_count=3,
                          max_sort_merge=1)


def test_tpch_q21_scans_fact_once(spark):
    """The EXISTS/NOT-EXISTS pair is lowered to one per-order aggregate:
    lineitem is scanned ONCE, not re-probed per correlated subquery.
    (The two-distinct-count agg itself legitimately plans as Spark's
    expand + two-level exchange on l_orderkey.)"""
    plan = executed_plan(_q(spark, "q_tpch_q21"))
    assert plan.count("lineitem.parquet") == 1
    assert count_exchanges(_q(spark, "q_tpch_q21"), "l_orderkey") <= 2


def test_tpch_q17_avoids_partkey_window_shuffle(spark):
    """Q17's correlated per-part average is agg + broadcast join-back;
    the full fact is never hash-exchanged on l_partkey (the branded
    subset is, once, for the avg — but never windowed)."""
    plan = executed_plan(_q(spark, "q_tpch_q17"))
    assert "Window" not in plan
    assert_broadcast_join(_q(spark, "q_tpch_q17"), min_count=2)


def test_training_prep_fused_projection_zero_joins(spark):
    """The quality/language/truth feature blocks are pure projections of
    one deduped parent — the plan must contain NO joins and exactly two
    exchanges (the dedup window's content-hash shuffle + the final
    language rollup), not the three branch-joins the naive composition
    writes."""
    plan = executed_plan(_q(spark, "q_training_prep"))
    assert "Join" not in plan, plan
    assert plan.count("Exchange ") <= 2, plan


def test_eval_predictions_has_no_global_window(spark):
    """M9: R² is algebraic (SStot = Σy² − (Σy)²/n), so the metric pass is
    ONE partial-aggregable aggregate — no empty-partition Window funneling
    every prediction row through a single task, and the only
    SinglePartition exchange carries the per-partition partials (1 row
    each), not the data."""
    from big_data_bowl_spark.ml.lstm import eval_predictions
    from big_data_bowl_spark.sources.io import read_table

    e = read_table(spark, SF_SMALL, "events")
    m = eval_predictions(
        e.select(F.col("value").alias("actual"),
                 (F.col("value") * 0.9).alias("pred")))
    plan = executed_plan(m)
    assert "Window" not in plan, plan
    assert plan.count("Exchange SinglePartition") == 1, plan
    assert "partial_avg" in plan or "HashAggregate" in plan
    row = m.first()
    assert row.mse >= 0 and row.r2 <= 1.0


def test_chunk_docs_prunes_scan_to_two_columns(spark):
    """The chunk fan-out reads ONLY (doc_id, text) from the corpus scan —
    column pruning must reach ReadSchema, or a 100 TB chunking pass drags
    every column through the explode."""
    plan = explain_formatted(_q(spark, "q_chunk_docs"))
    scan = plan.split("ReadSchema")[1][:200]
    assert "doc_id" in scan and "text" in scan
    assert "lang" not in scan and "source" not in scan


def test_pack_chunks_single_window_shuffle(spark):
    """Greedy packing = one hash exchange on the language stream (plus the
    final stats agg); no joins, no global ordering."""
    df = _q(spark, "q_pack_chunks")
    plan = executed_plan(df)
    assert "Join" not in plan, plan
    assert "Exchange SinglePartition" not in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 2, plan


def test_frame_sample_no_python_and_no_shuffle(spark):
    """Frame extraction is a pure map-side fan-out: no Exchange at all and
    no Python evaluation in the plan."""
    plan = executed_plan(_q(spark, "q_frame_sample"))
    assert "Exchange" not in plan, plan
    assert "Python" not in plan, plan


def test_stage_sorted_files_own_disjoint_ranges(spark, tmp_path):
    """Range-clustered staging: every output file owns a disjoint span of
    the sort key — the layout property parquet min/max skipping needs for
    a range predicate to prune files."""
    import glob

    from big_data_bowl_spark.sources.io import read_table, stage_sorted

    e = read_table(spark, SF_SMALL, "events").select("event_id", "user_id")
    path = str(tmp_path / "sorted_events")
    stage_sorted(e, path, ["event_id"], n_files=6)
    spans = []
    for f in glob.glob(path + "/part-*"):
        stats = spark.read.parquet(f).agg(
            F.min("event_id"), F.max("event_id")).first()
        if stats[0] is not None:
            spans.append((stats[0], stats[1]))
    spans.sort()
    assert len(spans) >= 4
    for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
        assert hi1 < lo2, spans  # disjoint, ordered ranges
    assert spark.read.parquet(path).count() == e.count()


def test_stage_sorted_timestamp_range_scan_prunes(spark, tmp_path):
    """A range predicate on a ``stage_sorted`` timestamp key skips row
    groups: the session writes INT64 TIMESTAMP_MICROS, whose min/max
    statistics the scan prunes on.  Legacy INT96 carries none, so the
    scan would read every row."""
    from big_data_bowl_spark.sources.io import read_table, stage_sorted

    e = read_table(spark, SF_MEDIUM, "events")
    path = str(tmp_path / "ts_sorted_events")
    stage_sorted(e, path, ["ts"], n_files=8)
    lo, hi = e.agg(F.min("ts"), F.max("ts")).first()
    early = F.col("ts") < F.lit(lo + (hi - lo) / 20)
    staged = spark.read.parquet(path).filter(early).select("ts")
    got = len(staged.collect())
    assert got == e.filter(early).count() and got > 0
    scan = staged._jdf.queryExecution().executedPlan().collectLeaves().apply(0)
    assert "parquet" in scan.nodeName().lower(), scan.nodeName()
    scanned = scan.metrics().apply("numOutputRows").value()
    assert scanned < e.count() / 2, (scanned, e.count())


def test_staged_parquet_format(spark, tmp_path):
    """Every staged file is in the session's storage format: zstd column
    chunks, v2 data-page encodings, and ``ts`` as INT64
    TIMESTAMP(MICROS) rather than legacy INT96."""
    import glob

    import pyarrow.parquet as pq

    from big_data_bowl_spark.sources.io import read_table, stage_parquet

    path = str(tmp_path / "staged_events")
    stage_parquet(read_table(spark, SF_SMALL, "events"), path)
    files = glob.glob(path + "/*.parquet")
    assert files
    encodings = set()
    for f in files:
        pf = pq.ParquetFile(f)
        ts = pf.schema.column(pf.schema.names.index("ts"))
        assert ts.physical_type == "INT64", ts
        assert str(ts.logical_type).startswith("Timestamp") \
            and "microseconds" in str(ts.logical_type), ts.logical_type
        md = pf.metadata
        for g in range(md.num_row_groups):
            for c in range(md.num_columns):
                chunk = md.row_group(g).column(c)
                assert chunk.compression == "ZSTD", chunk
                encodings.update(chunk.encodings)
    assert "DELTA_BINARY_PACKED" in encodings, encodings


def test_zscore_no_whole_partition_window(spark):
    """W6 at scale: group stats are an aggregate + broadcast join-back —
    no unbounded window over the low-cardinality group key (which would
    cap parallelism at the group count), and the fact side is never
    hash-exchanged on it."""
    df = _q(spark, "q_zscore_in_group")
    plan = executed_plan(df)
    assert "Window" not in plan, plan
    assert_broadcast_join(df, min_count=1)


def test_global_normalizers_no_window(spark):
    """Global min-max / percent-of-total denominators come from an
    aggregate + 1-row broadcast crossJoin, never a whole-partition window
    (which funnels the full table through ONE task).  q_scorecard keeps
    exactly one Window — the leaderboard rank (inherent total order on
    the entity-grain board); everything else is window-free."""
    for name in ("q_minmax_norm", "q_pct_of_total", "q_centroid_score"):
        plan = executed_plan(_q(spark, name))
        assert "Window" not in plan, (name, plan)
        # every join is broadcast (1-row scalars lower to
        # BroadcastNestedLoopJoin; dims to BroadcastHashJoin) — the fact
        # side is never shuffled for a join
        assert "SortMergeJoin" not in plan, (name, plan)
        assert "Broadcast" in plan, (name, plan)
    plan = executed_plan(_q(spark, "q_scorecard"))
    assert plan.count("Window") == 1, plan


def test_round3_ops_plan_shapes(spark):
    """Plan gates for the round-3 operator family:
    - negative sampling: LeftAnti join, no nested loop anywhere;
    - temperature mixture: rates arrive via broadcast, fact side is
      never sort-merge-joined;
    - resample: the grid attach is the single as-of window exchange, no
      cartesian/theta join;
    - BM25: hit filter sits below the first aggregate (pre-shuffle)."""
    plan = executed_plan(_q(spark, "q_negative_samples"))
    assert "LeftAnti" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan

    plan = executed_plan(_q(spark, "q_temperature_mix"))
    assert "SortMergeJoin" not in plan, plan
    assert "Broadcast" in plan, plan

    plan = executed_plan(_q(spark, "q_resample_ffill"))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "Window" in plan, plan

    plan = executed_plan(_q(spark, "q_bm25_rank"))
    agg_pos = plan.find("HashAggregate")
    assert agg_pos != -1 and "Filter" in plan[agg_pos:], plan


def test_round4_no_node_grain_broadcast_hints(spark):
    """Round-4 scale fixes stay fixed:
    - pagerank: the ONLY broadcast hint in a propagation round is the
      1-row dangling-mass scalar — never outdeg/ranks (node-grain);
    - jaccard_prefix_pairs: ZERO broadcast hints — the vocabulary df
      table is corpus-scale and must shuffle-join on token.
    Hints are asserted on the analyzed LOGICAL plan: a runtime broadcast
    chosen by AQE from small-SF statistics is fine; a hint is a promise
    at every scale."""
    from big_data_bowl_spark.operators.graph import pagerank_round
    from big_data_bowl_spark.pipeline.dedup import jaccard_prefix_pairs

    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 1), (4, 1)],
                                  "src long, dst long")
    ranks = spark.createDataFrame(
        [(1, 2, 1.0), (2, 1, 1.0), (3, 1, 1.0), (4, 1, 1.0)],
        "node long, outdeg long, rank double")
    nxt = pagerank_round(edges, ranks, 4, 0.85)
    analyzed = nxt._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("ResolvedHint") == 1, analyzed

    docs = spark.createDataFrame([(1, "a b c"), (2, "a b d")],
                                 "doc_id long, text string")
    # the ARRAY path (real corpora, V > 63): the vocabulary table is
    # corpus-scale and must never carry a broadcast promise
    jp = jaccard_prefix_pairs(docs, 0.5, small_vocab_bits=0)
    analyzed = jp._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("ResolvedHint") == 0, analyzed
    # the r11 BITMASK path: its ONE broadcast (the token→bit map, ≤
    # small_vocab_bits rows BY CONSTRUCTION) lives inside the pinned
    # doc-mask stage, so the downstream plan carries no hint at all —
    # in particular no node/corpus-grain promise
    jp_small = jaccard_prefix_pairs(docs, 0.5)
    analyzed = jp_small._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("ResolvedHint") == 0, analyzed

    # unigram LM: the only hint is the 1-row corpus total — the
    # vocabulary log-prob table must shuffle-join onto the tokens
    from big_data_bowl_spark.pipeline.ranking import unigram_scores
    us = unigram_scores(docs)
    analyzed = us._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("ResolvedHint") == 1, analyzed

    # Ed-Join: ZERO hints for the same reason — the gram-frequency table
    # is one row per distinct q-gram (corpus-scale vocabulary)
    from big_data_bowl_spark.pipeline.dedup import edit_distance_pairs
    ed = edit_distance_pairs(docs, max_dist=1, q=2,
                             id_col="doc_id", string_col="text")
    analyzed = ed._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("ResolvedHint") == 0, analyzed


def test_cdc_chunking_fans_out_but_never_key_shuffles(spark):
    """Content-defined chunking is in-row (staged arrays + posexplode)
    after ONE round-robin fan-out of the narrow (id, text) projection
    (r14: the map-only HOF folds otherwise serialize onto a
    single-row-group scan's lone partition — measured 1.24s -> 0.75s at
    sf0.1).  The plan must contain exactly that one RoundRobin exchange
    and NO hash/range (key) exchange — the property that keeps it
    embarrassingly parallel at any scale."""
    from big_data_bowl_spark.pipeline.text import cdc_chunk_documents
    from big_data_bowl_spark.sources.io import read_table

    from tests.conftest import SF_SMALL

    docs = read_table(spark, SF_SMALL, "documents")
    plan = (cdc_chunk_documents(docs)._jdf.queryExecution()
            .executedPlan().toString())
    assert plan.count("Exchange") == 1, plan
    assert "RoundRobinPartitioning" in plan, plan
    assert "hashpartitioning" not in plan, plan
    assert "rangepartitioning" not in plan, plan


def test_headline_queries_lint_clean(spark):
    """Every bench headline query passes the generic plan lint: no
    cartesian products, no row-at-a-time Python UDFs — the anti-pattern
    sweep that complements the query-specific contracts above."""
    from bench import HEADLINE
    from big_data_bowl_spark.plans import lint_plan

    findings = {}
    for name in HEADLINE:
        got = lint_plan(_q(spark, name))
        if got:
            findings[name] = got
    assert not findings, findings


def test_lint_catches_planted_antipatterns(spark):
    """The linter actually fires: a forced cartesian product and a
    row-wise Python UDF each produce a named finding."""
    from pyspark.sql.functions import udf

    from big_data_bowl_spark.plans import lint_plan

    a = spark.range(100)
    b = spark.range(100).withColumnRenamed("id", "id2")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_arrow = spark.conf.get(
        "spark.sql.execution.pythonUDF.arrow.enabled", "false")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        cart = a.crossJoin(b)
        assert any("CartesianProduct" in f for f in lint_plan(cart)), \
            lint_plan(cart)

        spark.conf.set("spark.sql.execution.pythonUDF.arrow.enabled",
                       "false")
        slow = a.withColumn("y", udf(lambda x: x + 1, "long")("id"))
        assert any("BatchEvalPython" in f for f in lint_plan(slow)), \
            lint_plan(slow)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.conf.set("spark.sql.execution.pythonUDF.arrow.enabled",
                       old_arrow)

    assert lint_plan(a.filter("id > 5").select("id"),
                     max_exchanges=0) == []
    over = lint_plan(a.repartition(4, "id").groupBy("id").count()
                     .repartition(8), max_exchanges=1)
    assert any("Exchange" in f for f in over), over


def test_pca_projection_is_map_only(spark):
    """q_pca_embed's scoring pass must have ZERO exchanges: the moment
    row aggregates in its own job, the power loop is driver-side, and
    the projection is literal-loading arithmetic over one scan — the
    100 TB contract (two scans total, nothing shuffled)."""
    assert count_exchanges(_q(spark, "q_pca_embed")) == 0


def test_hll_incremental_exchange_budget(spark):
    """Day-grain register state + merge + batch count: the shuffle
    budget is the register chain (day grain, type grain, estimate) plus
    the batch-count agg — a regression past 7 exchanges means the state
    table stopped being reused or a join lost its broadcast.  The query
    persists its day-grain state, so clear the cache first: a cached
    relation left by an earlier test replaces the subtree and shifts
    the count."""
    spark.catalog.clearCache()
    assert count_exchanges(_q(spark, "q_hll_incremental")) <= 7


def test_simhash_pairs_no_cartesian_and_budget(spark):
    """SimHash near-dup pairs: candidates come from the band equi-join
    only (the linter forbids CartesianProduct globally); the exchange
    budget pins the banding + pair-dedup shape."""
    from big_data_bowl_spark.plans import lint_plan

    df = _q(spark, "q_simhash")
    assert lint_plan(df) == []
    assert count_exchanges(df) <= 5


def test_pq_topk_scans_codes_not_vectors(spark):
    """Neutral-family PQ ADC must keep the no-vector-scan property: the
    final search stage reads codes only (the embedding column appears in
    the plan solely for the train/encode/query stages feeding it)."""
    from big_data_bowl_spark.plans import lint_plan

    assert lint_plan(_q(spark, "q_pq_topk")) == []


def test_lloyd_assignment_never_shuffles_on_vector_id(spark):
    """The r5 map-only assignment contract: no exchange in the whole
    Lloyd plan hashpartitions on the vector id — the corpus is never
    shuffled for assignment (the pre-r5 per-id row_number window did,
    once per round); only (label, dim) aggregations move data."""
    assert count_exchanges(_q(spark, "q_lloyd_kmeans"),
                           key_fragment="vec_id") == 0


def test_triangle_count_pins_edges(spark):
    """triangle_count pins its canonicalized edge relation ONCE
    (localCheckpoint — the pagerank discipline): the executed plan of
    the result must not contain the caller's edge-construction subtree
    at all (it ran eagerly at pin time), so the degree union, both
    wedge-join sides, and the closing join all read the one
    materialized edge table instead of re-executing the upstream
    projection per consumer."""
    from big_data_bowl_spark.operators.graph import triangle_count
    from big_data_bowl_spark.plans import executed_plan
    edges = (spark.range(100)
             .selectExpr("id % 13 AS src", "(id * 7) % 13 AS dst"))
    plan = executed_plan(triangle_count(edges))
    assert "Range" not in plan, plan  # upstream never re-executes
    assert "ExistingRDD" in plan or "LogicalRDD" in plan, plan


def test_global_distribution_queries_have_no_single_reducer_window(spark):
    """The wired scale paths stay wired: q_ks_drift and
    q_distribution_windows run their ordered pass through the
    deterministic-bucket cumsum: the plan must carry the in-row bucket
    id (__pid — a pure function of the row against driver-collected
    boundary literals, so re-executions can never disagree), and every
    full-data Window must be partitioned by it (the only unpartitioned
    window is the partitions-row offsets pass, which also orders by
    __pid).  A regression to a plain global window would show a Window
    line without __pid and no __pid column at all."""
    from big_data_bowl_spark.plans import executed_plan
    for name in ("q_ks_drift", "q_distribution_windows", "q_auc_exact"):
        plan = executed_plan(_q(spark, name))
        assert "__pid" in plan, (name, plan)
        for line in plan.splitlines():
            if "Window [" in line:
                assert "__pid" in line, (name, line)


def test_span_dedup_single_scan(spark):
    """Span dedup stays single-scan: the (gram, doc) rollup + per-gram
    window flag shape must read the corpus ONCE (the seen-set
    join-back alternative scans and explodes it twice)."""
    from big_data_bowl_spark.plans import executed_plan
    plan = executed_plan(_q(spark, "q_span_dedup"))
    assert plan.count("Scan parquet") == 1, plan


def test_poisson_bootstrap_single_shuffle(spark):
    """The x32 replicate fan-out collapses map-side: the replicate
    aggregate's plan carries exactly ONE exchange (the 32-row rep
    groupBy) — fan-out rows never shuffle."""
    from pyspark.sql import functions as F

    from big_data_bowl_spark.functions.scalar import cents
    from big_data_bowl_spark.pipeline.sampling import poisson_bootstrap
    from big_data_bowl_spark.sources.io import read_table

    o = read_table(spark, SF_SMALL, "orders").select(
        "o_orderkey", cents(F.col("o_totalprice")).alias("units"))
    reps = poisson_bootstrap(o, "units", "o_orderkey", reps=32)
    assert count_exchanges(reps) == 1, explain_formatted(reps)


def test_frequent_triples_prunes_via_broadcast_semi_joins(spark):
    """The Apriori pair prune rides BroadcastHashJoin LeftSemi nodes
    ahead of the triple count — candidate rows never shuffle for the
    prune — and the plan has no cartesian product."""
    plan = explain_formatted(_q(spark, "q_frequent_triples"))
    semis = plan.count("LeftSemi")
    assert semis >= 3, plan
    assert "CartesianProduct" not in plan


def test_hilbert_rounds_are_map_only(spark):
    """The 8 staged reflect/swap rounds are pure map-side arithmetic:
    the ONLY exchange is the 1-row min-max bounds aggregate (a
    SinglePartition collapse of 4 agg values) riding back as a
    broadcast — the fact rows never shuffle."""
    df = _q(spark, "q_hilbert_values")
    plan = explain_formatted(df)
    # exactly one shuffle Exchange node (formatted trees print shuffles
    # as "- Exchange (n)" and broadcasts as "- BroadcastExchange (n)";
    # count_exchanges' substring count would lump them together)
    assert plan.count("- Exchange (") == 1, plan
    assert "hashpartitioning" not in plan, plan


def test_dup_ngrams_two_level_agg_shape(spark):
    """q_dup_ngrams' gram counting must stay the map-side-combinable
    two-level aggregate: grams are BUILT in-row (zip_with over shifted
    slices — no explode before the partial agg sees a combiner), each
    n's count chain contributes its (doc, gram) and doc exchanges, and
    nothing degenerates to a cartesian or a whole-partition window."""
    plan = executed_plan(_q(spark, "q_dup_ngrams"))
    assert "CartesianProduct" not in plan, plan
    assert "Window" not in plan, plan
    # partial_count before each shuffle = map-side combine is in place
    assert plan.count("partial_count") >= 2, plan
    # 2 gram sizes x (gram-grain + doc-grain) shuffles + the doc joins;
    # anything beyond 8 means a lost exchange reuse
    assert plan.count("hashpartitioning") <= 8, plan


def test_kcenter_round_update_is_map_only(spark):
    """Each k-center selection round must never shuffle the fact side:
    the newest center arrives as a 1-row BroadcastExchange into a
    BroadcastNestedLoopJoin, the distance fold is in-row, and the state
    update carries no hash exchange, no Window, no sort."""
    from pyspark.sql import functions as F

    from big_data_bowl_spark.pipeline.similarity import _kcenter_update

    df = spark.range(50).select(
        F.col("id").alias("__id"),
        F.array(F.col("id").cast("double"),
                (F.col("id") * 2).cast("double")).alias("__v"),
        F.lit(None).cast("long").alias("__qmind"))
    plan = executed_plan(_kcenter_update(df, 0))
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "hashpartitioning" not in plan, plan
    assert "Window" not in plan and "Sort" not in plan, plan


def test_jl_project_fans_out_but_never_key_shuffles(spark):
    """The JL projection is pure codegen after ONE round-robin fan-out
    of the narrow (id, vector) projection (r14: the d_out in-row folds
    otherwise serialize onto a single-row-group scan's lone partition —
    measured 1.65s -> 1.22s at sf0.1, exceptAll-equal; same shape as
    the cdc-chunking test above).  Exactly that one RoundRobin
    exchange, NO key exchange, and still no Python."""
    plan = executed_plan(_q(spark, "q_jl_project"))
    assert plan.count("Exchange") == 1, plan
    assert "RoundRobinPartitioning" in plan, plan
    assert "hashpartitioning" not in plan, plan
    assert "rangepartitioning" not in plan, plan
    assert "Python" not in plan and "BatchEvalPython" not in plan, plan


def test_quality_classifier_is_map_only(spark):
    """The hashed linear filter must stay MAP-ONLY as its docstring
    claims: in-row token-array transform + aggregate — scan → project →
    filter, no exchange of any kind, no Python.  At 100 TB this is the
    difference between a pass over the corpus and a shuffle of it."""
    plan = executed_plan(_q(spark, "q_quality_classifier"))
    assert "Exchange" not in plan, plan
    assert "Python" not in plan and "BatchEvalPython" not in plan, plan


def test_greedy_cover_round_has_no_in_list(spark):
    """The per-round covered-set filter must be a LEFT ANTI join against
    the DISTRIBUTED covered grams, never a literal IN-list of grams (an
    isin over the covered grams grows the plan with k × the winners'
    distinct grams — multi-megabyte plans re-analyzed each round at
    real document lengths) and never a broadcast of driver-collected
    grams (r9's shape: k gram round-trips through the driver and a hard
    driver-memory ceiling at corpus scale).  The covered side is the
    chosen docs' grams filtered out of the pinned table by doc id, so
    the only plan literals are the ≤k chosen ids, and it is broadcast."""
    from pyspark.sql import functions as F

    from big_data_bowl_spark.pipeline.sampling import _uncovered

    dg = spark.range(100).select(
        F.col("id").alias("__id"),
        F.concat(F.lit("g"), (F.col("id") % 37)).alias("__g"))
    cand = _uncovered(dg, [3, 5])
    plan = executed_plan(cand, execute=True)
    assert "LeftAnti" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    # no covered gram may appear as a plan literal: the IN-list holds
    # the chosen doc ids alone
    optimized = cand._jdf.queryExecution().optimizedPlan().toString()
    assert "IN(3,5)" in optimized.replace(" ", ""), optimized
    assert "g3" not in optimized and "g5" not in optimized, optimized
    assert {r["__g"] for r in cand.select("__g").distinct().collect()} \
        == {f"g{i}" for i in range(37)} - {"g3", "g5"}


def test_jaccard_prefix_path_selection(spark):
    """r12 (VERDICT item 3): jaccard_prefix_pairs auto-selects its
    physical strategy on the DISTINCT token count V — the bitmask
    set-grain path (codegen bit_count verification) at V <= 504, the
    classic array path (rarest-first prefix join + array_intersect
    verification) above.  Pin the selector so a threshold or probe
    regression can't silently flip real corpora (V >> 504) onto a
    path sized for toy vocabularies."""
    from pyspark.sql import Row

    from big_data_bowl_spark.pipeline.dedup import jaccard_prefix_pairs

    small = spark.createDataFrame(
        [Row(doc_id=i, text=f"tok{i % 10} tok{(i + 1) % 10}")
         for i in range(30)])
    plan_small = (jaccard_prefix_pairs(small, threshold=0.6)
                  ._jdf.queryExecution().optimizedPlan().toString())
    assert "bit_count" in plan_small, plan_small
    assert "array_intersect" not in plan_small, plan_small

    # 600 distinct tokens > 504 forces the array path (each doc pairs
    # two neighbors so prefixes are non-trivial)
    big = spark.createDataFrame(
        [Row(doc_id=i, text=f"w{i} w{(i + 1) % 600} w{(i + 2) % 600}")
         for i in range(600)])
    plan_big = (jaccard_prefix_pairs(big, threshold=0.6)
                ._jdf.queryExecution().optimizedPlan().toString())
    assert "array_intersect" in plan_big, plan_big
    assert "bit_count" not in plan_big, plan_big


def test_jaccard_array_path_suffix_histogram_pinned(spark):
    """r13: the array path's suffix-histogram filter (the PPJoin+
    suffix filter as a hashed count-histogram bound) must stay in the
    plan — its loss is nearly invisible at short-record corpora
    (Mann et al.'s break-even regime) but costs 2-5x on long records,
    so a silent regression would pass the midvocab leg.  Pin three
    facts on the optimized plan: the window builds the packed suffix
    sums over the SAME (df, token)-sorted partition as the rank
    (specframe 1 FOLLOWING..UNBOUNDED), the candidate filter extracts
    16-bit lanes (the `& 65535` masks), and the __n > 65535
    lane-overflow guard is present."""
    from pyspark.sql import Row

    from big_data_bowl_spark.pipeline.dedup import jaccard_prefix_pairs

    big = spark.createDataFrame(
        [Row(doc_id=i, text=f"w{i} w{(i + 1) % 600} w{(i + 2) % 600}")
         for i in range(600)])
    plan = (jaccard_prefix_pairs(big, threshold=0.6)
            ._jdf.queryExecution().optimizedPlan().toString())
    assert "unboundedfollowing" in plan.replace(" ", "").lower(), plan
    assert plan.count("& 65535") >= 8, plan       # 16 lanes x 2 sides
    assert "> 65535" in plan, plan                # overflow guard
