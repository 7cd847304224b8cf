"""Iterative graph operators beyond connected components: PageRank.

Same scale discipline as the dedup components fixpoint
(pipeline/dedup.py): pure DataFrame joins + aggregates per round, each
round pinned by :func:`.fixpoint.iterate` so plan depth stays O(1), no
driver data paths.  Ranks are floats reduced by distributed sums; per-round
association-order drift is ~1e-16 relative — far inside the round-to-6
output window — so the fixed-iteration fixpoint hash-matches a DuckDB
oracle that unrolls the rounds as CTE stages with IEEE-identical
constants.  Invariants (mass conservation up to dangling loss,
determinism of the support set) additionally carry property tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schemas import require_columns
from .fixpoint import iterate


def bipartite_edges(df: DataFrame, entity_col: str, item_col: str,
                    max_entities_per_item: int | None = None,
                    undirected: bool = False) -> DataFrame:
    """Project a bipartite (entity, item) relation onto entity–entity
    edges: an edge per ordered pair of distinct entities sharing an item
    (deduped across items).  Fan-out is C(entities-per-item, 2) — the
    J6 bounded-quadratic discipline; pass ``max_entities_per_item`` to
    fail loud on hub items (stop-item removal is the 100 TB pre-step,
    exactly like stop-word removal in the prefix-filter join).

    ``undirected=True`` emits each edge ONCE in canonical src < dst
    form: the co-join filters ``<`` instead of ``≠``, halving the pair
    fan-out through the shuffle and the dedup — the right input for
    symmetric consumers (triangle counting), which would otherwise pay
    a second canonicalize+distinct pass over double-width edges."""
    require_columns(df, [entity_col, item_col], "bipartite_edges")
    pairs = df.select(F.col(entity_col).alias("e"),
                      F.col(item_col).alias("i")).distinct()
    if max_entities_per_item is not None:
        from .checks import check_group_cardinality
        pairs = check_group_cardinality(pairs, ["i"], max_entities_per_item)
    a = pairs.select(F.col("i"), F.col("e").alias("src"))
    b = pairs.select(F.col("i"), F.col("e").alias("dst"))
    cond = (F.col("src") < F.col("dst")) if undirected \
        else (F.col("src") != F.col("dst"))
    return (a.join(b, "i")
             .filter(cond)
             .select("src", "dst").distinct())


def pagerank(edges: DataFrame, iters: int = 10,
             damping: float = 0.85) -> DataFrame:
    """PageRank over an edge list (src, dst): ``iters`` rounds of
    rank/out-degree propagation with damping; dangling-node mass is
    redistributed uniformly each round so total rank stays n_nodes.

    Per round: ONE shuffle join edges⋈ranks on src (ranks is node-grain
    — far smaller than edges; at web scale both shuffle on the node key
    and stay co-partitioned round to round — so no broadcast hint: a
    node-grain table is exactly what must never ship to every executor),
    one aggregate on dst, one broadcast of the 1-row dangling-mass
    scalar.  The static out-degree is folded INTO the ranks relation
    once up front and carried round to round, so each iteration needs no
    second join and the dangling filter is a co-located null test.
    Rounds run through :func:`.fixpoint.iterate`.  Returns
    (node, rank)."""
    require_columns(edges, ["src", "dst"], "pagerank")
    # Pin the edge relation ONCE: every iteration (and nodes/outdeg below)
    # re-consumes it, and an unpinned lineage would re-run the caller's
    # whole edge construction — e.g. a bipartite projection's self-join —
    # per round.  localCheckpoint here is the single-JVM form of the
    # persist-the-edge-RDD discipline every iterative graph engine uses
    # (GraphX caches the edge partition structure for exactly this reason).
    edges = edges.localCheckpoint(eager=False)
    nodes = (edges.select(F.col("src").alias("node"))
                  .union(edges.select(F.col("dst").alias("node")))
                  .distinct())
    n_nodes = nodes.count()
    outdeg = edges.groupBy(F.col("src").alias("node")) \
                  .agg(F.count(F.lit(1)).alias("outdeg"))
    # ranks carries (node, outdeg, rank); outdeg NULL ⇔ dangling node
    ranks = (nodes.join(outdeg, "node", "left")
                  .withColumn("rank", F.lit(1.0))
                  .localCheckpoint(eager=False))
    def step(r: DataFrame) -> DataFrame:
        return pagerank_round(edges, r, n_nodes, damping)

    return iterate(ranks, step, iters).select("node", "rank")


def _inflow(edges: DataFrame, ranks: DataFrame, *carried: str) -> DataFrame:
    """The propagation half both PageRank rounds share: ``ranks``'
    ``node`` and ``carried`` columns, the rank ``inflow`` along edges
    (NULL for nodes nobody links to) and the dangling mass ``__dm``
    on every row.  ``ranks`` carries (node, outdeg, rank, ...)."""
    contrib = (edges.join(ranks.select(F.col("node").alias("src"),
                                       "rank", "outdeg"), "src")
                    .groupBy(F.col("dst").alias("node"))
                    .agg(F.sum(F.col("rank") / F.col("outdeg"))
                          .alias("inflow")))
    # dangling mass: rank parked on nodes with no out-edges — a filter
    # on the carried outdeg, not a join
    dangling = (ranks.filter(F.col("outdeg").isNull())
                     .agg(F.coalesce(F.sum("rank"), F.lit(0.0))
                           .alias("__dm")))
    return (ranks.select("node", *carried).join(contrib, "node", "left")
                 .crossJoin(F.broadcast(dangling)))


def pagerank_round(edges: DataFrame, ranks: DataFrame, n_nodes: int,
                   damping: float) -> DataFrame:
    """One propagation round (exposed unexecuted so tests can pin the plan
    shape: the ONLY broadcast hint is the 1-row dangling scalar — never a
    node-grain table).  ``ranks`` carries (node, outdeg, rank)."""
    return _inflow(edges, ranks, "outdeg").select(
        "node", "outdeg",
        ((1 - damping)
         + damping * (F.coalesce(F.col("inflow"), F.lit(0.0))
                      + F.col("__dm") / n_nodes)).alias("rank"))


def triangle_count(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts via DEGREE-ORIENTED wedge closing — the
    classic trick that makes triangle enumeration survive hubs: orient
    every undirected edge from its lower-(degree, node) endpoint to the
    higher one, so each node's oriented out-degree is O(sqrt(2m)) no
    matter how big its raw degree, and the wedge self-join's fan-out is
    sum(outdeg²) instead of sum(deg²) — a celebrity node with 10⁶
    followers contributes nothing to the quadratic term unless its
    neighbors are themselves high-degree.

    Every triangle is counted exactly once (its unique lowest-order apex
    emits the wedge; the closing edge's orientation between the two
    upper endpoints follows the same total order, so the final equi-join
    finds it in exactly one direction).  Three shuffles total: degree
    agg, the wedge join, the closing join.  Input edges may carry either
    or both orientations; they canonicalize first.  Returns
    (node, n_triangles) for nodes in ≥1 triangle.
    """
    require_columns(edges, ["src", "dst"], "triangle_count")
    und = (edges.select(F.least("src", "dst").alias("a"),
                        F.greatest("src", "dst").alias("b"))
                .filter(F.col("a") != F.col("b"))
                .distinct())
    # Pin the canonicalized edge relation ONCE (same discipline as
    # pagerank's edge pin above): `und` feeds the degree union twice,
    # both sides of the wedge self-join (via `oriented`), and the
    # closing join — without the pin, a caller's expensive edge
    # construction (e.g. a bipartite self-join + distinct) re-executes
    # in every one of those plan subtrees.
    und = und.localCheckpoint(eager=False)
    deg = (und.select(F.col("a").alias("node"))
              .union(und.select(F.col("b").alias("node")))
              .groupBy("node").agg(F.count(F.lit(1)).alias("deg")))
    withdeg = (und.join(deg.select(F.col("node").alias("a"),
                                   F.col("deg").alias("da")), "a")
                  .join(deg.select(F.col("node").alias("b"),
                                   F.col("deg").alias("db")), "b"))
    # total order: (deg, node); orient low -> high
    a_first = (F.col("da") < F.col("db")) | \
              ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b")))
    oriented = withdeg.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(a_first, F.col("da")).otherwise(F.col("db")).alias("du"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("dv"))
    l = oriented.select(F.col("u"), F.col("v").alias("x"),
                        F.col("dv").alias("dx"))
    r = oriented.select(F.col("u"), F.col("v").alias("y"),
                        F.col("dv").alias("dy"))
    x_first = (F.col("dx") < F.col("dy")) | \
              ((F.col("dx") == F.col("dy")) & (F.col("x") < F.col("y")))
    wedges = (l.join(r, "u")
               .filter(F.col("x") != F.col("y"))
               .filter(x_first)
               .select("u", F.col("x").alias("v"), F.col("y").alias("w")))
    tris = wedges.join(
        oriented.select(F.col("u").alias("v"), F.col("v").alias("w")),
        ["v", "w"])
    # one explode, not a 3-way union: a union would embed the wedge +
    # closing joins (the two expensive operators) three times in the
    # plan and re-probe them per branch
    per_corner = tris.select(
        F.explode(F.array("u", "v", "w")).alias("node"))
    return per_corner.groupBy("node").agg(
        F.count(F.lit(1)).alias("n_triangles"))


def kcore(edges: DataFrame, k: int = 3, rounds: int = 3) -> DataFrame:
    """k-core peel: iteratively drop nodes of degree < ``k`` — the
    standard dense-subgraph / spam-cluster extractor (a node's coreness
    bounds its clique membership, and k-cores are where coordinated
    behavior concentrates).

    Fixed ``rounds`` budget rather than a data-dependent fixpoint test:
    each peel round is deterministic, so a FIXED unroll is exactly
    reproducible by a SQL oracle (the pagerank discipline), and a round
    that removes nothing is a no-op — extra rounds are idempotent, so
    the budget only needs to cover the peel depth, not match it.
    Production fixpoint = raise ``rounds`` or loop on a count check;
    the per-round plan is identical.

    Per round: ONE degree aggregate over the canonical edge union + two
    left-semi joins that keep only edges between surviving nodes, with
    the result pinned by :func:`.fixpoint.iterate` so lineage stays O(1)
    and the next round's degree union never re-executes the previous
    rounds.  The keep-set is node-grain — far
    smaller than edges; the semi joins shuffle on the node key and stay
    co-partitioned round to round, so no broadcast hint.  Returns the
    surviving (node, deg) after ``rounds`` peels.

    Input edges may carry either or both orientations; they
    canonicalize to src<dst first (same contract as
    :func:`triangle_count`)."""
    require_columns(edges, ["src", "dst"], "kcore")
    und = (edges.select(F.least("src", "dst").alias("a"),
                        F.greatest("src", "dst").alias("b"))
                .filter(F.col("a") != F.col("b"))
                .distinct()
                .localCheckpoint(eager=False))

    def degrees(e: DataFrame) -> DataFrame:
        return (e.select(F.col("a").alias("node"))
                 .union(e.select(F.col("b").alias("node")))
                 .groupBy("node").agg(F.count(F.lit(1)).alias("deg")))

    def step(e: DataFrame) -> DataFrame:
        keep = degrees(e).filter(F.col("deg") >= k).select("node")
        return (e.join(keep.select(F.col("node").alias("a")),
                       "a", "left_semi")
                 .join(keep.select(F.col("node").alias("b")),
                       "b", "left_semi"))

    return degrees(iterate(und, step, rounds))


def _undirected_neighbors(edges: DataFrame) -> DataFrame:
    """Canonicalize an edge list to distinct undirected edges, then emit
    the doubled (node, nb) adjacency — pinned once, because iterative
    consumers hit it every round (loop inputs pin once, loop states
    through :func:`.fixpoint.iterate`)."""
    und = (edges.select(F.least("src", "dst").alias("a"),
                        F.greatest("src", "dst").alias("b"))
                .filter(F.col("a") != F.col("b"))
                .distinct())
    return (und.select(F.col("a").alias("node"), F.col("b").alias("nb"))
               .union(und.select(F.col("b").alias("node"),
                                 F.col("a").alias("nb")))
               .localCheckpoint(eager=False))


def label_propagation(edges: DataFrame, rounds: int = 3) -> DataFrame:
    """Synchronous label propagation (LPA) community detection
    (Raghavan et al. 2007): every node starts as its own label; each
    round it adopts the MOST FREQUENT label among its neighbors, ties
    broken by the smallest label — a deterministic synchronous variant,
    so a FIXED round unroll is exactly reproducible by a SQL oracle
    (the pagerank/kcore discipline; asynchronous LPA is run-order
    dependent and cannot be oracle-checked).

    Per round: ONE shuffle join adjacency⋈labels on the neighbor key +
    one (node, label) count aggregate; the argmax collapses in the same
    aggregate pass as ``max(struct(count, -label))`` — no window, no
    second exchange.  Labels are node-grain (≪ edges) and pin each
    round so lineage stays O(1).  At 1000-executor scale both the
    adjacency and the label table shuffle on the node key and stay
    co-partitioned round to round.

    Returns (node, label) after ``rounds`` synchronous updates; label
    is the elected community id (a member node id)."""
    require_columns(edges, ["src", "dst"], "label_propagation")
    nbr = _undirected_neighbors(edges)
    labels = (nbr.select("node").distinct()
                 .withColumn("label", F.col("node")))
    best = F.max(F.struct(F.col("c"),
                          (-F.col("label")).alias("nl"))).alias("m")

    def step(lab: DataFrame) -> DataFrame:
        votes = (nbr.join(lab.select(F.col("node").alias("nb"), "label"),
                          "nb")
                    .groupBy("node", "label")
                    .agg(F.count(F.lit(1)).alias("c")))
        return (votes.groupBy("node").agg(best)
                     .select("node", (-F.col("m.nl")).alias("label")))

    return iterate(labels, step, rounds)


def modularity(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """Newman modularity of a partition: per community c,
    term(c) = e_in(c)/m − (deg(c)/2m)², Q = Σ term — the standard
    community-quality score evaluated over a canonical undirected edge
    list (one (src, dst) row per edge, src < dst) and a (node, label)
    partition (e.g. :func:`label_propagation` output).

    EVERY quantity — m, e_in, deg — is computed from the LABEL-COVERED
    edge set (both endpoints labeled), so a partition that does not
    cover every endpoint yields the exact modularity of the labeled
    subgraph rather than a silently skewed Q (an uncovered edge used
    to inflate m while contributing to neither e_in nor deg).  Under
    full coverage (e.g. LPA output, whose labels span every endpoint)
    the covered set IS the edge set and nothing changes.

    e_in is one join of edges against labels on BOTH endpoints
    (node-grain build side); deg(c) reuses the same joined frame (each
    edge contributes one endpoint-slot to each side's community), so
    labels join exactly once; per-community terms round at 9 before
    the sum and Q rides every community row as a 1-row broadcast.
    Everything after the inputs is two aggregates on community-grain
    tables.  Returns (community, e_in, deg_sum, term, modularity)."""
    require_columns(edges, ["src", "dst"], "modularity")
    require_columns(labels, ["node", "label"], "modularity")
    la = labels.select(F.col("node").alias("src"),
                       F.col("label").alias("__la"))
    lb = labels.select(F.col("node").alias("dst"),
                       F.col("label").alias("__lb"))
    cov = edges.join(la, "src").join(lb, "dst")
    m = cov.agg(F.count(F.lit(1)).alias("__m"))
    e_in = (cov.filter(F.col("__la") == F.col("__lb"))
               .groupBy(F.col("__la").alias("community"))
               .agg(F.count(F.lit(1)).alias("e_in")))
    degc = (cov.select(F.col("__la").alias("community"))
               .union(cov.select(F.col("__lb").alias("community")))
               .groupBy("community")
               .agg(F.count(F.lit(1)).alias("deg_sum")))
    terms = (degc.join(e_in, "community", "left")
                 .select("community", "deg_sum",
                         F.coalesce(F.col("e_in"), F.lit(0)).alias("e_in"))
                 .crossJoin(F.broadcast(m))
                 .select("community", "e_in", "deg_sum",
                         F.round(F.col("e_in").cast("double")
                                 / F.col("__m").cast("double")
                                 - (F.col("deg_sum").cast("double")
                                    / (2.0 * F.col("__m").cast("double")))
                                 * (F.col("deg_sum").cast("double")
                                    / (2.0 * F.col("__m").cast("double"))),
                                 9).alias("term"))
                 .localCheckpoint(eager=False))
    q = terms.agg(F.round(F.sum("term"), 6).alias("modularity"))
    return terms.crossJoin(F.broadcast(q))


def bfs_hops(edges: DataFrame, seeds: DataFrame,
             max_hops: int = 3) -> DataFrame:
    """Multi-source BFS hop distance: min number of edges from any seed
    node, frontier-relaxed for a FIXED ``max_hops`` rounds (Bellman-Ford
    style min-relax — rounds past the true eccentricity are idempotent,
    the kcore budget argument, so the unrolled SQL oracle only needs the
    budget to cover the hop cap, and the cap itself is part of the
    query's semantics: "reachable within k hops").

    Per round: ONE shuffle join adjacency⋈dist on the node key + one
    min aggregate over (old dist ∪ relaxed candidates); dist is
    node-grain and pins each round.  This is exactly how Pregel-style
    SSSP maps onto joins — no driver-side frontier set, no collect.

    ``seeds`` is a 1-column (node) DataFrame; returns (node, hops) for
    every node reachable within ``max_hops``.  A seed is reachable from
    itself at hops 0 even when it has no edges — isolated seeds KEEP
    their row (review finding: an earlier semi-join against the
    adjacency silently dropped them, breaking the stated contract)."""
    require_columns(edges, ["src", "dst"], "bfs_hops")
    require_columns(seeds, ["node"], "bfs_hops")
    nbr = _undirected_neighbors(edges)
    dist = (seeds.select("node").distinct()
                 .withColumn("hops", F.lit(0).cast("long")))
    def step(d: DataFrame) -> DataFrame:
        relaxed = (nbr.join(d, "node")
                      .select(F.col("nb").alias("node"),
                              (F.col("hops") + 1).alias("hops")))
        return (d.unionByName(relaxed)
                 .groupBy("node")
                 .agg(F.min("hops").alias("hops")))

    return iterate(dist, step, max_hops)


def personalized_pagerank(edges: DataFrame, seeds: DataFrame,
                          iters: int = 5, damping: float = 0.85) -> DataFrame:
    """Personalized (topic-sensitive) PageRank: teleport lands on the
    ``seeds`` set instead of uniformly, so rank mass concentrates in
    the seeds' neighborhood — the classic relatedness/recommendation
    score (Haveliwala 2002).  r' = e·((1−d) + d·dm) + d·A^T r with
    e = 1/|S| on seeds (restricted to graph nodes), 0 elsewhere, and
    dangling mass dm re-teleporting to the seeds; total mass stays 1.

    Same scale shape as :func:`pagerank` (whose edge-pin discipline and
    per-round cost notes apply verbatim): the teleport vector is CARRIED
    as a column of the node-grain ranks relation, so each round is still
    one edges⋈ranks shuffle + one aggregate + a 1-row dangling
    broadcast.  Deterministic and fixed-iteration, so the oracle unrolls
    the rounds exactly like the PageRank one.  Returns (node, rank)."""
    require_columns(edges, ["src", "dst"], "personalized_pagerank")
    require_columns(seeds, ["node"], "personalized_pagerank")
    edges = edges.localCheckpoint(eager=False)
    nodes = (edges.select(F.col("src").alias("node"))
                  .union(edges.select(F.col("dst").alias("node")))
                  .distinct())
    # pinned: the caller's seed pipeline (often a corpus scan +
    # distinct) and the nodes union would otherwise execute once for
    # the count and AGAIN when ranks materializes (review finding)
    seed_nodes = (seeds.select("node").distinct()
                       .join(nodes, "node", "left_semi")
                       .withColumn("__is_seed", F.lit(1))
                       .localCheckpoint(eager=False))
    n_seeds = seed_nodes.count()
    if n_seeds == 0:
        raise ValueError("personalized_pagerank: no seed appears in "
                         "the graph — teleport mass has nowhere to go")
    outdeg = edges.groupBy(F.col("src").alias("node")) \
                  .agg(F.count(F.lit(1)).alias("outdeg"))
    ranks = (nodes.join(outdeg, "node", "left")
                  .join(seed_nodes, "node", "left")
                  .withColumn("tele",
                              F.when(F.col("__is_seed") == 1,
                                     F.lit(1.0 / n_seeds))
                               .otherwise(F.lit(0.0)))
                  .withColumn("rank", F.col("tele"))
                  .select("node", "outdeg", "tele", "rank")
                  .localCheckpoint(eager=False))
    def step(r: DataFrame) -> DataFrame:
        return _inflow(edges, r, "outdeg", "tele").select(
            "node", "outdeg", "tele",
            (F.col("tele") * ((1 - damping) + damping * F.col("__dm"))
             + damping * F.coalesce(F.col("inflow"), F.lit(0.0)))
            .alias("rank"))

    return iterate(ranks, step, iters).select("node", "rank")


# rescale only when a sweep max passes this; below it the classic
# micro-unit values are exact and small graphs stay hand-computable
_HITS_RESCALE_TRIGGER = 1 << 31


def hits(edges: DataFrame, iters: int = 3,
         quantum: int = 1_000_000) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg 1999) over a DIRECTED edge
    list (src, dst), INTEGER-EXACT: scores start at ``quantum`` micro-
    units and each round runs the two classic sweeps —
    auth(v) = Σ_{u→v} hub(u), then hub(u) = Σ_{u→v} auth(v) — as LONG
    sums, which are associative and partition-order-free, so the
    fixpoint is bit-identical on any engine (the house rule).  Kleinberg
    normalizes per round purely to keep floats bounded; the integer
    analogue here is a DETERMINISTIC integer rescale after each sweep,
    TRIGGERED only when the sweep max exceeds 2³¹: s = max DIV quantum,
    col = col DIV s (Spark's integral DIV ≡ DuckDB's // on BIGINT —
    never float division, which loses ulps past 2^53).  Below the
    trigger the iterates are untouched, so small graphs keep the exact
    classic micro-unit values; above it every sweep starts from
    < 2³¹-scale scores, so a sweep's long sum is < 2³¹·max_deg and
    overflow would need a degree above 2³² (≥4 billion distinct
    neighbors) — without the rescale, iterates grow like
    quantum·max_deg^(2·iters) and a max degree of ~143 already wraps
    int64 at 3 rounds, silently under Spark's non-ANSI long sum.
    Presentation scaling is the caller's concern.

    Scale shape: the pagerank discipline — scores are node-grain and
    join edges on the node key (never broadcast), one shuffle join +
    one long-sum aggregate per sweep, rounds through
    :func:`.fixpoint.iterate`.  Each rescale's driver ``max`` reads a
    pinned frame: the auth half pins inside the round, and the hub
    rescale runs at the top of the next round and once after the last.
    Returns (node, hub, auth) longs."""
    require_columns(edges, ["src", "dst"], "hits")
    edges = edges.localCheckpoint(eager=False)
    nodes = (edges.select(F.col("src").alias("node"))
                  .union(edges.select(F.col("dst").alias("node")))
                  .distinct())
    start = nodes.withColumn("hub", F.lit(quantum).cast("long")) \
                 .withColumn("auth", F.lit(quantum).cast("long"))

    def _rescaled(df: DataFrame, col: str) -> DataFrame:
        # one driver-scale max per sweep; integral DIV keeps it exact
        if df is start:  # its max is quantum: rescaling is a no-op
            return df
        mx = df.agg(F.max(col)).first()[0] or 0
        if mx <= _HITS_RESCALE_TRIGGER:
            return df
        s = mx // quantum
        return df.withColumn(col, F.expr(f"{col} DIV {s}"))

    def step(st: DataFrame) -> DataFrame:
        st = _rescaled(st, "hub")
        auth = (edges.join(st.select(F.col("node").alias("src"), "hub"),
                           "src")
                     .groupBy(F.col("dst").alias("node"))
                     .agg(F.sum("hub").cast("long").alias("__a")))
        st_a = _rescaled(
            st.select("node", "hub").join(auth, "node", "left")
              .select("node", "hub",
                      F.coalesce("__a", F.lit(0)).cast("long").alias("auth"))
              .localCheckpoint(eager=False), "auth")
        hub = (edges.join(st_a.select(F.col("node").alias("dst"), "auth"),
                          "dst")
                    .groupBy(F.col("src").alias("node"))
                    .agg(F.sum("auth").cast("long").alias("__h")))
        return (st_a.select("node", "auth").join(hub, "node", "left")
                    .select("node",
                            F.coalesce("__h", F.lit(0)).cast("long")
                             .alias("hub"),
                            "auth"))

    state = _rescaled(iterate(start, step, iters), "hub")
    return state.select("node", "hub", "auth")
