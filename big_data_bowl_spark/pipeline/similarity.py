"""Similarity search over an embedding column (array<float>).

Baseline: brute-force cosine top-k — a broadcast of the (small) query set
against the candidate corpus, dot products computed with zip_with/aggregate
entirely JVM-side.  At 100 TB the corpus side stays partitioned and is
scanned once; only the query set moves.

Scale paths:
- LSH-bucketed variant — random-hyperplane signs bucket the vectors;
  queries only meet candidates in their own bucket, turning the
  brute-force O(Q×N) into O(Q×N/2^bits) per probe.
- IVF (inverted-file) variant — a KMeans coarse quantizer assigns every
  vector to a cell; queries probe only their ``nprobe`` nearest cells and
  re-rank exactly within them.  With ``nprobe == n_cells`` the search is
  exhaustive and provably equals the brute-force result (the equivalence
  test); with small ``nprobe`` the corpus side touches ~nprobe/n_cells of
  the data.  At 100 TB the cell id becomes the physical partition key so a
  probe is a partition-pruned scan.

Every search is a composition of the private operators below: the
vector/query/corpus projections, ``_cosine`` + ``_nearest`` (exact
re-rank and top-k), ``_probe_cells`` + ``_ivf_search`` (cell probe),
``_label_cells`` (the label-mean coarse quantizer), ``_subvectors`` +
``_adc_tables`` + ``_adc`` (PQ scoring) and ``_mean_vectors`` (every
centroid mean).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.scalar import roundn
from ..operators.fixpoint import greedy, iterate
from ..operators.windows import topk_per_group
from ..schemas import arrow_fanout, fan_out, require_columns
from .sampling import HASH_KEY_MOD, HASH_MOD, HASH_MULT, wang_mixed_hash


def _as_double(col) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x),
                              F.lit(0.0), lambda acc, x: acc + x))


def _sqdist(a: Column, b: Column) -> Column:
    """Squared Euclidean distance, folded left to right — the same IEEE
    double on every engine that folds in element order."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
                       F.lit(0.0), lambda acc, x: acc + x)


def _vectors(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(id, v array<double>) — floats cast to double BEFORE any
    arithmetic so element-order folds match the oracles bit for bit.
    A null vector is dropped: it is never a query, a candidate or a
    code row."""
    return (df.filter(F.col(vec_col).isNotNull())
              .select(F.col(id_col), _as_double(F.col(vec_col)).alias("v")))


def _queries(vecs: DataFrame, query_ids: list[int], id_col: str,
             *keys: str) -> DataFrame:
    """The query side of a search: (query_id, qv, *keys)."""
    return (vecs.filter(F.col(id_col).isin(query_ids))
                .select(F.col(id_col).alias("query_id"),
                        F.col("v").alias("qv"), *keys))


def _corpus(vecs: DataFrame, id_col: str, *keys: str) -> DataFrame:
    """The candidate side of a search: (neighbor_id, nv, *keys)."""
    return vecs.select(F.col(id_col).alias("neighbor_id"),
                       F.col("v").alias("nv"), *keys)


def _cosine(pairs: DataFrame) -> DataFrame:
    """Exact cosine of every (query, candidate) pair but the query
    itself: (query_id, neighbor_id, cosine), rounded at 6."""
    cos = _dot(F.col("qv"), F.col("nv")) \
        / (_norm(F.col("qv")) * _norm(F.col("nv")))
    return (pairs.filter(F.col("query_id") != F.col("neighbor_id"))
                 .select("query_id", "neighbor_id",
                         roundn(cos).alias("cosine")))


def _nearest(scored: DataFrame, k: int) -> DataFrame:
    """Top-k cosine per query, ties to the lower neighbor id."""
    return topk_per_group(scored, ["query_id"],
                          [F.desc("cosine"), F.asc("neighbor_id")], k)


def _probe_cells(q: DataFrame, centroids: DataFrame,
                 nprobe: int) -> DataFrame:
    """Each query's ``nprobe`` nearest cells: the query set scores every
    (cell, centroid) row of a broadcast codebook, ties to the lower cell.
    Returns (query_id, qv, cell)."""
    scored = (q.crossJoin(F.broadcast(centroids))
               .withColumn("__d", _sqdist(F.col("qv"), F.col("centroid"))))
    return (topk_per_group(scored, ["query_id"],
                           [F.asc("__d"), F.asc("cell")], nprobe)
            .select("query_id", "qv", "cell"))


def _ivf_search(q: DataFrame, corpus: DataFrame, centroids: DataFrame,
                nprobe: int, k: int) -> DataFrame:
    """IVF search: probe cells, meet the (neighbor_id, nv, cell) corpus
    on the cell-id equi-join, exact cosine re-rank."""
    pairs = (F.broadcast(_probe_cells(q, centroids, nprobe))
             .join(corpus, "cell"))
    return _nearest(_cosine(pairs), k)


def _label_cells(df: DataFrame, id_col: str, vec_col: str,
                 label_col: str) -> tuple[DataFrame, DataFrame]:
    """The deterministic coarse quantizer: per-label mean centroids, and
    every vector's nearest of them (l2, ties to the lower label).
    Returns ((id, cell), (cell, centroid)); cells keep the label type."""
    cents = (label_centroids(df, id_col, vec_col, label_col)
             .select(F.col(label_col).alias("cell"), "centroid"))
    cells = (assign_to_centroids(df, cents.withColumnRenamed(
                 "cell", "cand_label"), id_col, vec_col, metric="l2")
             .select(F.col(id_col), F.col("assigned_label").alias("cell")))
    return cells, cents


def _mean_vectors(df: DataFrame, keys: list[str], vec) -> DataFrame:
    """Element-wise mean of the array column ``vec`` per ``keys`` group:
    posexplode → (keys, dim) average → re-assemble in dim order.  The
    exploded shuffle carries (groups × dims) partial sums after map-side
    combine.  Returns (*keys, centroid array<double>)."""
    comp = (df.select(*keys, F.posexplode(vec).alias("dim", "x"))
              .groupBy(*keys, "dim")
              .agg(F.avg("x").alias("c")))
    return (comp.groupBy(*keys)
                .agg(F.transform(
                        F.sort_array(F.collect_list(F.struct("dim", "c"))),
                        lambda s: s["c"]).alias("centroid")))


def _nested_codebook(cents: DataFrame) -> DataFrame:
    """A (cand_label, centroid) table nested into ONE broadcastable row:
    centroids ``__cts`` and labels ``__lbls``, both in label order."""
    return cents.groupBy().agg(
        F.transform(F.array_sort(F.collect_list(
            F.struct("cand_label", "centroid"))),
            lambda s: s["centroid"]).alias("__cts"),
        F.sort_array(F.collect_list("cand_label")).alias("__lbls"))


def _subvectors(vec: Column, m: int, d_sub: int) -> Column:
    """posexplode of the ``m`` contiguous ``d_sub``-long double slices —
    alias it as (subspace, subvector)."""
    return F.posexplode(F.array(*[
        F.slice(_as_double(vec), s * d_sub + 1, d_sub) for s in range(m)]))


def _adc_tables(qsub: DataFrame, books: DataFrame) -> DataFrame:
    """Per-query ADC distance tables: (query_id, subspace, qv) against
    every codebook entry, nested as (query_id, pdm[subspace][code])."""
    return (qsub.join(F.broadcast(books), "subspace")
                .select("query_id", "subspace", "code",
                        _sqdist(F.col("qv"), F.col("centroid")).alias("pd"))
                .groupBy("query_id", "subspace")
                .agg(F.transform(
                        F.array_sort(F.collect_list(F.struct("code", "pd"))),
                        lambda s: s["pd"]).alias("pds"))
                .groupBy("query_id")
                .agg(F.transform(
                        F.array_sort(F.collect_list(
                            F.struct("subspace", "pds"))),
                        lambda s: s["pds"]).alias("pdm")))


def _adc(codes: Column, pdm: Column) -> Column:
    """ADC distance: the sum of ``pdm[s][codes[s]]`` over subspaces."""
    return F.aggregate(
        F.zip_with(codes, pdm, lambda c, pds: F.element_at(pds, c + 1)),
        F.lit(0.0), lambda acc, x: acc + x)


def cosine_topk(df: DataFrame, query_ids: list[int], k: int = 3,
                id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Brute-force exact cosine top-k: for each query vector, the k nearest
    other vectors.  Query side is broadcast; ranking is a per-query window
    with a deterministic id tie-break.

    Returns (query_id, neighbor_id, cosine) — floats cast to double BEFORE
    any arithmetic so the element-order summation matches the oracle bit-
    for-bit (then rounded).
    """
    require_columns(df, [id_col, vec_col], "cosine_topk")
    vecs = fan_out(_vectors(df, id_col, vec_col))
    pairs = (F.broadcast(_queries(vecs, query_ids, id_col))
             .crossJoin(_corpus(vecs, id_col)))
    return _nearest(_cosine(pairs), k)


N_PLANES = 8


def _lsh_plane_weights(spark, seed: int, n_tables: int, n_planes: int,
                       dim: int):
    """The n_tables·n_planes·dim hyperplane components as a Python list,
    computed by SPARK's own xxhash64 (one tiny 6k-row job) so the values
    are bit-identical to the in-expression form they replace.  These are
    SEED-DERIVED CONSTANTS — no input data flows in, so collecting them
    is the same bounded-parameter pattern as the sketch-param collects,
    recomputed fresh on every call."""
    n = n_tables * n_planes * dim
    t = (F.col("id") / (n_planes * dim)).cast("int")
    p = ((F.col("id") % (n_planes * dim)) / dim).cast("int")
    i = (F.col("id") % dim).cast("int")
    h = F.xxhash64(F.lit(seed), t, p, i)
    rows = (spark.range(n)
                 .select(((h % 1000).cast("double") / 500.0 - 1.0)
                         .alias("w"))
                 .collect())
    return [r["w"] for r in rows]


def lsh_bucketed_topk(df: DataFrame, query_ids: list[int], k: int = 3,
                      id_col: str = "vec_id", vec_col: str = "embedding",
                      n_planes: int = 6, n_tables: int = 16,
                      dim: int = 64, seed: int = 42) -> DataFrame:
    """Approximate top-k via MULTI-TABLE random-hyperplane LSH — the
    standard OR-of-ANDs construction (Indyk-Motwani; E2LSH practice):
    ``n_tables`` independent tables of ``n_planes`` sign bits each, a
    candidate is anything sharing a bucket with the query in ANY table,
    then exact cosine re-rank.  Per-table collision probability for
    angle θ is (1-θ/π)^n_planes, so recall@k ≈ 1-(1-p)^n_tables —
    n_planes controls bucket size (candidate cost), n_tables buys
    recall exponentially.  A single table (r1-r8 shape) measured
    recall@3 = 0.0 at sf0.1: on weakly-structured 64-dim data the true
    neighbors sit at θ≈64°, p ≈ 0.64^8 ≈ 3% — a one-table lottery.
    The 6-plane × 16-table default measures recall@3 = 0.620 at sf0.1
    over 50 query ids (recorded in SCALE.md and asserted by
    tests/test_recall_sf01.py); the theoretical 1-(1-p)^16 estimate is
    higher because real bucket occupancy is skewed — trust the measured
    number.  Measured trade curve (SCALE.md r10): equal-cost 7×24 =
    0.593 (reshaping doesn't pay), 6×24 = 0.740, 6×32 = 0.793 — recall
    above 0.7 costs ~1.5× candidates, and extra candidate budget is
    better spent on MORE TABLES than wider buckets (5×16 = 0.707 at
    the same 2× cost as 6×32).

    Hyperplanes are deterministic pseudo-random vectors derived from
    xxhash64(seed, table, plane, component) — reproducible across runs
    with no driver-side RNG state.  Scale shape: the corpus explodes
    ×n_tables into the (table, bucket) index — the classic LSH space/
    recall trade — and the candidate join is equi on (table, bucket),
    never cross; duplicate candidates from multiple tables collapse in
    a (query, neighbor)-grain distinct before the re-rank window.
    Approximate → no SQL oracle; containment + measured-recall tested.
    """
    require_columns(df, [id_col, vec_col], "lsh_bucketed_topk")
    # The fan-out feeds a mapInPandas stage, so arrow_fanout bounds its
    # partition count by input size.
    vecs = arrow_fanout(_vectors(df, id_col, vec_col))
    id_type = dict(vecs.dtypes)[id_col]

    # The sign-bit projections run as one vectorized Arrow batch over
    # weights from Spark's own xxhash64 (_lsh_plane_weights).  The
    # accumulation folds dim in ascending i order, the fold order of the
    # expression form, so every projection is the same IEEE double and
    # every bucket bit is identical.  History: SCALE.md, "LSH Arrow stage".
    weights = _lsh_plane_weights(df.sparkSession, seed, n_tables,
                                 n_planes, dim)

    def _bucketize(batches):
        import numpy as np
        import pandas as pd
        wnp = np.array(weights, dtype=np.float64).reshape(
            n_tables * n_planes, dim)
        tables = np.arange(n_tables, dtype=np.int32)
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            v = np.array(pdf["v"].tolist(), dtype=np.float64)
            acc = np.zeros((n, n_tables * n_planes), dtype=np.float64)
            for i in range(dim):     # ascending i == the fold order
                acc += v[:, i:i + 1] * wnp[None, :, i]
            bits = acc > 0
            bucket = np.zeros((n, n_tables), dtype=np.int32)
            for t in range(n_tables):
                bt = np.zeros(n, dtype=np.int32)
                for p in range(n_planes):
                    bt = (bt << 1) + bits[:, t * n_planes + p]
                bucket[:, t] = bt
            yield pd.DataFrame({
                id_col: np.repeat(pdf[id_col].values, n_tables),
                "v": [x for x in pdf["v"].values for _ in range(n_tables)],
                "table": np.tile(tables, n),
                "bucket": bucket.reshape(-1),
            })

    # pinned: the bucketed index feeds BOTH sides of the candidate join
    # (query probe + corpus); without the pin each side re-hashes the
    # whole corpus (measured 7.2s → ~3s at sf0.1)
    bucketed = vecs.mapInPandas(
        _bucketize,
        f"{id_col} {id_type}, v array<double>, table int, bucket int"
    ).localCheckpoint(eager=True)
    pairs = (F.broadcast(_queries(bucketed, query_ids, id_col,
                                  "table", "bucket"))
             .join(_corpus(bucketed, id_col, "table", "bucket"),
                   ["table", "bucket"]))
    return _nearest(_cosine(pairs).distinct(), k)


def ivf_topk(df: DataFrame, query_ids: list[int], k: int = 3,
             n_cells: int = 16, nprobe: int = 6,
             id_col: str = "vec_id", vec_col: str = "embedding",
             seed: int = 42) -> DataFrame:
    """Approximate top-k via an IVF coarse quantizer.

    Index build: Spark ML KMeans(``n_cells``) assigns each vector a cell in
    one JVM pass (``model.transform`` — no shuffle).  Search: the query set
    scores all ``n_cells`` centroids (a tiny q×cells broadcast product),
    keeps its ``nprobe`` nearest cells, and meets the corpus with an
    equi-join on the cell id — candidates are the probed cells only, then
    exact cosine re-rank with the same tie-break as :func:`cosine_topk`.

    ``nprobe == n_cells`` probes everything → exactly the brute-force
    result (tested); smaller ``nprobe`` trades recall for a
    ~nprobe/n_cells candidate fraction.  MEASURED recall@3 at sf0.1
    (50 queries vs exact cosine, structure-free embeddings — the hard
    case; scripts/measure_ivf_recall.py, r11):

    ===========  ======  ======  ======  ======  ======  ======
    nprobe           1       2       3       4       6       8
    -----------  ------  ------  ------  ------  ------  ------
    8 cells      0.487   0.620   0.740   0.807   0.927   1.0
    16 cells     0.293   0.460   0.613   0.680   0.800   0.900
    ===========  ======  ======  ======  ======  ======  ======

    At EQUAL candidate fraction the finer quantizer wins (16/4 = 0.680
    vs 8/2 = 0.620 at 25%; 16/6 = 0.800 vs 8/3 = 0.740 at 37.5%) —
    smaller cells waste fewer candidates on far corners of a probed
    cell.  The default 16/6 ships 0.800 recall; the floor is asserted
    at 0.70 by tests/test_recall_sf01.py.  At corpus scale, grow
    n_cells ∝ √n (FAISS practice) and hold nprobe/n_cells to keep the
    candidate fraction — recall improves with structure, and this
    random-data table is its lower bound.

    Returns (query_id, neighbor_id, cosine).
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    require_columns(df, [id_col, vec_col], "ivf_topk")
    vecs = _vectors(df, id_col, vec_col)
    # index build: coarse quantizer + cell assignment in one pass
    assembled = vecs.withColumn("__f", array_to_vector("v"))
    model = KMeans(k=n_cells, seed=seed, featuresCol="__f",
                   predictionCol="cell").fit(assembled)
    centroids = vecs.sparkSession.createDataFrame(
        [(int(i), [float(x) for x in c])
         for i, c in enumerate(model.clusterCenters())],
        "cell int, centroid array<double>")
    return _ivf_search(_queries(vecs, query_ids, id_col),
                       _corpus(model.transform(assembled), id_col, "cell"),
                       centroids, nprobe, k)


def pq_codebooks(df: DataFrame, m: int = 8, k: int = 16, iters: int = 2,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 dim: int = 64, train_frac: float = 1.0) -> DataFrame:
    """Product-quantization codebooks: split each vector into ``m``
    subvectors and k-means each subspace into ``k`` codes — the index that
    stores a 100 TB embedding corpus as ``m`` small ints per vector
    instead of ``dim`` floats (64:1 at the defaults with float64).

    ALL ``m`` subspaces train in ONE Lloyd loop: vectors explode to
    (subspace, subvector) rows and the subspace id rides the grouping
    keys, so adding subspaces widens the aggregate instead of multiplying
    driver-side iterations.  Init is deterministic (code =
    wang_mixed_hash(id) mod k — explicit integer arithmetic, so the whole
    codebooks→encode→ADC chain is SQL-reproducible: q_pq_topk's oracle);
    the m×k-row codebook ``localCheckpoint``s each round so plan depth is
    O(1) in ``iters``.

    ``train_frac`` < 1 trains on a deterministic hash sample of the corpus
    (``wang_mixed_hash(id) mod 1000 < 1000·frac``) — the 100 TB shape:
    codebooks need only O(k·m) well-spread examples to converge (FAISS
    trains on ~max(256·k, 100k) samples), so the Lloyd loop touches a
    fixed-size training set while encode/search still cover every vector.

    Returns (subspace, code, centroid array<double>) — m·k rows.
    """
    require_columns(df, [id_col, vec_col], "pq_codebooks")
    if dim % m != 0:
        raise ValueError(f"dim ({dim}) must be divisible by m ({m})")
    id_hash = wang_mixed_hash(F.col(id_col))
    train = df
    if train_frac < 1.0:
        train = df.filter(
            F.pmod(id_hash, F.lit(1000)) < F.lit(int(1000 * train_frac)))
    sub = train.select(F.col(id_col), _subvectors(
        F.col(vec_col), m, dim // m).alias("subspace", "sv"))
    # the training set is re-scanned every Lloyd round (assign + recompute):
    # materialize the explode once instead of re-reading/re-exploding
    sub = sub.persist()
    # deterministic init: spread ids across codes within every subspace
    assigned = sub.withColumn(
        "code", F.pmod(id_hash, F.lit(k)).cast("int"))
    books = None
    try:
        for it in range(iters):
            books = _mean_vectors(assigned, ["subspace", "code"], "sv")
            # materialize periodically (bounds lineage on long runs) and
            # ALWAYS on the final round: the returned codebook feeds 3+
            # consumers (assign, encode, ADC) and must not recompute its
            # training; intermediate rounds have ONE consumer, so a short
            # lazy chain beats an eager materialization per round
            if it == iters - 1 or (it + 1) % 4 == 0:
                books = books.localCheckpoint(eager=True)
            assigned = _pq_assign(sub, books)
    finally:
        sub.unpersist()
    return books


def _argmin_code(sv, cents):
    """Per-row nearest-code argmin: ``cents`` is the subspace's codebook as
    array<array<double>> ordered by code; distances materialize as an
    in-row array and ``array_position(min)`` picks the LOWEST code on ties
    (same tie-break as min(struct(dist, code))).  Pure expression — runs
    inside whole-stage codegen, no join fan-out, no aggregate."""
    dists = F.transform(cents, lambda c: _sqdist(sv, c))
    return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")


def _books_per_subspace(books: DataFrame) -> DataFrame:
    """(subspace, code, centroid) → (subspace, cents array<array<double>>)
    with cents ordered by code — m rows, broadcastable."""
    return (books.groupBy("subspace")
                 .agg(F.transform(
                         F.array_sort(F.collect_list(
                             F.struct("code", "centroid"))),
                         lambda s: s["centroid"]).alias("cents")))


def _pq_assign(sub: DataFrame, books: DataFrame) -> DataFrame:
    """Nearest-code assignment per (row, subspace): broadcast the codebook
    nested per subspace (m rows) and compute the argmin IN-ROW — the big
    side is never fanned out ×k and never shuffled (the old
    join-then-groupBy shape shuffled n·m subvector arrays per round)."""
    return (sub.join(F.broadcast(_books_per_subspace(books)), "subspace")
               .withColumn("code", _argmin_code(F.col("sv"), F.col("cents")))
               .drop("cents"))


def pq_encode(df: DataFrame, books: DataFrame, m: int = 8,
              id_col: str = "vec_id", vec_col: str = "embedding",
              dim: int = 64) -> DataFrame:
    """Encode vectors to PQ codes: (id, codes array<int>) with
    ``codes[s]`` the nearest codebook entry of subspace ``s``; a null
    vector gets no code row.

    MAP-ONLY: encoding a 100 TB corpus is a single scan with zero
    exchanges (the old explode → join → groupBy shape shuffled n·m
    subvector rows twice).  The m·k argmin folds run as one vectorized
    Arrow batch stage (history: SCALE.md, "PQ encode Arrow stage").  The
    codebook is collected driver-side (m·k rows, a few KB — the
    bounded-parameter collect pattern; it is already
    localCheckpoint-materialized by pq_codebooks) and the numpy distance
    loop runs over subvector positions IN ASCENDING ORDER, so every
    partial distance is the same IEEE double as the JVM fold and
    np.argmin's first-minimum tie-break equals array_position(min)
    (lowest code) — oracle-hash-checked (q_pq_topk / q_ivfpq_topk)."""
    require_columns(df, [id_col, vec_col], "pq_encode")
    d_sub = dim // m
    rows = _books_per_subspace(books).collect()   # m rows, k×d_sub each
    cents = [None] * m
    for r in rows:
        cents[r["subspace"]] = [list(c) for c in r["cents"]]
    id_type = dict(df.select(F.col(id_col)).dtypes)[id_col]
    # no fan-out: the numpy encode is trivial per byte, so the scan's own
    # partitioning already saturates it (SCALE.md, "PQ encode Arrow stage")
    vecs = _vectors(df, id_col, vec_col)

    def _encode(batches):
        import numpy as np
        import pandas as pd
        books_np = [np.array(c, dtype=np.float64) for c in cents]  # (k, d_sub)
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            v = np.array(pdf["v"].tolist(), dtype=np.float64)
            codes = np.empty((n, m), dtype=np.int32)
            for s in range(m):
                sv = v[:, s * d_sub:(s + 1) * d_sub]        # (n, d_sub)
                c = books_np[s]                             # (k, d_sub)
                acc = np.zeros((n, c.shape[0]), dtype=np.float64)
                for i in range(d_sub):                      # fold order
                    diff = sv[:, i:i + 1] - c[None, :, i]
                    acc += diff * diff
                codes[:, s] = np.argmin(acc, axis=1)        # first min
            yield pd.DataFrame({id_col: pdf[id_col].values,
                                "codes": list(codes)})

    return vecs.mapInPandas(_encode, f"{id_col} {id_type}, "
                                     "codes array<int>")


def pq_topk_adc(codes: DataFrame, books: DataFrame, queries: DataFrame,
                k: int = 3, m: int = 8,
                id_col: str = "vec_id", vec_col: str = "embedding",
                dim: int = 64, shards: int = 16) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over a PQ-encoded corpus: the
    query's per-(subspace, code) distance table (q·m·k doubles — tiny)
    nests into ONE broadcast row; each corpus row looks its m partial
    distances up IN-ROW (``pdm[s][codes[s]]``) and sums them with a
    zip_with/aggregate expression.  The original vectors are never read —
    the scan is m ints per corpus row, the whole point of PQ at 100 TB —
    and scoring is map-only: the first exchange in the plan is the
    top-k shard window over n·q scored rows.

    Top-k uses the two-phase shard trick (per-(query, id%shards) top-k,
    then top-k of ≤ shards·k survivors) so the final ranking never funnels
    a query's full candidate list through one task.

    Returns (query_id, neighbor_id, approx_d2) — smaller is nearer.
    """
    qsub = queries.select(F.col(id_col).alias("query_id"), _subvectors(
        F.col(vec_col), m, dim // m).alias("subspace", "qv"))
    qrow = (_adc_tables(qsub, books)
            .groupBy()
            .agg(F.collect_list(F.struct("query_id", "pdm")).alias("qs")))
    scored = (codes.select(F.col(id_col).alias("neighbor_id"), "codes")
                   .crossJoin(F.broadcast(qrow))
                   .select("neighbor_id", "codes",
                           F.explode("qs").alias("q"))
                   .select(F.col("q.query_id").alias("query_id"),
                           "neighbor_id",
                           roundn(_adc(F.col("codes"), F.col("q.pdm")))
                           .alias("approx_d2"))
                   .filter(F.col("query_id") != F.col("neighbor_id")))
    order = [F.asc("approx_d2"), F.asc("neighbor_id")]
    survivors = topk_per_group(
        scored, ["query_id", F.pmod(F.col("neighbor_id"), F.lit(shards))],
        order, k)
    return topk_per_group(survivors, ["query_id"], order, k)


def label_centroids(df: DataFrame, id_col: str = "vec_id",
                    vec_col: str = "embedding",
                    label_col: str = "label") -> DataFrame:
    """Per-label mean embedding (:func:`_mean_vectors`) — constant-size
    output regardless of fact scale.  Returns (label, centroid
    array<double>)."""
    require_columns(df, [id_col, vec_col, label_col], "label_centroids")
    return _mean_vectors(df, [label_col], _as_double(F.col(vec_col)))


def nearest_centroid(df: DataFrame, id_col: str = "vec_id",
                     vec_col: str = "embedding",
                     label_col: str = "label") -> DataFrame:
    """Assign every vector to its nearest per-label mean centroid by dot
    product (vectors are unit-norm, so dot = cosine).  The centroid table
    is K rows — broadcast cross join, K dot products per row, argmax
    in-row (:func:`assign_to_centroids`, no window).  This is the assignment
    step of an IVF coarse quantizer / one Lloyd iteration, expressed
    relationally."""
    cents = label_centroids(df, id_col, vec_col, label_col)
    c = cents.select(F.col(label_col).alias("cand_label"), "centroid")
    return assign_to_centroids(df, c, id_col, vec_col)


def assign_to_centroids(df: DataFrame, cents: DataFrame,
                        id_col: str = "vec_id",
                        vec_col: str = "embedding",
                        metric: str = "dot") -> DataFrame:
    """Score every vector against a (cand_label, centroid) table (K rows)
    and keep the best assignment — argmax dot (``metric='dot'``, cosine
    for unit vectors) or argmin squared Euclidean distance
    (``metric='l2'``, the true k-means objective — the two differ once
    centroid norms diverge, e.g. after a mean update).  Deterministic
    tie-break on the smaller label.  Returns (id, assigned_label, score)
    where score is the winning dot / squared distance.

    MAP-ONLY (r5, the _pq_assign discipline): the whole codebook nests
    into ONE broadcast row (labels + centroids sorted by label) and the
    argmin/argmax runs as an in-row array expression —
    ``array_position`` of the extremum picks the FIRST hit, i.e. the
    smallest label, the same tie-break the previous row_number window
    enforced.  The old shape shuffled the corpus ×K through a per-id
    window EVERY call — inside lloyd_kmeans that was one corpus shuffle
    per round; now assignment never exchanges at all."""
    if metric not in ("dot", "l2"):
        raise ValueError(f"unknown metric {metric!r}")
    score, best = (_dot, F.array_max) if metric == "dot" \
        else (_sqdist, F.array_min)
    # stage the distance array ONCE as a named column (HOF-CSE rule —
    # see minhash_slots), then the index once; references stay references
    return (_vectors(df, id_col, vec_col)
                .crossJoin(F.broadcast(_nested_codebook(cents)))
                .withColumn("__d", F.transform(
                    F.col("__cts"), lambda c: score(F.col("v"), c)))
                .withColumn("__i", F.array_position(
                    F.col("__d"), best(F.col("__d"))).cast("int"))
                .select(F.col(id_col),
                        F.element_at("__lbls", F.col("__i"))
                         .alias("assigned_label"),
                        roundn(F.element_at("__d", F.col("__i")))
                         .alias("score")))


def lloyd_kmeans(df: DataFrame, iters: int = 3, id_col: str = "vec_id",
                 vec_col: str = "embedding",
                 label_col: str = "label") -> DataFrame:
    """Full Lloyd k-means loop as pure DataFrame ops — the iterative-
    algorithm pattern (cf. ``duplicate_components``): each round is
    assignment (map-only in-row argmin against the broadcast-nested
    codebook — zero exchanges since r5) + update (posexplode
    → (cluster, dim) mean → re-assembled arrays), so the only per-round
    shuffle is the map-side-combinable centroid aggregation.  The K-row
    centroid table is the ``operators.fixpoint.iterate`` state, pinned
    every round.  Initial centroids are the per-``label_col`` means
    (deterministic — no random init, so results are engine-reproducible).

    Returns (id, cluster, score) plus per-cluster sizes would be one more
    agg; kept minimal to compose."""
    vecs = fan_out(_vectors(df, id_col, vec_col))
    cents = (label_centroids(df, id_col, vec_col, label_col)
             .select(F.col(label_col).cast("long").alias("cand_label"),
                     "centroid"))
    cents = lloyd_centroids(vecs, cents, iters, id_col=id_col)
    return (assign_to_centroids(vecs, cents, id_col, "v", metric="l2")
            .select(F.col(id_col),
                    F.col("assigned_label").alias("cluster"), "score"))


def lloyd_centroids(vecs: DataFrame, cents: DataFrame, iters: int,
                    id_col: str = "vec_id") -> DataFrame:
    """The Lloyd update loop alone: ``iters`` rounds of map-only
    assignment + posexplode-mean update over an initial (cand_label,
    centroid) table, returning the FINAL centroids — extracted from
    :func:`lloyd_kmeans` so evaluation queries (silhouette) can reuse
    the identical iteration instead of re-implementing it."""
    # both join sides take the same null filter, so the vectors'
    # exchange below it is reused rather than run twice per round
    nonnull = _vectors(vecs, id_col, "v")

    def step(c: DataFrame) -> DataFrame:
        assign = assign_to_centroids(vecs, c, id_col, "v", metric="l2")
        return _mean_vectors(
            nonnull.join(assign.select(id_col, F.col("assigned_label")
                                       .alias("cand_label")), id_col),
            ["cand_label"], "v")

    return iterate(cents, step, iters)


def ivfpq_topk(df: DataFrame, query_ids: list[int], k: int = 3,
               nprobe: int = 2, m: int = 8, pq_k: int = 16, dim: int = 64,
               id_col: str = "vec_id", vec_col: str = "embedding",
               train_frac: float = 1.0, iters: int = 2) -> DataFrame:
    """IVF-PQ — the production ANN architecture (FAISS IVFPQ) from the
    engine's two tiers composed: the coarse quantizer routes each query
    to ``nprobe`` cells, and ADC scans ONLY those cells' PQ codes.  At
    100 TB the corpus is stored once as (cell, m small ints) rows
    partitioned by cell; a query touches nprobe/n_cells of the index and
    never reads a raw vector.

    The cells are the per-``label`` mean centroids (:func:`_label_cells`,
    the :func:`ivf_neutral_topk` quantizer) and the codebooks are
    :func:`pq_codebooks`' wang-hash init, so the whole composite is
    SQL-reproducible (q_ivfpq_topk's oracle).  Scoring is map-only like
    :func:`pq_topk_adc` (distance tables nest into a per-query broadcast
    row); the candidate restriction is one broadcast equi-join on the
    cell id.  Returns (query_id, neighbor_id, approx_d2), smaller =
    nearer."""
    require_columns(df, [id_col, vec_col, "label"], "ivfpq_topk")
    vecs = fan_out(_vectors(df, id_col, vec_col))
    cells, centroids = _label_cells(df, id_col, vec_col, "label")
    books = pq_codebooks(df, m=m, k=pq_k, iters=iters, dim=dim,
                         id_col=id_col, vec_col=vec_col,
                         train_frac=train_frac)
    codes = (pq_encode(df, books, m=m, dim=dim, id_col=id_col,
                       vec_col=vec_col)
             .join(cells, id_col)
             .select(F.col(id_col).alias("neighbor_id"), "codes", "cell"))
    probes = (_probe_cells(_queries(vecs, query_ids, id_col), centroids,
                           nprobe)
              .select("query_id", "cell"))
    qsub = (df.filter(F.col(id_col).isin(query_ids))
              .select(F.col(id_col).alias("query_id"), _subvectors(
                  F.col(vec_col), m, dim // m).alias("subspace", "qv")))
    scored = (codes.join(F.broadcast(probes), "cell")
                   .join(F.broadcast(_adc_tables(qsub, books)), "query_id")
                   .filter(F.col("query_id") != F.col("neighbor_id"))
                   .select("query_id", "neighbor_id",
                           roundn(_adc(F.col("codes"), F.col("pdm")))
                           .alias("approx_d2")))
    return topk_per_group(scored, ["query_id"],
                          [F.asc("approx_d2"), F.asc("neighbor_id")], k)


# Neutral-LSH plane weights: a multiplicative integer hash of (plane, dim)
# any engine reproduces — (p·1000003 + i + 1)·2654435761 mod (10^9+7)
# mod 1000 − 500 ∈ [−500, 499].  Products stay < 2^55, well inside long.
_LSH_NEUTRAL_MULT = 2_654_435_761
_LSH_NEUTRAL_P = 1_000_000_007


def _lsh_neutral_w(p: int, i: Column) -> Column:
    h = (F.lit(p * 1_000_003 + 1).cast("long") + i) \
        * F.lit(_LSH_NEUTRAL_MULT)
    return h % _LSH_NEUTRAL_P % 1000 - 500


def lsh_neutral_topk(df: DataFrame, query_ids: list[int], k: int = 3,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     n_planes: int = N_PLANES, dim: int = 64) -> DataFrame:
    """Engine-neutral random-hyperplane LSH — the :func:`lsh_bucketed_topk`
    pipeline with the two engine-specific seams replaced so a SQL oracle
    reproduces the result bit-for-bit (the ANN-tier analogue of
    dedup.minhash_neutral_pairs):

    - plane components come from the explicit multiplicative hash
      ``_lsh_neutral_w`` instead of xxhash64 (JVM-only), and
    - the sign decision quantizes each component to integer micro-units
      (``floor(x·10^6)`` — floor, not round: round-half ties break
      differently across engines) so the projection is an EXACT integer
      sum — no float summation order anywhere near the bucket boundary.

    Candidates still meet on the bucket equi-join; the exact cosine
    re-rank is the proven :func:`cosine_topk` arithmetic (round-6 +
    neighbor-id tie-break).  The xxhash64 form remains the hot path.
    Returns (query_id, neighbor_id, cosine).
    """
    require_columns(df, [id_col, vec_col], "lsh_neutral_topk")
    vecs = fan_out(_vectors(df, id_col, vec_col))

    dims = F.sequence(F.lit(0), F.lit(dim - 1)).cast("array<long>")

    def bucket_bits(qcol: Column) -> Column:
        out = F.lit(0).cast("long")
        for p in range(n_planes):
            proj = F.aggregate(
                F.zip_with(qcol, dims,
                           lambda x, i: x * _lsh_neutral_w(p, i)),
                F.lit(0).cast("long"), lambda acc, x: acc + x)
            out = F.shiftleft(out, 1) + F.when(proj > 0, 1).otherwise(0)
        return out

    # stage the quantized array ONCE (HOF-CSE rule — the 8 per-plane
    # projections would otherwise each re-run the floor transform)
    bucketed = (vecs.withColumn(
                    "__xq", F.transform(
                        F.col("v"),
                        lambda x: F.floor(x * 1e6).cast("long")))
                    .withColumn("bucket", bucket_bits(F.col("__xq")))
                    .drop("__xq"))
    pairs = (F.broadcast(_queries(bucketed, query_ids, id_col, "bucket"))
             .join(_corpus(bucketed, id_col, "bucket"), "bucket"))
    return _nearest(_cosine(pairs), k)


def ivf_neutral_topk(df: DataFrame, query_ids: list[int], k: int = 3,
                     nprobe: int = 2, id_col: str = "vec_id",
                     vec_col: str = "embedding",
                     label_col: str = "label") -> DataFrame:
    """Engine-neutral IVF — :func:`ivf_topk` with the coarse quantizer
    swapped from Spark ML KMeans (init-dependent cell NUMBERS, never
    value-comparable across engines) to the deterministic per-label mean
    centroids (:func:`label_centroids`, the same init that made
    :func:`lloyd_kmeans` oracle-able).  Search is identical: the query
    scores all cells (broadcast), keeps its ``nprobe`` nearest, meets
    the corpus on the cell-id equi-join, exact cosine re-rank.  At 100 TB
    the cell table is the partition key of the stored index either way —
    the quantizer choice changes recall slightly, not the plan shape.
    Returns (query_id, neighbor_id, cosine).
    """
    require_columns(df, [id_col, vec_col, label_col], "ivf_neutral_topk")
    vecs = fan_out(_vectors(df, id_col, vec_col))
    cells, cents = _label_cells(df, id_col, vec_col, label_col)
    corpus = (cells.select(F.col(id_col).alias("neighbor_id"), "cell")
                   .join(_corpus(vecs, id_col), "neighbor_id"))
    return _ivf_search(_queries(vecs, query_ids, id_col), corpus, cents,
                       nprobe, k)


def semantic_dedup_pairs(df: DataFrame, threshold: float = 0.9,
                         id_col: str = "vec_id",
                         vec_col: str = "embedding",
                         label_col: str = "label",
                         target_occupancy: float | None = 64.0
                         ) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) — semantic near-duplicate pruning by
    cluster-then-compare: assign every embedding to its nearest coarse
    centroid (here the deterministic per-label means, the oracle-able
    quantizer the IVF tier uses), then compare pairs ONLY within a cell
    and keep those with cosine ≥ threshold; within each pair the lower
    id is the kept representative (SemDeDup's deterministic choice —
    callers drop ``drop_id``).

    The cell id is the ONLY join key — candidate generation never goes
    all-pairs (the banding discipline applied to embeddings).

    DENSITY-ADAPTIVE cell count (r11, the grid ladder's w₀ discipline
    applied to the quantizer): SemDeDup practice sizes cluster count ∝
    corpus (Abbas et al. run 50k clusters on LAION), because a FIXED
    quantizer makes the pair join quadratic in density (pairs ∝
    Σ_cell pop²) — measured 44× at the 10× stress SF.  With
    ``target_occupancy`` = T, any cell whose population exceeds T
    subdivides into s = ⌈pop/T⌉ SUBCELLS by nearest-of-s deterministic
    seeds (the s smallest ids in the cell; l2, ties to the smallest
    seed id) — so pair volume per cell is ~pop·T BY CONSTRUCTION and
    the number of (sub)cells grows ∝ n with no caller-remembered knob.
    The seed assignment join is Σ pop·s = Σ pop²/T distance evals —
    the one residual density-quadratic term, ÷T and map-cheap (no
    64-dim cosine, no output).  Subdivision is the standard SemDeDup
    approximation (cluster-boundary pairs are unseen, exactly as with
    a bigger k); T=None restores the single-level label quantizer, and
    cells at or under T are untouched either way.  Everything stays
    deterministic and SQL-reproducible — the oracle re-derives seeds,
    assignment, and pairs from scratch.

    Cosines round at 6 BEFORE the threshold so the boundary decision is
    identical across engines.  Returns (keep_id, drop_id, cell,
    cosine), keep_id < drop_id; ``cell`` is the coarse (label) cell.
    """
    require_columns(df, [id_col, vec_col, label_col],
                    "semantic_dedup_pairs")
    if target_occupancy is not None and not (target_occupancy > 0.0):
        raise ValueError(
            f"target_occupancy must be > 0 (got {target_occupancy!r}); "
            "pass None for the single-level label quantizer")
    cells, _ = _label_cells(df, id_col, vec_col, label_col)
    # norms precompute ONCE per vector (m rows) before the pair join —
    # inside the pair expression they would re-reduce the 64-element
    # array 2× per candidate (m² per cell instead of m)
    vecs = (_vectors(df, id_col, vec_col)
              .withColumn("__n", _norm(F.col("v")))
              .join(cells, id_col))
    if target_occupancy is None:
        vecs = vecs.withColumn("__sub", F.lit(0).cast("long"))
    else:
        pops = (cells.groupBy("cell")
                     .agg(F.count(F.lit(1)).alias("__pop"))
                     .withColumn("__s", F.ceil(
                         F.col("__pop") / F.lit(float(target_occupancy))
                     ).cast("long")))
        seeds = (topk_per_group(cells.join(F.broadcast(pops), "cell"),
                                ["cell"], [F.asc(id_col)], F.col("__s"))
                 .select("cell", F.col(id_col).alias("__seed")))
        seedv = (seeds.join(vecs.select(F.col(id_col).alias("__seed"),
                                        F.col("v").alias("__sv")),
                            "__seed")
                      .select("cell", "__seed", "__sv"))
        # argmin collapses in the aggregate (min over (d2, seed) struct)
        # — ties at equal distance pick the smallest seed id
        sub = (vecs.select(id_col, "v", "cell")
                   .join(seedv, "cell")
                   .withColumn("__d2", _sqdist(F.col("v"), F.col("__sv")))
                   .groupBy(id_col)
                   .agg(F.min(F.struct(F.col("__d2"),
                                       F.col("__seed"))).alias("__m"))
                   .select(id_col, F.col("__m.__seed").alias("__sub")))
        vecs = vecs.join(sub, id_col)
    a = vecs.select(F.col(id_col).alias("keep_id"),
                    F.col("v").alias("__va"),
                    F.col("__n").alias("__na"), "cell", "__sub")
    b = vecs.select(F.col(id_col).alias("drop_id"),
                    F.col("v").alias("__vb"),
                    F.col("__n").alias("__nb"), "cell", "__sub")
    cos = roundn(_dot(F.col("__va"), F.col("__vb"))
                 / (F.col("__na") * F.col("__nb")))
    return (a.join(b, ["cell", "__sub"])
             .filter(F.col("keep_id") < F.col("drop_id"))
             .withColumn("cosine", cos)
             .filter(F.col("cosine") >= threshold)
             .select("keep_id", "drop_id", "cell", "cosine"))


def assign_with_runnerup(vecs: DataFrame, cents: DataFrame,
                         id_col: str = "vec_id") -> DataFrame:
    """:func:`assign_to_centroids` (l2) extended with the second-nearest
    squared distance — the extra output cluster-evaluation needs
    (silhouette's b term) that the argmin-only form cannot provide.
    Same staging discipline: the nested codebook broadcasts as ONE row,
    the distance array materializes once as a named column (HOF-CSE
    rule), and the runner-up is an array_min over the non-argmin
    positions — all map-side.  ``vecs`` carries (id, v double-array).
    Returns (id, assigned_label, d2_best, d2_runnerup); ties pick the
    smallest label first, matching assign_to_centroids."""
    return (vecs.crossJoin(F.broadcast(_nested_codebook(cents)))
                .withColumn("__d", F.transform(
                    F.col("__cts"), lambda c: _sqdist(F.col("v"), c)))
                .withColumn("__a2", F.array_min("__d"))
                .withColumn("__i", F.array_position(
                    F.col("__d"), F.col("__a2")).cast("int"))
                .select(F.col(id_col),
                        F.element_at("__lbls", F.col("__i"))
                         .alias("assigned_label"),
                        F.col("__a2").alias("d2_best"),
                        F.array_min(F.filter(
                            "__d", lambda x, i: i != F.col("__i") - 1))
                         .alias("d2_runnerup")))


def kcenter_coreset(df: DataFrame, k: int = 8, id_col: str = "vec_id",
                    vec_col: str = "embedding") -> DataFrame:
    """Greedy k-center selection (Gonzalez 1985, the classic 2-approx):
    pick ``k`` maximally-spread exemplars from an embedding column —
    the coreset / diversity-sampling primitive of training-data
    curation (cover the embedding space with few points; the dual of
    SemDeDup's remove-the-redundant).

    Deterministic and engine-stable by construction: the seed is the
    LOWEST id; each round selects the point whose min-squared-distance
    to the chosen set is largest, with distances quantized to integer
    micro-units via FLOOR before the argmax (the float-tie-free house
    rule) and ties broken by lowest id — so a fixed-k unrolled SQL
    oracle reproduces the selection exactly.  The distance fold is the
    same left-to-right ``(a-b)·(a-b)`` accumulation both engines run
    bit-identically (q_cosine_topk's proven arithmetic).

    Scale shape: NO fact shuffle anywhere.  The per-round state
    (id, vector, qmind) updates map-only — one chosen center broadcasts
    as a 1-row crossJoin, the fold runs in-row, and the argmax is a
    1-row partial-aggregable reduce; the driver holds only the k chosen
    ids (driver-scale state, like the Markov matrix).  localCheckpoint
    per round bounds lineage and stands in for the parquet staging a
    100 TB run would use between rounds (the IVF/PQ staged-index
    discipline); cost is k map-only passes over the vectors.

    Returns (sel_order 1..k, id, radius = quantized min-distance² at
    selection time; NULL for the seed) — radius is the coverage
    guarantee curve callers cut off at."""
    require_columns(df, [id_col, vec_col], "kcenter_coreset")
    pts = (df.select(F.col(id_col).cast("long").alias("__id"),
                     _as_double(F.col(vec_col)).alias("__v"))
             .localCheckpoint(eager=True))
    out = greedy(pts.withColumn("__qmind", F.lit(None).cast("long")), k,
                 lambda state, _: state, "__qmind", update=_kcenter_update,
                 empty_error="kcenter_coreset: empty input")
    return out.select("sel_order", F.col("id").alias(id_col),
                      (F.col("__qmind") / F.lit(1e6)).alias("radius"))


def _kcenter_update(state: DataFrame, cur_id: int) -> DataFrame:
    """One k-center round's min-distance state update — MAP-ONLY on the
    fact side by contract (plan-pinned): the newest center broadcasts as
    one row, the squared-distance fold runs in-row, and least() folds it
    into the running quantized minimum.  Split out of the loop so the
    plan test can assert the no-fact-shuffle shape directly."""
    cen = F.broadcast(state.filter(F.col("__id") == cur_id)
                           .select(F.col("__v").alias("__c")))
    qd = F.floor(_sqdist(F.col("__v"), F.col("__c")) * F.lit(1e6)) \
        .cast("long")
    return (state.crossJoin(cen)
                 .select("__id", "__v",
                         F.least(F.col("__qmind"), qd).alias("__qmind")))


def jl_project(df: DataFrame, d_out: int = 16, id_col: str = "vec_id",
               vec_col: str = "embedding", seed: int = 1) -> DataFrame:
    """Sparse-sign Johnson-Lindenstrauss random projection (Achlioptas
    2003's ±1 variant): map each vector to ``d_out`` dims as
    out_j = (1/√d_out)·Σᵢ vᵢ·s(i,j) with s(i,j) ∈ {−1,+1} derived from a
    deterministic multiplicative hash of the (1-based) coordinate pair —
    the shrink-before-index step a 100 TB embedding pipeline runs ahead
    of LSH/IVF (JL: pairwise distances survive within ε at
    d_out = O(log n / ε²)).

    Engine-stable end to end: the sign is integer hash arithmetic (the
    sampling family's multiplicative reduction; bit 16 of the product —
    parity-grade mixing, verified by the distance-preservation property
    test), the fold is the house left-to-right accumulation, and the
    1/√d_out scale is applied AFTER the fold (exact dyadic for
    power-of-4 d_out).  Map-only: no shuffle, no UDF — d_out in-row
    folds inside whole-stage codegen.

    Returns (id, dim 0..d_out-1, value) exploded long-form — scalar
    doubles, so the driver's float normalization applies directly."""
    require_columns(df, [id_col, vec_col], "jl_project")
    # fan out before the d_out in-row folds: a single-row-group scan
    # otherwise runs them on one core (SCALE.md, "JL projection fan-out")
    df = fan_out(df.select(F.col(id_col), F.col(vec_col)))
    v = _as_double(F.col(vec_col))
    scale = F.lit(d_out ** -0.5)
    def make_signed(_j):
        # transform() infers lambda arity from the SIGNATURE — bind j
        # via closure, never a default param (the documented HOF-arity
        # landmine); (i + 1) matches DuckDB's 1-based lambda index
        def signed(x, i):
            key = F.pmod((i + 1) * F.lit(10007) + F.lit(_j * 31 + seed),
                         F.lit(HASH_KEY_MOD))
            h = F.pmod(key.cast("long") * F.lit(HASH_MULT),
                       F.lit(HASH_MOD))
            bit = F.shiftright(h, 16).bitwiseAND(F.lit(1))
            return x * (F.lit(1) - F.lit(2) * bit).cast("double")
        return signed

    outs = []
    for j in range(d_out):
        outs.append(F.aggregate(F.transform(v, make_signed(j)), F.lit(0.0),
                                lambda acc, x: acc + x) * scale)
    return (df.select(F.col(id_col),
                      F.posexplode(F.array(*outs)).alias("dim", "value"))
              .select(id_col, F.col("dim").cast("long").alias("dim"),
                      "value"))


def mmr_rerank(df: DataFrame, query_vec: list[float], k: int = 8,
               id_col: str = "vec_id",
               vec_col: str = "embedding") -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998, λ = 1/2): greedily pick ``k`` items maximizing
    relevance − redundancy, where relevance is the dot product with the
    query and redundancy is the max dot product with anything already
    selected — the diversity-aware final stage of a retrieval stack
    (after BM25/RRF/ANN candidate generation).

    Engine-stable like :func:`kcenter_coreset`: relevance quantizes ONCE
    to integer micro-units (FLOOR), the running max-similarity state is
    a long, and each round's pick is argmax(qrel − qmaxsim) with
    lowest-id tie-break — at λ = 1/2 the blend λ·rel − (1−λ)·maxsim is
    monotone in (rel − maxsim), so the integer difference IS the MMR
    objective and no float comparison ever decides a pick.  Per round:
    one 1-row selected-vector broadcast, an in-row dot-product fold, a
    map-only greatest() state update, and a 1-row argmax — no fact
    shuffle; localCheckpoint stands in for the parquet staging a
    100 TB run would use.  Returns (sel_order, id, score = the
    quantized objective at selection; relevance alone for the first
    pick)."""
    require_columns(df, [id_col, vec_col], "mmr_rerank")
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    rel = _dot(_as_double(F.col(vec_col)), q)
    pts = (df.select(F.col(id_col).cast("long").alias("__id"),
                     _as_double(F.col(vec_col)).alias("__v"),
                     F.floor(rel * F.lit(1e6)).cast("long").alias("__qrel"))
             .withColumn("__qmaxsim", F.lit(None).cast("long"))
             .localCheckpoint(eager=True))
    obj = F.col("__qrel") - F.coalesce(F.col("__qmaxsim"), F.lit(0))
    out = greedy(pts, k, lambda state, _: state.select("__id",
                                                       obj.alias("s")),
                 "s", update=_mmr_update)
    return out.select("sel_order", F.col("id").alias(id_col),
                      (F.col("s") / F.lit(1e6)).alias("score"))


def _mmr_update(state: DataFrame, cur_id: int) -> DataFrame:
    """One MMR round's max-similarity state update — map-only like
    :func:`_kcenter_update`: the newest pick broadcasts as one row, the
    dot product folds in-row, and greatest() folds it into the running
    quantized maximum."""
    cen = F.broadcast(state.filter(F.col("__id") == cur_id)
                           .select(F.col("__v").alias("__c")))
    qsim = F.floor(_dot(F.col("__v"), F.col("__c")) * F.lit(1e6)) \
        .cast("long")
    return (state.crossJoin(cen)
                 .select("__id", "__v", "__qrel",
                         F.greatest(F.col("__qmaxsim"), qsim)
                          .alias("__qmaxsim")))


def hard_negatives(df: DataFrame, radius: float = 0.5,
                   id_col: str = "vec_id", label_col: str = "label",
                   x_col: str = "x", y_col: str = "y",
                   refine: int = 8) -> DataFrame:
    """Hard-negative mining for contrastive/triplet training: per point,
    the NEAREST point with a DIFFERENT label within ``radius`` — the
    near-the-boundary negatives that carry the training signal (far
    negatives are easy; same-label neighbors are positives).

    Pure composition: :func:`operators.separation.grid_nearest` with the
    label threaded through both probe sides (``carry``) and the
    mismatch as the candidate ``predicate``.  The density-adaptive
    refinement ladder stays EXACT under any row predicate — the
    candidate subset is identical at every rung, so the L∞ block bound
    holds unchanged (r10: the fixed-width two-level form measured
    51.6× at the 10× stress SF — the density-blind fine width, not the
    predicate, was the quadratic term; the adaptive ladder measures
    ~3×, see SCALE.md r10).
    Returns (id, neighbor_id = the hard negative, dist)."""
    from ..operators.separation import grid_nearest
    require_columns(df, [id_col, label_col, x_col, y_col],
                    "hard_negatives")
    return grid_nearest(
        df, radius, id_col=id_col, x_col=x_col, y_col=y_col,
        refine=refine, carry=(label_col,),
        predicate=lambda: F.col(f"__q_{label_col}")
                          != F.col(f"__n_{label_col}"))


def hard_negatives_k(df: DataFrame, radius: float = 0.5, k: int = 3,
                     id_col: str = "vec_id", label_col: str = "label",
                     x_col: str = "x", y_col: str = "y") -> DataFrame:
    """Multi-negative mining: per point, the ``k`` NEAREST
    different-label points within ``radius``, ranked — what an InfoNCE /
    multiple-negatives contrastive batch actually consumes (k hard
    negatives per anchor, hardest first), vs :func:`hard_negatives`'
    single triplet negative.  Same composition over
    :func:`operators.separation.grid_knn`; the full-k rung-resolution
    rule is exact under the label predicate because the candidate
    subset is identical at every rung.  Returns (id, neighbor_id,
    rank 1..≤k, dist)."""
    from ..operators.separation import grid_knn
    require_columns(df, [id_col, label_col, x_col, y_col],
                    "hard_negatives_k")
    return grid_knn(
        df, radius, k=k, id_col=id_col, x_col=x_col, y_col=y_col,
        carry=(label_col,),
        predicate=lambda: F.col(f"__q_{label_col}")
                          != F.col(f"__n_{label_col}"))


def triplet_mining(df: DataFrame, radius: float = 0.5,
                   id_col: str = "vec_id", label_col: str = "label",
                   x_col: str = "x", y_col: str = "y") -> DataFrame:
    """Triplet mining for metric learning: per anchor, the nearest
    SAME-label point (the hardest positive is actually the FARTHEST,
    but the nearest is the standard easy-positive baseline and the one
    with radius-bounded semantics) and the nearest DIFFERENT-label
    point (the hard negative), both within ``radius`` — anchors missing
    either side drop (an inner join on the anchor id), which is the
    batch-construction contract: a triplet needs all three legs.

    Two :func:`operators.separation.grid_nearest` passes over the same
    points — one with a label-match predicate, one with the mismatch —
    joined on the anchor: each side is point-grain, so the final join
    shuffles n rows.  Returns (id, pos_id, pos_dist, neg_id,
    neg_dist)."""
    from ..operators.separation import grid_nearest
    require_columns(df, [id_col, label_col, x_col, y_col],
                    "triplet_mining")
    pos = grid_nearest(
        df, radius, id_col=id_col, x_col=x_col, y_col=y_col,
        carry=(label_col,),
        predicate=lambda: F.col(f"__q_{label_col}")
                          == F.col(f"__n_{label_col}"))
    neg = grid_nearest(
        df, radius, id_col=id_col, x_col=x_col, y_col=y_col,
        carry=(label_col,),
        predicate=lambda: F.col(f"__q_{label_col}")
                          != F.col(f"__n_{label_col}"))
    return (pos.select(id_col, F.col("neighbor_id").alias("pos_id"),
                       F.col("dist").alias("pos_dist"))
               .join(neg.select(id_col,
                                F.col("neighbor_id").alias("neg_id"),
                                F.col("dist").alias("neg_dist")),
                     id_col))


def mutual_knn_edges(df: DataFrame, radius: float, k: int = 3,
                     id_col: str = "vec_id", x_col: str = "x",
                     y_col: str = "y") -> DataFrame:
    """Mutual-kNN graph: edge (a, b) iff b is among a's k nearest
    (within ``radius``) AND a is among b's — the symmetrized kNN graph
    density-based clustering and manifold methods build on (mutual
    edges are the high-precision subset; one-way edges are hub noise).
    Composition: the :func:`operators.separation.grid_knn` table pinned
    once, then ONE self-join on the reciprocity condition with
    id_a < id_b canonicalization — the kNN table is (point × ≤k)-grain,
    so the mutuality join shuffles n·k rows, never candidate pairs.
    Returns (id_a, id_b, dist)."""
    from ..operators.separation import grid_knn
    require_columns(df, [id_col, x_col, y_col], "mutual_knn_edges")
    nn = (grid_knn(df, radius, k=k, id_col=id_col,
                   x_col=x_col, y_col=y_col)
          .localCheckpoint(eager=True))  # both self-join sides
    a = nn.select(F.col(id_col).alias("id_a"),
                  F.col("neighbor_id").alias("nb_a"), "dist")
    b = nn.select(F.col(id_col).alias("id_b"),
                  F.col("neighbor_id").alias("nb_b"))
    return (a.join(b, (F.col("nb_a") == F.col("id_b"))
                      & (F.col("nb_b") == F.col("id_a")))
             .filter(F.col("id_a") < F.col("id_b"))
             .select("id_a", "id_b", "dist"))
