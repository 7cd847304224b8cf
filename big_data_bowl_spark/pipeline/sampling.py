"""Deterministic sampling operators for training-data pipelines.

Membership depends only on the row key (engine-neutral multiplicative
hash), never on ``rand()`` or partition layout — the property that makes
splits reproducible across engines, runs, and repartitions.  All
map-side: no shuffle beyond what the caller already has.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..operators.fixpoint import greedy
from ..schemas import require_columns

HASH_MULT = 2654435761  # Knuth multiplicative constant (2^32 · φ)
HASH_MOD = 1 << 32
# pre-multiply key reduction: (2^31−1)·HASH_MULT ≈ 5.7e18 < 2^63, so the
# product is int64-exact for ANY int64 key.  2^32 would NOT be enough —
# (2^32−1)·HASH_MULT ≈ 1.14e19 > 2^63, so keys with (key mod 2^32) ≳ 3.47e9
# would wrap in Spark (ANSI off) but promote to HUGEINT in DuckDB,
# silently breaking the cross-engine determinism contract.
HASH_KEY_MOD = 1 << 31


def wang_mixed_hash(col: "F.Column") -> "F.Column":
    """The engine's int64-exact engine-neutral 32-bit hash: Knuth
    multiplicative reduction + two Wang xorshift-multiply finalizer
    rounds (every bit mixed — the multiplicative step alone leaks the
    key's low bits, see operators/sketches.hll_neutral_registers).
    Explicit arithmetic only, so DuckDB reproduces it bit-for-bit — the
    shared hash atom of the neutral HLL registers and the neutral PQ
    init/sampling.  Products stay < 2^59."""
    h = F.pmod(F.pmod(col, F.lit(HASH_KEY_MOD))
               * F.lit(HASH_MULT), F.lit(HASH_MOD))
    for _ in range(2):
        h = F.pmod(h.bitwiseXOR(F.shiftright(h, 16))
                   * F.lit(0x45D9F3B), F.lit(HASH_MOD))
    return h.bitwiseXOR(F.shiftright(h, 16))


def hash_bucket(key_col) -> F.Column:
    """Uniform [0, 1) bucket from an integer key — explicit arithmetic so
    DuckDB / any engine computes the identical value.

    The key is reduced mod 2^31 BEFORE the multiply (see ``HASH_KEY_MOD``:
    mod 2^32 would overflow int64 for keys ≥ ~3.47e9), keeping the whole
    computation int64-exact on every engine for every int64 key."""
    return (F.pmod(F.pmod(F.col(key_col), F.lit(HASH_KEY_MOD))
                   * F.lit(HASH_MULT), F.lit(HASH_MOD))
            / F.lit(float(HASH_MOD)))


def stratified_hash_sample(df: DataFrame, key_col: str, group_col: str,
                           rates: dict[str, float],
                           default_rate: float = 0.0) -> DataFrame:
    """Per-group deterministic sampling: each group keeps its own fraction
    (e.g. downsample the dominant language, keep the tail whole).  The
    per-group rate is a broadcast when-chain on the group column — a pure
    map-side filter, so it composes with scan pushdown and never
    shuffles."""
    require_columns(df, [key_col, group_col], "stratified_hash_sample")
    rate = F.lit(float(default_rate))
    for g, r in sorted(rates.items()):
        rate = F.when(F.col(group_col) == g, F.lit(float(r))).otherwise(rate)
    return df.filter(hash_bucket(key_col) < rate)


def weighted_sample(df: DataFrame, key_col: str, weight_col,
                    k: int = 50) -> DataFrame:
    """Deterministic weighted sampling without replacement (Efraimidis–
    Spirakis A-ES, exponential-sort form): each row draws the engine-
    neutral uniform u from its KEY and is ranked by ``−ln(u)/w`` — the k
    SMALLEST ranks are the sample, inclusion probability ∝ weight.

    Same reproducibility contract as :func:`hash_bucket` (key-derived, no
    rand(), no partition dependence) — rerunning, repartitioning, or
    switching engines returns the SAME sample.  The rank rounds to 6
    before the top-k so a 1-ulp ``ln`` difference between engines cannot
    flip membership except on a rounding boundary; ties break by key.
    Map-side rank + one distributed TakeOrdered — no shuffle.

    Rows with non-positive weight are excluded (their rank would be
    meaningless); returns df's row with an extra ``wkey`` rank column.
    """
    require_columns(df, [key_col], "weighted_sample")
    u = ((F.pmod(F.pmod(F.col(key_col), F.lit(HASH_KEY_MOD))
                 * F.lit(HASH_MULT), F.lit(HASH_MOD)) + 0.5)
         / F.lit(float(HASH_MOD)))
    w = weight_col if not isinstance(weight_col, str) else F.col(weight_col)
    wkey = F.round(-F.log(u) / w.cast("double"), 6)
    return (df.filter(w.cast("double") > 0)
              .withColumn("wkey", wkey)
              .orderBy(F.asc("wkey"), F.asc(key_col))
              .limit(k))


def negative_samples(positives: DataFrame, user_col: str, item_col: str,
                     n_items: int, k: int = 3) -> DataFrame:
    """Deterministic negative sampling — the contrastive-training prep
    step: for every positive (user, item) pair, propose ``k`` candidate
    negatives drawn from the item space by the engine-neutral hash of
    (user, item, j), then remove ACCIDENTAL positives with one left-anti
    join against the positives themselves.

    Everything before the anti-join is map-side (explode of a k-element
    in-row array); the anti-join shuffles on (user, item) once.  Rows
    whose candidate collided with a true positive yield < k negatives —
    the standard contract (callers resample survivors or accept the
    deficit; a rejection loop would be data-dependent and unbounded).

    Returns (user, item, neg_item) — one row per surviving candidate.
    """
    require_columns(positives, [user_col, item_col], "negative_samples")
    cands = []
    for j in range(k):
        seed = (F.col(user_col) * 31 + F.col(item_col) * 17 + F.lit(j))
        cands.append(F.pmod(
            F.pmod(F.pmod(seed, F.lit(HASH_KEY_MOD)) * F.lit(HASH_MULT),
                   F.lit(HASH_MOD)),
            F.lit(n_items)))
    fanned = positives.select(
        F.col(user_col), F.col(item_col),
        F.explode(F.array(*cands)).alias("neg_item"))
    return fanned.join(
        positives.select(F.col(user_col),
                         F.col(item_col).alias("neg_item")).distinct(),
        [user_col, "neg_item"], "left_anti")


def quota_sample(df: DataFrame, group_col: str, key_col: str,
                 size_col: str, budget: int) -> DataFrame:
    """Deterministic per-group BUDGET sampling — the data-mixing
    primitive that fills a token budget per source: within each group,
    rows are visited in neutral-hash order of the key (a deterministic
    random permutation — engine/partitioning/run-invariant, like every
    sampler here) and kept while the running ``size_col`` total stays
    within ``budget``.  Unlike rate-based sampling
    (:func:`stratified_hash_sample`), the quota adapts to the group's
    size distribution: it emits as many whole documents as fit, never a
    fixed fraction.  One shuffle (the per-group window); the running sum
    rides the same exchange."""
    require_columns(df, [group_col, key_col, size_col], "quota_sample")
    from pyspark.sql import Window
    staged = df.withColumn("__qh", wang_mixed_hash(F.col(key_col)))
    w = Window.partitionBy(group_col).orderBy("__qh", key_col)
    return (staged
            .withColumn("__cum", F.sum(size_col).over(w))
            .filter(F.col("__cum") <= budget)
            .drop("__qh", "__cum"))


def temperature_mixture(df: DataFrame, group_col: str, key_col: str,
                        target_rows: int) -> DataFrame:
    """Temperature-T=2 dataset mixing (the multilingual-corpus
    rebalancing rule: sample source i with probability ∝ n_i^(1/T), so
    dominant sources downweight and tails upweight): per-source rates
    derive IN-PLAN from the corpus counts — ``target · √n_i / Σ√n_j``
    rows from source i — and membership is the deterministic key-hash
    bucket, so the mixed corpus is reproducible on any engine or layout.

    T is fixed at 2 because √ is IEEE-exact on every engine; arbitrary
    ``pow(n, 1/T)`` could differ by an ulp across libm implementations
    and flip boundary rows.  One aggregate (sources-bounded), one
    broadcast join-back, map-side filter — no collect, no rand().
    Returns df rows with the sampling ``rate`` attached."""
    require_columns(df, [group_col, key_col], "temperature_mixture")
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("__n"))
    tot = counts.agg(F.sum(F.sqrt(F.col("__n"))).alias("__tot"))
    rates = (counts.crossJoin(F.broadcast(tot))
                   .select(F.col(group_col),
                           (F.lit(float(target_rows))
                            * F.sqrt(F.col("__n")) / F.col("__tot")
                            / F.col("__n")).alias("rate")))
    return (df.join(F.broadcast(rates), group_col)
              .filter(hash_bucket(key_col) < F.col("rate")))


def pack_documents(docs: DataFrame, ctx_len: int,
                   id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """GPT-style contiguous sequence packing: lay every document's
    tokens end-to-end in one deterministic global order (the id) and
    cut the stream into fixed ``ctx_len`` training bins — the packing
    step that turns a cleaned corpus into model-ready sequences, with
    documents SPLIT at bin boundaries (the standard pre-training
    layout; pad-free, so no token is wasted).

    Returns one row per document: (doc_id, n_tokens, start_offset,
    first_bin, last_bin, n_bins_spanned) — enough for a writer to
    materialize any bin by slicing its overlapping docs, and for
    boundary statistics (how many docs straddle bins).  All integer
    arithmetic — bit-exact on any engine.

    Shape: token counts are in-row; the global running offset is
    :func:`~..operators.windows.cumsum_distributed` (range-partitioned
    prefix sums — the fact-grain use of the W7 scale path, never a
    single-reducer window); bins are in-row floor-divs of the offsets.
    Empty documents (0 tokens) are dropped — they occupy no span.
    """
    from ..operators.windows import cumsum_distributed
    from .text import _tokens
    require_columns(docs, [id_col, text_col], "pack_documents")
    if ctx_len <= 0:
        raise ValueError(f"ctx_len must be positive, got {ctx_len}")
    sized = (docs.select(F.col(id_col),
                         F.size(_tokens(text_col)).cast("long")
                          .alias("n_tokens"))
                 .filter(F.col("n_tokens") > 0))
    # in-plan uniqueness guard (the rrf_fuse assert_true pattern):
    # cumsum_distributed's ordering contract requires UNIQUE ids — a
    # duplicated doc_id (un-deduped ingest) would make the two rows'
    # offsets partition-dependent and double-place their tokens in
    # materialize_bins; fail loud instead
    cnt = F.count(F.lit(1)).over(Window.partitionBy(id_col))
    sized = (sized.withColumn("__cnt", cnt)
                  .filter(F.assert_true(
                      F.col("__cnt") == 1,
                      F.concat(F.lit("pack_documents: duplicate "),
                               F.lit(id_col), F.lit(" ("),
                               F.col(id_col).cast("string"),
                               F.lit(") — dedup before packing")))
                      .isNull())
                  .drop("__cnt"))
    cum = cumsum_distributed(sized, [id_col], ["n_tokens"])
    # TRUE integer division (`div`), not floor(double /): double
    # division is only exact below 2^53, and a 100 TB token stream can
    # pass 9e15 cumulative tokens — `div` keeps the claimed bit-exact
    # integer arithmetic at any magnitude (operands are non-negative,
    # so truncation == floor)
    staged = cum.select(
        F.col(id_col), "n_tokens",
        (F.col("cum_n_tokens") - F.col("n_tokens")).alias("start_offset"),
        (F.col("cum_n_tokens") - 1).alias("__last_pos"))
    first = F.expr(f"start_offset div {int(ctx_len)}")
    last = F.expr(f"__last_pos div {int(ctx_len)}")
    return staged.select(
        F.col(id_col), "n_tokens", "start_offset",
        first.alias("first_bin"), last.alias("last_bin"),
        (last - first + 1).alias("n_bins_spanned"))


def materialize_bins(docs: DataFrame, ctx_len: int,
                     id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """The writer side of :func:`pack_documents`: explode every
    document's tokens to their GLOBAL stream position (the doc's packed
    start offset + its local position), assign each token to its
    ``ctx_len`` bin in-row, and roll up per-bin — the step that turns
    the packing plan into model-ready training bins.

    Returns (bin_id, n_tokens, n_docs, first_token, last_token): every
    bin holds exactly ctx_len tokens except the final partial one, and
    first/last are selected by global position (min_by/max_by), so the
    output pins the exact token layout without shipping ctx_len-wide
    arrays through the comparison.

    Shape: one shuffle to attach the per-doc start offsets (doc-key
    equi-join against pack_documents' doc-grain output), one explode
    (map-side), one combinable aggregate on the bin key.  Token order
    inside a bin is fully determined by (global position), never by
    partition layout."""
    from .text import _tokens
    offs = pack_documents(docs, ctx_len, id_col, text_col) \
        .select(id_col, "start_offset")
    tok = docs.select(F.col(id_col),
                      F.posexplode(_tokens(text_col))
                       .alias("__p", "__t"))
    placed = (tok.join(offs, id_col)
                 .select(F.col(id_col),
                         (F.col("start_offset") + F.col("__p"))
                          .alias("__g"), "__t"))
    # `div`, not floor(double /) — see pack_documents' exactness note
    return (placed.withColumn("bin_id",
                              F.expr(f"__g div {int(ctx_len)}"))
                  .groupBy("bin_id")
                  .agg(F.count(F.lit(1)).alias("n_tokens"),
                       F.count_distinct(F.col(id_col)).alias("n_docs"),
                       F.min_by("__t", "__g").alias("first_token"),
                       F.max_by("__t", "__g").alias("last_token")))


def dsir_weights(docs: DataFrame, target_pred: "F.Column",
                 id_col: str = "doc_id", text_col: str = "text",
                 n_buckets: int = 64, alpha: int = 1) -> DataFrame:
    """DSIR-style importance weights for data selection (Xie et al. 2023,
    "Data Selection for Language Models via Importance Resampling"): score
    every raw document by how target-like its hashed-n-gram distribution
    is, so a pipeline can resample raw data toward a target domain.

    Features are hashed unigrams: ``polynomial_token_hash(token) mod
    n_buckets`` (the engine-neutral family — any SQL engine reproduces the
    buckets bit-for-bit).  With Laplace-``alpha`` smoothed bucket
    probabilities p_t (over docs matching ``target_pred``) and p_r (over
    ALL docs), a document's log importance weight is

        log w(d) = Σ_tokens ln( p_t(bucket) / p_r(bucket) )
                 = Σ_buckets cnt_d(b) · lr(b)

    Shape: ONE token explode collapses straight to the (doc, bucket)
    count grain — a single shuffle whose width is ≤ ``n_buckets`` per doc,
    NOT token count — and that compact table is pinned
    (``localCheckpoint``, the pagerank discipline) because it has two
    consumers: the corpus statistics and the final per-doc reduction.
    Without the pin the plan re-explodes the corpus text once per
    consumer — the exact multi-subtree recompute this codebase pins
    against everywhere state is reused.  Raw and target bucket counts
    come from a SINGLE conditional aggregate over the pinned grain (never
    two passes), fold into one ``n_buckets``-row log-ratio table, and
    broadcast back.  Per-doc sums use the micro-unit discipline
    (`bigram_scores`): each bucket log-ratio quantizes to an integer
    micro-nat, the per-doc reduction is a LONG sum (order-free across
    engines), and only the final report divides back to a 6-digit
    double.  At 100 TB: one linear token pass, then everything else runs
    on the ≤64·docs-row count grain; the only global state is
    2·``n_buckets`` longs.

    Returns (doc_id, n_tokens, log_weight), log_weight descending =
    most target-like first (ordering left to the caller).
    """
    from ..schemas import require_columns
    from .text import _tokens, polynomial_token_hash
    require_columns(docs, [id_col, text_col], "dsir_weights")
    tok = docs.select(
        F.col(id_col), target_pred.alias("__is_target"),
        F.explode(_tokens(text_col)).alias("term"))
    db = (tok.groupBy(id_col, "__is_target",
                      F.pmod(polynomial_token_hash(F.col("term")),
                             F.lit(n_buckets)).alias("bucket"))
             .agg(F.count(F.lit(1)).alias("cnt"))
             .localCheckpoint(eager=True))
    # one conditional aggregate yields BOTH distributions; buckets the
    # target never hits smooth to bare alpha via the sum-of-zeros
    stats = (db.groupBy("bucket")
               .agg(F.sum("cnt").alias("c_raw"),
                    F.sum(F.when(F.col("__is_target"), F.col("cnt"))
                           .otherwise(F.lit(0))).alias("c_tgt"))
             .localCheckpoint(eager=True))
    tots = stats.agg(F.sum("c_raw").alias("t_raw"),
                     F.sum("c_tgt").alias("t_tgt"))
    lr = (stats.crossJoin(F.broadcast(tots))
               .select(
                 "bucket",
                 F.round(F.log(
                     ((F.col("c_tgt") + F.lit(alpha)).cast("double")
                      / (F.col("t_tgt") + alpha * n_buckets).cast("double"))
                     / ((F.col("c_raw") + F.lit(alpha)).cast("double")
                        / (F.col("t_raw")
                           + alpha * n_buckets).cast("double")))
                     * 1_000_000).cast("long").alias("lr_u")))
    return (db.join(F.broadcast(lr), "bucket")
              .groupBy(id_col)
              .agg(F.sum("cnt").alias("n_tokens"),
                   F.round(F.sum(F.col("cnt") * F.col("lr_u"))
                           / 1_000_000.0, 6).alias("log_weight")))


# Poisson(1) CDF thresholds P(X<=k), k=0..7, as shortest-repr double
# literals so Spark lit() and the SQL oracle parse the identical IEEE
# values.  The k=8 tail (P ~ 1.1e-6) clips to weight 8 — deterministic
# on both engines and statistically immaterial for bootstrap use.
POISSON1_CDF = [0.36787944117144233, 0.7357588823428847,
                0.9196986029286058, 0.9810118431238462,
                0.9963401531726562, 0.9994058151824182,
                0.999916758850712, 0.9999897508033254]


def poisson_bootstrap(df: DataFrame, units_col: str, key_col: str,
                      reps: int = 32) -> DataFrame:
    """Poisson bootstrap replicate means — THE distributed bootstrap
    (resampling n-out-of-n needs global coordination; giving every row
    an independent Poisson(1) multiplicity per replicate needs none and
    is the standard CI machinery at terabyte scale).  Weights are drawn
    DETERMINISTICALLY: u = wang_mixed_hash((key mod 2^31)·reps + rep) /
    2^32, w = #{CDF thresholds < u} — reproducible across engines,
    partitionings, and reruns, unlike rand()-based draws.  For R
    replicates the effective key space folds to 2^31/R ids; keep
    reps ≤ a few hundred.

    Shape: the ×reps row fan-out happens MAP-SIDE and collapses in the
    same stage's partial aggregate (the output grain is ``reps`` rows),
    so the shuffle carries reps·n_partitions partial rows — the 100 TB
    cost is one linear pass regardless of R.  ``units_col`` must be
    exact integer units (e.g. cents): w·units sums stay int64-exact
    under any association order (w ≤ 8, so the sum ceiling is
    8·Σ|units|).

    Returns (rep, n_eff, sum_units, mean_units) — mean_units is the
    one long/long IEEE division, un-rounded (callers scale + round)."""
    require_columns(df, [units_col, key_col], "poisson_bootstrap")
    base = df.select(
        F.col(key_col).alias("__k"), F.col(units_col).alias("__v"),
        F.explode(F.sequence(F.lit(0), F.lit(reps - 1))).alias("rep"))
    mixed = (F.pmod(F.col("__k"), F.lit(HASH_KEY_MOD)) * F.lit(reps)
             + F.col("rep"))
    u = wang_mixed_hash(mixed) / F.lit(float(HASH_MOD))
    # when-chain, NOT size(filter(array, c -> c < u)): a HOF lambda that
    # references the outer hash expression inlines it per element and
    # falls out of whole-stage codegen — measured 11x slower (6.5s vs
    # 0.6s at sf0.01 x32).  The when-sum stays codegen'd with the wang
    # chain CSE'd once per row.
    w = sum(F.when(F.lit(c) < u, 1).otherwise(0)
            for c in POISSON1_CDF).cast("long")
    return (base.select(F.col("rep").cast("long").alias("rep"),
                        w.alias("__w"), "__v")
                .groupBy("rep")
                .agg(F.sum("__w").alias("n_eff"),
                     F.sum(F.col("__w") * F.col("__v")).alias("sum_units"))
                .withColumn("mean_units",
                            F.col("sum_units").cast("double")
                            / F.col("n_eff").cast("double")))


def _uncovered(dg: DataFrame, chosen_ids: list[int]) -> DataFrame:
    """The (doc, gram) rows of ``dg`` whose gram no chosen doc holds: a
    LEFT ANTI join against the chosen docs' grams, filtered out of the
    same pinned table by the ≤k chosen doc ids and broadcast (bounded
    by k·max_doc_len).  Never an IN-list of grams and never a per-round
    gram collect; only doc ids reach the plan.  Grams are never null
    (explode of ngrams), so the anti-join is the set complement.
    History: SCALE.md, "One greedy driver"."""
    if not chosen_ids:
        return dg
    covered = dg.filter(F.col("__id").isin(chosen_ids)).select("__g")
    return dg.join(F.broadcast(covered), "__g", "left_anti")


def greedy_set_cover(df: DataFrame, k: int = 8, id_col: str = "doc_id",
                     text_col: str = "text", n: int = 2) -> DataFrame:
    """Greedy maximum-coverage document selection (the classic
    (1−1/e)-approximation): pick ``k`` docs that together cover the most
    distinct token n-grams — the vocabulary/coverage-based curation
    primitive (choose a small, diverse seed corpus; the coverage dual of
    k-center's geometric spread).

    Each round counts every doc's UNCOVERED grams (integer gains — no
    float anywhere, so cross-engine determinism is free) and picks the
    max with lowest-id tie-break through :func:`fixpoint.greedy`, one
    job per round.  The (doc, gram) table is fact-grain and never
    shuffles after its one distinct — each round is an anti-join-
    filtered re-aggregation of the same pinned table
    (:func:`_uncovered`).  Rounds stop early when no doc adds coverage
    (both engines converge to the same fixpoint: an exhausted universe
    keeps yielding empty rounds).

    Returns (sel_order 1..≤k, id, gain = newly covered grams)."""
    from .text import _token_ngrams
    require_columns(df, [id_col, text_col], "greedy_set_cover")
    dg = (df.select(F.col(id_col).cast("long").alias("__id"),
                    F.explode(_token_ngrams(text_col, n)).alias("__g"))
            .distinct().localCheckpoint(eager=True))

    def gains(_, chosen):
        return (_uncovered(dg, chosen).groupBy("__id")
                .agg(F.count(F.lit(1)).alias("gain")))

    return greedy(dg, k, gains, "gain").select(
        "sel_order", F.col("id").alias(id_col), "gain")


def greedy_weighted_cover(df: DataFrame, k: int = 8,
                          id_col: str = "doc_id", text_col: str = "text",
                          n: int = 2) -> DataFrame:
    """Cost-weighted greedy coverage (the classic ln(n)-approx for
    weighted set cover): like :func:`greedy_set_cover` but each round
    maximizes the BANG-PER-BUCK ratio — newly covered grams per TOKEN
    of document length — so a short doc covering 20 new grams beats a
    rambling one covering 25.  The selection budget a curation pipeline
    actually optimizes is tokens, not documents.

    The ratio argmax is qratio = (gain·10⁶) div cost — SQL ``div``, TRUE
    integer division on longs, identical in both engines (Spark ``/``
    on longs is double division, one ulp from flipping a boundary pick
    against the oracle's exact ``//``) — with lowest-id tie-break.
    Same scale shape as the unweighted form; the winner's gain and cost
    ride the argmax struct, so each round is ONE ``first()``.
    Returns (sel_order, id, gain, cost, qratio)."""
    from .text import _token_ngrams, _tokens
    require_columns(df, [id_col, text_col], "greedy_weighted_cover")
    base = df.select(F.col(id_col).cast("long").alias("__id"),
                     F.col(text_col))
    costs = (base.select("__id", F.size(_tokens(text_col))
                          .cast("long").alias("__cost"))
                 .filter(F.col("__cost") > 0))
    dg = (base.select("__id",
                      F.explode(_token_ngrams(text_col, n)).alias("__g"))
              .distinct().join(costs, "__id")
              .localCheckpoint(eager=True))

    def ratios(_, chosen):
        return (_uncovered(dg, chosen).groupBy("__id")
                .agg(F.count(F.lit(1)).alias("gain"),
                     F.first("__cost").alias("cost"))
                .withColumn("qratio", F.expr(
                    "(gain * CAST(1000000 AS BIGINT)) div cost")))

    return greedy(dg, k, ratios, "qratio", carry=("gain", "cost")).select(
        "sel_order", F.col("id").alias(id_col), "gain", "cost", "qratio")


def mixture_weights(docs: DataFrame, group_col: str = "source",
                    text_col: str = "text") -> DataFrame:
    """Domain-mixture reweighting (the DoReMi / data-mixing primitive):
    per group, the observed token share vs a UNIFORM target mixture —
    weight(g) = target_share / observed_share = total_tokens /
    (n_groups · tokens(g)) — and the with-replacement-free sampling
    rate min(1, weight) a pipeline applies to hit the target mix
    without upsampling.  Under-represented domains get weight > 1
    (upsample or keep fully), over-represented ones get the keep
    fraction.

    One token-count aggregate per group (in-row ``size``, no explode)
    + a 1-row totals broadcast; weights are ONE double division of
    exact integer counts — bit-identical across engines, positive, so
    the rounding is tie-safe.  Groups whose documents are ALL empty
    (n_tokens = 0) are dropped before the totals pass: they contribute
    nothing to any token mixture and would otherwise divide by zero
    (NULL weight under non-ANSI Spark, ±inf under DuckDB — a
    cross-engine trap, not a meaningful row).  Returns (group, n_docs,
    n_tokens, weight, sample_rate)."""
    from ..functions.scalar import roundn
    from .text import _tokens
    require_columns(docs, [group_col, text_col], "mixture_weights")
    per = (docs.select(F.col(group_col),
                       F.size(_tokens(text_col)).cast("long")
                        .alias("__nt"))
               .groupBy(group_col)
               .agg(F.count(F.lit(1)).alias("n_docs"),
                    F.sum("__nt").alias("n_tokens"))
               .filter(F.col("n_tokens") > 0))
    totals = per.agg(F.sum("n_tokens").alias("__tot"),
                     F.count(F.lit(1)).alias("__ng"))
    weight = (F.col("__tot").cast("double")
              / (F.col("__ng") * F.col("n_tokens")).cast("double"))
    return (per.crossJoin(F.broadcast(totals))
               .select(group_col, "n_docs", "n_tokens",
                       roundn(weight).alias("weight"),
                       roundn(F.least(F.lit(1.0), weight))
                       .alias("sample_rate")))
