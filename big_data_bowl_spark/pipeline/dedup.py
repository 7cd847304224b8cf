"""Deduplication operators for large-scale training-data pipelines.

Four tiers, cheapest to richest, all shuffle-architected for 100 TB:

- exact: hash-groupBy on a content digest — one shuffle on the digest, the
  canonical-id choice is a min() aggregate (map-side combinable).
- n-gram Jaccard: explode→equi-join on token — the classic set-similarity
  join; candidates bounded by a probe set / LSH bucket so the common-token
  fan-out never goes quadratic in the corpus.
- MinHash + LSH: signature = k independent min-hashes over shingle hashes;
  banding buckets are the join key, so only same-bucket docs ever meet —
  the scale path.
- SimHash: 60-bit fingerprint via per-token hash bit-voting; near-dup
  candidates share a fingerprint band.

The MinHash/SimHash tier has ONE hash family: a polynomial character hash
(h·31+code mod 10^9+7) for shingles/tokens, the affine (a·h+b) mod 2^31−1
family for slots, and a polynomial fold for band buckets.  Every step is
explicit integer arithmetic, so any SQL engine reproduces signatures,
buckets and estimates bit-for-bit (the DuckDB oracles do) — and it
measured faster than the xxhash64 family it replaced.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.scalar import roundn
from ..operators.fixpoint import iterate
from ..schemas import arrow_fanout, fan_out, require_columns
from .text import FP_PRIME, _token_ngrams


def _tokens_distinct(df: DataFrame, id_col: str, text_col: str,
                     extra: list[str]) -> DataFrame:
    """Distinct (id, token) pairs: dedup IN-ROW (array_distinct before
    the explode, r13) so token multiplicity never inflates a join —
    and without the full (id, token) shuffle the old post-explode
    .distinct() paid for the same result.  Precondition (all callers):
    one row per id — the doc tables' grain; cross-ROW duplicate ids
    would need the shuffle form."""
    return (df.select(id_col, *extra,
                      F.explode(F.array_remove(F.array_distinct(
                          F.split(F.col(text_col), " ")), ""))
                      .alias("token")))


def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups by md5 digest: one row per distinct content,
    with the canonical (min) id and the copy count.

    Returns (content_hash, canonical_doc_id, n_copies).
    """
    require_columns(df, [id_col, text_col], "exact_dedup")
    return (df.select(F.md5(F.col(text_col)).alias("content_hash"),
                      F.col(id_col))
              .groupBy("content_hash")
              .agg(F.min(id_col).alias("canonical_doc_id"),
                   F.count(F.lit(1)).alias("n_copies")))


def ngram_jaccard_pairs(df: DataFrame, threshold: float = 0.5,
                        probe_mod: int = 50, id_col: str = "doc_id",
                        text_col: str = "text",
                        bucket_col: str = "source") -> DataFrame:
    """Token-set Jaccard similarity join, bucketed.

    Probes (``id % probe_mod == 0``) are compared against every doc in the
    same bucket: explode to distinct (doc, token), equi-join on
    (bucket, token) to count intersections, then |A∪B| = |A|+|B|−|A∩B|.
    The bucket key keeps the candidate set linear in the corpus; swap the
    probe filter for an LSH band (``minhash_lsh_pairs``) to get all-pairs
    behavior at scale.

    Returns (doc_a, doc_b, jaccard) with jaccard ≥ threshold, a ≠ b.
    """
    require_columns(df, [id_col, text_col, bucket_col], "ngram_jaccard_pairs")
    tok = _tokens_distinct(df, id_col, text_col, [bucket_col])
    sizes = tok.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_tok"))
    probes = tok.filter(F.col(id_col) % probe_mod == 0)
    inter = (probes.alias("a")
             .join(tok.alias("b"),
                   (F.col(f"a.{bucket_col}") == F.col(f"b.{bucket_col}"))
                   & (F.col("a.token") == F.col("b.token"))
                   & (F.col(f"a.{id_col}") != F.col(f"b.{id_col}")))
             .groupBy(F.col(f"a.{id_col}").alias("doc_a"),
                      F.col(f"b.{id_col}").alias("doc_b"))
             .agg(F.count(F.lit(1)).alias("n_inter")))
    # Only the probe-side size table is broadcast-safe: probes are bounded
    # by probe_mod, but sizes is one row per CORPUS doc — broadcasting it
    # would ship the whole corpus to every executor at 100 TB.  The
    # candidate-side join stays a shuffle join (AQE may still broadcast it
    # at small SF, which is fine — that's a runtime decision, not a hint).
    sa = (sizes.filter(F.col(id_col) % probe_mod == 0)
               .select(F.col(id_col).alias("doc_a"), F.col("n_tok").alias("n_a")))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n_tok").alias("n_b"))
    jac = F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
    return (inter.join(F.broadcast(sa), "doc_a").join(sb, "doc_b")
                 .withColumn("jaccard", roundn(jac))
                 .filter(F.col("jaccard") >= threshold)
                 .select("doc_a", "doc_b", "jaccard"))


# suffix-histogram geometry (r13): 16 hash buckets, 16-bit lanes, 4
# lanes per int64 word -> 4 words per prefix row per side.  16-bit
# lanes make the counts EXACT (no saturation arithmetic) for every doc
# with <= 65535 distinct tokens — guarded with the already-carried
# length column, see the filter block in jaccard_prefix_pairs.
_SFX_BUCKETS = 16
_SFX_LANES = 4   # 16-bit lanes per word
_SFX_WORDS = _SFX_BUCKETS // _SFX_LANES


def jaccard_prefix_pairs(df: DataFrame, threshold: float = 0.6,
                         id_col: str = "doc_id",
                         text_col: str = "text",
                         small_vocab_bits: int = 504) -> DataFrame:
    """EXACT all-pairs token-Jaccard join with PPJoin prefix filtering —
    the candidate-pruned form that makes an exact threshold join feasible
    where :func:`ngram_jaccard_pairs` needs a probe set or bucket.

    Theorem (prefix filter): order every set's tokens by one global
    order (document frequency ascending, token as tie-break — rarest
    first); with prefix length |A| − ⌈τ·|A|⌉ + 1, any pair with
    J(A,B) ≥ τ shares a token in BOTH prefixes.  So candidates come from
    equi-joining PREFIX tokens only, pruned further by PPJoin's LENGTH
    filter (J ≥ τ forces τ·|B| ≤ |A| ≤ |B|/τ — checked in the join
    before the pair ever exists, r11), PPJoin's POSITIONAL filter
    (Xiao et al., WWW'08 "Efficient Similarity Joins for Near
    Duplicate Detection": overlap ≤ 1 + min(|A|−i, |B|−j) at the
    first shared token — applied in-join, r12), and the PPJoin+
    SUFFIX filter re-expressed as a hashed count-histogram bound
    (r13 — see the in-line soundness argument at the filter site:
    16-bucket suffix histograms built by native window sums, carried
    as 4 int64 words per prefix row, Σ_b min(cntA_b, cntB_b) an exact
    upper bound on the suffix overlap).  Under a Zipf
    vocabulary the prefix join touches the rare tail instead of the
    stop-word head, collapsing the candidate count.  Candidates verify
    exactly in-row, so the result EQUALS the naive all-pairs join —
    same oracle SQL.

    SMALL-VOCABULARY fast path (r11, auto-detected): when the DISTINCT
    token count V fits a few machine words (V ≤ ``small_vocab_bits``,
    default 504 = 8 words), a token set IS a tuple of W = ⌈V/63⌉ int64
    bitmask COLUMNS, and Jaccard collapses to integer bit arithmetic
    at SET grain: docs group by mask tuple (identical sets verify
    once), the prefix join runs over distinct mask tuples,
    verification is Σ_w ``bit_count(a_w & b_w)`` — a fixed chain of
    codegen integer ops replacing an array_intersect per candidate —
    and doc pairs expand from set pairs by two mask-keyed joins (the
    expansion volume IS the output).  Same-mask doc pairs are J = 1 by
    identity and skip verification entirely.  Candidates are emitted
    exactly once via the lowest-shared-prefix-bit rule (see
    :func:`_jaccard_smallvocab`) so there is NO distinct shuffle.  The
    sf0.1 synthetic corpus (V = 31, 57% of all doc pairs are true
    duplicates at τ = 0.6 — an output-bound worst case) runs
    182s → ~9s with bit-identical output; the sf1.0 stress replica
    (V = 310 → 5 words) stays on this path instead of falling off a
    cliff to arrays.
    Real corpora (V ≫ 504) take the classic array path, where the
    Zipf prefix filter is the lever.  The V-count probe is one
    driver-scale job on the vocabulary table (the `_ladder_widths`
    stats-job discipline).

    Shuffles (array path): token explode (dedup is IN-ROW via
    array_distinct before the explode, r13 — the old post-explode
    .distinct() was a full (id, token) shuffle buying nothing), one
    SHUFFLE join tok⋈freq on token (the vocabulary is corpus-scale —
    one row per distinct token — so it must never be broadcast; AQE
    may still pick a runtime broadcast at small SF, which is a
    statistics decision, not a hint), one window (per-doc rank + the
    r13 suffix-histogram sums, all over the SAME sorted partition),
    the prefix self-join, and two id-joins for verification arrays.
    Every stage is key-partitioned; nothing is quadratic in the
    corpus.

    Returns (doc_a, doc_b, jaccard), doc_a < doc_b, jaccard ≥ τ.
    """
    require_columns(df, [id_col, text_col], "jaccard_prefix_pairs")
    tok = _tokens_distinct(df, id_col, text_col, [])
    freq = tok.groupBy("token").agg(F.count(F.lit(1)).alias("__df"))
    tau = float(threshold)
    n_distinct = freq.count()
    if n_distinct <= small_vocab_bits:
        n_words = max(1, -(-int(n_distinct) // 63))  # ceil(V/63)
        return _jaccard_smallvocab(tok, freq, tau, id_col, n_words)
    w_doc = Window.partitionBy(id_col)
    w_rank = w_doc.orderBy(F.asc("__df"), F.asc("token"))
    w_sfx = w_rank.rowsBetween(1, Window.unboundedFollowing)
    ranked = (tok.join(freq, "token")
                 .withColumn("__n", F.count(F.lit(1)).over(w_doc))
                 .withColumn("__r", F.row_number().over(w_rank))
                 .withColumn("__bk", F.pmod(F.xxhash64("token"),
                                            F.lit(_SFX_BUCKETS))
                                      .cast("int")))
    # suffix-histogram words (r13): for each token row, the packed
    # per-bucket counts of the tokens ranked strictly AFTER it in the
    # same doc — native window SUMS over the SAME sorted partition the
    # rank already pays for (frame = 1 FOLLOWING..UNBOUNDED), so the
    # construction adds no interpreted lambda and no extra shuffle.
    # Empty suffix (last position) sums to NULL -> 0.
    for w in range(_SFX_WORDS):
        lane_inc = F.expr(
            f"CASE WHEN CAST(__bk / {_SFX_LANES} AS INT) = {w} "
            f"THEN shiftleft(CAST(1 AS BIGINT), "
            f"(__bk % {_SFX_LANES}) * 16) "
            f"ELSE CAST(0 AS BIGINT) END")
        ranked = ranked.withColumn(
            f"__s{w}", F.coalesce(F.sum(lane_inc).over(w_sfx), F.lit(0)))
    prefix = ranked.filter(
        F.col("__r") <= F.col("__n")
        - F.ceil(F.lit(tau) * F.col("__n")) + 1)
    pa = prefix.select(F.col(id_col).alias("doc_a"),
                       F.col("__n").alias("__pna"),
                       F.col("__r").alias("__ra"), "token",
                       *[F.col(f"__s{w}").alias(f"__sa{w}")
                         for w in range(_SFX_WORDS)])
    pb = prefix.select(F.col(id_col).alias("doc_b"),
                       F.col("__n").alias("__pnb"),
                       F.col("__r").alias("__rb"), "token",
                       *[F.col(f"__s{w}").alias(f"__sb{w}")
                         for w in range(_SFX_WORDS)])
    # PPJoin POSITIONAL filter (r12): at the pair's FIRST shared token
    # (both docs sorted by the same global order) everything before
    # position i in A and j in B is disjoint from the other side, so
    # |A∩B| ≤ 1 + min(|A|−i, |B|−j); J ≥ τ needs |A∩B| ≥
    # τ(|A|+|B|)/(1+τ).  Applied at EVERY meeting it may kill later
    # meetings of a true pair, but never the first one (there the bound
    # ≥ |A∩B| ≥ required), so the distinct'd candidate set stays
    # complete — only redundant/hopeless meetings die inside the join,
    # before the distinct shuffle and the two array-fetch joins.
    # Measured on the midvocab stress corpus (V≈45k, 50k docs): raw
    # meetings 15.2M → 2.16M, distinct candidates 14.3M → 1.69M for
    # the same 73,655 result pairs (8.5× less verification work).  The
    # 1e-9 slack only ever KEEPS an extra candidate on a float
    # boundary — verification stays exact.
    overlap_ub = 1 + F.least(F.col("__pna") - F.col("__ra"),
                             F.col("__pnb") - F.col("__rb"))
    # suffix-HISTOGRAM filter (r13) — the PPJoin+ suffix filter (Xiao
    # et al., WWW'08 §4.2) re-expressed for a distributed join, where
    # per-candidate binary search of the other record is unaffordable
    # (carrying full token arrays through the prefix join measured 50x
    # slower — the arrays ride every of the ~15M meetings).  Instead
    # each prefix row carries a 16-bucket hashed count histogram of
    # its SUFFIX tokens, packed 16-bit x 4 lanes into 4 int64 words.
    # Soundness: |A_sfx ∩ B_sfx| = Σ_b |shared in bucket b| ≤
    # Σ_b min(cntA_b, cntB_b) — hashing only MERGES buckets, and the
    # min of merged exact counts never undercounts the shared tokens
    # that landed there.  At the pair's FIRST meeting the overlap is
    # exactly 1 + |A_sfx ∩ B_sfx| (everything before the meeting
    # position is disjoint — the positional filter's argument), so
    # J >= τ forces 1 + Σ_b min >= ceil(τ(na+nb)/(1+τ)) and a failing
    # pair can only lose REDUNDANT meetings, never its first: the
    # distinct'd candidate set stays complete and the result stays
    # EXACT.  Lane exactness: a lane counts <= __n distinct tokens, so
    # __n <= 65535 provably cannot overflow a 16-bit lane — larger
    # docs (never seen in practice; a 65k-distinct-token record) skip
    # the filter via the guard instead of risking a corrupt count.
    # Why count-histograms and not the paper's recursive partitioning:
    # Mann et al. (VLDB'16) measure the suffix filter's probe cost
    # exceeding its savings on short records; here the construction is
    # free (window sums over the already-sorted partition) and the
    # per-meeting cost is 16 integer min/adds, so the tradeoff
    # inverts.  Measured (50k-doc midvocab stress, V≈45k): distinct
    # candidates 1.69M -> 85k for the same 73,655 output pairs and
    # 9.7s -> 6.4s end-to-end; on a 20k-doc long-document corpus
    # (~290 tokens/doc, the web-page shape) candidates 7.98M -> 1.6M
    # and 224s -> 42s (5.3x) — the filter's value grows with record
    # length because it prunes BEFORE the array-fetch joins whose
    # per-candidate cost is O(doc length).  Output bit-identical on
    # both corpora.
    sfx_ub = F.expr(" + ".join(
        f"least(shiftright(__sa{w}, {lane * 16}) & 65535, "
        f"shiftright(__sb{w}, {lane * 16}) & 65535)"
        for w in range(_SFX_WORDS) for lane in range(_SFX_LANES)))
    lane_guard = (F.col("__pna") > 65535) | (F.col("__pnb") > 65535)
    cand = (pa.join(pb, "token")
              .filter((F.col("doc_a") < F.col("doc_b"))
                      # length filter: τ·nb ≤ na and τ·na ≤ nb
                      & (F.col("__pna").cast("double")
                         >= F.lit(tau) * F.col("__pnb"))
                      & (F.col("__pnb").cast("double")
                         >= F.lit(tau) * F.col("__pna"))
                      & (overlap_ub.cast("double") * F.lit(1.0 + tau)
                         >= F.lit(tau) * (F.col("__pna")
                                          + F.col("__pnb")) - 1e-9))
              .filter(lane_guard
                      | ((1 + sfx_ub).cast("double") * F.lit(1.0 + tau)
                         >= F.lit(tau) * (F.col("__pna")
                                          + F.col("__pnb")) - 1e-9))
              .select("doc_a", "doc_b").distinct())
    arrays = (tok.groupBy(id_col)
                 .agg(F.sort_array(F.collect_list("token")).alias("__toks"),
                      F.count(F.lit(1)).alias("__n")))
    a = arrays.select(F.col(id_col).alias("doc_a"),
                      F.col("__toks").alias("__ta"), F.col("__n").alias("__na"))
    b = arrays.select(F.col(id_col).alias("doc_b"),
                      F.col("__toks").alias("__tb"), F.col("__n").alias("__nb"))
    inter = F.size(F.array_intersect("__ta", "__tb"))
    jac = inter / (F.col("__na") + F.col("__nb") - inter)
    return (cand.join(a, "doc_a").join(b, "doc_b")
                .withColumn("jaccard", roundn(jac))
                .filter(F.col("jaccard") >= threshold)
                .select("doc_a", "doc_b", "jaccard"))


def _jaccard_smallvocab(tok: DataFrame, freq: DataFrame, tau: float,
                        id_col: str, n_words: int) -> DataFrame:
    """The V ≤ 63·W bitmask set-grain path of
    :func:`jaccard_prefix_pairs` (see there for the argument),
    generalized to ``n_words`` mask WORDS (r11): token bit g lives in
    word (g-1)//63, bit (g-1)%63, each word a NAMED int64 column, so
    the per-candidate verification |A∩B| = Σ_w bit_count(a_w & b_w) is
    a fixed chain of codegen integer ops — never an interpreted
    lambda, never an array op.  ``tok`` is (id, token) distinct;
    ``freq`` is (token, __df).

    DEDUP-FREE candidate generation (r11b): a pair sharing k prefix
    tokens comes out of the prefix equi-join k times, and the original
    form paid a full shuffle to ``.distinct()`` the duplicates away
    (measured at sf0.1: 41M generated → 6.0M distinct — a 6.9×
    inflation through the widest shuffle of the query).  But the
    prefix IS a bitmask here, so "emit each pair exactly once" is
    integer arithmetic: carry each set's PREFIX mask through the join
    and keep a candidate only where the join token __g is the
    LOWEST-RANKED shared prefix token — no shared bit strictly below
    __g's bit, i.e. Σ_w (pa_w & pb_w & low_w(__g)) = 0 where low_w
    masks the bits of word w that rank below __g.  Every surviving row
    is unique by construction, verification runs in the SAME codegen
    stage as the join filter, and the 41M-row distinct shuffle is gone.

    Measured at sf0.1 (V = 31, 3,935 distinct sets, 7.1M output pairs):
    25.6s with the distinct → 8.6–9.4s dedup-free — and the r10 array
    form was 182.5s, so the small-vocab path is now ~20× end-to-end.

    The prefix join key __g has at most V distinct values, but the
    broadcast SET-grain build side already removes that skew."""
    wg = Window.orderBy(F.asc("__df"), F.asc("token"))  # V rows: tiny
    granks = (freq.withColumn("__g", F.row_number().over(wg))
                  .select("token", "__g"))
    mask_cols = [f"__m{w}" for w in range(n_words)]

    def word_sum(w: int):
        # tokens are distinct per doc, so summing distinct powers of
        # two within a word IS the bitwise OR of that word's bits
        return F.sum(F.expr(
            f"CASE WHEN CAST(floor((__g - 1) / 63) AS INT) = {w} "
            f"THEN shiftleft(CAST(1 AS BIGINT), "
            f"CAST((__g - 1) % 63 AS INT)) "
            f"ELSE CAST(0 AS BIGINT) END")).alias(f"__m{w}")

    # pinned: the token⋈map join feeds the set table AND four expansion
    # references — one materialization instead of five recomputes (and
    # the ≤V-row broadcast hint stays inside this one stage)
    docs = (tok.join(F.broadcast(granks), "token")
               .groupBy(id_col)
               .agg(*[word_sum(w) for w in range(n_words)],
                    F.sort_array(F.collect_list("__g")).alias("__gs"),
                    F.count(F.lit(1)).alias("__n"))
               .localCheckpoint(eager=True))
    # set grain: one row per distinct mask tuple (rank list/size are
    # mask-determined, so first() is deterministic)
    plen = (F.col("__n") - F.ceil(F.lit(tau) * F.col("__n")) + 1
            ).cast("int")
    pfx_cols = [f"__p{w}" for w in range(n_words)]

    def pfx_mask(w: int):
        # OR of the prefix tokens' bits that land in word w — an
        # interpreted HOF, but over ≤ set-count rows × prefix-length
        # elements (thousands), never the pair grain
        return F.expr(
            f"aggregate(slice(__gs, 1, "
            f"CAST(__n - CEIL({tau!r} * __n) + 1 AS INT)), "
            f"CAST(0 AS BIGINT), (acc, g) -> acc | "
            f"(CASE WHEN CAST(floor((g - 1) / 63) AS INT) = {w} "
            f"THEN shiftleft(CAST(1 AS BIGINT), "
            f"CAST((g - 1) % 63 AS INT)) "
            f"ELSE CAST(0 AS BIGINT) END))").alias(f"__p{w}")

    sets = (docs.groupBy(*mask_cols)
                .agg(F.first("__gs").alias("__gs"),
                     F.first("__n").alias("__n"))
                .select(*mask_cols, "__gs", "__n",
                        *[pfx_mask(w) for w in range(n_words)]))
    spfx = sets.select(*mask_cols, *pfx_cols, "__n",
                       F.explode(F.slice("__gs", 1, plen)).alias("__g"))
    a_cols = [f"__a{w}" for w in range(n_words)]
    b_cols = [f"__b{w}" for w in range(n_words)]
    pa_cols = [f"__pa{w}" for w in range(n_words)]
    pb_cols = [f"__pb{w}" for w in range(n_words)]
    sa = spfx.select(*[F.col(m).alias(a) for m, a in zip(mask_cols, a_cols)],
                     *[F.col(p).alias(a) for p, a in zip(pfx_cols, pa_cols)],
                     F.col("__n").alias("__na"), "__g")
    # fan the PROBE side out to full parallelism (r14): the set table is
    # tiny in BYTES (set-count × ~25 longs), so AQE coalesces the
    # upstream shuffle to 1-2 partitions — and the prefix join's probe
    # loop, whose meeting volume is quadratic-in-sets-per-token (the
    # actual cost of the query: ~400M meetings at the sf1.0 smallvocab
    # replica), then runs on 1-2 cores no matter how many the session
    # has.  Measured on that leg, same session interleaved min-of-2:
    # verify stage 102.5s -> 10.6s (~10x), a-side partitions 2 -> 32.
    # The build side stays the broadcast (plan-confirmed
    # BroadcastHashJoin at both SFs) — only the probe side's
    # partitioning carries the parallelism.
    sa = fan_out(sa)
    sb = spfx.select(*[F.col(m).alias(b) for m, b in zip(mask_cols, b_cols)],
                     *[F.col(p).alias(b) for p, b in zip(pfx_cols, pb_cols)],
                     F.col("__n").alias("__nb"), "__g")
    inter = None
    for a, b in zip(a_cols, b_cols):
        term = F.bit_count(F.col(a).bitwiseAND(F.col(b)))
        inter = term if inter is None else inter + term
    jac = roundn(inter / (F.col("__na") + F.col("__nb") - inter))
    # lowest-shared-prefix-bit uniqueness: low_w(__g) = the bits of
    # word w ranking strictly below __g; the pair survives only at the
    # minimal shared prefix token, so no distinct is ever needed
    first_shared = None
    for w, (pa, pb) in enumerate(zip(pa_cols, pb_cols)):
        c = F.expr(
            f"({pa} & {pb} & "
            f"(CASE WHEN {w} < CAST(floor((__g - 1) / 63) AS INT) "
            f"THEN CAST(-1 AS BIGINT) "
            f"WHEN {w} = CAST(floor((__g - 1) / 63) AS INT) "
            f"THEN shiftleft(CAST(1 AS BIGINT), "
            f"CAST((__g - 1) % 63 AS INT)) - CAST(1 AS BIGINT) "
            f"ELSE CAST(0 AS BIGINT) END)) = 0")
        first_shared = c if first_shared is None else (first_shared & c)
    spairs = (sa.join(sb, "__g")
                .filter((F.struct(*[F.col(a) for a in a_cols])
                         < F.struct(*[F.col(b) for b in b_cols]))
                        & (F.col("__na").cast("double")
                           >= F.lit(tau) * F.col("__nb"))
                        & (F.col("__nb").cast("double")
                           >= F.lit(tau) * F.col("__na"))
                        & first_shared)
                .withColumn("jaccard", jac)
                .filter(F.col("jaccard") >= tau)
                .select(*a_cols, *b_cols, "jaccard"))
    ids = docs.select(*mask_cols, F.col(id_col))
    cross = (spairs
             .join(ids.select(*[F.col(m).alias(a)
                                for m, a in zip(mask_cols, a_cols)],
                              F.col(id_col).alias("__ida")), a_cols)
             .join(ids.select(*[F.col(m).alias(b)
                                for m, b in zip(mask_cols, b_cols)],
                              F.col(id_col).alias("__idb")), b_cols)
             .select(F.least("__ida", "__idb").alias("doc_a"),
                     F.greatest("__ida", "__idb").alias("doc_b"),
                     "jaccard"))
    # identical sets: J = 1 ≥ any τ ≤ 1, no verification needed
    same = (ids.alias("x")
               .join(ids.alias("y"), mask_cols)
               .filter(F.col(f"x.{id_col}") < F.col(f"y.{id_col}"))
               .select(F.col(f"x.{id_col}").alias("doc_a"),
                       F.col(f"y.{id_col}").alias("doc_b"),
                       roundn(F.lit(1.0)).alias("jaccard")))
    if tau > 1.0:
        same = same.filter(F.lit(False))  # degenerate caller guard
    return cross.unionByName(same)



def containment_pairs(df: DataFrame, threshold: float = 0.8,
                      probe_mod: int = 50, id_col: str = "doc_id",
                      text_col: str = "text",
                      bucket_col: str = "source") -> DataFrame:
    """ASYMMETRIC token-set containment join: C(A→B) = |A∩B| / |A|.

    Jaccard misses the quote/subset duplicate — a short document wholly
    embedded in a much longer one scores J = |A|/|B| ≈ 0 but C(A→B) = 1.
    Containment is the statistic the dedup literature (Broder's
    "resemblance and containment") pairs with Jaccard for exactly this
    case, and the one a curation pipeline needs to drop quoted/excerpted
    near-copies that LSH-on-Jaccard keeps.

    Same bucketed candidate plan as :func:`ngram_jaccard_pairs` (probes =
    ``id % probe_mod == 0`` vs every same-bucket doc; explode → distinct →
    equi-join on (bucket, token) → count): the candidate set stays linear
    in the corpus, every stage is key-partitioned.  Only the probe-side
    size table broadcasts (bounded by probe_mod); the corpus-side sizes
    join stays a shuffle join at scale.

    Returns (doc_a, doc_b, containment, n_a, n_b) with containment ≥ τ
    and n_b > n_a — doc_a is (mostly) inside the strictly-larger doc_b,
    so the pair reads "a is contained in b", never the symmetric dup that
    the Jaccard path already reports.
    """
    require_columns(df, [id_col, text_col, bucket_col], "containment_pairs")
    tok = _tokens_distinct(df, id_col, text_col, [bucket_col])
    sizes = tok.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_tok"))
    probes = tok.filter(F.col(id_col) % probe_mod == 0)
    inter = (probes.alias("a")
             .join(tok.alias("b"),
                   (F.col(f"a.{bucket_col}") == F.col(f"b.{bucket_col}"))
                   & (F.col("a.token") == F.col("b.token"))
                   & (F.col(f"a.{id_col}") != F.col(f"b.{id_col}")))
             .groupBy(F.col(f"a.{id_col}").alias("doc_a"),
                      F.col(f"b.{id_col}").alias("doc_b"))
             .agg(F.count(F.lit(1)).alias("n_inter")))
    sa = (sizes.filter(F.col(id_col) % probe_mod == 0)
               .select(F.col(id_col).alias("doc_a"),
                       F.col("n_tok").alias("n_a")))
    sb = sizes.select(F.col(id_col).alias("doc_b"),
                      F.col("n_tok").alias("n_b"))
    cont = F.col("n_inter") / F.col("n_a")
    return (inter.join(F.broadcast(sa), "doc_a").join(sb, "doc_b")
                 .withColumn("containment", roundn(cont))
                 .filter((F.col("containment") >= threshold)
                         & (F.col("n_b") > F.col("n_a")))
                 .select("doc_a", "doc_b", "containment", "n_a", "n_b"))


N_MINHASH = 32
LSH_BANDS = 8  # 8 bands × 4 rows — s-curve threshold ≈ (1/8)^(1/4) ≈ 0.59


_MH_PRIME = 2_147_483_647  # 2^31 − 1: keeps a*h + b < 2^62 under ANSI


def _mh_coeffs(n: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the affine universal-hash family
    h_i(x) = (a_i·x + b_i) mod p — derived from a fixed LCG so signatures
    are reproducible across runs with no RNG state."""
    out, s = [], 0x9E3779B9
    for _ in range(n):
        s = (s * 6364136223846793005 + 1442695040888963407) % (1 << 62)
        a = (s % (_MH_PRIME - 1)) + 1     # a ∈ [1, p−1]
        s = (s * 6364136223846793005 + 1442695040888963407) % (1 << 62)
        b = s % _MH_PRIME                 # b ∈ [0, p−1]
        out.append((a, b))
    return out


def shingle_base_hashes(text: Column, shingle_len: int = 3) -> Column:
    """Word-shingle base hashes as an array<long>: each ``shingle_len``
    word shingle hashed once with the polynomial character hash
    (h·31+code mod 10^9+7, seed 7 — < 2^31, so it feeds the affine slot
    family unchanged).  The expensive string work — split, slice,
    concat, hash — happens HERE, exactly once per shingle."""
    from .text import polynomial_token_hash
    words = F.split(text, " ")
    n_sh = F.greatest(F.size(words) - (shingle_len - 1), F.lit(1))
    shingles = F.transform(
        F.sequence(F.lit(0), n_sh - 1),
        lambda i: F.concat_ws(" ", F.slice(words, i + 1, shingle_len)))
    return F.transform(shingles, polynomial_token_hash)


def minhash_slots(base_col: str, n_hashes: int = N_MINHASH) -> Column:
    """The ``n_hashes`` MinHash signature slots over a MATERIALIZED base-
    hash array column: slot i is min over the affine universal hash
    ``(a_i·h + b_i) mod p``, folded with ``aggregate`` so no per-slot
    intermediate array is built.

    The base hashes MUST be a named column (``shingle_base_hashes``
    staged via ``withColumn``), not an inlined expression: higher-order
    functions are interpreted (outside codegen), and Catalyst does not
    common-subexpression-eliminate through lambda bodies — inlining the
    base recomputes split+concat+hash once PER SLOT, a measured ~45×
    slowdown at sf0.1.

    Measured and REJECTED (r11): the "codegen" alternative — explode
    the base hashes to rows and groupBy(doc) with 32 plain
    ``F.min((a·h+b) mod p)`` aggregates — is ~1.5× SLOWER at sf0.1
    (4.2s vs 6.4s forced-evaluation A/B, two rounds each).  Either form
    pays the same 32 buffer updates per base hash; the explode adds row
    materialization and a doc-grain shuffle that the in-row fold never
    pays.  The interpreted fold over a STAGED array is the right shape;
    do not "optimize" it back out."""
    return F.array(*[
        F.aggregate(base_col, F.lit(_MH_PRIME).cast("long"),
                    lambda acc, h: F.least(acc, (F.lit(a) * h + F.lit(b))
                                           % _MH_PRIME))
        for a, b in _mh_coeffs(n_hashes)])


def _token_folds(tokens: list[str], base: int):
    """The polynomial character fold of every token, vectorized over
    character POSITION: returns uint64 arrays ``(h0, pw)`` with h0 the
    fold ``h·base + code mod P`` from seed 0 and pw = base^len mod P.

    Seeded folds and space-joined concatenations follow by composition
    (all mod P): from seed s the fold is ``s·pw + h0``, and
    ``h(x·y) = h(x)·pw(y) + h0(y)``.  Code points come from a utf-32
    decode — exactly Spark's ``ascii(substr(t, i, 1))`` for ASCII, BMP
    and astral characters alike.  Every intermediate is below 2^36, so
    uint64 is exact.  The numpy twin of :func:`~.text.polynomial_token_hash`
    and the one fold every text-hash Arrow stage in this module uses."""
    import numpy as np
    fp, b = np.uint64(FP_PRIME), np.uint64(base)
    lens = np.fromiter(map(len, tokens), dtype=np.int64, count=len(tokens))
    codes = np.frombuffer("".join(tokens).encode("utf-32-le"),
                          dtype=np.uint32)
    starts = np.cumsum(lens) - lens
    h0 = np.zeros(len(tokens), dtype=np.uint64)
    pw = np.ones(len(tokens), dtype=np.uint64)
    live = np.arange(len(tokens))
    for pos in range(int(lens.max(initial=0))):
        live = live[lens[live] > pos]       # tokens longer than pos
        h0[live] = (h0[live] * b + codes[starts[live] + pos]) % fp
        pw[live] = pw[live] * b % fp
    return h0, pw


def _split_words(texts: list, drop_empty_words: bool):
    """All words of ``texts`` split on " " in one flat list, plus each
    text's word count; ``drop_empty_words`` drops the empty words of
    space runs, and a null text splits like ``""``."""
    import numpy as np
    words, counts = [], []
    for t in texts:
        ws = (t or "").split(" ")
        if drop_empty_words:
            ws = [w for w in ws if w]
        words += ws
        counts.append(len(ws))
    return words, np.array(counts, dtype=np.int64)


def _shingle_hashes(texts: list, shingle_len: int, drop_empty_words: bool):
    """numpy twin of :func:`shingle_base_hashes`: the polynomial hash
    (base 31, seed 7) of every ``shingle_len``-word shingle, words split
    on " " and re-joined by one space, ``max(n_words − len + 1, 1)``
    shingles per doc — a 1-2-word doc hashes its join and an empty doc
    the bare seed.  ``drop_empty_words`` drops the empty words of space
    runs (the filtered split of :func:`minhash_neutral_pairs`); a null
    text hashes like ``""`` (what the expression form returns).

    Each word is folded once (:func:`_token_folds`) and reused by the ≤
    ``shingle_len`` shingles containing it.  Returns ``(h, doc_starts)``:
    uint64 shingle hashes in doc order and the offset of each doc's first
    shingle (every doc has at least one, so ``np.*.reduceat`` over
    ``doc_starts`` is one segment per doc)."""
    import numpy as np
    words, wcounts = _split_words(texts, drop_empty_words)
    h0, p31 = _token_folds(words, 31)
    del words
    fp = np.uint64(FP_PRIME)
    n_sh = np.maximum(wcounts - (shingle_len - 1), 1)
    doc_starts = np.cumsum(n_sh) - n_sh
    sh_doc = np.repeat(np.arange(len(wcounts)), n_sh)
    sh_pos = np.arange(int(n_sh.sum())) - doc_starts[sh_doc]
    w_first = (np.cumsum(wcounts) - wcounts)[sh_doc] + sh_pos
    h = np.full(len(sh_doc), 7, dtype=np.uint64)        # _poly_hash seed
    for t in range(shingle_len):
        m = sh_pos + t < wcounts[sh_doc]
        wi = w_first[m] + t
        if t:
            h[m] = (h[m] * np.uint64(31) + np.uint64(32)) % fp  # the " "
        h[m] = (h[m] * p31[wi] + h0[wi]) % fp
    return h, doc_starts


def _minhash_sigs_arrow(df: DataFrame, id_col: str, text_col: str,
                        n_hashes: int, shingle_len: int,
                        drop_empty_words: bool) -> DataFrame:
    """MinHash signatures as ONE vectorized Arrow batch stage:
    :func:`_shingle_hashes` per batch, then slot i is the per-doc
    ``np.minimum.reduceat`` of the affine hash (a_i·h + b_i) mod 2^31−1
    (a·h+b < 2^62, exact in uint64).  Bit-identical to
    ``shingle_base_hashes`` staged through :func:`minhash_slots`
    (``drop_empty_words=False``) and to its filtered-split twin; the
    measurements behind the Arrow stage are in SCALE.md ("One shingle-
    hash kernel")."""
    coeffs = _mh_coeffs(n_hashes)
    id_type = dict(df.select(F.col(id_col)).dtypes)[id_col]
    narrow = arrow_fanout(df.select(F.col(id_col), F.col(text_col)))

    def _sigs(batches):
        import numpy as np
        import pandas as pd
        p = np.uint64(_MH_PRIME)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            h, starts = _shingle_hashes(pdf[text_col].tolist(), shingle_len,
                                        drop_empty_words)
            sig = np.empty((len(pdf), n_hashes), dtype=np.int64)
            for i, (a, b) in enumerate(coeffs):
                v = (np.uint64(a) * h + np.uint64(b)) % p
                sig[:, i] = np.minimum.reduceat(v, starts).astype(np.int64)
            yield pd.DataFrame({id_col: pdf[id_col].values,
                                "sig": list(sig)})

    return narrow.mapInPandas(_sigs, f"{id_col} {id_type}, "
                                     "sig array<long>")


def word_shingle_sets(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text",
                      shingle_len: int = 3) -> DataFrame:
    """Per-doc DISTINCT word shingles as ONE (id, ss array<string>) row
    per doc — the exact-verification side of q_lsh_precision, built in
    one Arrow batch stage (r14, guide §4.2; r15 reshaped to the nested
    form).

    Semantics = the expression form it replaces exactly: words are the
    non-empty splits on " ", shingle i = the space-joined slice
    words[i : i+shingle_len], n_shingles = max(n_words−len+1, 1) (so a
    short doc yields its 1-2-word join and an empty doc the empty
    string), deduped per doc.  Because the distinct key contains the
    doc id, global distinct ≡ per-doc distinct — a Python set per doc —
    so the old explode → global ``distinct()`` SHUFFLE of every shingle
    string disappears entirely along with the interpreted transform/
    concat_ws build (r14; measured: the explode+distinct stage was 3.5s
    and its checkpoint 2.7s at sf0.1).

    r15: the NESTED array output keeps the shingle strings OUT of every
    downstream join key — the verification intersection becomes an
    in-row exact ``array_intersect`` after doc-id-keyed joins (VERDICT
    item 2, delivered without the dictionary build shuffle it scoped:
    strings cross exactly one exchange, nested, keyed by doc id).
    Element order within a doc's array is unspecified (a Python set);
    consumers must treat it as a set — both consumers (explode +
    array_intersect) do.  A null text yields the ``[""]`` singleton, as
    ``""`` does (the expression form's behavior).
    """
    require_columns(df, [id_col, text_col], "word_shingle_sets")
    id_type = dict(df.select(F.col(id_col)).dtypes)[id_col]
    narrow = arrow_fanout(df.select(F.col(id_col), F.col(text_col)))

    def _shingles(batches):
        import pandas as pd
        for pdf in batches:
            ids, sets = [], []
            for i, t in zip(pdf[id_col].tolist(), pdf[text_col].tolist()):
                words = [w for w in (t or "").split(" ") if w]
                n_sh = max(len(words) - (shingle_len - 1), 1)
                seen = {" ".join(words[j:j + shingle_len])
                        for j in range(n_sh)}
                ids.append(i)
                sets.append(list(seen))
            yield pd.DataFrame({id_col: ids, "ss": sets})

    return narrow.mapInPandas(_shingles,
                              f"{id_col} {id_type}, ss array<string>")


def distinct_word_shingles(df: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text",
                           shingle_len: int = 3) -> DataFrame:
    """Per-doc DISTINCT word shingles as (id, s string) rows — the
    exploded view of :func:`word_shingle_sets` (same Arrow stage; see
    there for semantics and the r14/r15 measurements)."""
    return (word_shingle_sets(df, id_col, text_col, shingle_len)
            .select(F.col(id_col), F.explode("ss").alias("s")))


def minhash_signatures(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text",
                       n_hashes: int = N_MINHASH) -> DataFrame:
    """The (id, sig) MinHash signature table — the persistable INDEX of a
    continuously-ingested corpus (stage it as parquet; signatures never
    need recomputing for already-seen documents).  One vectorized Arrow
    stage (:func:`_minhash_sigs_arrow`) over the unfiltered split,
    bit-identical to ``shingle_base_hashes`` staged through
    :func:`minhash_slots`."""
    require_columns(df, [id_col, text_col], "minhash_signatures")
    return _minhash_sigs_arrow(df, id_col, text_col, n_hashes,
                               shingle_len=3, drop_empty_words=False)


def _check_bands(n_slots: int, bands: int) -> None:
    if n_slots % bands != 0:
        raise ValueError(f"signature width ({n_slots}) must be divisible "
                         f"by bands ({bands}) — trailing slots would be "
                         "silently excluded from banding")


def _band_buckets(sig_df: DataFrame, id_col: str,
                  n_slots: int, bands: int) -> DataFrame:
    """(id, band, bucket) banding table from a signature table — the LSH
    join key generator shared by the batch and incremental paths.  Each
    band's slots fold with the polynomial (acc·31 + slot) mod 10^9+7
    seeded by the band index (engine-reproducible).

    r15 measured NO-GO for an Arrow twin (the interpreted-HOF sweep):
    the band fold isolates at 0.22-0.30s at BOTH sf0.01 and sf0.1 —
    already at the ~0.2s Python-worker round-trip floor a new
    mapInPandas stage would pay, and the fold tree is ~10² nodes/row
    (below the r14-measured ~10³ pay threshold).  Left as JVM
    expressions."""
    rows_per_band = n_slots // bands
    bucket_arr = F.array(*[
        F.aggregate(F.slice(F.col("sig"), b * rows_per_band + 1,
                            rows_per_band),
                    F.lit(b).cast("long"),
                    lambda acc, s: (acc * 31 + s) % F.lit(FP_PRIME))
        for b in range(bands)])
    return sig_df.select(
        id_col, F.posexplode(bucket_arr).alias("band", "bucket"))


def _slot_estimate(pairs: DataFrame, sig_a: DataFrame, sig_b: DataFrame,
                   id_col: str, a: str, b: str, n_slots: int,
                   min_est_jaccard: float) -> DataFrame:
    """Join both signatures back onto the (a, b) id pairs and keep the
    pairs whose INTEGER matched-slot count m ≥ ceil(τ·n) — the form the
    SQL oracles state; est = m/n is dyadic for n = 32, so no float
    comparison sits on a candidate boundary.  Returns (a, b,
    est_jaccard)."""
    pairs = (pairs
             .join(sig_a.select(F.col(id_col).alias(a),
                                F.col("sig").alias("__sa")), a)
             .join(sig_b.select(F.col(id_col).alias(b),
                                F.col("sig").alias("__sb")), b))
    matches = F.size(F.filter(
        F.zip_with("__sa", "__sb", lambda x, y: x == y), lambda v: v))
    return (pairs.withColumn("__m", matches)
                 .filter(F.col("__m") >= math.ceil(min_est_jaccard * n_slots))
                 .select(a, b, roundn(F.col("__m") / F.lit(float(n_slots)))
                         .alias("est_jaccard")))


def _lsh_pairs(sig_df: DataFrame, id_col: str, n_slots: int, bands: int,
               min_est_jaccard: float) -> DataFrame:
    """The LSH pair core of every MinHash pair generator: band the
    signature table, self-join on (band, bucket), dedup the id pairs,
    then :func:`_slot_estimate`.

    The signature table feeds BOTH sides of the band self-join and both
    post-dedup join-backs; it is pinned (eager localCheckpoint,
    GC-released with the plan object) so the CPU-bound hashing runs
    exactly once, and repeated calls in one session never accumulate
    cached copies the way a bare .persist() would.  Candidate pairs
    carry ONLY the two ids through the band shuffle and the pair dedup;
    the 2·n_slots-long signature arrays join back AFTER it, so the
    widest shuffle stays 2 longs per row.

    Returns (doc_a, doc_b, est_jaccard) with doc_a < doc_b."""
    _check_bands(n_slots, bands)
    sig = sig_df.localCheckpoint(eager=True)
    banded = _band_buckets(sig, id_col, n_slots, bands)
    pairs = (banded.alias("a")
             .join(banded.alias("b"),
                   (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.bucket") == F.col("b.bucket"))
                   & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
             .select(F.col(f"a.{id_col}").alias("doc_a"),
                     F.col(f"b.{id_col}").alias("doc_b"))
             .dropDuplicates(["doc_a", "doc_b"]))
    return _slot_estimate(pairs, sig, sig, id_col, "doc_a", "doc_b",
                          n_slots, min_est_jaccard)


def minhash_lsh_match(new_df: DataFrame, index_sig: DataFrame,
                      id_col: str = "doc_id", text_col: str = "text",
                      n_hashes: int = N_MINHASH, bands: int = LSH_BANDS,
                      min_est_jaccard: float = 0.5) -> DataFrame:
    """INCREMENTAL near-dup matching: a new batch against an EXISTING
    signature index (``minhash_signatures`` output, typically read back
    from parquet).  Only the new batch's text is hashed; the index side
    re-derives band buckets from stored signatures (cheap folds over 32
    longs — no shingling).  Candidates are new×index per (band, bucket),
    so ingesting a batch never rescans the corpus text — the shape a
    continuously-fed training pipeline needs.

    Returns (new_id, index_id, est_jaccard) ≥ threshold.
    """
    _check_bands(n_hashes, bands)
    # localCheckpoint (GC-released), not a bare .persist(): the batch
    # signature table feeds banding AND the join-back, but its lifetime
    # should end with the plan object — repeated incremental ingests in
    # one session must not accumulate cached signature tables.
    new_sig = minhash_signatures(new_df, id_col, text_col,
                                 n_hashes).localCheckpoint(eager=True)
    nb = _band_buckets(new_sig, id_col, n_hashes, bands)
    ib = _band_buckets(index_sig, id_col, n_hashes, bands)
    pairs = (nb.alias("a")
             .join(ib.alias("b"),
                   (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.bucket") == F.col("b.bucket")))
             .select(F.col(f"a.{id_col}").alias("new_id"),
                     F.col(f"b.{id_col}").alias("index_id"))
             .dropDuplicates(["new_id", "index_id"]))
    return _slot_estimate(pairs, new_sig, index_sig, id_col, "new_id",
                          "index_id", n_hashes, min_est_jaccard)


def minhash_lsh_pairs(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text",
                      n_hashes: int = N_MINHASH, bands: int = LSH_BANDS,
                      min_est_jaccard: float = 0.5) -> DataFrame:
    """MinHash + LSH near-duplicate candidate pairs.

    Banding: the signature splits into ``bands`` groups; docs sharing any
    band hash collide into a bucket (the ONLY join key — no all-pairs
    shuffle).  Within a bucket, the estimated Jaccard is the fraction of
    agreeing signature slots — a dyadic rational (m/32), and the
    threshold is the integer slot count m >= ceil(tau*32), exactly as
    the SQL oracle states it.

    Signatures are :func:`minhash_signatures` (unfiltered split — the
    persistable index form); :func:`minhash_neutral_pairs` is the same
    pipeline over the empty-token-filtered split.  Every hash is the
    polynomial family, so q_minhash_pairs is hash-verified against the
    DuckDB oracle.

    Returns (doc_a, doc_b, est_jaccard) with doc_a < doc_b.
    """
    require_columns(df, [id_col, text_col], "minhash_lsh_pairs")
    return _lsh_pairs(minhash_signatures(df, id_col, text_col, n_hashes),
                      id_col, n_hashes, bands, min_est_jaccard)


# Densification offset stride for OPH (one-permutation hashing): strictly
# larger than any base hash (< _MH_PRIME = 2^31 − 1), so a slot borrowed
# over k rotation steps can never collide with a native slot or with a
# slot borrowed over k' ≠ k steps.  Max slot value = (2^31−1) + 31·2^31
# < 2^36 — safely inside BIGINT for the band fold's acc·31 + s step.
_OPH_C = 1 << 31


def minhash_oph_signatures(df: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text",
                           n_bins: int = N_MINHASH) -> DataFrame:
    """MinHash signatures by ONE-PERMUTATION HASHING (Li, Owen, Zhang,
    NIPS'12) with rotation densification (Shrivastava & Li, ICML'14):
    ONE polynomial hash per 3-word shingle (the unfiltered split of
    :func:`shingle_base_hashes`) binned by ``h mod B``, min per non-empty
    bin — one ``np.minimum.at`` update per shingle instead of the classic
    path's B affine hashes.  Empty bins (short docs) densify by rotation:
    bin j borrows from the nearest non-empty bin to its right
    (cyclically), offset by ``k·C`` per step so borrowed values only
    match when both docs borrowed the same value over the same distance
    — preserving the matched-slot estimator E[matches/B] ≈ J
    (property-tested against exact Jaccard).

    One Arrow stage after a full-parallelism fan-out; a null text
    hashes like ``""``.  The polynomial shingle hash lets any SQL engine
    reproduce the signature bit-for-bit (q_minhash_oph's DuckDB oracle
    rebuilds bins, rotation, and offsets exactly).  The r13 adjudication
    of the former explode/pivot form and its replacement are in
    SCALE.md ("One shingle-hash kernel").

    Returns (id_col, sig array<long>) with ``n_bins`` slots.
    """
    require_columns(df, [id_col, text_col], "minhash_oph_signatures")
    id_type = dict(df.select(F.col(id_col)).dtypes)[id_col]
    narrow = fan_out(df.select(F.col(id_col), F.col(text_col)))

    def _oph(batches):
        import numpy as np
        import pandas as pd
        # slot j = min over k of b_{j+k} + k·C (cyclic): every base hash
        # is < C, so this min IS the first non-empty bin to the right.
        # float64 is exact (slot values < 2^36); inf marks an empty bin.
        offs = float(_OPH_C) * np.arange(n_bins)
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            h, starts = _shingle_hashes(pdf[text_col].tolist(), 3, False)
            doc = np.repeat(np.arange(n), np.diff(starts, append=len(h)))
            bins = np.full((n, n_bins), np.inf)
            np.minimum.at(bins, (doc, (h % np.uint64(n_bins)).astype(np.intp)),
                          h.astype(np.float64))
            b2 = np.concatenate([bins, bins], axis=1)
            sig = np.empty((n, n_bins), dtype=np.int64)
            for j in range(n_bins):
                sig[:, j] = (b2[:, j:j + n_bins] + offs).min(axis=1)
            yield pd.DataFrame({id_col: pdf[id_col].values,
                                "sig": list(sig)})

    return narrow.mapInPandas(_oph, f"{id_col} {id_type}, "
                                    "sig array<long>")


def minhash_oph_pairs(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text",
                      n_bins: int = N_MINHASH, bands: int = LSH_BANDS,
                      min_est_jaccard: float = 0.5) -> DataFrame:
    """MinHash+LSH near-dup pairs over OPH signatures — the same
    band/bucket/estimate core as :func:`minhash_lsh_pairs` (banding
    reads any fixed-width signature array), with the signature build
    swapped for the one-pass :func:`minhash_oph_signatures`.
    Returns (doc_a, doc_b, est_jaccard), doc_a < doc_b."""
    require_columns(df, [id_col, text_col], "minhash_oph_pairs")
    return _lsh_pairs(minhash_oph_signatures(df, id_col, text_col, n_bins),
                      id_col, n_bins, bands, min_est_jaccard)


def embedding_dup_pairs(df: DataFrame, threshold: float = 0.9,
                        id_col: str = "vec_id", vec_col: str = "embedding",
                        bucket_col: str = "label") -> DataFrame:
    """Embedding-cosine near-duplicate pairs — the fifth dedup tier: two
    docs are near-dups when their embedding cosine ≥ ``threshold``.

    Candidate generation is BLOCKED on ``bucket_col`` (a cluster label /
    IVF cell / LSH bucket — any coarse partition of the vector space):
    the equi-join on the block key bounds candidates per block, so the
    pair count is Σ|block|², never |corpus|² — the same discipline as
    every other tier in this module.  The cosine itself is JVM-side
    ``zip_with``/``aggregate`` on the staged double arrays (no UDF).
    Feed the output to :func:`duplicate_components` for dup groups.

    Returns (id_a, id_b, cosine) with id_a < id_b, cosine pre-rounded.
    """
    require_columns(df, [id_col, vec_col, bucket_col], "embedding_dup_pairs")
    # r14: fan the narrow projection out BEFORE the per-pair cosine
    # folds — the embeddings parquet is a single row group, so without
    # this the blocked self-join's ~|block|² interpreted dot products
    # all run on the scan's lone partition (measured 3.66 → 0.90s at
    # sf0.1, the r13 fan-out-before-CPU-bound-stage rule).
    v = fan_out(df.select(F.col(id_col), F.col(bucket_col),
                          F.transform(vec_col, lambda x: x.cast("double"))
                           .alias("__v")))
    # stage the self-norm once per row (CSE does not cross the join)
    v = v.withColumn(
        "__n", F.sqrt(F.aggregate("__v", F.lit(0.0),
                                  lambda acc, x: acc + x * x)))
    dot = F.aggregate(
        F.zip_with(F.col("a.__v"), F.col("b.__v"), lambda x, y: x * y),
        F.lit(0.0), lambda acc, x: acc + x)
    pairs = (v.alias("a")
             .join(v.alias("b"),
                   (F.col(f"a.{bucket_col}") == F.col(f"b.{bucket_col}"))
                   & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
             .select(F.col(f"a.{id_col}").alias("id_a"),
                     F.col(f"b.{id_col}").alias("id_b"),
                     roundn(dot / (F.col("a.__n") * F.col("b.__n")))
                     .alias("cosine")))
    return pairs.filter(F.col("cosine") >= threshold)


def duplicate_components(pairs: DataFrame, id_a: str = "doc_a",
                         id_b: str = "doc_b",
                         max_iter: int = 25) -> DataFrame:
    """Resolve near-dup PAIRS into duplicate GROUPS: connected components
    by iterative min-label propagation (the same fixpoint GraphX/Pregel
    computes; dedup clusters are near-cliques, so convergence takes
    O(cluster diameter) ≈ 2-3 rounds, each one equi-join + min-agg on the
    node key).  Rounds run through ``operators.fixpoint.iterate``, so the
    plan stays O(1) deep at any scale; a round's state is (node,
    new_label, old_label) and the loop stops at the first round that
    changes no label.

    Returns (doc_id, component) where component = min doc id reachable —
    canonical-keeper selection falls out of the label choice.
    """
    e = pairs.select(F.col(id_a).cast("long").alias("a"),
                     F.col(id_b).cast("long").alias("b"))
    edges = (e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
              .distinct().localCheckpoint(eager=False))
    # seed with min(self, direct neighbors) — one propagation round for free
    seed = (edges.groupBy("a").agg(F.min("b").alias("__nb"))
                 .select(F.col("a").alias("node"),
                         F.least(F.col("a"), F.col("__nb"))
                          .alias("new_label")))

    def step(st: DataFrame) -> DataFrame:
        labels = st.select("node", F.col("new_label").alias("label"))
        neigh = (edges.join(labels, edges.b == labels.node)
                      .groupBy("a").agg(F.min("label").alias("nlabel")))
        return (labels.join(neigh, labels.node == neigh.a, "left")
                      .select(F.col("node"),
                              F.least(F.col("label"),
                                      F.coalesce(F.col("nlabel"),
                                                 F.col("label")))
                               .alias("new_label"),
                              F.col("label").alias("old_label")))

    def converged(st: DataFrame) -> bool:
        return st.filter(F.col("new_label") != F.col("old_label")).isEmpty()

    return (iterate(seed, step, max_iter, until=converged)
            .select(F.col("node").alias("doc_id"),
                    F.col("new_label").alias("component")))


def edit_distance_pairs(df: DataFrame, max_dist: int = 1, q: int = 2,
                        id_col: str = "doc_id",
                        string_col: str = "text") -> DataFrame:
    """EXACT all-pairs edit-distance join (Ed-Join, Xiao et al. VLDB'08):
    every unordered pair of rows whose strings are within Levenshtein
    distance ``max_dist`` — the record-linkage / typo-variant primitive —
    without ever forming a corpus cross join.

    Candidate generation is q-gram prefix filtering: one edit destroys at
    most ``q`` of a string's q-grams (set-wise too: d edits remove at most
    q·d DISTINCT grams), so any pair within distance d shares at least
    max(|Ga|,|Gb|) − q·d grams — and by the prefix-filter theorem (grams
    ordered rarest-first by global frequency) must share one of each
    side's first q·d+1 grams.  Candidates therefore come from equi-joining
    PREFIX grams only, then verify with the built-in ``levenshtein`` — the
    result EQUALS the naive all-pairs join, which is what the oracle
    spells out.

    The pigeonhole needs |G| ≥ q·d+1, i.e. len ≥ q·(d+1).  Shorter
    strings can sit within d edits of a partner while sharing NO gram
    ("ab"→"cd" at d=2), so they take a length-band equi-join instead:
    each short string replicates to candidate lengths len..len+d and
    joins partners of exactly that length from the pool of strings with
    len < q·(d+1)+d (anything longer violates |Δlen| ≤ d).  The two
    paths are disjoint (band pairs always have a short side) and both
    output-bounded.

    Shuffles mirror :func:`jaccard_prefix_pairs`: gram explode →
    distinct, one SHUFFLE join grams⋈freq on gram (the gram vocabulary is
    corpus-scale — never broadcast), one per-string window rank, the
    prefix self-join, and two id-joins to attach strings for
    verification.  Adversarial dictionaries with hub grams (shared
    boilerplate prefixes) dilute the pruning, not the guarantee — the
    100 TB pre-step is stop-gram removal, exactly like stop-words in the
    Jaccard prefix join.

    Returns (key_a, key_b, name_a, name_b, dist), key_a < key_b,
    dist ≤ max_dist.
    """
    require_columns(df, [id_col, string_col], "edit_distance_pairs")
    lmin = q * (max_dist + 1)  # len >= lmin  <=>  |grams| >= q*d + 1
    s = (df.select(F.col(id_col).alias("__k"), F.col(string_col).alias("__s"))
           .filter(F.col(string_col).isNotNull() & (F.length(string_col) > 0))
           .withColumn("__l", F.length("__s")))
    long_s = s.filter(F.col("__l") >= lmin)
    grams = (long_s
             .select("__k", "__s",
                     F.explode(F.sequence(F.lit(1), F.col("__l") - q + 1))
                      .alias("__i"))
             .select("__k",
                     F.col("__s").substr(F.col("__i"), F.lit(q)).alias("__g"))
             .distinct())
    freq = grams.groupBy("__g").agg(F.count(F.lit(1)).alias("__gf"))
    w_rank = Window.partitionBy("__k").orderBy(F.asc("__gf"), F.asc("__g"))
    prefix = (grams.join(freq, "__g")
                   .withColumn("__r", F.row_number().over(w_rank))
                   .filter(F.col("__r") <= q * max_dist + 1))
    cand_long = (prefix.select(F.col("__k").alias("__ka"), "__g")
                 .join(prefix.select(F.col("__k").alias("__kb"), "__g"),
                       "__g")
                 .filter(F.col("__ka") < F.col("__kb"))
                 .select("__ka", "__kb").distinct())
    short_a = s.filter(F.col("__l") < lmin)
    pool = s.filter(F.col("__l") < lmin + max_dist)
    cand_short = (short_a
                  .select(F.col("__k").alias("__sk"),
                          F.explode(F.sequence(F.col("__l"),
                                               F.col("__l") + max_dist))
                           .alias("__lb"))
                  .join(pool.select(F.col("__k").alias("__pk"),
                                    F.col("__l").alias("__pl")),
                        F.col("__lb") == F.col("__pl"))
                  .filter(F.col("__sk") != F.col("__pk"))
                  .select(F.least("__sk", "__pk").alias("__ka"),
                          F.greatest("__sk", "__pk").alias("__kb"))
                  .distinct())
    cand = cand_long.unionByName(cand_short).distinct()
    na = s.select(F.col("__k").alias("__ka"), F.col("__s").alias("name_a"),
                  F.col("__l").alias("__la"))
    nb = s.select(F.col("__k").alias("__kb"), F.col("__s").alias("name_b"),
                  F.col("__l").alias("__lb2"))
    return (cand.join(na, "__ka").join(nb, "__kb")
                .filter(F.abs(F.col("__la") - F.col("__lb2")) <= max_dist)
                .withColumn("dist",
                            F.levenshtein("name_a", "name_b").cast("long"))
                .filter(F.col("dist") <= max_dist)
                .select(F.col("__ka").alias("key_a"),
                        F.col("__kb").alias("key_b"),
                        "name_a", "name_b", "dist"))


def deletion_neighborhood_pairs(df: DataFrame, max_dist: int = 1,
                                id_col: str = "doc_id",
                                string_col: str = "text",
                                max_len: int = 64) -> DataFrame:
    """EXACT edit-distance join via deletion neighborhoods (FastSS /
    SymSpell): two strings are within edit distance d iff deleting at
    most d characters from EACH can reach a common string — delete the
    substituted/deleted positions on one side and the substituted/
    inserted positions on the other.  So the candidate join is a plain
    equi-join on deletion variants, with no gram-frequency statistics at
    all.

    This is the strategy of choice where :func:`edit_distance_pairs`
    (Ed-Join q-gram prefix filtering) degrades: key-like dictionaries
    (zero-padded ids, serial numbers, normalized names) whose gram
    distribution is all hubs — on such data the rarest-gram prefixes
    still collide corpus-wide, while deletion variants stay nearly
    unique (measured 11x fewer candidates on the customer-name
    dictionary).  The trade is variant fan-out: C(len, <=d) variants per
    string, quadratic in length at d=2 — hence ``max_len`` fails loud on
    strings where the neighborhood blows up (long-text similarity
    belongs to the gram/MinHash family, not here).

    Scale shape: variants explode map-side and join on their xxhash64
    (8-byte shuffle keys instead of near-full-length strings; hash
    collisions only ever ADD candidates, and verification removes them),
    one shuffle on the variant hash, candidates verified in-row with the
    built-in ``levenshtein``.  Result EQUALS the brute-force all-pairs
    join — same oracle as :func:`edit_distance_pairs`.

    Returns (key_a, key_b, name_a, name_b, dist), key_a < key_b,
    dist <= max_dist.
    """
    from ..operators.checks import check_in_range
    require_columns(df, [id_col, string_col], "deletion_neighborhood_pairs")
    s = (df.select(F.col(id_col).alias("__k"), F.col(string_col).alias("__s"))
           .filter(F.col(string_col).isNotNull() & (F.length(string_col) > 0))
           .withColumn("__l", F.length("__s")))
    check_in_range(s.select(F.col("__l").cast("double").alias("__l")),
                   "__l", 1, max_len, "deletion_neighborhood_pairs.max_len")

    def _del_each(arr: Column) -> Column:
        # every 1-char deletion of every string in arr
        return F.flatten(F.transform(arr, lambda v: F.transform(
            F.sequence(F.lit(1), F.length(v)),
            lambda i: F.concat(F.substring(v, F.lit(1), i - 1),
                               F.substring(v, i + 1, F.length(v))))))

    variants = F.array(F.col("__s"))
    for _ in range(max_dist):
        variants = F.array_union(variants, _del_each(variants))
    var = (s.select("__k", F.explode(variants).alias("__v"))
             .select("__k", F.xxhash64("__v").alias("__vh"))
             .distinct())
    cand = (var.select(F.col("__k").alias("__ka"), "__vh")
               .join(var.select(F.col("__k").alias("__kb"), "__vh"), "__vh")
               .filter(F.col("__ka") < F.col("__kb"))
               .select("__ka", "__kb").distinct())
    na = s.select(F.col("__k").alias("__ka"), F.col("__s").alias("name_a"),
                  F.col("__l").alias("__la"))
    nb = s.select(F.col("__k").alias("__kb"), F.col("__s").alias("name_b"),
                  F.col("__l").alias("__lb"))
    return (cand.join(na, "__ka").join(nb, "__kb")
                .filter(F.abs(F.col("__la") - F.col("__lb")) <= max_dist)
                .withColumn("dist",
                            F.levenshtein("name_a", "name_b").cast("long"))
                .filter(F.col("dist") <= max_dist)
                .select(F.col("__ka").alias("key_a"),
                        F.col("__kb").alias("key_b"),
                        "name_a", "name_b", "dist"))


def minhash_neutral_pairs(df: DataFrame, min_est_jaccard: float = 0.5,
                          id_col: str = "doc_id", text_col: str = "text",
                          n_hashes: int = N_MINHASH,
                          bands: int = LSH_BANDS,
                          shingle_len: int = 3) -> DataFrame:
    """MinHash+LSH pair generation over the EMPTY-TOKEN-FILTERED split:
    the :func:`minhash_lsh_pairs` pipeline — shingle, signature, band,
    bucket-join, estimate — with runs of spaces never producing empty
    words (``minhash_lsh_pairs`` keeps them, as the persistable index
    form does).  Every hash is explicit arithmetic: polynomial character
    hash for shingles (h·31+code mod P, the :func:`fingerprint_documents`
    family), the affine (a·h+b) mod p family for slots, and a polynomial
    fold seeded by the band index for buckets — any engine that can fold
    integers reproduces signatures, buckets, candidate pairs, AND
    estimates bit-for-bit (q_minhash_neutral's DuckDB oracle), which
    also makes a persisted signature index portable.

    The signature build is one vectorized Arrow stage
    (:func:`_minhash_sigs_arrow`); pinning and the integer matched-slot
    threshold live in the shared :func:`_lsh_pairs` core.

    Returns (doc_a, doc_b, est_jaccard), doc_a < doc_b.
    """
    require_columns(df, [id_col, text_col], "minhash_neutral_pairs")
    sig = _minhash_sigs_arrow(df, id_col, text_col, n_hashes,
                              shingle_len, drop_empty_words=True)
    return _lsh_pairs(sig, id_col, n_hashes, bands, min_est_jaccard)


def _simhash_fingerprints(texts: list):
    """The 60-bit SimHash fingerprints of ``texts`` (see
    :func:`simhash_neutral`) as a nullable Int64 array, null for a null
    text.  The token hash is ``h31·2^30 + h37`` (both seeded folds from
    :func:`_token_folds`, < 2^30 each, so < 2^60); bit b is set iff more
    than half of the doc's tokens have it (2·ones_b > n_tokens, the sign
    of the ±1 vote sum).  Ones are counted ONE BIT AT A TIME from a
    token-order prefix sum, so memory is O(tokens), never a
    (tokens × 60) vote matrix."""
    import numpy as np
    import pandas as pd
    words, counts = _split_words(texts, True)
    fp = np.uint64(FP_PRIME)
    h0, pw = _token_folds(words, 31)
    th = ((np.uint64(7) * pw + h0) % fp) << np.uint64(30)
    h0, pw = _token_folds(words, 37)
    th = (th + (np.uint64(11) * pw + h0) % fp).astype(np.int64)
    del words, h0, pw
    ends = np.cumsum(counts)
    ones = np.zeros(len(th) + 1, dtype=np.int64)
    fps = np.zeros(len(counts), dtype=np.int64)
    for b in range(60):
        np.cumsum((th >> b) & 1, out=ones[1:])
        fps |= (2 * (ones[ends] - ones[ends - counts]) > counts
                ).astype(np.int64) << b
    out = pd.array(fps, dtype="Int64")
    out[np.array([t is None for t in texts], dtype=bool)] = pd.NA
    return out


def simhash_neutral(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """SimHash fingerprint per document + four 15-bit bands for
    bucketing.  Each non-empty token votes its hash bit-pattern (+1/−1
    per bit; token multiplicity votes) and the sign of each vote sum is
    the fingerprint bit.  The token hash is TWO polynomial character
    hashes (bases 31/37, seeds 7/11, both mod the 31-bit prime)
    concatenated into a 60-bit pattern — every bit is explicit integer
    arithmetic, so a SQL oracle reproduces fingerprints and bands
    exactly, and 60 positive bits sidestep the two's-complement sign-bit
    case a 64-bit pattern needs.  A null text gives a null fingerprint
    and null bands (the expression form's result).

    The fingerprints are one Arrow stage (:func:`_simhash_fingerprints`;
    measurements in SCALE.md, "One shingle-hash kernel").

    Returns (doc_id, simhash, band0..band3).
    """
    require_columns(df, [id_col, text_col], "simhash_neutral")
    id_type = dict(df.select(F.col(id_col)).dtypes)[id_col]
    narrow = arrow_fanout(df.select(F.col(id_col), F.col(text_col)))

    def _fps(batches):
        import pandas as pd
        for pdf in batches:
            if len(pdf) == 0:
                continue
            yield pd.DataFrame({
                id_col: pdf[id_col].values,
                "simhash": _simhash_fingerprints(pdf[text_col].tolist())})

    out = narrow.mapInPandas(_fps, f"{id_col} {id_type}, simhash long")
    for k in range(4):
        out = out.withColumn(
            f"band{k}",
            F.shiftright(F.col("simhash"), 15 * k)
             .bitwiseAND(F.lit(32767)).cast("long"))
    return out.select(id_col, "simhash", "band0", "band1", "band2",
                      "band3")


def simhash_neutral_pairs(df: DataFrame, max_hamming: int = 4,
                          id_col: str = "doc_id",
                          text_col: str = "text") -> DataFrame:
    """SimHash near-duplicate PAIRS on the engine-neutral fingerprint:
    docs sharing any of the 4 15-bit bands become candidates (band
    equi-join — the pigeonhole guarantee: two 60-bit fingerprints within
    Hamming distance 3 must agree on at least one band; larger
    ``max_hamming`` trades recall like any LSH).  The exact Hamming
    distance over the full fingerprint (bit_count of XOR — pure integer,
    so the DuckDB oracle reproduces pairs bit-for-bit) is part of the
    join condition, so only pairs at or under the threshold reach the
    pair dedup.

    Scale shape: the band join carries (id, fingerprint) only; candidate
    fan-out is bounded by band-bucket occupancy exactly like the MinHash
    banding, never all-pairs.  Returns (doc_a, doc_b, hamming),
    doc_a < doc_b.
    """
    require_columns(df, [id_col, text_col], "simhash_neutral_pairs")
    fp = simhash_neutral(df, id_col, text_col)
    banded = fp.select(
        F.col(id_col), "simhash",
        F.posexplode(F.array(*[F.col(f"band{k}")
                               for k in range(4)])).alias("band", "bval"))
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    # hamming is a function of the pair, so distinct() is the pair dedup
    return (banded.alias("a")
            .join(banded.alias("b"),
                  (F.col("a.band") == F.col("b.band"))
                  & (F.col("a.bval") == F.col("b.bval"))
                  & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
                  & (ham <= max_hamming))
            .select(F.col(f"a.{id_col}").alias("doc_a"),
                    F.col(f"b.{id_col}").alias("doc_b"),
                    ham.cast("long").alias("hamming"))
            .distinct())


def minhash_audience_signatures(df: DataFrame, group: list[str],
                                key_col: str,
                                n_hashes: int = 32) -> DataFrame:
    """Per-group MinHash SIGNATURES over a member-key column — audience
    similarity from mergeable state, the Jaccard companion of the HLL
    overlap: slot i is min over members of the affine hash
    (aᵢ·h + bᵢ) mod p, computed as ``n_hashes`` plain min aggregates
    (map-side combinable; min is associative AND idempotent, so
    per-batch signature rows min-merge losslessly and duplicate members
    are harmless).  Estimated Jaccard between two groups = fraction of
    agreeing slots (:func:`minhash_audience_similarity`) — computed
    from O(groups · n_hashes) persisted values, never the member sets.
    Returns (*group, s0..s{n-1})."""
    require_columns(df, [*group, key_col], "minhash_audience_signatures")
    h = F.pmod(F.col(key_col), F.lit(_MH_PRIME))
    aggs = [F.min((F.lit(a) * h + F.lit(b)) % _MH_PRIME).alias(f"s{i}")
            for i, (a, b) in enumerate(_mh_coeffs(n_hashes))]
    return df.groupBy(*group).agg(*aggs)


def minhash_audience_similarity(sigs: DataFrame, group_col: str,
                                n_hashes: int = 32) -> DataFrame:
    """All-pairs estimated Jaccard between the signature rows (the
    signature table is GROUP-grain — a handful of rows — so the pair
    cross is trivial; for many groups, band the slots exactly like
    minhash_lsh_pairs).  Returns (a, b, n_match, est_jaccard), a < b."""
    require_columns(sigs,
                    [group_col, *[f"s{i}" for i in range(n_hashes)]],
                    "minhash_audience_similarity")
    left = sigs.select(F.col(group_col).alias("a"),
                       *[F.col(f"s{i}").alias(f"la{i}")
                         for i in range(n_hashes)])
    right = sigs.select(F.col(group_col).alias("b"),
                        *[F.col(f"s{i}").alias(f"rb{i}")
                          for i in range(n_hashes)])
    matches = sum(
        (F.col(f"la{i}") == F.col(f"rb{i}")).cast("long")
        for i in range(n_hashes))
    return (left.join(right, F.col("a") < F.col("b"))
                .select("a", "b", matches.alias("n_match"))
                .withColumn("est_jaccard",
                            F.round(F.col("n_match")
                                    / F.lit(float(n_hashes)), 6)))


def duplicated_spans(df: DataFrame, n: int = 8, min_docs: int = 2,
                     id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Exact duplicated-substring detection — the span-level dedup of
    "Deduplicating Training Data Makes Language Models Better" (Lee et
    al. 2022), re-grained from suffix arrays to rolling n-TOKEN grams:
    a position is duplicated iff its n-gram occurs in ≥ ``min_docs``
    distinct documents, which marks exactly the spans a suffix-array
    pass would trim at window size n.  Returns the per-document rollup
    (doc_id, n_grams, n_dup_grams, dup_fraction) for documents with at
    least one gram (≥ n tokens); dup_fraction is a raw long/long
    division (bit-identical across engines — no rounding needed).

    Shape: grams build IN-ROW (:func:`_token_ngrams` — zero exchange),
    roll up to the (gram, doc) grain, flag via a per-gram window count
    on that same relation (single scan — no seen-set join-back), and
    roll up to the doc grain.  The gram STRING is the key — exact by
    construction; at 100 TB a 64-bit hash of the gram with an in-row
    string verify on the matched grams would cut the shuffle to 8 bytes
    per position without changing the semantics."""
    require_columns(df, [id_col, text_col], "duplicated_spans")
    # fan the narrow projection out BEFORE gram construction (r14): the
    # in-row gram build concatenates n tokens per position (~n× the text
    # volume in string work) and runs at scan parallelism — one core for
    # a single-row-group parquet.  The downstream gram groupBy spreads
    # the SHUFFLE, not this map stage.  Measured at sf0.1, interleaved
    # min-of-3: 2.90s -> 1.21s (incremental form 3.34s -> 1.84s).
    # Distinct from the r13 tokenize no-go (q_leakage_split): there the
    # pre-shuffle work was one split per row; here it is ~n_tokens
    # n-way array_joins per row.
    narrow = fan_out(df.select(F.col(id_col), F.col(text_col)))
    grams = (narrow.select(F.col(id_col),
                           _token_ngrams(text_col, n).alias("__g"))
                   .select(F.col(id_col), F.explode("__g").alias("gram")))
    # SINGLE-SCAN shape: roll positions up to the (gram, doc) grain
    # (map-side combinable), count each gram's documents with a
    # whole-partition window on the SAME relation (per-gram fan-in is
    # the gram's document frequency — bounded like any vocabulary key),
    # then roll up to the doc grain.  The naive seen-set + join-back
    # form scans and explodes the corpus TWICE (the agg's partial
    # exchange can't be reused by the join) — measured 2 scans / 4
    # exchanges vs this plan's 1 scan / 3 exchanges.
    per = (grams.groupBy("gram", id_col)
                .agg(F.count(F.lit(1)).alias("__k")))
    nd = F.count(F.lit(1)).over(Window.partitionBy("gram"))
    flagged = per.withColumn("__dup", (nd >= min_docs).cast("long"))
    return (flagged.groupBy(id_col)
                   .agg(F.sum("__k").alias("n_grams"),
                        F.sum(F.col("__k") * F.col("__dup"))
                         .alias("n_dup_grams"))
                   .withColumn("dup_fraction",
                               F.col("n_dup_grams") / F.col("n_grams")))


def gram_index(df: DataFrame, n: int = 8, id_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
    """The persistable state side of span-level dedup: the distinct
    (gram, doc-count) table at n-token granularity — what an
    incremental ingest pipeline stores per corpus instead of re-gramming
    history (count addition is a monoid, so per-batch indexes sum-merge
    like every other state in the engine).  Returns (gram, n_docs)."""
    require_columns(df, [id_col, text_col], "gram_index")
    # fan out before the gram build — see duplicated_spans (r14)
    narrow = fan_out(df.select(F.col(id_col), F.col(text_col)))
    return (narrow.select(F.col(id_col),
                          F.explode(_token_ngrams(text_col, n)).alias("gram"))
                  .groupBy("gram")
                  .agg(F.count_distinct(F.col(id_col)).alias("n_docs")))


def duplicated_spans_incremental(new_df: DataFrame, index: DataFrame,
                                 n: int = 8, id_col: str = "doc_id",
                                 text_col: str = "text") -> DataFrame:
    """INCREMENTAL span-level dedup: flag a NEW batch's positions whose
    n-gram already exists in a stored :func:`gram_index` — history is
    never re-grammed (the minhash_lsh_match shape applied to exact
    spans).  A gram is contaminated if the INDEX has it at all; the
    batch's own internal duplicates are q_span_dedup's job, so the two
    compose: gate a batch against history, then dedup within it.
    Returns the per-document rollup (doc_id, n_grams, n_index_grams,
    index_fraction) for batch docs with ≥ n tokens."""
    require_columns(new_df, [id_col, text_col],
                    "duplicated_spans_incremental")
    require_columns(index, ["gram"], "duplicated_spans_incremental")
    grams = (new_df.select(F.col(id_col),
                           F.explode(_token_ngrams(text_col, n))
                            .alias("gram")))
    hit = index.select("gram").distinct().withColumn("__hit", F.lit(1))
    return (grams.join(hit, "gram", "left")
                 .groupBy(id_col)
                 .agg(F.count(F.lit(1)).alias("n_grams"),
                      F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
                       .alias("n_index_grams"))
                 .withColumn("index_fraction",
                             F.col("n_index_grams") / F.col("n_grams")))
