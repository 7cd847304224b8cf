"""Text analysis operators: language ID, quality scoring, token counting,
document fingerprinting.  All native Spark SQL expressions (zero Python in
the hot path) so they run inside whole-stage codegen and have exact DuckDB
oracle twins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.scalar import roundn, safe_div
from ..schemas import fan_out, require_columns

# tiny per-language stopword lists for the n-gram/stopword heuristic
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to"),
    "fr": ("le", "la", "et", "les", "des"),
    "de": ("der", "die", "und", "das", "ein"),
    "es": ("el", "los", "una", "por", "que"),
}
STOPWORDS_ALL = tuple(sorted({w for ws in LANG_STOPWORDS.values() for w in ws}))


def _tokens(text_col: str = "text"):
    return F.filter(F.split(F.col(text_col), " "), lambda t: t != "")


def _token_ngrams(text_col: str, n: int) -> "F.Column":
    """The rolling n-TOKEN grams of ``text_col`` as array<string> (each
    gram its tokens space-joined), built in-row with no shuffle; empty
    for a doc with fewer than ``n`` tokens (every caller explodes the
    grams, so a null doc yields no rows).  ``zip_with`` over n shifted
    slices keeps the token split OUTSIDE any lambda: a per-position
    ``transform`` over ``slice(tokens, i, n)`` re-splits the text for
    every position (no CSE into lambda bodies), O(tokens²) per doc —
    SCALE.md, "One shingle-hash kernel", has the measurement."""
    toks = _tokens(text_col)
    size = F.size(toks)
    grams = F.slice(toks, 1, F.greatest(size - (n - 1), F.lit(0)))
    for off in range(1, n):
        nxt = F.slice(toks, 1 + off, F.greatest(size - (n - 1), F.lit(0)))
        grams = F.zip_with(grams, nxt,
                           lambda a, b: F.concat(a, F.lit(" "), b))
    return grams


# BPE-ish pre-tokenizer: letter runs, digit runs, single other non-space —
# the GPT-2-style split that upper-bounds merge-based BPE piece counts
BPE_SPLIT_RE = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"


def token_counts(df: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """Token counting per document: whitespace tokens, chars, the chars/4
    quick estimator, and a BPE-ish regex pre-tokenization count."""
    require_columns(df, [id_col, text_col], "token_counts")
    toks = _tokens(text_col)
    return df.select(
        F.col(id_col),
        F.size(toks).cast("long").alias("n_tokens"),
        F.length(text_col).cast("long").alias("n_chars"),
        F.ceil(F.length(text_col) / 4).cast("long").alias("est_bpe_tokens"),
        F.size(F.regexp_extract_all(text_col, F.lit(BPE_SPLIT_RE), 0))
         .cast("long").alias("n_bpe_pieces"))


def quality_columns(text_col: str = "text") -> list["F.Column"]:
    """The quality-feature block as aliased Column expressions, so callers
    can fuse it with other blocks in ONE projection over a shared parent
    (zero joins — see q_training_prep) instead of branch-join-recombining."""
    toks = _tokens(text_col)
    n_tok = F.size(toks).cast("long")
    stop_hits = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS_ALL))).cast("long")
    n_chars = F.length(text_col).cast("long")
    no_space = F.length(F.replace(F.col(text_col), F.lit(" "), F.lit("")))
    no_punct = F.length(F.regexp_replace(text_col, r"[.,!?;:]", ""))
    return [
        n_chars.alias("n_chars"),
        n_tok.alias("n_tokens"),
        roundn(safe_div(stop_hits.cast("double"), n_tok.cast("double")))
            .alias("stopword_ratio"),
        roundn(safe_div(no_space.cast("double"), n_tok.cast("double")))
            .alias("mean_token_len"),
        roundn(safe_div((n_chars - no_punct).cast("double"), n_chars.cast("double")))
            .alias("punct_ratio"),
    ]


def quality_features(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Quality-scoring features: token/char counts, stopword ratio, mean
    token length, punctuation ratio — the standard pre-training corpus
    filters, one projection."""
    require_columns(df, [id_col, text_col], "quality_features")
    return df.select(F.col(id_col), *quality_columns(text_col))


def language_id_columns(text_col: str = "text") -> list["F.Column"]:
    """The language-ID block (per-language hit counts + deterministic
    argmax, tie-break en > fr > de > es) as aliased Column expressions —
    fusable into a shared projection like :func:`quality_columns`."""
    toks = _tokens(text_col)
    hits = {lang: F.size(F.filter(toks, lambda t: t.isin(*ws))).cast("long")
            for lang, ws in LANG_STOPWORDS.items()}
    pred = (F.when((hits["en"] >= hits["fr"]) & (hits["en"] >= hits["de"])
                   & (hits["en"] >= hits["es"]), "en")
             .when((hits["fr"] >= hits["de"]) & (hits["fr"] >= hits["es"]), "fr")
             .when(hits["de"] >= hits["es"], "de")
             .otherwise("es"))
    return [
        hits["en"].alias("en_hits"), hits["fr"].alias("fr_hits"),
        hits["de"].alias("de_hits"), hits["es"].alias("es_hits"),
        pred.alias("predicted_lang"),
    ]


def language_id(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Stopword-hit language ID with a fixed deterministic tie-break order
    (en > fr > de > es).  Returns per-language hit counts + prediction so
    the oracle can verify the whole decision, not just the argmax."""
    require_columns(df, [id_col, text_col], "language_id")
    return df.select(F.col(id_col), *language_id_columns(text_col))


def normalize_text(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """Canonical text normalization — the standard pre-step before exact
    dedup so trivial variants (case, punctuation, spacing) hash equal:
    lowercase → strip punctuation → collapse runs of whitespace → trim.
    Pure codegen projection; oracle-exact (regexes avoid any engine-
    specific character classes).  Returns (doc_id, norm_text, n_chars)."""
    require_columns(df, [id_col, text_col], "normalize_text")
    norm = F.trim(F.regexp_replace(
        F.regexp_replace(F.lower(F.col(text_col)), r"[.,!?;:]", ""),
        r"\s+", " "))
    return df.select(F.col(id_col), norm.alias("norm_text"),
                     F.length(norm).cast("long").alias("n_chars"))


def chunk_documents(df: DataFrame, chunk_size: int = 32,
                    id_col: str = "doc_id", text_col: str = "text",
                    carry: tuple[str, ...] = ()) -> DataFrame:
    """Fixed-size token chunking — the sequence-packing step a pretraining
    pipeline runs on every document: split into ⌈n/chunk_size⌉ consecutive
    token windows (last chunk ragged).  The token array is STAGED as a
    named column before the per-chunk slices reference it (the HOF-CSE
    rule, see SCALE.md), and the chunk fan-out is a ``posexplode`` — rows
    multiply on the executors, never on the driver.  Zero-token documents
    yield zero chunks.  ``carry`` names document columns to project
    through the fan-out (so downstream grouping never joins back to the
    corpus).  Returns (doc_id, *carry, chunk_id, chunk_text, n_tokens).
    """
    require_columns(df, [id_col, text_col, *carry], "chunk_documents")
    staged = df.select(F.col(id_col), *[F.col(c) for c in carry],
                       _tokens(text_col).alias("__toks"))
    n_chunks = F.ceil(F.size("__toks") / F.lit(float(chunk_size))).cast("int")
    ids = F.when(n_chunks > 0, F.sequence(F.lit(0), n_chunks - 1)) \
           .otherwise(F.array().cast("array<int>"))
    chunked = staged.select(
        F.col(id_col), *[F.col(c) for c in carry], "__toks",
        F.explode(ids).alias("chunk_id"))
    piece = F.slice("__toks", F.col("chunk_id") * chunk_size + 1, chunk_size)
    return chunked.select(
        F.col(id_col), *[F.col(c) for c in carry],
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.concat_ws(" ", piece).alias("chunk_text"),
        F.size(piece).cast("long").alias("n_tokens"))


# PII patterns kept to constructs with identical semantics in Java regex
# (Spark) and RE2 (DuckDB): explicit classes, no lookaround, no \d shorthand
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_LONGNUM_RE = r"[0-9]{7,}"


def redact_pii(df: DataFrame, id_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
    """PII scrubbing — the redaction pass every shared corpus goes through
    before training: replace email addresses with ``<EMAIL>`` and long
    digit runs (phone/account/ID numbers, ≥7 digits) with ``<NUM>``,
    reporting per-document match counts for audit.  Emails are redacted
    FIRST so their local-part digits don't double-count as numbers.
    Pure codegen projection — regexp_count/regexp_replace, no Python.
    Returns (doc_id, n_emails, n_longnums, redacted, n_chars)."""
    require_columns(df, [id_col, text_col], "redact_pii")
    n_emails = F.regexp_count(F.col(text_col), F.lit(PII_EMAIL_RE))
    red1 = F.regexp_replace(F.col(text_col), PII_EMAIL_RE, "<EMAIL>")
    n_longnums = F.regexp_count(red1, F.lit(PII_LONGNUM_RE))
    red2 = F.regexp_replace(red1, PII_LONGNUM_RE, "<NUM>")
    return df.select(
        F.col(id_col),
        n_emails.cast("long").alias("n_emails"),
        n_longnums.cast("long").alias("n_longnums"),
        red2.alias("redacted"),
        F.length(red2).cast("long").alias("n_chars"))


FP_PRIME = 1_000_000_007  # 31-bit modulus: products stay < 2^63 under ANSI


def _poly_hash(token, base: int, seed: int) -> "F.Column":
    # Empty-token guard: sequence(1, 0) in Spark yields the DESCENDING
    # array [1, 0] (not empty like SQL range(1, 1)), which would fold two
    # ascii('')=0 codes and diverge from the oracle family — pin the
    # empty string to the bare seed on both engines instead.
    codes = F.transform(F.sequence(F.lit(1), F.length(token)),
                        lambda i: F.ascii(F.substr(token, i, F.lit(1)))
                                   .cast("long"))
    folded = F.aggregate(codes, F.lit(seed).cast("long"),
                         lambda acc, c: (acc * base + c) % FP_PRIME)
    return F.when(F.length(token) == 0,
                  F.lit(seed).cast("long")).otherwise(folded)


def polynomial_token_hash(token) -> "F.Column":
    """Rolling polynomial hash of a token's characters,
    ``h = (h*31 + code) mod P`` with h0 = 7 — explicit arithmetic (no
    engine-specific hash function) so any SQL engine reproduces it
    bit-for-bit; stays JVM-side via ``aggregate`` over a char sequence.
    Unary on purpose: ``F.transform`` infers lambda arity from the
    callable's signature, so this must stay a one-parameter function."""
    return _poly_hash(token, 31, 7)


def polynomial_token_hash2(token) -> "F.Column":
    """Second member of the polynomial family (base 37, seed 11) —
    independent enough for multi-hash sketches (the neutral SimHash
    pairs it with :func:`polynomial_token_hash`)."""
    return _poly_hash(token, 37, 11)


def fingerprint_documents(df: DataFrame, id_col: str = "doc_id",
                          text_col: str = "text",
                          window: int = 8) -> DataFrame:
    """Single-value document fingerprint: the minimum token hash over the
    leading position window (rolling-hash class).  Deterministic and
    oracle-checkable (polynomial hash, not an engine-specific digest); used
    as a cheap near-dup prefilter.  For the full Schleimer–Wilkerson–Aiken
    winnowing (sliding-window minima with the ≥ w+k−1 shared-run detection
    guarantee) see :func:`winnow_fingerprints`.
    Returns (doc_id, fingerprint)."""
    require_columns(df, [id_col, text_col], "fingerprint_documents")
    toks = _tokens(text_col)
    # slice BEFORE hashing (r14): elementwise transform commutes with
    # slice, so hashing only the leading ``window`` tokens yields the
    # identical fingerprint while doing ~n_tokens/window times less
    # interpreted char-fold work (measured 0.61s -> 0.49s at sf0.1;
    # exceptAll-equality-checked both directions, 0 rows)
    fp = F.array_min(F.transform(F.slice(toks, 1, window),
                                 polynomial_token_hash))
    return df.select(F.col(id_col), fp.alias("fingerprint"))


def winnow_fingerprints(df: DataFrame, k: int = 4, w: int = 4,
                        id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """FULL winnowing (Schleimer–Wilkerson–Aiken, the MOSS algorithm):
    per document, hash every k-token gram, slide a w-gram window, and
    select each window's minimum hash with the RIGHTMOST-position
    tie-break (robust winnowing).  Upgrades :func:`fingerprint_documents`
    (leading-window min only) to the real guarantee: any token run of
    length ≥ w+k−1 shared by two documents yields at least one shared
    fingerprint, at expected density 2/(w+1) of the gram count.

    That density IS the 100 TB story: a gram-index dedup
    (``span_dedup``) shuffles every gram; winnowing ships ~2/(w+1) of
    that volume with a detection guarantee instead of a heuristic —
    the standard local-fingerprinting trade.

    Plan: posexplode tokens → per-token char hash ONCE (row grain, so
    nothing re-evaluates per gram — the array-lambda form re-walks the
    token-hash array inside each higher-order call after Catalyst
    inlines the projection, an O(chars·grams) interpreted trap measured
    at 10× this plan) → gram hash folds the k lead() token hashes →
    per-window minima via min(struct(h, −pos)) over a rowsBetween(0,
    w−1) frame, the struct order encoding the rightmost tie-break.
    ONE shuffle (the doc-key window), row-linear at any scale; the
    frame min never materializes a per-doc array.  Short docs (fewer
    than w grams) winnow their single partial window, so every doc
    with ≥ k tokens emits ≥ 1 fingerprint.

    Returns (doc_id, pos, fp): the distinct selected fingerprints with
    their 1-based gram positions.
    """
    require_columns(df, [id_col, text_col], "winnow_fingerprints")
    tok = (df.select(F.col(id_col),
                     F.posexplode(_tokens(text_col))
                      .alias("__p0", "__tok"))
             .select(F.col(id_col), (F.col("__p0") + 1).alias("__pos"),
                     polynomial_token_hash(F.col("__tok")).alias("__th")))
    w_doc = Window.partitionBy(id_col).orderBy("__pos")
    gram_h = F.lit(7).cast("long")
    for j in range(k):
        nxt = F.col("__th") if j == 0 else F.lead("__th", j).over(w_doc)
        gram_h = (gram_h * 31 + nxt) % FP_PRIME
    grams = (tok.select(F.col(id_col), F.col("__pos"),
                        gram_h.alias("__h"),
                        F.count(F.lit(1)).over(
                            Window.partitionBy(id_col)).alias("__n"))
                .filter(F.col("__pos") <= F.col("__n") - k + 1))
    # window j's minimum lives on gram row j: min struct over the
    # forward frame [j, j+w−1]; only rows j ≤ n_win head a window
    w_frame = (Window.partitionBy(id_col).orderBy("__pos")
                     .rowsBetween(0, w - 1))
    sel = (grams.select(
               F.col(id_col), F.col("__pos"),
               F.min(F.struct(F.col("__h").alias("h"),
                              (-F.col("__pos")).alias("negpos")))
                .over(w_frame).alias("__s"),
               F.count(F.lit(1)).over(
                   Window.partitionBy(id_col)).alias("__ng"))
              .filter(F.col("__pos")
                      <= F.greatest(F.col("__ng") - w + 1, F.lit(1))))
    return (sel.select(F.col(id_col),
                       (-F.col("__s.negpos")).alias("pos"),
                       F.col("__s.h").alias("fp"))
               .distinct())


def winnow_pairs(df: DataFrame, k: int = 4, w: int = 4,
                 min_shared: int = 2, max_df: int = 100,
                 id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """Near-dup candidate pairs from shared winnowed fingerprints — the
    plagiarism-detection join at fingerprint density instead of gram
    density.  Stop-fingerprints (appearing in more than ``max_df`` docs)
    drop before the self-join, the standard bound that keeps the
    bucket-quadratic term from a corpus-common phrase; the join key is
    the fingerprint value, so every stage is key-partitioned.

    Returns (doc_a, doc_b, n_shared), doc_a < doc_b, sharing ≥
    ``min_shared`` distinct fingerprints.
    """
    fp = (winnow_fingerprints(df, k=k, w=w, id_col=id_col,
                              text_col=text_col)
          .select(id_col, "fp").distinct())
    dfreq = fp.groupBy("fp").agg(F.count(F.lit(1)).alias("__df"))
    kept = fp.join(dfreq.filter(F.col("__df") <= max_df), "fp")
    return (kept.select(F.col(id_col).alias("doc_a"), "fp")
                .join(kept.select(F.col(id_col).alias("doc_b"), "fp"),
                      "fp")
                .filter(F.col("doc_a") < F.col("doc_b"))
                .groupBy("doc_a", "doc_b")
                .agg(F.count(F.lit(1)).alias("n_shared"))
                .filter(F.col("n_shared") >= min_shared))


def repetition_features(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """Within-document repetition features: distinct-token ratio and the
    share of the single most frequent token — the standard boilerplate /
    degenerate-generation filters (cf. Gopher/MassiveText rules).

    Explode → two-level agg, not per-row array scans: the (doc, token)
    partial aggregation combines map-side, so the shuffle carries at most
    one row per distinct token per doc — linear at 100 TB where a
    per-row O(tokens²) array fold is not."""
    require_columns(df, [id_col, text_col], "repetition_features")
    tok = (df.select(F.col(id_col),
                     F.explode(_tokens(text_col)).alias("tok"))
             .groupBy(id_col, "tok")
             .agg(F.count(F.lit(1)).alias("c")))
    return (tok.groupBy(id_col)
               .agg(F.sum("c").cast("long").alias("n_tokens"),
                    F.count(F.lit(1)).cast("long").alias("n_distinct"),
                    F.max("c").cast("long").alias("top_token_count"))
               .select(F.col(id_col),
                       "n_tokens", "n_distinct", "top_token_count",
                       roundn(F.col("n_distinct") / F.col("n_tokens"))
                       .alias("distinct_ratio"),
                       roundn(F.col("top_token_count") / F.col("n_tokens"))
                       .alias("top_token_share")))


def dup_ngram_features(df: DataFrame, n: int = 2, id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """Within-document n-gram repetition rules (the Gopher/MassiveText
    repetition filters, Rae et al. 2021 §A1.1, re-expressed on token
    n-grams): per doc,

    - ``dup_gram_fraction`` — share of n-gram OCCURRENCES whose gram
      appears more than once in the doc (occurrence-weighted duplicate
      fraction; integer-ratio exact, no char-overlap ambiguity),
    - ``top_gram_share`` — occurrences of the single most frequent
      n-gram over all occurrences (degenerate-generation signal).

    Same scale shape as repetition_features: explode → (doc, gram)
    partial count (map-side combinable) → doc-grain reduce; the shuffle
    carries one row per DISTINCT gram per doc, linear at 100 TB.  Docs
    shorter than n tokens emit zero grams and are kept with zero
    fractions (filters must SEE short docs, not silently drop them)."""
    require_columns(df, [id_col, text_col], "dup_ngram_features")
    gram_counts = (df.select(F.col(id_col),
                             F.explode(_token_ngrams(text_col, n))
                              .alias("gram"))
                     .groupBy(id_col, "gram")
                     .agg(F.count(F.lit(1)).alias("c")))
    stats = (gram_counts.groupBy(id_col)
             .agg(F.sum("c").cast("long").alias("n_grams"),
                  F.count(F.lit(1)).cast("long").alias("n_distinct_grams"),
                  F.sum(F.when(F.col("c") > 1, F.col("c"))
                         .otherwise(F.lit(0))).cast("long")
                   .alias("dup_gram_occurrences"),
                  F.max("c").cast("long").alias("top_gram_count")))
    return (df.select(id_col).join(stats, id_col, "left")
              .select(F.col(id_col),
                      F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
                      F.coalesce("n_distinct_grams", F.lit(0))
                       .alias("n_distinct_grams"),
                      F.coalesce("dup_gram_occurrences", F.lit(0))
                       .alias("dup_gram_occurrences"),
                      F.coalesce("top_gram_count", F.lit(0))
                       .alias("top_gram_count"),
                      roundn(F.coalesce(
                          F.col("dup_gram_occurrences") / F.col("n_grams"),
                          F.lit(0.0))).alias("dup_gram_fraction"),
                      roundn(F.coalesce(
                          F.col("top_gram_count") / F.col("n_grams"),
                          F.lit(0.0))).alias("top_gram_share")))


def cdc_chunk_documents(df: DataFrame, window: int = 4, divisor: int = 16,
                        id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """Content-defined chunking (Rabin/FastCDC family, on tokens): a cut
    falls AFTER token i wherever the polynomial hash of the trailing
    ``window``-token span divides ``divisor`` — so boundaries depend only
    on LOCAL content.  That is the property fixed-size chunking lacks:
    inserting one sentence shifts every downstream fixed window (and
    defeats chunk-level dedup), while CDC boundaries elsewhere in the
    document do not move.  Expected chunk length ≈ ``divisor`` tokens.

    Everything is in-row array arithmetic over the STAGED token column
    (HOF-CSE rule): hash the trailing window at each position, filter to
    cut positions, fan chunks out with one ``posexplode`` — no shuffle
    at all until the caller aggregates.  The polynomial hash makes
    boundaries engine-neutral, so the DuckDB oracle reproduces every
    chunk bit-for-bit.  Production extension (documented, not
    implemented): FastCDC's min/max clamps re-introduce a small
    dependence radius in exchange for bounded chunk sizes.

    Returns (doc_id, chunk_id, chunk_text, n_tokens); zero-token
    documents yield zero chunks.
    """
    require_columns(df, [id_col, text_col], "cdc_chunk_documents")
    # fan the narrow (id, text) projection out to full parallelism
    # BEFORE the per-position window-hash folds (r14, the schemas.fan_out
    # rule): the whole body below is MAP-ONLY interpreted-HOF
    # arithmetic with no shuffle until the caller aggregates, so a
    # single-row-group parquet scan (1 partition) serializes all of it
    # onto one core.  Measured at sf0.1, interleaved min-of-3:
    # 1.24s -> 0.75s (and 5.19s -> 2.46s under host load).  At cluster
    # scale scans arrive pre-parallel and this is a cheap narrow
    # exchange.  Contrast: winnow_fingerprints measured as a NO-GO for
    # the same treatment (its first consumer is already the doc-key
    # window shuffle, the r13 tokenize-stage rule).
    narrow = fan_out(df.select(F.col(id_col), F.col(text_col)))
    staged = (narrow.select(F.col(id_col), _tokens(text_col).alias("__toks"))
                .filter(F.size("__toks") > 0)
                .withColumn("__n", F.size("__toks"))
                # per-token hash ONCE; window hashes then fold over 4
                # longs instead of re-walking ~70 characters per position
                # (HOF lambdas are interpreted — this is the difference
                # between O(n·w) long ops and O(n·w·chars) char ops)
                .withColumn("__th", F.transform("__toks",
                                                polynomial_token_hash)))
    positions = F.when(
        F.col("__n") > window,
        F.sequence(F.lit(window), F.col("__n") - 1)
    ).otherwise(F.array().cast("array<int>"))
    cuts = F.filter(
        positions,
        lambda i: F.aggregate(
            F.slice(F.col("__th"), i - window + 1, window),
            F.lit(7).cast("long"),
            lambda acc, h: (acc * 31 + h) % FP_PRIME) % divisor == 0)
    bounds = F.concat(F.array(F.lit(0)), cuts.cast("array<int>"),
                      F.array(F.col("__n").cast("int")))
    chunked = (staged.withColumn("__bounds", bounds)
               .select(F.col(id_col), "__toks", "__bounds",
                       F.posexplode(F.sequence(
                           F.lit(0), F.size("__bounds") - 2))
                        .alias("chunk_id", "__k")))
    start = F.element_at("__bounds", F.col("__k") + 1) + 1
    length = (F.element_at("__bounds", F.col("__k") + 2)
              - F.element_at("__bounds", F.col("__k") + 1))
    piece = F.slice("__toks", start, length)
    return chunked.select(
        F.col(id_col),
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.concat_ws(" ", piece).alias("chunk_text"),
        F.size(piece).cast("long").alias("n_tokens"))


def readability(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """LIX readability index (Björnsson 1968) — the syllable-free
    readability formula, so it is exactly computable on both engines:

        LIX = words/sentences + 100 · longwords/words

    with longwords = tokens longer than 6 chars and sentences = the
    count of '.', '!', '?' terminators (floored at 1 so headline-style
    fragments don't divide by zero).  A corpus-quality filter thresholds
    on it exactly like the stopword/length features in
    :func:`quality_features`; everything is in-row integer counting +
    two divisions (map-only, no shuffle)."""
    require_columns(df, [id_col, text_col], "readability")
    toks = _tokens(text_col)
    # report the TRUE counts; the ≥1 floors exist only inside the
    # divisors (an empty doc must not claim a fabricated word)
    n_words = F.size(toks).cast("long")
    n_long = F.size(F.filter(toks, lambda t: F.length(t) > 6)).cast("long")
    n_sent = (F.length(text_col)
              - F.length(F.regexp_replace(F.col(text_col), r"[.!?]", ""))
              ).cast("long")
    wdiv = F.greatest(n_words, F.lit(1)).cast("double")
    sdiv = F.greatest(n_sent, F.lit(1)).cast("double")
    from ..functions.scalar import roundn
    return df.select(
        F.col(id_col),
        n_words.alias("n_words"),
        n_sent.alias("n_sentences"),
        n_long.alias("n_long_words"),
        roundn(n_words.cast("double") / sdiv
               + 100.0 * n_long.cast("double") / wdiv).alias("lix"))


def quality_classifier(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text",
                       n_buckets: int = 1024) -> DataFrame:
    """Hashed linear quality classifier — the fastText-style filter
    shape every web-corpus pipeline runs (CCNet / LLaMA data prep: a
    linear model over hashed token features, thresholded to keep/drop).
    Each token hashes into one of ``n_buckets`` feature buckets via the
    engine-neutral polynomial rolling hash; bucket j carries the fixed
    pseudo-random integer weight w(j) = (j·2654435761 mod 4096) − 2048
    (a stand-in for trained weights — the Spark-side plumbing, feature
    hashing, and thresholding are the real artifact; swap the weight
    expression for a broadcast-joined trained table in production).
    Doc score = Σ w(bucket(t)) / (2048·n_tokens) ∈ (−1, 1).

    Everything is IN-ROW array arithmetic (transform + aggregate over
    the token array — no explode, no shuffle, map-only at any corpus
    size); the weight sum is an exact integer, the score ONE long/long
    double division (bit-identical across engines), and the keep flag
    an integer sign test, so the whole pipeline is oracle-exact.
    Returns (id, n_tokens, score, keep) for non-empty docs."""
    require_columns(df, [id_col, text_col], "quality_classifier")
    toks = _tokens(text_col)
    wt = F.transform(
        toks,
        lambda t: (polynomial_token_hash(t) % n_buckets)
                  * 2654435761 % 4096 - 2048)
    sum_w = F.aggregate(wt, F.lit(0).cast("long"), lambda a, x: a + x)
    n = F.size(toks).cast("long")
    return (df.select(F.col(id_col), n.alias("n_tokens"),
                      sum_w.alias("__sw"))
              .filter(F.col("n_tokens") > 0)
              .select(id_col, "n_tokens",
                      roundn(F.col("__sw")
                             / (F.lit(2048.0) * F.col("n_tokens")))
                      .alias("score"),
                      (F.col("__sw") > 0).cast("int").alias("keep")))
