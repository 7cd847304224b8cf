"""BPE (byte-pair-encoding) merge learning and encoding.

The tokenizer-training loop every pretraining stack runs.  The corpus
never makes a driver-side pass — it collapses to a WORD-FREQUENCY table
in one distributed explode → count (BPE statistics only depend on
(distinct word, count), which is orders of magnitude smaller than the
corpus and is the classic training input: Sennrich et al. 2016's
learn_bpe operates on exactly this table).  That VOCAB-sized table is
then collected once and the merge loop runs driver-side — a 30k-merge
tokenizer is 30k in-memory dict rounds, not 30k sequential Spark jobs.
The distributed side is the ENCODE path (:func:`bpe_segment`): learned
merges applied corpus-wide as JVM array folds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F

from ..schemas import require_columns


def _chars(col):
    """Split a word into single-character symbols.  '(?!^)' splits at
    every boundary except the start; Spark's split keeps TRAILING empties
    (java limit=-1 semantics) because the lookahead also matches at the
    end-of-string boundary — filter them out."""
    return F.filter(F.split(col, r"(?!^)"), lambda s: s != "")


def _apply_merge(sym_col, left: str, right: str):
    """Greedy left-to-right merge of adjacent (left, right) into one
    symbol — the exact BPE application rule ("a a a" with merge (a,a)
    becomes ["aa","a"], not ["a","aa"]): an array fold whose accumulator
    is the partially-merged prefix."""
    merged = left + right
    return F.aggregate(
        sym_col, F.array().cast("array<string>"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == left) & (s == right),
            F.concat(F.slice(acc, 1, F.size(acc) - 1),
                     F.array(F.lit(merged))))
         .otherwise(F.concat(acc, F.array(s))))


def word_frequencies(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """(word, cnt) over the corpus — one explode + one combinable agg."""
    require_columns(df, [id_col, text_col], "word_frequencies")
    return (df.select(F.explode(F.filter(F.split(F.col(text_col), " "),
                                         lambda t: t != "")).alias("word"))
              .groupBy("word").agg(F.count(F.lit(1)).alias("cnt")))


def _merge_word(syms: list[str], left: str, right: str,
                merged: str) -> list[str]:
    """Driver-side twin of :func:`_apply_merge` — greedy left-to-right."""
    out: list[str] = []
    for s in syms:
        if out and out[-1] == left and s == right:
            out[-1] = merged
        else:
            out.append(s)
    return out


def bpe_learn_merges(df: DataFrame, n_merges: int = 10,
                     id_col: str = "doc_id",
                     text_col: str = "text",
                     top_k_words: int = 1_000_000) -> DataFrame:
    """Learn ``n_merges`` BPE merges from the corpus.  Returns a small
    DataFrame (rank, left, right, merged, pair_count) in merge order —
    deterministic for a fixed corpus (tie-break: count desc, then pair
    lexicographic).

    Scale shape: the corpus collapses to the WORD-FREQUENCY table in ONE
    distributed aggregation (that shuffle is the only corpus-sized work),
    and the table itself is vocab-sized — exactly the input Sennrich et
    al. 2016's ``learn_bpe`` reads.  Only the ``top_k_words`` most
    frequent words are collected (count desc, word asc tie-break — a
    distributed TakeOrdered, no full sort), the standard tokenizer-
    training cap: a web-scale corpus's distinct-word tail is tens of GB
    of hapax noise that contributes nothing to high-frequency merges, so
    the driver tensor stays bounded at ANY corpus scale instead of
    failing loud at an arbitrary vocab ceiling.  The merge loop then
    runs driver-side over plain dicts: a 30k-merge tokenizer is 30k
    in-memory rounds, not 30k sequential Spark jobs (the previous
    form's scale bug)."""
    spark = df.sparkSession
    rows = (word_frequencies(df, id_col, text_col)
            .orderBy(F.desc("cnt"), F.asc("word"))
            .limit(top_k_words).collect())
    # driver-side state: one (symbols, count) pair per distinct word
    vocab: list[tuple[list[str], int]] = [
        (list(r.word), int(r.cnt)) for r in rows]
    merges: list[Row] = []
    for rank in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for syms, cnt in vocab:
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + cnt
        if not counts:
            break
        # tie-break identical to the distributed form: count desc, then
        # pair lexicographic asc (Spark's string order is binary UTF-8 —
        # identical to Python's code-point order for the ASCII/BMP range)
        (left, right), pair_count = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0]))
        if pair_count == 0:
            break
        merged = left + right
        merges.append(Row(rank=rank, left=left, right=right,
                          merged=merged, pair_count=pair_count))
        vocab = [(_merge_word(syms, left, right, merged), cnt)
                 for syms, cnt in vocab]
    if not merges:
        return spark.createDataFrame(
            [], "rank long, left string, right string, merged string, "
                "pair_count long")
    return spark.createDataFrame(merges)


def bpe_segment(df: DataFrame, merges: list[tuple[str, str]],
                id_col: str = "doc_id",
                text_col: str = "text",
                check_unique: bool = True) -> DataFrame:
    """Apply learned merges (in order) to every document and count the
    resulting BPE pieces — the distributed ENCODE side.

    Segmentation is a pure function of the WORD, so the (interpreted)
    merge folds run ONCE PER DISTINCT WORD at vocab grain — never per
    document occurrence.  The corpus-scale work is all codegen: explode
    words, broadcast-join the vocab's word→n_pieces map back, sum per
    doc.  (The previous per-document form ran the 8 interpreted folds
    over every word occurrence and was 7× slower at sf0.1 — the same
    vocab-grain collapse that makes merge LEARNING scale applies to
    ENCODE.)  Zero-word documents keep n_pieces=0 via the left join.
    ``id_col`` must be unique — the per-id sum would silently merge
    duplicate rows' counts, so duplicates fail loud by default.  The
    check is a full groupBy over the ids; at corpus scale pass
    ``check_unique=False`` when uniqueness is already guaranteed
    upstream (a primary key, a snapshot read) to skip that shuffle.
    Returns (doc_id, n_pieces)."""
    require_columns(df, [id_col, text_col], "bpe_segment")
    if check_unique:
        from ..operators.checks import check_group_cardinality
        df = check_group_cardinality(df, [id_col], 1,
                                     name="bpe_segment[unique id]")
    words = df.select(
        F.col(id_col),
        F.explode(F.filter(F.split(F.col(text_col), " "),
                           lambda t: t != "")).alias("word"))
    vocab = words.select("word").distinct() \
                 .withColumn("__syms", _chars(F.col("word")))
    for left, right in merges:
        # one projection per merge so the interpreted folds never nest
        # (HOF-CSE rule, SCALE.md)
        vocab = vocab.select(
            "word", _apply_merge(F.col("__syms"), left, right)
            .alias("__syms"))
    pieces = vocab.select(
        "word", F.size("__syms").cast("long").alias("__n"))
    # no broadcast hint: a web-scale vocab is corpus-sized (the
    # unigram_scores rule) — let AQE broadcast it when stats say it fits
    per_doc = (words.join(pieces, "word")
                    .groupBy(id_col)
                    .agg(F.sum("__n").alias("n_pieces")))
    return (df.select(id_col).join(per_doc, id_col, "left")
              .select(F.col(id_col),
                      F.coalesce("n_pieces", F.lit(0).cast("long"))
                       .alias("n_pieces")))
