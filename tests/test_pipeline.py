"""Property tests for operators without SQL oracles: probabilistic dedup,
approximate similarity, multimodal plumbing, ML invariants, splits."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from big_data_bowl_spark.ml.clustering import fit_route_clusters
from big_data_bowl_spark.ml.lstm import EmaFallbackModel, predict_sequences
from big_data_bowl_spark.ml.split import group_split
from big_data_bowl_spark.operators.sequences import build_sequences, unpivot_sequences
from big_data_bowl_spark.pipeline.dedup import (
    minhash_lsh_pairs,
    minhash_neutral_pairs,
    minhash_oph_pairs,
    minhash_oph_signatures,
    simhash_neutral,
)
from big_data_bowl_spark.pipeline.multimodal import (
    attach_binary_payload,
    extract_features,
)
from big_data_bowl_spark.pipeline.similarity import cosine_topk, lsh_bucketed_topk
from big_data_bowl_spark.sources.io import read_table

from tests.conftest import SF_SMALL


import pytest


# both pair generators over the shared LSH core: the unfiltered split
# (minhash_lsh_pairs) and the empty-token-filtered one
# (minhash_neutral_pairs)
_PAIR_FNS = pytest.mark.parametrize(
    "pairs_fn", [minhash_lsh_pairs, minhash_neutral_pairs],
    ids=["lsh", "neutral"])


@_PAIR_FNS
def test_minhash_identical_docs_estimate_one(spark, pairs_fn):
    """Identical docs estimate 1.0; unrelated docs stay far below."""
    docs = spark.createDataFrame([
        Row(doc_id=1, text="the quick brown fox jumps over the lazy dog again"),
        Row(doc_id=2, text="the quick brown fox jumps over the lazy dog again"),
        Row(doc_id=3, text="completely different words entirely unrelated content here now ok"),
    ])
    pairs = pairs_fn(docs, min_est_jaccard=0.0).collect()
    by_pair = {(r.doc_a, r.doc_b): r.est_jaccard for r in pairs}
    assert by_pair.get((1, 2)) == 1.0
    assert (1, 3) not in by_pair or by_pair[(1, 3)] < 0.3


@_PAIR_FNS
def test_minhash_near_dup_detected(spark, pairs_fn):
    # 30 distinct words, one substitution → shingle jaccard ≈ 27/33 ≈ 0.82,
    # comfortably above the 8×4 banding s-curve threshold (~0.59)
    words = [f"w{i}" for i in range(30)]
    base = " ".join(words)
    near = " ".join(["sub" if w == "w15" else w for w in words])
    docs = spark.createDataFrame([Row(doc_id=1, text=base),
                                  Row(doc_id=2, text=near)])
    pairs = pairs_fn(docs, min_est_jaccard=0.3).collect()
    assert pairs and pairs[0].est_jaccard > 0.5


def _oph_reference(text: str | None, n_bins: int = 32) -> list[int]:
    """Pure-Python twin of minhash_oph_signatures: the same
    unfiltered split, 3-word shingles, polynomial char hash, h mod B
    binning, and rotation densification with the 2^31 offset stride.
    A null text hashes like ""."""
    P = 1_000_000_007
    words = (text or "").split(" ")
    n_sh = max(len(words) - 2, 1)
    shingles = [" ".join(words[i:i + 3]) for i in range(n_sh)]

    def ph(s: str) -> int:
        h = 7
        for c in s:
            h = (h * 31 + ord(c)) % P
        return h

    bins: dict[int, int] = {}
    for s in shingles:
        h = ph(s)
        b = h % n_bins
        bins[b] = min(bins.get(b, 1 << 62), h)
    sig = []
    for j in range(n_bins):
        k = min((b - j) % n_bins for b in bins)
        sig.append(bins[(j + k) % n_bins] + k * (1 << 31))
    return sig


def test_oph_signature_matches_python_reference(spark):
    """Engine OPH signatures ≡ the independent Python reference on a
    corpus that exercises every densification regime: long docs (all
    bins filled), a single-shingle doc (1 non-empty bin, 31 borrows),
    double-space tokens, the empty string (one empty shingle → bare
    seed hash), and the adversarial corpus (null, whitespace-only,
    combining and astral characters)."""
    import random
    rng = random.Random(13)
    pool = [f"tok{i}" for i in range(400)]
    texts = [" ".join(rng.choices(pool, k=rng.randint(1, 120)))
             for _ in range(20)]
    texts += ["a b", "", "one  two   three", "solo"]
    texts += [t for _, t in _ADVERSARIAL_DOCS]
    docs = spark.createDataFrame(list(enumerate(texts)),
                                 "doc_id long, text string")
    got = {r.doc_id: list(r.sig)
           for r in minhash_oph_signatures(docs).collect()}
    for i, t in enumerate(texts):
        assert got[i] == _oph_reference(t), f"doc {i}: {t[:40]!r}"


def test_oph_estimator_tracks_exact_jaccard():
    """Matched-slot fraction over OPH signatures is an honest Jaccard
    estimate: mean |est − J| small over controlled-overlap pairs, and
    exactly 1.0 for identical docs (pure-Python twin — the engine is
    pinned ≡ to it by test_oph_signature_matches_python_reference)."""
    import random
    rng = random.Random(7)
    pool = [f"w{i}" for i in range(2000)]

    def jacc(a: str, b: str) -> float:
        def sh(t):
            w = t.split(" ")
            return {" ".join(w[i:i + 3])
                    for i in range(max(len(w) - 2, 1))}
        sa, sb = sh(a), sh(b)
        return len(sa & sb) / len(sa | sb)

    errs = []
    for _ in range(40):
        base = rng.sample(pool, 80)
        keep = rng.randint(20, 80)
        other = base[:keep] + rng.sample(
            [w for w in pool if w not in base], 80 - keep)
        a, b = " ".join(base), " ".join(other)
        sa, sb = _oph_reference(a), _oph_reference(b)
        est = sum(x == y for x, y in zip(sa, sb)) / 32.0
        errs.append(abs(est - jacc(a, b)))
    assert sum(errs) / len(errs) < 0.10, sum(errs) / len(errs)
    t = " ".join(rng.sample(pool, 50))
    assert _oph_reference(t) == _oph_reference(t)


def test_oph_pairs_identical_and_disjoint(spark):
    """End-to-end OPH LSH: identical docs surface at est 1.0; disjoint
    docs never pair at τ=0.5."""
    docs = spark.createDataFrame([
        Row(doc_id=1, text="the quick brown fox jumps over the lazy dog"),
        Row(doc_id=2, text="the quick brown fox jumps over the lazy dog"),
        Row(doc_id=3, text="entirely different vocabulary in this one here"),
    ])
    got = {(r.doc_a, r.doc_b): r.est_jaccard
           for r in minhash_oph_pairs(docs, min_est_jaccard=0.5).collect()}
    assert got == {(1, 2): 1.0}


def test_simhash_identical_docs_same_fingerprint(spark):
    docs = spark.createDataFrame([
        Row(doc_id=1, text="one two three four five"),
        Row(doc_id=2, text="one two three four five"),
        Row(doc_id=3, text="zebra yak xylophone wombat vulture"),
    ])
    rows = {r.doc_id: r.simhash for r in simhash_neutral(docs).collect()}
    assert rows[1] == rows[2]
    assert rows[1] != rows[3]


def test_lsh_topk_contained_in_exact_candidates(spark):
    """Approximate results must be genuine vectors with correct cosine
    values (subset of the exact all-pairs scores)."""
    em = read_table(spark, SF_SMALL, "embeddings")
    exact = {(r.query_id, r.neighbor_id): r.cosine
             for r in cosine_topk(em, [0, 1, 2], k=50).collect()}
    approx = lsh_bucketed_topk(em, [0, 1, 2], k=3).collect()
    for r in approx:
        key = (r.query_id, r.neighbor_id)
        if key in exact:
            assert abs(exact[key] - r.cosine) < 1e-9


def _cosine_stage(df, clean):
    return cosine_topk(df, [0, 1, 7], k=3)


def _ivf_neutral_stage(df, clean):
    from big_data_bowl_spark.pipeline.similarity import ivf_neutral_topk
    return ivf_neutral_topk(df, [0, 1, 7], k=3)


def _lsh_stage(df, clean):
    return lsh_bucketed_topk(df, [0, 1, 7], k=3)


def _pq_encode_stage(df, clean):
    from big_data_bowl_spark.pipeline.similarity import (
        pq_codebooks, pq_encode)
    return pq_encode(df, pq_codebooks(clean, m=8, k=16, iters=1), m=8)


@pytest.mark.parametrize(
    "stage", [_cosine_stage, _ivf_neutral_stage, _lsh_stage,
              _pq_encode_stage],
    ids=["cosine_topk", "ivf_neutral_topk", "lsh_bucketed_topk",
         "pq_encode"])
def test_vector_search_skips_null_vectors(spark, stage):
    """One null policy for the vector tier (``similarity._vectors``): a
    null embedding is never a query, a candidate or a code row, so a
    search or the PQ encode returns exactly what it returns with that
    row removed."""
    em = read_table(spark, SF_SMALL, "embeddings")
    nulled = em.withColumn("embedding", F.when(
        F.col("vec_id") != 7, F.col("embedding")))
    clean = em.filter(F.col("vec_id") != 7)
    got = sorted(map(tuple, stage(nulled, clean).collect()))
    want = sorted(map(tuple, stage(clean, clean).collect()))
    assert got == want and got


def test_group_split_is_leakage_safe(spark):
    e = read_table(spark, SF_SMALL, "events")
    tagged = group_split(e, "user_id", val_fraction=0.3)
    both = (tagged.groupBy("user_id")
                  .agg(F.countDistinct("split").alias("n_sides"))
                  .filter(F.col("n_sides") > 1).count())
    assert both == 0
    sides = {r.split for r in tagged.select("split").distinct().collect()}
    assert sides <= {"train", "val"} and "train" in sides


def test_multimodal_features_match_python(spark):
    d = read_table(spark, SF_SMALL, "documents").limit(20)
    media = attach_binary_payload(d, "doc_id", "text")
    feats = {r.media_id: r for r in extract_features(media).collect()}
    for row in d.collect():
        raw = row.text.encode("utf-8")
        vals = [float(b) for b in raw[:256]]
        mean = sum(vals) / len(vals)
        got = feats[row.doc_id]
        assert got.n_bytes == len(raw)
        assert got.checksum == sum(raw) % (1 << 31)
        assert abs(got.feat_mean - mean) < 1e-9


def test_multimodal_real_jpeg_decode(spark):
    """r11 (VERDICT item 5): the decode seam with a REAL codec —
    encode a deterministic gradient image as an actual JPEG, push it
    through extract_features with decode_image_real, and check the
    schema is IDENTICAL to the stub path and the stats match a local
    PIL decode of the same bytes.  Env-gated: the sandbox ships no
    PIL/codecs, so this skips there — the stub test above is the CI
    path for the same plumbing."""
    import pytest as _pt

    _pt.importorskip("PIL", reason="no PIL/codecs in this environment; "
                                   "stub decoder is the CI path")
    import io

    from PIL import Image

    from big_data_bowl_spark.pipeline.multimodal import decode_image_real

    def jpeg_bytes(seed: int) -> bytes:
        im = Image.new("L", (16, 16))
        im.putdata([(x * 16 + y * (seed + 3)) % 256
                    for x in range(16) for y in range(16)])
        buf = io.BytesIO()
        im.save(buf, format="JPEG", quality=90)
        return buf.getvalue()

    rows = [(i, jpeg_bytes(i), "image/jpeg", 0) for i in range(4)]
    media = spark.createDataFrame(
        rows, "media_id long, payload binary, media_type string, "
              "declared_bytes long")
    real = extract_features(media, decoder=decode_image_real)
    stub = extract_features(media)
    assert real.schema == stub.schema          # identical output schema
    got = {r.media_id: r for r in real.collect()}
    for i, payload, _, _ in rows:
        px = list(Image.open(io.BytesIO(payload)).convert("L").getdata())
        mean = sum(px) / len(px)
        var = sum((v - mean) ** 2 for v in px) / len(px)
        assert got[i].n_bytes == len(payload)
        assert got[i].checksum == sum(payload) % (1 << 31)
        assert abs(got[i].feat_mean - mean) < 1e-9
        assert abs(got[i].feat_std - var ** 0.5) < 1e-9


# r12 (VERDICT item 6): a COMMITTED known-JPEG contract.  A minimal
# valid baseline JFIF, 16x16 grayscale, built so that every DCT
# coefficient is zero (DC diff 0 then immediate EOB per MCU): any
# compliant decoder reconstructs EXACTLY 128 at all 256 pixels — no
# IDCT rounding enters — so the expected stats are pinned constants,
# not a runtime PIL round-trip.  Structure: SOI, APP0(JFIF), DQT(q=16),
# SOF0(16x16, 1 component), two single-code DHTs (DC category 0 -> "0",
# AC EOB -> "0"; canonical single 1-bit codes, legal incomplete
# tables), SOS, one entropy byte (4 MCUs x 2 zero bits), EOI.
_JPEG_FLAT128 = bytes.fromhex(
    "ffd8ffe000104a46494600010100000100010000ffdb0043001010101010"
    "101010101010101010101010101010101010101010101010101010101010"
    "1010101010101010101010101010101010101010101010101010101010ff"
    "c0000b080010001001011100ffc400140001000000000000000000000000"
    "00000000ffc40014100100000000000000000000000000000000ffda0008"
    "010100003f0000ffd9")
_JPEG_FLAT128_STATS = {"n_bytes": 159, "checksum": 5317,
                       "feat_mean": 128.0, "feat_std": 0.0,
                       "width": 16, "height": 16}


def test_committed_jpeg_literal_invariants():
    """The parts of the committed contract checkable WITHOUT codecs:
    the literal's byte length and checksum match the pinned stats the
    decode test asserts against (so the constants can never drift from
    the literal), and the container structure is a baseline JFIF."""
    p = _JPEG_FLAT128
    assert len(p) == _JPEG_FLAT128_STATS["n_bytes"]
    assert sum(p) % (1 << 31) == _JPEG_FLAT128_STATS["checksum"]
    assert p[:2] == b"\xff\xd8" and p[-2:] == b"\xff\xd9"
    assert b"JFIF" in p and b"\xff\xc0" in p  # APP0 + baseline SOF0


def test_multimodal_committed_jpeg_contract(spark):
    """r12 (VERDICT item 6): any environment that ever gains PIL
    validates the REAL decode against committed expectations with zero
    setup — byte literal in, pinned grayscale stats out, through the
    actual mapInPandas seam.  Skips here (no codecs in this sandbox);
    the stub path and the schema contract are the CI invariants."""
    import pytest as _pt

    _pt.importorskip("PIL", reason="no PIL/codecs in this environment; "
                                   "stub decoder is the CI path")
    import io

    from PIL import Image

    from big_data_bowl_spark.pipeline.multimodal import decode_image_real

    exp = _JPEG_FLAT128_STATS
    # local PIL decode agrees with the committed constants
    im = Image.open(io.BytesIO(_JPEG_FLAT128)).convert("L")
    assert im.size == (exp["width"], exp["height"])
    assert set(im.getdata()) == {128}
    # the distributed seam reproduces them exactly
    media = spark.createDataFrame(
        [(1, _JPEG_FLAT128, "image/jpeg", len(_JPEG_FLAT128))],
        "media_id long, payload binary, media_type string, "
        "declared_bytes long")
    row = extract_features(media, decoder=decode_image_real).collect()[0]
    assert row.n_bytes == exp["n_bytes"]
    assert row.checksum == exp["checksum"]
    assert row.feat_mean == exp["feat_mean"]
    assert row.feat_std == exp["feat_std"]


def test_sequence_roundtrip_with_fallback_model(spark):
    """T1 → M7 (pandas-UDF inference with broadcast model) → T2 unpivot:
    the full sequence-model spine without Keras."""
    e = read_table(spark, SF_SMALL, "events")
    seq = build_sequences(e, ["user_id"], "event_id", ["value"], max_len=10)
    pred = predict_sequences(spark, seq, EmaFallbackModel())
    actual = seq.select(
        "user_id", "real_len",
        F.transform("seq", lambda r: r[0]).alias("actual"))
    joined = pred.join(actual, ["user_id", "real_len"])
    long = unpivot_sequences(joined, ["user_id"], "actual", "pred")
    rows = long.collect()
    assert rows
    # padded steps dropped: every user contributes exactly real_len rows
    per_user = {r.user_id: 0 for r in rows}
    for r in rows:
        per_user[r.user_id] += 1
    lens = {r.user_id: r.real_len for r in seq.collect()}
    assert per_user == lens
    # EMA at t=0 equals the first value → residual 0 on first steps
    first = [r for r in rows if r.t == 0]
    assert all(abs(r.residual) < 1e-5 for r in first)


def test_kmeans_invariants(spark):
    """M3 label-invariant checks (SURVEY §5.2): cluster count, full
    coverage, deterministic under fixed seed."""
    em = read_table(spark, SF_SMALL, "embeddings")
    feats = em.select(
        "vec_id",
        *[F.element_at("embedding", i + 1).cast("double").alias(f"d{i}")
          for i in range(8)])
    cols = [f"d{i}" for i in range(8)]
    _, p1 = fit_route_clusters(feats, cols, k=5, seed=42)
    _, p2 = fit_route_clusters(feats, cols, k=5, seed=42)
    sizes1 = sorted(r.n for r in
                    p1.groupBy("cluster").agg(F.count("*").alias("n")).collect())
    sizes2 = sorted(r.n for r in
                    p2.groupBy("cluster").agg(F.count("*").alias("n")).collect())
    assert len(sizes1) == 5 and sum(sizes1) == feats.count()
    assert sizes1 == sizes2  # same seed → same partition of the data


def test_ivf_full_probe_equals_brute_force(spark):
    """nprobe == n_cells probes every cell — the IVF result must EQUAL the
    exact brute-force top-k (same tie-breaks), proving the index only
    prunes, never re-ranks differently."""
    from big_data_bowl_spark.pipeline.similarity import ivf_topk

    em = read_table(spark, SF_SMALL, "embeddings")
    exact = sorted(tuple(r) for r in cosine_topk(em, [0, 1, 2], k=3).collect())
    full = sorted(tuple(r) for r in
                  ivf_topk(em, [0, 1, 2], k=3, n_cells=4, nprobe=4).collect())
    assert full == exact


def test_ivf_partial_probe_shape_and_recall(spark):
    """Small nprobe: per-query at most k rows, every neighbor real, and
    deterministic recall vs exact stays useful (seeded KMeans)."""
    from big_data_bowl_spark.pipeline.similarity import ivf_topk

    em = read_table(spark, SF_SMALL, "embeddings")
    exact = {(r.query_id, r.neighbor_id)
             for r in cosine_topk(em, [0, 1, 2], k=3).collect()}
    approx = ivf_topk(em, [0, 1, 2], k=3, n_cells=4, nprobe=1).collect()
    per_q: dict[int, int] = {}
    for r in approx:
        per_q[r.query_id] = per_q.get(r.query_id, 0) + 1
        assert r.neighbor_id != r.query_id
    assert all(v <= 3 for v in per_q.values())
    got = {(r.query_id, r.neighbor_id) for r in approx}
    recall = len(got & exact) / len(exact)
    assert recall >= 0.3, f"recall {recall} collapsed"


def test_duplicate_components_transitive(spark):
    """a-b and b-c must land in ONE component (two propagation rounds);
    the canonical label is the min id."""
    from pyspark.sql import Row

    from big_data_bowl_spark.pipeline.dedup import duplicate_components

    pairs = spark.createDataFrame([
        Row(doc_a=2, doc_b=3), Row(doc_a=3, doc_b=9),   # chain 2-3-9
        Row(doc_a=20, doc_b=21),                        # separate pair
    ])
    got = {r.doc_id: r.component
           for r in duplicate_components(pairs).collect()}
    assert got == {2: 2, 3: 2, 9: 2, 20: 20, 21: 20}


def test_pca_2d_variance_ordering(spark):
    """M4: pc1 must capture at least as much variance as pc2, and the
    projection must be centered near zero (PCA invariants that hold for
    any correct implementation)."""
    from big_data_bowl_spark.ml.clustering import pca_2d

    em = read_table(spark, SF_SMALL, "embeddings")
    feats = em.select(
        "vec_id",
        *[F.element_at("embedding", i + 1).cast("double").alias(f"d{i}")
          for i in range(8)])
    out = pca_2d(feats, [f"d{i}" for i in range(8)])
    stats = out.agg(F.variance("pc1").alias("v1"),
                    F.variance("pc2").alias("v2")).first()
    assert stats.v1 >= stats.v2 > 0.0


def test_csv_sink_glob_round_trip(spark, tmp_path):
    """S5: header CSV sink → schema-declared glob read recovers the same
    rows (was shadowed by the later read_csv_dir round-trip test of the
    same name — renamed in r6 so both run)."""
    from big_data_bowl_spark.sources.io import read_csv_glob, read_table

    ev = read_table(spark, SF_SMALL, "events") \
        .select("event_id", "user_id", "value")
    path = str(tmp_path / "out_csv")
    ev.coalesce(1).write.option("header", True).csv(path)
    back = read_csv_glob(spark, path + "/*.csv", ev.schema)
    assert sorted(map(tuple, back.collect())) == \
        sorted(map(tuple, ev.collect()))


def test_training_shards_round_trip_and_manifest(spark, tmp_path):
    """Shard writer contract: data round-trips with every row in the
    shard the hash assigns it; the manifest's per-shard counts match the
    data; shard sizes are balanced (mixed hash — no shard more than 2×
    the mean at 1k docs over 8 shards)."""
    from big_data_bowl_spark.sources.shards import (
        read_training_shards, shard_assignment, write_training_shards)
    d = read_table(spark, SF_SMALL, "documents") \
        .select("doc_id", "lang", "n_chars")
    path = str(tmp_path / "shards")
    manifest = {r["shard"]: (r["rows"], r["n_keys"])
                for r in write_training_shards(d, path, "doc_id", 8)
                .collect()}
    back = read_training_shards(spark, path, expect_shards=8)
    assert back.count() == d.count()
    per = {r["shard"]: r["n"] for r in
           back.groupBy("shard").agg(F.count(F.lit(1)).alias("n"))
               .collect()}
    assert {s: c for s, (c, _) in manifest.items()} == per
    mean = sum(per.values()) / len(per)
    assert max(per.values()) < 2 * mean, per
    # membership is the pure hash function, regardless of layout
    expect = {r["doc_id"]: r["shard"] for r in
              shard_assignment(d.repartition(5), "doc_id", 8)
              .select("doc_id", "shard").collect()}
    for r in back.select("doc_id", "shard").collect():
        assert expect[r["doc_id"]] == r["shard"]


def test_training_shards_tolerate_legitimately_empty_shards(spark,
                                                            tmp_path):
    """More shards than rows: partitionBy writes no directory for an
    empty shard, so the manifest must enumerate it as (shard, 0, 0) and
    the reader must accept the absence — 'legitimately empty' and
    'lost' are different states (r6 review fix)."""
    from big_data_bowl_spark.sources.shards import (
        read_training_shards, write_training_shards)
    d = read_table(spark, SF_SMALL, "documents") \
        .select("doc_id").limit(20)
    path = str(tmp_path / "sparse_shards")
    manifest = {r["shard"]: r["rows"]
                for r in write_training_shards(d, path, "doc_id", 64)
                .collect()}
    assert sorted(manifest) == list(range(64))
    assert sum(manifest.values()) == 20
    assert any(v == 0 for v in manifest.values())
    back = read_training_shards(spark, path, expect_shards=64)
    assert back.count() == 20


def test_read_training_shards_fails_on_missing_shard(spark, tmp_path):
    """A trainer must never silently iterate a partial epoch: deleting
    one shard directory makes the read fail loud."""
    import shutil

    from big_data_bowl_spark.sources.shards import (
        read_training_shards, write_training_shards)
    d = read_table(spark, SF_SMALL, "documents").select("doc_id")
    path = str(tmp_path / "shards2")
    write_training_shards(d, path, "doc_id", 4)
    shutil.rmtree(f"{path}/data/shard=3")
    try:
        read_training_shards(spark, path, expect_shards=4)
        raised = False
    except ValueError:
        raised = True
    assert raised


def test_quota_sample_budget_and_determinism(spark):
    """Quota sampler contract: every group's kept total is within
    budget; membership is partitioning-invariant; a budget larger than
    any group keeps everything; and the hash order means the NEXT
    unkept doc would overflow the budget (whole-doc greedy cut)."""
    from big_data_bowl_spark.pipeline.sampling import quota_sample
    d = read_table(spark, SF_SMALL, "documents") \
        .select("doc_id", "source", "n_chars")
    kept = quota_sample(d, "source", "doc_id", "n_chars", 400)
    per = {r["source"]: r["s"] for r in
           kept.groupBy("source").agg(F.sum("n_chars").alias("s"))
               .collect()}
    assert per and all(v <= 400 for v in per.values()), per
    ids = lambda df: sorted(r["doc_id"] for r in df.collect())
    assert ids(kept) == ids(
        quota_sample(d.repartition(9), "source", "doc_id", "n_chars", 400))
    assert quota_sample(d, "source", "doc_id", "n_chars",
                        10 ** 9).count() == d.count()


def test_approx_distinct_within_error_bound(spark):
    """The 100 TB path for A12: HyperLogLog approx_count_distinct must land
    within its configured relative error of the exact count (documents'
    doc_id and events' user_id at sf0.001)."""
    for table, col in (("documents", "doc_id"), ("events", "user_id")):
        df = read_table(spark, SF_SMALL, table)
        exact = df.select(col).distinct().count()
        approx = df.agg(
            F.approx_count_distinct(col, rsd=0.05).alias("a")).first().a
        assert abs(approx - exact) <= max(1, 0.10 * exact), \
            (table, exact, approx)


def test_lloyd_inertia_monotone_and_self_consistent(spark):
    """Lloyd invariants: total inertia (sum of squared distances to the
    assigned centroid) never increases with more iterations, and the
    final assignment is a fixpoint of its own centroids' nearest-L2
    rule (checked implicitly by iters vs iters+1 inertia equality or
    decrease)."""
    from pyspark.sql import functions as F

    from big_data_bowl_spark.pipeline.similarity import lloyd_kmeans
    from big_data_bowl_spark.sources.io import read_table

    emb = read_table(spark, SF_SMALL, "embeddings")
    inertia = []
    for it in (0, 1, 3):
        out = lloyd_kmeans(emb, iters=it)
        inertia.append(out.agg(F.sum("score")).first()[0])
    assert inertia[1] <= inertia[0] + 1e-6
    assert inertia[2] <= inertia[1] + 1e-6
    # k clusters survive (no collapse on this data) and every vector is
    # assigned exactly once
    final = lloyd_kmeans(emb, iters=3)
    n_vecs = emb.count()
    assert final.count() == n_vecs
    assert final.select("vec_id").distinct().count() == n_vecs


def test_pca_2d_invariants(spark):
    """M4 (BDB_2026.ipynb#cell39): label-invariant PCA checks — component
    variances ordered, loadings orthonormal, scores centered, and the
    2-component projection reproduces the top of the spectrum."""
    import numpy as np

    from big_data_bowl_spark.ml.clustering import pca_2d

    em = read_table(spark, SF_SMALL, "embeddings")
    cols = [f"d{i}" for i in range(5)]
    feats = em.select(
        "vec_id",
        *[F.element_at("embedding", i + 1).cast("double").alias(c)
          for i, c in enumerate(cols)])
    out = pca_2d(feats, cols)
    assert set(out.columns) == {"vec_id", *cols, "pc1", "pc2"}
    pcs = np.array([[r.pc1, r.pc2] for r in out.collect()])
    assert pcs.shape == (feats.count(), 2)
    # variance along pc1 ≥ variance along pc2 (component ordering)
    v1, v2 = pcs.var(axis=0, ddof=1)
    assert v1 >= v2 > 0
    # scores of distinct components are uncorrelated (orthogonal loadings
    # of a PCA ⇒ zero sample covariance between score columns)
    cov = np.cov(pcs.T)
    assert abs(cov[0, 1]) < 1e-6 * max(v1, 1.0)
    # pc1 variance ≥ every single original feature's variance (it is the
    # max-variance direction over the 5-dim cloud)
    X = np.array([r[1:6] for r in feats.collect()], dtype=float)
    assert v1 >= X.var(axis=0, ddof=1).max() - 1e-9


def test_csv_sink_round_trip(spark, tmp_path):
    """S5 (bdb2026/data_io.py:71,77: to_csv(index=False) → read back):
    write → re-read with the declared schema → frame equality."""
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from big_data_bowl_spark.sources.io import read_csv_dir, write_csv

    df = (read_table(spark, SF_SMALL, "events")
          .select("event_id", "user_id", "event_type",
                  F.round("value", 6).alias("value"))
          .limit(200))
    path = str(tmp_path / "csv_sink")
    write_csv(df, path)
    schema = StructType([
        StructField("event_id", LongType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
    ])
    back = read_csv_dir(spark, path, schema)
    a = sorted(map(tuple, df.collect()))
    b = sorted(map(tuple, back.collect()))
    assert a == b


def test_resize_and_frame_explode(spark):
    """Multimodal resize (mapInPandas avg-pool to fixed k) and JVM-side
    binary frame extraction: fixed vector length, frame grid and sizes."""
    from big_data_bowl_spark.pipeline.multimodal import (
        attach_binary_payload,
        explode_frames,
        resize_payloads,
    )

    docs = read_table(spark, SF_SMALL, "documents").limit(50)
    media = attach_binary_payload(docs, "doc_id", "text")
    resized = resize_payloads(media, size=16).collect()
    assert len(resized) == 50
    assert all(len(r.resized) == 16 for r in resized)
    # pooling preserves the global mean over the pooled range
    one = media.filter(F.col("media_id") == resized[0].media_id).first()
    vals = [float(b) for b in bytes(one.payload)[:256]]
    n = len(vals)
    expect = sum(
        sum(vals[(b * n) // 16:((b + 1) * n) // 16])
        / max(1, ((b + 1) * n) // 16 - (b * n) // 16)
        for b in range(16)) / 16
    got = sum(resized[0].resized) / 16
    assert abs(got - expect) < 1e-3

    frames = explode_frames(media, frame_bytes=16, every_n=3)
    rows = frames.collect()
    assert rows and all(r.n_bytes == 16 for r in rows)
    assert all(r.frame_idx % 3 == 0 for r in rows)
    # frame count per media matches the arithmetic grid
    import collections
    per = collections.Counter(r.media_id for r in rows)
    for m in media.collect():
        nf = len(bytes(m.payload)) // 16
        expect_n = len([i for i in range(nf) if i % 3 == 0])
        if expect_n:
            assert per[m.media_id] == expect_n


def test_orc_round_trip_and_pushdown(spark, tmp_path):
    """S-family widening: events → ORC → read-back equals source, and a
    filter over the ORC scan reaches the reader as a pushed predicate
    (ORC carries the same stats machinery as parquet)."""
    from big_data_bowl_spark.sources.io import read_orc, write_orc

    ev = (read_table(spark, SF_SMALL, "events")
          .select("event_id", "user_id", "value").limit(300))
    path = str(tmp_path / "events_orc")
    write_orc(ev, path)
    back = read_orc(spark, path)
    assert sorted(map(tuple, back.collect())) == \
        sorted(map(tuple, ev.collect()))
    # section-scoped check: the fragment must be INSIDE the PushedFilters
    # list (a bare substring test would pass on 'PushedFilters: []' plus
    # the column name appearing in ReadSchema)
    from big_data_bowl_spark.plans import assert_pushed_filters
    assert_pushed_filters(back.filter(F.col("user_id") == 7), "user_id")


def test_jsonl_round_trip(spark, tmp_path):
    """S-family widening: documents → JSONL → declared-schema read-back."""
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from big_data_bowl_spark.sources.io import read_jsonl, write_jsonl

    docs = (read_table(spark, SF_SMALL, "documents")
            .select("doc_id", "lang", "text").limit(100))
    path = str(tmp_path / "docs_jsonl")
    write_jsonl(docs, path)
    schema = StructType([
        StructField("doc_id", LongType()),
        StructField("lang", StringType()),
        StructField("text", StringType()),
    ])
    back = read_jsonl(spark, path, schema)
    assert sorted(map(tuple, docs.collect())) == \
        sorted(map(tuple, back.select("doc_id", "lang", "text").collect()))


def test_compact_parquet_shrinks_file_count(spark, tmp_path):
    """The small-files fix: 64 tiny files → ⌈total/target⌉ files with the
    same rows."""
    import glob

    from big_data_bowl_spark.sources.io import compact_parquet

    src = str(tmp_path / "fragmented")
    dst = str(tmp_path / "compacted")
    e = read_table(spark, SF_SMALL, "events")
    e.repartition(64).write.parquet(src)
    n_src = len(glob.glob(src + "/part-*"))
    assert n_src == 64
    compact_parquet(spark, src, dst, target_bytes=256 << 20)
    n_dst = len(glob.glob(dst + "/part-*"))
    assert n_dst < n_src
    assert spark.read.parquet(dst).count() == e.count()


def test_chunk_documents_round_trip_and_normalize_idempotent(spark):
    """Chunking partitions the token stream exactly (re-concatenation
    reproduces the tokenized document; sizes sum to n_tokens); text
    normalization is idempotent."""
    from big_data_bowl_spark.pipeline.text import (
        chunk_documents,
        normalize_text,
    )

    docs = read_table(spark, SF_SMALL, "documents").limit(80)
    chunks = chunk_documents(docs, chunk_size=7).collect()
    by_doc = {}
    for r in sorted(chunks, key=lambda r: (r.doc_id, r.chunk_id)):
        by_doc.setdefault(r.doc_id, []).append(r)
    for d in docs.collect():
        toks = [t for t in d.text.split(" ") if t]
        got = by_doc.get(d.doc_id, [])
        if not toks:
            assert got == []
            continue
        rebuilt = " ".join(c.chunk_text for c in got).split(" ")
        assert rebuilt == toks
        assert sum(c.n_tokens for c in got) == len(toks)
        assert all(c.n_tokens == 7 for c in got[:-1])  # only tail ragged

    once = normalize_text(docs)
    twice = normalize_text(
        once.select(F.col("doc_id"), F.col("norm_text").alias("text")))
    a = {r.doc_id: r.norm_text for r in once.collect()}
    b = {r.doc_id: r.norm_text for r in twice.collect()}
    assert a == b


def test_bpe_gold_corpus_and_segment(spark):
    """BPE merges on a hand-computable corpus: 'aaab aaab' + 'ab' yields
    (a,a,4) then (a,b,3) then (aa,ab,2) — the greedy left-to-right
    application rule ('a a a' merges to [aa, a]) and the count-desc/
    lexicographic tie-break, exactly."""
    from big_data_bowl_spark.pipeline.bpe import bpe_learn_merges, bpe_segment

    docs = spark.createDataFrame([Row(doc_id=1, text="aaab aaab"),
                                  Row(doc_id=2, text="ab")])
    rows = bpe_learn_merges(docs, n_merges=3).collect()
    assert [(r.left, r.right, r.pair_count) for r in rows] == \
        [("a", "a", 4), ("a", "b", 3), ("aa", "ab", 2)]
    seg = {r.doc_id: r.n_pieces
           for r in bpe_segment(
               docs, [(r.left, r.right) for r in rows]).collect()}
    assert seg == {1: 2, 2: 1}


def test_bpe_deterministic_and_monotone(spark):
    """Same corpus → identical merge table on re-run; each applied merge
    strictly reduces the corpus piece count."""
    from big_data_bowl_spark.pipeline.bpe import bpe_learn_merges, bpe_segment

    docs = read_table(spark, SF_SMALL, "documents").limit(60)
    a = bpe_learn_merges(docs, n_merges=4).collect()
    b = bpe_learn_merges(docs, n_merges=4).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
    merges = [(r.left, r.right) for r in a]
    totals = []
    for k in range(len(merges) + 1):
        seg = bpe_segment(docs, merges[:k])
        totals.append(seg.agg(F.sum("n_pieces")).first()[0])
    assert all(x > y for x, y in zip(totals, totals[1:])), totals


def test_approx_quantiles_within_rank_error(spark):
    """A14 scale path: percentile_approx(acc=1000) must land within the
    documented rank-error bound of the exact per-group quantile — the
    containment contract that makes the sketch a safe drop-in at scale."""
    from big_data_bowl_spark.queries import QUERIES

    approx = {r.event_type: r
              for r in QUERIES["q_approx_quantiles"](spark, SF_SMALL)
              .collect()}
    e = read_table(spark, SF_SMALL, "events").filter(F.col("value").isNotNull())
    for etype, row in approx.items():
        vals = sorted(r.value for r in
                      e.filter(F.col("event_type") == etype).collect())
        n = len(vals)
        assert row.n == n
        for q, got in ((0.5, row.p50), (0.9, row.p90), (0.99, row.p99)):
            # rank window: target rank ± n/acc (±1 for rounding slack)
            lo = max(0, int(q * n) - n // 1000 - 2)
            hi = min(n - 1, int(q * n) + n // 1000 + 2)
            assert vals[lo] <= got <= vals[hi], (etype, q, got)


def test_stage_parquet_materialize_if_missing(spark, tmp_path):
    """S3 (data_io.py:41-79 prepare-or-reuse): mode='ignore' writes once;
    a second write against the same path is a no-op, so the staged
    content survives re-runs unchanged."""
    from big_data_bowl_spark.sources.io import stage_parquet

    path = str(tmp_path / "staged")
    first = read_table(spark, SF_SMALL, "events").limit(100)
    stage_parquet(first, path)
    again = read_table(spark, SF_SMALL, "events").limit(50)
    stage_parquet(again, path)  # ignored: already materialized
    assert spark.read.parquet(path).count() == 100


def test_minhash_incremental_match_against_index(spark):
    """Incremental dedup: a new batch matched against a persisted
    signature index finds the cross-batch near-dup without rescanning the
    corpus text, and agrees with the batch-mode pair estimate."""
    from big_data_bowl_spark.pipeline.dedup import (
        minhash_lsh_match,
        minhash_lsh_pairs,
        minhash_signatures,
    )

    corpus = spark.createDataFrame([
        Row(doc_id=1, text="the quick brown fox jumps over the lazy dog again"),
        Row(doc_id=2, text="completely different words entirely unrelated content here now ok"),
    ])
    index = minhash_signatures(corpus)
    batch = spark.createDataFrame([
        Row(doc_id=10, text="the quick brown fox jumps over the lazy dog again"),
        Row(doc_id=11, text="nothing like anything stored before in any index at all"),
    ])
    hits = minhash_lsh_match(batch, index, min_est_jaccard=0.5).collect()
    assert {(r.new_id, r.index_id): r.est_jaccard for r in hits} == \
        {(10, 1): 1.0}
    # batch mode over the union sees the same cross-pair
    both = minhash_lsh_pairs(corpus.union(batch), min_est_jaccard=0.5)
    assert any((r.doc_a, r.doc_b) == (1, 10) for r in both.collect())


# ---------------------------------------------------------------------------
# Benchmark decontamination (GPT-3/PaLM n-gram rule)
# ---------------------------------------------------------------------------

def test_ngram_contamination_counts_and_short_doc_guard(spark):
    from big_data_bowl_spark.pipeline.decontam import ngram_contamination
    bench = spark.createDataFrame([Row(doc_id=100, text="alpha beta gamma delta")])
    corpus = spark.createDataFrame([
        # shares 2-grams "alpha beta" and "beta gamma" with the benchmark
        Row(doc_id=1, text="alpha beta gamma unrelated tail words"),
        # no shared 2-grams
        Row(doc_id=2, text="totally different content with no overlap at all"),
        # single-token doc: zero 2-grams — must not crash (sequence(1,0)
        # would DESCEND without the guard) and must not appear
        Row(doc_id=3, text="alpha"),
    ])
    out = {r["doc_id"]: r for r in
           ngram_contamination(corpus, bench, n=2, min_overlap=1).collect()}
    assert set(out) == {1}
    assert out[1]["n_overlap"] == 2
    assert out[1]["n_grams"] == 5
    assert abs(out[1]["overlap_frac"] - 0.4) < 1e-9


def test_decontaminate_drops_flagged_docs(spark):
    from big_data_bowl_spark.pipeline.decontam import decontaminate
    bench = spark.createDataFrame([Row(doc_id=100, text="alpha beta gamma delta")])
    corpus = spark.createDataFrame([
        Row(doc_id=1, text="alpha beta gamma unrelated tail words"),
        Row(doc_id=2, text="totally different content with no overlap at all"),
    ])
    kept = decontaminate(corpus, bench, n=2, min_overlap=1)
    assert [r["doc_id"] for r in kept.collect()] == [2]
    # corpus columns survive untouched
    assert kept.columns == corpus.columns


def test_decontamination_corpus_side_single_shuffle(spark):
    """Scale shape: the benchmark gram set broadcasts and per-doc gram
    dedup is in-row (array_distinct) — the corpus side sees exactly ONE
    exchange (the count aggregate), never a shuffle keyed on n-grams."""
    from big_data_bowl_spark.plans import executed_plan
    from big_data_bowl_spark.queries import QUERIES
    plan = executed_plan(QUERIES["q_decontaminate"](spark, SF_SMALL))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    # corpus-side exchanges: every Exchange except the benchmark subtree's
    # distinct (bounded by the benchmark size) must be the doc_id count
    import re
    exchanges = re.findall(r"Exchange hashpartitioning\(([^,]+)", plan)
    corpus_ex = [e for e in exchanges if "doc_id" in e]
    assert corpus_ex and all("gh" not in e for e in corpus_ex), exchanges


# ---------------------------------------------------------------------------
# Product quantization (PQ) ANN
# ---------------------------------------------------------------------------

def _prototype_vectors(spark, n_protos=4, copies=5, dim=16):
    """copies × n_protos vectors, each an exact copy of one prototype —
    with k ≥ n_protos every subspace codebook can represent every
    subvector exactly, so PQ becomes lossless on this corpus."""
    import itertools
    rows = []
    vid = 0
    for p, _ in itertools.product(range(n_protos), range(copies)):
        # deterministic prototype: orthogonal-ish blocks
        vec = [float((p + 1) * (1 if (i // 4) % n_protos == p else 0))
               for i in range(dim)]
        rows.append(Row(vec_id=vid, proto=p, embedding=vec))
        vid += 1
    return spark.createDataFrame(rows)


def test_pq_codes_shape_and_range(spark):
    from big_data_bowl_spark.pipeline.similarity import pq_codebooks, pq_encode
    df = _prototype_vectors(spark)
    books = pq_codebooks(df, m=4, k=4, iters=2, dim=16)
    codes = pq_encode(df, books, m=4, dim=16)
    rows = codes.collect()
    assert len(rows) == 20
    for r in rows:
        assert len(r["codes"]) == 4
        assert all(0 <= c < 4 for c in r["codes"])


def test_pq_lossless_on_prototype_corpus(spark):
    """With k ≥ #distinct subvectors the trained codebook reproduces every
    subvector exactly: copies of the same prototype get IDENTICAL codes
    and ADC distance 0, while different prototypes keep distance > 0 —
    so ADC top-k returns exactly the same-prototype copies first."""
    from big_data_bowl_spark.pipeline.similarity import (
        pq_codebooks, pq_encode, pq_topk_adc)
    df = _prototype_vectors(spark)
    books = pq_codebooks(df, m=4, k=4, iters=3, dim=16)
    codes = pq_encode(df, books, m=4, dim=16)
    by_id = {r["vec_id"]: tuple(r["codes"]) for r in codes.collect()}
    protos = {r["vec_id"]: r["proto"] for r in df.select("vec_id", "proto").collect()}
    # same prototype ⇒ same codes
    from collections import defaultdict
    seen = defaultdict(set)
    for vid, cd in by_id.items():
        seen[protos[vid]].add(cd)
    assert all(len(s) == 1 for s in seen.values()), seen
    # ADC: query vec 0 (proto 0) — its 4 same-proto copies at distance 0
    out = pq_topk_adc(codes, books, df.filter(F.col("vec_id") == 0),
                      k=4, m=4, dim=16).collect()
    assert len(out) == 4
    assert all(r["approx_d2"] == 0.0 for r in out), out
    assert {r["neighbor_id"] for r in out} == {1, 2, 3, 4}


def test_pq_adc_no_vector_scan_single_window_shard(spark):
    """Scale shape: the ADC search plan reads the CODES relation and the
    broadcast distance table only — the embedding column never appears in
    the search subtree, and every join is broadcast."""
    from big_data_bowl_spark.pipeline.similarity import (
        pq_codebooks, pq_encode, pq_topk_adc)
    from big_data_bowl_spark.plans import executed_plan
    df = _prototype_vectors(spark)
    books = pq_codebooks(df, m=4, k=4, iters=1, dim=16)
    codes = pq_encode(df, books, m=4, dim=16).localCheckpoint(eager=True)
    plan = executed_plan(pq_topk_adc(
        codes, books.localCheckpoint(eager=True),
        df.filter(F.col("vec_id") == 0), k=2, m=4, dim=16))
    assert "SortMergeJoin" not in plan, plan
    # map-only scoring: the distance table arrives as a 1-row broadcast
    # (query-side embedding reads feed that broadcast; the corpus side
    # is the checkpointed CODES relation only)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan


# ---------------------------------------------------------------------------
# Z-order layout
# ---------------------------------------------------------------------------

def test_zorder_layout_localizes_both_dims(spark, tmp_path):
    """After a Z-ordered write, each parquet file covers only a fraction
    of BOTH dimensions' domains (so min-max stats prune filters on either
    column).  A 1-D range layout on user_id leaves the time dimension at
    ~full span per file — the contrast that justifies the interleave."""
    from big_data_bowl_spark.sources.layout import write_zordered
    e = (read_table(spark, SF_SMALL, "events")
         .select("event_id", "user_id",
                 F.unix_timestamp("ts").alias("ep")))
    zpath = str(tmp_path / "z")
    write_zordered(e, zpath, "user_id", "ep", n_files=8)

    def mean_span_frac(path, col):
        df = spark.read.parquet(path).withColumn(
            "__f", F.input_file_name())
        dom = df.agg((F.max(col) - F.min(col)).alias("d")).collect()[0]["d"]
        spans = (df.groupBy("__f")
                   .agg((F.max(col) - F.min(col)).alias("s")).collect())
        return sum(r["s"] for r in spans) / (len(spans) * dom)

    # 1-D contrast layout: range-partition by user_id only
    lpath = str(tmp_path / "lin")
    (e.repartitionByRange(8, "user_id").sortWithinPartitions("user_id")
      .write.parquet(lpath))

    z_user, z_ep = mean_span_frac(zpath, "user_id"), mean_span_frac(zpath, "ep")
    l_ep = mean_span_frac(lpath, "ep")
    # z-order: both dims localized; 1-D layout: the other dim un-localized
    assert z_user < 0.8, z_user
    assert z_ep < 0.8, z_ep
    assert l_ep > 0.9, l_ep
    # and the z files are strictly better-localized in time than linear's
    assert z_ep < l_ep


# ---------------------------------------------------------------------------
# merge upsert, BM25, redaction, unigram LM
# ---------------------------------------------------------------------------

def test_merge_upsert_three_branches(spark):
    """UPDATE overwrites matched keys, DELETE removes them, INSERT adds
    unmatched 'U' rows; untouched base rows pass through unchanged."""
    from big_data_bowl_spark.operators.merge import merge_upsert
    base = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)], "k int, s string, v double")
    changes = spark.createDataFrame(
        [(2, "B", 20.0, "U"),   # update
         (3, None, 0.0, "D"),   # delete
         (4, "d", 4.0, "U"),    # insert
         (5, None, 0.0, "D")],  # delete of a missing key = no-op
        "k int, s string, v double, op string")
    out = {r["k"]: (r["s"], r["v"])
           for r in merge_upsert(base, changes, keys=["k"]).collect()}
    assert out == {1: ("a", 1.0), 2: ("B", 20.0), 4: ("d", 4.0)}


def test_merge_upsert_broadcasts_nothing_big(spark):
    """The merge is a key-partitioned join (sort-merge or shuffled hash),
    never a nested loop — the shape that scales to a bucketed base."""
    from big_data_bowl_spark.operators.merge import merge_upsert
    from big_data_bowl_spark.plans import executed_plan
    e = read_table(spark, SF_SMALL, "events").select("event_id", "value")
    ch = e.limit(10).withColumn("op", F.lit("U"))
    plan = executed_plan(merge_upsert(e, ch, keys=["event_id"]))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "FullOuter" in plan or "full_outer" in plan.lower(), plan


def test_bm25_orders_by_relevance(spark):
    """A doc that repeats a rare query term outranks one with a single
    common-term hit, and non-matching docs don't appear."""
    from big_data_bowl_spark.pipeline.ranking import bm25_rank
    rows = [(0, "rare rare rare pad pad"),
            (1, "common pad pad pad pad"),
            (2, "pad pad pad pad pad")]
    # make 'common' common: it also appears in 8 filler docs
    rows += [(10 + i, "common filler text here now") for i in range(8)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = bm25_rank(docs, ["rare", "common"], topk=10).collect()
    ids = [r["doc_id"] for r in out]
    assert 2 not in ids
    assert ids[0] == 0, out
    assert out[0]["score"] > 0


def test_redact_pii_counts_and_text(spark):
    from big_data_bowl_spark.pipeline.text import redact_pii
    docs = spark.createDataFrame(
        [(0, "mail a.b+c@x.co and 12345678 and 123"),
         (1, "clean text only")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in redact_pii(docs).collect()}
    assert out[0]["n_emails"] == 1 and out[0]["n_longnums"] == 1
    assert out[0]["redacted"] == "mail <EMAIL> and <NUM> and 123"
    assert out[1]["n_emails"] == 0 and out[1]["redacted"] == "clean text only"


def test_unigram_scores_rank_typicality(spark):
    """Docs made of frequent tokens score higher (closer to 0) than docs
    of rare tokens."""
    from big_data_bowl_spark.pipeline.ranking import unigram_scores
    rows = [(i, "the the the the") for i in range(9)]
    rows.append((100, "zyzzyva qwyjibo"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["avg_logp"] for r in unigram_scores(docs).collect()}
    assert out[0] > out[100]


def test_scd2_collapses_runs_and_intervals(spark):
    from big_data_bowl_spark.operators.scd import scd2_history
    import datetime as dt
    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)
    rows = [(1, t(0), "a"), (1, t(1), "a"), (1, t(2), "b"), (1, t(3), "a"),
            (2, t(0), "x")]
    ch = spark.createDataFrame(rows, "k int, ts timestamp, attr string")
    out = sorted(
        ((r["k"], r["attr"], r["valid_from"].second,
          None if r["valid_to"] is None else r["valid_to"].second,
          r["is_current"])
         for r in scd2_history(ch, ["k"], "ts", ["attr"]).collect()))
    assert out == [(1, "a", 0, 2, False), (1, "a", 3, None, True),
                   (1, "b", 2, 3, False), (2, "x", 0, None, True)]


def test_funnel_requires_strict_order(spark):
    """A purchase BEFORE the first click does not count; a later one
    does.  Entities with no first step sit at stage 0."""
    from big_data_bowl_spark.operators.scd import funnel_stages
    import datetime as dt
    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)
    rows = [
        # u1: full ordered funnel
        (1, t(0), "view"), (1, t(1), "click"), (1, t(2), "purchase"),
        # u2: purchase precedes click -> stage 2 only
        (2, t(0), "view"), (2, t(1), "purchase"), (2, t(2), "click"),
        # u3: never views -> stage 0
        (3, t(0), "click"), (3, t(1), "purchase"),
    ]
    e = spark.createDataFrame(rows, "u int, ts timestamp, et string")
    out = {r["u"]: r["stage"] for r in funnel_stages(
        e, "u", "ts", "et", ["view", "click", "purchase"]).collect()}
    assert out == {1: 3, 2: 2, 3: 0}


def test_rank_distributed_equals_window_rank(spark):
    """The range-partitioned three-phase rank must reproduce the
    single-window competition rank exactly, including ties, and its
    plan must carry the deterministic bucket id (__pid) with every
    window partitioned by it — never a single-task global window."""
    from big_data_bowl_spark.operators.windows import (
        rank_desc, rank_desc_distributed)
    from big_data_bowl_spark.plans import executed_plan
    rows = [(i, float(v)) for i, v in enumerate(
        [5, 3, 3, 9, 1, 9, 9, 2, 8, 8, 7, 0, 4, 4, 4, 6])]
    df = spark.createDataFrame(rows, "id int, score double")
    a = {(r["id"], r["rank"]) for r in rank_desc(df, "score").collect()}
    b = {(r["id"], r["rank"])
         for r in rank_desc_distributed(df, "score", partitions=4).collect()}
    assert a == b
    plan = executed_plan(rank_desc_distributed(df, "score", partitions=4))
    assert "__pid" in plan, plan
    for line in plan.splitlines():
        if "Window [" in line:
            assert "__pid" in line, line


def test_equidepth_bins_balanced_and_tie_stable(spark):
    """Deciles of a uniform column are ~balanced, bins are 1..10, and
    EQUAL values always share a bin (no ntile-style depth splitting)."""
    from big_data_bowl_spark.operators.aggregates import equidepth_bins
    e = read_table(spark, SF_SMALL, "events")
    out = equidepth_bins(e, "value", n_bins=10, keep=("event_id",))
    rows = out.collect()
    n = len(rows)
    sizes = {}
    for r in rows:
        assert 1 <= r["bin"] <= 10
        sizes[r["bin"]] = sizes.get(r["bin"], 0) + 1
    assert len(sizes) == 10
    assert max(sizes.values()) < n * 0.2  # no bin hoards >2x its share
    by_val = {}
    for r in rows:
        by_val.setdefault(r["value"], set()).add(r["bin"])
    assert all(len(s) == 1 for s in by_val.values())


def test_weighted_sample_prefers_heavy_rows(spark):
    """Inclusion probability tracks the weight: rows with 100x weight
    dominate a small sample; the sample is deterministic."""
    from big_data_bowl_spark.pipeline.sampling import weighted_sample
    rows = [(i, 1000.0 if i < 20 else 10.0) for i in range(200)]
    df = spark.createDataFrame(rows, "id long, w double")
    s1 = {r["id"] for r in weighted_sample(df, "id", "w", k=10).collect()}
    s2 = {r["id"] for r in weighted_sample(df, "id", "w", k=10).collect()}
    assert s1 == s2
    heavy = sum(1 for i in s1 if i < 20)
    assert heavy >= 6, (heavy, s1)


def test_cooccurrence_guard_trips_on_degenerate_group(spark):
    from big_data_bowl_spark.operators.aggregates import cooccurrence_pairs
    rows = [(1, f"item{i}") for i in range(30)] + [(2, "a"), (2, "b")]
    df = spark.createDataFrame(rows, "g int, item string")
    ok = cooccurrence_pairs(df, "g", "item").count()
    assert ok == 30 * 29 // 2 + 1
    try:
        cooccurrence_pairs(df, "g", "item", max_items_per_group=10).count()
        raised = False
    except Exception:
        raised = True
    assert raised


def test_transition_matrix_rows_sum_to_one(spark):
    from big_data_bowl_spark.operators.aggregates import transition_matrix
    e = read_table(spark, SF_SMALL, "events")
    tm = transition_matrix(e, "user_id", "event_type", ["ts", "event_id"])
    rows = tm.collect()
    by_prev = {}
    for r in rows:
        by_prev.setdefault(r["prev_state"], 0.0)
        by_prev[r["prev_state"]] += r["p"]
    assert all(abs(v - 1.0) < 1e-4 for v in by_prev.values()), by_prev


def test_hll_union_equals_whole_and_close_to_exact(spark):
    """Incremental sketch contract: per-day sketches unioned to the
    event_type grain give the SAME estimate as one whole-table sketch
    (register-max merge is partition-insensitive), and estimates sit
    within 3% of exact distinct counts."""
    from big_data_bowl_spark.operators.sketches import (
        hll_rollup_estimate, hll_sketches)
    e = (read_table(spark, SF_SMALL, "events")
         .withColumn("day", F.to_date("ts")))
    daily = hll_sketches(e, ["event_type", "day"], "user_id")
    merged = {r["event_type"]: r["approx_distinct"]
              for r in hll_rollup_estimate(daily, ["event_type"]).collect()}
    whole = {r["event_type"]: r["approx_distinct"]
             for r in hll_rollup_estimate(
                 hll_sketches(e, ["event_type"], "user_id"),
                 ["event_type"]).collect()}
    assert merged == whole
    exact = {r["event_type"]: r["n"]
             for r in e.groupBy("event_type")
                       .agg(F.countDistinct("user_id").alias("n")).collect()}
    for et, est in merged.items():
        assert abs(est - exact[et]) / exact[et] < 0.03, (et, est, exact[et])


def test_ahash_near_dup_pairs_equal_bruteforce(spark):
    """Media near-dup pairing ≡ brute force: over originals + exact
    copies + tail-perturbed variants, the banded join returns EXACTLY
    the pairs with Hamming ≤ 3 (pigeonhole recall is 1.0 when
    max_hamming < bands, and the bit_count filter kills band-collision
    false positives).  Exact copies guarantee the expectation is
    non-vacuous."""
    from big_data_bowl_spark.pipeline.multimodal import (
        ahash_near_dup_pairs, attach_binary_payload, perceptual_ahash)
    d = (read_table(spark, SF_SMALL, "documents")
         .select("doc_id", "text").limit(40))
    media = attach_binary_payload(
        d.select("doc_id", "text")
         .union(d.select(F.col("doc_id") + 100000,
                         F.concat("text", F.lit(" zz"))))
         .union(d.select(F.col("doc_id") + 200000, "text")),
        "doc_id", "text")
    hashes = perceptual_ahash(media)
    hv = {r["media_id"]: r["ahash"] for r in hashes.collect()}
    ids = sorted(hv)
    expected = {(a, b, bin((hv[a] ^ hv[b]) & ((1 << 64) - 1)).count("1"))
                for i, a in enumerate(ids) for b in ids[i + 1:]
                if bin((hv[a] ^ hv[b]) & ((1 << 64) - 1)).count("1") <= 3}
    got = {(r["media_a"], r["media_b"], r["hamming"])
           for r in ahash_near_dup_pairs(hashes).collect()}
    assert expected, "planted exact copies must produce pairs"
    assert got == expected, (len(got), len(expected),
                             got ^ expected)


def test_minhash_audience_merge_and_accuracy(spark):
    """Audience-signature contracts on groups with GENUINELY different
    member sets (the events table's types all share one user set, which
    would make every assertion vacuous — r6 review finding): batch-
    split signatures min-merge to the whole signatures, and
    slot-agreement Jaccard tracks the exact set Jaccard within the
    32-slot binomial error (±0.27 at 3σ), including a known
    zero-overlap pair and a known 1/3-overlap pair."""
    from pyspark.sql import Row

    from big_data_bowl_spark.pipeline.dedup import (
        minhash_audience_signatures, minhash_audience_similarity)
    members = {"A": range(0, 100), "B": range(50, 150),
               "C": range(300, 400)}
    df = spark.createDataFrame(
        [Row(g=g, key=k, part=k % 3)
         for g, ks in members.items() for k in ks])
    whole = minhash_audience_signatures(df, ["g"], "key")
    split = minhash_audience_signatures(df, ["g", "part"], "key")
    merged = split.drop("part").groupBy("g").agg(
        *[F.min(f"s{i}").alias(f"s{i}") for i in range(32)])
    rows = lambda d: sorted(map(tuple, d.collect()))
    assert rows(merged) == rows(whole)

    est = {(r["a"], r["b"]): r["est_jaccard"] for r in
           minhash_audience_similarity(whole, "g").collect()}
    sets = {g: set(ks) for g, ks in members.items()}
    assert set(est) == {("A", "B"), ("A", "C"), ("B", "C")}
    for (a, b), v in est.items():
        exact = len(sets[a] & sets[b]) / len(sets[a] | sets[b])
        assert abs(v - exact) <= 0.27, (a, b, v, exact)
    # the disjoint pairs must estimate (near) zero, the overlapping
    # pair must estimate clearly above them
    assert est[("A", "C")] <= 0.1 and est[("B", "C")] <= 0.1, est
    assert est[("A", "B")] > est[("A", "C")], est


def test_hll_overlap_tracks_exact_intersections(spark):
    """Inclusion–exclusion on the neutral-HLL registers: every pair's
    estimated intersection stays within 35% relative error of the exact
    overlap (three ±6.5%-error terms compound — this pins the composed
    estimator, not just the single-set one)."""
    from big_data_bowl_spark.queries import QUERIES
    est = {(r["type_a"], r["type_b"]): r["est_intersection"]
           for r in QUERIES["q_hll_overlap"](spark, SF_SMALL).collect()}
    e = read_table(spark, SF_SMALL, "events")
    users = {t: {r["user_id"] for r in
                 e.filter(F.col("event_type") == t)
                  .select("user_id").distinct().collect()}
             for t in {r["event_type"] for r in
                       e.select("event_type").distinct().collect()}}
    assert est
    for (a, b), v in est.items():
        exact = len(users[a] & users[b])
        assert abs(v - exact) <= max(0.35 * exact, 10), (a, b, v, exact)


def test_bloom_state_merge_and_no_false_negatives(spark):
    """Bloom ingest-gate contracts: day-grain bit tables OR-merged equal
    the one-shot whole-history table (bit_or is associative +
    idempotent), and the gate NEVER flags a seen key as new — every
    event whose user appears in history reads maybe_seen=true; rows
    flagged new are genuinely new (the same guarantee, contrapositive)."""
    from big_data_bowl_spark.operators.sketches import (
        bloom_neutral_merge, bloom_neutral_state, with_bloom_maybe_seen)
    e = (read_table(spark, SF_SMALL, "events")
         .withColumn("day", F.to_date("ts")))
    last = e.agg(F.max("day").alias("__last"))
    e2 = e.crossJoin(F.broadcast(last))
    hist = e2.filter(F.col("day") < F.col("__last"))
    batch = e2.filter(F.col("day") == F.col("__last"))

    daily = bloom_neutral_state(hist, ["day"], "user_id")
    merged = bloom_neutral_merge(daily.drop("day"), [])
    whole = bloom_neutral_state(hist, [], "user_id")
    rows = lambda df: sorted(map(tuple, df.select("word", "bits")
                                 .collect()))
    assert rows(merged) == rows(whole)

    seen_users = {r["user_id"] for r in
                  hist.select("user_id").distinct().collect()}
    flagged = with_bloom_maybe_seen(batch, merged, "user_id") \
        .select("user_id", "maybe_seen").collect()
    assert flagged
    for r in flagged:
        if r["user_id"] in seen_users:
            assert r["maybe_seen"], r
        if not r["maybe_seen"]:
            assert r["user_id"] not in seen_users, r


def test_sketch_state_guards_fail_loud(spark):
    """The mergeable states refuse silent contract violations: merging
    quantile states to a LARGER k than they were built with (a biased
    sample) and gating against a Bloom state built with different
    geometry (broken no-false-negative guarantee) both raise instead of
    degrading."""
    import pytest

    from big_data_bowl_spark.operators.sketches import (
        bloom_neutral_state, quantile_sketch_merge, quantile_sketch_state,
        with_bloom_maybe_seen)
    e = read_table(spark, SF_SMALL, "events") \
        .select("event_id", "event_type", "value", "user_id").limit(200)
    st = quantile_sketch_state(e, ["event_type"], "value", "event_id",
                               k=16)
    with pytest.raises(ValueError, match="exceeds the build k"):
        quantile_sketch_merge(st, ["event_type"], "value", "event_id",
                              k=32)
    # smaller k is a valid re-sketch
    assert quantile_sketch_merge(st, ["event_type"], "value",
                                 "event_id", k=8).count() > 0

    bstate = bloom_neutral_state(e, [], "user_id", m_words=512)
    with pytest.raises(ValueError, match="geometry"):
        with_bloom_maybe_seen(e, bstate, "user_id", m_words=256)

    from big_data_bowl_spark.operators.sketches import (
        cms_build, with_cms_estimate)
    sketch = cms_build(e, "event_type", w=1024)
    with pytest.raises(ValueError, match="bucket space"):
        with_cms_estimate(e, sketch, "event_type", w=2048)

    # partially-specified geometry validates the GIVEN half instead of
    # spuriously raising on the unspecified one
    from big_data_bowl_spark.operators.sketches import (
        _bloom_check_params, _cms_check_params)
    _cms_check_params(sketch, "t", w=1024, d=None)
    _cms_check_params(sketch, "t", w=None, d=4)
    with pytest.raises(ValueError, match="bucket space"):
        _cms_check_params(sketch, "t", w=None, d=5)
    _bloom_check_params(bstate, "t", m_words=512, k=None)
    with pytest.raises(ValueError, match="geometry"):
        _bloom_check_params(bstate, "t", m_words=None, k=99)


def test_quantile_sketch_merge_equals_whole(spark):
    """Mergeable-state contract of the bottom-k quantile sketch: per-day
    states min-k-merged to the event_type grain are ROW-IDENTICAL to one
    whole-table state (min-k by a fixed hash is associative), and the
    merge is insensitive to input partitioning."""
    from big_data_bowl_spark.operators.sketches import (
        quantile_sketch_merge, quantile_sketch_state)
    e = (read_table(spark, SF_SMALL, "events")
         .withColumn("day", F.to_date("ts")))
    daily = quantile_sketch_state(e, ["event_type", "day"], "value",
                                  "event_id", k=64)
    merged = quantile_sketch_merge(daily.drop("day"), ["event_type"],
                                   "value", "event_id", k=64)
    whole = quantile_sketch_state(e.drop("day"), ["event_type"], "value",
                                  "event_id", k=64)
    key = lambda df: sorted(map(tuple, df.select(
        "event_type", "event_id", "qs_hash", "value").collect()))
    assert key(merged) == key(whole)
    assert key(quantile_sketch_state(
        e.drop("day").repartition(7), ["event_type"], "value",
        "event_id", k=64)) == key(whole)
    # idempotence under OVERLAP: a replayed state (unioned with itself)
    # must not shrink the effective sample via duplicate keys
    replayed = quantile_sketch_merge(
        daily.drop("day").unionByName(daily.drop("day")),
        ["event_type"], "value", "event_id", k=64)
    assert key(replayed) == key(whole)


def test_quantile_sketch_estimate_contract(spark):
    """Estimates are EXACT when the group fits in k, and the sampled
    median's true rank stays near 0.5 when it doesn't (uniform-sample
    rank error ~ O(1/sqrt(k)))."""
    from big_data_bowl_spark.operators.sketches import (
        quantile_sketch_estimate, quantile_sketch_state)
    e = read_table(spark, SF_SMALL, "events")
    big_k = quantile_sketch_state(e, ["event_type"], "value",
                                  "event_id", k=10 ** 9)
    est = {r["event_type"]: r["p50"] for r in quantile_sketch_estimate(
        big_k, ["event_type"], "value", {"p50": 0.5}).collect()}
    exact = {r["event_type"]: r["p50"] for r in
             e.groupBy("event_type").agg(
                 F.round(F.percentile("value", F.lit(0.5)), 6)
                  .alias("p50")).collect()}
    assert est == exact
    sampled = quantile_sketch_estimate(
        quantile_sketch_state(e, ["event_type"], "value", "event_id",
                              k=64),
        ["event_type"], "value", {"p50": 0.5})
    ranks = (e.join(sampled.select("event_type", "p50"), "event_type")
              .groupBy("event_type")
              .agg(F.avg((F.col("value") <= F.col("p50"))
                         .cast("double")).alias("rank")).collect())
    for r in ranks:
        assert abs(r["rank"] - 0.5) < 0.2, (r["event_type"], r["rank"])


def test_merge_upsert_idempotent(spark):
    """Re-applying the same changes feed is a no-op: MERGE semantics are
    deterministic on (key, op), so replayed CDC batches cannot corrupt
    the snapshot."""
    from big_data_bowl_spark.operators.merge import merge_upsert
    base = spark.createDataFrame(
        [(1, 1.0), (2, 2.0), (3, 3.0)], "k int, v double")
    changes = spark.createDataFrame(
        [(2, 20.0, "U"), (3, 0.0, "D"), (4, 4.0, "U")],
        "k int, v double, op string")
    once = merge_upsert(base, changes, keys=["k"])
    twice = merge_upsert(once, changes, keys=["k"])
    assert sorted(map(tuple, once.collect())) == \
           sorted(map(tuple, twice.collect()))


def test_resample_ffill_grid_and_carry(spark):
    """Grid points align to step multiples, values carry forward between
    observations, and pre-first-event points are null."""
    from big_data_bowl_spark.operators.asof import resample_ffill
    import datetime as dt
    t = lambda m: dt.datetime(2024, 1, 1, 0, m, 30)
    rows = [(1, t(5), 10.0), (1, t(25), 20.0)]
    df = spark.createDataFrame(rows, "u int, ts timestamp, v double")
    out = {r["grid_ep"]: r["v_asof"] for r in
           resample_ffill(df, ["u"], "ts", ["v"], 600).collect()}
    base = int(dt.datetime(2024, 1, 1).timestamp())
    # grid: 00:00, 00:10, 00:20 (events at 00:05:30 and 00:25:30)
    assert out == {base: None, base + 600: 10.0, base + 1200: 10.0}


def test_jaccard_prefix_equals_bruteforce(spark):
    """The prefix filter must lose NO qualifying pair: results equal the
    naive all-pairs join on a corpus with rare and common tokens."""
    from big_data_bowl_spark.pipeline.dedup import jaccard_prefix_pairs
    rows = [
        (0, "common1 common2 common3 rare0"),
        (1, "common1 common2 common3 rare0"),          # dup of 0
        (2, "common1 common2 common3 rare2"),          # 3/5 vs 0
        (3, "rare3a rare3b rare3c rare3d"),            # disjoint
        (4, "common1 common2 common3 rare0 extra4"),   # 4/5 vs 0
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r["doc_a"], r["doc_b"]): r["jaccard"]
           for r in jaccard_prefix_pairs(docs, threshold=0.6).collect()}
    # brute force in python
    toks = {i: set(t.split()) for i, t in rows}
    want = {}
    for a in range(5):
        for b in range(a + 1, 5):
            j = len(toks[a] & toks[b]) / len(toks[a] | toks[b])
            if round(j, 6) >= 0.6:
                want[(a, b)] = round(j, 6)
    assert got == want, (got, want)
    # this corpus has 9 distinct tokens, so the default took the r11
    # bitmask set-grain path — force the classic array path and pin
    # bit-identical output (prefix + LENGTH filter, verified arrays)
    legacy = {(r["doc_a"], r["doc_b"]): r["jaccard"]
              for r in jaccard_prefix_pairs(docs, threshold=0.6,
                                            small_vocab_bits=0).collect()}
    assert legacy == want, (legacy, want)


def test_jaccard_smallvocab_path_equals_array_path(spark):
    """r11 bitmask fast path ≡ classic array path, bit for bit, on a
    randomized 40-token corpus with planted exact duplicates (the
    same-mask shortcut), near-misses at the τ boundary, and length
    outliers the new LENGTH filter prunes — across two thresholds."""
    import random

    from big_data_bowl_spark.pipeline.dedup import jaccard_prefix_pairs

    rng = random.Random(17)
    vocab = [f"t{i}" for i in range(40)]
    rows = []
    for i in range(120):
        n = rng.randint(3, 25)
        rows.append((i, " ".join(rng.sample(vocab, n))))
    rows.append((200, rows[5][1]))     # exact dup -> same mask
    rows.append((201, rows[5][1]))     # triple
    rows.append((202, " ".join(vocab)))  # the full-vocab outlier
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    for tau in (0.5, 0.8):
        fast = sorted(map(tuple, jaccard_prefix_pairs(
            docs, threshold=tau).collect()))
        slow = sorted(map(tuple, jaccard_prefix_pairs(
            docs, threshold=tau, small_vocab_bits=0).collect()))
        assert fast == slow and fast, (tau, len(fast), len(slow))
    # the planted duplicates pair at J = 1.0 in both worlds
    pairs = {(a, b) for a, b, _ in fast}
    assert {(5, 200), (5, 201), (200, 201)} <= pairs


def test_negative_samples_never_hit_positives(spark):
    from big_data_bowl_spark.pipeline.sampling import negative_samples
    pos = spark.createDataFrame(
        [(u, i) for u in range(5) for i in range(u + 1)],
        "user_id long, item long")
    out = negative_samples(pos, "user_id", "item", n_items=7, k=3)
    rows = out.collect()
    assert rows
    pos_set = {(r["user_id"], r["item"]) for r in pos.collect()}
    for r in rows:
        assert (r["user_id"], r["neg_item"]) not in pos_set
        assert 0 <= r["neg_item"] < 7
    # deterministic across invocations
    again = sorted(map(tuple, negative_samples(
        pos, "user_id", "item", n_items=7, k=3).collect()))
    assert again == sorted(map(tuple, rows))


def test_temperature_mixture_flattens_distribution(spark):
    """T=2 mixing: a source with 16x the documents gets only ~4x the
    sampled rows (sqrt flattening), and the total lands near target."""
    from big_data_bowl_spark.pipeline.sampling import temperature_mixture
    rows = [(i, "big") for i in range(1600)] + \
           [(10_000 + i, "small") for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = temperature_mixture(df, "source", "doc_id", target_rows=200)
    by_src = {r["source"]: r["n"] for r in
              out.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    total = sum(by_src.values())
    assert 140 <= total <= 260, by_src
    ratio = by_src["big"] / by_src["small"]
    assert 2.0 <= ratio <= 8.0, by_src  # raw ratio would be 16


def test_sampling_ops_partition_invariant(spark):
    """The reproducibility contract: weighted sampling, temperature
    mixing, and negative sampling return IDENTICAL rows regardless of
    how the input happens to be partitioned (no rand(), no
    partition-id dependence)."""
    from big_data_bowl_spark.pipeline.sampling import (
        negative_samples, temperature_mixture, weighted_sample)
    d = read_table(spark, SF_SMALL, "documents")
    for layout in (lambda x: x.repartition(13),
                   lambda x: x.coalesce(1)):
        a = sorted(map(tuple, weighted_sample(
            d, "doc_id", "n_chars", k=20).select("doc_id").collect()))
        b = sorted(map(tuple, weighted_sample(
            layout(d), "doc_id", "n_chars", k=20)
            .select("doc_id").collect()))
        assert a == b
        t1 = sorted(map(tuple, temperature_mixture(
            d, "source", "doc_id", 50).select("doc_id").collect()))
        t2 = sorted(map(tuple, temperature_mixture(
            layout(d), "source", "doc_id", 50).select("doc_id").collect()))
        assert t1 == t2
    pos = d.select("doc_id", (F.col("n_chars") % 7).alias("item"))
    n1 = sorted(map(tuple, negative_samples(
        pos, "doc_id", "item", n_items=7, k=2).collect()))
    n2 = sorted(map(tuple, negative_samples(
        pos.repartition(11), "doc_id", "item", n_items=7, k=2).collect()))
    assert n1 == n2


def test_pagerank_mass_and_star_shape(spark):
    """Rank mass stays ~n_nodes (dangling redistribution), the hub of a
    star graph outranks leaves, and equal-role nodes get equal ranks."""
    from big_data_bowl_spark.operators.graph import pagerank
    edges = spark.createDataFrame(
        [(f"leaf{i}", "hub") for i in range(5)], "src string, dst string")
    out = {r["node"]: r["rank"] for r in pagerank(edges, iters=15).collect()}
    assert abs(sum(out.values()) - 6) < 1e-6
    assert out["hub"] > out["leaf0"]
    leaf_ranks = {v for k, v in out.items() if k.startswith("leaf")}
    assert len(leaf_ranks) == 1


def test_bipartite_edges_bounded_and_symmetric(spark):
    from big_data_bowl_spark.operators.graph import bipartite_edges
    df = spark.createDataFrame(
        [(1, "x"), (2, "x"), (3, "x"), (1, "y"), (4, "y")],
        "e int, i string")
    edges = {(r["src"], r["dst"]) for r in bipartite_edges(df, "e", "i").collect()}
    assert (1, 2) in edges and (2, 1) in edges and (1, 4) in edges
    assert (2, 4) not in edges  # no shared item


def test_hash_bucket_int64_safe_on_huge_keys(spark):
    """Keys ≥ ~3.47e9 overflowed int64 under the old mod-2^32 reduction
    (Spark wrapped; DuckDB promoted to HUGEINT — silent cross-engine
    divergence).  The mod-2^31 reduction is int64-exact: Spark and DuckDB
    must agree on every bucket, including the worst case 2^31−1."""
    import duckdb

    from big_data_bowl_spark.pipeline.sampling import hash_bucket

    keys = [0, 1, 3_474_000_000, (1 << 31) - 1, (1 << 32) - 1,
            (1 << 62) + 12345, 9_223_372_036_854_775_807]
    df = spark.createDataFrame([(k,) for k in keys], "k long")
    got = {r["k"]: r["b"] for r in
           df.select("k", hash_bucket("k").alias("b")).collect()}
    con = duckdb.connect()
    for k in keys:
        want = con.execute(
            f"SELECT ({k} % 2147483648) * 2654435761 % 4294967296"
            " / 4294967296.0").fetchone()[0]
        assert got[k] == want, (k, got[k], want)


def test_ivm_merge_schedule_invariant(spark):
    """State merging is associative and commutative: flat merge, tree
    merge, and the one-shot aggregate all finalize identically — the
    property that makes daily deltas, hierarchical reduces, and
    out-of-order backfills interchangeable."""
    from big_data_bowl_spark.operators.ivm import (
        agg_state,
        finalize_state,
        merge_states,
    )
    e = read_table(spark, SF_SMALL, "events")
    keys = ["event_type"]
    parts = [e.filter(F.col("event_id") % 3 == i) for i in range(3)]
    states = [agg_state(p, keys, "value") for p in parts]

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    flat = rows(finalize_state(merge_states(states, keys), keys))
    tree = rows(finalize_state(
        merge_states([merge_states(states[:2], keys), states[2]], keys),
        keys))
    rev = rows(finalize_state(merge_states(states[::-1], keys), keys))
    oneshot = rows(finalize_state(agg_state(e, keys, "value"), keys))
    assert flat == tree == rev == oneshot


def test_cdc_boundaries_stable_under_insertion(spark):
    """The reason CDC exists: inserting one token early in a document
    must leave every downstream chunk IDENTICAL (boundaries are functions
    of local content only), while fixed-size chunking shifts every
    subsequent window.  Measured on the same perturbation."""
    from big_data_bowl_spark.pipeline.text import (
        cdc_chunk_documents,
        chunk_documents,
    )
    words = ["alpha", "bravo", "charlie", "delta", "echo", "foxtrot",
             "golf", "hotel", "india", "juliet", "kilo", "lima", "mike"]
    # distinct tokens -> every window is unique, so cut density matches
    # the 1/divisor expectation instead of collapsing to a periodic
    # handful of window hashes
    toks = [f"{words[(i * 7 + i * i) % 13]}{i}" for i in range(80)]
    base = " ".join(toks)
    edited = " ".join(toks[:3] + ["zulu"] + toks[3:])
    df = spark.createDataFrame(
        [(1, base), (2, edited)], "doc_id long, text string")

    def chunks(out, doc):
        return [r.chunk_text for r in sorted(
            out.filter(F.col("doc_id") == doc).collect(),
            key=lambda r: r.chunk_id)]

    cdc = cdc_chunk_documents(df, window=4, divisor=16)
    c0, c1 = chunks(cdc, 1), chunks(cdc, 2)
    suffix = 0
    while (suffix < min(len(c0), len(c1))
           and c0[-1 - suffix] == c1[-1 - suffix]):
        suffix += 1
    assert len(c0) >= 3, (len(c0), c0)
    assert suffix >= len(c0) - 2, (suffix, c0, c1)

    fixed = chunk_documents(df, chunk_size=16)
    f0, f1 = chunks(fixed, 1), chunks(fixed, 2)
    fsuffix = 0
    while (fsuffix < min(len(f0), len(f1))
           and f0[-1 - fsuffix] == f1[-1 - fsuffix]):
        fsuffix += 1
    assert fsuffix <= 1, (fsuffix, f0, f1)


def test_diff_opcodes_pinned(spark):
    """The UDTF's opcode rows are exactly difflib's token opcodes, and
    the summary reproduces the difflib ratio."""
    from big_data_bowl_spark.pipeline.diffing import (
        diff_opcodes,
        diff_summary,
    )
    pairs = spark.createDataFrame(
        [(1, 2, "the quick brown fox jumps", "the quick red fox leaps far"),
         (3, 4, "same text here", "same text here")],
        "doc_a long, doc_b long, text_a string, text_b string")

    ops = sorted(
        (r.a_start, r.op, r.a_span, r.b_span)
        for r in diff_opcodes(pairs)
            .filter(F.col("doc_a") == 1).collect())
    # difflib: equal[the quick] replace[brown->red] equal[fox]
    #          replace[jumps->leaps far]
    assert ops == [(0, "equal", 2, 2), (2, "replace", 1, 1),
                   (3, "equal", 1, 1), (4, "replace", 1, 2)], ops

    s = {(r.doc_a): r for r in diff_summary(pairs).collect()}
    assert s[3].similarity == 1.0 and s[3].n_ops == 1
    assert s[3].tokens_equal == 3 and s[3].tokens_inserted == 0
    r1 = s[1]
    assert r1.len_a == 5 and r1.len_b == 6
    assert r1.tokens_equal == 3
    # difflib ratio: 2*3/(5+6)
    assert abs(r1.similarity - round(6 / 11, 6)) < 1e-9


def test_hll_neutral_error_within_bound(spark):
    """The neutral HLL's estimate stays inside 3 standard errors
    (3·1.04/√256 ≈ 19.5%) of the exact distinct count — the bound the
    Flajolet estimator promises; a broken bit-mix (e.g. using the raw
    multiplicative hash, whose low bit IS the key's low bit) blows this
    by an order of magnitude."""
    from big_data_bowl_spark.operators.sketches import hll_neutral
    e = read_table(spark, SF_SMALL, "events")
    for r in hll_neutral(e, ["event_type"], "user_id").collect():
        rel = abs(r.hll_estimate - r.n_exact) / r.n_exact
        assert rel <= 0.195, (r.event_type, r.n_exact, r.hll_estimate)


def test_ivf_neutral_full_probe_equals_brute_force(spark):
    """The engine-neutral IVF (label-centroid quantizer) must also reduce
    to exact brute force when every cell is probed — the prune-only
    contract holds regardless of quantizer choice."""
    from big_data_bowl_spark.pipeline.similarity import ivf_neutral_topk

    em = read_table(spark, SF_SMALL, "embeddings")
    n_labels = em.select("label").distinct().count()
    exact = sorted(tuple(r) for r in
                   cosine_topk(em, [0, 1, 2], k=3).collect())
    full = sorted(tuple(r) for r in
                  ivf_neutral_topk(em, [0, 1, 2], k=3,
                                   nprobe=n_labels).collect())
    assert full == exact


def test_lsh_neutral_contained_in_exact(spark):
    """Neutral-LSH results: per-query ≤ k rows, no self-match, and every
    returned cosine is a real pair cosine from the exact table (the
    bucket only prunes candidates, never invents or rescores them)."""
    from big_data_bowl_spark.pipeline.similarity import lsh_neutral_topk

    em = read_table(spark, SF_SMALL, "embeddings")
    exact = {(r.query_id, r.neighbor_id): r.cosine
             for r in cosine_topk(em, [0, 1, 2],
                                  k=10**6).collect()}
    per_q: dict[int, int] = {}
    for r in lsh_neutral_topk(em, [0, 1, 2], k=3).collect():
        per_q[r.query_id] = per_q.get(r.query_id, 0) + 1
        assert r.neighbor_id != r.query_id
        assert exact[(r.query_id, r.neighbor_id)] == r.cosine
    assert all(n <= 3 for n in per_q.values())


def test_funnel_hot_key_fails_loud(spark):
    """A planted hot key past max_group must raise at execution — the
    in-row history fold is only safe because groups are bounded, and the
    guard rides the live n_events column so Catalyst cannot prune it."""
    import pytest
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from big_data_bowl_spark.operators.scd import funnel_stages

    rows = [("bot", f"2024-01-01 00:00:{i:02d}", "view") for i in range(25)]
    df = (spark.createDataFrame(rows, "u string, ts string, s string")
          .withColumn("ts", F.to_timestamp("ts")))
    with pytest.raises(SparkRuntimeException, match="hot key bot"):
        funnel_stages(df, "u", "ts", "s", ["view", "click"],
                      max_group=10).collect()
    # under the bound the same frame folds fine
    ok = funnel_stages(df, "u", "ts", "s", ["view", "click"],
                       max_group=100).collect()
    assert ok[0]["n_events"] == 25


def test_bpe_top_k_words_cap(spark):
    """The driver collect is bounded by top_k_words (count desc, word asc):
    capped training learns merges from the kept head only, so a web-scale
    hapax tail can never blow the driver."""
    from big_data_bowl_spark.pipeline.bpe import bpe_learn_merges

    docs = spark.createDataFrame(
        [(0, "xy xy xy zq")], "doc_id long, text string")
    capped = bpe_learn_merges(docs, n_merges=4, top_k_words=1).collect()
    full = bpe_learn_merges(docs, n_merges=4).collect()
    assert [(r.left, r.right) for r in capped] == [("x", "y")]
    assert [(r.left, r.right) for r in full] == [("x", "y"), ("z", "q")]


def test_pca_power_finds_planted_direction(spark):
    """Power-iteration PCA (the hash-verified M4 path) must recover a
    planted dominant direction: vectors = t·u + small noise → pc1 is
    (up to sign) the projection onto u."""
    import numpy as np

    from big_data_bowl_spark.ml.clustering import pca_power_2d

    rng = np.random.default_rng(3)
    u = np.array([3.0, 1.0, -2.0, 0.5, 1.5, -1.0])
    u /= np.linalg.norm(u)
    t = rng.standard_normal(120) * 2.0
    x = np.outer(t, u) + 0.05 * rng.standard_normal((120, 6))
    df = spark.createDataFrame(
        [(int(i), [float(v) for v in x[i]]) for i in range(120)],
        "vec_id long, embedding array<double>")
    out = pca_power_2d(df, n_dims=6, iters=50).collect()
    pc1 = np.array([r.pc1 for r in sorted(out, key=lambda r: r.vec_id)])
    proj = x @ u
    cos = abs(np.corrcoef(pc1, proj)[0, 1])
    assert cos > 0.999, cos


def test_pca_power_variance_order_and_orthogonality(spark):
    """pc1 captures at least as much variance as pc2, and the two are
    (near-)uncorrelated — the deflation contract, independent of
    spectrum degeneracy."""
    import numpy as np

    from big_data_bowl_spark.ml.clustering import pca_power_2d

    em = read_table(spark, SF_SMALL, "embeddings")
    out = pca_power_2d(em, n_dims=6, iters=50).collect()
    p1 = np.array([r.pc1 for r in out])
    p2 = np.array([r.pc2 for r in out])
    assert p1.var() >= p2.var()
    assert abs(np.corrcoef(p1, p2)[0, 1]) < 0.05


def test_hll_neutral_registers_merge_equals_direct(spark):
    """Neutral-register incremental contract: building register state at
    (event_type, day) grain and max-merging to event_type must equal the
    direct event_type-grain estimate bit-for-bit — max is associative
    across any partitioning of history."""
    from pyspark.sql import functions as F

    from big_data_bowl_spark.operators.sketches import (
        hll_neutral_registers,
        hll_neutral_rollup,
    )

    e = read_table(spark, SF_SMALL, "events").withColumn(
        "day", F.to_date("ts"))
    daily = hll_neutral_registers(e, ["event_type", "day"], "user_id")
    merged = hll_neutral_rollup(daily, ["event_type"])
    direct = hll_neutral_rollup(
        hll_neutral_registers(e, ["event_type"], "user_id"),
        ["event_type"])
    assert sorted(map(tuple, merged.collect())) == \
        sorted(map(tuple, direct.collect()))


def test_ivfpq_neutral_full_probe_equals_neutral_pq(spark):
    """IVF-PQ (label cells + wang-hash PQ init) reduces to the flat
    PQ ADC when every cell is probed — the cell restriction only
    prunes."""
    from pyspark.sql import functions as F

    from big_data_bowl_spark.pipeline.similarity import (
        ivfpq_topk,
        pq_codebooks,
        pq_encode,
        pq_topk_adc,
    )

    em = read_table(spark, SF_SMALL, "embeddings")
    n_labels = em.select("label").distinct().count()
    books = pq_codebooks(em, m=8, k=16, iters=1)
    codes = pq_encode(em, books, m=8)
    queries = em.filter(F.col("vec_id").isin([0, 1, 2]))
    flat = sorted(tuple(r) for r in
                  pq_topk_adc(codes, books, queries, k=3, m=8).collect())
    full = sorted(tuple(r) for r in
                  ivfpq_topk(em, [0, 1, 2], k=3, nprobe=n_labels,
                             m=8, pq_k=16, iters=1).collect())
    assert full == flat


def test_simhash_pairs_pigeonhole_completeness(spark):
    """Band recall guarantee: with 4 bands over 60 bits, two fingerprints
    within Hamming distance 3 must agree on at least one full band, so
    every such pair MUST surface — verified against brute-force Hamming
    over the fingerprint table, plus threshold soundness (no returned
    pair exceeds max_hamming)."""
    from big_data_bowl_spark.pipeline.dedup import (
        simhash_neutral,
        simhash_neutral_pairs,
    )

    base = " ".join(f"tok{i}" for i in range(40))
    docs = spark.createDataFrame(
        [(0, base),
         (1, base),                                   # ham 0
         (2, base.replace("tok7", "tok7x")),          # tiny perturbation
         (3, base.replace("tok7", "zzz").replace("tok21", "qqq")),
         (4, " ".join(f"other{i}" for i in range(40)))],
        "doc_id long, text string")
    fps = {r.doc_id: r.simhash
           for r in simhash_neutral(docs).collect()}
    pairs = simhash_neutral_pairs(docs, max_hamming=3)
    got = {(r.doc_a, r.doc_b): r.hamming for r in pairs.collect()}
    # the result composes with set operators (Spark 4.1 fails exceptAll
    # over a first()-aggregate pair dedup of this join)
    assert pairs.exceptAll(pairs).isEmpty()
    want_complete = {
        (a, b) for a in fps for b in fps if a < b
        and bin(fps[a] ^ fps[b]).count("1") <= 3}
    assert want_complete <= set(got), (want_complete, got)
    assert all(h <= 3 for h in got.values())
    assert got[(0, 1)] == 0


def test_cumsum_distributed_equals_window(spark):
    """The range-partitioned prefix sum must reproduce the global
    cumulative window exactly — including negative addends and multiple
    sum columns — and its plan must carry the deterministic bucket id
    (__pid) with every full-data window partitioned by it."""
    from pyspark.sql import Window

    from big_data_bowl_spark.operators.windows import cumsum_distributed
    from big_data_bowl_spark.plans import executed_plan
    rows = [(k, (k * 7) % 13 - 6, (k * 3) % 5) for k in range(57)]
    df = spark.createDataFrame(rows, "k long, a long, b long")
    out = cumsum_distributed(df, ["k"], ["a", "b"], partitions=5)
    w = (Window.orderBy("k")
               .rowsBetween(Window.unboundedPreceding, 0))
    want = {(r["k"], r["ca"], r["cb"]) for r in df.select(
        "k", F.sum("a").over(w).alias("ca"),
        F.sum("b").over(w).alias("cb")).collect()}
    got = {(r["k"], r["cum_a"], r["cum_b"]) for r in out.collect()}
    assert got == want
    plan = executed_plan(out)
    assert "__pid" in plan, plan
    for line in plan.splitlines():
        if "Window [" in line:
            assert "__pid" in line, line


def test_duplicated_spans_flags_planted_span(spark):
    """Span-level dedup contract: an 8-token span planted in two docs
    marks exactly the positions whose rolling gram lies inside the
    shared span; a 7-token overlap marks nothing; docs shorter than the
    gram emit no rows."""
    from big_data_bowl_spark.pipeline.dedup import duplicated_spans
    span = " ".join(f"s{i}" for i in range(8))
    docs = spark.createDataFrame(
        [(0, "a b c " + span + " x y"),
         (1, "p q " + span + " r"),
         (2, "a b c d e f g"),               # 7 tokens: no gram
         (3, " ".join(f"s{i}" for i in range(7)) + " zz ww vv uu")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in duplicated_spans(docs, n=8).collect()}
    assert 2 not in out                       # too short for one gram
    # doc 0: 13 tokens -> 6 grams, only the exact span gram duplicated
    assert (out[0]["n_grams"], out[0]["n_dup_grams"]) == (6, 1)
    assert (out[1]["n_grams"], out[1]["n_dup_grams"]) == (4, 1)
    assert out[3]["n_dup_grams"] == 0         # 7-token overlap: no match
    assert abs(out[0]["dup_fraction"] - 1 / 6) < 1e-12


def test_semantic_dedup_matches_brute_force_within_cells(spark):
    """SemDeDup contract: the returned pairs EQUAL the brute-force
    same-cell pairs above threshold (no all-pairs leakage: cross-cell
    near-identical vectors must NOT pair), keep_id < drop_id."""
    import numpy as np

    from big_data_bowl_spark.pipeline.similarity import (
        label_centroids, semantic_dedup_pairs)
    rng = np.random.default_rng(5)
    base = {0: rng.normal(0, 1, 8) + 10, 1: rng.normal(0, 1, 8) - 10}
    rows = []
    for i in range(20):
        lab = i % 2
        rows.append((i, [float(v) for v in
                         base[lab] + rng.normal(0, 0.3, 8)], lab))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    got = {(r["keep_id"], r["drop_id"])
           for r in semantic_dedup_pairs(df, threshold=0.99).collect()}
    # brute force with the same assignment (labels are well-separated,
    # so nearest-centroid == label here)
    vecs = {i: np.array(v) for i, v, _ in rows}
    want = set()
    for a in range(20):
        for b in range(a + 1, 20):
            if a % 2 != b % 2:
                continue
            cos = float(vecs[a] @ vecs[b]
                        / (np.linalg.norm(vecs[a]) * np.linalg.norm(vecs[b])))
            if round(cos, 6) >= 0.99:
                want.add((a, b))
    assert got == want and got, (got, want)
    assert all(a < b for a, b in got)


def test_semantic_dedup_auto_k_subdivision(spark):
    """r11 density-adaptive quantizer (VERDICT item 4): (1) when every
    cell is at or under target_occupancy the auto-k path is IDENTICAL
    to the single-level label quantizer (T=None); (2) under forced
    subdivision (tiny T) exact-duplicate vectors still pair (same
    nearest seed by construction) while pair volume is capped — the
    dense same-cell cloud stops going all-pairs; (3) bad T raises."""
    import numpy as np
    import pytest as _pt

    from big_data_bowl_spark.pipeline.similarity import (
        semantic_dedup_pairs)

    rng = np.random.default_rng(9)
    base = {0: rng.normal(0, 1, 8) + 10, 1: rng.normal(0, 1, 8) - 10}
    rows = []
    for i in range(40):
        lab = i % 2
        v = base[lab] + rng.normal(0, 0.3, 8)
        rows.append((i, [float(x) for x in v], lab))
    # plant an exact duplicate pair inside label 0 (ids 100, 102)
    dup = [float(x) for x in base[0] + rng.normal(0, 0.1, 8)]
    rows += [(100, dup, 0), (102, dup, 0)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int")

    # (1) T >= any cell population ≡ single-level
    single = {(r["keep_id"], r["drop_id"], r["cosine"])
              for r in semantic_dedup_pairs(
                  df, threshold=0.99, target_occupancy=None).collect()}
    wide = {(r["keep_id"], r["drop_id"], r["cosine"])
            for r in semantic_dedup_pairs(
                df, threshold=0.99, target_occupancy=1000.0).collect()}
    assert wide == single and single

    # (2) forced subdivision: subset of single-level pairs, exact dup
    # survives, and the candidate cap binds (strictly fewer pairs at
    # threshold 0 than all-pairs within cells)
    deep = {(r["keep_id"], r["drop_id"])
            for r in semantic_dedup_pairs(
                df, threshold=0.99, target_occupancy=4.0).collect()}
    assert deep <= {(a, b) for a, b, _ in single}
    assert (100, 102) in deep
    all_single = semantic_dedup_pairs(
        df, threshold=-1.0, target_occupancy=None).count()
    all_deep = semantic_dedup_pairs(
        df, threshold=-1.0, target_occupancy=4.0).count()
    assert all_deep < all_single

    # (3) validation
    with _pt.raises(ValueError, match="target_occupancy"):
        semantic_dedup_pairs(df, target_occupancy=0.0)


def test_rrf_fuse_hand_computed(spark):
    """RRF arithmetic pinned by hand: score = sum over lists of
    1/(k+rank); ids absent from a list contribute nothing from it."""
    from big_data_bowl_spark.pipeline.ranking import rrf_fuse
    r1 = spark.createDataFrame([(10, 1), (20, 2)], "id long, rank long")
    r2 = spark.createDataFrame([(20, 1), (30, 2)], "id long, rank long")
    out = {r["id"]: r for r in
           rrf_fuse([("a", r1), ("b", r2)], "id", k=60).collect()}
    assert out[20]["rrf"] == 1 / 62 + 1 / 61      # both lists
    assert out[10]["rrf"] == 1 / 61               # list a only
    assert out[30]["rrf"] == 1 / 62               # list b only
    assert out[20]["rank_a"] == 2 and out[20]["rank_b"] == 1
    assert out[10]["rank_b"] is None


def test_bigram_scores_hand_computed(spark):
    """Interpolated bigram LM pinned by hand on a 2-doc corpus."""
    import math

    from big_data_bowl_spark.pipeline.ranking import bigram_scores
    docs = spark.createDataFrame(
        [(0, "a b a b"), (1, "a b c")], "doc_id long, text string")
    out = {r["doc_id"]: r for r in bigram_scores(docs, lam=0.75).collect()}
    # corpus: tokens a,b,a,b,a,b,c -> uni a:3 b:3 c:1 total 7
    # bigrams: (a,b)x3 (b,a)x1 (b,c)x1; ptot a->:3, b->:2
    def lp(bc, pt, uc):
        v = 0.75 * (bc / pt) + 0.25 * (uc / 7)
        return round(math.log(v) * 1_000_000)
    d0 = (lp(3, 3, 3) + lp(1, 2, 3) + lp(3, 3, 3)) // 1  # ab, ba, ab
    assert out[0]["n_bigrams"] == 3
    assert out[0]["avg_logp"] == round(d0 / 3 / 1e6, 6)
    d1 = lp(3, 3, 3) + lp(1, 2, 1)                        # ab, bc
    assert out[1]["n_bigrams"] == 2
    assert out[1]["avg_logp"] == round(d1 / 2 / 1e6, 6)


def test_load_kaggle_layout(spark, tmp_path):
    """The Kaggle-download loader variant: weekly input_*/output_* CSVs
    read through one glob each (no pre-combine step — the scan IS the
    concat), supplementary read directly, fail-loud on missing pieces
    (the reference's FileNotFoundError contract)."""
    import pytest
    from pyspark.sql.types import (LongType, StringType, StructField,
                                   StructType)

    from big_data_bowl_spark.sources.io import load_kaggle_layout
    train = tmp_path / "train"
    train.mkdir()
    for w in (1, 2):
        (train / f"input_2023_w0{w}.csv").write_text(
            f"game_id,play_id\n{w},10\n{w},11\n")
        (train / f"output_2023_w0{w}.csv").write_text(
            f"game_id,x\n{w},5\n")
    supp = tmp_path / "supplementary_data.csv"
    supp.write_text("game_id,pass_result\n1,C\n2,I\n")
    sch2 = StructType([StructField("game_id", LongType()),
                       StructField("play_id", LongType())])
    scho = StructType([StructField("game_id", LongType()),
                       StructField("x", LongType())])
    schs = StructType([StructField("game_id", LongType()),
                       StructField("pass_result", StringType())])
    di, do, ds = load_kaggle_layout(spark, str(tmp_path), str(supp),
                                    sch2, scho, schs)
    assert di.count() == 4 and do.count() == 2 and ds.count() == 2
    assert {r.game_id for r in di.collect()} == {1, 2}
    with pytest.raises(FileNotFoundError, match="supplementary"):
        load_kaggle_layout(spark, str(tmp_path),
                           str(tmp_path / "nope.csv"), sch2, scho, schs)
    empty = tmp_path / "empty"
    (empty / "train").mkdir(parents=True)
    s2 = empty / "supp.csv"
    s2.write_text("game_id,pass_result\n")
    with pytest.raises(FileNotFoundError, match="weekly input"):
        load_kaggle_layout(spark, str(empty), str(s2), sch2, scho, schs)


def test_pack_documents_invariants(spark):
    """Packing contract: offsets are a gapless 0-based laying-out in id
    order, bins cover [offset, offset+n) with ctx_len granularity, a
    doc spans exactly the bins its token range touches, empty docs
    vanish, and the plan carries the deterministic-bucket cumsum
    (__pid-partitioned windows, never a single-reducer one)."""
    import pytest

    from big_data_bowl_spark.pipeline.sampling import pack_documents
    from big_data_bowl_spark.plans import executed_plan
    docs = spark.createDataFrame(
        [(0, "a b c"), (1, ""), (2, " ".join(["t"] * 10)),
         (3, "x"), (4, " ".join(["u"] * 7))],
        "doc_id long, text string")
    out = pack_documents(docs, ctx_len=8)
    rows = {r["doc_id"]: r for r in out.collect()}
    assert 1 not in rows                       # empty doc occupies no span
    # id order: 0(3) 2(10) 3(1) 4(7) -> offsets 0,3,13,14
    assert [rows[i]["start_offset"] for i in (0, 2, 3, 4)] == [0, 3, 13, 14]
    assert rows[2]["first_bin"] == 0 and rows[2]["last_bin"] == 1
    assert rows[2]["n_bins_spanned"] == 2      # tokens 3..12 straddle 8
    assert rows[3]["first_bin"] == rows[3]["last_bin"] == 1
    assert rows[4]["first_bin"] == 1 and rows[4]["last_bin"] == 2
    plan = executed_plan(out)
    assert "__pid" in plan, plan
    with pytest.raises(ValueError, match="ctx_len"):
        pack_documents(docs, ctx_len=0)


def test_materialize_bins_layout(spark):
    """Bin materialization contract: every bin holds exactly ctx_len
    tokens except the final partial one; first/last tokens follow the
    global stream order; document counts reflect boundary straddles."""
    from big_data_bowl_spark.pipeline.sampling import materialize_bins
    docs = spark.createDataFrame(
        [(0, "a0 a1 a2"), (1, "b0 b1 b2 b3 b4 b5 b6 b7 b8 b9"),
         (2, "c0")],
        "doc_id long, text string")
    rows = {r["bin_id"]: r for r in
            materialize_bins(docs, ctx_len=8).collect()}
    # stream: a0..a2 b0..b9 c0 (14 tokens) -> bins of 8: [0..7], [8..13]
    assert rows[0]["n_tokens"] == 8 and rows[1]["n_tokens"] == 6
    assert rows[0]["first_token"] == "a0" and rows[0]["last_token"] == "b4"
    assert rows[1]["first_token"] == "b5" and rows[1]["last_token"] == "c0"
    assert rows[0]["n_docs"] == 2 and rows[1]["n_docs"] == 2


def test_stage_parquet_bloom_writes_filters(spark, tmp_path):
    """Bloom staging contract: the bloom-enabled layout reads back
    identically (filters are skip hints, never semantics) and its files
    actually CARRY the filters — the with-bloom file is measurably
    larger than the plain one (the filter bytes; pyarrow 16 can't
    introspect bloom offsets, so size is the observable)."""
    import glob
    import os

    from big_data_bowl_spark.sources.io import (read_table,
                                                stage_parquet_bloom)
    ev = read_table(spark, SF_SMALL, "events") \
        .select("event_id", "user_id", "value")
    plain, bloomed = str(tmp_path / "plain"), str(tmp_path / "bloom")
    # baseline with the same (dictionary-free) encoding so the size
    # delta isolates the bloom bytes
    (ev.coalesce(1).write.mode("overwrite")
       .option("parquet.enable.dictionary#user_id", "false")
       .parquet(plain))
    stage_parquet_bloom(ev.coalesce(1), bloomed, ["user_id"],
                        expected_ndv=10_000)
    size = lambda d: sum(os.path.getsize(f)  # noqa: E731
                         for f in glob.glob(d + "/*.parquet"))
    assert size(bloomed) > size(plain) + 4_000, (size(bloomed), size(plain))
    got = spark.read.parquet(bloomed).filter("user_id = 7").count()
    want = ev.filter("user_id = 7").count()
    assert got == want and want > 0


def test_metric_correlations_match_numpy(spark):
    """The exact-integer Pearson matrix equals numpy's corrcoef on the
    same quantized observations (tolerance 1e-6: numpy's float64
    two-pass carries ~1e-9 accumulation error — OUR side is the exact
    one; the driver hash is the bit-level gate)."""
    import numpy as np

    from big_data_bowl_spark.queries import QUERIES

    out = {(r["metric_a"], r["metric_b"]): r["r"]
           for r in QUERIES["q_metric_correlations"](
               spark, SF_SMALL).collect()}
    import duckdb
    con = duckdb.connect()
    rows = con.execute(f"""
        SELECT CAST(round(value*100) AS BIGINT),
               CAST(floor((CASE WHEN (value*7) % 50 < 0
                                THEN (value*7) % 50 + 50
                                ELSE (value*7) % 50 END) * 1e6) AS BIGINT),
               CAST(floor((value - (CASE WHEN (value*7) % 50 < 0
                                         THEN (value*7) % 50 + 50
                                         ELSE (value*7) % 50 END)) * 1e6)
                    AS BIGINT)
        FROM read_parquet('{SF_SMALL}/events.parquet')
        WHERE value IS NOT NULL""").fetchall()
    a = np.array(rows, dtype=np.float64)
    c = np.corrcoef(a.T)
    assert abs(out[("exec", "conv")] - c[0, 1]) < 1e-6
    assert abs(out[("exec", "resid")] - c[0, 2]) < 1e-6
    assert abs(out[("conv", "resid")] - c[1, 2]) < 1e-6


def test_cumsum_distributed_stable_at_scale(spark):
    """Regression for the r7 prefix-sum corruption: with thousands of
    distinct double keys over several range partitions, the offsets
    pass and the output join MUST see the same partition boundaries
    (the pinned checkpoint makes them one fact — without it,
    repartitionByRange's per-execution sampling corrupted 5715 of 6583
    cumulative rows at sf0.01, caught by the AUC oracle)."""
    from big_data_bowl_spark.operators.windows import cumsum_distributed
    df = (spark.range(7001)
          .selectExpr("cast(pmod(id * 2654435761, 100003) as double) "
                      "/ 7 AS k",
                      "id % 5 AS v")
          .distinct())
    out = {(r["k"], r["cum_v"])
           for r in cumsum_distributed(df, ["k"], ["v"],
                                       partitions=8).collect()}
    rows = sorted((r["k"], r["v"]) for r in df.collect())
    run, want = 0, set()
    for k, v in rows:
        run += v
        want.add((k, run))
    assert out == want


def test_pack_documents_rejects_duplicate_ids(spark):
    """Duplicate doc ids violate the cumsum ordering contract and would
    double-place tokens — the in-plan guard fails loud instead."""
    import pytest

    from big_data_bowl_spark.pipeline.sampling import pack_documents
    docs = spark.createDataFrame(
        [(0, "a b"), (0, "c d"), (1, "e")], "doc_id long, text string")
    with pytest.raises(Exception, match="duplicate"):
        pack_documents(docs, ctx_len=4).collect()


def test_cumsum_distributed_string_key_fallback(spark):
    """Non-numeric ordering keys take the pinned-range fallback (no
    approxQuantile for strings) and still produce exact prefix sums."""
    from pyspark.sql import Window

    from big_data_bowl_spark.operators.windows import cumsum_distributed
    rows = [(f"k{i:03d}", i % 7) for i in range(40)]
    df = spark.createDataFrame(rows, "k string, v long")
    got = {(r["k"], r["cum_v"]) for r in
           cumsum_distributed(df, ["k"], ["v"], partitions=4).collect()}
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
    want = {(r["k"], r["c"]) for r in
            df.select("k", F.sum("v").over(w).alias("c")).collect()}
    assert got == want


def test_span_dedup_incremental_matches_batch_semantics(spark):
    """Incremental contract: gating a batch against a history gram
    index flags exactly the batch positions whose gram exists in
    history — verified against a brute-force Python gramming, and the
    index composes (per-batch indexes sum-merge to the whole)."""
    from big_data_bowl_spark.pipeline.dedup import (
        duplicated_spans_incremental, gram_index)
    span = " ".join(f"h{i}" for i in range(8))
    hist = spark.createDataFrame(
        [(0, "x y " + span), (1, "p q r s t u v w")],
        "doc_id long, text string")
    batch = spark.createDataFrame(
        [(10, span + " z z z"),              # 1 contaminated gram of 4
         (11, "a b c d e f g h"),            # clean
         (12, "p q r s t u v w")],           # fully in history
        "doc_id long, text string")
    idx = gram_index(hist, n=8)
    out = {r["doc_id"]: r for r in
           duplicated_spans_incremental(batch, idx, n=8).collect()}
    assert (out[10]["n_grams"], out[10]["n_index_grams"]) == (4, 1)
    assert out[11]["n_index_grams"] == 0
    assert (out[12]["n_grams"], out[12]["n_index_grams"]) == (1, 1)
    # index merge: per-half indexes sum to the whole (count monoid)
    h0 = gram_index(hist.filter("doc_id = 0"), n=8)
    h1 = gram_index(hist.filter("doc_id = 1"), n=8)
    merged = (h0.unionByName(h1).groupBy("gram")
                .agg(F.sum("n_docs").alias("n_docs")))
    whole = {(r["gram"], r["n_docs"]) for r in idx.collect()}
    assert {(r["gram"], r["n_docs"]) for r in merged.collect()} == whole


def test_tfidf_topk_matches_brute_force(spark):
    """tfidf_topk equals a Python brute-force computation on a tiny
    corpus, including the (score DESC, term ASC) tie-break."""
    import math
    from big_data_bowl_spark.pipeline.ranking import tfidf_topk
    docs = [(0, "cat cat dog fish"), (1, "dog dog dog bird"),
            (2, "cat bird bird fish fish fish"), (3, "zeta zeta alpha")]
    want = {}
    n = len(docs)
    df_counts: dict[str, int] = {}
    tfs = []
    for did, text in docs:
        tf: dict[str, int] = {}
        for t in text.split():
            tf[t] = tf.get(t, 0) + 1
        tfs.append((did, tf))
        for t in tf:
            df_counts[t] = df_counts.get(t, 0) + 1
    for did, tf in tfs:
        scored = sorted(
            ((t, c, c * (math.log((1 + n) / (1 + df_counts[t])) + 1))
             for t, c in tf.items()),
            key=lambda x: (-x[2], x[0]))[:3]
        for rnk, (t, c, s) in enumerate(scored, 1):
            want[(did, rnk)] = (t, c, round(s, 6))
    sdf = spark.createDataFrame(docs, "doc_id long, text string")
    got = {(r.doc_id, r.rnk): (r.term, r.tf, r.score)
           for r in tfidf_topk(sdf, k=3).collect()}
    assert got == want


def test_poisson_bootstrap_matches_python_hash_draws(spark):
    """Replicate aggregates equal a Python recomputation of the wang
    chain + Poisson(1) inverse-CDF draws, and are invariant to input
    partitioning (hash-deterministic, not rand()-based)."""
    from big_data_bowl_spark.pipeline.sampling import (
        poisson_bootstrap, POISSON1_CDF)

    def wang(x):
        h = ((x % (1 << 31)) * 2654435761) % (1 << 32)
        for _ in range(2):
            h = ((h ^ (h >> 16)) * 0x45D9F3B) % (1 << 32)
        return h ^ (h >> 16)

    rows = [(k, (k * 37) % 1000 - 200) for k in range(200)]
    reps = 8
    want = {}
    for rep in range(reps):
        n_eff = su = 0
        for k, v in rows:
            u = wang((k % (1 << 31)) * reps + rep) / float(1 << 32)
            w = sum(1 for c in POISSON1_CDF if c < u)
            n_eff += w
            su += w * v
        want[rep] = (n_eff, su)
    df = spark.createDataFrame(rows, "k long, units long")
    for parts in (1, 7):
        got = {r.rep: (r.n_eff, r.sum_units)
               for r in poisson_bootstrap(df.repartition(parts),
                                          "units", "k", reps=reps).collect()}
        assert got == want


def test_hilbert_reference_is_bijective_and_adjacent():
    """The Python Hilbert reference is a bijection onto [0, n²) whose
    consecutive indices are grid-adjacent — the defining locality
    property the layout key exists for (Morton/Z-order violates
    adjacency at power-of-two boundaries)."""
    from big_data_bowl_spark.sources.layout import hilbert_xy2d_py
    bits = 4
    n = 1 << bits
    seen = {}
    for x in range(n):
        for y in range(n):
            d = hilbert_xy2d_py(bits, x, y)
            assert 0 <= d < n * n and d not in seen
            seen[d] = (x, y)
    for d in range(n * n - 1):
        (x0, y0), (x1, y1) = seen[d], seen[d + 1]
        assert abs(x0 - x1) + abs(y0 - y1) == 1


def test_with_hilbert_matches_python_reference(spark):
    """The vectorized rounds equal the Python reference on in-range
    coordinates (normalize=False isolates the rounds); a null coordinate
    gives a null value."""
    from big_data_bowl_spark.sources.layout import (
        hilbert_xy2d_py, with_hilbert)
    pts = [(i, (i * 37) % 256, (i * 101 + 13) % 256) for i in range(300)]
    nulls = [(300, None, 5), (301, 7, None), (302, None, None)]
    df = spark.createDataFrame(pts + nulls, "i long, x long, y long")
    got = {r.i: r.hval
           for r in with_hilbert(df, "x", "y", bits=8,
                                 normalize=False).collect()}
    want = {i: hilbert_xy2d_py(8, x, y) for i, x, y in pts}
    want.update({i: None for i, _, _ in nulls})
    assert got == want


def test_dup_ngram_features_hand_computed(spark):
    """Gopher n-gram repetition rules on hand-computable docs: a fully
    repetitive doc, a fully distinct doc, and a doc SHORTER than n
    (must be kept with zero grams, not dropped)."""
    from big_data_bowl_spark.pipeline.text import dup_ngram_features

    docs = spark.createDataFrame(
        [(1, "a b a b a b"),      # bigrams: ab x3, ba x2 -> all 5 dup
         (2, "p q r s"),          # bigrams: pq qr rs -> none dup
         (3, "solo")],            # 1 token -> zero bigrams
        ["doc_id", "text"])
    got = {r["doc_id"]: r.asDict()
           for r in dup_ngram_features(docs, n=2).collect()}
    assert got[1]["n_grams"] == 5
    assert got[1]["n_distinct_grams"] == 2
    assert got[1]["dup_gram_occurrences"] == 5
    assert got[1]["dup_gram_fraction"] == 1.0
    assert got[1]["top_gram_count"] == 3
    assert got[1]["top_gram_share"] == 0.6
    assert got[2]["n_grams"] == 3
    assert got[2]["dup_gram_occurrences"] == 0
    assert got[2]["dup_gram_fraction"] == 0.0
    assert got[3]["n_grams"] == 0
    assert got[3]["dup_gram_fraction"] == 0.0
    # trigrams of doc 1: aba x2, bab x2 -> 4 occurrences, all dup
    got3 = {r["doc_id"]: r.asDict()
            for r in dup_ngram_features(docs, n=3).collect()}
    assert got3[1]["n_grams"] == 4
    assert got3[1]["dup_gram_occurrences"] == 4
    assert got3[2]["dup_gram_occurrences"] == 0
    assert got3[3]["n_grams"] == 0


def test_kcenter_coreset_hand_computed_and_invariants(spark):
    """Greedy k-center on a hand-computable 1-D layout: seed is the
    lowest id; each pick is the farthest-from-chosen point; the radius
    column is non-increasing (the Gonzalez coverage guarantee)."""
    from big_data_bowl_spark.pipeline.similarity import kcenter_coreset

    # points on a line: 0.0, 1.0, 10.0, 10.5, 20.0 (ids 1..5)
    rows = [(1, [0.0, 0.0]), (2, [1.0, 0.0]), (3, [10.0, 0.0]),
            (4, [10.5, 0.0]), (5, [20.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {r["sel_order"]: r for r in kcenter_coreset(df, k=4).collect()}
    assert got[1]["vec_id"] == 1 and got[1]["radius"] is None  # seed: min id
    assert got[2]["vec_id"] == 5          # farthest from 0 is 20 (d2=400)
    assert got[2]["radius"] == 400.0
    assert got[3]["vec_id"] == 3          # min(d2 to {0,20}) max: 10 -> 100
    assert got[3]["radius"] == 100.0
    # remaining: id2 min-d2=1; id4 min( 0.25, 90.25 )=0.25 -> pick id2
    assert got[4]["vec_id"] == 2 and got[4]["radius"] == 1.0
    radii = [got[i]["radius"] for i in (2, 3, 4)]
    assert radii == sorted(radii, reverse=True)


def test_kcenter_coreset_k_exceeding_points_stops_clean(spark):
    from big_data_bowl_spark.pipeline.similarity import kcenter_coreset

    df = spark.createDataFrame([(7, [1.0]), (9, [2.0])],
                               "vec_id long, embedding array<double>")
    out = kcenter_coreset(df, k=5).collect()
    assert [r["vec_id"] for r in out] == [7, 9]  # stops at the point count


def test_kcenter_coreset_empty_input_raises(spark):
    """An input with no point raises at construction, as the seed job
    used to: the greedy driver's first round finds nothing to pick."""
    from big_data_bowl_spark.pipeline.similarity import kcenter_coreset

    df = spark.createDataFrame([], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="kcenter_coreset: empty input"):
        kcenter_coreset(df, k=3)


def test_jl_projection_preserves_pairwise_distances(spark):
    """JL guarantee, empirically: project 40 random 64-d vectors to 16
    dims and check the pairwise squared-distance RATIO stays within a
    loose band (sparse ±1 signs at d_out=16 give ε ≈ 0.75-ish tails;
    the band asserts the hash signs behave like a real JL matrix — a
    broken/constant sign pattern collapses distances and fails this).
    Also pins determinism: two runs produce identical values."""
    import numpy as np

    from big_data_bowl_spark.pipeline.similarity import jl_project

    rng = np.random.default_rng(7)
    vecs = rng.standard_normal((40, 64))
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(40)],
        "vec_id long, embedding array<double>")
    out = jl_project(df, d_out=16).collect()
    proj = np.zeros((40, 16))
    for r in out:
        proj[r["vec_id"], r["dim"]] = r["value"]
    ratios = []
    for a in range(0, 40, 3):
        for b in range(a + 1, 40, 7):
            d_in = float(np.sum((vecs[a] - vecs[b]) ** 2))
            d_out_ = float(np.sum((proj[a] - proj[b]) ** 2))
            ratios.append(d_out_ / d_in)
    ratios = np.asarray(ratios)
    assert 0.8 < float(np.median(ratios)) < 1.25, float(np.median(ratios))
    # tails at d_out=16 are chi-square-heavy (measured max 4.18 at this
    # seed); the band only guards against collapse/blow-up, the median
    # above is the real JL signal
    assert float(ratios.min()) > 0.1 and float(ratios.max()) < 8.0, \
        (ratios.min(), ratios.max())
    again = jl_project(df, d_out=16).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_grid_nearest_refined_equals_single_level(spark):
    """The two-level density refinement must be EXACT: refine=8 equals
    the plain single-level (refine=1) result row-for-row on clustered
    points (dense clumps resolve at the fine level, sparse stragglers
    escalate — both paths exercised)."""
    import numpy as np

    from big_data_bowl_spark.operators.separation import grid_nearest

    rng = np.random.default_rng(11)
    # three dense clumps + sparse background, some isolated beyond radius
    pts = np.concatenate([
        rng.normal(0.0, 0.02, (60, 2)),
        rng.normal(1.0, 0.02, (60, 2)),
        rng.normal([0.0, 1.0], 0.02, (60, 2)),
        rng.uniform(-2, 3, (60, 2)),
    ])
    df = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(pts)],
        "id long, x double, y double")
    fast = grid_nearest(df, radius=0.15, refine=8).collect()
    slow = grid_nearest(df, radius=0.15, refine=1).collect()
    assert sorted(map(tuple, fast)) == sorted(map(tuple, slow))
    assert len(fast) > 100  # the clumps actually produced neighbors


def test_grid_nearest_adaptive_ladder_on_stacked_duplicates(spark):
    """The density-adaptive ladder (r10) must stay EXACT on the stress
    artifact's worst shape: exact stacked duplicates (2-D projections of
    per-replica sign flips collide) plus isolated points that must
    escalate all the way to the radius backstop.  Dense data drives the
    adaptive w0 far below radius, so this exercises a multi-rung ladder;
    the tiny-occupancy variant forces the deepest one."""
    import numpy as np

    from big_data_bowl_spark.operators.separation import grid_nearest

    rng = np.random.default_rng(23)
    base = rng.normal(0.0, 0.05, (80, 2))
    pts = np.concatenate([base, base, base,          # 3x exact stacking
                          rng.uniform(2.0, 2.4, (6, 2))])  # sparse tail
    df = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(pts)],
        "id long, x double, y double")
    slow = sorted(map(tuple, grid_nearest(df, 0.5, refine=1).collect()))
    fast = grid_nearest(df, 0.5).collect()
    assert sorted(map(tuple, fast)) == slow
    deep = grid_nearest(df, 0.5, target_occupancy=2.0).collect()
    assert sorted(map(tuple, deep)) == slow
    assert len(fast) >= 240  # every stacked point found its dup at d=0


def test_ladder_rejects_bad_occupancy_and_caps_depth(spark):
    """r11 guards (ADVICE): target_occupancy <= 0 must raise (not spin
    the driver in `while w < radius/2: w *= 8`), and a near-coincident
    cloud — tiny nonzero bbox under many points, which sizes w0 near
    zero — must produce a BOUNDED ladder (each rung is a full re-grid +
    checkpoint job) while staying exact."""
    import numpy as np
    import pytest as _pt

    from big_data_bowl_spark.operators.separation import (
        _MAX_RUNGS, _ladder_widths, grid_nearest)

    rng = np.random.default_rng(7)
    # 400 points inside a 1e-9-wide box, radius 1.0: w0 underflows far
    # below radius/8**_MAX_RUNGS without the floor
    pts = rng.uniform(0.0, 1e-9, (400, 2))
    df = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(pts)],
        "id long, x double, y double")
    p = df.selectExpr("id as __id", "x as __x", "y as __y")
    for bad in (0.0, -1.0, float("nan")):
        with _pt.raises(ValueError, match="target_occupancy"):
            _ladder_widths(p, radius=1.0, refine=8, target_occupancy=bad)
    widths = _ladder_widths(p, radius=1.0, refine=8, target_occupancy=32.0)
    assert widths is not None and len(widths) <= _MAX_RUNGS
    assert all(w > 0.0 for w in widths)
    # and the full operator still matches the single-level form
    slow = sorted(map(tuple, grid_nearest(df, 1.0, refine=1).collect()))
    fast = sorted(map(tuple, grid_nearest(df, 1.0).collect()))
    assert fast == slow and len(fast) == 400


def test_grid_knn_ladder_equals_single_level_and_python_twin(spark):
    """grid_knn (k=3) must be EXACT at every ladder depth: adaptive and
    deep-ladder results equal the single-level result row-for-row, and
    all equal an independent Python brute force — including partial
    rows (points with fewer than k true neighbors within the radius,
    which must escalate to the backstop and emit what exists) and
    rank/tie-break order."""
    import numpy as np

    from big_data_bowl_spark.operators.separation import grid_knn

    rng = np.random.default_rng(31)
    pts = np.concatenate([
        rng.normal(0.0, 0.04, (50, 2)),        # dense clump
        rng.normal(1.0, 0.04, (50, 2)),        # second clump
        np.array([[3.0, 3.0], [3.05, 3.0]]),   # isolated pair: 1 nb each
        np.array([[5.0, 5.0]]),                # loner: zero rows
    ])
    rows = [(i, float(x), float(y)) for i, (x, y) in enumerate(pts)]
    df = spark.createDataFrame(rows, "id long, x double, y double")

    def brute(radius, k):
        out = []
        for i, (xi, yi) in enumerate(pts):
            cands = sorted(
                (round(float((xi - xj) ** 2 + (yi - yj) ** 2), 12), j)
                for j, (xj, yj) in enumerate(pts) if j != i)
            kept = [(d2, j) for d2, j in cands
                    if d2 <= radius * radius][:k]
            out += [(i, j, r + 1, round(float(np.sqrt(d2)), 6))
                    for r, (d2, j) in enumerate(kept)]
        return sorted(out)

    want = brute(0.2, 3)
    single = sorted(map(tuple, grid_knn(df, 0.2, k=3,
                                        refine=1).collect()))
    fast = sorted(map(tuple, grid_knn(df, 0.2, k=3).collect()))
    deep = sorted(map(tuple, grid_knn(df, 0.2, k=3,
                                      target_occupancy=2.0).collect()))
    assert single == want
    assert fast == want
    assert deep == want
    got_ids = {t[0] for t in fast}
    assert 102 not in got_ids          # the loner emits nothing
    assert sum(1 for t in fast if t[0] == 100) == 1  # partial: 1 of k=3


def test_greedy_set_cover_hand_computed(spark):
    """Greedy max-coverage on hand-computable docs: the biggest gram set
    wins round 1, the best MARGINAL (not absolute) gain wins round 2,
    ties break to the lowest id, and rounds stop when the universe is
    exhausted."""
    from big_data_bowl_spark.pipeline.sampling import greedy_set_cover

    docs = spark.createDataFrame(
        [(1, "a b c d"),        # bigrams {ab, bc, cd}
         (2, "a b c"),          # {ab, bc} subset of doc 1
         (3, "x y z a b"),      # {xy, yz, za, ab} — 4 grams, wins round 1
         (4, "c d x y")],       # {cd, dx, xy} — marginal 2 after doc 3
        ["doc_id", "text"])
    got = greedy_set_cover(docs, k=8).collect()
    sel = [(r["sel_order"], r["doc_id"], r["gain"]) for r in got]
    # round 1: doc 3 (4 grams); round 2: doc 1 adds {bc, cd} (ab covered)
    # = 2 = doc 4's {cd, dx} marginal 2 -> tie, lowest id wins (doc 1);
    # round 3: doc 4 adds {dx} = 1; round 4: doc 2 adds nothing -> absent,
    # universe exhausted -> early stop
    assert sel == [(1, 3, 4), (2, 1, 2), (3, 4, 1)], sel


def test_hits_hand_computed_directed_star(spark):
    """HITS on a hand-computable directed graph: hub 1 -> {2,3,4},
    plus 5 -> 2.  Quantum q=1e6, 1 round: auth(2)=2q, auth(3)=auth(4)=q,
    auth(1)=auth(5)=0; hub(1)=auth(2)+auth(3)+auth(4)=4q, hub(5)=2q,
    hub(2..4)=0.  Asymmetric by construction, so it catches any
    direction mix-up the symmetric co-occurrence graph would hide."""
    from big_data_bowl_spark.operators.graph import hits

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (5, 2)], "src long, dst long")
    got = {r["node"]: (r["hub"], r["auth"])
           for r in hits(edges, iters=1).collect()}
    q = 1_000_000
    assert got[2] == (0, 2 * q)
    assert got[3] == (0, q) and got[4] == (0, q)
    assert got[1] == (4 * q, 0)
    assert got[5] == (2 * q, 0)


def test_mmr_rerank_hand_computed(spark):
    """MMR (λ=1/2) on hand-computable 2-D vectors, query = (1, 0):
    pick 1 = highest relevance; pick 2 must NOT be the near-duplicate of
    pick 1 (its redundancy cancels its relevance) but the orthogonal
    item — the diversity behavior that distinguishes MMR from plain
    top-k."""
    from big_data_bowl_spark.pipeline.similarity import mmr_rerank

    rows = [(1, [1.0, 0.0]),    # rel 1.0
            (2, [0.99, 0.0]),   # rel .99, sim to #1 = .99 -> obj 0
            (3, [0.0, 1.0]),    # rel 0, sim to #1 = 0 -> obj 0, id beats 2? no: obj tie -> lowest id = 2
            (4, [0.5, 0.5])]    # rel .5, sim to #1 = .5 -> obj 0
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = [(r["sel_order"], r["vec_id"], r["score"])
           for r in mmr_rerank(df, [1.0, 0.0], k=3).collect()]
    # pick 1: id 1 (rel 1.0).  After it: obj(2) = .99-.99 = 0,
    # obj(3) = 0-0 = 0, obj(4) = .5-.5 = 0 -> tie at 0, lowest id (2).
    # After 2: obj(3) = 0, obj(4) = .5 - max(.5, .495) = 0 -> id 3.
    assert got == [(1, 1, 1.0), (2, 2, 0.0), (3, 3, 0.0)], got


def test_mmr_prefers_diverse_over_redundant(spark):
    """A redundant item with HIGHER relevance than a diverse item loses
    round 2 once redundancy is subtracted — the behavior that separates
    MMR from plain top-k (which would rank id 2 second)."""
    from big_data_bowl_spark.pipeline.similarity import mmr_rerank

    rows = [(1, [2.0, 0.0]),    # rel 2.0 — pick 1
            (2, [1.0, 0.1]),    # rel 1.0, sim to #1 = 2.0 -> obj -1.0
            (3, [0.2, 1.5])]    # rel 0.2, sim to #1 = 0.4 -> obj -0.2
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = [(r["sel_order"], r["vec_id"]) for r in
           mmr_rerank(df, [1.0, 0.0], k=2).collect()]
    assert got == [(1, 1), (2, 3)], got  # diverse id 3 beats redundant id 2


def test_kcenter_equals_independent_numpy_greedy(spark):
    """Third-implementation check: the Spark k-center selection must
    equal an INDEPENDENT numpy greedy (the unrolled SQL oracle mirrors
    the engine's formulation, so a shared conceptual bug could pass
    both — this one can't)."""
    import numpy as np

    from big_data_bowl_spark.pipeline.similarity import kcenter_coreset

    rng = np.random.default_rng(23)
    vecs = rng.standard_normal((80, 4))
    ids = rng.permutation(1000)[:80]  # non-contiguous ids
    df = spark.createDataFrame(
        [(int(ids[i]), [float(x) for x in vecs[i]]) for i in range(80)],
        "vec_id long, embedding array<double>")
    got = [(r["sel_order"], r["vec_id"]) for r in
           kcenter_coreset(df, k=6).collect()]

    # independent greedy with the same quantization contract
    order = np.argsort(ids)
    chosen = [int(np.min(ids))]
    qmind = None
    expect = [(1, chosen[0])]
    id2vec = {int(ids[i]): vecs[i] for i in range(80)}
    qm = {int(i): None for i in ids}
    for r in range(2, 7):
        c = id2vec[chosen[-1]]
        for i in ids:
            d2 = float(np.sum((id2vec[int(i)] - c) ** 2))
            qd = int(np.floor(d2 * 1e6))
            qm[int(i)] = qd if qm[int(i)] is None else min(qm[int(i)], qd)
        cand = [(qm[int(i)], -int(i)) for i in ids if int(i) not in chosen]
        best = max(cand)
        chosen.append(-best[1])
        expect.append((r, -best[1]))
    assert got == expect, (got, expect)


def test_mmr_equals_independent_numpy_greedy(spark):
    """Same third-implementation check for MMR (λ=1/2)."""
    import numpy as np

    from big_data_bowl_spark.pipeline.similarity import mmr_rerank

    rng = np.random.default_rng(31)
    vecs = rng.standard_normal((60, 5))
    q = rng.standard_normal(5)
    df = spark.createDataFrame(
        [(i + 10, [float(x) for x in vecs[i]]) for i in range(60)],
        "vec_id long, embedding array<double>")
    got = [(r["sel_order"], r["vec_id"]) for r in
           mmr_rerank(df, [float(x) for x in q], k=5).collect()]

    qrel = {i + 10: int(np.floor(float(vecs[i] @ q) * 1e6))
            for i in range(60)}
    qmax: dict[int, int | None] = {i + 10: None for i in range(60)}
    chosen: list[int] = []
    expect = []
    for r in range(1, 6):
        cand = [(qrel[i] - (qmax[i] or 0), -i)
                for i in qrel if i not in chosen]
        best = max(cand)
        pick = -best[1]
        chosen.append(pick)
        expect.append((r, pick))
        cvec = vecs[pick - 10]
        for i in qrel:
            qs = int(np.floor(float(vecs[i - 10] @ cvec) * 1e6))
            qmax[i] = qs if qmax[i] is None else max(qmax[i], qs)
    assert got == expect, (got, expect)


def test_set_cover_equals_independent_python_greedy(spark):
    """Third-implementation check for greedy max-coverage on a random
    corpus: marginal-gain greedy with lowest-id tie-break in plain
    Python sets."""
    import numpy as np

    from big_data_bowl_spark.pipeline.sampling import greedy_set_cover

    rng = np.random.default_rng(41)
    vocab = [f"w{i}" for i in range(30)]
    docs = []
    for d in range(25):
        n = int(rng.integers(3, 12))
        toks = [vocab[int(j)] for j in rng.integers(0, 30, n)]
        docs.append((d, " ".join(toks)))
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = [(r["sel_order"], r["doc_id"], r["gain"]) for r in
           greedy_set_cover(df, k=6).collect()]

    def bigrams(text):
        t = text.split()
        return {f"{a} {b}" for a, b in zip(t, t[1:])}

    grams = {d: bigrams(t) for d, t in docs}
    covered: set = set()
    expect = []
    for r in range(1, 7):
        cand = [(len(g - covered), -d) for d, g in grams.items()]
        gain, nd = max(cand)
        if gain == 0:
            break
        expect.append((r, -nd, gain))
        covered |= grams[-nd]
    assert got == expect, (got, expect)


def test_hard_negatives_refined_equals_single_level_and_excludes_same_label(spark):
    """Hard-negative mining must (a) never return a same-label neighbor,
    (b) pick the nearest different-label point even when a same-label
    point is closer, and (c) stay EXACT under the two-level refinement
    with the predicate applied at both levels."""
    import numpy as np

    from big_data_bowl_spark.pipeline.similarity import hard_negatives

    rng = np.random.default_rng(17)
    pts = rng.normal(0, 0.3, (120, 2))
    rows = [(i, int(i % 3), float(x), float(y))
            for i, (x, y) in enumerate(pts)]
    df = spark.createDataFrame(rows, "vec_id long, label int, x double, y double")
    fast = hard_negatives(df, radius=0.4, refine=8).collect()
    slow = hard_negatives(df, radius=0.4, refine=1).collect()
    assert sorted(map(tuple, fast)) == sorted(map(tuple, slow))
    lbl = {r[0]: r[1] for r in rows}
    assert all(lbl[r["vec_id"]] != lbl[r["neighbor_id"]] for r in fast)
    # (b) hand case: same-label twin at dist .01, different-label at .1
    df2 = spark.createDataFrame(
        [(1, 0, 0.0, 0.0), (2, 0, 0.01, 0.0), (3, 1, 0.1, 0.0)],
        "vec_id long, label int, x double, y double")
    got = {r["vec_id"]: r["neighbor_id"]
           for r in hard_negatives(df2, radius=0.5).collect()}
    assert got[1] == 3 and got[2] == 3 and got[3] in (1, 2)


def test_psm_match_hand_computed_caliper_semantics(spark):
    """Caliper nearest-control matching on hand-placed scores: each
    treated unit takes its nearest control within the caliper,
    with-replacement (two treated may share a control), and a treated
    unit with no control inside the caliper is DROPPED (the PSM
    semantics that make the estimate caliper-robust)."""
    from pyspark.sql import functions as F

    from big_data_bowl_spark.operators.separation import grid_nearest

    rows = [  # (id, treated, score)
        (1, 1, 0.50), (2, 1, 0.52), (3, 1, 0.90),   # treated
        (4, 0, 0.49), (5, 0, 0.60)]                 # controls
    df = spark.createDataFrame(rows, "vec_id long, label int, x double")
    pts = df.select("vec_id", "label", "x", F.lit(0.0).alias("y"))
    got = {r["vec_id"]: r["neighbor_id"] for r in grid_nearest(
        pts, 0.1, id_col="vec_id", x_col="x", y_col="y", refine=4,
        carry=("label",),
        predicate=lambda: (F.col("__q_label") == 1)
                          & (F.col("__n_label") == 0)).collect()}
    assert got == {1: 4, 2: 4}, got  # 1->4 (.01), 2->4 (.03, shared);
    # treated 3 (.90): nearest control .60 is outside caliper -> dropped;
    # controls never appear as queries (predicate is one-directional)


def test_weighted_cover_prefers_bang_per_buck(spark):
    """Cost-weighted coverage must pick the SHORT doc with a better
    gain/token ratio over the long doc with more absolute gain — the
    behavior that separates it from unweighted set cover."""
    from big_data_bowl_spark.pipeline.sampling import greedy_weighted_cover

    docs = spark.createDataFrame(
        [(1, "a b c d e f g h i j k l m n o p"),  # 16 tokens, 15 new grams
         (2, "x y z w")],                          # 4 tokens, 3 new grams
        ["doc_id", "text"])
    got = [(r["sel_order"], r["doc_id"], r["gain"], r["cost"])
           for r in greedy_weighted_cover(docs, k=2).collect()]
    # ratios: doc1 15/16 = 0.937e6; doc2 3/4 = 0.75e6 -> doc1 first
    assert got[0] == (1, 1, 15, 16)
    assert got[1] == (2, 2, 3, 4)
    # flip: make the short doc denser than the long one
    docs2 = spark.createDataFrame(
        [(1, "a b c a b c a b c a b c"),  # 12 tokens, only 3 distinct grams
         (2, "x y z w")],                 # 4 tokens, 3 grams
        ["doc_id", "text"])
    got2 = [(r["sel_order"], r["doc_id"]) for r in
            greedy_weighted_cover(docs2, k=2).collect()]
    assert got2[0] == (1, 2), got2  # 3/4 beats 3/12 despite equal gain


def test_curation_funnel_keeps_short_docs(spark, tmp_path):
    """Engine ≡ oracle on a corpus containing docs with <2 tokens
    (zero bigrams): dup_ngram_features left-joins back to ALL docs, so
    a 1-token doc must appear in every funnel count (n_raw, n_unique)
    on both sides — the oracle's bg CTE only has docs with ≥1 bigram
    and must LEFT JOIN it.  Regression for the latent divergence the
    r8 advice flagged (testdata has no short docs, so the sweep alone
    can't catch it)."""
    import duckdb

    from big_data_bowl_spark.oracles import ORACLES
    from big_data_bowl_spark.queries import QUERIES

    long_txt = " ".join(f"w{i}" for i in range(40))
    rows = [(1, "solo", "en", "web", 4),           # 1 token, 0 bigrams
            (2, "", "en", "web", 0),               # 0 tokens
            (3, long_txt, "en", "web", len(long_txt)),
            (4, long_txt, "en", "book", len(long_txt)),  # dup of 3
            (5, "a b a b a b a b", "en", "book", 15)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long"
    ).coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))

    got = {r["source"]: (r["n_raw"], r["n_unique"], r["n_len"],
                         r["n_lowrep"], r["n_final"])
           for r in QUERIES["q_curation_funnel"](
               spark, str(tmp_path)).collect()}

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{tmp_path}/documents.parquet/*.parquet')")
    want = {r[0]: tuple(r[1:])
            for r in con.execute(ORACLES["q_curation_funnel"]).fetchall()}
    con.close()
    assert got == want, (got, want)
    # the short docs are counted in web's raw/unique totals
    assert got["web"][0] == 3 and got["web"][1] == 3, got


def test_containment_subset_detected_jaccard_blind(spark):
    """The operator's reason to exist: A ⊂ B with |B| ≫ |A| has
    containment 1.0 but Jaccard |A|/|B| ≈ 0.23 — the quote/excerpt dup
    the Jaccard path scores as unrelated.  Direction must be a→b only
    (n_b > n_a excludes the reverse and the same-size symmetric pair)."""
    from big_data_bowl_spark.pipeline.dedup import containment_pairs

    quote = "alpha bravo charlie delta echo foxtrot"
    filler = " ".join(f"x{i}" for i in range(20))
    docs = spark.createDataFrame([
        Row(doc_id=0, text=quote, source="s"),                 # the excerpt
        Row(doc_id=1, text=quote + " " + filler, source="s"),  # the container
        Row(doc_id=2, text=quote, source="s"),                 # same-size twin of 0
    ])
    got = {(r.doc_a, r.doc_b): (r.containment, r.n_a, r.n_b)
           for r in containment_pairs(docs, threshold=0.8,
                                      probe_mod=1).collect()}
    assert got == {(0, 1): (1.0, 6, 26), (2, 1): (1.0, 6, 26)}, got


def test_winnow_equals_independent_python_twin(spark):
    """Engine winnowing ≡ an independent pure-Python implementation
    (third-implementation discipline): same k-gram polynomial hashes,
    same rightmost-min window selection, exact (pos, fp) set equality —
    over docs hitting every length regime (0 tokens, < k, = k, between
    k and w+k−1, long)."""
    import random

    from big_data_bowl_spark.pipeline.text import winnow_fingerprints

    P, K, W = 1_000_000_007, 4, 4

    def py_winnow(text):
        toks = [t for t in text.split(" ") if t]
        def ph(s):
            h = 7
            for ch in s:
                h = (h * 31 + ord(ch)) % P
            return h
        ths = [ph(t) for t in toks]
        def gh(seg):
            h = 7
            for x in seg:
                h = (h * 31 + x) % P
            return h
        hs = [gh(ths[i:i + K]) for i in range(len(toks) - K + 1)]
        if not hs:
            return set()
        out = set()
        for j in range(max(len(hs) - W + 1, 1)):
            win = hs[j:j + W]
            m = min(win)
            pos = j + max(i for i, h in enumerate(win) if h == m)
            out.add((pos + 1, m))
        return out

    rng = random.Random(42)
    vocab = [f"tok{i}" for i in range(12)]  # small vocab → hash ties happen
    texts = ["", "a b c", "a b c d", "p q r s t u",
             " ".join(rng.choice(vocab) for _ in range(30))]
    for n in (7, 8, 15, 40, 80):
        texts.append(" ".join(rng.choice(vocab) for _ in range(n)))
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)])
    got: dict[int, set] = {}
    for r in winnow_fingerprints(docs, k=K, w=W).collect():
        got.setdefault(r.doc_id, set()).add((r.pos, r.fp))
    want = {i: py_winnow(t) for i, t in enumerate(texts) if py_winnow(t)}
    assert got == want, (got, want)


def test_winnow_guarantee_and_stop_fingerprint_cap(spark):
    """The SWA guarantee: two docs sharing a token run of length
    w+k−1 = 7 share at least one selected fingerprint, so winnow_pairs
    reports them (min_shared=1).  And a fingerprint present in more
    than max_df docs is a stop-fingerprint: with the shared run in
    3 docs and max_df=2, no pair survives."""
    from big_data_bowl_spark.pipeline.text import winnow_pairs

    run = "r1 r2 r3 r4 r5 r6 r7"
    docs = spark.createDataFrame([
        Row(doc_id=0, text="a1 a2 a3 a4 a5 " + run + " a6 a7 a8 a9"),
        Row(doc_id=1, text="b1 b2 b3 b4 " + run + " b5 b6 b7 b8 b9"),
        Row(doc_id=2, text="c1 c2 c3 c4 c5 c6 c7 c8 c9 c10 c11"),
    ])
    pairs = {(r.doc_a, r.doc_b)
             for r in winnow_pairs(docs, min_shared=1).collect()}
    assert (0, 1) in pairs, pairs
    assert not any(2 in p for p in pairs), pairs

    docs3 = docs.union(spark.createDataFrame(
        [Row(doc_id=3, text="d1 d2 d3 d4 " + run + " d5 d6 d7 d8")]))
    capped = winnow_pairs(docs3, min_shared=1, max_df=2).collect()
    shared_run_pairs = {(r.doc_a, r.doc_b) for r in capped
                        if r.doc_a in (0, 1, 3) and r.doc_b in (0, 1, 3)}
    assert not shared_run_pairs, shared_run_pairs


def test_leakage_split_no_cross_split_near_dups(spark):
    """The split invariant, computed not asserted: every near-dup pair
    lands on one side (n_leaked_pairs = 0 on every output row), and the
    split partitions the corpus (doc counts sum to the table size)."""
    from big_data_bowl_spark.queries import QUERIES
    from big_data_bowl_spark.sources.io import read_table

    rows = QUERIES["q_leakage_split"](spark, SF_SMALL).collect()
    assert {r.split for r in rows} == {"train", "val"}
    assert all(r.n_leaked_pairs == 0 for r in rows), rows
    n_docs = read_table(spark, SF_SMALL, "documents").count()
    assert sum(r.n_docs for r in rows) == n_docs, rows


def test_quality_classifier_hand_computed(spark):
    """The hashed linear filter on hand-computable docs: score =
    Σ w(bucket(token)) / (2048·n) with w(j) = (j·2654435761 mod 4096) −
    2048 over the polynomial token hash mod 1024 — recomputed
    independently in Python per token; empty docs drop."""
    from big_data_bowl_spark.pipeline.text import quality_classifier

    P = 1_000_000_007

    def phash(t):
        h = 7
        for ch in t:
            h = (h * 31 + ord(ch)) % P
        return h

    def weight(t):
        return (phash(t) % 1024) * 2654435761 % 4096 - 2048

    docs = [(1, "alpha beta gamma"), (2, "delta"), (3, ""),
            (4, "alpha alpha alpha alpha")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r["doc_id"]: (r["n_tokens"], r["score"], r["keep"])
           for r in quality_classifier(df).collect()}
    assert 3 not in got  # empty doc dropped
    for did, text in docs:
        toks = [t for t in text.split(" ") if t]
        if not toks:
            continue
        sw = sum(weight(t) for t in toks)
        want = round(sw / (2048.0 * len(toks)), 6)
        assert got[did] == (len(toks), want, int(sw > 0)), (did, got[did])


def test_mixture_weights_uniform_target_semantics(spark):
    """Mixture weights on hand-placed sources: a source holding half
    the tokens at a 4-source uniform target gets weight 0.5 (downsample
    to half); a source holding 1/8 gets weight 2 but sample_rate caps
    at 1; weights times observed shares always average to 1 across
    sources (the uniform-target identity)."""
    from big_data_bowl_spark.pipeline.sampling import mixture_weights

    rows = []
    did = 0
    for src, n_tok, n_docs in [("a", 8, 4), ("b", 4, 2),
                               ("c", 2, 1), ("d", 2, 1)]:
        for _ in range(n_docs):
            rows.append((did, src, " ".join(["w"] * n_tok)))
            did += 1
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {r["source"]: r for r in mixture_weights(df).collect()}
    # totals: a=32, b=8, c=2, d=2 -> 44 tokens, 4 sources
    assert got["a"]["n_tokens"] == 32 and got["a"]["n_docs"] == 4
    assert got["a"]["weight"] == round(44 / (4 * 32), 6)
    assert got["c"]["weight"] == round(44 / (4 * 2), 6)
    assert got["c"]["sample_rate"] == 1.0          # capped
    assert got["a"]["sample_rate"] == got["a"]["weight"]  # < 1 kept
    ident = sum(g["weight"] * g["n_tokens"] for g in got.values()) / 44
    assert abs(ident - 1.0) < 1e-6


def test_mixture_weights_drops_zero_token_groups(spark):
    """r11 guard (ADVICE): a group whose documents are ALL empty text
    has n_tokens = 0 and must be dropped (it would otherwise divide by
    zero — NULL weight under non-ANSI Spark, ±inf under DuckDB), and
    its zero tokens must not perturb the surviving groups' weights."""
    from big_data_bowl_spark.pipeline.sampling import mixture_weights

    rows = [(0, "a", "x y z"), (1, "a", "x"),
            (2, "empty", ""), (3, "empty", "   "),
            (4, "b", "p q")]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {r["source"]: r for r in mixture_weights(df).collect()}
    assert set(got) == {"a", "b"}          # zero-token group gone
    # totals over SURVIVING groups: 6 tokens, 2 groups
    assert got["a"]["weight"] == round(6 / (2 * 4), 6)
    assert got["b"]["weight"] == round(6 / (2 * 2), 6)
    assert all(g["weight"] is not None for g in got.values())


def test_modularity_partial_coverage_is_subgraph_modularity(spark):
    """r11 guard (ADVICE): modularity with labels that do NOT cover
    every endpoint must equal the exact modularity of the label-covered
    subgraph (uncovered edges used to inflate m while contributing to
    neither e_in nor deg — a silently wrong Q)."""
    from big_data_bowl_spark.operators.graph import modularity

    # covered subgraph: two triangles {1,2,3} and {4,5,6} + 1 bridge;
    # node 99 is UNLABELED, its two edges must be ignored entirely
    edges = [(1, 2), (1, 3), (2, 3), (4, 5), (4, 6), (5, 6), (3, 4),
             (1, 99), (99, 6)]
    e = spark.createDataFrame(edges, "src long, dst long")
    lab = spark.createDataFrame(
        [(n, 1 if n <= 3 else 2) for n in range(1, 7)],
        "node long, label long")
    got = {r["community"]: r for r in modularity(e, lab).collect()}
    # subgraph: m=7; community 1: e_in=3, deg=3*2+1=7; same for 2
    assert got[1]["e_in"] == 3 and got[1]["deg_sum"] == 7
    assert got[2]["e_in"] == 3 and got[2]["deg_sum"] == 7
    want_term = round(3 / 7 - (7 / 14) ** 2, 9)
    assert got[1]["term"] == want_term
    assert got[1]["modularity"] == round(2 * want_term, 6)


def test_perplexity_buckets_tertile_semantics(spark):
    """Per-language ntile(3): within each language the head bucket
    holds the HIGHEST mean log-probs (most-predictable docs), every
    scored doc lands in exactly one bucket, and bucket sizes differ by
    at most one (the ntile contract)."""
    from collections import Counter

    from big_data_bowl_spark.pipeline.ranking import perplexity_buckets

    rows = [(i, "en" if i % 2 == 0 else "fr",
             " ".join(f"t{j % (2 + i % 5)}" for j in range(12)))
            for i in range(24)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    got = perplexity_buckets(df).collect()
    assert len(got) == 24  # all docs have >= 2 tokens -> all scored
    for lang in ("en", "fr"):
        sub = sorted((r for r in got if r["lang"] == lang),
                     key=lambda r: (-r["avg_logp"], r["doc_id"]))
        sizes = Counter(r["bucket"] for r in sub)
        assert set(sizes) == {1, 2, 3}
        assert max(sizes.values()) - min(sizes.values()) <= 1
        # buckets are contiguous in score order
        seq = [r["bucket"] for r in sub]
        assert seq == sorted(seq)


def test_jaccard_array_path_positional_filter_equals_bruteforce(spark):
    """r12: the ARRAY path (forced via small_vocab_bits=0) with the
    PPJoin positional filter ≡ naive Python brute force on randomized
    corpora — directly adversarial to the filter's completeness
    argument (a true pair must survive at its first shared prefix
    token), across three thresholds, with planted exact dups, subset
    pairs, boundary near-misses, and a shared stop-token head that
    makes late-prefix meetings (the ones the filter kills) common."""
    import random

    from big_data_bowl_spark.pipeline.dedup import jaccard_prefix_pairs

    rng = random.Random(29)
    head = [f"stop{i}" for i in range(6)]       # in most docs
    tail = [f"rare{i}" for i in range(300)]     # doc-specific
    rows = []
    for i in range(90):
        n_h = rng.randint(2, 6)
        n_t = rng.randint(2, 12)
        toks = rng.sample(head, n_h) + rng.sample(tail, n_t)
        rows.append((i, " ".join(toks)))
    rows.append((300, rows[3][1]))                       # exact dup
    rows.append((301, rows[3][1] + " rare299 rare298"))  # superset
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    toks = {i: set(t.split()) for i, t in rows}
    ids = sorted(toks)
    for tau in (0.5, 0.6, 0.8):
        got = sorted(map(tuple, jaccard_prefix_pairs(
            docs, threshold=tau, small_vocab_bits=0).collect()))
        want = []
        for x in range(len(ids)):
            for y in range(x + 1, len(ids)):
                a, b = ids[x], ids[y]
                j = round(len(toks[a] & toks[b])
                          / len(toks[a] | toks[b]), 6)
                if j >= tau:
                    want.append((a, b, j))
        assert got == sorted(want) and got, (tau, len(got), len(want))


# ---------------------------------------------------------------------------
# r14 Arrow-stage bit-identity pins: the vectorized numpy twins must equal
# the interpreted expression forms they replaced, slot for slot / row for
# row, on an adversarial corpus (empty docs, multi-space runs, 1-2-word
# docs, non-ASCII BMP, astral emoji, combining marks, long docs, null)
# ---------------------------------------------------------------------------

_ADVERSARIAL_DOCS = [
    (0, "hello world foo bar baz"),
    (1, ""),
    (2, " "),
    (3, "a"),
    (4, "a b"),
    (5, "a  b   c"),
    (6, "  leading and trailing  "),
    (7, "café naïve 中文 中文词"),
    (8, "emoji \U0001F600 tail words here"),
    (9, "x " * 50 + "y"),
    (10, None),
    (11, "cafe\u0301 an\u0303o \u0915\u094d\u0937a"),   # combining marks
]


def test_neutral_sig_arrow_equals_expression_form(spark):
    """_minhash_sigs_arrow (the vectorized signature stage)
    must reproduce the interpreted-HOF form bit-for-bit, in BOTH split
    variants (minhash_neutral_pairs drops empty tokens,
    shingle_base_hashes keeps them)."""
    from big_data_bowl_spark.pipeline.dedup import (
        _MH_PRIME,
        _mh_coeffs,
        _minhash_sigs_arrow,
        minhash_slots,
        shingle_base_hashes,
    )
    from big_data_bowl_spark.pipeline.text import polynomial_token_hash

    docs = spark.createDataFrame(_ADVERSARIAL_DOCS,
                                 "doc_id long, text string")

    # unfiltered variant (shingle_base_hashes semantics)
    jvm_u = (docs.withColumn("_base", shingle_base_hashes(F.col("text")))
                 .select("doc_id", minhash_slots("_base", 32).alias("sig")))
    # filtered variant (minhash_neutral_pairs semantics)
    words = F.filter(F.split(F.col("text"), " "), lambda t: t != "")
    n_sh = F.greatest(F.size(words) - 2, F.lit(1))
    shingles = F.transform(
        F.sequence(F.lit(0), n_sh - 1),
        lambda i: F.concat_ws(" ", F.slice(words, i + 1, 3)))
    base = F.transform(shingles, polynomial_token_hash)
    jvm_f = (docs.withColumn("_base", base)
                 .select("doc_id", F.array(*[
                     F.aggregate("_base", F.lit(_MH_PRIME).cast("long"),
                                 lambda acc, h: F.least(
                                     acc, (F.lit(a) * h + F.lit(b))
                                     % _MH_PRIME))
                     for a, b in _mh_coeffs(32)]).alias("sig")))
    for drop_empty, jvm in ((False, jvm_u), (True, jvm_f)):
        arrow = _minhash_sigs_arrow(docs, "doc_id", "text", 32, 3,
                                    drop_empty_words=drop_empty)
        got = {r["doc_id"]: list(r["sig"]) for r in arrow.collect()}
        want = {r["doc_id"]: list(r["sig"]) for r in jvm.collect()}
        assert got == want, f"drop_empty_words={drop_empty}"


def test_distinct_word_shingles_equals_expression_form(spark):
    """distinct_word_shingles (the r14 Arrow verification-side stage of
    q_lsh_precision) must emit exactly the row set of the explode +
    global-distinct expression form it replaced."""
    from big_data_bowl_spark.pipeline.dedup import distinct_word_shingles

    docs = spark.createDataFrame(_ADVERSARIAL_DOCS,
                                 "doc_id long, text string")
    words = F.filter(F.split(F.col("text"), " "), lambda t: t != "")
    n_sh = F.greatest(F.size(words) - 2, F.lit(1))
    shingles = F.transform(
        F.sequence(F.lit(0), n_sh - 1),
        lambda i: F.concat_ws(" ", F.slice(words, i + 1, 3)))
    want = sorted((r["doc_id"], r["s"]) for r in
                  docs.select("doc_id", F.explode(shingles).alias("s"))
                      .distinct().collect())
    got = sorted((r["doc_id"], r["s"]) for r in
                 distinct_word_shingles(docs).collect())
    assert got == want


def test_simhash_neutral_arrow_equals_expression_form(spark):
    """simhash_neutral's r15 Arrow vote stage must reproduce the
    interpreted-HOF bit-voting form EXACTLY — fingerprint and all four
    bands — on the adversarial corpus plus trailing token-less docs
    (the np.add.reduceat empty-segment edge)."""
    from big_data_bowl_spark.pipeline.dedup import simhash_neutral
    from big_data_bowl_spark.pipeline.text import (
        polynomial_token_hash,
        polynomial_token_hash2,
    )

    docs = spark.createDataFrame(
        _ADVERSARIAL_DOCS + [(12, ""), (13, "   ")],
        "doc_id long, text string")
    bits = 60
    staged = docs.withColumn(
        "_th", F.transform(
            F.filter(F.split(F.col("text"), " "), lambda t: t != ""),
            lambda t: polynomial_token_hash(t) * F.lit(1 << 30)
                      + polynomial_token_hash2(t)))
    masks = F.array(*[F.lit(1 << b).cast("long") for b in range(bits)])
    counters = F.aggregate(
        F.col("_th"),
        F.array_repeat(F.lit(0), bits),
        lambda acc, h: F.zip_with(
            acc, masks,
            lambda a, m: a + F.when(h.bitwiseAND(m) != 0, 1)
                              .otherwise(-1)))
    fingerprint = F.aggregate(
        F.zip_with(counters, masks,
                   lambda c, m: F.when(c > 0, m).otherwise(F.lit(0))
                                 .cast("long")),
        F.lit(0).cast("long"), lambda acc, x: acc + x)
    expr = staged.withColumn("simhash", fingerprint)
    for k in range(4):
        expr = expr.withColumn(
            f"band{k}",
            F.shiftright(F.col("simhash"), 15 * k)
             .bitwiseAND(F.lit(32767)).cast("long"))
    want = sorted(map(tuple, expr.select(
        "doc_id", "simhash", "band0", "band1", "band2",
        "band3").collect()))
    got = sorted(map(tuple, simhash_neutral(docs).collect()))
    assert got == want, (got, want)


def test_text_hash_kernels_memory_bound():
    """The text-hash kernels stay O(tokens) in memory on ONE ~1M-token
    document (the long-document shape of the adversarial harness): each
    peaks below 400 MiB under tracemalloc, driver-side.  A
    (tokens × 60) int64 vote matrix alone is 458 MiB at this size, so
    the bound fails any such matrix.  SCALE.md records the measured
    peaks."""
    import tracemalloc

    import pandas as pd

    from big_data_bowl_spark.pipeline.dedup import (
        _shingle_hashes,
        _simhash_fingerprints,
    )

    n_tok = 1_000_000
    doc = " ".join(f"w{(i * 7919) % 50_000}" for i in range(n_tok))
    bound = 400 << 20
    for name, run in (
            ("_simhash_fingerprints",
             lambda: _simhash_fingerprints([doc, None])),
            ("_shingle_hashes",
             lambda: _shingle_hashes([doc, None], 3, False))):
        tracemalloc.start()
        try:
            out = run()
            peak = tracemalloc.get_traced_memory()[1]
        finally:
            tracemalloc.stop()
        assert peak < bound, f"{name}: peak {peak >> 20} MiB"
        if name == "_simhash_fingerprints":
            assert not pd.isna(out[0]) and pd.isna(out[1])
        else:
            # the doc's n_tok − 2 shingles, then the null doc's one
            assert len(out[0]) == n_tok - 1
            assert list(out[1]) == [0, n_tok - 2]


def test_shingle_set_intersection_equals_row_join_form(spark):
    """The r15 nested-set verification path (word_shingle_sets +
    in-row array_intersect on doc-id-keyed joins) must produce the
    SAME (pair, intersection, union) integers as the r14 exploded
    (doc, s)-row join + count form it replaced — including zero-overlap
    pairs (old form: left join + coalesce 0) and empty docs (the [""]
    singleton set).  Adversarial corpus, all unordered pairs as
    candidates."""
    from big_data_bowl_spark.pipeline.dedup import (
        distinct_word_shingles,
        word_shingle_sets,
    )

    docs = spark.createDataFrame(_ADVERSARIAL_DOCS,
                                 "doc_id long, text string")
    ids = [r["doc_id"] for r in docs.select("doc_id").collect()]
    cands = spark.createDataFrame(
        [(a, b) for a in ids for b in ids if a < b],
        "doc_a long, doc_b long")

    sh = distinct_word_shingles(docs)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_s"))
    inter = (cands.join(sh.select(F.col("doc_id").alias("doc_a"), "s"),
                        "doc_a")
                  .join(sh.select(F.col("doc_id").alias("doc_b"), "s"),
                        ["doc_b", "s"])
                  .groupBy("doc_a", "doc_b")
                  .agg(F.count(F.lit(1)).alias("__i")))
    old = (cands.join(inter, ["doc_a", "doc_b"], "left")
                .join(sizes.select(F.col("doc_id").alias("doc_a"),
                                   F.col("n_s").alias("__na")), "doc_a")
                .join(sizes.select(F.col("doc_id").alias("doc_b"),
                                   F.col("n_s").alias("__nb")), "doc_b")
                .select("doc_a", "doc_b",
                        F.coalesce("__i", F.lit(0)).cast("long")
                         .alias("i"),
                        (F.col("__na") + F.col("__nb")
                         - F.coalesce("__i", F.lit(0))).cast("long")
                        .alias("u")))
    sets = word_shingle_sets(docs)
    new = (cands.join(sets.select(F.col("doc_id").alias("doc_a"),
                                  F.col("ss").alias("__ssa")), "doc_a")
                .join(sets.select(F.col("doc_id").alias("doc_b"),
                                  F.col("ss").alias("__ssb")), "doc_b")
                .withColumn("i", F.size(F.array_intersect("__ssa",
                                                          "__ssb"))
                                  .cast("long"))
                .select("doc_a", "doc_b", "i",
                        (F.size("__ssa").cast("long")
                         + F.size("__ssb").cast("long")
                         - F.col("i")).alias("u")))
    want = sorted(map(tuple, old.collect()))
    got = sorted(map(tuple, new.collect()))
    assert got == want


def test_pq_assign_equals_expression_argmin(spark):
    """_pq_assign must match an independently-built in-row expression
    argmin — including the lowest-position tie-break (duplicate
    centroids force exact distance ties).  Pins the assignment
    contract any future rewrite must preserve (the r14 numpy twin was
    bit-identical under this test but a measured end-to-end NO-GO —
    interleaved session mins: q_pq_topk 2.98 vs 3.24s, q_pq_build
    2.14 vs 2.44s, q_ivfpq_topk 3.07 vs 3.40s — the per-round
    collect + Python boundary cost more than the ~128-node
    interpreted fold it replaced, so the expression form stays)."""
    from big_data_bowl_spark.pipeline.similarity import _pq_assign

    # 2 subspaces x 3 codes, with codes 0 and 2 of subspace 0 IDENTICAL
    # so every row in that subspace ties exactly -> must pick position 0
    books = spark.createDataFrame(
        [(0, 0, [1.0, 1.0]), (0, 1, [5.0, 5.0]), (0, 2, [1.0, 1.0]),
         (1, 0, [0.0, 0.0]), (1, 1, [2.0, 2.0]), (1, 2, [9.0, 9.0])],
        "subspace int, code int, centroid array<double>")
    sub = spark.createDataFrame(
        [(10, 0, [1.1, 0.9]), (10, 1, [1.9, 2.2]),
         (11, 0, [4.8, 5.3]), (11, 1, [8.0, 8.5]),
         (12, 0, [1.0, 1.0]), (12, 1, [0.1, -0.1])],
        "vec_id long, subspace int, sv array<double>")

    got = {(r["vec_id"], r["subspace"]): r["code"]
           for r in _pq_assign(sub, books).collect()}

    # expression twin (the pre-r14 in-row argmin)
    from big_data_bowl_spark.pipeline.similarity import _books_per_subspace
    dists = F.transform(
        F.col("cents"),
        lambda c: F.aggregate(F.zip_with(F.col("sv"), c,
                                         lambda x, cc: (x - cc) * (x - cc)),
                              F.lit(0.0), lambda acc, x: acc + x))
    expr = (sub.join(F.broadcast(_books_per_subspace(books)), "subspace")
               .withColumn("code",
                           (F.array_position(dists, F.array_min(dists)) - 1)
                           .cast("int")))
    want = {(r["vec_id"], r["subspace"]): r["code"] for r in expr.collect()}
    assert got == want
    assert got[(10, 0)] == 0 and got[(12, 0)] == 0  # tie -> lowest position


def test_iterate_zero_rounds_returns_state_unchanged(spark):
    from big_data_bowl_spark.operators.fixpoint import iterate

    def boom(df):
        raise AssertionError("step must not run at rounds=0")

    df = spark.range(3)
    assert iterate(df, boom, 0) is df


def test_iterate_until_stops_the_loop(spark):
    """``until`` is checked after every round: a counting step whose
    ``until`` turns true after the third round runs exactly 3 times,
    and the returned state is the third one."""
    from big_data_bowl_spark.operators.fixpoint import iterate

    calls = []

    def step(df):
        calls.append(1)
        return df.withColumn("r", F.col("r") + 1)

    out = iterate(spark.range(1).select(F.lit(0).alias("r")), step, 10,
                  until=lambda s: len(calls) == 3)
    assert len(calls) == 3
    assert out.first()["r"] == 3


def _greedy_pick(spark, scores, k, update=None):
    """fixpoint.greedy over an (__id, s) frame ranked by its own
    score column; returns the picks as (sel_order, id, s) tuples."""
    from big_data_bowl_spark.operators.fixpoint import greedy

    state = spark.createDataFrame(list(scores.items()), "__id long, s long")
    out = greedy(state, k, lambda st, _: st, "s", update=update)
    assert out.columns == ["sel_order", "id", "s"]
    assert all(t == "bigint" for _, t in out.dtypes)
    return [tuple(r) for r in out.orderBy("sel_order").collect()]


def test_greedy_tie_goes_to_lowest_id(spark):
    assert _greedy_pick(spark, {9: 5, 4: 5, 6: 3, 2: 1}, 3) == [
        (1, 4, 5), (2, 9, 5), (3, 6, 3)]


def test_greedy_stops_when_no_candidate_is_left(spark):
    assert _greedy_pick(spark, {3: 1, 1: 2}, 5) == [(1, 1, 2), (2, 3, 1)]


def test_greedy_zero_rounds_is_empty(spark):
    from big_data_bowl_spark.operators.fixpoint import greedy

    def boom(state, picked):
        raise AssertionError("rank must not run at k=0")

    out = greedy(spark.range(3).withColumnRenamed("id", "__id"), 0, boom,
                 "score", carry=("gain",))
    assert out.columns == ["sel_order", "id", "score", "gain"]
    assert out.collect() == []


def test_greedy_update_runs_once_per_round_after_the_first(spark):
    """``update(state, last_id)`` folds each pick into the state before
    the next round: k rounds run it k - 1 times, each with the id the
    round before picked, and the next round ranks the updated state."""
    calls = []

    def lower_the_rest(state, last_id):
        calls.append(last_id)
        return state.withColumn("s", F.when(
            F.col("__id") == last_id, F.col("s")).otherwise(
            F.col("s") - 10))

    picks = _greedy_pick(spark, {1: 30, 2: 25, 3: 20}, 3,
                         lower_the_rest)
    assert calls == [1, 2]
    assert picks == [(1, 1, 30), (2, 2, 15), (3, 3, 0)]


def _routed_fixpoint(spark, name, rounds, monkeypatch):
    """Run one operator that loops through ``fixpoint.iterate`` for
    ``rounds`` rounds on a small graph / point set."""
    from big_data_bowl_spark.operators import fixpoint, graph
    from big_data_bowl_spark.pipeline.dedup import duplicate_components
    from big_data_bowl_spark.pipeline.similarity import lloyd_centroids
    from big_data_bowl_spark.queries import QUERIES

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(12)] + [(0, 5), (5, 9), (3, 0)],
        "src long, dst long")
    seeds = spark.createDataFrame([(0,), (7,)], "node long")
    if name == "pagerank":
        return graph.pagerank(edges, iters=rounds)
    if name == "personalized_pagerank":
        return graph.personalized_pagerank(edges, seeds, iters=rounds)
    if name == "kcore":
        return graph.kcore(edges, k=2, rounds=rounds)
    if name == "label_propagation":
        return graph.label_propagation(edges, rounds=rounds)
    if name == "bfs_hops":
        return graph.bfs_hops(edges, seeds, max_hops=rounds)
    if name == "hits":
        return graph.hits(edges, iters=rounds)
    if name == "lloyd_centroids":
        vecs = spark.createDataFrame(
            [(i, [float(i % 5), float(i // 5)]) for i in range(20)],
            "vec_id long, v array<double>")
        cents = spark.createDataFrame(
            [(0, [0.0, 0.0]), (1, [4.0, 3.0])],
            "cand_label long, centroid array<double>")
        return lloyd_centroids(vecs, cents, rounds)
    if name == "duplicate_components":
        # a 12-edge chain: min-label propagation needs every round
        return duplicate_components(
            edges.select(F.col("src").alias("doc_a"),
                         F.col("dst").alias("doc_b")), max_iter=rounds)
    # q_stationary_dist runs a fixed 5 rounds: vary them at the driver
    real = fixpoint.iterate
    monkeypatch.setattr(fixpoint, "iterate",
                        lambda s, step, _r, until=None:
                        real(s, step, rounds, until))
    return QUERIES["q_stationary_dist"](spark, SF_SMALL)


@pytest.mark.parametrize("name", [
    "pagerank", "personalized_pagerank", "kcore", "label_propagation",
    "bfs_hops", "hits", "lloyd_centroids", "duplicate_components",
    "q_stationary_dist"])
def test_fixpoint_lineage_is_bounded(spark, name, monkeypatch):
    """Every operator routed through ``fixpoint.iterate`` cuts lineage
    each round: its result's plan carries as many exchanges after 6
    rounds as after 2."""
    from big_data_bowl_spark.plans.inspect import count_exchanges

    counts = [count_exchanges(_routed_fixpoint(spark, name, r, monkeypatch))
              for r in (2, 6)]
    assert counts[0] == counts[1], counts


def test_foreign_session_runs_the_engine_configuration(spark):
    """A session the engine did not build (a caller's own) runs
    the engine's configuration from its first table read: the fixture
    session's answers whatever zone it arrived with, its own excluded
    rules kept beside the engine's, and the engine's Parquet codec.
    ``newSession`` shares the fixture's context, so nothing is stopped."""
    from big_data_bowl_spark.queries import QUERIES

    rules_key = "spark.sql.optimizer.excludedRules"
    rule = "org.apache.spark.sql.catalyst.optimizer."
    own_rule = rule + "ReorderJoin"
    other = spark.newSession()
    other.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    other.conf.set(rules_key, own_rule)
    q = QUERIES["q_auc_by_group"]

    def rows(session):
        return sorted(map(tuple, q(session, SF_SMALL).collect()), key=repr)

    assert rows(other) == rows(spark)
    assert other.conf.get("spark.sql.session.timeZone") == "UTC"
    assert set(other.conf.get(rules_key).split(",")) == {
        own_rule, rule + "InferFiltersFromGenerate"}
    assert other.conf.get("spark.sql.parquet.compression.codec") == "zstd"
