"""Multimodal columns: image/audio/video as opaque ``binary`` columns with
typed metadata, processed by Arrow-batched pandas UDFs over mapInPandas.

The decode step is STUBBED (no image/audio libs in this container): a
clearly-marked seam where PIL/librosa/ffmpeg would plug in, with a
deterministic fake implementation so the Spark-side plumbing — schema,
partitioning, UDF signature, batch shape — is real and tested.

At 100 TB the pattern is: binary payloads stay in parquet (or are
pointers into object storage), partitions are sized by
``spark.sql.files.maxPartitionBytes`` so a batch of payloads fits executor
memory, and every transform is mapInPandas (one Python worker per
partition, Arrow transfer, zero per-row overhead).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    FloatType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..schemas import require_columns

MEDIA_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("payload", BinaryType()),
    StructField("media_type", StringType()),
    StructField("declared_bytes", LongType()),
])

FEATURE_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("media_type", StringType()),
    StructField("n_bytes", LongType()),
    StructField("checksum", LongType()),
    StructField("feat_mean", DoubleType()),
    StructField("feat_std", DoubleType()),
])


def attach_binary_payload(df: DataFrame, id_col: str, text_col: str,
                          media_type: str = "image/fake") -> DataFrame:
    """Build a media table from any source column: payload = utf-8 bytes
    (stand-in for real image/audio payloads), plus typed metadata.  In a
    real pipeline this is the parquet scan of the media table itself."""
    require_columns(df, [id_col, text_col], "attach_binary_payload")
    return df.select(
        F.col(id_col).alias("media_id"),
        F.encode(F.col(text_col), "utf-8").alias("payload"),
        F.lit(media_type).alias("media_type"),
        F.octet_length(F.col(text_col)).cast("long").alias("declared_bytes"))


def _decode_stub(payload: bytes) -> list[float]:
    """THE DECODE SEAM.  Real implementation would be e.g.
    ``np.asarray(PIL.Image.open(io.BytesIO(payload)))`` — the libs are not
    in this container.  Deterministic fake: the byte values themselves act
    as the "pixel" intensities, so downstream feature math is real and
    reproducible.  Replace body; keep signature."""
    return [float(b) for b in payload[:256]]


def decode_image_real(payload: bytes) -> list[float]:
    """The REAL image decode for the seam (r11, env-gated): PIL decode
    to grayscale ("L" — one intensity per pixel, the same value shape
    the stub fakes from raw bytes), flattened row-major.  PIL imports
    INSIDE the function so the pickled mapInPandas closure only needs
    it on workers that actually run this decoder; environments without
    PIL keep the stub (the CI path — the sandbox has no codecs, so the
    one test exercising this decoder importorskips with that reason).
    Same signature as :func:`_decode_stub`: plug into any ``decoder=``
    seam below."""
    import io

    from PIL import Image

    with Image.open(io.BytesIO(payload)) as im:
        gray = im.convert("L")
        return [float(v) for v in gray.getdata()]


def extract_features(df: DataFrame, batch_hint: int = 64,
                     decoder=None) -> DataFrame:
    """Decode + feature-extract via mapInPandas: one Arrow batch in, one
    out; byte length, a checksum, and simple intensity stats per payload.
    The UDF never sees single rows — ``iterator`` semantics let one Python
    worker stream an entire partition.  ``decoder`` swaps the decode
    seam (default the deterministic stub; pass
    :func:`decode_image_real` for PIL) — the output schema is identical
    either way."""
    decode = decoder or _decode_stub

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for mid, payload, mtype in zip(pdf["media_id"], pdf["payload"],
                                           pdf["media_type"]):
                raw = bytes(payload)
                vals = decode(raw)
                n = len(vals)
                mean = sum(vals) / n if n else 0.0
                var = (sum((v - mean) ** 2 for v in vals) / n) if n else 0.0
                feats.append({
                    "media_id": int(mid),
                    "media_type": str(mtype),
                    "n_bytes": len(raw),
                    "checksum": sum(raw) % (1 << 31),
                    "feat_mean": mean,
                    "feat_std": var ** 0.5,
                })
            yield pd.DataFrame(feats, columns=[f.name for f in FEATURE_SCHEMA])

    return df.mapInPandas(run, schema=FEATURE_SCHEMA)


RESIZE_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("resized", ArrayType(FloatType())),
])


def resize_payloads(df: DataFrame, size: int = 16) -> DataFrame:
    """The "resize" transform shape: decode each payload and average-pool
    the intensity sequence down to a fixed ``size``-vector — the
    downsample-before-embed step every image pipeline runs, as the same
    mapInPandas seam as :func:`extract_features` (real resize = PIL
    ``Image.resize`` in the decode stub; the pooling math stays).
    Returns (media_id, resized: array<float> of length ``size``)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                vals = _decode_stub(bytes(payload))
                if not vals:
                    out.append({"media_id": int(mid),
                                "resized": [0.0] * size})
                    continue
                # average-pool into `size` equal buckets (ragged tail)
                n = len(vals)
                pooled = []
                for b in range(size):
                    lo, hi = (b * n) // size, ((b + 1) * n) // size
                    seg = vals[lo:hi] or [vals[min(lo, n - 1)]]
                    pooled.append(float(sum(seg) / len(seg)))
                out.append({"media_id": int(mid), "resized": pooled})
            yield pd.DataFrame(out, columns=["media_id", "resized"])

    return df.mapInPandas(run, schema=RESIZE_SCHEMA)


def explode_frames(df: DataFrame, frame_bytes: int = 32,
                   every_n: int = 1) -> DataFrame:
    """Frame EXTRACTION from the raw payload, fully JVM-side: treat the
    binary as fixed-size ``frame_bytes`` windows (a stand-in for fixed-
    size video frames), generate the stride-sampled frame indexes with
    ``sequence`` and slice with binary ``substring`` — rows fan out on the
    executors via posexplode, and the expensive *decode* (Python) is
    deferred to only the sampled frames.  Returns
    (media_id, frame_idx, frame: binary, n_bytes)."""
    require_columns(df, ["media_id", "payload", "declared_bytes"],
                    "explode_frames")
    n_frames = F.floor(F.col("declared_bytes") / frame_bytes).cast("int")
    idxs = F.filter(
        F.when(n_frames > 0, F.sequence(F.lit(0), n_frames - 1))
         .otherwise(F.array().cast("array<int>")),
        lambda i: i % every_n == 0)
    out = df.select("media_id", "payload",
                    F.explode(idxs).alias("frame_idx"))
    frame = F.expr(f"substring(payload, frame_idx * {frame_bytes} + 1, "
                   f"{frame_bytes})")
    return out.select(
        "media_id", F.col("frame_idx").cast("long").alias("frame_idx"),
        frame.alias("frame"),
        F.octet_length(frame).cast("long").alias("n_bytes"))


AHASH_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("ahash", LongType()),
])


def perceptual_ahash(df: DataFrame) -> DataFrame:
    """Perceptual average-hash over the decoded payload — the image
    near-dup fingerprint (aHash: threshold each downsampled block
    against the global mean; the simpler cousin of DCT pHash, and the
    media analog of SimHash for text).  Decode runs at the same
    mapInPandas seam as :func:`extract_features`; the 64 block bits use
    INTEGER cross-multiplication (block_sum · n_pixels > total_sum ·
    block_n) so the threshold has no float ties and a SQL engine
    reproduces the hash bit-for-bit (q_media_ahash's oracle).  Returns
    (media_id, ahash: int64)."""
    require_columns(df, ["media_id", "payload"], "perceptual_ahash")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                px = [int(round(v)) for v in _decode_stub(bytes(payload))]
                n = len(px)
                total = sum(px)
                h = 0
                for blk in range(64):
                    seg = px[blk * 4:(blk + 1) * 4]
                    if seg and sum(seg) * n > total * len(seg):
                        h |= 1 << blk
                if h >= 1 << 63:   # wrap to signed int64 (bit 63 set)
                    h -= 1 << 64
                out.append({"media_id": int(mid), "ahash": h})
            yield pd.DataFrame(out, columns=["media_id", "ahash"])

    return df.mapInPandas(run, schema=AHASH_SCHEMA)


def ahash_band_cols(hash_col: str, bands: int = 4) -> list:
    """The band-key expressions for a 64-bit fingerprint, shared by the
    pairing join and any query exposing band keys so the two can never
    drift: band b = arithmetic-shift right by b·width then mask (the
    mask strips the propagated sign bits, so the keys are sign-safe)."""
    width = 64 // bands
    mask = (1 << width) - 1
    return [(F.shiftright(F.col(hash_col), b * width)
              .bitwiseAND(F.lit(mask))).alias(f"band{b}")
            for b in range(bands)]


def ahash_near_dup_pairs(hashes: DataFrame, bands: int = 4,
                         max_hamming: int = 3) -> DataFrame:
    """Media near-dup candidate pairs from aHash fingerprints — the
    SimHash banding discipline on binary media: with ``max_hamming <
    bands``, pigeonhole guarantees the differing bits cannot touch every
    band, so two hashes within the threshold agree EXACTLY on ≥1 band
    and candidates come from ``bands`` equi-joins on band values — never
    an all-pairs scan (recall 1.0 under that condition; a larger
    threshold trades recall, like SimHash's banded tier).  The exact
    Hamming filter is one codegen ``bit_count(xor)``.  Returns
    (media_a, media_b, hamming) distinct pairs, a < b."""
    require_columns(hashes, ["media_id", "ahash"], "ahash_near_dup_pairs")
    if bands < 1 or 64 % bands != 0:
        raise ValueError(
            f"ahash_near_dup_pairs: bands={bands} must divide 64 — "
            "trailing bits would be silently excluded from every band "
            "key (and width 0 would put the whole corpus in one "
            "bucket, an all-pairs join)")
    # pin the mapInPandas decode+hash stage ONCE: the band self-join's
    # two sides would otherwise each re-run the Python seam — the most
    # expensive stage of the query — over the whole media table
    hashes = hashes.localCheckpoint(eager=True)
    banded = hashes.select(
        "media_id", "ahash",
        F.posexplode(F.array(*ahash_band_cols("ahash", bands)))
         .alias("band", "band_val"))
    a = banded.select(F.col("media_id").alias("media_a"),
                      F.col("ahash").alias("__ha"), "band", "band_val")
    b = banded.select(F.col("media_id").alias("media_b"),
                      F.col("ahash").alias("__hb"), "band", "band_val")
    return (a.join(b, ["band", "band_val"])
             .filter(F.col("media_a") < F.col("media_b"))
             .withColumn("hamming",
                         F.bit_count(F.col("__ha")
                                      .bitwiseXOR(F.col("__hb"))))
             .filter(F.col("hamming") <= max_hamming)
             .select("media_a", "media_b", "hamming")
             .distinct())
