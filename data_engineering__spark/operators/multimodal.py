"""Multimodal binary columns (SURVEY §2.12 L5 + EXT mandate).

Images/audio/video are opaque ``binary`` columns + typed metadata structs.
The Spark-side plumbing — schema, partitioning, Arrow batch shape, UDF
signatures — is real and tested. The decode kernels are CODEC-GUARDED:
when PIL is importable the image kernels decode/resize real pixels; when it
is not (this container), they fall back to clearly-marked deterministic
fakes behind the same interface. Audio/video kernels stay deterministic
fakes pending soundfile/pyav (same guard pattern, same plan either way).

Scale notes:
- binary payloads ride in parquet/Arrow pages; NEVER groupBy/shuffle on a
  binary body — shuffle metadata + content hash instead, join bodies back by
  id afterwards.
- decode/feature-extract runs in ``mapInPandas``: one Arrow batch per call,
  bounded memory via ``spark.sql.execution.arrow.maxRecordsPerBatch``;
  repartition upstream so batches are even (media sizes are heavy-tailed).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Canonical multimodal record: opaque payload + typed metadata.
MEDIA_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("modality", T.StringType(), False),      # image | audio | video
    T.StructField("mime_type", T.StringType(), True),
    T.StructField("content", T.BinaryType(), True),         # opaque payload
    T.StructField("meta", T.StructType([                    # typed metadata
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.LongType(), True),
        T.StructField("sample_rate", T.IntegerType(), True),
    ]), True),
])

FEATURE_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("modality", T.StringType(), False),
    T.StructField("content_sha", T.StringType(), True),
    T.StructField("n_bytes", T.LongType(), True),
    T.StructField("feature", T.ArrayType(T.DoubleType()), True),
])


def synthesize_media(spark: SparkSession, n: int = 64, seed: int = 42,
                     key_mod: int | None = None) -> DataFrame:
    """Deterministic fake media table for tests (no codec libs in container):
    payload bytes are a seeded function of media_id, so every test run and
    every executor sees identical data. ``key_mod`` derives the payload
    from ``media_id % key_mod`` instead — planting exact duplicate
    payloads under distinct ids (the near-dup fixtures)."""
    payload_key = (F.col("id") % key_mod if key_mod else F.col("id")) \
        .cast("string")
    df = spark.range(n).select(
        F.col("id").alias("media_id"),
        F.element_at(F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
                     (F.col("id") % 3 + 1).cast("int")).alias("modality"),
        F.lit("application/octet-stream").alias("mime_type"),
        F.encode(F.sha2(F.concat(F.lit(str(seed)), payload_key), 256),
                 "utf-8").cast("binary").alias("content"),
    )
    return df.withColumn("meta", F.struct(
        F.lit(64).alias("width"), F.lit(64).alias("height"),
        (F.col("media_id") * 1000).alias("duration_ms"),
        F.lit(16000).alias("sample_rate")))


def _pil():
    """Codec guard: the PIL ``Image`` module when installed, else ``None``.

    Import is retried per process (executor workers are separate
    interpreters) but memoized after first success/failure. Tests can
    monkeypatch this to a stub module to exercise the real-codec wiring
    without PIL installed.
    """
    global _PIL_IMAGE
    if _PIL_IMAGE is _UNRESOLVED:
        try:
            from PIL import Image  # not in this container; guarded
            _PIL_IMAGE = Image
        except ImportError:
            _PIL_IMAGE = None
    return _PIL_IMAGE


_UNRESOLVED = object()
_PIL_IMAGE = _UNRESOLVED


def _decode_kernel(content: bytes, modality: str) -> list[float]:
    """Decode kernel: REAL pixels when PIL is importable, deterministic
    fake otherwise.

    Real image path: decode → grayscale → 16×16 thumbnail → 8 stripe-mean
    floats (a tiny perceptual signature; swap in a model embedding in a
    real deployment — the interface, batch shape, and schema are the
    contract). Payloads PIL can't parse, non-image modalities, and
    codec-less environments all take the deterministic byte-derived fake,
    so the stage never fails on one bad payload. Audio/video real kernels
    pend soundfile/pyav behind the same guard pattern.
    """
    if content is None:
        # MEDIA_SCHEMA declares content nullable; FEATURE_SCHEMA allows a
        # NULL feature — a null payload degrades to a null feature row
        # instead of failing the whole mapInPandas stage.
        return None
    if modality == "image":
        image_mod = _pil()
        if image_mod is not None:
            try:
                import io
                img = image_mod.open(io.BytesIO(content))
                img = img.convert("L").resize((16, 16))
                px = list(img.getdata())
                acc = [0.0] * 8
                for i, v in enumerate(px):
                    acc[i % 8] += float(v)
                stripe = len(px) / 8.0
                return [round(v / stripe / 255.0, 6) for v in acc]
            except Exception:
                pass  # undecodable payload → deterministic fallback below
    acc = [0.0] * 8
    for i, byte in enumerate(content[:256]):
        acc[i % 8] += float(byte)
    return [round(v / 255.0, 6) for v in acc]


def extract_features(media: DataFrame) -> DataFrame:
    """L5 feature extraction over ``mapInPandas`` (1→1 rows, Arrow-batched).

    The pandas function receives an iterator of record batches — constant
    memory regardless of partition size. Binary bodies never shuffle: this
    is a map-only stage.
    """
    import hashlib

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pd.DataFrame({
                "media_id": pdf["media_id"],
                "modality": pdf["modality"],
                "content_sha": pdf["content"].map(
                    lambda b: hashlib.sha256(bytes(b)).hexdigest() if b is not None else None),
                "n_bytes": pdf["content"].map(lambda b: len(b) if b is not None else 0).astype("int64"),
                "feature": [
                    _decode_kernel(bytes(c) if c is not None else None, m)
                    for c, m in zip(pdf["content"], pdf["modality"])
                ],
            })
            yield out

    return media.mapInPandas(run, schema=FEATURE_SCHEMA)


def frame_sample_plan(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """L5 video frame-sampling PLAN: 1→N row expansion computed from typed
    metadata (duration), with the frame DECODE left to the stubbed kernel.
    The expansion itself is codegen (sequence + explode) — the expensive
    part at scale is planned correctly even with a fake decoder."""
    frames = F.sequence(F.lit(0), F.greatest(
        (F.col("meta.duration_ms") / every_ms).cast("long") - 1, F.lit(0)))
    return (media.filter(F.col("modality") == "video")
            .select("media_id", F.explode(frames).alias("frame_idx"))
            .withColumn("frame_ts_ms", F.col("frame_idx") * every_ms))


def _resize_kernel(content: bytes, width: int, height: int) -> bytes:
    """Resize one image payload: REAL ``PIL.Image.resize`` + PNG re-encode
    when PIL is importable AND the payload decodes; deterministic digest
    fake otherwise (same guard pattern as ``_decode_kernel``)."""
    image_mod = _pil()
    if image_mod is not None:
        try:
            import io
            img = image_mod.open(io.BytesIO(content))
            buf = io.BytesIO()
            img.resize((width, height)).save(buf, format="PNG")
            return buf.getvalue()
        except Exception:
            pass  # undecodable payload → deterministic fallback below
    import hashlib
    return hashlib.sha256(content + f"{width}x{height}".encode()).digest()


def resize_images(media: DataFrame, width: int, height: int) -> DataFrame:
    """L5 image resize over ``mapInPandas`` — codec-guarded kernel
    (``_resize_kernel``: real PIL resize when installed, deterministic
    digest fake in this container). Tests pin the plumbing either way:
    same MEDIA_SCHEMA out, ``meta.width/height`` rewritten to the target,
    non-image rows pass through untouched, NULL payload → NULL payload
    (stage survives).

    Scale: map-only (no shuffle of binary bodies); output payload size is
    bounded by the target dims in the real kernel, so this stage SHRINKS
    the data — run it before any wide op that carries content."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            is_img = pdf["modality"] == "image"
            pdf = pdf.copy()
            pdf["content"] = [
                (_resize_kernel(bytes(c), width, height)
                 if img and c is not None else c)
                for c, img in zip(pdf["content"], is_img)]
            pdf["meta"] = [
                ({**m, "width": width, "height": height} if img and m is not None
                 else m)
                for m, img in zip(pdf["meta"], is_img)]
            yield pdf

    return media.mapInPandas(run, schema=media.schema)


def phash_bits(feature_col, n_bits: int = 8):
    """EXT (R187, round 6): perceptual-hash bits from a feature vector —
    bit i set iff feature[i] exceeds the vector's own mean (the
    average-hash construction; a DCT pHash or model embedding slots into
    the same shape). Pure codegen over the feature array: explicit
    left-associated sum for the mean so the float comparisons are
    engine-identical."""
    mean = sum((F.element_at(feature_col, i + 1) for i in range(n_bits)),
               F.lit(0.0)) / float(n_bits)
    bits = F.lit(0).cast("long")
    for i in range(n_bits):
        bits = bits + F.when(F.element_at(feature_col, i + 1) > mean,
                             F.lit(1 << i).cast("long")) \
                       .otherwise(F.lit(0).cast("long"))
    return bits


def media_near_dup_pairs(media: DataFrame) -> DataFrame:
    """EXT (R187): media near-duplicate candidate pairs by perceptual
    hash — features via the Arrow decode kernel, an average-hash
    signature per item, and a signature-equality self-join (the
    text-dedup banding discipline applied to media: candidates come
    from hash buckets, never an all-pairs feature comparison). With a
    real codec the same pipeline catches re-encoded/resized copies
    whose bytes differ but whose stripe signature agrees.

    Scale shape (100 TB): features are map-only; only (media_id, phash)
    longs shuffle for the bucket self-join — payloads never move."""
    feats = extract_features(media)
    sig = feats.select("media_id",
                       phash_bits(F.col("feature")).alias("phash"))
    a = sig.select(F.col("media_id").alias("id_a"), "phash")
    b = sig.select(F.col("media_id").alias("id_b"), "phash")
    return (a.join(b, "phash")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", "phash"))
