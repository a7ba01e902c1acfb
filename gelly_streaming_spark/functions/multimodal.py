"""Multimodal (image/audio/video) column plumbing.

Media are opaque ``binary`` columns with typed metadata — the Spark
side (schema, partitioning, Arrow batch shape, UDF signatures) is
real and tested. Decode/resize have two tiers per payload
(``decode_images`` / ``resize_images``):

1. uncompressed 24-bit BMP and binary PPM decode/resize for REAL via
   the pure-Python/numpy codecs in functions/codecs.py;
2. any other format: strict mode raises ``NotImplementedError`` and
   default mode produces a clearly-marked deterministic fake derived
   from the bytes (so pipelines and tests run end-to-end); the
   ``decoder`` column records which tier ran.

Everything crosses the JVM↔Python boundary via ``mapInPandas``
(Arrow-batched; never per-row Python). Batch size is governed by
``spark.sql.execution.arrow.maxRecordsPerBatch`` — for 100 TB of
media, set it low (e.g. 64) so a batch of multi-MB blobs fits in
executor memory, and partition the input by size
(``repartitionByRange(octet_length)``) to avoid straggler tasks.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gelly_streaming_spark.functions import codecs

MEDIA_SCHEMA = (
    "doc_id long, media binary, mime string, media_bytes long"
)

DECODED_SCHEMA = (
    "doc_id long, width int, height int, n_bytes long, phash long, decoder string"
)

FRAME_SCHEMA = "doc_id long, frame_idx int, frame_bytes long, frame_hash string"


def attach_fake_media(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Synthesize a deterministic binary media column from text (the
    sandbox has no real media) — the plumbing under test is the
    binary-column schema + metadata, which is identical for real
    payloads. Returns (doc_id, media binary, mime, media_bytes)."""
    return docs.select(
        "doc_id",
        F.encode(F.col(text_col), "UTF-8").alias("media"),
        F.lit("image/fake").alias("mime"),
        F.length(F.encode(F.col(text_col), "UTF-8")).cast("long").alias("media_bytes"),
    )


def _fake_decode(payload: bytes) -> tuple[int, int, int]:
    """Deterministic fake decode: (width, height, phash-ish) derived
    from the md5 of the payload. CLEARLY A STUB — replace with a real
    codec in production."""
    h = hashlib.md5(payload).digest()
    width = 64 + h[0] % 192  # 64..255
    height = 64 + h[1] % 192
    phash = int.from_bytes(h[2:10], "big", signed=False) >> 4  # 60 bits
    return width, height, phash


def decode_images(media: DataFrame, strict: bool = False) -> DataFrame:
    """Decode the binary column into image metadata + perceptual hash.

    Arrow-batched ``mapInPandas``; output schema ``DECODED_SCHEMA``.
    BMP/PPM decode for real via the built-in pure-Python codecs; any
    other format raises ``NotImplementedError`` in strict mode, and
    default mode emits the deterministic fake (decoder column says
    which path ran)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def decode(payload: bytes) -> tuple[int, int, int, str]:
            real = codecs.decode_any(payload)
            if real is not None:
                px, codec = real
                ph = int(hashlib.md5(px.tobytes()).hexdigest()[:15], 16)
                return px.shape[1], px.shape[0], ph, codec
            if strict:
                raise NotImplementedError(
                    "strict image decode: only uncompressed BMP/PPM "
                    "payloads decode (the built-in pure-Python codecs) "
                    "— run with strict=False for the deterministic stub"
                )
            w, h, ph = _fake_decode(payload)
            return w, h, ph, "fake"

        for pdf in it:
            out = {
                "doc_id": pdf["doc_id"].astype("int64"),
                "width": [],
                "height": [],
                "n_bytes": [],
                "phash": [],
                "decoder": [],
            }
            for payload in pdf["media"]:
                b = bytes(payload)
                w, h, ph, dec = decode(b)
                out["width"].append(w)
                out["height"].append(h)
                out["n_bytes"].append(len(b))
                out["phash"].append(ph)
                out["decoder"].append(dec)
            yield pd.DataFrame(out)

    return media.mapInPandas(batches, schema=DECODED_SCHEMA)


def sample_frames(media: DataFrame, n_frames: int = 4) -> DataFrame:
    """Frame-sample a "video" binary column: split the payload into
    ``n_frames`` even byte slices (STUB for keyframe extraction — the
    partitioning/batching/output-shape contract is the real part).
    Output ``FRAME_SCHEMA``, 0..n_frames rows per doc."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = {"doc_id": [], "frame_idx": [], "frame_bytes": [], "frame_hash": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["media"]):
                b = bytes(payload)
                if not b:
                    continue
                step = max(1, len(b) // n_frames)
                for i in range(min(n_frames, len(b))):
                    chunk = b[i * step : (i + 1) * step]
                    if not chunk:
                        break
                    rows["doc_id"].append(int(doc_id))
                    rows["frame_idx"].append(i)
                    rows["frame_bytes"].append(len(chunk))
                    rows["frame_hash"].append(hashlib.md5(chunk).hexdigest())
            yield pd.DataFrame(rows)

    return media.mapInPandas(batches, schema=FRAME_SCHEMA)


RESIZED_SCHEMA = (
    "doc_id long, width int, height int, out_width int, out_height int, "
    "resized binary, decoder string"
)


def resize_images(
    media: DataFrame, max_side: int = 224, strict: bool = False
) -> DataFrame:
    """Resize the binary image column to fit in a ``max_side`` square
    (aspect-preserving) — the standard pre-embedding normalization
    step of a multimodal training pipeline. Arrow-batched
    ``mapInPandas`` emitting a NEW binary column (``resized``), so the
    Spark-side contract — binary in, binary out, metadata alongside,
    bounded Arrow batches — is fully real. BMP/PPM payloads get a
    real resize; any other format raises in strict mode, and default
    mode emits a deterministic fake (payload truncated proportionally
    to the area ratio, decoder column marks the path)."""

    def batches(it) -> "Iterator[pd.DataFrame]":
        def resize(payload: bytes):
            # tiered like decode_images: BMP/PPM get a REAL pure-numpy
            # nearest-neighbor resize re-encoded in the same container
            real = codecs.decode_any(payload)
            if real is not None:
                px, codec = real
                h, w = px.shape[:2]
                scale = min(1.0, max_side / max(w, h))
                ow, oh = max(1, int(w * scale)), max(1, int(h * scale))
                out = codecs.encode_as(
                    codecs.nearest_resize(px, ow, oh), codec
                )
                return w, h, ow, oh, out, codec
            if strict:
                raise NotImplementedError(
                    "strict image resize: only uncompressed BMP/PPM "
                    "payloads resize (the built-in pure-Python codecs) "
                    "— run with strict=False for the deterministic stub"
                )
            w, h, _ = _fake_decode(payload)
            scale = min(1.0, max_side / max(w, h))
            ow, oh = max(1, int(w * scale)), max(1, int(h * scale))
            # fake "resize": keep a deterministic prefix sized by
            # the area ratio — CLEARLY A STUB
            keep = max(1, int(len(payload) * (ow * oh) / (w * h)))
            return w, h, ow, oh, payload[:keep], "fake"

        for pdf in it:
            rows = {
                "doc_id": [], "width": [], "height": [],
                "out_width": [], "out_height": [], "resized": [],
                "decoder": [],
            }
            for doc_id, payload in zip(pdf["doc_id"], pdf["media"]):
                w, h, ow, oh, out, dec = resize(bytes(payload))
                rows["doc_id"].append(int(doc_id))
                rows["width"].append(w)
                rows["height"].append(h)
                rows["out_width"].append(ow)
                rows["out_height"].append(oh)
                rows["resized"].append(out)
                rows["decoder"].append(dec)
            yield pd.DataFrame(rows)

    return media.mapInPandas(batches, schema=RESIZED_SCHEMA)


def media_metadata(media: DataFrame) -> DataFrame:
    """Pure-Catalyst metadata over the binary column (no Python):
    (doc_id, n_bytes, content_hash). The shape every downstream
    dedup/lineage step keys on."""
    return media.select(
        "doc_id",
        F.length("media").cast("long").alias("n_bytes"),
        F.md5("media").alias("content_hash"),
    )
