"""Multimodal column plumbing: image/audio/video as opaque binary columns.

The Spark-side machinery (schemas, Arrow batch shapes, mapInPandas
signatures) is real and tested. Image decode is REAL for the formats
implementable without a codec library — PNG (stdlib zlib + the
five spec filters, ``codecs.py``), JPEG in every T.81 DCT process the
real web carries: baseline, progressive, 12-bit sequential
(``jpeg.py``), and arithmetic-coded sequential + progressive (SOF9/
SOF10 QM coder, ``jpeg_arith.py``),
GIF (LZW + interlacing, ``codecs.py``), baseline TIFF (none/PackBits/
LZW-early-change strips + horizontal predictor, ``tiff.py``) — selected
by magic-byte sniffing; anything else falls back to
``decode_image_stub``, a deterministic fake (dimensions and a checksum
derived from the bytes) that raises ``NotImplementedError`` when
``strict=True``.

Scale notes: media rows are orders of magnitude wider than text rows,
so decode runs in mapInPandas with small maxRecordsPerBatch and
re-splits oversize Arrow batches by ``batch_rows``.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

IMAGE_FEATURES_SCHEMA = (
    "media_id long, width int, height int, n_bytes long, checksum string, "
    "feature array<float>"
)


def native_image_backend():
    """Conditional native-decoder loader: returns a callable
    ``payload -> (width, height, channels, HxWxC uint8)`` backed by PIL
    when it is importable, else None. This is the seam a production
    deployment plugs libjpeg-turbo/libvips into — the pure-numpy codecs
    stay as the correctness oracle (tests cross-check the two whenever a
    native backend exists in the environment). The returned callable
    honors the decoder-boundary contract: malformed payload -> ValueError.
    """
    try:
        from PIL import Image  # noqa: PLC0415, F401
    except ImportError:
        return None

    def decode(payload: bytes):
        import io as _io  # noqa: PLC0415

        import numpy as np  # noqa: PLC0415
        from PIL import Image as _Image  # noqa: PLC0415

        try:
            im = _Image.open(_io.BytesIO(payload))
            im.load()
            if im.mode not in ("L", "RGB", "LA", "RGBA"):
                im = im.convert("RGB")
            arr = np.asarray(im, dtype=np.uint8)
        except Exception as exc:  # noqa: BLE001 — boundary normalization
            raise ValueError(f"native decode failed: {type(exc).__name__}: {exc}")
        if arr.ndim == 2:
            arr = arr[:, :, None]
        h, w, c = arr.shape
        return w, h, c, arr

    return decode


def _decode_image_any(payload: bytes, backend=None):
    """The one decode dispatch both pipelines use: injected native
    backend first (when provided), then the pure-numpy codecs by magic
    sniff. Raises ValueError when nothing can decode the payload."""
    from . import codecs, jpeg, tiff  # noqa: PLC0415

    if backend is not None:
        try:
            return backend(payload)
        except ValueError:
            pass  # fall through to the pure decoders
    if codecs.is_png(payload):
        return codecs.decode_png(payload)
    if jpeg.is_jpeg(payload):
        return jpeg.decode_jpeg(payload)
    if codecs.is_gif(payload):
        return codecs.decode_gif(payload)
    if tiff.is_tiff(payload):
        return tiff.decode_tiff(payload)
    raise ValueError("no decoder for payload")


def decode_image_stub(payload: bytes, strict: bool = False):
    """STUB decode. Real implementation would use PIL/libvips (not in this
    container). The deterministic fake derives (width, height, 8-dim
    feature) from the payload bytes so tests are reproducible."""
    if strict:
        raise NotImplementedError(
            "image decode requires a codec library not present in this environment"
        )
    digest = hashlib.md5(payload).digest()
    width = 16 + digest[0] % 64
    height = 16 + digest[1] % 64
    feature = [round(b / 255.0, 6) for b in digest[2:10]]
    return width, height, feature


def extract_image_features(
    media: DataFrame, batch_rows: int = 64, image_decoder=None
) -> DataFrame:
    """mapInPandas decode/feature pipeline with byte-aware batching.

    PNG/baseline-JPEG/GIF payloads (magic-sniffed) are decoded for real;
    other payloads use the deterministic stub. ``image_decoder`` injects
    a native backend (``payload -> (w, h, c, pixels)``, ValueError on
    failure) ahead of the pure decoders — pass
    ``native_image_backend()``'s result, or leave None for the pure path.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from . import codecs  # noqa: PLC0415

        for pdf in batches:
            # guard: re-split oversize Arrow batches by payload bytes
            start = 0
            while start < len(pdf):
                part = pdf.iloc[start : start + batch_rows]
                start += batch_rows
                out = {
                    "media_id": [],
                    "width": [],
                    "height": [],
                    "n_bytes": [],
                    "checksum": [],
                    "feature": [],
                }
                for media_id, raw in zip(part["media_id"], part["payload"]):
                    payload = bytes(raw or b"")
                    try:
                        w, h, ch, px = _decode_image_any(payload, image_decoder)
                        feat = codecs.image_features_from_pixels(w, h, ch, px)
                    except ValueError:
                        w, h, feat = decode_image_stub(payload)
                    out["media_id"].append(media_id)
                    out["width"].append(w)
                    out["height"].append(h)
                    out["n_bytes"].append(len(payload))
                    out["checksum"].append(hashlib.md5(payload).hexdigest())
                    out["feature"].append(feat)
                yield pd.DataFrame(out)

    return media.filter(F.col("kind") == "image").mapInPandas(
        run, IMAGE_FEATURES_SCHEMA
    )


def frame_sample_plan(media: DataFrame, every_n_seconds: int = 5) -> DataFrame:
    """Video frame-sampling PLAN: emits (media_id, frame_ts) rows from the
    declared duration metadata, without decoding the payload. Pure JVM
    (sequence + explode)."""
    duration = F.coalesce(
        F.element_at(F.col("meta"), "duration_s").cast("int"), F.lit(0)
    )
    return (
        media.filter(F.col("kind") == "video")
        .select(
            "media_id",
            F.explode(
                F.sequence(F.lit(0), duration, F.lit(every_n_seconds))
            ).alias("frame_ts"),
        )
    )


RESIZED_SCHEMA = "media_id long, width int, height int, payload binary"


def resize_images(
    media: DataFrame, out_w: int, out_h: int, batch_rows: int = 64,
    image_decoder=None,
) -> DataFrame:
    """Decode (PNG/JPEG/GIF) -> nearest-neighbor resize -> re-encode PNG.

    The standard pre-training normalization step (fixed input dims).
    Payloads the codecs cannot decode are dropped (they'd need the
    stubbed native path); output payloads are always PNG so downstream
    stages face ONE format. ``image_decoder`` injects a native backend
    ahead of the pure decoders (see native_image_backend).
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from . import codecs  # noqa: PLC0415

        for pdf in batches:
            start = 0
            while start < len(pdf):
                part = pdf.iloc[start : start + batch_rows]
                start += batch_rows
                rows = []
                for media_id, raw in zip(part["media_id"], part["payload"]):
                    payload = bytes(raw or b"")
                    try:
                        _w, _h, _c, px = _decode_image_any(
                            payload, image_decoder
                        )
                    except ValueError:
                        continue
                    resized = codecs.resize_nearest(px, out_w, out_h)
                    rows.append(
                        {
                            "media_id": media_id,
                            "width": out_w,
                            "height": out_h,
                            "payload": codecs.encode_png(resized),
                        }
                    )
                yield pd.DataFrame(
                    rows,
                    columns=["media_id", "width", "height", "payload"],
                )

    return media.filter(F.col("kind") == "image").mapInPandas(
        run, RESIZED_SCHEMA
    )
