"""Multimodal binary-column operators (training-data pipeline).

Image/audio/video payloads are opaque ``binary`` columns. Input rows
carry ``media_id`` (long), ``kind`` (image | audio | video) and
``payload`` (binary) and are processed batch-wise via ``mapInPandas``
(Arrow transfer, bounded batches — never a row-at-a-time Python UDF).
Images decode with Pillow when it is installed (``HAVE_PILLOW``);
audio/video have no decoder library, so their kernels are stubs. The
Spark-side contract — schemas, batch shapes, partitioning, null
handling — is real and tested. Swapping in libav later changes only
the kernel body.

A deterministic fake decoder (``fake=True``) derives pseudo features
from the payload bytes so pipelines are testable end-to-end.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

FEATURES_SCHEMA = (
    "media_id long, kind string, width int, height int, n_frames int, "
    "duration_ms double, feature array<float>, decode_ok boolean, "
    "decode_error string"
)

FEATURE_DIM = 16


def _fake_decode(payload: bytes, kind: str):
    """Deterministic pseudo-decode: feature = normalized bytes of
    md5(payload) — stable across runs, no media libs needed."""
    h = hashlib.md5(payload or b"").digest()
    feat = (np.frombuffer(h, dtype=np.uint8).astype(np.float32) - 128.0) / 128.0
    w = 1 + h[0] % 64
    ht = 1 + h[1] % 64
    frames = 1 if kind == "image" else 1 + h[2] % 32
    dur = 0.0 if kind == "image" else float(h[3]) * 100.0
    return w, ht, frames, dur, feat.tolist()


try:  # pragma: no cover - exercised only where Pillow is installed
    from PIL import Image as _PILImage

    HAVE_PILLOW = True
except Exception:
    _PILImage = None
    HAVE_PILLOW = False


def _real_decode(payload: bytes, kind: str):
    """Image decode via Pillow when installed (audio/video still need
    libav — stubbed). Feature = FEATURE_DIM-bin normalized grayscale
    histogram: deterministic, library-version-stable."""
    if kind == "image" and HAVE_PILLOW:
        import io

        img = _PILImage.open(io.BytesIO(payload))
        img.load()
        gray = img.convert("L")
        hist = np.asarray(gray.histogram(), dtype=np.float64)  # 256 bins
        binned = hist.reshape(FEATURE_DIM, 256 // FEATURE_DIM).sum(axis=1)
        total = binned.sum()
        feat = (binned / total if total else binned).astype(np.float32)
        n_frames = int(getattr(img, "n_frames", 1))
        return img.width, img.height, n_frames, 0.0, feat.tolist()
    raise NotImplementedError(
        "real media decode requires Pillow (images) / libav (audio, "
        "video) — wire the library call here (contract: return "
        "(width, height, n_frames, duration_ms, feature[FEATURE_DIM]))"
    )


def extract_features(media: DataFrame, fake: bool = True) -> DataFrame:
    """Decode + featurize each media row; errors become
    (decode_ok=false, decode_error) rows instead of failing the batch —
    a 100 TB scan must survive corrupt payloads."""
    decode = _fake_decode if fake else _real_decode

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for mid, kind, payload in zip(b["media_id"], b["kind"], b["payload"]):
                try:
                    w, h, nf, dur, feat = decode(
                        bytes(payload) if payload is not None else b"", kind
                    )
                    rows.append((mid, kind, w, h, nf, dur, feat, True, None))
                except Exception as e:  # corrupt payload path
                    rows.append(
                        (mid, kind, None, None, None, None, None, False,
                         f"{type(e).__name__}: {e}"[:200])
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "kind", "width", "height", "n_frames",
                    "duration_ms", "feature", "decode_ok", "decode_error",
                ],
            )

    return media.mapInPandas(run, FEATURES_SCHEMA)


def frame_sample(media: DataFrame, every_n: int = 8, fake: bool = True) -> DataFrame:
    """Frame-sampling plumbing for video rows: emits one row per
    sampled frame index (real decoder would attach the frame bytes)."""
    feats = extract_features(media.filter(F.col("kind") == "video"), fake)
    return feats.filter(F.col("decode_ok")).select(
        "media_id",
        F.explode(
            F.sequence(F.lit(0), F.greatest(F.col("n_frames") - 1, F.lit(0)),
                       F.lit(every_n))
        ).alias("frame_idx"),
    )


RESIZED_SCHEMA = (
    "media_id long, kind string, width int, height int, payload binary, "
    "resize_ok boolean, resize_error string"
)


def resize(
    media: DataFrame, target_w: int, target_h: int, fake: bool = True
) -> DataFrame:
    """Resize plumbing for image rows (mapInPandas, Arrow batches).

    The real kernel is stubbed like decode (needs Pillow); the fake
    kernel deterministically clamps dims to the target and passes the
    payload through, so the Spark-side contract — schema, batching,
    error rows for corrupt payloads — is testable end-to-end."""

    def _fake_resize(payload: bytes):
        h = hashlib.md5(payload or b"").digest()
        w0, h0 = 1 + h[0] % 64, 1 + h[1] % 64
        return min(w0, target_w), min(h0, target_h), payload

    def _real_resize(payload: bytes):
        if HAVE_PILLOW:
            import io

            img = _PILImage.open(io.BytesIO(payload))
            img.load()
            # aspect-preserving fit inside the target box
            scale = min(target_w / img.width, target_h / img.height, 1.0)
            w = max(1, int(img.width * scale))
            h = max(1, int(img.height * scale))
            out = img.resize((w, h))
            buf = io.BytesIO()
            out.save(buf, format=img.format or "PNG")
            return w, h, buf.getvalue()
        raise NotImplementedError(
            "real image resize requires Pillow — wire it here (contract: "
            "return (new_w, new_h, resized_bytes))"
        )

    kernel = _fake_resize if fake else _real_resize

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for mid, kind, payload in zip(b["media_id"], b["kind"], b["payload"]):
                try:
                    w, h, out = kernel(
                        bytes(payload) if payload is not None else b""
                    )
                    rows.append((mid, kind, w, h, out, True, None))
                except Exception as e:
                    rows.append(
                        (mid, kind, None, None, None, False,
                         f"{type(e).__name__}: {e}"[:200])
                    )
            yield pd.DataFrame(
                rows,
                columns=["media_id", "kind", "width", "height", "payload",
                         "resize_ok", "resize_error"],
            )

    return media.filter(F.col("kind") == "image").mapInPandas(
        run, RESIZED_SCHEMA
    )
