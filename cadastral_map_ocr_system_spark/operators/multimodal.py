"""Multimodal column plumbing: image/audio/video as opaque binary
columns with typed metadata.

Images: PNG payloads decode for REAL (pure-Python codec over zlib,
functions/png.py — 8-bit gray/RGB, all scanline filters); non-PNG
bytes fall back to a deterministic fake decode so the plumbing stays
executable on arbitrary binaries. Audio: WAV/PCM payloads decode for
REAL too (pure-Python RIFF parser, functions/wav.py — 8/16-bit, any
channel count); non-WAV bytes get the same deterministic fake
fallback. A payload the codec rejects gives a null-feature row (1:1
stages) or no rows (1->N stages), never a task failure.

Pattern: one module-level row function per stage over (ref, payload)
or (ref, media_type, payload), run by the shared per-item Arrow loop
(mediapath.map_payloads). Mirrors the reference's image load + feature
extraction (OCR/src/detect.py:122-128, train_data_extractor.py:64-150)
generalized to any modality.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame

from ..functions.png import decode_png, is_png
from ..functions.wav import decode_wav, is_wav
from .mediapath import map_payloads

FRAME_ROWS = 16  # rows per sampled 'frame' band

MEDIA_META_ARROW = pa.schema(
    [
        pa.field("ref", pa.string()),
        pa.field("media_type", pa.string()),
        pa.field("n_bytes", pa.int64()),
        pa.field("sha256", pa.string()),
        pa.field("width", pa.int32()),
        pa.field("height", pa.int32()),
        pa.field("n_channels", pa.int32()),
        pa.field("n_frames", pa.int32()),
        pa.field("sample_rate", pa.int32()),
    ]
)

FRAME_FEATURES_ARROW = pa.schema(
    [
        pa.field("ref", pa.string()),
        pa.field("frame_idx", pa.int32()),
        pa.field("mean_intensity", pa.float64()),
        pa.field("std_intensity", pa.float64()),
    ]
)

TEXTURE_ARROW = pa.schema(
    [
        pa.field("ref", pa.string()),
        pa.field("mean_intensity", pa.float64()),
        pa.field("std_intensity", pa.float64()),
        pa.field("gradient_mean", pa.float64()),
        pa.field("entropy", pa.float64()),
    ]
)

AUDIO_FEATURES_ARROW = pa.schema(
    [
        pa.field("ref", pa.string()),
        pa.field("n_frames", pa.int32()),
        pa.field("sample_rate", pa.int32()),
        pa.field("rms", pa.float64()),
        pa.field("mean_amplitude", pa.float64()),
        pa.field("zero_crossing_rate", pa.float64()),
    ]
)


def _decode_image(payload: bytes) -> np.ndarray | None:
    """PNG payloads: real decode (functions/png.py), (h, w) or (h, w, c).
    Anything else: a deterministic fake (payload bytes reshaped
    square-ish) so plumbing tests run on arbitrary binaries; real
    deployments add codecs here. None when the PNG codec rejects the
    payload (corrupt chunk, IDAT stream, ...)."""
    if is_png(payload):
        try:
            return decode_png(payload)
        except ValueError:
            return None
    arr = np.frombuffer(payload, dtype=np.uint8)
    side = max(int(len(arr) ** 0.5), 1)
    return arr[: side * side].reshape(side, side)


def _decode_gray(payload: bytes) -> np.ndarray | None:
    img = _decode_image(payload)
    if img is None or img.ndim == 2:
        return img
    return img.mean(axis=2).astype(np.uint8)


def _decode_audio(payload: bytes) -> tuple[np.ndarray, int] | None:
    """WAV payloads: real decode (functions/wav.py, pure-Python RIFF
    PCM). Anything else: deterministic fake mono 8-bit stream so the
    plumbing stays executable on arbitrary binaries (same fallback
    discipline as _decode_image). None when the WAV codec rejects the
    payload (truncated chunk, non-PCM, ...)."""
    if is_wav(payload):
        try:
            return decode_wav(payload)
        except ValueError:
            return None
    return np.frombuffer(payload, dtype=np.uint8).reshape(-1, 1), 8000


def media_metadata_rows(ref: str, media_type: str, payload: bytes) -> list[dict]:
    """One item's typed metadata; the dimensions stay null when the
    codec rejects the payload, the byte-level fields never do."""
    row = {
        "ref": ref,
        "media_type": media_type,
        "n_bytes": len(payload),
        "sha256": hashlib.sha256(payload).hexdigest(),
    }
    if media_type == "audio":
        decoded = _decode_audio(payload)
        if decoded is not None:
            samples, rate = decoded
            row.update(
                n_channels=int(samples.shape[1]),
                n_frames=int(samples.shape[0]),
                sample_rate=int(rate),
            )
    elif media_type == "image":
        img = _decode_image(payload)
        if img is not None:
            row.update(
                width=int(img.shape[1]), height=int(img.shape[0]),
                n_channels=1 if img.ndim == 2 else int(img.shape[2]),
                n_frames=1,
            )
    return [row]


def media_metadata(df: DataFrame) -> DataFrame:
    """Per-item typed metadata from opaque binary payloads."""
    return map_payloads(
        df.select("ref", "media_type", "payload"), media_metadata_rows, MEDIA_META_ARROW
    )


def texture_rows(ref: str, payload: bytes) -> list[dict]:
    """One image's texture statistics (null features if rejected)."""
    gray = _decode_gray(payload)
    if gray is None:
        return [{"ref": ref}]
    img = gray.astype(np.float64)
    gx = np.abs(np.diff(img, axis=1)).mean() if img.shape[1] > 1 else 0.0
    gy = np.abs(np.diff(img, axis=0)).mean() if img.shape[0] > 1 else 0.0
    hist = np.bincount(gray.ravel(), minlength=256).astype(np.float64)
    p = hist[hist > 0] / hist.sum()
    return [
        {
            "ref": ref,
            "mean_intensity": float(img.mean()),
            "std_intensity": float(img.std()),
            "gradient_mean": float(gx + gy),
            "entropy": float(-(p * np.log2(p)).sum()),
        }
    ]


def texture_features(df: DataFrame) -> DataFrame:
    """A5/A9 full texture statistics per image (reference
    train_data_extractor.py:137-150): mean/std intensity, mean absolute
    gradient (|dx|+|dy| forward differences), and 256-bin histogram
    entropy (bits)."""
    return map_payloads(df.select("ref", "payload"), texture_rows, TEXTURE_ARROW)


def audio_rows(ref: str, payload: bytes) -> list[dict]:
    """One clip's audio statistics (null features if rejected)."""
    decoded = _decode_audio(payload)
    if decoded is None:
        return [{"ref": ref}]
    samples, rate = decoded
    x = samples.astype(np.float64)
    if samples.dtype == np.uint8:
        x -= 128.0  # center unsigned 8-bit at zero
    ch0 = x[:, 0]
    crossings = (
        float(np.count_nonzero(np.signbit(ch0[1:]) != np.signbit(ch0[:-1])))
        / max(len(ch0) - 1, 1)
    )
    return [
        {
            "ref": ref,
            "n_frames": int(samples.shape[0]),
            "sample_rate": int(rate),
            "rms": float(np.sqrt((x**2).mean())) if x.size else 0.0,
            "mean_amplitude": float(np.abs(x).mean()) if x.size else 0.0,
            "zero_crossing_rate": crossings,
        }
    ]


def audio_features(df: DataFrame) -> DataFrame:
    """Per-clip audio statistics (the texture_features analogue for the
    audio modality): RMS and mean of the centered signal plus the
    zero-crossing rate of channel 0 — all vectorized numpy over the
    decoded PCM frames."""
    return map_payloads(df.select("ref", "payload"), audio_rows, AUDIO_FEATURES_ARROW)


def frame_sample_rows(ref: str, payload: bytes) -> list[dict]:
    """One image's per-frame intensity rows (none if rejected)."""
    gray = _decode_gray(payload)
    if gray is None:
        return []
    rows = []
    for frame_idx, y in enumerate(range(0, gray.shape[0], FRAME_ROWS)):
        band = gray[y : y + FRAME_ROWS].astype(np.float64)
        rows.append(
            {
                "ref": ref,
                "frame_idx": frame_idx,
                "mean_intensity": float(band.mean()),
                "std_intensity": float(band.std()),
            }
        )
    return rows


def frame_sample_features(df: DataFrame) -> DataFrame:
    """1->N emission: sample 'frames' (row-bands of FRAME_ROWS rows of
    the decoded grid) and emit per-frame intensity features — the
    video-frame-sampling shape with the codec stubbed."""
    return map_payloads(
        df.select("ref", "payload"), frame_sample_rows, FRAME_FEATURES_ARROW
    )
