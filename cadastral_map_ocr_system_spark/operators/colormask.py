"""P5/P6 multi-channel color masks + color-family routing.

The reference classifies map content by ink color: red = survey
numbers, black = names/text, blue = water (OCR/src/detect.py:229-321),
building per-color masks with RGB/HSV inRange + morphological cleanup
(preprocess.py:39-64). Here: RGB inRange bands + 3x3 open/close
cleanup, a coverage ratio per color (A5), and a dominant-color router
for region bboxes — all pure numpy, exercised against RGB PNG payloads
decoded by functions/png.py.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame

from ..functions.colorroute import (  # noqa: F401  (re-exports: public API)
    COLOR_ROUTING,
    COLOR_THRESHOLDS,
    band_mask,
    dominant_color,
    route_category,
)
from ..functions.png import decode_png
from .mediapath import _resolve_payload, classify_token, extract_regions, map_payloads
from .normalize import morph_close, morph_open


def color_mask(img: np.ndarray, color: str) -> np.ndarray:
    """Boolean mask of pixels inside the color's RGB band, with 3x3
    open+close noise cleanup (preprocess.py:58-62). img: (h, w, 3)."""
    return morph_close(morph_open(band_mask(img, color)))


COLOR_ROUTE_ARROW = pa.schema(
    [
        pa.field("doc_id", pa.string()),
        pa.field("offset", pa.int32()),
        pa.field("region_idx", pa.int32()),
        pa.field("color", pa.string()),
        pa.field("category", pa.string()),
        pa.field("token", pa.string()),
        pa.field("accepted", pa.bool_()),
    ]
)


def color_route_rows(doc_id: str, offset: int, media_ref: str) -> list[dict]:
    """One payload's routing rows: per token region, its dominant ink
    color, the routed field category (red->number, black->name,
    blue->water; OCR/src/detect.py:226-330), and whether the category's
    validator accepted the cleaned token. Non-RGB payloads give no rows
    (no color information)."""
    from ..functions.text import py_clean_token
    from ..synth import decode_payload_any

    gray, img = decode_payload_any(_resolve_payload(media_ref))
    if img is None:
        return []
    rows = []
    for i, reg in enumerate(extract_regions(gray, open_mask=True)):
        if not reg["token"]:
            continue
        color = dominant_color(img, (reg["xmin"], reg["ymin"], reg["w"], reg["h"]))
        category = COLOR_ROUTING[color] if color else None
        clean = py_clean_token(reg["token"])
        rows.append(
            {
                "doc_id": doc_id,
                "offset": offset,
                "region_idx": i,
                "color": color,
                "category": category,
                "token": clean,
                "accepted": classify_token(clean, category) is not None,
            }
        )
    return rows


def color_route_features(media_spans_df: DataFrame) -> DataFrame:
    """mapInArrow stage: RGB media spans -> color_route_rows per payload."""
    return map_payloads(
        media_spans_df.select("doc_id", "offset", "media_ref"),
        color_route_rows,
        COLOR_ROUTE_ARROW,
    )


COLOR_COVERAGE_ARROW = pa.schema(
    [
        pa.field("ref", pa.string()),
        pa.field("color", pa.string()),
        pa.field("coverage", pa.float64()),
        pa.field("n_pixels", pa.int64()),
    ]
)


def color_coverage_rows(ref: str, payload: bytes) -> list[dict]:
    """One PNG payload's rows, one per color family, with the
    cleaned-mask coverage ratio (A5). A payload the PNG codec rejects gives
    no rows."""
    try:
        img = decode_png(payload)
    except ValueError:
        return []
    if img.ndim == 2:  # grayscale: treat as stacked gray RGB
        img = np.stack([img] * 3, axis=2)
    masks = {color: color_mask(img, color) for color in sorted(COLOR_THRESHOLDS)}
    return [
        {"ref": ref, "color": c, "coverage": float(m.mean()), "n_pixels": int(m.sum())}
        for c, m in masks.items()
    ]


def color_coverage_features(df: DataFrame) -> DataFrame:
    """DataFrame stage: (ref, payload[PNG-RGB]) -> one row per (ref,
    color family), see color_coverage_rows."""
    return map_payloads(
        df.select("ref", "payload"), color_coverage_rows, COLOR_COVERAGE_ARROW
    )
