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

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame

from ..functions.colorroute import (  # noqa: F401  (re-exports: public API)
    COLOR_ROUTING,
    COLOR_THRESHOLDS,
    band_mask,
    dominant_color,
    route_category,
)
from .normalize import morph_close, morph_open

COLOR_COVERAGE_SCHEMA = "ref string, color string, coverage double, n_pixels long"


def color_mask(img: np.ndarray, color: str, cleanup: bool = True) -> np.ndarray:
    """Boolean mask of pixels inside the color's RGB band, with 3x3
    open+close noise cleanup (preprocess.py:58-62). img: (h, w, 3)."""
    mask = band_mask(img, color)
    if cleanup:
        mask = morph_close(morph_open(mask))
    return mask


def color_coverage(img: np.ndarray) -> dict[str, float]:
    """A5 coverage ratio per color family."""
    return {
        color: float(color_mask(img, color).mean()) for color in COLOR_THRESHOLDS
    }


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
    from .mediapath import _resolve_payload, classify_token, extract_regions

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
    from .mediapath import map_payloads

    return map_payloads(media_spans_df, color_route_rows, COLOR_ROUTE_ARROW)


def color_coverage_features(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """DataFrame stage: (ref, payload[PNG-RGB]) -> one row per (ref,
    color family) with the cleaned-mask coverage ratio."""
    from ..functions.png import decode_png

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for ref, payload in zip(pdf["ref"], pdf[payload_col]):
                img = decode_png(bytes(payload))
                if img.ndim == 2:  # grayscale: treat as stacked gray RGB
                    img = np.stack([img] * 3, axis=2)
                for color in sorted(COLOR_THRESHOLDS):
                    m = color_mask(img, color)
                    rows.append(
                        {
                            "ref": ref,
                            "color": color,
                            "coverage": float(m.mean()),
                            "n_pixels": int(m.sum()),
                        }
                    )
            yield pd.DataFrame(rows)

    return df.mapInPandas(gen, schema=COLOR_COVERAGE_SCHEMA)
