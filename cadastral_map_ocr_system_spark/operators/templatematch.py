"""J1 media-side template matching: broadcast template set x payload.

Re-expresses the reference's symbol detection core — multi-scale
cv2.matchTemplate of reference glyphs against image blocks
(OCR/src/detect.py:1368-1416, symbol_detector.py:35-84,
comprehensive_detector.py:233-265) — Spark-first:

  - the template set is the SMALL side of the join: broadcast once via
    sparkContext.broadcast into the mapInArrow closure (the reference
    re-reads its symbol sheet per process);
  - candidate regions come from the connected-component segmentation
    already used by the token path, instead of sliding a window over
    every pixel: cv2 needs dense matchTemplate because it has no
    candidate generator, but component bboxes are exactly the loci a
    normalized score can exceed 0.85 on a binarized map — per-candidate
    scoring touches orders of magnitude fewer pixels at identical
    recall on binary payloads;
  - scoring = fraction of agreeing pixels between the component's own
    mask and the template NN-resized to the candidate bbox (the
    TM_CCOEFF_NORMED analogue on binary masks; multi-scale is implied
    by resizing to the candidate's size, detect.py:1376-1378);
  - the reference's 50%-overlap duplicate suppression
    (detect.py:1393-1404) is structurally unnecessary here (components
    are pixel-disjoint); operators/nms.py covers overlapping detector
    outputs.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from ..synth import decode_payload_any
from ..templates import MATCH_THRESHOLD, TEMPLATES, nn_resize
from .mediapath import _components, _resolve_payload, map_payloads

MATCH_MIN_AREA = 30       # contourArea > ~100*scale^2 gate, symbol_detector.py:72
MATCH_SIZE_RANGE = (6, 20)  # candidate bbox edge bounds, px

TEMPLATE_MATCH_ARROW = pa.schema(
    [
        pa.field("doc_id", pa.string()),
        pa.field("offset", pa.int32()),
        pa.field("match_idx", pa.int32()),
        pa.field("media_ref", pa.string()),
        pa.field("template", pa.string()),
        pa.field("x", pa.int32()),
        pa.field("y", pa.int32()),
        pa.field("w", pa.int32()),
        pa.field("h", pa.int32()),
        pa.field("scale", pa.float64()),
        pa.field("score", pa.float64()),
    ]
)


def match_components(
    grid: np.ndarray,
    templates: dict[str, np.ndarray] | None = None,
    threshold: float = MATCH_THRESHOLD,
    min_area: int = MATCH_MIN_AREA,
    size_range: tuple[int, int] = MATCH_SIZE_RANGE,
    resize_cache: dict | None = None,
) -> list[dict]:
    """All (component, template) matches with score >= threshold,
    sorted by (y, x, template). Score is exact agreement fraction, so
    any engine reproduces it bit-for-bit.

    resize_cache: optional (template_name, h, w) -> resized-template
    memo. nn_resize is a pure function and candidate bboxes span only
    size_range^2 distinct shapes, so a task-lifetime cache turns the
    per-candidate resize (measured ~40% of this kernel's serial time)
    into a dict hit; pass one dict per task from the Arrow closure."""
    from .normalize import invert_if_negative

    templates = TEMPLATES if templates is None else templates
    cache = {} if resize_cache is None else resize_cache
    grid = invert_if_negative(grid)
    lo, hi = size_range
    out = []
    comps = _components(grid)
    hs = comps.ymax - comps.ymin + 1
    ws = comps.xmax - comps.xmin
    cand = (comps.area >= min_area) & (lo <= hs) & (hs <= hi) & (lo <= ws) & (ws <= hi)
    for k in np.flatnonzero(cand).tolist():
        mask = comps.crop(k)
        h, w = mask.shape
        x, y = int(comps.xmin[k]), int(comps.ymin[k])
        denom = h * w
        for name in sorted(templates):
            t = templates[name]
            key = (name, h, w)
            resized = cache.get(key)
            if resized is None:
                resized = cache[key] = nn_resize(t, h, w)
            score = int((resized == mask).sum()) / denom
            if score >= threshold:
                out.append(
                    {
                        "template": name,
                        "x": x, "y": y, "w": w, "h": h,
                        "scale": round(h / t.shape[0], 4),
                        "score": round(score, 6),
                    }
                )
    out.sort(key=lambda r: (r["y"], r["x"], r["template"]))
    return out


SHEET_CELL = 24  # glyph cell edge in a composed template sheet, px
SHEET_MIN_AREA = 20  # contour noise gate (symbol_detector.py:72 analogue)


def compose_template_sheet(
    templates: dict[str, np.ndarray] | None = None, fill: int = 200
) -> tuple[np.ndarray, list[str]]:
    """Build a 'reference symbol sheet' image: one glyph per cell in a
    single row band, alphabetical order (the fixture equivalent of the
    reference's datasets/symbols sheet). Returns (sheet, names)."""
    templates = TEMPLATES if templates is None else templates
    names = sorted(templates)
    sheet = np.zeros((SHEET_CELL, SHEET_CELL * len(names)), dtype=np.uint8)
    for i, name in enumerate(names):
        t = templates[name]
        y0 = (SHEET_CELL - t.shape[0]) // 2
        x0 = i * SHEET_CELL + (SHEET_CELL - t.shape[1]) // 2
        sheet[y0 : y0 + t.shape[0], x0 : x0 + t.shape[1]][t] = fill
    return sheet, names


def slice_template_sheet(
    sheet: np.ndarray, names: list[str], min_area: int = SHEET_MIN_AREA
) -> dict[str, np.ndarray]:
    """E5 template slicing (symbol_detector.py:35-84): binarize a
    symbol sheet, find its glyph components (contour analogue), crop
    each to its bbox mask, and assign names in left-to-right reading
    order. Round-trips compose_template_sheet exactly."""
    comps = _components(sheet)
    glyphs = np.flatnonzero(comps.area >= min_area)
    # stable: equal (xmin, ymin) keep raster order
    glyphs = glyphs[np.lexsort((comps.ymin[glyphs], comps.xmin[glyphs]))]
    if len(glyphs) != len(names):
        raise ValueError(
            f"sheet has {len(glyphs)} glyphs but {len(names)} names were given"
        )
    return {name: comps.crop(k) for name, k in zip(names, glyphs.tolist())}


def template_match_rows(
    doc_id: str, offset: int, media_ref: str, templates: dict, resize_cache: dict
) -> list[dict]:
    """One payload's template-match rows (see match_components)."""
    grid, _img = decode_payload_any(_resolve_payload(media_ref))
    return [
        {"doc_id": doc_id, "offset": offset, "match_idx": i, "media_ref": media_ref, **m}
        for i, m in enumerate(
            match_components(grid, templates, resize_cache=resize_cache)
        )
    ]


def template_match_features(media_spans_df, templates: dict | None = None):
    """DataFrame stage: exploded media spans -> template-match rows.

    The template dict is broadcast once (sc.broadcast) and resolved
    inside the Arrow closure — the J1 broadcast join, media side.
    """
    spark = media_spans_df.sparkSession
    bc = spark.sparkContext.broadcast(dict(templates or TEMPLATES))
    # nn_resize memo: the closure is unpickled once per task, so each
    # task gets its own dict
    resize_cache: dict = {}

    def rows(doc_id: str, offset: int, media_ref: str) -> list[dict]:
        return template_match_rows(doc_id, offset, media_ref, bc.value, resize_cache)

    return map_payloads(media_spans_df, rows, TEMPLATE_MATCH_ARROW)
