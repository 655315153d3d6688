"""Greedy IoU overlap suppression (NMS) — reference W4
(OCR/src/detect.py:1421-1463, process_map.py:136-168,
comprehensive_detector.py:267-297): sort by confidence desc, drop any
box whose IoU with a kept box exceeds the threshold.

In the main pipeline this is structurally unnecessary (connected
components are pixel-disjoint), so it ships as a standalone grouped
operator for overlapping detector outputs (e.g. multi-scale template
matching, SURVEY.md §2.4 J1). Greedy + order-dependent => grouped-map
applyInPandas per image/payload.
"""

from __future__ import annotations

import pandas as pd

DEFAULT_IOU_THRESHOLD = 0.3  # detect.py:1421-1424


def py_nms(
    boxes: list[tuple[float, float, float, float]],
    confs: list[float],
    threshold: float = DEFAULT_IOU_THRESHOLD,
) -> list[int]:
    """Indices of kept boxes (xywh), greedy by conf desc; ties broken by
    box geometry (x, y, w, h) — a total order over the values themselves,
    so survivors are identical at any shuffle order / parallelism."""
    from ..functions.geometry import py_iou

    order = sorted(range(len(boxes)), key=lambda i: (-confs[i], boxes[i]))
    kept: list[int] = []
    for i in order:
        if all(py_iou(boxes[i], boxes[j]) <= threshold for j in kept):
            kept.append(i)
    return sorted(kept)


def nms_boxes(df, group_cols=("doc_id", "offset"), threshold: float = DEFAULT_IOU_THRESHOLD):
    """DataFrame NMS: rows (group..., x, y, w, h, conf, ...) -> survivors.

    One group per payload; group payloads are bounded by one image's
    detections, so the grouped map never holds more than that.
    """
    schema = df.schema

    def _one(pdf: pd.DataFrame) -> pd.DataFrame:
        boxes = list(zip(pdf["x"], pdf["y"], pdf["w"], pdf["h"]))
        keep = py_nms(boxes, list(pdf["conf"]), threshold)
        return pdf.iloc[keep]

    return df.groupBy(*group_cols).applyInPandas(_one, schema=schema)
