"""Geometry rules: shape scalars as built-in column expressions, the
IoU leaf of the NMS/evaluation stages, and the greedy-dedup thresholds
(the dedup distance is inline in mediapath.greedy_dedup_payload, the
line angle in mediapath._line_geometry).
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

# greedy-dedup spatial threshold (detect.py:398, 405-406;
# OCR/config/detection_params.json:117-118)
DEDUP_MAX_DIST = 30.0
DEDUP_SIM_THRESHOLD = 0.8
DEDUP_NUM_DELTA = 1.0


def circularity(area: Column, perimeter: Column) -> Column:
    """4*pi*A/P^2 (symbol_detector.py:149-153)."""
    return F.lit(4.0 * math.pi) * area / F.pow(perimeter, 2)


def aspect_ratio(w: Column, h: Column) -> Column:
    return w / F.greatest(h, F.lit(1))


def py_iou(a: tuple, b: tuple) -> float:
    """Intersection-over-union of two xywh boxes (detect.py:1438-1463)."""
    ax, ay, aw, ah = a
    bx, by, bw, bh = b
    ix = max(min(ax + aw, bx + bw) - max(ax, bx), 0)
    iy = max(min(ay + ah, by + bh) - max(ay, by), 0)
    inter = ix * iy
    union = aw * ah + bw * bh - inter
    return inter / max(union, 1e-9)
