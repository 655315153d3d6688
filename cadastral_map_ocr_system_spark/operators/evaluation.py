"""Detection-vs-ground-truth evaluation: greedy IoU theta-join + metrics.

Reference J2 (OCR/src/validate_detection.py:54-137,
model_evaluation.py:75-148): each detection is matched to the best
still-unmatched ground-truth box with IoU above a per-category
threshold (terrain 0.2 ... water 0.3); matches are TPs, unmatched
detections FPs, unmatched GT boxes FNs; precision/recall/F1 per
category (A11, model_evaluation.py:58-73).

Greedy best-first matching is order-dependent, so it cannot be a pure
relational join: it runs as a COGROUPED map — detections and ground
truth are co-partitioned on (doc_id, offset) and matched per payload
in pandas. The metric aggregation is plain groupBy arithmetic.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.geometry import py_iou

#: per-category IoU thresholds of the categories the pipeline emits:
#: numbers ('survey') take the reference's terrain 0.2 and place names
#: ('place') its water 0.3 (validate_detection.py:110-117); any other
#: category falls back to FALLBACK_THRESHOLD
IOU_THRESHOLDS = {"survey": 0.2, "place": 0.3}
FALLBACK_THRESHOLD = 0.25

MATCH_SCHEMA = (
    "doc_id string, offset int, category string, outcome string, "
    "det_idx int, gt_idx int, iou double"
)


def greedy_iou_match(detections: DataFrame, ground_truth: DataFrame) -> DataFrame:
    """Match detections to GT per (doc_id, offset, category), with
    IoU above the category's IOU_THRESHOLDS entry.

    Input columns (both): doc_id, offset, category, idx, x, y, w, h
    [detections also: conf]. Output: one row per detection (outcome
    tp/fp) and per unmatched GT box (outcome fn).
    """
    # Defensive re-alias: if detections and ground_truth derive from one
    # plan (e.g. gt = det.drop(...)), both sides share attribute IDs and
    # Spark's cogroup attribute-deduplication can strip the right side's
    # columns entirely (observed on Spark 4.1: 62-row, 0-column pandas
    # frames). Fresh Alias expressions give each side distinct IDs.
    detections = detections.select(
        *[F.col(c).alias(c) for c in detections.columns]
    )
    ground_truth = ground_truth.select(
        *[F.col(c).alias(c) for c in ground_truth.columns]
    )

    DET_COLS = ["category", "idx", "x", "y", "w", "h", "conf"]
    GT_COLS = ["category", "idx", "x", "y", "w", "h"]

    def match(key, det_pdf: pd.DataFrame, gt_pdf: pd.DataFrame) -> pd.DataFrame:
        doc_id, offset = key[0], key[1]
        # a side with no rows for this key can arrive as a column-less frame
        if "category" not in det_pdf.columns:
            det_pdf = pd.DataFrame(columns=DET_COLS)
        if "category" not in gt_pdf.columns:
            gt_pdf = pd.DataFrame(columns=GT_COLS)
        rows = []
        for cat in sorted(set(det_pdf["category"]) | set(gt_pdf["category"])):
            d = det_pdf[det_pdf["category"] == cat].sort_values(
                ["conf", "idx"], ascending=[False, True]
            )
            g = gt_pdf[gt_pdf["category"] == cat]
            gt_boxes = {
                int(r.idx): (r.x, r.y, r.w, r.h) for r in g.itertuples(index=False)
            }
            unmatched = set(gt_boxes)
            t = IOU_THRESHOLDS.get(cat, FALLBACK_THRESHOLD)
            for r in d.itertuples(index=False):
                best, best_iou = None, t
                for gi in sorted(unmatched):
                    iou = py_iou((r.x, r.y, r.w, r.h), gt_boxes[gi])
                    if iou > best_iou:
                        best, best_iou = gi, iou
                if best is not None:
                    unmatched.discard(best)
                    # float() first: numpy.float64.__round__ is not the
                    # correctly-rounded decimal round the oracle uses
                    rows.append((doc_id, offset, cat, "tp", int(r.idx), best, round(float(best_iou), 6)))
                else:
                    rows.append((doc_id, offset, cat, "fp", int(r.idx), None, None))
            for gi in sorted(unmatched):
                rows.append((doc_id, offset, cat, "fn", None, gi, None))
        return pd.DataFrame(
            rows,
            columns=["doc_id", "offset", "category", "outcome", "det_idx", "gt_idx", "iou"],
        )

    return (
        detections.groupBy("doc_id", "offset")
        .cogroup(ground_truth.groupBy("doc_id", "offset"))
        .applyInPandas(match, schema=MATCH_SCHEMA)
    )


def evaluation_metrics(matches: DataFrame) -> DataFrame:
    """Per-category precision/recall/F1 + mean matched IoU (A11)."""
    agg = matches.groupBy("category").agg(
        F.sum(F.when(F.col("outcome") == "tp", 1).otherwise(0)).alias("tp"),
        F.sum(F.when(F.col("outcome") == "fp", 1).otherwise(0)).alias("fp"),
        F.sum(F.when(F.col("outcome") == "fn", 1).otherwise(0)).alias("fn"),
        F.round(F.avg("iou"), 6).alias("mean_iou"),
    )
    precision = F.col("tp") / F.greatest(F.col("tp") + F.col("fp"), F.lit(1))
    recall = F.col("tp") / F.greatest(F.col("tp") + F.col("fn"), F.lit(1))
    f1 = 2 * precision * recall / F.greatest(precision + recall, F.lit(1e-9))
    return agg.select(
        "category",
        "tp", "fp", "fn",
        F.round(precision, 6).alias("precision"),
        F.round(recall, 6).alias("recall"),
        F.round(f1, 6).alias("f1"),
        "mean_iou",
    )
