"""Explicit schemas for every table the engine reads or writes.

The reference has no schema system (row dicts everywhere, e.g. the
detection record at OCR/src/detect.py:374-380); here every shape is
declared — a StructType, or an Arrow schema for the output of an Arrow
stage — schema-on-write, no inference.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------- input
# Canonical input table (BASELINE.json input_hint): one row per document,
# spans interleaving text and media in source order.
SPAN_IN = T.StructType(
    [
        T.StructField("kind", T.StringType()),       # 'text' | 'media'
        T.StructField("text", T.StringType()),       # NULL for media
        T.StructField("media_ref", T.StringType()),  # NULL for text
        T.StructField("offset", T.IntegerType()),    # dense, increasing
    ]
)
DOCS = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", T.ArrayType(SPAN_IN)),
    ]
)

# --------------------------------------------------------------- output
SPAN_OUT = T.StructType(
    [
        T.StructField("kind", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("media_ref", T.StringType()),
        T.StructField("order", T.IntegerType()),  # dense 0..n-1 per doc
    ]
)
EXTRACTED = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", T.ArrayType(SPAN_OUT)),
    ]
)

# ---------------------------------------------------- checkpoint/lineage
# Per-partition lineage + metrics rows (north_rule: resumable with
# per-partition lineage; FIXTURES.md §3).
CHECKPOINT = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("doc_id_min", T.StringType()),
        T.StructField("doc_id_max", T.StringType()),
        T.StructField("n_docs", T.LongType()),
        T.StructField("n_spans", T.LongType()),
        T.StructField("n_regions", T.LongType()),
        T.StructField("n_output_rows", T.LongType()),
        # E3 tiling metrics of the commit group this bucket was
        # extracted in, from the retry-exact per-attempt metric files;
        # stored on the group's first bucket row only (others carry 0)
        T.StructField("n_tiles", T.LongType()),
        T.StructField("n_tiles_skipped", T.LongType()),
        T.StructField("wall_ms", T.LongType()),
        T.StructField("attempt", T.IntegerType()),
        T.StructField("committed_at", T.TimestampType()),
    ]
)

# ------------------------------------------------------ detection rows
# One row per extracted unit (cleaned text span, or one token from one
# media region) — the span stage's output, declared once in Arrow; the
# Spark schema is derived from it. Mirrors the reference detection
# record {text, bbox, center, confidence, source}
# (OCR/src/detect.py:374-380) generalized with (offset, region_idx,
# token_idx) ordering keys. kind is NULL on sentinel rows (empty docs,
# all-rejected media spans) that keep a document alive to the re-zip.
import pyarrow as pa  # noqa: E402

DETECTIONS_ARROW = pa.schema(
    [
        pa.field("doc_id", pa.string()),
        pa.field("offset", pa.int32()),
        pa.field("region_idx", pa.int32()),
        pa.field("token_idx", pa.int32()),
        pa.field("kind", pa.string()),
        pa.field("text", pa.string()),
        pa.field("media_ref", pa.string()),
        pa.field("conf", pa.float64()),
        pa.field("cx", pa.float64()),
        pa.field("cy", pa.float64()),
        pa.field("is_number", pa.bool_()),
    ]
)
