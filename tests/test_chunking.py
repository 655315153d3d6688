"""Bounded output chunks (SURVEY.md §7.4 hard part 3): every per-item
Arrow stage yields batches of at most mediapath.OUTPUT_CHUNK_ROWS rows,
buffered across input batches, and chunking never changes the rows.

The stage bodies run here in-process with the bound patched small, so a
single multi-region payload, and a single input batch, each span
several output chunks."""

from __future__ import annotations

import pyarrow as pa
import pytest

from cadastral_map_ocr_system_spark import synth
from cadastral_map_ocr_system_spark.operators import mediapath as mp
from cadastral_map_ocr_system_spark.operators.colormask import (
    COLOR_COVERAGE_ARROW,
    COLOR_ROUTE_ARROW,
    color_coverage_rows,
    color_route_rows,
)
from cadastral_map_ocr_system_spark.operators.multimodal import (
    FRAME_FEATURES_ARROW,
    frame_sample_rows,
)
from cadastral_map_ocr_system_spark.operators.templatematch import (
    TEMPLATE_MATCH_ARROW,
    template_match_rows,
)
from cadastral_map_ocr_system_spark.schema import DETECTIONS_ARROW
from cadastral_map_ocr_system_spark.templates import TEMPLATES

BOUND = 2
INPUT_BATCH_ROWS = 16

SPANS_ARROW = pa.schema(
    [
        pa.field("doc_id", pa.string()),
        pa.field("kind", pa.string()),
        pa.field("text", pa.string()),
        pa.field("media_ref", pa.string()),
        pa.field("offset", pa.int32()),
    ]
)

DOCS = synth.synth_docs_pylist(12, seed=42, skew_frac=0.1)
SPANS = [{"doc_id": d["doc_id"], **s} for d in DOCS for s in d["spans"]] + [
    # posexplode_outer sentinel of an empty document
    {"doc_id": "doc-empty", "kind": None, "text": None, "media_ref": None, "offset": None}
]
MEDIA_KEYS = [
    (s["doc_id"], s["offset"], s["media_ref"]) for s in SPANS if s["kind"] == "media"
]


def _batches(rows: list[dict], schema: pa.Schema) -> list[pa.RecordBatch]:
    return pa.Table.from_pylist(rows, schema=schema).to_batches(
        max_chunksize=INPUT_BATCH_ROWS
    )


# per-item stage inputs: (rows, schema) whose columns are fn's arguments
KEYS = (
    [{"doc_id": d, "offset": o, "media_ref": r} for d, o, r in MEDIA_KEYS],
    pa.schema([SPANS_ARROW.field(c) for c in ("doc_id", "offset", "media_ref")]),
)
PAYLOADS = (
    [{"ref": r, "payload": synth.media_payload(r)} for _, _, r in MEDIA_KEYS],
    pa.schema([("ref", pa.string()), ("payload", pa.binary())]),
)


def _n_rows(doc_id: str, offset: int, media_ref: str) -> list[dict]:
    """Synthetic per-payload fn: 0..5 rows, so some payloads emit none
    and some emit more than one chunk."""
    return [
        {"doc_id": doc_id, "offset": offset, "line_idx": i, "media_ref": media_ref}
        for i in range(offset % 6)
    ]


STAGES = {
    "helper": (_n_rows, pa.schema([mp.LINE_ARROW.field(i) for i in range(4)]), KEYS),
    "line": (mp.line_rows, mp.LINE_ARROW, KEYS),
    "color_route": (color_route_rows, COLOR_ROUTE_ARROW, KEYS),
    "template_match": (
        lambda d, o, r: template_match_rows(d, o, r, TEMPLATES, {}),
        TEMPLATE_MATCH_ARROW,
        KEYS,
    ),
    "frame_sample": (frame_sample_rows, FRAME_FEATURES_ARROW, PAYLOADS),
    "color_coverage": (color_coverage_rows, COLOR_COVERAGE_ARROW, PAYLOADS),
}


def _check_bounded(out: list[pa.RecordBatch], schema: pa.Schema) -> list[dict]:
    assert out, "stage yielded nothing"
    assert all(0 < b.num_rows <= BOUND for b in out), [b.num_rows for b in out]
    assert all(b.schema.equals(schema) for b in out)
    return [r for b in out for r in b.to_pylist()]


@pytest.mark.parametrize("stage", sorted(STAGES))
def test_payload_stage_chunks_are_bounded_and_lossless(stage, monkeypatch):
    fn, schema, (items, item_schema) = STAGES[stage]
    per_payload = [fn(*item.values()) for item in items]
    # the fixture exercises the bound: one payload alone overflows it
    assert max(len(rows) for rows in per_payload) > BOUND
    unchunked = pa.Table.from_pylist(
        [r for rows in per_payload for r in rows], schema=schema
    ).to_pylist()

    monkeypatch.setattr(mp, "OUTPUT_CHUNK_ROWS", BOUND)
    out = list(mp.payload_batches(iter(_batches(items, item_schema)), fn, schema))
    assert _check_bounded(out, schema) == unchunked


def test_span_stage_chunks_are_bounded_and_lossless(monkeypatch):
    def run() -> list[pa.RecordBatch]:
        return list(mp.span_batches(iter(_batches(SPANS, SPANS_ARROW))))

    def key(r: dict):
        return (r["doc_id"], r["offset"], r["region_idx"], r["token_idx"])

    monkeypatch.setattr(mp, "OUTPUT_CHUNK_ROWS", 10**9)
    unchunked = [r for b in run() for r in b.to_pylist()]
    # one payload's records, and one input batch's text rows, overflow it
    assert max(len(mp.extract_media_records(*k)) for k in MEDIA_KEYS) > BOUND
    assert sum(s["kind"] == "text" for s in SPANS[:INPUT_BATCH_ROWS]) > BOUND

    monkeypatch.setattr(mp, "OUTPUT_CHUNK_ROWS", BOUND)
    got = _check_bounded(run(), DETECTIONS_ARROW)
    assert sorted(got, key=key) == sorted(unchunked, key=key)
