"""Skew test (SURVEY.md §5 step 6): giant-span documents with
multi-region media still match the oracle, and media_detections keeps
the kernel's per-payload records exactly."""

from __future__ import annotations

from cadastral_map_ocr_system_spark import oracle, synth
from cadastral_map_ocr_system_spark.plans.pipeline import extract
from cadastral_map_ocr_system_spark.schema import DOCS


def test_skewed_corpus_matches_oracle(spark):
    # 25% of docs get 48 spans and >=16-region "map" payloads
    docs_py = synth.synth_docs_pylist(40, seed=99, skew_frac=0.25, max_spans=48)
    n_skew = sum(1 for d in docs_py if len(d["spans"]) == 48)
    assert n_skew >= 3, "fixture should actually contain skewed docs"
    docs = spark.createDataFrame(docs_py, schema=DOCS)
    got = {
        row["doc_id"]: [
            (s["kind"], s["text"], s["media_ref"], s["order"]) for s in row["spans"]
        ]
        for row in extract(docs).collect()
    }
    golden = oracle.extract_corpus(docs_py)
    assert got == golden


def test_media_detections_are_kernel_records_without_sentinels(spark):
    """media_detections is span_detections' media rows: per span,
    exactly extract_media_records' (deduped) rows, and the null-kind
    sentinel that keeps an all-rejected media span's document alive
    never leaks out."""
    from pyspark.sql import functions as F

    from cadastral_map_ocr_system_spark.operators.mediapath import (
        extract_media_records,
        media_detections,
    )
    from cadastral_map_ocr_system_spark.plans.pipeline import explode_spans

    docs_py = synth.synth_docs_pylist(60, seed=5)
    want, n_all_rejected = [], 0
    for doc in docs_py:
        for span in doc["spans"]:
            if span["kind"] == "media":
                recs = extract_media_records(
                    doc["doc_id"], span["offset"], span["media_ref"]
                )
                n_all_rejected += not recs
                want.extend(recs)
    assert n_all_rejected > 0, "fixture should contain an all-rejected media span"

    docs = spark.createDataFrame(docs_py, schema=DOCS)
    det = media_detections(explode_spans(docs).filter(F.col("kind") == "media"))
    got = [r.asDict() for r in det.collect()]
    assert all(r["kind"] == "media" for r in got)

    def key(r):
        return (r["doc_id"], r["offset"], r["region_idx"], r["token_idx"])

    assert sorted(got, key=key) == sorted(want, key=key)
