"""Per-layer probe of the media kernel, single-process.

Calls the public functions of synth, functions.png (through
synth.decode_payload_any), operators.normalize and operators.mediapath
on a seeded sample of media refs per payload family and times each
phase. Counts repeat exactly for a seed; times are approximate. The
phase times re-run each phase on its own, so their sum is reported
against the full `extract_media_records` time.
"""

from __future__ import annotations

import random
import shutil
import statistics
import time

FAMILIES = {
    "plain": "media://",
    "neg": "media://neg/",
    "rgb": "media://rgb/",
    "lowc": "media://lowc/",
    "rot": "media://rot/",
    "big": "media://big/",
    "huge": "media://huge/",
    "hires": "media://hires/",
}
# refs per family: fewer of the large canvases, which cost ~10x more
SAMPLE = {"big": 8, "huge": 4, "hires": 4}
SAMPLE_DEFAULT = 16


def sample_refs(seed: int) -> dict[str, list[tuple[str, int, str]]]:
    """family -> [(doc_id, offset, media_ref)], a pure function of seed."""
    rng = random.Random(f"perfbench-kernel:{seed}")
    out = {}
    for fam, prefix in FAMILIES.items():
        refs = []
        for _ in range(SAMPLE.get(fam, SAMPLE_DEFAULT)):
            doc_id = "doc-%012d" % rng.randrange(10**9)
            off = rng.randrange(64)
            refs.append((doc_id, off, f"{prefix}{doc_id}/{off}"))
        out[fam] = refs
    return out


def _ms(fn, *args, **kw):
    t0 = time.perf_counter()
    value = fn(*args, **kw)
    return (time.perf_counter() - t0) * 1e3, value


def kernel_metrics(seed: int, tracer) -> dict:
    from cadastral_map_ocr_system_spark import synth
    from cadastral_map_ocr_system_spark.functions.colorroute import route_category
    from cadastral_map_ocr_system_spark.operators import mediapath
    from cadastral_map_ocr_system_spark.operators.normalize import resize_cap

    m: dict[str, tuple[float, str]] = {}
    deskew, route, dedup = [], [], []
    n_payloads = n_kept = n_cands = 0
    phase_sum = extract_sum = 0.0
    for fam, refs in sample_refs(seed).items():
        t = {k: [] for k in ("payload", "decode", "normalize", "regions", "extract")}
        with tracer.span("kernel:" + fam, refs=len(refs)):
            for doc_id, off, ref in refs:
                ms, payload = _ms(synth.media_payload, ref)
                t["payload"].append(ms)
                ms, (gray, img) = _ms(synth.decode_payload_any, payload)
                t["decode"].append(ms)
                t0 = time.perf_counter()
                gray = resize_cap(gray)
                if img is not None:
                    img = resize_cap(img)
                seg, tok = mediapath.normalize_payload(gray)
                t["normalize"].append((time.perf_counter() - t0) * 1e3)
                phases = t["payload"][-1] + t["decode"][-1] + t["normalize"][-1]
                if img is None and max(seg.shape) <= mediapath.MAX_UNTILED:
                    ms, _ = _ms(mediapath.deskew_grid, seg)
                    deskew.append(ms)
                    phases += ms
                ms, regions = _ms(
                    mediapath.extract_regions_tiled, seg, open_mask=True, tok_grid=tok
                )
                t["regions"].append(ms)
                phases += ms
                if img is not None:
                    t0 = time.perf_counter()
                    for r in regions:
                        route_category(img, (r["xmin"], r["ymin"], r["w"], r["h"]))
                    route.append((time.perf_counter() - t0) * 1e3)
                    phases += route[-1]
                cands = mediapath.extract_media_records(doc_id, off, ref, dedup=False)
                ms, kept = _ms(mediapath.greedy_dedup_payload, cands)
                dedup.append(ms)
                phases += ms
                ms, recs = _ms(mediapath.extract_media_records, doc_id, off, ref)
                t["extract"].append(ms)
                if len(recs) != len(kept):
                    raise RuntimeError(f"dedup probe disagrees with the kernel on {ref}")
                n_payloads += 1
                n_kept += len(kept)
                n_cands += len(cands)
                phase_sum += phases
                extract_sum += ms
        med = {k: statistics.median(v) for k, v in t.items()}
        m[f"synth.payload_ms.{fam}"] = (med["payload"], "ms")
        m[f"png.decode_ms.{fam}"] = (med["decode"], "ms")
        m[f"normalize.ms.{fam}"] = (med["normalize"], "ms")
        m[f"mediapath.extract_ms.{fam}"] = (med["extract"], "ms")
        m[f"mediapath.regions_ms.{fam}"] = (med["regions"], "ms")
    m["mediapath.deskew_ms"] = (statistics.median(deskew), "ms")
    m["colorroute.ms"] = (statistics.median(route), "ms")
    m["mediapath.dedup_ms"] = (statistics.median(dedup), "ms")
    m["mediapath.dedup_kept_ratio"] = (n_kept / max(n_cands, 1), "ratio")
    m["mediapath.records_per_payload"] = (n_kept / n_payloads, "count")
    m["mediapath.phase_sum_over_extract"] = (phase_sum / extract_sum, "ratio")
    return m


def tile_count(spark, seed: int, metrics_dir: str, tracer) -> int:
    """Tiles processed for the sample, counted through the span stage's
    retry-exact metric files (tile_metrics_dir + read_tile_metrics)."""
    from cadastral_map_ocr_system_spark.operators.mediapath import (
        read_tile_metrics,
        span_detections,
    )

    rows = [
        (doc_id, "media", None, ref, off)
        for refs in sample_refs(seed).values()
        for doc_id, off, ref in refs
    ]
    spans = spark.createDataFrame(
        rows, "doc_id string, kind string, text string, media_ref string, offset int"
    )
    shutil.rmtree(metrics_dir, ignore_errors=True)
    with tracer.span("kernel:tiles"):
        span_detections(spans, tile_metrics_dir=metrics_dir).write.format(
            "noop"
        ).mode("overwrite").save()
    return read_tile_metrics(metrics_dir)["n_tiles"]
