"""P5/P6 color masks: RGB band masks + cleanup, coverage, routing."""

from __future__ import annotations

import numpy as np

from cadastral_map_ocr_system_spark.functions.png import decode_png, encode_png_rgb
from cadastral_map_ocr_system_spark.operators.colormask import (
    color_coverage_features,
    color_coverage_rows,
    color_mask,
    dominant_color,
    route_category,
)

RED, BLACK, BLUE, WHITE = (200, 30, 30), (20, 20, 20), (30, 30, 200), (255, 255, 255)


def _map_img() -> np.ndarray:
    img = np.full((40, 60, 3), WHITE, dtype=np.uint8)
    img[5:15, 5:25] = RED      # survey-number ink
    img[20:30, 5:25] = BLACK   # name ink
    img[5:15, 35:55] = BLUE    # water ink
    return img


def test_masks_select_their_band_only():
    img = _map_img()
    assert color_mask(img, "red")[10, 10] and not color_mask(img, "red")[25, 10]
    assert color_mask(img, "black")[25, 10] and not color_mask(img, "black")[10, 10]
    assert color_mask(img, "blue")[10, 40] and not color_mask(img, "blue")[10, 10]


def test_cleanup_removes_speckles_keeps_blocks():
    img = _map_img()
    img[35, 2] = RED  # isolated 1-px red speckle
    m = color_mask(img, "red")
    assert not m[35, 2]           # cleaned
    assert m[5:15, 5:25].all()    # solid block intact


def test_coverage_ratios():
    cov = {
        r["color"]: r["coverage"]
        for r in color_coverage_rows("m-1", encode_png_rgb(_map_img()))
    }
    area = 40 * 60
    assert abs(cov["red"] - 200 / area) < 1e-9
    assert abs(cov["black"] - 200 / area) < 1e-9
    assert abs(cov["blue"] - 200 / area) < 1e-9


def test_dominant_color_and_routing():
    img = _map_img()
    assert dominant_color(img, (5, 5, 20, 10)) == "red"
    assert route_category(img, (5, 5, 20, 10)) == "number"
    assert route_category(img, (5, 20, 20, 10)) == "name"
    assert route_category(img, (35, 5, 20, 10)) == "water"
    assert route_category(img, (30, 32, 6, 6)) is None  # white-only crop


def test_color_coverage_features_on_rgb_png(spark):
    png = encode_png_rgb(_map_img())
    assert decode_png(png).shape == (40, 60, 3)
    df = spark.createDataFrame(
        [("m-1", bytearray(png))], "ref string, payload binary"
    )
    rows = {r["color"]: r for r in color_coverage_features(df).collect()}
    assert set(rows) == {"red", "black", "blue"}
    assert rows["red"]["n_pixels"] == 200


def test_rgb_family_routing_is_load_bearing():
    """media://rgb/ payloads classify by INK COLOR (reference
    OCR/src/detect.py:226-330): cross-stamped regions (content the color
    family's validator rejects, e.g. a name in red ink) must be dropped
    even though content-only classification would accept them — and
    blue-ink water labels are accepted as names."""
    from cadastral_map_ocr_system_spark.functions.text import py_clean_token
    from cadastral_map_ocr_system_spark.operators import mediapath as mp
    from cadastral_map_ocr_system_spark.synth import decode_payload_any, media_payload

    color_rejects = accepted = 0
    for i in range(60):
        ref = f"media://rgb/doc-{i:012d}/0"
        gray, img = decode_payload_any(media_payload(ref))
        assert img is not None and img.ndim == 3
        for reg in mp.extract_regions(gray, open_mask=True):
            if not reg["token"]:
                continue
            clean = py_clean_token(reg["token"])
            cat = route_category(img, (reg["xmin"], reg["ymin"], reg["w"], reg["h"]))
            assert cat in ("number", "name", "water")
            routed = mp.classify_token(clean, cat)
            content = mp.classify_token(clean, None)
            if routed is None and content is not None:
                color_rejects += 1
            if routed is not None:
                accepted += 1
    assert accepted > 50
    assert color_rejects > 20  # routing observably changes the output


def test_rgb_records_match_oracle():
    from cadastral_map_ocr_system_spark import oracle
    from cadastral_map_ocr_system_spark.operators import mediapath as mp

    for i in range(25):
        ref = f"media://rgb/doc-{i:012d}/0"
        pipe = mp.extract_media_records("d", 0, ref, dedup=False)
        orc = oracle._media_records("d", 0, ref)
        assert [(r["text"], r["is_number"], r["cx"], r["cy"]) for r in pipe] == [
            (r["text"], r["is_number"], r["cx"], r["cy"]) for r in orc
        ], ref
