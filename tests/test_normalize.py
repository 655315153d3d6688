"""P1-P3 normalization: resize cap, contrast/polarity normalization,
morph-open cleanup — kernel properties plus the degraded-fixture
recovery invariant (scratched + inverted payloads extract identically
to their clean form)."""

from __future__ import annotations

import numpy as np

from cadastral_map_ocr_system_spark.operators import mediapath as mp
from cadastral_map_ocr_system_spark.operators import normalize
from cadastral_map_ocr_system_spark.operators.normalize import (
    contrast_stretch,
    invert_if_negative,
    morph_open,
    resize_cap,
)
from cadastral_map_ocr_system_spark.synth import FILL


def _rect_grid() -> np.ndarray:
    g = np.zeros((48, 64), dtype=np.uint8)
    g[10:18, 10:30] = FILL
    g[11, 11:16] = np.frombuffer(b"Konal", dtype=np.uint8)
    return g


def test_morph_open_identity_on_solid_regions():
    g = _rect_grid()
    mask = g > 32
    assert (morph_open(mask) == mask).all()


def test_morph_open_strips_attached_scratch():
    g = _rect_grid()
    clean_regions = mp.extract_regions(g, open_mask=True)
    g[6:10, 12] = FILL   # 1-px scratch attached to the region top
    g[18:21, 25] = FILL  # and one below
    raw = mp.extract_regions(g, open_mask=False)
    assert raw != clean_regions  # scratch really corrupts the bbox
    assert mp.extract_regions(g, open_mask=True) == clean_regions


def test_invert_if_negative_is_exact_involution():
    g = _rect_grid()
    neg = (255 - g).astype(np.uint8)
    assert (invert_if_negative(neg) == g).all()
    assert (invert_if_negative(g) == g).all()  # clean payload untouched


def test_degraded_payload_extracts_like_clean():
    """End-to-end recovery: scratch + invert, then normalize inside the
    extraction chain -> identical regions to the clean payload."""
    g = _rect_grid()
    clean = mp.extract_regions(g, open_mask=True)
    noisy = g.copy()
    noisy[6:10, 12] = FILL
    noisy = (255 - noisy).astype(np.uint8)
    got = mp.extract_regions(invert_if_negative(noisy), open_mask=True)
    assert got == clean
    assert clean[0]["token"] == "Konal"


def test_contrast_stretch_properties():
    g = (_rect_grid() // 2 + 40).astype(np.uint8)  # compressed range
    s = contrast_stretch(g)
    assert int(s.min()) == 0 and int(s.max()) == 255
    # monotone: order of distinct values preserved
    a, b = np.uint8(60), np.uint8(140)
    assert contrast_stretch(np.array([[a, b]]))[0, 0] < contrast_stretch(
        np.array([[a, b]])
    )[0, 1]
    # identity on full-range payloads
    full = np.array([[0, 255], [10, 20]], dtype=np.uint8)
    assert (contrast_stretch(full) == full).all()


def test_resize_cap(monkeypatch):
    g = np.zeros((400, 300), dtype=np.uint8)
    g[::4, ::4] = 200
    monkeypatch.setattr(normalize, "RESIZE_CAP", 100)
    r = resize_cap(g)
    assert max(r.shape) == 100
    assert r.shape == (100, 75)
    monkeypatch.setattr(normalize, "RESIZE_CAP", 400)
    assert resize_cap(g) is g  # under cap: untouched
    assert set(np.unique(r)) <= set(np.unique(g))  # NN: no new values


# ---- P2 tile-local adaptive equalization (the CLAHE analogue)
def _lowc_grid(i=0):
    from cadastral_map_ocr_system_spark.synth import decode_payload_any, media_payload

    gray, img = decode_payload_any(media_payload(f"media://lowc/doc-{i:012d}/0"))
    assert img is None
    return gray


def test_local_enhance_idempotent_on_equalized_tiles():
    from cadastral_map_ocr_system_spark.operators.normalize import (
        local_contrast_enhance,
    )

    for i in range(10):
        e = local_contrast_enhance(_lowc_grid(i))
        assert np.array_equal(local_contrast_enhance(e), e), i


def test_global_stretch_fails_where_local_enhance_recovers():
    """The gradient-lit family defeats the global min-max stretch (the
    ramped background itself crosses the binarization threshold ->
    phantom foreground), while the tile-local equalization recovers a
    clean ink mask. This is the fixture family that REQUIRES the local
    version (P2, OCR/src/preprocess.py:24-31)."""
    from cadastral_map_ocr_system_spark.operators.normalize import (
        local_contrast_enhance,
    )
    from cadastral_map_ocr_system_spark.synth import LOWC_FILL

    for i in range(10):
        g = _lowc_grid(i)
        stretched = contrast_stretch(g)
        true_fg = float((g >= LOWC_FILL).mean())  # actual ink fraction
        leaked = float((stretched > 32).mean())
        assert leaked > 2.5 * true_fg, (i, leaked, true_fg)  # global: fails
        local = local_contrast_enhance(g)
        local_fg = float((local > 32).mean())
        assert local_fg < 1.5 * true_fg + 0.02, (i, local_fg, true_fg)


def test_gradient_payloads_extract_tokens_end_to_end():
    """The full media chain on lowc payloads yields real classified
    tokens (the high-band byte encoding survives the equalization)."""
    total = 0
    for i in range(20):
        recs = mp.extract_media_records(
            "d", 0, f"media://lowc/doc-{i:012d}/0", dedup=False
        )
        total += len(recs)
        for r in recs:
            assert r["text"]
    assert total > 10


def test_gradient_gate_does_not_fire_on_clean_payloads():
    from cadastral_map_ocr_system_spark.synth import decode_payload_any, media_payload

    for fam in ("media://", "media://neg/", "media://big/", "media://rgb/"):
        for i in range(5):
            gray, _ = decode_payload_any(media_payload(f"{fam}doc-{i:012d}/0"))
            seg, tok = mp.normalize_payload(gray)
            assert seg is tok, (fam, i)  # passthrough: no remap


def test_resize_cap_3d_and_hires_glyph_survival(monkeypatch):
    """P1 on the golden path (VERDICT r3 #4): hires payloads exceed
    RESIZE_CAP, decimate, and still yield the oracle's exact records
    through the full pipeline kernel (tokens stamped on the surviving
    lattice by construction)."""
    from cadastral_map_ocr_system_spark import oracle, synth
    from cadastral_map_ocr_system_spark.operators.mediapath import (
        extract_media_records,
    )
    from cadastral_map_ocr_system_spark.operators.normalize import RESIZE_CAP

    # 3-D (color) arrays decimate rows/cols, keep channels
    rgb = np.zeros((40, 30, 3), dtype=np.uint8)
    with monkeypatch.context() as m:
        m.setattr(normalize, "RESIZE_CAP", 20)
        assert resize_cap(rgb).shape == (20, 15, 3)

    for i in range(3):
        ref = f"media://hires/doc-{i:012d}/0"
        grid = synth.decode_payload(synth.media_payload(ref))
        assert max(grid.shape) > RESIZE_CAP  # the cap genuinely fires
        got = extract_media_records(f"doc-{i:012d}", 0, ref, dedup=False)
        want = oracle._media_records_uncached(0, ref)
        key = lambda r: (r["region_idx"], r["text"], r["conf"], r["cx"], r["cy"])
        assert sorted(map(key, got)) == sorted(map(key, want))
        assert len(got) >= 5  # multi-region family: tokens survived


def test_oracle_mirror_constants_in_sync():
    """The oracle re-declares pipeline constants by hand (independence);
    drift must fail HERE with a pointed message, not as an opaque
    invariant mismatch (ADVICE r3)."""
    from cadastral_map_ocr_system_spark import oracle
    from cadastral_map_ocr_system_spark.operators import mediapath, normalize

    assert oracle.MAX_UNTILED_MIRROR == mediapath.MAX_UNTILED
    assert oracle.DESKEW_MIN_ANGLE_MIRROR == mediapath.DESKEW_MIN_ANGLE
    assert oracle.RESIZE_CAP_MIRROR == normalize.RESIZE_CAP
    src = open(oracle.__file__).read()
    assert f"< {mediapath.DESKEW_MIN_ELONGATION**2}:" in src, (
        "oracle's hard-coded elongation gate drifted from "
        "mediapath.DESKEW_MIN_ELONGATION**2"
    )
