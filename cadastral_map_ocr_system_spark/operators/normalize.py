"""P1-P3 payload normalization: the pre-binarization stage.

Mirrors the reference's preprocessing chain with deterministic numpy
kernels (no cv2 in this container):

  P1 resize cap       _resize_if_needed, OCR/src/detect.py:95-106
  P2 enhance          contrast normalization stand-in for
                      bilateral+CLAHE (preprocess.py:12-37) — linear
                      min-max stretch + negative-scan inversion
                      (cv2 pipelines flip polarity with THRESH_BINARY_INV)
  P3 morph cleanup    3x3 binary opening after binarization
                      (comprehensive_detector.py:75-78 MORPH_OPEN)

All kernels are pure functions of the pixel array, exactly mirrored by
the single-process oracle, so the golden invariant covers degraded
fixtures (inverted scans with attached 1-px scratches) end to end.
Opening is IDENTITY on clean fixtures: every token region is a solid
rectangle >= 3x3 (a union of 3x3 translates), so the always-on cleanup
costs nothing on well-formed payloads and removes scratches/speckles on
degraded ones.
"""

from __future__ import annotations

import numpy as np

# Reference MAX_IMAGE_SIZE analogue (detect.py:48): the reference caps
# ~5300 px scans at 2000; scale-consistent with our fixture canvases
# (media://hires/ at 1152 px) the cap sits at 1024 — above the huge
# family (896) so tiling fixtures pass through unresized.
RESIZE_CAP = 1024


def invert_if_negative(grid: np.ndarray) -> np.ndarray:
    """Re-invert negative scans: when more than half the pixels are
    bright (>127), the payload is a polarity-flipped scan — invert so
    ink is bright on dark, the binarization convention. Exact
    involution: invert(invert(g)) == g."""
    if int((grid > 127).sum()) * 2 > grid.size:
        return (255 - grid).astype(grid.dtype)
    return grid


def contrast_stretch(grid: np.ndarray) -> np.ndarray:
    """Linear min-max stretch to the full 0..255 range (the global
    contrast-normalization analogue of CLAHE, preprocess.py:27-31).
    Identity on payloads already spanning the full range."""
    lo, hi = int(grid.min()), int(grid.max())
    if hi == lo:
        return grid
    out = np.rint((grid.astype(np.float64) - lo) * (255.0 / (hi - lo)))
    return out.astype(np.uint8)


# --- P2 tile-local adaptive equalization (the CLAHE analogue,
# OCR/src/preprocess.py:24-31). A gradient-lit scan defeats the global
# stretch (the background itself spans the binarization threshold);
# per-tile rank normalization recovers a clean ink/paper separation.
LOCAL_EQ_TILE = 32        # tile edge, px
LOCAL_EQ_PCT = 0.1        # low anchor: the tile's 10th-percentile value
LOCAL_EQ_MIN_RANGE = 48   # contrast limit: flatter tiles are background
GRADIENT_FG_FRAC = 0.5    # payload gate: binarized fg fraction above
#                           this means the background leaks over the
#                           threshold -> the scan is gradient-lit


def local_contrast_enhance(grid: np.ndarray) -> np.ndarray:
    """Per-tile rank stretch: anchor at the tile's LOCAL_EQ_PCT
    percentile value (the background mode in a mostly-paper tile) and
    scale its max to 255; tiles whose value range is under
    LOCAL_EQ_MIN_RANGE are uniform background and map to 0 (the
    contrast-limit analogue — tiny ranges are noise, never amplified).

    Deterministic and idempotent: after one pass a mixed tile has >=
    10% zeros and a 255 maximum, so the second pass is the identity;
    flat tiles stay 0. (Pinned by tests/test_normalize.py.)"""
    h, w = grid.shape
    tile, pct, min_range = LOCAL_EQ_TILE, LOCAL_EQ_PCT, LOCAL_EQ_MIN_RANGE
    out = np.zeros((h, w), dtype=np.uint8)
    for ty in range(0, h, tile):
        for tx in range(0, w, tile):
            sub = grid[ty : ty + tile, tx : tx + tile].astype(np.float64)
            v = np.sort(sub.ravel())
            lo = float(v[int(pct * v.size)])
            hi = float(v[-1])
            if hi - lo < min_range:
                continue  # background tile
            scaled = np.rint((sub - lo) * (255.0 / (hi - lo)))
            out[ty : ty + tile, tx : tx + tile] = np.clip(scaled, 0, 255).astype(
                np.uint8
            )
    return out


def decimation_indices(
    h: int, w: int, max_dim: int = RESIZE_CAP
) -> tuple[np.ndarray, np.ndarray] | None:
    """Kept (row, col) index arrays for the P1 cap, or None when the
    grid is already within bounds. Exposed so the fixture generator can
    stamp glyphs onto surviving pixels (media://hires/) — the decimation
    geometry is part of the operator contract, mirrored independently
    by the oracle."""
    m = max(h, w)
    if m <= max_dim:
        return None
    scale = max_dim / m
    nh, nw = max(int(h * scale), 1), max(int(w * scale), 1)
    ii = np.rint(np.arange(nh) * (h - 1) / max(nh - 1, 1)).astype(int)
    jj = np.rint(np.arange(nw) * (w - 1) / max(nw - 1, 1)).astype(int)
    return ii, jj


def resize_cap(grid: np.ndarray) -> np.ndarray:
    """Cap the longest edge at RESIZE_CAP, preserving aspect ratio
    (detect.py:95-106), via endpoint-preserving NN decimation. ON the
    golden path (extract_media_records applies it right after decode;
    identity for in-bounds payloads); the media://hires/ family stamps
    its glyphs on the surviving pixel lattice so tokens decode intact
    after the cap. Accepts gray (h, w) or color (h, w, 3) arrays."""
    idx = decimation_indices(grid.shape[0], grid.shape[1], RESIZE_CAP)
    if idx is None:
        return grid
    ii, jj = idx
    return grid[ii][:, jj]


def _erode3(mask: np.ndarray) -> np.ndarray:
    return _square3(mask, np.logical_and)


def _dilate3(mask: np.ndarray) -> np.ndarray:
    return _square3(mask, np.logical_or)


def _square3(mask: np.ndarray, op) -> np.ndarray:
    """3x3 square erosion (op=logical_and) or dilation (logical_or),
    outside-of-frame = background: separable, a 3-tap row pass then a
    3-tap column pass over the zero-padded mask (4 ops, not 9)."""
    h, w = mask.shape
    padded = np.zeros((h + 2, w + 2), dtype=bool)
    padded[1:-1, 1:-1] = mask
    # C-order accumulators, NOT *_like(mask): a transposed/F-ordered
    # input (tile views arrive that way after deskew/decimation slicing)
    # would propagate its layout and turn each shifted in-place op into
    # a strided pass — measured 24x slower on the hires tiles (3.96 ms
    # vs 0.16 ms per 256x256 call)
    rows = np.empty((h + 2, w), dtype=bool)
    op(padded[:, :-2], padded[:, 1:-1], out=rows)
    op(rows, padded[:, 2:], out=rows)
    out = np.empty((h, w), dtype=bool)
    op(rows[:-2], rows[1:-1], out=out)
    op(out, rows[2:], out=out)
    return out


def morph_open(mask: np.ndarray) -> np.ndarray:
    """3x3 binary opening (erode then dilate), square structuring
    element, outside-of-frame = background — numpy shifts only."""
    return _dilate3(_erode3(mask))


def morph_close(mask: np.ndarray) -> np.ndarray:
    """3x3 binary closing (dilate then erode) — fills 1-px holes/gaps
    (the reference's MORPH_CLOSE in color-mask cleanup,
    preprocess.py:61-62)."""
    return _erode3(_dilate3(mask))
