"""Whole-array component labeling against the loop reference.

The reference below is the run-level union-find labeling the media
kernel used before it moved to NumPy arrays (per-run Python loops, one
dict per component). Every consumer of the labeling — token regions
(opened and unopened), the deskew median angle, line segments and
template candidates — must give exactly the reference's output: the
arithmetic is unchanged (exact integer sums), so results are compared
with ==, not a tolerance.
"""

from __future__ import annotations

import math

import numpy as np
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from cadastral_map_ocr_system_spark.operators import mediapath as mp
from cadastral_map_ocr_system_spark.operators import templatematch as tm
from cadastral_map_ocr_system_spark.operators.normalize import (
    invert_if_negative,
    morph_open,
)
from cadastral_map_ocr_system_spark.synth import BIN_THRESHOLD, FILL, MIN_AREA
from cadastral_map_ocr_system_spark.templates import TEMPLATES, nn_resize


# ------------------------------------------------------------ reference
def ref_row_runs(mask):
    h, w = mask.shape
    padded = np.zeros((h, w + 2), dtype=np.int8)
    padded[:, 1:-1] = mask
    d = np.diff(padded, axis=1)
    sy, sx = np.nonzero(d == 1)
    ey, ex = np.nonzero(d == -1)
    return sy, sx, ex


class RefUnionFind:
    def __init__(self, n):
        self.parent = list(range(n))

    def find(self, a):
        p = self.parent
        while p[a] != a:
            p[a] = p[p[a]]
            a = p[a]
        return a

    def union(self, a, b):
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.parent[max(ra, rb)] = min(ra, rb)


def ref_components(grid, mask=None):
    if mask is None:
        mask = grid > BIN_THRESHOLD
    sy, sx, ex = ref_row_runs(mask)
    n = len(sy)
    if n == 0:
        return []
    uf = RefUnionFind(n)
    row_starts = {}
    i = 0
    while i < n:
        j = i
        while j < n and sy[j] == sy[i]:
            j += 1
        row_starts[int(sy[i])] = (i, j)
        i = j
    for row, (i0, i1) in row_starts.items():
        prev = row_starts.get(row - 1)
        if not prev:
            continue
        p0, p1 = prev
        a, b = i0, p0
        while a < i1 and b < p1:
            if sx[a] < ex[b] and sx[b] < ex[a]:
                uf.union(a, b)
            if ex[a] < ex[b]:
                a += 1
            else:
                b += 1
    comps = {}
    for r in range(n):
        root = uf.find(r)
        y, x0, x1 = int(sy[r]), int(sx[r]), int(ex[r])
        c = comps.get(root)
        if c is None:
            comps[root] = {
                "ymin": y, "ymax": y, "xmin": x0, "xmax": x1,
                "area": x1 - x0, "runs": [(y, x0, x1)],
            }
        else:
            c["ymin"] = min(c["ymin"], y)
            c["ymax"] = max(c["ymax"], y)
            c["xmin"] = min(c["xmin"], x0)
            c["xmax"] = max(c["xmax"], x1)
            c["area"] += x1 - x0
            c["runs"].append((y, x0, x1))
    return list(comps.values())


def ref_component_angle(c):
    if c["area"] < MIN_AREA:
        return None
    n = sx = sy = sxx = syy = sxy = 0.0
    for y, x0, x1 in c["runs"]:
        m = x1 - x0
        rsx = m * (x0 + x1 - 1) / 2.0

        def s2(k):
            return k * (k + 1) * (2 * k + 1) / 6.0

        n += m
        sx += rsx
        sy += y * m
        sxx += s2(x1 - 1) - s2(x0 - 1)
        syy += y * y * m
        sxy += y * rsx
    if n < MIN_AREA:
        return None
    mx, my = sx / n, sy / n
    cxx = sxx / n - mx * mx
    cyy = syy / n - my * my
    cxy = sxy / n - mx * my
    tr = cxx + cyy
    det = math.sqrt(max((cxx - cyy) ** 2 + 4 * cxy * cxy, 0.0))
    l1, l2 = (tr + det) / 2.0, (tr - det) / 2.0
    if l2 <= 1e-9 or l1 / max(l2, 1e-9) < mp.DESKEW_MIN_ELONGATION**2:
        return None
    angle = 0.5 * math.degrees(math.atan2(2 * cxy, cxx - cyy))
    while angle >= 45:
        angle -= 90
    while angle < -45:
        angle += 90
    return angle, l1 / max(l2, 1e-9)


def ref_median_angle(comps):
    angles = sorted(a[0] for a in map(ref_component_angle, comps) if a is not None)
    if not angles:
        return 0.0
    m = len(angles)
    return angles[m // 2] if m % 2 else (angles[m // 2 - 1] + angles[m // 2]) / 2.0


def ref_regions(comps, tok_grid):
    regions = []
    for c in comps:
        if c["area"] < MIN_AREA:
            continue
        token_bytes = []
        for y, x0, x1 in sorted(c["runs"]):
            vals = tok_grid[y, x0:x1]
            token_bytes.extend(int(v) for v in vals[vals != FILL])
        token = "".join(chr(v) for v in token_bytes if 33 <= v <= 126)
        h = c["ymax"] - c["ymin"] + 1
        w = c["xmax"] - c["xmin"]
        regions.append(
            {
                "ymin": c["ymin"], "xmin": c["xmin"], "h": h, "w": w,
                "area": c["area"],
                "cx": c["xmin"] + w / 2.0,
                "cy": c["ymin"] + h / 2.0,
                "token": token,
            }
        )
    regions.sort(key=lambda r: (r["ymin"], r["xmin"]))
    return regions


def ref_extract_regions(grid, open_mask=False):
    mask = grid > BIN_THRESHOLD
    if open_mask:
        mask = morph_open(mask)
    return ref_regions(ref_components(grid, mask), grid)


def ref_line_geometry(c):
    def s2(k):
        return k * (k + 1) * (2 * k + 1) // 6

    n = sx = sy = sxx = syy = sxy = 0
    for y, x0, x1 in c["runs"]:
        m = x1 - x0
        rsx = m * (x0 + x1 - 1) // 2
        n += m
        sx += rsx
        sy += y * m
        sxx += s2(x1 - 1) - s2(x0 - 1)
        syy += y * y * m
        sxy += y * rsx
    if n == 0:
        return None
    mx, my = sx / n, sy / n
    cxx = sxx / n - mx * mx
    cyy = syy / n - my * my
    cxy = sxy / n - mx * my
    theta = 0.5 * math.atan2(2 * cxy, cxx - cyy)
    ct, st_ = math.cos(theta), math.sin(theta)
    umin = vmin = float("inf")
    umax = vmax = float("-inf")
    pmin = pmax = None
    for y, x0, x1 in c["runs"]:
        for x in (x0, x1 - 1):
            u = (x - mx) * ct + (y - my) * st_
            v = -(x - mx) * st_ + (y - my) * ct
            vmin, vmax = min(vmin, v), max(vmax, v)
            if u < umin or (u == umin and (y, x) < pmin):
                umin, pmin = u, (y, x)
            if u > umax or (u == umax and (y, x) < pmax):
                umax, pmax = u, (y, x)
    if (vmax - vmin + 1) > mp.MAX_LINE_THICKNESS:
        return None
    length = umax - umin + 1
    if length < mp.MIN_LINE_LEN:
        return None
    p1, p2 = sorted([pmin, pmax])
    angle = math.degrees(math.atan2(p2[0] - p1[0], p2[1] - p1[1])) % 180.0
    return {
        "x1": p1[1], "y1": p1[0], "x2": p2[1], "y2": p2[0],
        "length": float(length), "angle": angle,
    }


def ref_line_segments(grid):
    lines = [g for g in map(ref_line_geometry, ref_components(invert_if_negative(grid))) if g]
    lines.sort(key=lambda r: (r["y1"], r["x1"]))
    return lines


def ref_match_components(grid, min_area=tm.MATCH_MIN_AREA, size_range=tm.MATCH_SIZE_RANGE):
    grid = invert_if_negative(grid)
    lo, hi = size_range
    out = []
    for c in ref_components(grid):
        h = c["ymax"] - c["ymin"] + 1
        w = c["xmax"] - c["xmin"]
        if c["area"] < min_area or not (lo <= h <= hi and lo <= w <= hi):
            continue
        mask = np.zeros((h, w), dtype=bool)
        for y, x0, x1 in c["runs"]:
            mask[y - c["ymin"], x0 - c["xmin"] : x1 - c["xmin"]] = True
        for name in sorted(TEMPLATES):
            t = TEMPLATES[name]
            score = int((nn_resize(t, h, w) == mask).sum()) / (h * w)
            if score >= tm.MATCH_THRESHOLD:
                out.append(
                    {
                        "template": name,
                        "x": c["xmin"], "y": c["ymin"], "w": w, "h": h,
                        "scale": round(h / t.shape[0], 4),
                        "score": round(score, 6),
                    }
                )
    out.sort(key=lambda r: (r["y"], r["x"], r["template"]))
    return out


# -------------------------------------------------------------- helpers
def as_dicts(comps: mp.Components) -> list[dict]:
    """The whole-array labeling in the reference's dict form."""
    return [
        {
            "ymin": int(comps.ymin[k]), "ymax": int(comps.ymax[k]),
            "xmin": int(comps.xmin[k]), "xmax": int(comps.xmax[k]),
            "area": int(comps.area[k]), "runs": comps.runs(k),
        }
        for k in range(len(comps))
    ]


def assert_same_everywhere(grid: np.ndarray) -> None:
    mask = grid > BIN_THRESHOLD
    opened = morph_open(mask)
    assert as_dicts(mp._components(grid)) == ref_components(grid)
    assert as_dicts(mp._components(grid, opened)) == ref_components(grid, opened)
    for m in (mask, opened):
        assert mp._median_angle(mp._components(grid, m)) == ref_median_angle(
            ref_components(grid, m)
        )
    for open_mask in (False, True):
        assert mp.extract_regions(grid, open_mask=open_mask) == ref_extract_regions(
            grid, open_mask=open_mask
        )
    assert mp.extract_line_segments(grid) == ref_line_segments(grid)
    assert tm.match_components(grid) == ref_match_components(grid)


def random_grid(h: int, w: int, density: float, seed: int, n_rects: int) -> np.ndarray:
    """Speckle foreground at `density` plus filled rectangles and thin
    bars (line and template candidates); foreground bytes span glyph,
    fill and high values so token decode sees every byte class."""
    rng = np.random.default_rng(seed)
    fg = rng.random((h, w)) < density
    for _ in range(n_rects if h and w else 0):
        y, x = int(rng.integers(h)), int(rng.integers(w))
        if rng.random() < 0.5:  # thin bar, 1-2 px across
            length, thick = int(rng.integers(10, 40)), int(rng.integers(1, 3))
            rh, rw = (thick, length) if rng.random() < 0.5 else (length, thick)
        else:
            rh, rw = (int(v) for v in rng.integers(3, 22, size=2))
        fg[y : y + rh, x : x + rw] = True
    vals = rng.choice(np.array([40, 65, 97, 126, 127, FILL, 250], dtype=np.uint8), size=(h, w))
    return np.where(fg, vals, rng.integers(0, BIN_THRESHOLD + 1, size=(h, w))).astype(np.uint8)


# ----------------------------------------------------------- properties
@given(
    h=st.integers(0, 48),
    w=st.integers(0, 48),
    density=st.floats(0.0, 1.0),
    seed=st.integers(0, 2**32 - 1),
    n_rects=st.integers(0, 6),
)
@example(h=0, w=0, density=0.5, seed=0, n_rects=0)
@example(h=0, w=9, density=0.5, seed=0, n_rects=0)
@example(h=9, w=0, density=0.5, seed=0, n_rects=0)
@example(h=20, w=30, density=0.0, seed=0, n_rects=0)
@example(h=20, w=30, density=1.0, seed=0, n_rects=0)
@example(h=1, w=48, density=0.7, seed=1, n_rects=0)
@example(h=48, w=1, density=0.7, seed=2, n_rects=0)
@settings(max_examples=300, deadline=None)
def test_labeling_matches_union_find_reference(h, w, density, seed, n_rects):
    assert_same_everywhere(random_grid(h, w, density, seed, n_rects))


def test_rotated_bars_lines_and_angles_match_reference():
    """Arbitrary-angle lines and elongated components (the deskew and
    E2 cases random masks rarely hit)."""
    g = np.zeros((96, 128), dtype=np.uint8)
    for y in (12, 30, 48, 66, 84):
        g[y : y + 4, 10:110] = 200
    g[5, 5:60] = 200  # 1-px line
    for theta in (0.0, 2.0, -7.0, 13.0, 30.0, 44.0):
        assert_same_everywhere(mp.rotate_grid(g, theta))


# -------------------------------------------------- adversarial 512^2
def comb_mask(n: int = 512) -> np.ndarray:
    """A spine along the top with 1-px teeth every other column."""
    m = np.zeros((n, n), dtype=bool)
    m[0] = True
    m[:, ::2] = True
    return m


def spiral_mask(n: int = 512) -> np.ndarray:
    """A 1-px square spiral wall with a 1-px corridor: one component."""
    m = np.zeros((n, n), dtype=bool)
    y = x = 0
    dy, dx = 0, 1
    m[0, 0] = True
    steps = n - 1
    while steps > 0:
        for _ in range(2):  # two sides per step length, then turn inward
            for _ in range(steps):
                y, x = y + dy, x + dx
                m[y, x] = True
            dy, dx = dx, -dy
        steps -= 2
    return m


def serpentine_mask(n: int = 512) -> np.ndarray:
    """Vertical bars on even columns joined alternately at the bottom
    and top rows: one boustrophedon path that visits every row's runs
    left to right, so labels would crawl one bar per propagation round."""
    m = np.zeros((n, n), dtype=bool)
    m[:, ::2] = True
    for x in range(1, n - 1, 2):
        m[n - 1 if (x // 2) % 2 == 0 else 0, x] = True
    return m


def test_adversarial_512_masks_match_reference():
    for mask in (comb_mask(), spiral_mask(), serpentine_mask()):
        grid = np.where(mask, np.uint8(FILL), np.uint8(0))
        new = mp._components(grid)
        assert len(new) == 1
        assert as_dicts(new) == ref_components(grid)
        assert mp.extract_regions(grid) == ref_extract_regions(grid)
        assert mp._median_angle(new) == ref_median_angle(ref_components(grid))


def test_shared_corner_components_keep_raster_first_run_order():
    """Two components with the same (ymin, xmin): the region sort ties,
    and the tie keeps the raster order of each component's first run."""
    g = np.zeros((40, 40), dtype=np.uint8)
    g[0:10, 0:8] = ord("B")   # block: first run at (0, 0)
    g[0:21, 12:15] = ord("A")  # hook: vertical bar at x 12..14 ...
    g[18:21, 0:15] = ord("A")  # ... and its foot back to x 0
    regions = mp.extract_regions(g)
    assert [(r["ymin"], r["xmin"], r["token"][0]) for r in regions] == [
        (0, 0, "B"),
        (0, 0, "A"),
    ]
    assert regions == ref_extract_regions(g)


def test_moments_refuse_sizes_that_could_wrap_int64():
    comps = mp._components(np.full((1, 3), 200, dtype=np.uint8))
    comps.shape = (2**16, 2**16)  # sums could pass 2**63 on this canvas
    with pytest.raises(ValueError, match="int64"):
        mp._moments(comps)
