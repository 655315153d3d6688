"""Media extraction path: the engine's OCR-analogue, as mapInArrow.

Re-expresses the reference's per-image chain — binarize
(OCR/src/comprehensive_detector.py:57-79), connected-component region
segmentation with min-area filters (OCR/src/symbol_detector.py:144-167),
token read-out (EasyOCR readtext at OCR/src/detect.py:254-261, replaced
by a deterministic byte tokenizer per SURVEY.md §2.3 E4), confidence
filter (detect.py:366-368), cleanup+classify (detect.py:419-502) — as a
1->N Arrow batch transform: each input media span emits zero or more
detection rows.

Scale notes:
  - runs inside ``mapInArrow`` (Arrow batches, never per-row Python UDF);
  - the component labeling is run-length based and whole-array:
    row runs, the overlap edges between adjacent rows, root hooking
    with pointer jumping, and per-component sums all run as NumPy
    operations, with no per-run or per-pixel Python;
  - every per-payload stage runs one loop (payload_batches) that yields
    output in chunks of at most OUTPUT_CHUNK_ROWS rows, so a
    multi-region "map image" document cannot materialize unbounded rows
    in one Python list or one RecordBatch (SURVEY.md §7.4 hard part 3);
  - payload resolution is a pure function of media_ref here (synthetic
    corpus, FIXTURES.md §1); a real deployment swaps `_resolve_payload`
    for a blob-store fetch — the surrounding plan is unchanged.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql.pandas.types import from_arrow_schema

from ..functions.text import (
    MIN_CONF,
    py_clean_token,
    py_is_valid_name,
    py_is_valid_number,
)
from ..schema import DETECTIONS_ARROW
from ..synth import (
    BIN_THRESHOLD,
    FILL,
    LOWC_TOKEN_BASE,
    LOWC_TOKEN_SHIFT,
    MIN_AREA,
    decode_payload_any,
    media_payload,
)

OUTPUT_CHUNK_ROWS = 4096


# ------------------------------------------------- component labeling
def _row_runs(mask: np.ndarray):
    """All horizontal runs of True: arrays (row, x_start, x_end_excl)."""
    h, w = mask.shape
    padded = np.zeros((h, w + 2), dtype=bool)
    padded[:, 1:-1] = mask
    # every padded row starts and ends False, so its transitions pair up
    # as (start, end) and the flat positions alternate start, end
    t = np.flatnonzero(padded[:, 1:] != padded[:, :-1])
    row, col = np.divmod(t, w + 1)
    return row[0::2], col[0::2], col[1::2]


class Components:
    """4-connected components of a mask, as row runs grouped per component.

    Component k owns runs ``start[k]:start[k] + count[k]`` of the run
    arrays (y, x0, x1; x1 exclusive), in raster order. Components are
    ordered by their first run in raster order, so a stable sort on any
    key breaks ties the way a raster scan would. ymin/ymax/xmin/xmax/
    area are per-component arrays (xmax exclusive, area == pixel count).
    """

    __slots__ = ("shape", "y", "x0", "x1", "start", "count",
                 "ymin", "ymax", "xmin", "xmax", "area")

    def __init__(self, shape, y, x0, x1, count):
        self.shape = shape
        self.y, self.x0, self.x1, self.count = y, x0, x1, count
        self.start = np.cumsum(count) - count
        self.ymin, self.ymax = y[self.start], y[self.start + count - 1]
        self.xmin = np.minimum.reduceat(x0, self.start)
        self.xmax = np.maximum.reduceat(x1, self.start)
        self.area = np.add.reduceat(x1 - x0, self.start)

    def __len__(self) -> int:
        return len(self.count)

    def runs(self, k: int) -> list[tuple[int, int, int]]:
        """Component k's runs as (y, x0, x1) Python ints, raster order."""
        s = slice(int(self.start[k]), int(self.start[k] + self.count[k]))
        return list(zip(self.y[s].tolist(), self.x0[s].tolist(), self.x1[s].tolist()))

    def crop(self, k: int) -> np.ndarray:
        """Component k's own pixels as a bool mask over its bbox."""
        y0, x0 = int(self.ymin[k]), int(self.xmin[k])
        mask = np.zeros((int(self.ymax[k]) - y0 + 1, int(self.xmax[k]) - x0), dtype=bool)
        for y, a, b in self.runs(k):
            mask[y - y0, a - x0 : b - x0] = True
        return mask


def _label_runs(y: np.ndarray, x0: np.ndarray, x1: np.ndarray, w: int) -> np.ndarray:
    """Per-run label: the smallest run index in its 4-connected component.

    Runs on adjacent rows are joined iff their columns overlap. The
    overlapping runs of the previous row form one index range per run,
    found by two binary searches over raster keys row*(w+2)+x. Roots
    are merged by hooking the larger root under the smaller, then
    pointer-jumping to a fixpoint. Hooking roots converges in a few
    rounds even on combs and spirals, where propagating minimum labels
    along edges needs as many rounds as the longest path has runs."""
    n = len(y)
    stride = w + 2
    key = y * stride
    lo = np.searchsorted(key + x1, key - stride + x0, side="right")
    hi = np.searchsorted(key + x0, key - stride + x1, side="left")
    deg = np.maximum(hi - lo, 0)
    b = np.repeat(np.arange(n), deg)
    a = np.repeat(lo - np.cumsum(deg) + deg, deg) + np.arange(len(b))
    parent = np.arange(n)
    while len(a):
        ra, rb = parent[a], parent[b]
        split = ra != rb
        if not split.any():
            break
        a, b, ra, rb = a[split], b[split], ra[split], rb[split]
        np.minimum.at(parent, np.maximum(ra, rb), np.minimum(ra, rb))
        while True:
            jumped = parent[parent]
            if np.array_equal(jumped, parent):
                break
            parent = jumped
    return parent


def _components(grid: np.ndarray, mask: np.ndarray | None = None) -> Components:
    """Binarize -> 4-connected components over row runs (whole-array).

    Returns raw components (bbox, area, runs) with no filtering — the
    shared segmentation primitive behind token regions (extract_regions),
    deskew, line segments (extract_line_segments) and template
    candidates (templatematch). An explicit mask (e.g. morph-opened)
    overrides the default binarization.
    """
    if mask is None:
        mask = grid > BIN_THRESHOLD
    y, x0, x1 = _row_runs(mask)
    label = _label_runs(y, x0, x1, mask.shape[1])
    is_root = label == np.arange(len(label))
    comp = (np.cumsum(is_root) - 1)[label]
    order = np.argsort(comp, kind="stable")
    count = np.bincount(comp, minlength=int(is_root.sum()))
    return Components(mask.shape, y[order], x0[order], x1[order], count)


def _moments(comps: Components) -> tuple[np.ndarray, ...]:
    """Per-component exact pixel moments (n, sx, sy, sxx, syy, sxy) as
    int64 sums over runs: the closed-form run sums are integers, so
    nothing rounds. Raises on grids whose sums could pass 2**63 (int64
    would wrap where Python ints grow)."""
    h, w = comps.shape
    if 2 * h * w * max(h, w) ** 2 >= 2**63:
        raise ValueError(f"grid {h}x{w} too large for exact int64 moments")
    y, x0, x1 = comps.y, comps.x0, comps.x1
    m = x1 - x0
    rsx = m * (x0 + x1 - 1) // 2  # sum of x over the run

    def s2(k):  # sum of j^2 for j in [0, k]
        return k * (k + 1) * (2 * k + 1) // 6

    per_run = (m, rsx, y * m, s2(x1 - 1) - s2(x0 - 1), y * y * m, y * rsx)
    return tuple(np.add.reduceat(v, comps.start) for v in per_run)


MIN_LINE_LEN = 15  # min Hough-analogue segment length, px

# -------------------------------------------------------------- deskew
# Orientation correction (P4, OCR/src/comprehensive_detector.py:81-99):
# per-component angle -> median -> rotate if |angle| > 0.5 deg.
DESKEW_MIN_ANGLE = 0.5
DESKEW_MIN_ELONGATION = 1.5


def _component_angle(n, sx, sy, sxx, syy, sxy) -> tuple[float, float] | None:
    """Principal-axis angle (deg) of one component from its pixel
    moments (float sums, exact integers), via closed-form second
    moments (no pixel materialization). Returns (angle_deg, elongation)
    or None."""
    mx, my = sx / n, sy / n
    cxx = sxx / n - mx * mx
    cyy = syy / n - my * my
    cxy = sxy / n - mx * my
    import math

    tr = cxx + cyy
    det = math.sqrt(max((cxx - cyy) ** 2 + 4 * cxy * cxy, 0.0))
    l1, l2 = (tr + det) / 2.0, (tr - det) / 2.0
    if l2 <= 1e-9 or l1 / max(l2, 1e-9) < DESKEW_MIN_ELONGATION**2:
        return None
    angle = 0.5 * math.degrees(math.atan2(2 * cxy, cxx - cyy))
    # fold to [-45, 45): text-block orientation, not direction
    while angle >= 45:
        angle -= 90
    while angle < -45:
        angle += 90
    return angle, l1 / max(l2, 1e-9)


def _median_angle(comps: Components) -> float:
    """Median principal-axis angle over elongated components (the
    reference takes the median over text-box angles)."""
    angles = []
    big = comps.area >= MIN_AREA  # speckles never reach the math step
    sums = [v[big].astype(np.float64).tolist() for v in _moments(comps)]
    for mom in zip(*sums):
        a = _component_angle(*mom)
        if a is not None:
            angles.append(a[0])
    if not angles:
        return 0.0
    angles.sort()
    m = len(angles)
    return angles[m // 2] if m % 2 else (angles[m // 2 - 1] + angles[m // 2]) / 2.0


def estimate_skew_angle(grid: np.ndarray) -> float:
    return _median_angle(_components(grid))


def rotate_grid(grid: np.ndarray, angle_deg: float) -> np.ndarray:
    """Nearest-neighbour rotation about the center, same canvas size
    (value-preserving: every output pixel copies one input pixel)."""
    import math

    h, w = grid.shape
    rad = math.radians(angle_deg)
    cos, sin = math.cos(rad), math.sin(rad)
    cy, cx = (h - 1) / 2.0, (w - 1) / 2.0
    ys, xs = np.mgrid[0:h, 0:w]
    # inverse map: output (y,x) samples input rotated by -angle
    xr = cos * (xs - cx) + sin * (ys - cy) + cx
    yr = -sin * (xs - cx) + cos * (ys - cy) + cy
    xi = np.rint(xr).astype(np.int64)
    yi = np.rint(yr).astype(np.int64)
    valid = (xi >= 0) & (xi < w) & (yi >= 0) & (yi < h)
    out = np.zeros_like(grid)
    out[valid] = grid[yi[valid], xi[valid]]
    return out


def deskew_grid(grid: np.ndarray) -> np.ndarray:
    """P4: rotate by -median-angle when it exceeds the threshold.
    Axis-aligned payloads estimate ~0 deg and pass through untouched."""
    angle = estimate_skew_angle(grid)
    if abs(angle) <= DESKEW_MIN_ANGLE:
        return grid
    return rotate_grid(grid, -angle)


def _regions_from_comps(comps: Components, tok_grid: np.ndarray) -> list[dict]:
    """Min-area filter + token decode over labeled components: the
    shared tail of extract_regions (also reused by the deskew path so
    the estimate's labeling pass is not repeated)."""
    keep = comps.area >= MIN_AREA  # min-area noise filter (symbol_detector.py:148,207)
    if not keep.any():
        return []
    run_keep = np.repeat(keep, comps.count)
    y, x0 = comps.y[run_keep], comps.x0[run_keep]
    length = comps.x1[run_keep] - x0
    # one gather of every kept pixel, component by component, each in
    # raster order: pixel i of a run sits at its first flat index + i
    first = y * tok_grid.shape[1] + x0 - (np.cumsum(length) - length)
    flat = np.repeat(first, length)
    flat += np.arange(len(flat))
    vals = np.ravel(tok_grid)[flat]
    glyph = (vals != FILL) & (vals >= 33) & (vals <= 126)
    area = comps.area[keep]
    n_glyph = np.add.reduceat(glyph, np.cumsum(area) - area, dtype=np.int64)
    text = vals[glyph].tobytes().decode("ascii")
    ends = np.cumsum(n_glyph).tolist()
    regions = []
    for ymin, ymax, xmin, xmax, area, end, n in zip(
        comps.ymin[keep].tolist(), comps.ymax[keep].tolist(),
        comps.xmin[keep].tolist(), comps.xmax[keep].tolist(),
        area.tolist(), ends, n_glyph.tolist(),
    ):
        h = ymax - ymin + 1
        w = xmax - xmin
        regions.append(
            {
                "ymin": ymin, "xmin": xmin, "h": h, "w": w,
                "area": area,
                "cx": xmin + w / 2.0,
                "cy": ymin + h / 2.0,
                "token": text[end - n : end],
            }
        )
    regions.sort(key=lambda r: (r["ymin"], r["xmin"]))
    return regions


def extract_regions(
    grid: np.ndarray, open_mask: bool = False, tok_grid: np.ndarray | None = None
) -> list[dict]:
    """Token regions: min-area filter -> token decode (E1+E4).

    Regions sorted by (ymin, xmin), each with bbox, area, center, and
    the decoded token (pixels whose value differs from the region fill
    are token bytes). Components are pixel-disjoint by construction, so
    no post-hoc overlap suppression is needed here (NMS is exposed
    separately in operators/nms.py for overlapping detector outputs).

    open_mask: apply the P3 morph-open cleanup to the binarized mask
    first (identity on solid >=3x3 regions; removes 1-px scratches and
    speckles on degraded payloads).

    tok_grid: grid to read token bytes from when segmentation and
    token read-out are decoupled (the gradient-lit path segments on the
    locally-equalized grid while bytes live in the raw grid's high
    band); defaults to `grid` itself.
    """
    mask = grid > BIN_THRESHOLD
    if open_mask:
        from .normalize import morph_open

        mask = morph_open(mask)
    return _regions_from_comps(
        _components(grid, mask), grid if tok_grid is None else tok_grid
    )


# ----------------------------------------------------------- E3 tiling
# Block tiling with overlap (OCR/src/detect.py:1260-1262, 1344-1419):
# the reference splits a 5300x4950 scan into fixed tiles with 50%
# overlap, skips near-empty tiles, and maps detections back to the
# global frame — bounding per-task memory to one tile regardless of
# payload size. Same scheme here: tile 128, stride 64 (overlap 64).
#
# Exactness contract: a component whose bbox max dimension is at most
# TILE_SIZE - TILE_STRIDE - 2*TILE_EDGE_MARGIN is strictly contained
# (with margin) in at least one tile (sliding-window pigeonhole), and a
# component strictly inside a tile has identical runs there, so after
# dropping regions that come within the margin of a non-global tile
# edge (those are potential clips) and deduplicating by absolute
# bbox+token, the tiled output EQUALS the untiled output (pinned by
# tests and by the golden invariant — huge skew payloads are tiled by
# default).
#
# Tiling is a MEMORY bound, not a speed-up: the overlap re-processes
# each pixel ~(TILE/STRIDE)^2 times, so grids at or below MAX_UNTILED
# (a few hundred KB — nothing by task-memory standards) take the
# strictly-faster single pass, and only scans that could actually
# pressure a task (the reference's 5300x4950 inputs) get tiled.
TILE_SIZE = 256
TILE_STRIDE = 192
MAX_UNTILED = 512


def tile_origins(n: int, tile: int = TILE_SIZE, stride: int = TILE_STRIDE) -> list[int]:
    """Tile start offsets covering [0, n): step by stride until a tile
    reaches the end."""
    starts = [0]
    while starts[-1] + tile < n:
        starts.append(starts[-1] + stride)
    return starts


TILE_EDGE_MARGIN = 2  # keep regions >= this far from non-global tile edges
# (margin 2, not 1: the per-tile morph-open has radius-1 context, so a
# region this far inside a tile opens identically to the global frame)


def extract_regions_tiled(
    grid: np.ndarray,
    tile: int = TILE_SIZE,
    stride: int = TILE_STRIDE,
    min_coverage: float = 0.0,
    stats: dict | None = None,
    open_mask: bool = False,
    max_untiled: int = MAX_UNTILED,
    tok_grid: np.ndarray | None = None,
) -> list[dict]:
    """Token regions via overlapped tiling; equals extract_regions for
    payloads whose components fit the exactness contract above.

    min_coverage: skip tiles whose foreground fraction is <= this
    (0.0 = skip only all-background tiles, which is lossless; the
    reference uses 0.10 as a lossy speed heuristic, detect.py:1358).
    stats, if given, accrues {'n_tiles', 'n_tiles_skipped',
    'n_oversized_fallback'}.
    max_untiled: grids whose max dimension is at or under this take the
    single-pass path (see module comment); tests pass 0 to force tiling.

    Oversized-component guard: a component larger than
    TILE_SIZE - TILE_STRIDE - 2*TILE_EDGE_MARGIN px violates the
    exactness contract — it touches the edge margin in every tile, so
    the margin rule would drop it everywhere (the reference instead
    keeps clipped detections and NMS-suppresses duplicates,
    detect.py:1344-1419). Rather than losing detections silently, every
    margin-rejected fragment is checked against the accepted set: a
    fragment is only safe if some accepted region's bbox CONTAINS it
    AND that region's token contains the fragment's token as a
    substring (so an unrelated larger region that merely happens to
    enclose the fragment's bbox cannot mask the drop); a fragment
    clipped on BOTH opposing tile edges cannot have an unclipped twin
    in any tile and triggers the fallback immediately. Any orphan means
    some component was dropped in every tile, and the payload FALLS
    BACK to single-pass segmentation (correctness over the per-tile
    memory bound, counted in stats['n_oversized_fallback']).
    """
    h, w = grid.shape
    tok = grid if tok_grid is None else tok_grid
    if h <= max(tile, max_untiled) and w <= max(tile, max_untiled):
        if stats is not None:  # single pass counts as one processed tile
            stats["n_tiles"] = stats.get("n_tiles", 0) + 1
            stats.setdefault("n_tiles_skipped", 0)
        return extract_regions(grid, open_mask=open_mask, tok_grid=tok)
    seen: dict[tuple, dict] = {}
    # absolute clipped bboxes + fragment token
    rejected: list[tuple[int, int, int, int, str]] = []
    spans_tile = False  # a fragment clipped on both opposing edges
    n_tiles = n_skipped = 0
    m = TILE_EDGE_MARGIN
    for sy in tile_origins(h, tile, stride):
        for sx in tile_origins(w, tile, stride):
            sub = grid[sy : sy + tile, sx : sx + tile]
            th, tw = sub.shape
            n_tiles += 1
            if (sub > BIN_THRESHOLD).mean() <= min_coverage:
                n_skipped += 1
                continue
            tsub = tok[sy : sy + tile, sx : sx + tile]
            for reg in extract_regions(sub, open_mask=open_mask, tok_grid=tsub):
                y0, x0 = reg["ymin"], reg["xmin"]
                y1 = y0 + reg["h"] - 1
                x1 = x0 + reg["w"] - 1
                # drop potentially-clipped regions: closer than the
                # margin to a tile edge is only allowed where that edge
                # is the global edge
                top = y0 < m and sy != 0
                left = x0 < m and sx != 0
                bottom = y1 >= th - m and sy + th != h
                right = x1 >= tw - m and sx + tw != w
                if top or left or bottom or right:
                    if (top and bottom) or (left and right):
                        spans_tile = True  # no tile can hold this one
                    rejected.append(
                        (sy + y0, sx + x0, sy + y1, sx + x1, reg["token"])
                    )
                    continue
                key = (sy + y0, sx + x0, reg["h"], reg["w"], reg["token"])
                if key not in seen:
                    seen[key] = {
                        **reg,
                        "ymin": sy + y0,
                        "xmin": sx + x0,
                        "cx": reg["cx"] + sx,
                        "cy": reg["cy"] + sy,
                    }
    if stats is not None:
        stats["n_tiles"] = stats.get("n_tiles", 0) + n_tiles
        stats["n_tiles_skipped"] = stats.get("n_tiles_skipped", 0) + n_skipped
    # contract check: every clipped fragment must be contained in some
    # accepted region that is genuinely its unclipped twin (bbox
    # containment AND fragment token a substring of the twin's token);
    # an orphan fragment — or one spanning a whole tile interior —
    # means an oversized component was dropped in every tile
    accepted_boxes = [
        (r["ymin"], r["xmin"], r["ymin"] + r["h"] - 1,
         r["xmin"] + r["w"] - 1, r["token"])
        for r in seen.values()
    ]
    orphan = spans_tile or any(
        not any(
            ay0 <= fy0 and ax0 <= fx0 and fy1 <= ay1 and fx1 <= ax1
            and ftok in atok
            for ay0, ax0, ay1, ax1, atok in accepted_boxes
        )
        for fy0, fx0, fy1, fx1, ftok in rejected
    )
    if orphan:
        if stats is not None:
            stats["n_oversized_fallback"] = (
                stats.get("n_oversized_fallback", 0) + 1
            )
        return extract_regions(grid, open_mask=open_mask, tok_grid=tok)
    regions = list(seen.values())
    regions.sort(key=lambda r: (r["ymin"], r["xmin"]))
    return regions


MAX_LINE_THICKNESS = 2.5  # max extent perpendicular to the principal axis


def _line_geometry(
    runs: list[tuple[int, int, int]], n: int, sx: int, sy: int,
    sxx: int, syy: int, sxy: int,
) -> dict | None:
    """Arbitrary-angle line geometry of one component from its runs
    and exact integer pixel moments (E2, the Hough-pass analogue
    generalized beyond 0/90 degrees): principal axis via second
    moments, then project run endpoints onto the axis — a component is
    a line iff its extent perpendicular to the axis is <=
    MAX_LINE_THICKNESS px and its extent along the axis is >=
    MIN_LINE_LEN px. The moments are Python ints until the final
    divisions, so oracle and pipeline agree bit-for-bit.

    Endpoints are the actual extreme pixels along the axis (ties broken
    by smallest (y, x)), ordered so (y1,x1) <= (y2,x2); angle is
    degrees(atan2(y2-y1, x2-x1)) folded into [0, 180) — the reference's
    line convention (symbol_detector.py:253-254)."""
    import math

    if n == 0:
        return None
    mx, my = sx / n, sy / n
    cxx = sxx / n - mx * mx
    cyy = syy / n - my * my
    cxy = sxy / n - mx * my
    theta = 0.5 * math.atan2(2 * cxy, cxx - cyy)
    ct, st = math.cos(theta), math.sin(theta)

    umin = vmin = float("inf")
    umax = vmax = float("-inf")
    pmin = pmax = None
    for y, x0, x1 in runs:
        for x in (x0, x1 - 1):  # u and v are linear in x: extremes at ends
            u = (x - mx) * ct + (y - my) * st
            v = -(x - mx) * st + (y - my) * ct
            vmin, vmax = min(vmin, v), max(vmax, v)
            if u < umin or (u == umin and (y, x) < pmin):
                umin, pmin = u, (y, x)
            if u > umax or (u == umax and (y, x) < pmax):
                umax, pmax = u, (y, x)
    if (vmax - vmin + 1) > MAX_LINE_THICKNESS:
        return None
    length = umax - umin + 1
    if length < MIN_LINE_LEN:
        return None
    p1, p2 = sorted([pmin, pmax])
    angle = math.degrees(math.atan2(p2[0] - p1[0], p2[1] - p1[1])) % 180.0
    return {
        "x1": p1[1], "y1": p1[0], "x2": p2[1], "y2": p2[0],
        "length": float(length), "angle": angle,
    }


def extract_line_segments(grid: np.ndarray) -> list[dict]:
    """Line segments (E2): thin elongated components at ANY angle as
    (x1,y1)->(x2,y2) rows with length and angle in [0,180) — the
    reference's transport-line rows (symbol_detector.py:215-245,
    preprocess.py:66-112 arbitrary-angle Hough). Sorted by (y1, x1).
    Negative scans are re-inverted first; NO morph-open here (it would
    erase the 1-px lines this path exists to find)."""
    from .normalize import invert_if_negative

    grid = invert_if_negative(grid)
    comps = _components(grid)
    lines = []
    for k, mom in enumerate(zip(*(v.tolist() for v in _moments(comps)))):
        g = _line_geometry(comps.runs(k), *mom)
        if g is not None:
            lines.append(g)
    lines.sort(key=lambda r: (r["y1"], r["x1"]))
    return lines


def merge_line_segments(
    lines: list[dict], angle_tol: float = 5.0, dist_tol: float = 10.0
) -> list[dict]:
    """W5 line grouping/merge (comprehensive_detector.py:193-231,
    symbol_detector.py:246-287): greedily group segments whose angle is
    within angle_tol of the group's FIRST member (circular, mod 180)
    and whose midpoint is within dist_tol of that member's midpoint;
    each group collapses to its longest member (first-come wins ties —
    the reference pops an existing line only when strictly shorter),
    annotated with n_merged. Input order (sorted by (y1,x1)) makes the
    greedy pass deterministic.

    Scale: group heads are indexed in a midpoint grid with cell size
    dist_tol, so each segment probes only the 3x3 neighbouring cells
    instead of scanning every head — ~O(n) per payload. (The reference's
    real maps carry ~71k raw segments each, BASELINE.md; a linear scan
    over heads would dominate there.) Joining the EARLIEST-created
    matching head preserves the reference's first-match-in-creation-
    order semantics exactly; per-cell head counts are bounded because
    two heads in one cell must differ in angle by >= angle_tol
    (otherwise the later one would have joined the earlier)."""
    heads: list[tuple[dict, float, float]] = []  # (head seg, mid x, mid y)
    best: list[dict] = []
    counts: list[int] = []
    cells: dict[tuple[int, int], list[int]] = {}
    d2 = dist_tol * dist_tol
    for ln in lines:
        mx = (ln["x1"] + ln["x2"]) / 2.0
        my = (ln["y1"] + ln["y2"]) / 2.0
        cx, cy = int(mx // dist_tol), int(my // dist_tol)
        gi_match: int | None = None
        for dy in (-1, 0, 1):
            for dx in (-1, 0, 1):
                for gi in cells.get((cx + dx, cy + dy), ()):
                    if gi_match is not None and gi >= gi_match:
                        continue
                    f, fmx, fmy = heads[gi]
                    da = abs(ln["angle"] - f["angle"])
                    da = min(da, 180.0 - da)
                    if da < angle_tol and (
                        (mx - fmx) ** 2 + (my - fmy) ** 2
                    ) < d2:
                        gi_match = gi
        if gi_match is None:
            cells.setdefault((cx, cy), []).append(len(heads))
            heads.append((ln, mx, my))
            best.append(ln)
            counts.append(1)
        else:
            counts[gi_match] += 1
            if ln["length"] > best[gi_match]["length"]:
                best[gi_match] = ln
    merged = [{**b, "n_merged": c} for b, c in zip(best, counts)]
    merged.sort(key=lambda r: (r["y1"], r["x1"]))
    return merged


# ------------------------------------------------ per-payload Arrow stages
class RowChunks:
    """Row buffer of a mapInArrow body: rows go in as dicts and come out
    as RecordBatches of `schema` holding at most OUTPUT_CHUNK_ROWS rows,
    buffered across input batches."""

    def __init__(self, schema: pa.Schema):
        self.schema = schema
        self.rows: list[dict] = []

    def add(self, rows: list[dict]) -> list[pa.RecordBatch]:
        """Buffer rows; return every chunk that is now full."""
        self.rows.extend(rows)
        full = []
        while len(self.rows) >= OUTPUT_CHUNK_ROWS:
            chunk = self.rows[:OUTPUT_CHUNK_ROWS]
            del self.rows[:OUTPUT_CHUNK_ROWS]
            full.append(pa.RecordBatch.from_pylist(chunk, schema=self.schema))
        return full

    def flush(self) -> list[pa.RecordBatch]:
        """Return the partial last chunk, if any, and empty the buffer."""
        rest, self.rows = self.rows, []
        return [pa.RecordBatch.from_pylist(rest, schema=self.schema)] if rest else []


def _payload_keys(batch: pa.RecordBatch):
    return zip(
        batch.column("doc_id").to_pylist(),
        batch.column("offset").to_pylist(),
        batch.column("media_ref").to_pylist(),
    )


def payload_batches(
    batches: Iterator[pa.RecordBatch],
    fn: Callable[[str, int, str], list[dict]],
    schema: pa.Schema,
) -> Iterator[pa.RecordBatch]:
    """The per-payload mapInArrow loop: fn(doc_id, offset, media_ref)
    returns one payload's output rows, emitted as `schema` batches of at
    most OUTPUT_CHUNK_ROWS rows."""
    out = RowChunks(schema)
    for batch in batches:
        for doc_id, offset, ref in _payload_keys(batch):
            yield from out.add(fn(doc_id, offset, ref))
    yield from out.flush()


def map_payloads(
    media_spans_df, fn: Callable[[str, int, str], list[dict]], schema: pa.Schema
):
    """DataFrame stage: exploded media spans -> fn's rows per payload
    (1->N mapInArrow through payload_batches). The Spark schema is
    derived from the Arrow one, so each output is declared once."""
    return media_spans_df.select("doc_id", "offset", "media_ref").mapInArrow(
        lambda batches: payload_batches(batches, fn, schema),
        schema=from_arrow_schema(schema),
    )


LINE_ARROW = pa.schema(
    [
        pa.field("doc_id", pa.string()),
        pa.field("offset", pa.int32()),
        pa.field("line_idx", pa.int32()),
        pa.field("media_ref", pa.string()),
        pa.field("x1", pa.int32()),
        pa.field("y1", pa.int32()),
        pa.field("x2", pa.int32()),
        pa.field("y2", pa.int32()),
        pa.field("length", pa.float64()),
        pa.field("angle", pa.float64()),
        pa.field("n_merged", pa.int32()),
    ]
)


def line_rows(doc_id: str, offset: int, media_ref: str) -> list[dict]:
    """One payload's line-segment rows, W5 group/merge applied within
    the payload (n_merged counts members)."""
    grid, _img = decode_payload_any(_resolve_payload(media_ref))
    return [
        {"doc_id": doc_id, "offset": offset, "line_idx": i, "media_ref": media_ref, **ln}
        for i, ln in enumerate(merge_line_segments(extract_line_segments(grid)))
    ]


def line_features(media_spans_df):
    """DataFrame stage: exploded media spans -> line-segment rows
    (1->N mapInArrow, same shape as the token path)."""
    return map_payloads(media_spans_df, line_rows, LINE_ARROW)


# ----------------------------------------------------- record emission
def token_conf(media_ref: str, token: str) -> float:
    """Deterministic stand-in for OCR confidence: pure fn of inputs."""
    digest = hashlib.md5(f"{media_ref}|{token}".encode()).hexdigest()
    return 0.2 + (int(digest[:8], 16) % 801) / 1000.0


def _resolve_payload(media_ref: str) -> bytes:
    """Synthetic corpus: payload bytes are a pure fn of media_ref.

    A real deployment replaces this with a blob-store/object-store
    fetch; everything downstream is unchanged.
    """
    return media_payload(media_ref)


def greedy_dedup_payload(records: list[dict]) -> list[dict]:
    """Greedy within-payload dedup, reference semantics (detect.py:384-417
    names via Jaccard char-set, 538-575 numbers via value+spatial).

    Runs inside the Arrow batch before rows leave the UDF (SURVEY.md
    §2.6 W4) — the dedup rule only compares detections of the same
    payload, so doing it here removes a corpus-wide shuffle + grouped
    Python stage from the pipeline. This is the engine's only
    implementation of the rule; oracle.py mirrors it independently.
    """
    from ..functions.geometry import (
        DEDUP_MAX_DIST,
        DEDUP_NUM_DELTA,
        DEDUP_SIM_THRESHOLD,
    )
    from ..functions.similarity import jaccard_charset

    ordered = sorted(
        records, key=lambda r: (-r["conf"], r["region_idx"], r["token_idx"])
    )
    kept: list[dict] = []
    for r in ordered:
        dup = False
        for k in kept:
            if k["is_number"] != r["is_number"]:
                continue
            dx, dy = r["cx"] - k["cx"], r["cy"] - k["cy"]
            if dx * dx + dy * dy >= DEDUP_MAX_DIST * DEDUP_MAX_DIST:
                continue
            if r["is_number"]:
                if abs(int(r["text"]) - int(k["text"])) <= DEDUP_NUM_DELTA:
                    dup = True
                    break
            elif jaccard_charset(r["text"], k["text"]) > DEDUP_SIM_THRESHOLD:
                dup = True
                break
        if not dup:
            kept.append(r)
    kept.sort(key=lambda r: (r["region_idx"], r["token_idx"]))
    return kept


def normalize_payload(gray: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """P2 normalization -> (segmentation grid, token grid).

    Polarity inversion first, then the gradient gate: when the
    binarized foreground fraction exceeds GRADIENT_FG_FRAC, the
    background itself leaks over the threshold — the scan is
    gradient-lit and segmentation runs on the tile-local equalization
    (the CLAHE analogue, preprocess.py:24-31) while token bytes are
    read from the raw grid's high band (value - LOWC_TOKEN_SHIFT;
    everything below LOWC_TOKEN_BASE is fill/background). Well-lit
    scans pass through with seg == tok."""
    from .normalize import GRADIENT_FG_FRAC, invert_if_negative, local_contrast_enhance

    gray = invert_if_negative(gray)
    if float((gray > BIN_THRESHOLD).mean()) > GRADIENT_FG_FRAC:
        seg = local_contrast_enhance(gray)
        tok = np.where(
            gray >= LOWC_TOKEN_BASE, gray - np.uint8(LOWC_TOKEN_SHIFT), np.uint8(FILL)
        ).astype(np.uint8)
        return seg, tok
    return gray, gray


def classify_token(clean: str, category: str | None) -> bool | None:
    """Classification driver: returns is_number, or None = rejected.

    category is the ink-color routing verdict (red -> 'number',
    black -> 'name', blue -> 'water', reference detect.py:226-330): the
    color family's validator must accept the content or the detection
    is rejected. With no color information (grayscale scans), fall back
    to content-first classification (detect.py:419-472)."""
    if category == "number":
        return True if py_is_valid_number(clean) else None
    if category in ("name", "water"):
        return False if py_is_valid_name(clean) else None
    if py_is_valid_number(clean):
        return True
    if py_is_valid_name(clean):
        return False
    return None


def extract_media_records(
    doc_id: str,
    offset: int,
    media_ref: str,
    dedup: bool = True,
    stats: dict | None = None,
) -> list[dict]:
    """One media span -> N classified detection records.

    Chain: decode (gray or RGB PNG) -> P1 resize cap (NN decimation of
    over-RESIZE_CAP scans, detect.py:95-106) -> polarity inversion -> gradient
    gate / tile-local equalization (P2) -> deskew (P4: median component
    angle, rotate when |angle| > 0.5 deg — single-channel untiled
    payloads only; the estimate reuses the same labeling pass as the
    extraction, so straight payloads pay no second segmentation) ->
    component segmentation + byte tokenizer (E1/E4, morph-opened mask)
    -> ink-color routing on RGB payloads (red=numbers, black=names,
    blue=water, detect.py:226-330) -> cleanup/classify -> greedy dedup.

    Payloads larger than one tile go through the overlapped-tiling
    segmentation (E3) so per-span memory is bounded by a tile, not the
    payload; stats (optional dict) accrues tile counts for lineage.
    Every stage is mirrored bit-for-bit by the single-process oracle
    (oracle.py), so rotated / gradient-lit / colored fixture families
    are covered by the golden span invariant end to end.
    """
    from .normalize import morph_open, resize_cap

    gray, img = decode_payload_any(_resolve_payload(media_ref))
    # P1 resize cap right after decode (detect.py:95-106): identity for
    # in-bounds payloads; over-cap scans (media://hires/) decimate to
    # RESIZE_CAP before any further stage, bounding per-span cost
    gray = resize_cap(gray)
    if img is not None:
        img = resize_cap(img)
    seg, tok = normalize_payload(gray)

    if img is None and max(seg.shape) <= MAX_UNTILED:
        mask = morph_open(seg > BIN_THRESHOLD)
        comps = _components(seg, mask)
        angle = _median_angle(comps)
        if abs(angle) > DESKEW_MIN_ANGLE:
            seg2 = rotate_grid(seg, -angle)
            tok2 = seg2 if tok is seg else rotate_grid(tok, -angle)
            regions = extract_regions(seg2, open_mask=True, tok_grid=tok2)
        else:
            regions = _regions_from_comps(comps, tok)
        if stats is not None:
            stats["n_tiles"] = stats.get("n_tiles", 0) + 1
            stats.setdefault("n_tiles_skipped", 0)
    else:
        regions = extract_regions_tiled(
            seg, stats=stats, open_mask=True, tok_grid=tok
        )

    out = []
    for region_idx, reg in enumerate(regions):
        token = reg["token"]
        if len(token) < 1:
            continue  # blob with no glyphs (detect.py:366-368 length gate)
        conf = token_conf(media_ref, token)
        if conf < MIN_CONF:
            continue
        clean = py_clean_token(token)
        category = None
        if img is not None:
            from ..functions.colorroute import route_category

            category = route_category(
                img, (reg["xmin"], reg["ymin"], reg["w"], reg["h"])
            )
        is_number = classify_token(clean, category)
        if is_number is None:
            continue  # rejected by routing/classify/noise rules
        out.append(
            {
                "doc_id": doc_id,
                "offset": offset,
                "region_idx": region_idx,
                "token_idx": 0,
                "kind": "media",
                "text": clean,
                "media_ref": media_ref,
                "conf": conf,
                "cx": reg["cx"],
                "cy": reg["cy"],
                "is_number": is_number,
            }
        )
    return greedy_dedup_payload(out) if dedup else out


def write_tile_metrics(tile_metrics_dir: str, stats: dict) -> None:
    """Retry-exact lineage channel: one metric file per TASK ATTEMPT,
    keyed (stage, partition, attempt) via TaskContext, written
    atomically (tmp + rename). The reader MAX-dedups per (stage,
    partition), so task retries and speculative duplicates can never
    over-count — unlike accumulators, which Spark re-applies on
    re-execution. Local-FS here; a cluster deployment points this at
    shared storage (the same contract object stores give)."""
    import json
    import os as _os

    from pyspark import TaskContext

    tc = TaskContext.get()
    if tc is None:
        return
    _os.makedirs(tile_metrics_dir, exist_ok=True)
    name = f"s{tc.stageId()}_p{tc.partitionId()}_a{tc.attemptNumber()}.json"
    tmp = _os.path.join(tile_metrics_dir, "." + name + ".tmp")
    with open(tmp, "w") as f:
        json.dump(
            {
                "stage_id": tc.stageId(),
                "partition_id": tc.partitionId(),
                "attempt": tc.attemptNumber(),
                "n_tiles": stats.get("n_tiles", 0),
                "n_tiles_skipped": stats.get("n_tiles_skipped", 0),
            },
            f,
        )
    _os.replace(tmp, _os.path.join(tile_metrics_dir, name))


def read_tile_metrics(tile_metrics_dir: str) -> dict:
    """Aggregate task metric files, keeping ONE row per (stage,
    partition) — the highest attempt; identical work per attempt makes
    any surviving attempt's counts the partition's exact counts."""
    import json
    import os as _os

    best: dict[tuple, dict] = {}
    if not _os.path.isdir(tile_metrics_dir):
        return {"n_tiles": 0, "n_tiles_skipped": 0, "max_attempt": 0}
    for name in _os.listdir(tile_metrics_dir):
        if name.startswith(".") or not name.endswith(".json"):
            continue
        with open(_os.path.join(tile_metrics_dir, name)) as f:
            row = json.load(f)
        key = (row["stage_id"], row["partition_id"])
        if key not in best or row["attempt"] > best[key]["attempt"]:
            best[key] = row
    return {
        "n_tiles": sum(r["n_tiles"] for r in best.values()),
        "n_tiles_skipped": sum(r["n_tiles_skipped"] for r in best.values()),
        "max_attempt": max((r["attempt"] for r in best.values()), default=0),
    }


def span_batches(
    batches: Iterator[pa.RecordBatch], tile_metrics_dir: str | None = None
) -> Iterator[pa.RecordBatch]:
    """Single-pass mapInArrow body over ALL spans, and the only code
    that emits detection rows.

    One scan of the docs table feeds one exchange and one Python stage
    (two branched plans would double-read the spans column — parquet
    does not prune struct fields here, so the naive union-of-branches
    plan costs 2x IO at corpus scale):

      - media spans  -> extracted detection rows (the 1->N OCR path);
        a media span whose regions are all rejected emits one null-kind
        sentinel row instead;
      - text spans   -> COLUMNAR passthrough (pyarrow filter + column
        reuse, no per-row Python; boilerplate cleanup happens after
        this stage in whole-stage codegen);
      - null-kind sentinels (posexplode_outer of empty docs) ->
        passthrough, so empty documents survive to the re-zip without
        a corpus-wide join.

    Every yielded batch holds at most OUTPUT_CHUNK_ROWS rows. Tiling
    counts go to tile_metrics_dir, if given, as one retry-exact file per
    task attempt (write_tile_metrics).
    """
    import pyarrow.compute as pc

    tile_stats: dict = {}
    out = RowChunks(DETECTIONS_ARROW)
    for batch in batches:
        kind = batch.column("kind")
        is_media = pc.equal(kind, "media")
        media_mask = pc.fill_null(is_media, False)
        # ---- non-media rows (text + sentinels): columnar passthrough
        passthrough = batch.filter(pc.invert(media_mask))
        n = passthrough.num_rows
        if n:
            pkind = passthrough.column("kind")
            is_text = pc.fill_null(pc.equal(pkind, "text"), False)
            rows = pa.RecordBatch.from_arrays(
                [
                    passthrough.column("doc_id"),
                    pc.fill_null(passthrough.column("offset"), -1).cast(pa.int32()),
                    pa.array([0] * n, pa.int32()),
                    pa.array([0] * n, pa.int32()),
                    pkind,
                    passthrough.column("text"),
                    pa.nulls(n, pa.string()),
                    pc.if_else(is_text, pa.scalar(1.0), pa.scalar(None, pa.float64())),
                    pa.array([0.0] * n, pa.float64()),
                    pa.array([0.0] * n, pa.float64()),
                    pa.array([False] * n, pa.bool_()),
                ],
                schema=DETECTIONS_ARROW,
            )
            for start in range(0, n, OUTPUT_CHUNK_ROWS):
                yield rows.slice(start, OUTPUT_CHUNK_ROWS)
        # ---- media rows: per-payload extraction
        for doc_id, offset, ref in _payload_keys(batch.filter(media_mask)):
            recs = extract_media_records(doc_id, offset, ref, stats=tile_stats)
            if not recs:
                # a media span whose regions are all rejected must still
                # keep its document alive through the re-zip (same
                # null-kind sentinel mechanism as the empty-text path);
                # rezip drops the sentinel from the spans array.
                recs = [
                    {
                        "doc_id": doc_id, "offset": offset,
                        "region_idx": 0, "token_idx": 0,
                        "kind": None, "text": None, "media_ref": None,
                        "conf": None, "cx": 0.0, "cy": 0.0,
                        "is_number": False,
                    }
                ]
            yield from out.add(recs)
    yield from out.flush()
    if tile_metrics_dir is not None:
        write_tile_metrics(tile_metrics_dir, tile_stats)


def span_detections(spans_df, tile_metrics_dir: str | None = None):
    """DataFrame stage: ALL exploded spans -> detection rows in one
    Python stage (see span_batches). Tiling counts for lineage flow out
    through tile_metrics_dir per-attempt metric files (retry-exact; see
    write_tile_metrics)."""
    return spans_df.select(
        "doc_id", "kind", "text", "media_ref", "offset"
    ).mapInArrow(
        lambda batches: span_batches(batches, tile_metrics_dir),
        schema=from_arrow_schema(DETECTIONS_ARROW),
    )


def media_detections(media_spans_df):
    """DataFrame stage: exploded media spans -> their detection rows.

    Input: explode_spans rows (doc_id, kind, text, media_ref, offset)
    filtered to media. The rows are span_detections' media rows, with
    the null-kind sentinels of all-rejected payloads dropped. The
    caller is expected to have repartitioned per-span (not per-doc) so
    a huge document's spans spread across tasks (SURVEY.md §4.3 skew
    handling).
    """
    return span_detections(media_spans_df).filter("kind = 'media'")
