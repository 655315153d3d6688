"""Pure-Python PNG codec (zlib only — no Pillow/cv2 in this
container), covering the full static-image spec (ISO/IEC 15948):

  decode: every valid (color type, bit depth) combination — grayscale
          1/2/4/8/16-bit, RGB 8/16-bit, palette 1/2/4/8-bit (PLTE),
          gray+alpha and RGBA 8/16-bit — all five scanline filters
          (None/Sub/Up/Average/Paeth), multi-IDAT streams, and both
          interlace methods (none + Adam7). Output is always 8-bit:
          16-bit samples take their high byte, sub-8-bit grayscale is
          rescaled to [0, 255], palette indices map through PLTE, and
          alpha composites over a white background (integer-exact
          (c*a + 255*(255-a) + 127) // 255). tRNS transparency is
          honored (exact stored-precision sample match for gray/RGB,
          per-entry alphas for palette, composited over white); other
          ancillary chunks (gAMA, ...) are CRC-checked and skipped.
  encode: 8-bit grayscale / RGB, filter 0, non-interlaced

operators/multimodal.py decodes PNG payloads with it, so the
`media_metadata` / `frame_sample_features` / `texture_features` Arrow
stages run on real image bytes end to end (the reference loads scans via
cv2.imread which accepts these subformats silently,
OCR/src/detect.py:122-128).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

PNG_SIGNATURE = b"\x89PNG\r\n\x1a\n"

# largest image area decode_png accepts: 2.5x the reference's 5300x4950
# scans. IDAT inflation is bounded by the size IHDR implies, so this cap
# is what bounds the memory a declared size can claim.
MAX_PNG_PIXELS = 1 << 26


def _chunk(tag: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + tag
        + body
        + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
    )


def encode_png_gray(grid: np.ndarray) -> bytes:
    """8-bit grayscale, filter type 0 on every scanline."""
    if grid.dtype != np.uint8 or grid.ndim != 2:
        raise ValueError("encode_png_gray wants a 2-D uint8 array")
    h, w = grid.shape
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    raw = b"".join(b"\x00" + grid[y].tobytes() for y in range(h))
    return (
        PNG_SIGNATURE
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(raw, 6))
        + _chunk(b"IEND", b"")
    )


def encode_png_rgb(img: np.ndarray) -> bytes:
    """8-bit RGB, filter type 0 on every scanline. img: (h, w, 3)."""
    if img.dtype != np.uint8 or img.ndim != 3 or img.shape[2] != 3:
        raise ValueError("encode_png_rgb wants an (h, w, 3) uint8 array")
    h, w = img.shape[:2]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    raw = b"".join(b"\x00" + img[y].tobytes() for y in range(h))
    return (
        PNG_SIGNATURE
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(raw, 6))
        + _chunk(b"IEND", b"")
    )


def encode_png_adam7(arr: np.ndarray) -> bytes:
    """8-bit grayscale (h, w) or RGB (h, w, 3), filter 0 on every
    scanline, Adam7-interlaced (interlace method 1; empty passes are
    wholly absent per spec §8.2)."""
    if arr.dtype != np.uint8 or arr.ndim not in (2, 3):
        raise ValueError("encode_png_adam7 wants a uint8 (h, w) or (h, w, 3) array")
    color_type = 0 if arr.ndim == 2 else 2
    h, w = arr.shape[:2]
    a3 = arr.reshape(h, w, -1)
    raw = bytearray()
    for xs, ys, xstep, ystep, _, _ in _adam7_passes(w, h):
        for row in a3[ys::ystep, xs::xstep]:
            raw += b"\x00" + row.tobytes()
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 1)
    return (
        PNG_SIGNATURE
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(bytes(raw), 6))
        + _chunk(b"IEND", b"")
    )


def is_png(payload: bytes) -> bool:
    return payload[:8] == PNG_SIGNATURE


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def _slow_rows_python(lines: np.ndarray, fs: np.ndarray, prev: list, bpp: int):
    """Average/Paeth decode, one row at a time in plain-Python ints
    (lists, no per-element numpy indexing) — the small-block path."""
    rows = []
    for line_b, f in zip(lines, fs):
        cur: list = []
        ap = cur.append
        if f == 3:
            for i, lv in enumerate(line_b.tobytes()):
                a = cur[i - bpp] if i >= bpp else 0
                ap((lv + ((a + prev[i]) >> 1)) & 0xFF)
        else:
            for i, lv in enumerate(line_b.tobytes()):
                a = cur[i - bpp] if i >= bpp else 0
                c = prev[i - bpp] if i >= bpp else 0
                ap((lv + _paeth(a, prev[i], c)) & 0xFF)
        rows.append(cur)
        prev = cur
    return rows


def _decode_avg_paeth_block(
    lines: np.ndarray, fs: np.ndarray, prev_row: np.ndarray, bpp: int
) -> np.ndarray:
    """Vectorized decode of a RUN of Average/Paeth scanlines.

    Both filters recur on (left, up, up-left) neighbours only, so cells
    on one anti-diagonal y + x = d depend solely on diagonals d-1/d-2:
    a block of consecutive filter-3/4 rows decodes in h + w - 1
    vectorized diagonal steps instead of h*w per-pixel Python steps
    (~25x on a 1024x1024 Average-filtered scan; pinned by
    tests/test_png.py). Color lanes are independent images with the
    same wavefront, so they ride along as a trailing axis.
    """
    bh, stride = lines.shape
    w = stride // bpp
    if bh < 4:  # wavefront overhead beats the win on short runs
        rows = _slow_rows_python(lines, fs, list(map(int, prev_row)), bpp)
        return np.array(rows, dtype=np.uint8)
    # Skewed layout: cell (y, x) lives at SK[y + 1, x + y + 2], the
    # prior row P at SK[0, x + 1]. Diagonal x + y = d is then the plain
    # column slice SK[:, d + 2] and every neighbour is a column slice
    # of d+1 — no fancy indexing — while the zero padding IS the
    # boundary rule (left/up-left of x < bpp slots read never-written
    # zeros, exactly the spec's out-of-frame zeros).
    L = lines.reshape(bh, w, bpp).astype(np.int16)
    skw = bh + w + 2
    # diagonal-major: SK[c] is one whole (contiguous) diagonal
    SK = np.zeros((skw, bh + 1, bpp), dtype=np.int16)
    LSK = np.zeros((skw, bh, bpp), dtype=np.int16)
    SK[1 : w + 1, 0] = prev_row.reshape(w, bpp)
    for y in range(bh):
        LSK[y + 2 : y + 2 + w, y] = L[y]
    all_avg = bool((fs == 3).all())
    all_paeth = bool((fs == 4).all())
    is_avg_col = (fs == 3)[:, None]
    t = np.empty((min(bh, w) + 1, bpp), dtype=np.int16)  # scratch
    for d in range(bh + w - 1):
        y_lo = max(0, d - w + 1)
        y_hi = min(bh - 1, d)
        r0, r1 = y_lo + 1, y_hi + 2
        c = d + 2
        left = SK[c - 1, r0:r1]
        up = SK[c - 1, r0 - 1 : r1 - 1]
        lv = LSK[c, y_lo : y_hi + 1]
        if all_avg:
            s = t[: r1 - r0]
            np.add(left, up, out=s)
            s >>= 1
            s += lv
            s &= 0xFF
            SK[c, r0:r1] = s
            continue
        upleft = SK[c - 2, r0 - 1 : r1 - 1]
        p = left + up - upleft
        pa = np.abs(p - left)
        pb = np.abs(p - up)
        pc_ = np.abs(p - upleft)
        pred = np.where(
            (pa <= pb) & (pa <= pc_), left, np.where(pb <= pc_, up, upleft)
        )
        pred += lv
        pred &= 0xFF
        if all_paeth:
            SK[c, r0:r1] = pred
        else:
            avg = (lv + ((left + up) >> 1)) & 0xFF
            SK[c, r0:r1] = np.where(is_avg_col[y_lo : y_hi + 1], avg, pred)
    out = np.empty((bh, stride), dtype=np.uint8)
    for y in range(bh):
        out[y] = SK[y + 2 : y + 2 + w, y + 1].reshape(stride)
    return out


# samples per pixel and legal bit depths, per color type (spec §11.2.2)
_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}
_VALID_DEPTHS = {
    0: (1, 2, 4, 8, 16),
    2: (8, 16),
    3: (1, 2, 4, 8),
    4: (8, 16),
    6: (8, 16),
}
# Adam7 pass grids: (x_start, y_start, x_step, y_step), spec §8.2
_ADAM7 = (
    (0, 0, 8, 8),
    (4, 0, 8, 8),
    (0, 4, 4, 8),
    (2, 0, 4, 4),
    (0, 2, 2, 4),
    (1, 0, 2, 2),
    (0, 1, 1, 2),
)


def _adam7_passes(width: int, height: int):
    """(x_start, y_start, x_step, y_step, w, h) of every non-empty
    Adam7 pass; empty passes are wholly absent from the stream."""
    for xs, ys, xstep, ystep in _ADAM7:
        pw = (width - xs + xstep - 1) // xstep
        ph = (height - ys + ystep - 1) // ystep
        if pw > 0 and ph > 0:
            yield xs, ys, xstep, ystep, pw, ph


def _reconstruct(raw_arr: np.ndarray, stride: int, bpp: int) -> np.ndarray:
    """Undo scanline filtering. raw_arr: (h, stride+1) uint8 with the
    filter byte in column 0; bpp = filter step in BYTES (max(1,
    bits_per_pixel // 8), spec §9.2). Returns (h, stride) uint8."""
    height = raw_arr.shape[0]
    if not raw_arr[:, 0].any():
        # all scanlines use filter 0 (this codec's own encoder output,
        # and common for synthetic/flat images): no per-row work at all
        return np.ascontiguousarray(raw_arr[:, 1:])
    out = np.zeros((height, stride), dtype=np.uint8)
    filters = raw_arr[:, 0]
    lines = raw_arr[:, 1:]
    prev = np.zeros(stride, dtype=np.int64)
    y = 0
    while y < height:
        f = int(filters[y])
        if f in (3, 4):
            # Average/Paeth: left-sequential within a row, but a RUN of
            # such rows decodes as a vectorized anti-diagonal wavefront
            # (see _decode_avg_paeth_block)
            y2 = y + 1
            while y2 < height and int(filters[y2]) in (3, 4):
                y2 += 1
            block = _decode_avg_paeth_block(
                lines[y:y2], filters[y:y2], prev, bpp
            )
            out[y:y2] = block
            prev = block[-1].astype(np.int64)
            y = y2
            continue
        line = lines[y].astype(np.int64)
        if f == 0:  # None
            cur = line
        elif f == 2:  # Up
            cur = (line + prev) & 0xFF
        elif f == 1:
            # Sub is a per-lane prefix sum mod 256 (cur[i] = line[i] +
            # cur[i-bpp]): vectorized as a cumsum within each bpp lane —
            # the hot filter on real encoders, so no per-pixel Python
            cur = np.empty(stride, dtype=np.int64)
            for lane in range(bpp):
                cur[lane::bpp] = np.cumsum(line[lane::bpp]) & 0xFF
        else:
            raise ValueError(f"bad PNG filter type {f}")
        out[y] = cur.astype(np.uint8)
        prev = cur
        y += 1
    return out


def _samples8(
    recon: np.ndarray, w: int, depth: int, ch: int, raw_index: bool
) -> np.ndarray:
    """Reconstructed scanline bytes (h, stride) -> (h, w, ch) uint8
    samples. 16-bit takes the high byte; sub-8-bit grayscale rescales
    to [0, 255] unless raw_index (palette indices must stay raw)."""
    h = recon.shape[0]
    if depth == 8:
        return recon[:, : w * ch].reshape(h, w, ch)
    if depth == 16:
        # big-endian sample pairs: the high byte IS the >>8 value
        return np.ascontiguousarray(recon[:, 0 : 2 * w * ch : 2]).reshape(h, w, ch)
    # depth 1/2/4, always 1 channel (gray or palette): regroup bits
    bits = np.unpackbits(recon, axis=1)
    vals = bits[:, : (bits.shape[1] // depth) * depth].reshape(h, -1, depth)
    weights = (1 << np.arange(depth - 1, -1, -1)).astype(np.uint8)
    samples = (vals * weights).sum(axis=2).astype(np.uint8)[:, :w]
    if not raw_index:
        samples = (
            samples.astype(np.uint16) * 255 // ((1 << depth) - 1)
        ).astype(np.uint8)
    return samples.reshape(h, w, 1)


def _composite_white(color: np.ndarray, alpha: np.ndarray) -> np.ndarray:
    """Integer-exact source-over onto a white background."""
    c = color.astype(np.uint32)
    a = alpha.astype(np.uint32)
    return ((c * a + 255 * (255 - a) + 127) // 255).astype(np.uint8)


def _trns_mask(
    recon: np.ndarray, w: int, depth: int, ch: int, tvals: tuple
) -> np.ndarray:
    """(h, w) bool mask of pixels equal to the tRNS transparent color,
    compared at the image's STORED precision (spec §11.3.2) — a 16-bit
    sample matches only exactly, not by its high byte."""
    h = recon.shape[0]
    if depth == 16:
        hi = recon[:, 0::2].astype(np.uint16)
        lo = recon[:, 1::2].astype(np.uint16)
        s = ((hi << 8) | lo)[:, : w * ch].reshape(h, w, ch)
    elif depth == 8:
        s = recon[:, : w * ch].reshape(h, w, ch).astype(np.uint16)
    else:  # sub-8-bit gray: compare the raw (unscaled) sample
        s = _samples8(recon, w, depth, ch, True).astype(np.uint16)
    t = np.array(tvals, dtype=np.uint16).reshape(1, 1, ch)
    return (s == t).all(axis=2)


def decode_png(payload: bytes) -> np.ndarray:
    """PNG bytes -> uint8 array, shape (h, w) for grayscale output
    (color types 0 and 4) or (h, w, 3) for color (types 2, 3, 6).

    Decodes the full static spec — see module docstring. Malformed
    payloads (bad CRC, truncated chunks, illegal depth/type combos,
    out-of-range palette indices, IDAT size mismatch, an empty image or
    one over MAX_PNG_PIXELS) raise ValueError
    so a bad blob in a media batch surfaces as a per-item codec error,
    not a worker crash."""
    if not is_png(payload):
        raise ValueError("not a PNG (bad signature)")
    pos = 8
    width = height = None
    bit_depth = color_type = interlace = None
    idat = bytearray()
    plte = None
    trns = None
    while pos + 8 <= len(payload):
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        tag = payload[pos + 4 : pos + 8]
        if pos + 12 + length > len(payload):
            # a corrupt payload in a media batch must surface as a codec
            # ValueError, not a struct.error from a short CRC slice
            raise ValueError(f"truncated PNG chunk {tag!r}")
        body = payload[pos + 8 : pos + 8 + length]
        expect = struct.unpack(">I", payload[pos + 8 + length : pos + 12 + length])[0]
        if zlib.crc32(tag + body) & 0xFFFFFFFF != expect:
            raise ValueError(f"PNG chunk {tag!r} CRC mismatch")
        pos += 12 + length
        if tag == b"IHDR":
            if length != 13:
                raise ValueError(f"bad PNG IHDR length {length}")
            width, height, bit_depth, color_type, _, _, interlace = struct.unpack(
                ">IIBBBBB", body
            )
        elif tag == b"PLTE":
            if length % 3 or not length:
                raise ValueError("PNG PLTE length not a positive multiple of 3")
            plte = np.frombuffer(body, dtype=np.uint8).reshape(-1, 3)
        elif tag == b"tRNS":
            trns = bytes(body)
        elif tag == b"IDAT":
            idat.extend(body)
        elif tag == b"IEND":
            break
    if width is None:
        raise ValueError("PNG missing IHDR")
    if width == 0 or height == 0 or width * height > MAX_PNG_PIXELS:
        raise ValueError(f"bad PNG dimensions {width}x{height}")
    if color_type not in _CHANNELS:
        raise ValueError(f"bad PNG color type {color_type}")
    if bit_depth not in _VALID_DEPTHS[color_type]:
        raise ValueError(
            f"bad PNG bit depth {bit_depth} for color type {color_type}"
        )
    if interlace not in (0, 1):
        raise ValueError(f"bad PNG interlace method {interlace}")
    if color_type == 3 and plte is None:
        raise ValueError("palette PNG (color type 3) missing PLTE chunk")
    ch = _CHANNELS[color_type]
    bits_pp = bit_depth * ch
    bpp = max(1, bits_pp // 8)

    def raw_size(w: int, h: int) -> int:
        return ((w * bits_pp + 7) // 8 + 1) * h

    if interlace == 0:
        expected = raw_size(width, height)
    else:
        expected = sum(
            raw_size(pw, ph) for _, _, _, _, pw, ph in _adam7_passes(width, height)
        )
    # inflate at most one byte past the size IHDR implies: a small
    # payload declaring a tiny image must not expand a zlib bomb first
    inflater = zlib.decompressobj()
    try:
        raw = inflater.decompress(idat, expected + 1)
    except zlib.error as e:  # CRC-valid chunks can still carry a bad stream
        raise ValueError(f"corrupt PNG IDAT stream: {e}") from None
    if len(raw) <= expected and not inflater.eof:
        raise ValueError("corrupt PNG IDAT stream: truncated")
    if len(raw) != expected:
        raise ValueError("PNG IDAT length mismatch")

    # tRNS transparency (spec §11.3.2): a single transparent sample
    # value for gray/RGB, per-entry alphas for palette; composited over
    # white like the alpha color types. Not allowed alongside a real
    # alpha channel.
    tvals = None
    if trns is not None:
        if color_type in (4, 6):
            raise ValueError(
                f"tRNS chunk not allowed with alpha color type {color_type}"
            )
        if color_type == 0:
            if len(trns) != 2:
                raise ValueError("bad tRNS length for grayscale (want 2 bytes)")
            tvals = struct.unpack(">H", trns)
        elif color_type == 2:
            if len(trns) != 6:
                raise ValueError("bad tRNS length for RGB (want 6 bytes)")
            tvals = struct.unpack(">HHH", trns)
        elif len(trns) > len(plte):
            raise ValueError("tRNS longer than the palette")

    def sub_image(w: int, h: int, offset: int):
        stride = (w * bits_pp + 7) // 8
        end = offset + (stride + 1) * h
        arr = np.frombuffer(raw, dtype=np.uint8, count=(stride + 1) * h,
                            offset=offset).reshape(h, stride + 1)
        recon = _reconstruct(arr, stride, bpp)
        sub = _samples8(recon, w, bit_depth, ch, color_type == 3)
        m = _trns_mask(recon, w, bit_depth, ch, tvals) if tvals else None
        return sub, m, end

    if interlace == 0:
        samples, mask, _ = sub_image(width, height, 0)
    else:
        # Adam7: seven independently filtered sub-images, scattered back
        # onto the full sample grid
        samples = np.zeros((height, width, ch), dtype=np.uint8)
        mask = np.zeros((height, width), dtype=bool) if tvals else None
        offset = 0
        for xs, ys, xstep, ystep, pw, ph in _adam7_passes(width, height):
            sub, m, offset = sub_image(pw, ph, offset)
            samples[ys::ystep, xs::xstep] = sub
            if m is not None:
                mask[ys::ystep, xs::xstep] = m

    if color_type == 0:
        gray = np.ascontiguousarray(samples[:, :, 0])
        if mask is not None:
            gray = np.where(mask, np.uint8(255), gray)
        return gray
    if color_type == 2:
        if mask is not None:
            samples = np.where(mask[:, :, None], np.uint8(255), samples)
        return samples
    if color_type == 3:
        idx = samples[:, :, 0]
        if int(idx.max(initial=0)) >= len(plte):
            raise ValueError("PNG palette index out of range")
        rgb = plte[idx]
        if trns is not None:
            alphas = np.full(len(plte), 255, dtype=np.uint8)
            alphas[: len(trns)] = np.frombuffer(trns, dtype=np.uint8)
            return _composite_white(rgb, alphas[idx][:, :, None])
        return rgb
    if color_type == 4:
        return _composite_white(samples[:, :, 0], samples[:, :, 1])
    return _composite_white(samples[:, :, :3], samples[:, :, 3:4])
