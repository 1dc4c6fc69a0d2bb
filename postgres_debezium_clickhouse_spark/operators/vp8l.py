"""VP8L (WebP lossless) PIXEL decode, pure stdlib (r17) — the r16
verdict's stretch goal next to the WebP header walk: "full VP8L
lossless decode … pure-stdlib feasible, same class as GIF LZW".

Implements the public "WebP Lossless Bitstream Specification":

- LSB-first bit reader; canonical prefix codes (DEFLATE-style code
  assignment) in both wire forms — "simple" (1-2 symbols) and "normal"
  (code-length-code over the 19-symbol order, 16/17/18 repeats,
  optional max-symbol count); Kraft-complete validation on multi-symbol
  codes.
- The entropy-coded image machine: color cache (hash
  ``0x1e35a7bd·ARGB >> (32-bits)``, every emitted pixel inserted),
  meta prefix-code image (top level only), per-group 5-code bundles
  (green+length+cache / red / blue / alpha / distance), LZ77 backward
  references with the 120-entry 2D distance neighborhood mapping and
  the shared length/distance extra-bit value decomposition.
- All four transforms, applied in reverse read order: PREDICTOR (all
  14 modes incl. Select and the clamped add/subtract pair, linear
  addressing so the rightmost column's TR is the current row's first
  pixel, forced edge rules), COLOR (signed 3.5 fixed-point
  green→red / green→blue / red→blue deltas), SUBTRACT-GREEN, and
  COLOR-INDEXING (delta-coded palette, sub-byte packed indices for
  palettes ≤ 16 with the reduced decode width threaded through
  subsequent reads, libwebp-style).

Honest limits: this decodes the STANDALONE ``VP8L`` chunk payload (the
lossless branch of ``operators/webp.py``'s walk); lossy VP8 pixel
decode still requires a real codec and dead-letters in
``decode_image``.  There is no WebP codec in this container (no
Pillow/cv2/dwebp — checked), so cross-validation against libwebp is
env-blocked like every live-service check; the compensating evidence
is hand-built bitstreams with first-principles pixel oracles (bit
layouts transcribed from the spec, not from this encoder), encoder
round-trips across every feature, and byte-flip fuzz.

Scale: per-blob decode in ``mapInPandas`` (``vp8l_pixel_stats``) — the
imaging suite's shuffle-free shape.
"""

from __future__ import annotations

from ._pipe import map_blobs, synth_blobs

import struct

from pyspark.sql import DataFrame
from pyspark.sql import types as T

# ------------------------------------------------------------------ bits

class _BitReader:
    """LSB-first bit reader over bytes (the VP8L convention)."""

    __slots__ = ("data", "pos")

    def __init__(self, data: bytes, bit_pos: int = 0):
        self.data = data
        self.pos = bit_pos

    def read(self, n: int) -> int:
        v = 0
        for i in range(n):
            byte = self.pos >> 3
            if byte >= len(self.data):
                raise ValueError("VP8L bitstream exhausted")
            v |= ((self.data[byte] >> (self.pos & 7)) & 1) << i
            self.pos += 1
        return v


class _BitWriter:
    __slots__ = ("bits", "n")

    def __init__(self):
        self.bits = bytearray()
        self.n = 0

    def write(self, value: int, width: int) -> None:
        for i in range(width):
            if self.n & 7 == 0:
                self.bits.append(0)
            if (value >> i) & 1:
                self.bits[-1] |= 1 << (self.n & 7)
            self.n += 1

    def getvalue(self) -> bytes:
        return bytes(self.bits)


# ----------------------------------------------------------- prefix codes

_CLC_ORDER = [17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10,
              11, 12, 13, 14, 15]


class _PrefixCode:
    """Canonical prefix code (DEFLATE assignment); decode walks the
    stream one bit at a time, first-read bit = most-significant code
    bit.  A single-symbol code decodes with ZERO bits consumed."""

    __slots__ = ("table", "single", "max_len", "_codes")

    def __init__(self, lengths: list[int]):
        nz = [(ln, s) for s, ln in enumerate(lengths) if ln > 0]
        if not nz:
            raise ValueError("VP8L prefix code with no symbols")
        if len(nz) == 1:
            self.single = nz[0][1]
            self.table = None
            self.max_len = 0
            self._codes = {nz[0][1]: (0, 0)}
            return
        self.single = None
        kraft = sum(1 / (1 << ln) for ln, _ in nz)
        if abs(kraft - 1.0) > 1e-9:
            raise ValueError("VP8L prefix code is not Kraft-complete")
        self.max_len = max(ln for ln, _ in nz)
        bl_count = [0] * (self.max_len + 1)
        for ln, _ in nz:
            bl_count[ln] += 1
        next_code = [0] * (self.max_len + 1)
        code = 0
        for ln in range(1, self.max_len + 1):
            code = (code + bl_count[ln - 1]) << 1
            next_code[ln] = code
        table = {}
        codes = {}
        for s, ln in enumerate(lengths):
            if ln > 0:
                table[(ln, next_code[ln])] = s
                codes[s] = (next_code[ln], ln)
                next_code[ln] += 1
        self.table = table
        self._codes = codes

    # encoder side (fixtures): symbol -> (code, length)
    @property
    def codes(self):
        if self.single is not None:
            return {self.single: (0, 0)}
        return self._codes

    def decode(self, br: _BitReader) -> int:
        if self.single is not None:
            return self.single
        acc = 0
        for ln in range(1, self.max_len + 1):
            acc = (acc << 1) | br.read(1)
            s = self.table.get((ln, acc))
            if s is not None:
                return s
        raise ValueError("invalid VP8L prefix code word")


def _read_prefix_code(br: _BitReader, alphabet_size: int) -> _PrefixCode:
    if br.read(1):                                   # simple code
        num_symbols = br.read(1) + 1
        first_8 = br.read(1)
        s0 = br.read(8 if first_8 else 1)
        lengths = [0] * alphabet_size
        if s0 >= alphabet_size:
            raise ValueError("VP8L simple-code symbol out of range")
        if num_symbols == 2:
            s1 = br.read(8)
            if s1 >= alphabet_size or s1 == s0:
                raise ValueError("VP8L simple-code symbol invalid")
            lengths[s0] = lengths[s1] = 1
        else:
            lengths[s0] = 1                          # single → 0-bit decode
            return _PrefixCode._single(s0, alphabet_size)
        return _PrefixCode(lengths)
    num_codes = 4 + br.read(4)
    clc_lengths = [0] * 19
    for i in range(num_codes):
        clc_lengths[_CLC_ORDER[i]] = br.read(3)
    n_clc = sum(1 for x in clc_lengths if x)
    if n_clc == 0:
        raise ValueError("VP8L code-length code has no symbols")
    clc = _PrefixCode(clc_lengths) if n_clc > 1 else _PrefixCode._single(
        next(s for s, x in enumerate(clc_lengths) if x), 19)
    if br.read(1):                                   # bounded symbol count
        length_nbits = 2 + 2 * br.read(3)
        max_symbol = 2 + br.read(length_nbits)
    else:
        max_symbol = alphabet_size
    lengths = []
    prev = 8
    while len(lengths) < alphabet_size:
        if max_symbol <= 0:
            break
        max_symbol -= 1
        s = clc.decode(br)
        if s < 16:
            lengths.append(s)
            if s:
                prev = s
        elif s == 16:
            lengths.extend([prev] * (3 + br.read(2)))
        elif s == 17:
            lengths.extend([0] * (3 + br.read(3)))
        else:
            lengths.extend([0] * (11 + br.read(7)))
        if len(lengths) > alphabet_size:
            raise ValueError("VP8L code-length repeat overruns alphabet")
    lengths.extend([0] * (alphabet_size - len(lengths)))
    return _PrefixCode(lengths)


def _single_code(symbol: int, alphabet_size: int) -> _PrefixCode:
    obj = object.__new__(_PrefixCode)
    obj.single = symbol
    obj.table = None
    obj.max_len = 0
    obj._codes = {symbol: (0, 0)}
    return obj


_PrefixCode._single = staticmethod(_single_code)


# ------------------------------------------------------------- LZ77 bits

def _lz77_value(prefix_code: int, br: _BitReader) -> int:
    if prefix_code < 4:
        return prefix_code + 1
    extra = (prefix_code - 2) >> 1
    offset = (2 + (prefix_code & 1)) << extra
    return offset + br.read(extra) + 1


def _lz77_encode_value(value: int) -> tuple[int, int, int]:
    """value → (prefix_code, extra_bits_value, extra_bits_width)."""
    if value <= 4:
        return value - 1, 0, 0
    v = value - 1
    extra = v.bit_length() - 2
    offset = (2 + ((v >> extra) & 1)) << extra
    return ((v >> extra) & 1) + 2 * extra + 2, v - offset, extra


#: 2D distance neighborhood (spec table, (dx, dy) with dist = dy·w+dx)
_DIST_MAP = [
    (0, 1), (1, 0), (1, 1), (-1, 1), (0, 2), (2, 0), (1, 2), (-1, 2),
    (2, 1), (-2, 1), (2, 2), (-2, 2), (0, 3), (3, 0), (1, 3), (-1, 3),
    (3, 1), (-3, 1), (2, 3), (-2, 3), (3, 2), (-3, 2), (0, 4), (4, 0),
    (1, 4), (-1, 4), (4, 1), (-4, 1), (3, 3), (-3, 3), (2, 4), (-2, 4),
    (4, 2), (-4, 2), (0, 5), (3, 4), (-3, 4), (4, 3), (-4, 3), (5, 0),
    (1, 5), (-1, 5), (5, 1), (-5, 1), (2, 5), (-2, 5), (5, 2), (-5, 2),
    (4, 4), (-4, 4), (3, 5), (-3, 5), (5, 3), (-5, 3), (0, 6), (6, 0),
    (1, 6), (-1, 6), (6, 1), (-6, 1), (2, 6), (-2, 6), (6, 2), (-6, 2),
    (4, 5), (-4, 5), (5, 4), (-5, 4), (3, 6), (-3, 6), (6, 3), (-6, 3),
    (0, 7), (7, 0), (1, 7), (-1, 7), (5, 5), (-5, 5), (7, 1), (-7, 1),
    (4, 6), (-4, 6), (6, 4), (-6, 4), (2, 7), (-2, 7), (7, 2), (-7, 2),
    (3, 7), (-3, 7), (7, 3), (-7, 3), (5, 6), (-5, 6), (6, 5), (-6, 5),
    (8, 0), (4, 7), (-4, 7), (7, 4), (-7, 4), (8, 1), (8, 2), (6, 6),
    (-6, 6), (8, 3), (5, 7), (-5, 7), (7, 5), (-7, 5), (8, 4), (6, 7),
    (-6, 7), (7, 6), (-7, 6), (8, 5), (7, 7), (-7, 7), (8, 6), (8, 7),
]


def _plane_to_dist(code: int, width: int) -> int:
    if code > 120:
        return code - 120
    dx, dy = _DIST_MAP[code - 1]
    return max(1, dy * width + dx)


def _cache_hash(argb: int, bits: int) -> int:
    return ((0x1E35A7BD * argb) & 0xFFFFFFFF) >> (32 - bits)


# ------------------------------------------------------------- the image

def _read_groups(br: _BitReader, w: int, h: int, cache_bits: int,
                 top_level: bool):
    """(groups, meta_image, meta_bits) — meta image maps block → group."""
    meta = None
    meta_bits = 0
    n_groups = 1
    if top_level and br.read(1):
        meta_bits = br.read(3) + 2
        mw = (w + (1 << meta_bits) - 1) >> meta_bits
        mh = (h + (1 << meta_bits) - 1) >> meta_bits
        meta_px = _decode_image(br, mw, mh, top_level=False)
        meta = [((p >> 8) & 0xFFFF) for p in meta_px]
        n_groups = max(meta) + 1
    green_size = 256 + 24 + (1 << cache_bits if cache_bits else 0)
    groups = []
    for _ in range(n_groups):
        groups.append((
            _read_prefix_code(br, green_size),
            _read_prefix_code(br, 256),
            _read_prefix_code(br, 256),
            _read_prefix_code(br, 256),
            _read_prefix_code(br, 40),
        ))
    return groups, meta, meta_bits


def _decode_image(br: _BitReader, w: int, h: int, top_level: bool,
                  transforms_out: list | None = None):
    """One entropy-coded image → list of ARGB ints (length w·h).
    At top level, transforms are read first (into ``transforms_out``)
    and ``w`` may shrink (color-indexing packing); the caller applies
    the inverse transforms."""
    cur_w = w
    if top_level:
        seen = set()
        while br.read(1):
            ttype = br.read(2)
            if ttype in seen:
                raise ValueError("VP8L transform repeated")
            seen.add(ttype)
            if ttype == 0 or ttype == 1:             # predictor / color
                size_bits = br.read(3) + 2
                bw = (cur_w + (1 << size_bits) - 1) >> size_bits
                bh = (h + (1 << size_bits) - 1) >> size_bits
                sub = _decode_image(br, bw, bh, top_level=False)
                # record the width the transform operates AT (a later
                # color-indexing read cannot exist — CIT precedes in
                # any stream where both appear before this point)
                transforms_out.append((ttype, size_bits, sub, cur_w))
            elif ttype == 2:                         # subtract green
                transforms_out.append((2, 0, None, cur_w))
            else:                                    # color indexing
                n_colors = br.read(8) + 1
                pal_deltas = _decode_image(br, n_colors, 1, top_level=False)
                palette = []
                prev = 0
                for d in pal_deltas:                 # per-channel delta sum
                    p = (((prev & 0xFF00FF00) + (d & 0xFF00FF00)) & 0xFF00FF00) | \
                        (((prev & 0x00FF00FF) + (d & 0x00FF00FF)) & 0x00FF00FF)
                    palette.append(p)
                    prev = p
                if n_colors <= 2:
                    xbits = 3
                elif n_colors <= 4:
                    xbits = 2
                elif n_colors <= 16:
                    xbits = 1
                else:
                    xbits = 0
                transforms_out.append((3, xbits, palette, cur_w))
                cur_w = (cur_w + (1 << xbits) - 1) >> xbits
    cache_bits = br.read(4) if br.read(1) else 0
    if cache_bits > 11:
        raise ValueError("VP8L color-cache bits out of range")
    groups, meta, meta_bits = _read_groups(br, cur_w, h, cache_bits,
                                           top_level)
    cache = [0] * (1 << cache_bits) if cache_bits else None
    n = cur_w * h
    px = [0] * n
    pos = 0
    mw = ((cur_w + (1 << meta_bits) - 1) >> meta_bits) if meta else 0
    while pos < n:
        if meta is not None:
            x, y = pos % cur_w, pos // cur_w
            g = groups[meta[(y >> meta_bits) * mw + (x >> meta_bits)]]
        else:
            g = groups[0]
        code = g[0].decode(br)
        if code < 256:
            red = g[1].decode(br)
            blue = g[2].decode(br)
            alpha = g[3].decode(br)
            argb = (alpha << 24) | (red << 16) | (code << 8) | blue
            px[pos] = argb
            if cache is not None:
                cache[_cache_hash(argb, cache_bits)] = argb
            pos += 1
        elif code < 280:
            length = _lz77_value(code - 256, br)
            dist = _plane_to_dist(_lz77_value(g[4].decode(br), br), cur_w)
            if dist > pos or pos + length > n:
                raise ValueError("VP8L backward reference out of range")
            for _ in range(length):
                argb = px[pos - dist]
                px[pos] = argb
                if cache is not None:
                    cache[_cache_hash(argb, cache_bits)] = argb
                pos += 1
        else:
            if cache is None:
                raise ValueError("VP8L cache reference without a cache")
            px[pos] = cache[code - 280]
            pos += 1
    return px


# --------------------------------------------------------------- inverse

def _avg2(a: int, b: int) -> int:
    return ((((a ^ b) & 0xFEFEFEFE) >> 1) + (a & b)) & 0xFFFFFFFF


def _channels(p: int):
    return (p >> 24) & 0xFF, (p >> 16) & 0xFF, (p >> 8) & 0xFF, p & 0xFF


def _clip255(v: int) -> int:
    return 0 if v < 0 else (255 if v > 255 else v)


def _select(l: int, t: int, tl: int) -> int:
    pl = pt = 0
    for cl, ct, ctl in zip(_channels(l), _channels(t), _channels(tl)):
        pred = cl + ct - ctl
        pl += abs(pred - cl)
        pt += abs(pred - ct)
    return l if pl < pt else t


def _cas_full(l: int, t: int, tl: int) -> int:
    out = 0
    for cl, ct, ctl in zip(_channels(l), _channels(t), _channels(tl)):
        out = (out << 8) | _clip255(cl + ct - ctl)
    return out


def _cas_half(ave: int, tl: int) -> int:
    out = 0
    for ca, ctl in zip(_channels(ave), _channels(tl)):
        d = ca - ctl
        out = (out << 8) | _clip255(ca + int(d / 2))
    return out


def _add_px(a: int, b: int) -> int:
    """Per-channel mod-256 addition (carries land in the masked-off
    gap bytes, so the two-plane trick is safe for ADDITION only —
    subtraction borrows cross the gaps and must go channel-wise)."""
    return ((((a & 0xFF00FF00) + (b & 0xFF00FF00)) & 0xFF00FF00)
            | (((a & 0x00FF00FF) + (b & 0x00FF00FF)) & 0x00FF00FF))


def _sub_px(a: int, b: int) -> int:
    """Per-channel mod-256 subtraction, channel-wise (see _add_px)."""
    out = 0
    for sh in (24, 16, 8, 0):
        out |= ((((a >> sh) & 0xFF) - ((b >> sh) & 0xFF)) & 0xFF) << sh
    return out


def _predict_pixel(mode: int, px: list[int], i: int, w: int) -> int:
    """The 14 spec predictors over the RECONSTRUCTED neighborhood
    (shared by decode-inverse and the fixture encoder's forward pass).
    Linear addressing: TR of the rightmost column is the current row's
    first pixel (the libwebp layout); edge rules handled by caller."""
    L, T = px[i - 1], px[i - w]
    TL = px[i - w - 1]
    TR = px[i - w + 1]
    if mode == 0:
        return 0xFF000000
    if mode == 1:
        return L
    if mode == 2:
        return T
    if mode == 3:
        return TR
    if mode == 4:
        return TL
    if mode == 5:
        return _avg2(_avg2(L, TR), T)
    if mode == 6:
        return _avg2(L, TL)
    if mode == 7:
        return _avg2(L, T)
    if mode == 8:
        return _avg2(TL, T)
    if mode == 9:
        return _avg2(T, TR)
    if mode == 10:
        return _avg2(_avg2(L, TL), _avg2(T, TR))
    if mode == 11:
        return _select(L, T, TL)
    if mode == 12:
        return _cas_full(L, T, TL)
    if mode == 13:
        return _cas_half(_avg2(L, T), TL)
    raise ValueError("VP8L predictor mode out of range")


def _edge_pred(px: list[int], i: int, x: int, y: int, w: int):
    if x == 0 and y == 0:
        return 0xFF000000
    if y == 0:
        return px[i - 1]
    if x == 0:
        return px[i - w]
    return None


def _apply_predictor_inverse(px: list[int], w: int, h: int,
                             size_bits: int, modes: list[int]) -> None:
    bw = (w + (1 << size_bits) - 1) >> size_bits
    for i in range(w * h):
        x, y = i % w, i // w
        pred = _edge_pred(px, i, x, y, w)
        if pred is None:
            mode = (modes[(y >> size_bits) * bw + (x >> size_bits)] >> 8) & 0xFF
            pred = _predict_pixel(mode, px, i, w)
        px[i] = _add_px(px[i], pred)


def _ct_delta(t: int, c: int) -> int:
    """Signed 3.5 fixed-point color-transform delta (int8·int8 >> 5)."""
    ts = t - 256 if t >= 128 else t
    cs = c - 256 if c >= 128 else c
    return (ts * cs) >> 5


def _apply_color_transform_inverse(px: list[int], w: int, h: int,
                                   size_bits: int, elems: list[int]) -> None:
    bw = (w + (1 << size_bits) - 1) >> size_bits
    for i in range(w * h):
        x, y = i % w, i // w
        e = elems[(y >> size_bits) * bw + (x >> size_bits)]
        # Spec §4.2.2 / libwebp ColorCodeToMultipliers: green_to_red lives in
        # the BLUE byte (bits 0-7), green_to_blue in GREEN (8-15),
        # red_to_blue in RED (16-23).
        g2r = e & 0xFF
        g2b = (e >> 8) & 0xFF
        r2b = (e >> 16) & 0xFF
        p = px[i]
        a, r, g, b = _channels(p)
        r = (r + _ct_delta(g2r, g)) & 0xFF
        b = (b + _ct_delta(g2b, g) + _ct_delta(r2b, r)) & 0xFF
        px[i] = (a << 24) | (r << 16) | (g << 8) | b


def _apply_subtract_green_inverse(px: list[int]) -> None:
    for i, p in enumerate(px):
        g = (p >> 8) & 0xFF
        r = ((p >> 16) & 0xFF) + g & 0xFF
        b = (p & 0xFF) + g & 0xFF
        px[i] = (p & 0xFF00FF00) | (r << 16) | b


def _apply_color_index_inverse(px: list[int], w: int, h: int, xbits: int,
                               palette: list[int]) -> list[int]:
    if xbits == 0:
        out = []
        for p in px:
            idx = (p >> 8) & 0xFF
            if idx >= len(palette):
                raise ValueError("VP8L palette index out of range")
            out.append(palette[idx])
        return out
    packed_w = (w + (1 << xbits) - 1) >> xbits
    bits_per = 8 >> xbits
    mask = (1 << bits_per) - 1
    out = [0] * (w * h)
    for y in range(h):
        for x in range(w):
            g = (px[y * packed_w + (x >> xbits)] >> 8) & 0xFF
            idx = (g >> ((x & ((1 << xbits) - 1)) * bits_per)) & mask
            if idx >= len(palette):
                raise ValueError("VP8L palette index out of range")
            out[y * w + x] = palette[idx]
    return out


def vp8l_decode(payload: bytes) -> dict:
    """Decode a standalone VP8L chunk payload → {width, height,
    has_alpha, pixels} with ``pixels`` a list of ARGB ints, row-major."""
    try:
        return _vp8l_decode_impl(payload)
    except ValueError:
        raise
    except (IndexError, KeyError, OverflowError, MemoryError,
            ZeroDivisionError, struct.error) as e:
        raise ValueError(f"corrupt VP8L ({type(e).__name__})") from e


def _vp8l_decode_impl(payload: bytes) -> dict:
    if not payload or payload[0] != 0x2F:
        raise ValueError("bad VP8L signature byte")
    hdr = struct.unpack("<I", payload[1:5])[0]
    if hdr >> 29:
        raise ValueError("bad VP8L version bits")
    w = (hdr & 0x3FFF) + 1
    h = ((hdr >> 14) & 0x3FFF) + 1
    alpha = bool((hdr >> 28) & 1)
    if w * h > 4_000_000:
        raise ValueError("VP8L image too large for the fixture decoder")
    br = _BitReader(payload, bit_pos=40)
    transforms: list = []
    px = _decode_image(br, w, h, top_level=True, transforms_out=transforms)
    for ttype, size_bits, data, tw in reversed(transforms):
        if ttype == 3:
            px = _apply_color_index_inverse(px, tw, h, size_bits, data)
        elif ttype == 2:
            _apply_subtract_green_inverse(px)
        elif ttype == 1:
            _apply_color_transform_inverse(px, tw, h, size_bits, data)
        else:
            _apply_predictor_inverse(px, tw, h, size_bits, data)
    return {"width": w, "height": h, "has_alpha": alpha, "pixels": px}


# ---------------------------------------------------------------- encoder

def _build_huffman_lengths(freq: dict[int, int], alphabet: int) -> list[int]:
    """Code lengths from frequencies (package-free heapq Huffman; depth
    is far below 15 for fixture-sized inputs)."""
    import heapq

    items = [(f, s) for s, f in freq.items() if f > 0]
    if not items:
        raise ValueError("empty histogram")
    if len(items) == 1:
        lengths = [0] * alphabet
        lengths[items[0][1]] = 1
        return lengths
    heap = [(f, i, [s]) for i, (f, s) in enumerate(items)]
    heapq.heapify(heap)
    depth = {s: 0 for _, _, (s,) in [(f, i, syms) for f, i, syms in heap]}
    nxt = len(heap)
    while len(heap) > 1:
        f1, _, s1 = heapq.heappop(heap)
        f2, _, s2 = heapq.heappop(heap)
        for s in s1 + s2:
            depth[s] += 1
        heapq.heappush(heap, (f1 + f2, nxt, s1 + s2))
        nxt += 1
    lengths = [0] * alphabet
    for s, d in depth.items():
        lengths[s] = d
    if max(lengths) > 15:
        raise ValueError("fixture Huffman deeper than 15")
    return lengths


def _write_code_lengths(bw: _BitWriter, lengths: list[int]) -> None:
    """Normal-form prefix code: plain per-symbol lengths through a
    code-length code (no 16/17/18 runs — spec-legal, fixture-simple),
    except long zero tails use 17/18."""
    bw.write(0, 1)                                   # not simple
    # histogram over emitted CLC symbols
    emit: list[tuple[int, int, int]] = []            # (clc_sym, extra, width)
    i = 0
    n = len(lengths)
    while i < n:
        if lengths[i] == 0:
            run = 1
            while i + run < n and lengths[i + run] == 0:
                run += 1
            left = run
            while left >= 11:
                take = min(left, 138)
                emit.append((18, take - 11, 7))
                left -= take
            while left >= 3:
                take = min(left, 10)
                emit.append((17, take - 3, 3))
                left -= take
            emit.extend((0, 0, 0) for _ in range(left))
            i += run
        else:
            emit.append((lengths[i], 0, 0))
            i += 1
    freq: dict[int, int] = {}
    for s, _, _ in emit:
        freq[s] = freq.get(s, 0) + 1
    clc_lengths = _build_huffman_lengths(freq, 19)
    if max(clc_lengths) > 7:
        raise ValueError("fixture CLC deeper than 7")
    bw.write(19 - 4, 4)                              # all 19 slots
    for sym in _CLC_ORDER:
        bw.write(clc_lengths[sym], 3)
    bw.write(0, 1)                                   # no max-symbol bound
    clc = _PrefixCode(clc_lengths) if sum(
        1 for x in clc_lengths if x) > 1 else _single_code(
        next(s for s, x in enumerate(clc_lengths) if x), 19)
    codes = clc.codes
    for s, extra, width in emit:
        c, ln = codes[s]
        for b in range(ln - 1, -1, -1):
            bw.write((c >> b) & 1, 1)
        if width:
            bw.write(extra, width)


class _Encoder:
    """Fixture-grade VP8L encoder: literals via real canonical Huffman,
    optional LZ77 backward references, color cache, subtract-green,
    constant-mode predictor transform, and color-indexing (packed and
    unpacked).  Exists to exercise the decoder across every feature —
    libwebp would beat it on density, never on validity."""

    def __init__(self, width: int, height: int, pixels: list[int],
                 use_cache_bits: int = 0, use_lz77: bool = True,
                 subtract_green: bool = False, predictor_mode: int | None = None,
                 palette: list[int] | None = None,
                 color_element: int | None = None,
                 meta_bits: int | None = None):
        self.w, self.h = width, height
        self.px = list(pixels)
        self.cache_bits = use_cache_bits
        self.lz77 = use_lz77
        self.sub_green = subtract_green
        self.pred_mode = predictor_mode
        self.palette = palette
        self.color_element = color_element            # 0x00GGBBRR? see encode
        self.meta_bits = meta_bits
        if meta_bits is not None and (use_cache_bits or use_lz77):
            raise ValueError("fixture meta groups need literal-only data")

    def encode(self) -> bytes:
        w, h = self.w, self.h
        px = list(self.px)
        bw = _BitWriter()
        bw.write(0x2F, 8)
        alpha = int(any((p >> 24) != 0xFF for p in px))
        bw.write((w - 1) | ((h - 1) << 14) | (alpha << 28), 32)

        enc_w = w
        if self.palette is not None:
            pal = self.palette
            lut = {c: i for i, c in enumerate(pal)}
            idx = [lut[p] for p in px]
            if len(pal) <= 2:
                xbits = 3
            elif len(pal) <= 4:
                xbits = 2
            elif len(pal) <= 16:
                xbits = 1
            else:
                xbits = 0
            bw.write(1, 1)
            bw.write(3, 2)
            bw.write(len(pal) - 1, 8)
            deltas = []
            prev = 0
            for c in pal:
                deltas.append(_sub_px(c, prev))
                prev = c
            self._encode_subimage(bw, deltas)
            if xbits:
                packed_w = (w + (1 << xbits) - 1) >> xbits
                bits_per = 8 >> xbits
                packed = [0] * (packed_w * h)
                for y in range(h):
                    for x in range(w):
                        g = idx[y * w + x] << ((x & ((1 << xbits) - 1))
                                               * bits_per)
                        packed[y * packed_w + (x >> xbits)] |= g
                px = [0xFF000000 | (g << 8) for g in packed]
                enc_w = packed_w
            else:
                px = [0xFF000000 | (i << 8) for i in idx]
        if self.pred_mode is not None:
            size_bits = 4
            bw.write(1, 1)
            bw.write(0, 2)
            bw.write(size_bits - 2, 3)
            bwidth = (enc_w + (1 << size_bits) - 1) >> size_bits
            bheight = (h + (1 << size_bits) - 1) >> size_bits
            self._encode_subimage(
                bw, [0xFF000000 | (self.pred_mode << 8)] * (bwidth * bheight))
            px = self._forward_predictor(px, enc_w, h, size_bits)
        if self.color_element is not None:
            size_bits = 4
            bw.write(1, 1)
            bw.write(1, 2)
            bw.write(size_bits - 2, 3)
            bwidth = (enc_w + (1 << size_bits) - 1) >> size_bits
            bheight = (h + (1 << size_bits) - 1) >> size_bits
            elem = 0xFF000000 | (self.color_element & 0xFFFFFF)
            self._encode_subimage(bw, [elem] * (bwidth * bheight))
            px = [self._fwd_color(p, elem) for p in px]
        if self.sub_green:
            bw.write(1, 1)
            bw.write(2, 2)
            px = [self._fwd_subgreen(p) for p in px]
        bw.write(0, 1)                               # no more transforms
        self._encode_main(bw, px, enc_w)
        return bw.getvalue()

    @staticmethod
    def _fwd_color(p: int, elem: int) -> int:
        # Mirror of _apply_color_transform_inverse: g2r=bits 0-7,
        # g2b=bits 8-15, r2b=bits 16-23 (spec byte order, not RGB order).
        g2r = elem & 0xFF
        g2b = (elem >> 8) & 0xFF
        r2b = (elem >> 16) & 0xFF
        a, r, g, b = _channels(p)
        r_res = (r - _ct_delta(g2r, g)) & 0xFF
        b_res = (b - _ct_delta(g2b, g) - _ct_delta(r2b, r)) & 0xFF
        return (a << 24) | (r_res << 16) | (g << 8) | b_res

    @staticmethod
    def _fwd_subgreen(p: int) -> int:
        g = (p >> 8) & 0xFF
        r = ((p >> 16) & 0xFF) - g & 0xFF
        b = (p & 0xFF) - g & 0xFF
        return (p & 0xFF00FF00) | (r << 16) | b

    def _forward_predictor(self, px, w, h, size_bits):
        # lossless: the decoder's reconstructed neighborhood equals the
        # original pixels, so the forward pass predicts from `px` itself
        out = list(px)
        for i in range(w * h):
            x, y = i % w, i // w
            pred = _edge_pred(px, i, x, y, w)
            if pred is None:
                pred = _predict_pixel(self.pred_mode, px, i, w)
            out[i] = _sub_px(px[i], pred)
        return out

    def _encode_subimage(self, bw: _BitWriter, pixels: list[int]) -> None:
        bw.write(0, 1)                               # no color cache
        self._write_groups_and_data(bw, pixels, cache_bits=0, lz77=False,
                                    width=len(pixels))

    def _encode_main(self, bw: _BitWriter, pixels: list[int],
                     width: int) -> None:
        if self.cache_bits:
            bw.write(1, 1)
            bw.write(self.cache_bits, 4)
        else:
            bw.write(0, 1)
        if self.meta_bits is not None:
            mb = self.meta_bits
            bw.write(1, 1)                           # meta prefix codes
            bw.write(mb - 2, 3)
            mw = (width + (1 << mb) - 1) >> mb
            mh = (self.h + (1 << mb) - 1) >> mb
            meta_img = [0xFF000000 | ((((bx + by) % 2) & 0xFF) << 8)
                        for by in range(mh) for bx in range(mw)]
            self._encode_subimage(bw, meta_img)
            self._write_meta_literal_groups(bw, pixels, width, mb)
            return
        bw.write(0, 1)                               # no meta prefix codes
        self._write_groups_and_data(bw, pixels, self.cache_bits,
                                    self.lz77, width)

    def _write_meta_literal_groups(self, bw: _BitWriter, pixels: list[int],
                                   width: int, mb: int) -> None:
        """Literal-only prefix-code groups selected per block by
        ``(bx+by) % 2`` — exercises the decoder's meta-code lookup.
        The decoder reads ``max(meta)+1`` bundles, so the bundle count
        must match the groups the block grid actually REACHES (a
        single-block grid reaches only group 0 — emitting two bundles
        would desync the stream)."""
        def group_of(i: int) -> int:
            x, y = i % width, i // width
            return ((x >> mb) + (y >> mb)) % 2

        n_groups = max(group_of(i) for i in range(len(pixels))) + 1
        hists = [
            {"g": {}, "r": {}, "b": {}, "a": {}} for _ in range(n_groups)
        ]
        for i, p in enumerate(pixels):
            hh = hists[group_of(i)]
            a, r, g, b = _channels(p)
            for key, v in (("g", g), ("r", r), ("b", b), ("a", a)):
                hh[key][v] = hh[key].get(v, 0) + 1
        group_codes = []
        for hh in hists:
            codes = []
            for key, alph in (("g", 280), ("r", 256), ("b", 256),
                              ("a", 256)):
                f = hh[key] or {0: 1}
                codes.append(self._emit_code(bw, f, alph))
            codes.append(self._emit_code(bw, {0: 1}, 40))
            group_codes.append(codes)
        for i, p in enumerate(pixels):
            codes = group_codes[group_of(i)]
            a, r, g, b = _channels(p)
            for cm, sym in ((codes[0].codes, g), (codes[1].codes, r),
                            (codes[2].codes, b), (codes[3].codes, a)):
                c, ln = cm[sym]
                for bit in range(ln - 1, -1, -1):
                    bw.write((c >> bit) & 1, 1)

    @staticmethod
    def _emit_code(bw: _BitWriter, freq: dict[int, int],
                   alphabet: int) -> _PrefixCode:
        lengths = _build_huffman_lengths(freq, alphabet)
        if sum(1 for x in lengths if x) == 1:
            sym = next(s for s, x in enumerate(lengths) if x)
            if sym >= 256:
                raise ValueError("single >255 symbol: use two-symbol pad")
            bw.write(1, 1)
            bw.write(0, 1)
            if sym < 2:
                bw.write(0, 1)
                bw.write(sym, 1)
            else:
                bw.write(1, 1)
                bw.write(sym, 8)
            return _single_code(sym, alphabet)
        _write_code_lengths(bw, lengths)
        return _PrefixCode(lengths)

    def _write_groups_and_data(self, bw: _BitWriter, pixels: list[int],
                               cache_bits: int, lz77: bool,
                               width: int) -> None:
        # tokenize: literals / cache hits / simple run-length LZ77
        cache = [None] * (1 << cache_bits) if cache_bits else None
        tokens = []                                   # ("lit",argb)|("cache",i)|("copy",len,dist)
        n = len(pixels)
        pos = 0
        while pos < n:
            if lz77 and pos >= 1:
                run = 0
                while (pos + run < n and run < 4096
                       and pixels[pos + run] == pixels[pos + run - 1]):
                    run += 1
                if run >= 4:
                    tokens.append(("copy", run, 1))
                    if cache is not None:
                        for j in range(run):
                            a = pixels[pos + j]
                            cache[_cache_hash(a, cache_bits)] = a
                    pos += run
                    continue
            a = pixels[pos]
            if cache is not None:
                hidx = _cache_hash(a, cache_bits)
                if cache[hidx] == a:
                    tokens.append(("cache", hidx))
                    pos += 1
                    continue
                cache[hidx] = a
            tokens.append(("lit", a))
            pos += 1
        green_size = 256 + 24 + (1 << cache_bits if cache_bits else 0)
        fg: dict[int, int] = {}
        fr: dict[int, int] = {}
        fb: dict[int, int] = {}
        fa: dict[int, int] = {}
        fd: dict[int, int] = {}
        for t in tokens:
            if t[0] == "lit":
                a, r, g, b = _channels(t[1])
                fg[g] = fg.get(g, 0) + 1
                fr[r] = fr.get(r, 0) + 1
                fb[b] = fb.get(b, 0) + 1
                fa[a] = fa.get(a, 0) + 1
            elif t[0] == "copy":
                lc, _, _ = _lz77_encode_value(t[1])
                fg[256 + lc] = fg.get(256 + lc, 0) + 1
                dc, _, _ = _lz77_encode_value(t[2] + 120)
                fd[dc] = fd.get(dc, 0) + 1
            else:
                fg[280 + t[1]] = fg.get(280 + t[1], 0) + 1
        for f in (fr, fb, fa):
            if not f:
                f[0] = 1
        if not fd:
            fd[0] = 1
        codes = []
        for f, alph in ((fg, green_size), (fr, 256), (fb, 256),
                        (fa, 256), (fd, 40)):
            codes.append(self._emit_code(bw, f, alph))
        gcodes, rcodes, bcodes, acodes, dcodes = [c.codes for c in codes]

        def put(codemap, sym):
            c, ln = codemap[sym]
            for b in range(ln - 1, -1, -1):
                bw.write((c >> b) & 1, 1)

        for t in tokens:
            if t[0] == "lit":
                a, r, g, b = _channels(t[1])
                put(gcodes, g)
                put(rcodes, r)
                put(bcodes, b)
                put(acodes, a)
            elif t[0] == "copy":
                lc, le, lw = _lz77_encode_value(t[1])
                put(gcodes, 256 + lc)
                if lw:
                    bw.write(le, lw)
                dc, de, dw = _lz77_encode_value(t[2] + 120)
                put(dcodes, dc)
                if dw:
                    bw.write(de, dw)
            else:
                put(gcodes, 280 + t[1])


def vp8l_encode_fixture(width: int, height: int, pixels: list[int],
                        **kw) -> bytes:
    """Encode pixels (ARGB ints, row-major) as a standalone VP8L
    payload; see ``_Encoder`` for the feature knobs."""
    return _Encoder(width, height, pixels, **kw).encode()


# --------------------------------------------------------------- plumbing

VP8L_STATS_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("n_pixels", T.LongType()),
    T.StructField("sum_r", T.LongType()),
    T.StructField("sum_g", T.LongType()),
    T.StructField("sum_b", T.LongType()),
    T.StructField("sum_a", T.LongType()),
    T.StructField("n_distinct", T.IntegerType()),
])


def vp8l_pixel_stats(media_df: DataFrame, id_col: str = "doc_id",
                     media_col: str = "media") -> DataFrame:
    """Full VP8L decode over a binary column (standalone chunk payloads
    or whole lossless .webp files) via ``mapInPandas`` — integer-exact
    channel sums from DECODED pixels, the imaging suite's contract."""

    def _stats(blob: bytes) -> dict:
        if blob[:4] == b"RIFF" and blob[8:12] == b"WEBP":
            if blob[12:16] != b"VP8L":
                raise ValueError("not a lossless WebP")
            size = struct.unpack("<I", blob[16:20])[0]
            blob = blob[20:20 + size]
        d = vp8l_decode(blob)
        px = d["pixels"]
        return {"width": d["width"], "height": d["height"], "n_pixels": len(px),
                "sum_r": sum((p >> 16) & 0xFF for p in px),
                "sum_g": sum((p >> 8) & 0xFF for p in px),
                "sum_b": sum(p & 0xFF for p in px),
                "sum_a": sum((p >> 24) & 0xFF for p in px),
                "n_distinct": len(set(px))}

    return map_blobs(media_df, _stats, VP8L_STATS_SCHEMA, id_col, media_col)


def synth_vp8l_docs(ids_df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic lossless-WebP fixture, closed-form in doc_id ``d``:

        w = 4 + d%5,  h = 3 + d%4,  variant v = d%5
        K(j) = j - j%5 (v=1: runs → LZ77) | j%7 (v=2: repeats → cache)
               | j otherwise
        r(j) = (7d + 3K) % 256,  g(j) = (5d + 11K) % 256,
        b(j) = (13d + K) % 256,
        a(j) = 255, except v=4: (d + 17K) % 256  (real alpha plane)
        encoder: v0/v4 plain literals, v1 LZ77, v2 16-slot color cache,
        v3 subtract-green + predictor mode d%14 (all 14 modes cycle
        through the corpus)
    """

    def _encode(d: int) -> bytes:
        w, h, v = 4 + d % 5, 3 + d % 4, d % 5
        px = []
        for j in range(w * h):
            k = j - j % 5 if v == 1 else (j % 7 if v == 2 else j)
            r = (d * 7 + k * 3) % 256
            g = (d * 5 + k * 11) % 256
            b = (d * 13 + k) % 256
            a = (d + k * 17) % 256 if v == 4 else 255
            px.append((a << 24) | (r << 16) | (g << 8) | b)
        kw = {}
        if v == 1:
            kw = dict(use_lz77=True)
        elif v == 2:
            kw = dict(use_cache_bits=4, use_lz77=False)
        elif v == 3:
            kw = dict(subtract_green=True, predictor_mode=d % 14,
                      use_lz77=False)
        else:
            kw = dict(use_lz77=False)
        payload = vp8l_encode_fixture(w, h, px, **kw)
        return (b"RIFF"
                + struct.pack("<I", 4 + 8 + len(payload)
                              + (len(payload) & 1))
                + b"WEBPVP8L" + struct.pack("<I", len(payload))
                + payload
                + (b"\x00" if len(payload) & 1 else b""))

    return synth_blobs(ids_df, _encode, id_col)
