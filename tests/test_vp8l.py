"""VP8L lossless decode (r17 stretch goal): hand-built bitstreams with
first-principles pixel oracles (bit layouts transcribed from the public
spec in THIS file, independent of the module's encoder), full-feature
encoder round-trips, predictor-function value pins, and byte-flip fuzz.

No WebP codec exists in this container (no Pillow/cv2/dwebp — the
module docstring records the check), so libwebp cross-validation is
env-blocked; these hand oracles are the compensating evidence.
"""

from __future__ import annotations

import random

import pytest

from postgres_debezium_clickhouse_spark.operators.vp8l import (
    _cas_full,
    _cas_half,
    _select,
    vp8l_decode,
    vp8l_encode_fixture,
)


class _Bits:
    """Local LSB-first writer — deliberately NOT the module's."""

    def __init__(self):
        self.out = bytearray()
        self.n = 0

    def w(self, value, width):
        for i in range(width):
            if self.n % 8 == 0:
                self.out.append(0)
            if (value >> i) & 1:
                self.out[-1] |= 1 << (self.n % 8)
            self.n += 1

    def code(self, c, ln):
        """Prefix code word, MSB of the code first."""
        for b in range(ln - 1, -1, -1):
            self.w((c >> b) & 1, 1)


def _header(bits, w, h, alpha=0):
    bits.w(0x2F, 8)
    bits.w((w - 1) | ((h - 1) << 14) | (alpha << 28), 32)


def test_hand_built_two_literal_pixels():
    # 2x1 image, two literals differing only in green; all five codes
    # in the SIMPLE form.  Canonical rule: the smaller symbol VALUE
    # takes code 0 (libwebp builds from lengths, not listing order).
    G0, G1, R, B, A = 17, 200, 55, 99, 255
    bits = _Bits()
    _header(bits, 2, 1)
    bits.w(0, 1)            # no transforms
    bits.w(0, 1)            # no color cache
    bits.w(0, 1)            # no meta prefix codes
    # green: simple, 2 symbols, 8-bit first
    bits.w(1, 1); bits.w(1, 1); bits.w(1, 1); bits.w(G0, 8); bits.w(G1, 8)
    # red / blue / alpha: simple, 1 symbol, 8-bit
    for sym in (R, B, A):
        bits.w(1, 1); bits.w(0, 1); bits.w(1, 1); bits.w(sym, 8)
    # distance: simple, 1 symbol, 1-bit symbol 0
    bits.w(1, 1); bits.w(0, 1); bits.w(0, 1); bits.w(0, 1)
    # data: G0 < G1 → G0 has code 0, G1 code 1 (single bits)
    bits.w(0, 1)            # pixel 0 green=G0 (r/b/a cost 0 bits)
    bits.w(1, 1)            # pixel 1 green=G1
    d = vp8l_decode(bytes(bits.out))
    assert (d["width"], d["height"]) == (2, 1)
    expect = [(A << 24) | (R << 16) | (G0 << 8) | B,
              (A << 24) | (R << 16) | (G1 << 8) | B]
    assert d["pixels"] == expect


def _emit_green_lengths(bits, length_of: dict[int, int], alphabet=280):
    """Write a NORMAL green code whose nonzero lengths are exactly
    ``length_of`` (lengths must be only 1 and 2, one len-1 symbol and
    two len-2 symbols — the 3-symbol shape these tests use), using the
    code-length-code {1:len2, 2:len1, 18:len2} and the max-symbol
    bound.  Returns the canonical (code, len) map for data emission."""
    bits.w(0, 1)                      # normal form
    # clc over {1, 2, 17, 18}, all length 2 (Kraft-complete);
    # kOrder slots [17, 18, 0, 1, 2] → 3-bit lengths (2, 2, 0, 2, 2)
    bits.w(1, 4)                      # num_codes = 5
    for ln in (2, 2, 0, 2, 2):
        bits.w(ln, 3)
    # canonical (ascending symbol): 1→00, 2→01, 17→10, 18→11
    CLC1 = (0b00, 2)                  # emits "length 1"
    CLC2 = (0b01, 2)                  # emits "length 2"
    RUN17 = (0b10, 2)                 # zero-run 3 + ReadBits(3)
    RUN18 = (0b11, 2)                 # zero-run 11 + ReadBits(7)
    emits = []                        # ((code, width), extra, extra_w)
    pos = 0
    for sym in sorted(length_of):
        gap = sym - pos
        while gap > 0:
            if gap <= 10:
                assert gap >= 3, "pick geometry with gaps of 0 or >= 3"
                emits.append((RUN17, gap - 3, 3))
                gap = 0
            else:
                take = min(gap, 138)
                if gap - take in (1, 2):
                    take -= 3         # leave a 17-run-sized remainder
                emits.append((RUN18, take - 11, 7))
                gap -= take
        ln = length_of[sym]
        emits.append((CLC1, 0, 0) if ln == 1 else (CLC2, 0, 0))
        pos = sym + 1
    # max_symbol bounds the number of clc READS (libwebp semantics)
    bits.w(1, 1)
    bits.w(1, 3)                      # length_nbits = 2 + 2*1 = 4
    bits.w(len(emits) - 2, 4)         # max_symbol = 2 + that = len(emits)
    for (code, width), extra, extra_w in emits:
        bits.code(code, width)
        if extra_w:
            bits.w(extra, extra_w)
    # canonical green codes: the len-1 symbol → 0; len-2 (ascending
    # symbol order) → 10, 11
    out = {}
    len2 = sorted(s for s, ln in length_of.items() if ln == 2)
    for s, ln in length_of.items():
        if ln == 1:
            out[s] = (0, 1)
    out[len2[0]] = (0b10, 2)
    out[len2[1]] = (0b11, 2)
    return out


def test_hand_built_lz77_short_distance_and_normal_code():
    # 2x2: literals P0 P1, then a length-2 copy with 2D distance code 1
    # = (dx=0, dy=1) → dist = width → copies the row above.
    # Green alphabet needs 3 symbols {0, 1, 257} → NORMAL code with
    # code-length-code, 18-runs and the max-symbol bound — the spec
    # features the simple form cannot exercise.
    R, B, A = 10, 20, 255
    bits = _Bits()
    _header(bits, 2, 2)
    bits.w(0, 1); bits.w(0, 1); bits.w(0, 1)
    green = _emit_green_lengths(bits, {0: 1, 1: 2, 257: 2})
    for sym in (R, B, A):
        bits.w(1, 1); bits.w(0, 1); bits.w(1, 1); bits.w(sym, 8)
    # distance: simple single symbol 0 → prefix 0 → value 1 → 2D code 1
    bits.w(1, 1); bits.w(0, 1); bits.w(0, 1); bits.w(0, 1)
    bits.code(*green[0])              # P0: green 0
    bits.code(*green[1])              # P1: green 1
    bits.code(*green[257])            # copy: length prefix 1 → 2, no extra
    d = vp8l_decode(bytes(bits.out))
    P0 = (A << 24) | (R << 16) | (0 << 8) | B
    P1 = (A << 24) | (R << 16) | (1 << 8) | B
    assert d["pixels"] == [P0, P1, P0, P1]


def test_hand_built_color_cache_reference():
    # 1x3: literal P, literal Q, then a CACHE reference that must
    # return P through the spec hash slot — not a backward copy.
    bits = _Bits()
    _header(bits, 3, 1)
    bits.w(0, 1)
    bits.w(1, 1); bits.w(4, 4)        # color cache, 16 slots
    bits.w(0, 1)
    R, B, A = 1, 2, 255
    P = (A << 24) | (R << 16) | (0 << 8) | B
    hidx = ((0x1E35A7BD * P) & 0xFFFFFFFF) >> 28
    cache_sym = 280 + hidx
    green = _emit_green_lengths(bits, {0: 1, 1: 2, cache_sym: 2},
                                alphabet=280 + 16)
    for sym in (R, B, A):
        bits.w(1, 1); bits.w(0, 1); bits.w(1, 1); bits.w(sym, 8)
    bits.w(1, 1); bits.w(0, 1); bits.w(0, 1); bits.w(0, 1)
    bits.code(*green[0])              # literal P
    bits.code(*green[1])              # literal Q
    bits.code(*green[cache_sym])      # cache hit → P
    d = vp8l_decode(bytes(bits.out))
    Q = (A << 24) | (R << 16) | (1 << 8) | B
    assert d["pixels"] == [P, Q, P]


def test_hand_built_color_transform_asymmetric_element():
    # r18 (ADVICE high): the transform element packs green_to_red in the
    # BLUE byte, green_to_blue in GREEN, red_to_blue in RED (spec
    # §4.2.2 / libwebp ColorCodeToMultipliers) — an asymmetric element
    # (g2r != r2b) with pixels computed from the spec formulas, NOT the
    # fixture encoder, so a byte-swapped reading cannot pass.
    G2R, G2B, R2B = 0x40, 0x00, 0x20
    Rc, G, Bc, A = 0x10, 0x20, 0x30, 0xFF
    # spec: delta(t,c) = int8(t)*int8(c) >> 5, red updated before blue
    r_fin = (Rc + ((G2R * G) >> 5)) & 0xFF          # 0x10 + 64 = 0x50
    b_fin = (Bc + ((G2B * G) >> 5) + ((R2B * r_fin) >> 5)) & 0xFF  # 0x80
    assert (r_fin, b_fin) == (0x50, 0x80)
    bits = _Bits()
    _header(bits, 1, 1)
    bits.w(1, 1)                      # transform present
    bits.w(1, 2)                      # type 1 = color transform
    bits.w(0, 3)                      # size_bits = 2 → 1x1 block grid
    # --- transform subimage (1x1): element pixel B=g2r, G=g2b, R=r2b
    bits.w(0, 1)                      # no color cache
    for sym in (G2B, R2B, G2R, A):    # green, red, blue, alpha codes
        bits.w(1, 1); bits.w(0, 1); bits.w(1, 1); bits.w(sym, 8)
    bits.w(1, 1); bits.w(0, 1); bits.w(0, 1); bits.w(0, 1)   # distance
    # --- main image
    bits.w(0, 1)                      # no more transforms
    bits.w(0, 1)                      # no color cache
    bits.w(0, 1)                      # no meta prefix codes
    for sym in (G, Rc, Bc, A):
        bits.w(1, 1); bits.w(0, 1); bits.w(1, 1); bits.w(sym, 8)
    bits.w(1, 1); bits.w(0, 1); bits.w(0, 1); bits.w(0, 1)   # distance
    d = vp8l_decode(bytes(bits.out))
    assert d["pixels"] == [(A << 24) | (r_fin << 16) | (G << 8) | b_fin]


def test_predictor_value_pins():
    # Select / ClampAddSubtract pinned against hand-computed values
    # from the spec pseudocode.
    L = 0xFF00_1020
    T = 0xFF10_0030
    TL = 0xFF08_0828
    # Select: pred = L+T-TL per channel = (0xFF, 0x08, 0x08, 0x28);
    # pL = |8-0|+|8-16|+|40-32|... per channel sums decide
    pl = sum(abs(p - c) for p, c in zip(
        (0xFF, 0x08, 0x08, 0x28),
        (0xFF, 0x00, 0x10, 0x20)))
    pt = sum(abs(p - c) for p, c in zip(
        (0xFF, 0x08, 0x08, 0x28),
        (0xFF, 0x10, 0x00, 0x30)))
    assert _select(L, T, TL) == (L if pl < pt else T)
    # CAS full: per-channel clip(L + T - TL)
    assert _cas_full(L, T, TL) == 0xFF08_0828
    # CAS half: ave=(L+T)/2 per channel; clip(ave + trunc((ave-TL)/2))
    ave = 0xFF08_0828
    out = _cas_half(ave, 0xFF00_0000)
    assert out == 0xFF0C_0C3C  # 8+4, 8+4, 0x28+0x14


def test_roundtrips_every_feature():
    rng = random.Random(7)
    w, h = 23, 19
    px = [(0xFF << 24) | (rng.randrange(256) << 16)
          | (rng.randrange(256) << 8) | rng.randrange(256)
          for _ in range(w * h)]
    configs = [
        dict(use_lz77=False),
        dict(use_lz77=True),
        dict(use_cache_bits=6),
        dict(subtract_green=True),
        dict(meta_bits=3, use_lz77=False),
        dict(color_element=0x204080, use_lz77=False),
    ]
    configs += [dict(predictor_mode=m, use_lz77=False) for m in range(14)]
    for kw in configs:
        assert vp8l_decode(vp8l_encode_fixture(w, h, px, **kw))["pixels"] \
            == px, kw
    # palettes at every packing width
    for n_col in (2, 4, 16, 60):
        pal = [(0xFF << 24) | (rng.randrange(256) << 16)
               | (rng.randrange(256) << 8) | rng.randrange(256)
               for _ in range(n_col)]
        pal = list(dict.fromkeys(pal))
        ipx = [pal[rng.randrange(len(pal))] for _ in range(w * h)]
        b = vp8l_encode_fixture(w, h, ipx, palette=pal)
        assert vp8l_decode(b)["pixels"] == ipx, n_col
    # alpha plane actually varying
    pxa = [(rng.randrange(256) << 24) | (rng.randrange(1 << 24))
           for _ in range(w * h)]
    d = vp8l_decode(vp8l_encode_fixture(w, h, pxa, use_cache_bits=4))
    assert d["pixels"] == pxa and d["has_alpha"]


@pytest.mark.slow
def test_fuzz_never_wrong_only_deadletter():
    rng = random.Random(8)
    px = [(0xFF << 24) | (rng.randrange(1 << 24)) for _ in range(16 * 12)]
    blobs = [
        vp8l_encode_fixture(16, 12, px, use_cache_bits=4),
        vp8l_encode_fixture(16, 12, px, predictor_mode=11,
                            subtract_green=True, use_lz77=False),
    ]
    for b in blobs:
        for _ in range(1500):
            bb = bytearray(b)
            for _f in range(rng.randint(1, 3)):
                bb[rng.randrange(len(bb))] = rng.randrange(256)
            try:
                vp8l_decode(bytes(bb))
            except ValueError:
                pass
        for cut in range(1, len(b), 3):
            try:
                vp8l_decode(b[:cut])
            except ValueError:
                pass


def test_meta_groups_single_block_grid():
    # r17 second-pass review: a meta grid of ONE block reaches only
    # group 0 — the encoder must emit exactly max(meta)+1 bundles or
    # the stream desyncs
    rng = random.Random(9)
    px = [(0xFF << 24) | rng.randrange(1 << 24) for _ in range(8 * 8)]
    b = vp8l_encode_fixture(8, 8, px, meta_bits=5, use_lz77=False)
    assert vp8l_decode(b)["pixels"] == px
