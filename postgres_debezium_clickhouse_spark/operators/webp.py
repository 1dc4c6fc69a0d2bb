"""WebP header walk, pure stdlib (r17) — the most common modern web
image format was invisible to the imaging suite (no RIFF/WEBP branch
in ``operators/imaging.py:decode_image``); this walk gives dims /
lossy-vs-lossless / alpha / animation triage without a codec.

WebP is a RIFF container (``RIFF <size> WEBP`` + fourcc chunks, public
container spec + RFC 6386 for the VP8 bitstream header).  The three
wire variants pack dimensions differently, and the walk handles all:

- ``VP8 `` (lossy): 3-byte LE frame tag (keyframe bit, version,
  show_frame, first-partition size), start code ``9D 01 2A``, then two
  LE u16s whose low 14 bits are width/height (top 2 bits are upscale
  hints).
- ``VP8L`` (lossless): 1-byte signature ``0x2F``, then a 32-bit LE
  bitfield: 14-bit width-1, 14-bit height-1, 1 alpha bit, 3 version
  bits (must be 0).
- ``VP8X`` (extended): 1 flags byte (ICC/alpha/EXIF/XMP/animation,
  reserved bits must be 0), 3 reserved bytes, then 24-bit LE canvas
  width-1 / height-1; animation adds an ``ANIM`` chunk and one
  ``ANMF`` chunk per frame.

Corrupt structure (bad magic, wrong start codes, chunk overruns,
reserved bits set, animation flag without ANIM/ANMF) raises
``ValueError`` — the dead-letter class; there is no
``NotImplementedError`` class here because the header grammar is
complete (pixel DECODE is what needs a codec, and ``decode_image``
still says so honestly).

Scale: per-blob byte-bounded walk in ``mapInPandas`` — no shuffle.
Part of the LLM-training-data extension surface (the reference
pipeline has no media path).
"""

from __future__ import annotations

from ._pipe import map_blobs, synth_blobs

import struct

from pyspark.sql import DataFrame
from pyspark.sql import types as T


def _chunks(blob: bytes, start: int, end: int):
    p = start
    while p < end:
        if p + 8 > end:
            raise ValueError("truncated RIFF chunk header")
        fourcc = blob[p:p + 4]
        size = struct.unpack("<I", blob[p + 4:p + 8])[0]
        if p + 8 + size > end:
            raise ValueError("RIFF chunk overruns container")
        yield fourcc, p + 8, p + 8 + size
        p += 8 + size + (size & 1)                   # chunks are 2-aligned


def webp_meta_walk(blob: bytes) -> dict:
    """{variant, width, height, has_alpha, is_animated, n_frames,
    has_exif, has_icc} from the RIFF/WEBP chunk tree."""
    try:
        return _webp_meta_walk_impl(blob)
    except ValueError:
        raise
    except (IndexError, KeyError, struct.error, OverflowError) as e:
        raise ValueError(f"corrupt WebP ({type(e).__name__})") from e


def _parse_vp8_dims(b: bytes, ps: int, pe: int) -> tuple:
    if pe - ps < 10:
        raise ValueError("truncated VP8 frame header")
    tag = int.from_bytes(b[ps:ps + 3], "little")
    if tag & 0x1:
        raise ValueError("WebP VP8 chunk is not a keyframe")
    if b[ps + 3:ps + 6] != b"\x9d\x01\x2a":
        raise ValueError("bad VP8 keyframe start code")
    w_raw, h_raw = struct.unpack("<HH", b[ps + 6:ps + 10])
    return w_raw & 0x3FFF, h_raw & 0x3FFF


def _parse_vp8l_dims(b: bytes, ps: int, pe: int) -> tuple:
    if pe - ps < 5:
        raise ValueError("truncated VP8L header")
    if b[ps] != 0x2F:
        raise ValueError("bad VP8L signature byte")
    bits = struct.unpack("<I", b[ps + 1:ps + 5])[0]
    if bits >> 29:
        raise ValueError("bad VP8L version bits")
    width = (bits & 0x3FFF) + 1
    height = ((bits >> 14) & 0x3FFF) + 1
    alpha = bool((bits >> 28) & 1)
    return width, height, alpha


def _webp_meta_walk_impl(blob: bytes) -> dict:
    if blob[:4] != b"RIFF" or blob[8:12] != b"WEBP":
        raise ValueError("not a WebP (bad RIFF/WEBP magic)")
    riff_size = struct.unpack("<I", blob[4:8])[0]
    if riff_size + 8 != len(blob):
        raise ValueError("RIFF size does not match blob length")
    chunks = list(_chunks(blob, 12, len(blob)))
    if not chunks:
        raise ValueError("WebP has no chunks")
    first, ps, pe = chunks[0]

    if first == b"VP8 ":
        w, h = _parse_vp8_dims(blob, ps, pe)
        return {"format": "webp", "variant": "lossy", "width": w,
                "height": h, "has_alpha": False, "is_animated": False,
                "n_frames": 1, "has_exif": False, "has_icc": False}
    if first == b"VP8L":
        w, h, alpha = _parse_vp8l_dims(blob, ps, pe)
        return {"format": "webp", "variant": "lossless", "width": w,
                "height": h, "has_alpha": alpha, "is_animated": False,
                "n_frames": 1, "has_exif": False, "has_icc": False}
    if first != b"VP8X":
        raise ValueError(f"unknown leading WebP chunk {first!r}")

    if pe - ps < 10:
        raise ValueError("truncated VP8X header")
    flags = blob[ps]
    if flags & 0xC1:                                 # reserved bits
        raise ValueError("reserved VP8X flag bits set")
    w = int.from_bytes(blob[ps + 4:ps + 7], "little") + 1
    h = int.from_bytes(blob[ps + 7:ps + 10], "little") + 1
    animated = bool(flags & 0x02)
    have = {}
    n_anmf = 0
    for fourcc, cs, ce in chunks[1:]:
        have.setdefault(fourcc, (cs, ce))
        if fourcc == b"ANMF":
            n_anmf += 1
    if animated:
        if b"ANIM" not in have or n_anmf == 0:
            raise ValueError("VP8X animation flag without ANIM/ANMF chunks")
        n_frames = n_anmf
    else:
        if b"VP8 " not in have and b"VP8L" not in have:
            raise ValueError("VP8X still image without VP8/VP8L bitstream")
        n_frames = 1
    return {"format": "webp", "variant": "extended", "width": w,
            "height": h, "has_alpha": bool(flags & 0x10),
            "is_animated": animated, "n_frames": n_frames,
            "has_exif": bool(flags & 0x08), "has_icc": bool(flags & 0x20)}


# ---------------------------------------------------------------- encoder

def _chunk(fourcc: bytes, payload: bytes) -> bytes:
    return fourcc + struct.pack("<I", len(payload)) + payload \
        + (b"\x00" if len(payload) & 1 else b"")


def _vp8_payload(width: int, height: int) -> bytes:
    body = bytes(12)                                 # stand-in partition data
    tag = (0 | (3 << 1) | (1 << 4) | (len(body) << 5))
    return (tag.to_bytes(3, "little") + b"\x9d\x01\x2a"
            + struct.pack("<HH", width, height) + body)


def _vp8l_payload(width: int, height: int, alpha: bool) -> bytes:
    bits = (width - 1) | ((height - 1) << 14) | (int(alpha) << 28)
    return b"\x2f" + struct.pack("<I", bits) + bytes(9)


def webp_encode_meta_fixture(
    variant: str,
    width: int,
    height: int,
    alpha: bool = False,
    animated: bool = False,
    n_frames: int = 1,
    exif: bool = False,
    icc: bool = False,
) -> bytes:
    """Bit-exact fixture for all three wire variants, built from the
    published layouts (container spec + RFC 6386 §9.1)."""
    if variant == "lossy":
        chunks = _chunk(b"VP8 ", _vp8_payload(width, height))
    elif variant == "lossless":
        chunks = _chunk(b"VP8L", _vp8l_payload(width, height, alpha))
    elif variant == "extended":
        flags = ((0x10 if alpha else 0) | (0x02 if animated else 0)
                 | (0x08 if exif else 0) | (0x20 if icc else 0))
        chunks = _chunk(b"VP8X", bytes([flags]) + bytes(3)
                        + (width - 1).to_bytes(3, "little")
                        + (height - 1).to_bytes(3, "little"))
        if icc:
            chunks += _chunk(b"ICCP", b"\x00" * 8)
        if animated:
            chunks += _chunk(b"ANIM", struct.pack("<IH", 0xFFFFFFFF, 0))
            for i in range(n_frames):
                frame = _vp8_payload(width, height)
                hdr = (i.to_bytes(3, "little") + i.to_bytes(3, "little")
                       + (width - 1).to_bytes(3, "little")
                       + (height - 1).to_bytes(3, "little")
                       + (40).to_bytes(3, "little") + b"\x00")
                chunks += _chunk(b"ANMF", hdr + _chunk(b"VP8 ", frame))
        else:
            chunks += _chunk(b"VP8 ", _vp8_payload(width, height))
        if exif:
            chunks += _chunk(b"EXIF", b"II*\x00" + bytes(8))
    else:
        raise ValueError(f"unknown variant {variant!r}")
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WEBP" + chunks


# --------------------------------------------------------------- plumbing

WEBP_META_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("variant", T.StringType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("has_alpha", T.BooleanType()),
    T.StructField("is_animated", T.BooleanType()),
    T.StructField("n_frames", T.IntegerType()),
    T.StructField("has_exif", T.BooleanType()),
])


def webp_metadata(media_df: DataFrame, id_col: str = "doc_id",
                  media_col: str = "media") -> DataFrame:
    """``webp_meta_walk`` over a binary column via ``mapInPandas`` —
    one typed row per blob, no shuffle (the pdf/mp3/mp4 walk shape)."""
    return map_blobs(media_df, webp_meta_walk, WEBP_META_SCHEMA, id_col, media_col)


def synth_webp_docs(ids_df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic WebP fixture, closed-form in doc_id ``d``:

        variant v = d%3: 0 lossy / 1 lossless / 2 extended
        lossy:     width 32+d%11, height 24+d%7
        lossless:  width 16*(1+d%9), height 8*(1+d%5), alpha d%2=1
        extended:  canvas 100+d%50 × 80+d%30, alpha d%2=1,
                   animated d%4=2 with 2+d%7 frames, exif d%5=0
    """

    def _encode(d: int) -> bytes:
        v = d % 3
        if v == 0:
            return webp_encode_meta_fixture(
                "lossy", 32 + d % 11, 24 + d % 7)
        if v == 1:
            return webp_encode_meta_fixture(
                "lossless", 16 * (1 + d % 9), 8 * (1 + d % 5),
                alpha=d % 2 == 1)
        return webp_encode_meta_fixture(
            "extended", 100 + d % 50, 80 + d % 30,
            alpha=d % 2 == 1, animated=d % 4 == 2,
            n_frames=2 + d % 7, exif=d % 5 == 0)

    return synth_blobs(ids_df, _encode, id_col, rows_per_task=1024)
