"""EXIF metadata extraction, pure stdlib (r18) — the camera/provenance
plane of image triage: orientation (needed before any resize/augment
step), capture time, camera make/model, exposure parameters, and GPS
presence (a PII signal for curation) from the TIFF-IFD structure EXIF
embeds in four containers:

- JPEG: APP1 marker segment with the ``Exif\\0\\0`` header (scan stops
  at SOS — metadata only, no entropy decode)
- TIFF: the file IS the structure (IFD0 directly)
- WebP: the VP8X ``EXIF`` chunk (the header walk in
  ``operators/webp.py`` only flags presence; this reads it)
- PNG: the ``eXIf`` chunk (PNG 1.5 extension)

Public sources: the EXIF 2.3 tag tables (CIPA DC-008, public), TIFF 6.0
IFD grammar (byte order II/MM, 12-byte entries, inline-vs-offset
values), JPEG marker grammar (ITU T.81), PNG chunk grammar, RIFF/WebP
chunk grammar.  Rational values are exposed as exact integer
micro-units (``exposure_us``, ``f_number_x100``, ``focal_mm_x10``) so
the DuckDB oracle restates them closed-form with zero float risk.

Dead-letter contract: corrupt structure raises ``ValueError``;
a container without EXIF returns all-NULL fields (absence is data, not
an error — most crawled images have no EXIF).

Scale: per-blob byte-bounded walk in ``mapInPandas`` — no shuffle.
Reference parity note: the reference pipeline has no media path
(`/root/reference/basic_example/clickhouse.sql`); this is part of the
LLM-training-pipeline extension surface.
"""

from __future__ import annotations

from ._pipe import map_blobs, synth_blobs

import struct

from pyspark.sql import DataFrame
from pyspark.sql import types as T

# IFD0 tags
_MAKE = 0x010F
_MODEL = 0x0110
_ORIENTATION = 0x0112
_DATETIME = 0x0132
_EXIF_IFD = 0x8769
_GPS_IFD = 0x8825
# Exif-IFD tags
_EXPOSURE = 0x829A
_FNUMBER = 0x829D
_ISO = 0x8827
_DT_ORIGINAL = 0x9003
_FOCAL = 0x920A
_PIXEL_X = 0xA002
_PIXEL_Y = 0xA003

_TYPE_SIZES = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 6: 1, 7: 1, 9: 4, 10: 8}


def _read_ifd(b: bytes, off: int, le: bool) -> dict[int, tuple]:
    """tag → (type, count, raw value bytes) for one IFD."""
    end = "<" if le else ">"
    if off + 2 > len(b):
        raise ValueError("truncated EXIF IFD")
    (n,) = struct.unpack_from(f"{end}H", b, off)
    if off + 2 + 12 * n > len(b):
        raise ValueError("truncated EXIF IFD entries")
    out: dict[int, tuple] = {}
    for i in range(n):
        e = off + 2 + 12 * i
        tag, typ, count = struct.unpack_from(f"{end}HHI", b, e)
        size = _TYPE_SIZES.get(typ)
        if size is None:
            continue                                 # unknown type: skip
        total = size * count
        if total <= 4:
            raw = b[e + 8:e + 8 + total]
        else:
            (voff,) = struct.unpack_from(f"{end}I", b, e + 8)
            if voff + total > len(b):
                raise ValueError("EXIF value overruns blob")
            raw = b[voff:voff + total]
        out[tag] = (typ, count, raw)
    return out


def _ascii(v: tuple | None) -> str | None:
    if v is None or v[0] != 2:
        return None
    return v[2].split(b"\x00", 1)[0].decode("ascii", "replace") or None


def _short(v: tuple | None, le: bool) -> int | None:
    if v is None or v[0] not in (3, 4) or v[1] < 1:
        return None
    end = "<" if le else ">"
    fmt = "H" if v[0] == 3 else "I"
    return struct.unpack_from(f"{end}{fmt}", v[2], 0)[0]


def _rational(v: tuple | None, le: bool) -> tuple[int, int] | None:
    if v is None or v[0] != 5 or v[1] < 1 or len(v[2]) < 8:
        return None
    end = "<" if le else ">"
    num, den = struct.unpack_from(f"{end}II", v[2], 0)
    return (num, den)


def _scaled(r: tuple[int, int] | None, scale: int) -> int | None:
    if r is None or r[1] == 0:
        return None
    return r[0] * scale // r[1]


_EMPTY = {
    "make": None, "model": None, "orientation": None, "datetime": None,
    "datetime_original": None, "iso": None, "f_number_x100": None,
    "exposure_us": None, "focal_mm_x10": None, "pixel_x": None,
    "pixel_y": None, "gps_present": None,
}


def _parse_tiff_exif(b: bytes) -> dict:
    if len(b) < 8:
        raise ValueError("truncated EXIF TIFF header")
    if b[:2] == b"II":
        le = True
    elif b[:2] == b"MM":
        le = False
    else:
        raise ValueError("bad EXIF byte-order mark")
    end = "<" if le else ">"
    magic, ifd0 = struct.unpack_from(f"{end}HI", b, 2)
    if magic != 42:
        raise ValueError("bad TIFF magic in EXIF")
    d0 = _read_ifd(b, ifd0, le)
    out = dict(_EMPTY)
    out["make"] = _ascii(d0.get(_MAKE))
    out["model"] = _ascii(d0.get(_MODEL))
    out["orientation"] = _short(d0.get(_ORIENTATION), le)
    out["datetime"] = _ascii(d0.get(_DATETIME))
    out["gps_present"] = _GPS_IFD in d0
    sub_off = _short(d0.get(_EXIF_IFD), le)
    if sub_off is not None:
        sub = _read_ifd(b, sub_off, le)
        out["datetime_original"] = _ascii(sub.get(_DT_ORIGINAL))
        out["iso"] = _short(sub.get(_ISO), le)
        out["f_number_x100"] = _scaled(_rational(sub.get(_FNUMBER), le), 100)
        out["exposure_us"] = _scaled(
            _rational(sub.get(_EXPOSURE), le), 1_000_000)
        out["focal_mm_x10"] = _scaled(_rational(sub.get(_FOCAL), le), 10)
        out["pixel_x"] = _short(sub.get(_PIXEL_X), le)
        out["pixel_y"] = _short(sub.get(_PIXEL_Y), le)
    return out


def _jpeg_exif_payload(blob: bytes) -> bytes | None:
    p = 2
    while p + 4 <= len(blob):
        if blob[p] != 0xFF:
            raise ValueError("bad JPEG marker stream")
        # 0xFF fill bytes before a marker are legal (ITU T.81
        # B.1.1.2) — skip them (r18 self-review)
        while blob[p + 1] == 0xFF and p + 4 <= len(blob):
            p += 1
        marker = blob[p + 1]
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            p += 2
            continue
        if marker in (0xD9, 0xDA):                   # EOI / SOS: stop
            return None
        (seglen,) = struct.unpack_from(">H", blob, p + 2)
        if seglen < 2 or p + 2 + seglen > len(blob):
            raise ValueError("JPEG segment overruns blob")
        if marker == 0xE1 and blob[p + 4:p + 10] == b"Exif\x00\x00":
            return blob[p + 10:p + 2 + seglen]
        p += 2 + seglen
    return None


def _webp_exif_payload(blob: bytes) -> bytes | None:
    if len(blob) < 12 or blob[:4] != b"RIFF" or blob[8:12] != b"WEBP":
        raise ValueError("not a WebP")
    p = 12
    while p + 8 <= len(blob):
        fourcc = blob[p:p + 4]
        (size,) = struct.unpack_from("<I", blob, p + 4)
        if p + 8 + size > len(blob):
            raise ValueError("WebP chunk overruns blob")
        if fourcc == b"EXIF":
            body = blob[p + 8:p + 8 + size]
            # some writers include the Exif\0\0 prefix, some don't
            return body[6:] if body[:6] == b"Exif\x00\x00" else body
        p += 8 + size + (size & 1)
    return None


def _png_exif_payload(blob: bytes) -> bytes | None:
    p = 8
    while p + 8 <= len(blob):
        (clen,) = struct.unpack_from(">I", blob, p)
        ctype = blob[p + 4:p + 8]
        if p + 12 + clen > len(blob):
            raise ValueError("PNG chunk overruns blob")
        if ctype == b"eXIf":
            return blob[p + 8:p + 8 + clen]
        if ctype == b"IEND":
            return None
        p += 12 + clen
    return None


def exif_walk(blob: bytes) -> dict:
    """{container, has_exif, make, model, orientation, datetime,
    datetime_original, iso, f_number_x100, exposure_us, focal_mm_x10,
    pixel_x, pixel_y, gps_present}."""
    try:
        if blob[:2] == b"\xff\xd8":
            container, payload = "jpeg", _jpeg_exif_payload(blob)
        elif blob[:2] in (b"II", b"MM") and len(blob) >= 8:
            container, payload = "tiff", blob
        elif blob[:4] == b"RIFF" and blob[8:12] == b"WEBP":
            container, payload = "webp", _webp_exif_payload(blob)
        elif blob[:8] == b"\x89PNG\r\n\x1a\n":
            container, payload = "png", _png_exif_payload(blob)
        else:
            raise ValueError("no EXIF-bearing container recognized")
        if payload is None:
            return {"container": container, "has_exif": False, **_EMPTY}
        return {"container": container, "has_exif": True,
                **_parse_tiff_exif(payload)}
    except (ValueError, NotImplementedError):
        raise
    except (IndexError, KeyError, struct.error, OverflowError,
            UnicodeDecodeError) as e:
        raise ValueError(f"corrupt EXIF ({type(e).__name__})") from e


# -------------------------------------------------------------- fixture

def _entry(end: str, tag: int, typ: int, count: int, val: bytes,
           tail: list, base_fixed: int) -> bytes:
    size = _TYPE_SIZES[typ] * count
    if size <= 4:
        return struct.pack(f"{end}HHI", tag, typ, count) + val.ljust(4, b"\x00")
    off = base_fixed + sum(len(t) for t in tail)
    tail.append(val)
    return (struct.pack(f"{end}HHI", tag, typ, count)
            + struct.pack(f"{end}I", off))


def exif_encode_tiff(
    make: str | None = None,
    model: str | None = None,
    orientation: int | None = None,
    iso: int | None = None,
    f_number: tuple[int, int] | None = None,
    exposure: tuple[int, int] | None = None,
    focal: tuple[int, int] | None = None,
    pixel_xy: tuple[int, int] | None = None,
    dt_original: str | None = None,
    gps: bool = False,
    little_endian: bool = True,
) -> bytes:
    """Spec-shaped EXIF TIFF structure: header, IFD0 (ascii + short
    tags, Exif-IFD and GPS-IFD pointers), Exif sub-IFD with rationals
    out-of-line — both byte orders."""
    end = "<" if little_endian else ">"

    ifd0_tags: list[tuple[int, int, int, bytes]] = []
    if make is not None:
        v = make.encode() + b"\x00"
        ifd0_tags.append((_MAKE, 2, len(v), v))
    if model is not None:
        v = model.encode() + b"\x00"
        ifd0_tags.append((_MODEL, 2, len(v), v))
    if orientation is not None:
        ifd0_tags.append((_ORIENTATION, 3, 1,
                          struct.pack(f"{end}H", orientation)))
    sub_tags: list[tuple[int, int, int, bytes]] = []
    if exposure is not None:
        sub_tags.append((_EXPOSURE, 5, 1, struct.pack(f"{end}II", *exposure)))
    if f_number is not None:
        sub_tags.append((_FNUMBER, 5, 1, struct.pack(f"{end}II", *f_number)))
    if iso is not None:
        sub_tags.append((_ISO, 3, 1, struct.pack(f"{end}H", iso)))
    if dt_original is not None:
        v = dt_original.encode() + b"\x00"
        sub_tags.append((_DT_ORIGINAL, 2, len(v), v))
    if focal is not None:
        sub_tags.append((_FOCAL, 5, 1, struct.pack(f"{end}II", *focal)))
    if pixel_xy is not None:
        sub_tags.append((_PIXEL_X, 4, 1, struct.pack(f"{end}I", pixel_xy[0])))
        sub_tags.append((_PIXEL_Y, 4, 1, struct.pack(f"{end}I", pixel_xy[1])))

    n0 = len(ifd0_tags) + (1 if sub_tags else 0) + (1 if gps else 0)
    ifd0_off = 8
    ifd0_size = 2 + 12 * n0 + 4
    sub_off = ifd0_off + ifd0_size
    sub_size = (2 + 12 * len(sub_tags) + 4) if sub_tags else 0
    gps_off = sub_off + sub_size
    gps_size = (2 + 12 * 1 + 4) if gps else 0
    tail_base = gps_off + gps_size

    tail: list[bytes] = []
    out = bytearray()
    out.extend((b"II" if little_endian else b"MM")
               + struct.pack(f"{end}HI", 42, ifd0_off))
    body = bytearray(struct.pack(f"{end}H", n0))
    entries = list(ifd0_tags)
    if sub_tags:
        entries.append((_EXIF_IFD, 4, 1, struct.pack(f"{end}I", sub_off)))
    if gps:
        entries.append((_GPS_IFD, 4, 1, struct.pack(f"{end}I", gps_off)))
    for tag, typ, count, val in sorted(entries):
        body.extend(_entry(end, tag, typ, count, val, tail, tail_base))
    body.extend(struct.pack(f"{end}I", 0))
    out.extend(body)
    if sub_tags:
        sb = bytearray(struct.pack(f"{end}H", len(sub_tags)))
        for tag, typ, count, val in sorted(sub_tags):
            sb.extend(_entry(end, tag, typ, count, val, tail, tail_base))
        sb.extend(struct.pack(f"{end}I", 0))
        out.extend(sb)
    if gps:
        gb = bytearray(struct.pack(f"{end}H", 1))
        # GPSVersionID 0.0.2.2 (tag 0, BYTE×4, inline)
        gb.extend(struct.pack(f"{end}HHI", 0, 1, 4) + bytes([2, 2, 0, 0]))
        gb.extend(struct.pack(f"{end}I", 0))
        out.extend(gb)
    for t in tail:
        out.extend(t)
    return bytes(out)


def exif_wrap(container: str, tiff: bytes | None) -> bytes:
    """Wrap an EXIF TIFF structure (or None = no EXIF) in a minimal but
    structurally-valid container of the given kind."""
    if container == "tiff":
        if tiff is None:
            raise ValueError("bare TIFF always has its IFD")
        return tiff
    if container == "jpeg":
        out = bytearray(b"\xff\xd8")
        if tiff is not None:
            seg = b"Exif\x00\x00" + tiff
            out.extend(b"\xff\xe1" + struct.pack(">H", len(seg) + 2) + seg)
        # minimal SOF0 + EOI for marker-stream realism
        sof = struct.pack(">BHHB", 8, 16, 16, 1) + bytes([1, 0x11, 0])
        out.extend(b"\xff\xc0" + struct.pack(">H", len(sof) + 2) + sof)
        out.extend(b"\xff\xd9")
        return bytes(out)
    if container == "webp":
        chunks = bytearray()
        # VP8X with EXIF flag; 1x1 canvas
        vp8x = bytes([0x08 if tiff is not None else 0, 0, 0, 0,
                      0, 0, 0, 0, 0, 0])
        chunks.extend(b"VP8X" + struct.pack("<I", len(vp8x)) + vp8x)
        if tiff is not None:
            body = b"Exif\x00\x00" + tiff
            chunks.extend(b"EXIF" + struct.pack("<I", len(body)) + body)
            if len(body) & 1:
                chunks.extend(b"\x00")
        return (b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WEBP"
                + bytes(chunks))
    if container == "png":
        import zlib
        out = bytearray(b"\x89PNG\r\n\x1a\n")

        def chunk(typ: bytes, data: bytes) -> bytes:
            crc = zlib.crc32(typ + data) & 0xFFFFFFFF
            return (struct.pack(">I", len(data)) + typ + data
                    + struct.pack(">I", crc))

        out.extend(chunk(b"IHDR", struct.pack(">IIBBBBB", 1, 1, 8, 0,
                                              0, 0, 0)))
        if tiff is not None:
            out.extend(chunk(b"eXIf", tiff))
        out.extend(chunk(b"IEND", b""))
        return bytes(out)
    raise ValueError(f"container {container!r}")


# ------------------------------------------------------- spark plumbing

EXIF_META_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("container", T.StringType()),
    T.StructField("has_exif", T.BooleanType()),
    T.StructField("make", T.StringType()),
    T.StructField("model", T.StringType()),
    T.StructField("orientation", T.IntegerType()),
    T.StructField("datetime_original", T.StringType()),
    T.StructField("iso", T.IntegerType()),
    T.StructField("f_number_x100", T.LongType()),
    T.StructField("exposure_us", T.LongType()),
    T.StructField("focal_mm_x10", T.LongType()),
    T.StructField("pixel_x", T.IntegerType()),
    T.StructField("pixel_y", T.IntegerType()),
    T.StructField("gps_present", T.BooleanType()),
])


def exif_metadata(media_df: DataFrame, id_col: str = "doc_id",
                  media_col: str = "media") -> DataFrame:
    """``exif_walk`` over a binary column via ``mapInPandas`` — no
    shuffle, one typed row per blob."""
    return map_blobs(media_df, exif_walk, EXIF_META_SCHEMA, id_col, media_col)


def synth_exif_docs(ids_df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """EXIF fixture, closed-form in doc_id ``d``:

    - container: [jpeg, tiff, webp, png][d%4]
    - EXIF absent on d%7==0 (except bare tiff, which always carries
      its IFD) — absence is data
    - byte order II when d%2=0, MM otherwise
    - make 'maker {d%3}', model 'cam {d%5}', orientation 1 + d%8
    - exposure 1/(25·(1+d%6)) s, f-number (14+d%9)/5, iso 100·(1+d%32),
      focal (35+d%11, 2), pixels (64·(1+d%5), 48·(1+d%4)),
      datetime_original '2021:0{1+d%9}:15 12:00:0{d%10}'
    - GPS IFD present when d%3==0
    """

    def _encode(d: int) -> bytes:
        container = ["jpeg", "tiff", "webp", "png"][d % 4]
        no_exif = d % 7 == 0 and container != "tiff"
        tiff = None
        if not no_exif:
            tiff = exif_encode_tiff(
                make=f"maker {d % 3}",
                model=f"cam {d % 5}",
                orientation=1 + d % 8,
                iso=100 * (1 + d % 32),
                f_number=(14 + d % 9, 5),
                exposure=(1, 25 * (1 + d % 6)),
                focal=(35 + d % 11, 2),
                pixel_xy=(64 * (1 + d % 5), 48 * (1 + d % 4)),
                dt_original=(f"2021:0{1 + d % 9}:15 "
                             f"12:00:0{d % 10}"),
                gps=d % 3 == 0,
                little_endian=d % 2 == 0,
            )
        return exif_wrap(container, tiff)

    return synth_blobs(ids_df, _encode, id_col, rows_per_task=1024)
