"""Compressed-stream metadata walks, pure stdlib (r18): gzip members
(RFC 1952) and Zstandard frames (RFC 8878) — the two envelope formats
crawled archives actually arrive in (.warc.gz is already handled
upstream; this is the triage for BARE .gz / .zst payload blobs: how
many members/frames, declared sizes, names, integrity).

- gzip: per-member header walk (FLG bit fields: FTEXT/FHCRC/FEXTRA/
  FNAME/FCOMMENT, latin-1 zero-terminated name, 4-byte LE MTIME, OS
  byte), deflate body skipped via ``zlib.decompressobj(-15)`` (deflate
  carries no length prefix — the only way to find the member boundary),
  then CRC32 + ISIZE trailer VERIFIED against the inflated bytes.
  Multi-member files (``cat a.gz b.gz``) are spec-legal and walked.

- zstd: frame-header walk with NO decompression: magic, frame header
  descriptor (single-segment / dict-id / content-size flag fields),
  window descriptor → window_log, dict id, declared content size, then
  the BLOCK chain stepped via the 3-byte block headers (raw / RLE /
  compressed; reserved dead-letters) to the end-of-frame + optional
  checksum.  Skippable frames (0x184D2A50-5F) are counted and skipped.
  Payload decode needs a zstd codec — not attempted; the walk is
  header+structure only, O(blocks) not O(bytes decompressed).

Dead-letter contract: corrupt structure raises ``ValueError``
(bad magic, truncation, CRC/ISIZE mismatch, reserved block type).

Scale: per-blob walk in ``mapInPandas`` — no shuffle.  Reference
parity note: the reference pipeline has no object-store triage beyond
JSON (`/root/reference/minio_cdc_example/`); this is part of the
LLM-training-pipeline extension surface.
"""

from __future__ import annotations

from ._pipe import map_blobs, synth_blobs

import struct
import zlib

from pyspark.sql import DataFrame
from pyspark.sql import types as T

# ------------------------------------------------------------------ gzip

_FTEXT, _FHCRC, _FEXTRA, _FNAME, _FCOMMENT = 1, 2, 4, 8, 16


def gzip_members_walk(blob: bytes) -> dict:
    """{n_members, names, mtime_first, os_first, total_uncompressed,
    total_compressed} with each member's CRC32+ISIZE trailer verified."""
    pos = 0
    names: list[str] = []
    mtime_first = os_first = None
    total_un = 0
    n = 0
    while pos < len(blob):
        if blob[pos:pos + 2] != b"\x1f\x8b":
            raise ValueError("bad gzip magic")
        if pos + 10 > len(blob):
            raise ValueError("truncated gzip header")
        cm, flg = blob[pos + 2], blob[pos + 3]
        if cm != 8:
            raise ValueError(f"gzip compression method {cm} (not deflate)")
        if flg & 0xE0:
            raise ValueError("gzip reserved FLG bits set")
        mtime = struct.unpack_from("<I", blob, pos + 4)[0]
        os_byte = blob[pos + 9]
        if mtime_first is None:
            mtime_first, os_first = mtime, os_byte
        p = pos + 10
        if flg & _FEXTRA:
            if p + 2 > len(blob):
                raise ValueError("truncated gzip FEXTRA")
            xlen = struct.unpack_from("<H", blob, p)[0]
            p += 2 + xlen
        if flg & _FNAME:
            q = blob.index(b"\x00", p)
            names.append(blob[p:q].decode("latin-1"))
            p = q + 1
        if flg & _FCOMMENT:
            p = blob.index(b"\x00", p) + 1
        if flg & _FHCRC:
            if p + 2 > len(blob):
                raise ValueError("truncated gzip FHCRC")
            hcrc = struct.unpack_from("<H", blob, p)[0]
            if hcrc != (zlib.crc32(blob[pos:p]) & 0xFFFF):
                raise ValueError("gzip header CRC mismatch")
            p += 2
        if p > len(blob):
            raise ValueError("truncated gzip optional fields")
        d = zlib.decompressobj(-15)
        try:
            data = d.decompress(blob[p:])
        except zlib.error as e:
            raise ValueError(f"bad deflate stream: {e}") from e
        if not d.eof:
            raise ValueError("truncated gzip deflate body")
        consumed = len(blob) - p - len(d.unused_data)
        trailer_at = p + consumed
        if trailer_at + 8 > len(blob):
            raise ValueError("truncated gzip trailer")
        crc, isize = struct.unpack_from("<II", blob, trailer_at)
        if crc != (zlib.crc32(data) & 0xFFFFFFFF):
            raise ValueError("gzip CRC32 mismatch")
        if isize != (len(data) & 0xFFFFFFFF):
            raise ValueError("gzip ISIZE mismatch")
        total_un += len(data)
        n += 1
        pos = trailer_at + 8
    if n == 0:
        raise ValueError("empty gzip blob")
    return {
        "n_members": n, "names": names, "mtime_first": mtime_first,
        "os_first": os_first, "total_uncompressed": total_un,
        "total_compressed": len(blob),
    }


def gzip_encode_member(data: bytes, name: str | None = None,
                       mtime: int = 0, os_byte: int = 3,
                       level: int = 6) -> bytes:
    """One RFC 1952 member written from the spec fields (header by
    hand, body via raw zlib deflate) — independent of stdlib gzip's
    writer so the walk is cross-checked against it in tests."""
    flg = _FNAME if name is not None else 0
    out = bytearray(b"\x1f\x8b\x08")
    out.append(flg)
    out.extend(struct.pack("<I", mtime))
    out.extend(bytes([0, os_byte]))
    if name is not None:
        out.extend(name.encode("latin-1") + b"\x00")
    co = zlib.compressobj(level, zlib.DEFLATED, -15)
    out.extend(co.compress(data) + co.flush())
    out.extend(struct.pack("<II", zlib.crc32(data) & 0xFFFFFFFF,
                           len(data) & 0xFFFFFFFF))
    return bytes(out)


# ------------------------------------------------------------------ zstd

_ZSTD_MAGIC = 0xFD2FB528
_SKIP_LO, _SKIP_HI = 0x184D2A50, 0x184D2A5F


def zstd_frames_walk(blob: bytes) -> dict:
    """{n_frames, n_skippable, content_size (sum of declared; NULL if
    any frame omits it), window_log, dict_id, has_checksum, n_blocks}
    — structure walk without decompression (RFC 8878 §3)."""
    pos = 0
    n_frames = n_skip = n_blocks = 0
    content_total = 0
    content_known = True
    window_log = dict_id = None
    has_checksum = False
    while pos < len(blob):
        if pos + 4 > len(blob):
            raise ValueError("truncated zstd magic")
        magic = struct.unpack_from("<I", blob, pos)[0]
        if _SKIP_LO <= magic <= _SKIP_HI:
            if pos + 8 > len(blob):
                raise ValueError("truncated skippable frame header")
            size = struct.unpack_from("<I", blob, pos + 4)[0]
            if pos + 8 + size > len(blob):
                raise ValueError("skippable frame overruns blob")
            n_skip += 1
            pos += 8 + size
            continue
        if magic != _ZSTD_MAGIC:
            raise ValueError("bad zstd magic")
        p = pos + 4
        if p >= len(blob):
            raise ValueError("truncated zstd frame header")
        fhd = blob[p]
        p += 1
        fcs_flag = fhd >> 6
        single = bool(fhd & 0x20)
        if fhd & 0x08:
            raise ValueError("zstd frame header reserved bit set")
        checksum = bool(fhd & 0x04)
        did_size = (0, 1, 2, 4)[fhd & 0x03]
        if not single:
            if p >= len(blob):
                raise ValueError("truncated zstd window descriptor")
            wd = blob[p]
            p += 1
            window_log = 10 + (wd >> 3)              # exponent part
        if did_size:
            if p + did_size > len(blob):
                raise ValueError("truncated zstd dict id")
            dict_id = int.from_bytes(blob[p:p + did_size], "little")
            p += did_size
        fcs_size = (
            (1 if single else 0), 2, 4, 8)[fcs_flag]
        if fcs_size:
            if p + fcs_size > len(blob):
                raise ValueError("truncated zstd content size")
            fcs = int.from_bytes(blob[p:p + fcs_size], "little")
            if fcs_size == 2:
                fcs += 256
            content_total += fcs
            p += fcs_size
        else:
            content_known = False
        # block chain
        while True:
            if p + 3 > len(blob):
                raise ValueError("truncated zstd block header")
            bh = int.from_bytes(blob[p:p + 3], "little")
            p += 3
            last = bh & 1
            btype = (bh >> 1) & 3
            bsize = bh >> 3
            if btype == 3:
                raise ValueError("zstd reserved block type")
            body = 1 if btype == 1 else bsize        # RLE stores 1 byte
            if p + body > len(blob):
                raise ValueError("zstd block overruns blob")
            p += body
            n_blocks += 1
            if last:
                break
        if checksum:
            if p + 4 > len(blob):
                raise ValueError("truncated zstd checksum")
            p += 4
            has_checksum = True
        n_frames += 1
        pos = p
    if n_frames == 0 and n_skip == 0:
        raise ValueError("empty zstd blob")
    return {
        "n_frames": n_frames, "n_skippable": n_skip,
        "content_size": content_total if content_known else None,
        "window_log": window_log, "dict_id": dict_id,
        "has_checksum": has_checksum, "n_blocks": n_blocks,
    }


def zstd_encode_raw_frame(data: bytes, *, with_size: bool = True,
                          checksum: bool = False,
                          block_size: int = 64,
                          dict_id: int = 0) -> bytes:
    """A spec-valid zstd frame whose blocks are all RAW (RFC 8878
    allows uncompressed blocks) — decodable by any real zstd, written
    here from the spec fields with no codec."""
    out = bytearray(struct.pack("<I", _ZSTD_MAGIC))
    did_flag = 0 if dict_id == 0 else (1 if dict_id < 256 else 2)
    fcs_flag = 0
    fhd = (0x20 if with_size else 0) | (0x04 if checksum else 0) | did_flag
    if with_size and len(data) > 255:
        fcs_flag = 1                                 # 2-byte fcs - 256
        fhd = (fcs_flag << 6) | (0x04 if checksum else 0) | did_flag
        single = False
    else:
        single = with_size
    out.append(fhd)
    if not single:
        out.append(0x58)                             # window_log 21
    if did_flag:
        out.extend(dict_id.to_bytes((0, 1, 2)[did_flag], "little"))
    if with_size:
        if fcs_flag == 1:
            out.extend((len(data) - 256).to_bytes(2, "little"))
        else:
            out.append(len(data) & 0xFF)
    chunks = [data[i:i + block_size]
              for i in range(0, len(data), block_size)] or [b""]
    for i, c in enumerate(chunks):
        last = 1 if i == len(chunks) - 1 else 0
        out.extend(((len(c) << 3) | last).to_bytes(3, "little"))
        out.extend(c)
    if checksum:
        out.extend(b"\x00\x00\x00\x00")              # xxh64 low bytes:
        # a real decoder would verify this; the WALK only skips it —
        # honest structure-only scope
    return bytes(out)


def zstd_skippable_frame(payload: bytes, nibble: int = 0) -> bytes:
    return (struct.pack("<I", _SKIP_LO + nibble)
            + struct.pack("<I", len(payload)) + payload)


# ------------------------------------------------------- spark plumbing

GZIP_META_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("n_members", T.IntegerType()),
    T.StructField("first_name", T.StringType()),
    T.StructField("mtime_first", T.LongType()),
    T.StructField("os_first", T.IntegerType()),
    T.StructField("total_uncompressed", T.LongType()),
    T.StructField("total_compressed", T.LongType()),
])

ZSTD_META_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("n_frames", T.IntegerType()),
    T.StructField("n_skippable", T.IntegerType()),
    T.StructField("content_size", T.LongType()),
    T.StructField("window_log", T.IntegerType()),
    T.StructField("dict_id", T.LongType()),
    T.StructField("has_checksum", T.BooleanType()),
    T.StructField("n_blocks", T.IntegerType()),
])


def gzip_metadata(media_df: DataFrame, id_col: str = "doc_id",
                  media_col: str = "media") -> DataFrame:
    def _row(blob: bytes) -> dict:
        m = gzip_members_walk(blob)
        return {**m, "first_name": m["names"][0] if m["names"] else None}

    return map_blobs(media_df, _row, GZIP_META_SCHEMA, id_col, media_col)


def zstd_metadata(media_df: DataFrame, id_col: str = "doc_id",
                  media_col: str = "media") -> DataFrame:
    return map_blobs(media_df, zstd_frames_walk, ZSTD_META_SCHEMA, id_col, media_col)


def synth_gzip_docs(ids_df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """gzip fixture, closed-form in doc_id ``d``: 1 + d%3 members;
    member ``m`` inflates to the deterministic text
    ``'doc {d} member {m} ' × (4 + (d+m)%5)``; FNAME 'm{m}.txt' on even
    members, mtime 1700000000 + d, OS byte 3 (unix)."""

    def _encode(d: int) -> bytes:
        out = bytearray()
        for m in range(1 + d % 3):
            data = (f"doc {d} member {m} "
                    * (4 + (d + m) % 5)).encode()
            out.extend(gzip_encode_member(
                data,
                name=f"m{m}.txt" if m % 2 == 0 else None,
                mtime=1_700_000_000 + d,
            ))
        return bytes(out)

    return synth_blobs(ids_df, _encode, id_col, rows_per_task=1024)


def synth_zstd_docs(ids_df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """zstd fixture, closed-form in doc_id ``d``: a skippable metadata
    frame on every 4th doc, then 1 + d%2 raw-block frames; frame
    content = ``'doc {d} frame {f} ' × (8 + d%7)`` (content size
    declared except on d%5==0), dict id 100 + d%50 on d%3==0,
    checksum on odd docs, 64-byte raw blocks."""

    def _encode(d: int) -> bytes:
        out = bytearray()
        if d % 4 == 0:
            out.extend(zstd_skippable_frame(
                f"meta {d}".encode(), nibble=d % 16))
        for f in range(1 + d % 2):
            data = (f"doc {d} frame {f} " * (8 + d % 7)).encode()
            out.extend(zstd_encode_raw_frame(
                data,
                with_size=d % 5 != 0,
                checksum=d % 2 == 1,
                dict_id=(100 + d % 50) if d % 3 == 0 else 0,
            ))
        return bytes(out)

    return synth_blobs(ids_df, _encode, id_col, rows_per_task=1024)
