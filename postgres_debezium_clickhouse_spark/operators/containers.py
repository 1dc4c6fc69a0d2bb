"""ZIP container walk + Office/EPUB document metadata, pure stdlib
(r16) — the office-document slice of crawl data (docx/xlsx/pptx are
OPC zips, epub is a zip with a ``mimetype`` member), triaged without a
document renderer.

``zip_walk`` implements the public PKWARE APPNOTE structures: locate
the End-Of-Central-Directory record (scan of the last 64 KB —
comments), walk the central directory (method/sizes/CRC/name per
entry), and read individual members through their local headers
(stored + deflate via zlib; the CD sizes are authoritative — local
headers may carry zeros with a data descriptor).  ``office_meta``
classifies the container (docx/xlsx/pptx by their OPC part names, epub
by the stored ``mimetype`` member, plain zip otherwise) and extracts
Dublin-Core ``docProps/core.xml`` title/creator with a namespace-
tolerant regex (the XML is machine-generated OPC; no full XML parser
needed for two leaf elements).

Honest scope: encrypted members and compression methods other than
stored/deflate raise ``NotImplementedError`` (dead-letter class);
multi-disk archives raise ``ValueError``.  ZIP64 is fully supported
(APPNOTE §4.3.14/§4.5.3: ZIP64 EOCD record + locator, per-entry
0x0001 extra-field sizes) — real xlsx/pptx dumps cross 4 GB and
stdlib ``zipfile`` emits ZIP64 whenever asked (``force_zip64``).  Corrupt structure raises
``ValueError`` (exception-normalized like every media walk).

Scale: per-blob byte-bounded walk in ``mapInPandas`` — no shuffle; the
fixture ENCODER is the stdlib ``zipfile`` module itself (fixed
timestamps), so the decoder is checked against an independent public
writer, not a self round-trip.
"""

from __future__ import annotations

from ._pipe import map_blobs, synth_blobs

import io
import re
import struct
import zipfile
import zlib

from pyspark.sql import DataFrame
from pyspark.sql import types as T

_EOCD = b"PK\x05\x06"
_EOCD64 = b"PK\x06\x06"
_EOCD64_LOC = b"PK\x06\x07"
_CDH = b"PK\x01\x02"
_LFH = b"PK\x03\x04"


def zip_walk(blob: bytes) -> dict:
    """{n_members, members: [{name, method, usize, csize, crc}]} from
    the central directory (the authoritative index — data descriptors
    never confuse it).  The EOCD scan is STRICT (r17): every candidate
    must run exactly to end-of-blob per its comment length, so a
    comment containing the EOCD signature cannot empty the archive —
    and, deliberately, trailing junk appended past the EOCD now
    dead-letters as ValueError instead of being silently ignored."""
    try:
        return _zip_walk_impl(blob)
    except (ValueError, NotImplementedError):
        raise
    except (IndexError, KeyError, struct.error, OverflowError,
            UnicodeDecodeError) as e:
        raise ValueError(f"corrupt ZIP ({type(e).__name__})") from e


def _find_eocd(blob: bytes) -> int:
    """Backward scan for a VALIDATED EOCD record.  A bare rfind is
    wrong: archive comments are arbitrary bytes and may contain the
    4-byte signature (spec-legal), so every candidate is checked like
    stdlib zipfile — the stated comment length must run exactly to
    end-of-blob, and (ZIP64 sentinels aside) the central directory
    must fit strictly before the record.  On failure, keep scanning
    backwards for an earlier candidate."""
    tail_start = max(0, len(blob) - 65557)
    pos = blob.rfind(_EOCD, tail_start)
    while pos >= 0:
        e = blob[pos:pos + 22]
        if len(e) == 22:
            cd_size, cd_off, clen = struct.unpack("<IIH", e[12:22])
            sentinel = cd_off == 0xFFFFFFFF or cd_size == 0xFFFFFFFF
            if pos + 22 + clen == len(blob) and (
                sentinel or cd_off + cd_size <= pos
            ):
                return pos
        pos = blob.rfind(_EOCD, tail_start, pos)
    raise ValueError("not a ZIP (no valid end-of-central-directory)")


def _zip64_extra(extra: bytes, usize: int, csize: int, loc_off: int) -> tuple:
    """Resolve per-entry ZIP64 sentinels from the 0x0001 extra field
    (APPNOTE §4.5.3: only the sentinel-valued fields are present, in
    fixed order uncompressed, compressed, local-header offset)."""
    q = 0
    while q + 4 <= len(extra):
        hid, hsz = struct.unpack("<HH", extra[q:q + 4])
        if hid == 0x0001:
            body = extra[q + 4:q + 4 + hsz]
            b = 0
            if usize == 0xFFFFFFFF:
                usize = struct.unpack("<Q", body[b:b + 8])[0]
                b += 8
            if csize == 0xFFFFFFFF:
                csize = struct.unpack("<Q", body[b:b + 8])[0]
                b += 8
            if loc_off == 0xFFFFFFFF:
                loc_off = struct.unpack("<Q", body[b:b + 8])[0]
                b += 8
            return usize, csize, loc_off
        q += 4 + hsz
    raise ValueError("ZIP64 sentinel without ZIP64 extra field")


def _zip_walk_impl(blob: bytes) -> dict:
    eocd_off = _find_eocd(blob)
    (disk, cd_disk, n_disk, n_total, cd_size,
     cd_off, _clen) = struct.unpack("<HHHHIIH", blob[eocd_off + 4:eocd_off + 22])
    if n_total == 0xFFFF or cd_off == 0xFFFFFFFF or cd_size == 0xFFFFFFFF:
        # ZIP64 (APPNOTE §4.3.14-15): a 20-byte locator immediately
        # precedes the EOCD and points at the 56-byte ZIP64 EOCD record
        loc = eocd_off - 20
        if loc < 0 or blob[loc:loc + 4] != _EOCD64_LOC:
            raise ValueError("ZIP64 sentinel without ZIP64 EOCD locator")
        l_disk, e64_off, l_ndisks = struct.unpack("<IQI", blob[loc + 4:loc + 20])
        if l_disk != 0 or l_ndisks != 1:
            raise ValueError("multi-disk ZIP archives not supported")
        if blob[e64_off:e64_off + 4] != _EOCD64 or e64_off + 56 > len(blob):
            raise ValueError("bad ZIP64 end-of-central-directory record")
        (_rsz, _vm, _vn, disk, cd_disk, n_disk, n_total,
         cd_size, cd_off) = struct.unpack("<QHHIIQQQQ", blob[e64_off + 4:e64_off + 56])
    if disk != 0 or cd_disk != 0 or n_disk != n_total:
        raise ValueError("multi-disk ZIP archives not supported")
    members = []
    p = cd_off
    for _ in range(n_total):
        if blob[p:p + 4] != _CDH:
            raise ValueError("bad ZIP central-directory entry")
        (flags, method, _t, _d, crc, csize, usize,
         nlen, xlen, clen) = struct.unpack("<HHHHIIIHHH", blob[p + 8:p + 34])
        loc_off = struct.unpack("<I", blob[p + 42:p + 46])[0]
        name = blob[p + 46:p + 46 + nlen].decode(
            "utf-8" if flags & 0x800 else "cp437"
        )
        if flags & 0x0001:
            raise NotImplementedError("encrypted ZIP member")
        if 0xFFFFFFFF in (csize, usize, loc_off):
            usize, csize, loc_off = _zip64_extra(
                blob[p + 46 + nlen:p + 46 + nlen + xlen], usize, csize, loc_off
            )
        members.append({
            "name": name, "method": method, "usize": usize,
            "csize": csize, "crc": crc, "_off": loc_off,
        })
        p += 46 + nlen + xlen + clen
    return {"n_members": n_total, "members": members}


def zip_read_member(blob: bytes, member: dict) -> bytes:
    """One member's bytes via its local header (CD sizes authoritative;
    CRC verified — a silent bad inflate never escapes).  Exception-
    normalized like ``zip_walk`` (r16 review: a truncated local header
    raised raw struct.error past dead-letter catches)."""
    try:
        return _zip_read_member_impl(blob, member)
    except (ValueError, NotImplementedError):
        raise
    except (IndexError, KeyError, struct.error, OverflowError) as e:
        raise ValueError(f"corrupt ZIP member ({type(e).__name__})") from e


def _zip_read_member_impl(blob: bytes, member: dict) -> bytes:
    off = member["_off"]
    if blob[off:off + 4] != _LFH:
        raise ValueError("bad ZIP local header")
    nlen, xlen = struct.unpack("<HH", blob[off + 26:off + 30])
    start = off + 30 + nlen + xlen
    raw = blob[start:start + member["csize"]]
    if len(raw) != member["csize"]:
        raise ValueError("truncated ZIP member data")
    if member["method"] == 0:
        data = raw
    elif member["method"] == 8:
        try:
            data = zlib.decompress(raw, -15)
        except zlib.error as exc:
            raise ValueError(f"bad ZIP deflate member: {exc}") from exc
    else:
        raise NotImplementedError(f"ZIP compression method {member['method']}")
    if len(data) != member["usize"] or (zlib.crc32(data) & 0xFFFFFFFF) != member["crc"]:
        raise ValueError("ZIP member size/CRC mismatch")
    return data


_DC_TITLE = re.compile(rb"<dc:title[^>]*>(.*?)</dc:title>", re.S)
_DC_CREATOR = re.compile(rb"<dc:creator[^>]*>(.*?)</dc:creator>", re.S)


def office_meta(blob: bytes) -> dict:
    """Container classification + Dublin-Core properties:
    kind ∈ {docx, xlsx, pptx, epub, zip} by OPC part names / the stored
    epub ``mimetype`` member; title/creator from ``docProps/core.xml``
    when present."""
    walk = zip_walk(blob)
    names = {m["name"]: m for m in walk["members"]}
    kind = "zip"
    if "mimetype" in names:
        mt = zip_read_member(blob, names["mimetype"])
        if mt.strip() == b"application/epub+zip":
            kind = "epub"
    if "[Content_Types].xml" in names:
        if "word/document.xml" in names:
            kind = "docx"
        elif "xl/workbook.xml" in names:
            kind = "xlsx"
        elif "ppt/presentation.xml" in names:
            kind = "pptx"
    title = creator = None
    dc_source = None
    if "docProps/core.xml" in names:
        dc_source = zip_read_member(blob, names["docProps/core.xml"])
    elif kind == "epub":
        # EPUB metadata lives in the OPF package document (also
        # Dublin-Core dc:title/dc:creator — the same two leaf elements)
        opf = next((n for n in names if n.endswith(".opf")), None)
        if opf is not None:
            dc_source = zip_read_member(blob, names[opf])
    if dc_source is not None:
        mt = _DC_TITLE.search(dc_source)
        mc = _DC_CREATOR.search(dc_source)
        title = mt.group(1).decode("utf-8", "replace") if mt else None
        creator = mc.group(1).decode("utf-8", "replace") if mc else None
    return {
        "format": kind,
        "n_members": walk["n_members"],
        "members": walk["members"],
        "title": title,
        "creator": creator,
    }


OFFICE_META_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("kind", T.StringType()),
    T.StructField("n_members", T.IntegerType()),
    T.StructField("payload_bytes", T.LongType()),
    T.StructField("title", T.StringType()),
    T.StructField("creator", T.StringType()),
])


def office_metadata(media_df: DataFrame, id_col: str = "doc_id",
                    media_col: str = "media") -> DataFrame:
    """``office_meta`` over a binary column via ``mapInPandas`` — one
    typed row per container (``payload_bytes`` = Σ uncompressed size of
    the ``f*.txt`` payload members, CRC-verified)."""

    def _row(blob: bytes) -> dict:
        m = office_meta(blob)
        payload = sum(
            e["usize"] for e in m["members"]
            if e["name"].startswith("f") and e["name"].endswith(".txt")
        )
        return {**m, "kind": m["format"], "payload_bytes": payload}

    return map_blobs(media_df, _row, OFFICE_META_SCHEMA, id_col, media_col)


def synth_office_docs(ids_df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Office-container fixture written by the INDEPENDENT stdlib
    ``zipfile`` writer (fixed timestamps), closed-form in doc_id ``d``:
    kind by d%4 (docx/xlsx/epub/plain zip), 1 + d%3 deflated payload
    members of exactly 10 + (d+j)%5 bytes each, docProps/core.xml
    title 'off d' / creator 'user d%5' on the OPC kinds."""

    def _encode(d: int) -> bytes:
        kind = d % 4
        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w") as zf:
            def put(name, data, method=zipfile.ZIP_DEFLATED):
                zi = zipfile.ZipInfo(name, (2026, 1, 1, 0, 0, 0))
                zi.compress_type = method
                zf.writestr(zi, data)

            core = (
                "<cp:coreProperties xmlns:dc='x'>"
                f"<dc:title>off {d}</dc:title>"
                f"<dc:creator>user {d % 5}</dc:creator>"
                "</cp:coreProperties>"
            )
            if kind == 0:
                put("[Content_Types].xml", "<Types/>")
                put("word/document.xml", "<w:document/>")
                put("docProps/core.xml", core)
            elif kind == 1:
                put("[Content_Types].xml", "<Types/>")
                put("xl/workbook.xml", "<workbook/>")
                put("docProps/core.xml", core)
            elif kind == 2:
                put("mimetype", "application/epub+zip",
                    zipfile.ZIP_STORED)
                put("META-INF/container.xml", "<container/>")
                put("OEBPS/content.opf",
                    "<package><metadata>"
                    f"<dc:title>off {d}</dc:title>"
                    f"<dc:creator>user {d % 5}</dc:creator>"
                    "</metadata></package>")
            for j in range(1 + d % 3):
                put(f"f{j}.txt", "x" * (10 + (d + j) % 5))
        return buf.getvalue()

    return synth_blobs(ids_df, _encode, id_col, rows_per_task=256)
