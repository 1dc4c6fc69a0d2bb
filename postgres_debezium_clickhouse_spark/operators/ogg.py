"""Ogg container metadata walk, pure stdlib (r18) — the one common
crawl AUDIO container that had zero triage (MP3/FLAC/WAV/AIFF/MP4-audio
all have walks; Vorbis/Opus podcasts and older web audio were
invisible).  Reference parity note: the reference pipeline
(`/root/reference/basic_example/clickhouse.sql`) has no media path at
all — this is part of the adjacent LLM-training-pipeline surface.

Public sources: RFC 3533 (the Ogg encapsulation spec: page structure,
lacing, granule positions), the Vorbis I specification (xiph.org:
identification + comment headers), RFC 7845 (Ogg Opus: OpusHead /
OpusTags).  The vorbis-comment tag block is the same wire format the
FLAC walk already lexes (``audio.py`` VORBIS_COMMENT).

Page grammar (RFC 3533 §6): ``OggS`` capture, version 0, header-type
flags (0x01 continued / 0x02 BOS / 0x04 EOS), 64-bit LE granule
position, 32-bit LE serial, 32-bit LE sequence, 32-bit LE CRC (poly
0x04C11DB7, init 0, no reflection, no final xor, computed with the CRC
field zeroed), segment count, lacing values (255 = packet continues;
<255 terminates — a packet whose length is a multiple of 255 ends with
a 0 lacing value).  Packets are reassembled ACROSS pages via the
continuation flag, so oversized comment headers spanning pages decode.

Duration: the stream's last granule position — PCM sample count for
Vorbis (÷ sample rate); 48 kHz ticks minus pre-skip for Opus
(RFC 7845 §4).

Dead-letter classes: corrupt structure (bad capture/version, CRC
mismatch, truncated page, malformed headers) raises ``ValueError``;
chained or grouped (multiplexed) physical streams and non-Vorbis/Opus
codecs (Theora, Speex, FLAC-in-Ogg …) raise ``NotImplementedError`` —
honest scope, not corruption.

Scale: per-blob byte-bounded walk in ``mapInPandas`` — no shuffle.
"""

from __future__ import annotations

from ._pipe import map_blobs, synth_blobs

import struct

from pyspark.sql import DataFrame
from pyspark.sql import types as T

# the comment-block lexer is SHARED with the FLAC walk — one
# implementation of the xiph wire format (r18 self-review)
from .audio import parse_vorbis_comments as _parse_vorbis_comments

# ------------------------------------------------------------- page CRC

_CRC_POLY = 0x04C11DB7


def _make_crc_table() -> list[int]:
    table = []
    for i in range(256):
        r = i << 24
        for _ in range(8):
            r = ((r << 1) ^ _CRC_POLY) if r & 0x80000000 else (r << 1)
            r &= 0xFFFFFFFF
        table.append(r)
    return table


_CRC_TABLE = _make_crc_table()


def ogg_page_crc(page: bytes) -> int:
    """RFC 3533 §6 page checksum: MSB-first CRC-32, poly 0x04C11DB7,
    init 0, no final xor, over the page with the CRC field zeroed."""
    crc = 0
    for b in page:
        crc = ((crc << 8) ^ _CRC_TABLE[((crc >> 24) & 0xFF) ^ b]) \
            & 0xFFFFFFFF
    return crc


# ------------------------------------------------------------ page walk

def _read_page(blob: bytes, pos: int) -> tuple[dict, int]:
    if blob[pos:pos + 4] != b"OggS":
        raise ValueError("bad Ogg capture pattern")
    if pos + 27 > len(blob):
        raise ValueError("truncated Ogg page header")
    version = blob[pos + 4]
    if version != 0:
        raise ValueError(f"unsupported Ogg version {version}")
    flags = blob[pos + 5]
    granule, serial, seq, crc = struct.unpack_from("<qIII", blob, pos + 6)
    nsegs = blob[pos + 26]
    lace_end = pos + 27 + nsegs
    if lace_end > len(blob):
        raise ValueError("truncated Ogg segment table")
    lacing = blob[pos + 27:lace_end]
    body_len = sum(lacing)
    end = lace_end + body_len
    if end > len(blob):
        raise ValueError("truncated Ogg page body")
    page = bytearray(blob[pos:end])
    page[22:26] = b"\x00\x00\x00\x00"
    if ogg_page_crc(bytes(page)) != crc:
        raise ValueError("Ogg page CRC mismatch")
    return {
        "flags": flags, "granule": granule, "serial": serial, "seq": seq,
        "lacing": lacing, "body": blob[lace_end:end],
    }, end


def _page_packets(lacing: bytes, body: bytes) -> tuple[list[bytes], bytes, bool]:
    """(complete packet segments, trailing unterminated tail, ends_open).

    A lacing value of 255 means the packet continues; the page's last
    lacing value being 255 means it continues onto the NEXT page."""
    packets: list[bytes] = []
    cur = bytearray()
    off = 0
    open_tail = False
    for i, lv in enumerate(lacing):
        cur.extend(body[off:off + lv])
        off += lv
        if lv < 255:
            packets.append(bytes(cur))
            cur = bytearray()
        elif i == len(lacing) - 1:
            open_tail = True
    return packets, bytes(cur), open_tail


def ogg_meta_walk(blob: bytes) -> dict:
    """One logical Ogg stream → codec identification + tags + duration.

    Packets are reassembled across pages (continuation flag + 255
    lacing), every page CRC-verified.  See the module docstring for the
    dead-letter contract."""
    pos = 0
    pages: list[dict] = []
    serial = None
    saw_eos = False
    while pos < len(blob):
        page, pos = _read_page(blob, pos)
        if page["flags"] & 0x02:                     # BOS
            if serial is not None:
                raise NotImplementedError(
                    "chained or grouped (multiplexed) Ogg stream"
                )
            serial = page["serial"]
        elif serial is None:
            raise ValueError("Ogg data before first BOS page")
        elif page["serial"] != serial:
            raise NotImplementedError(
                "chained or grouped (multiplexed) Ogg stream"
            )
        if saw_eos:
            raise ValueError("Ogg page after EOS")
        if page["flags"] & 0x04:
            saw_eos = True
        pages.append(page)
    if not pages:
        raise ValueError("empty Ogg stream")

    # packet reassembly across pages
    packets: list[bytes] = []
    tail = b""
    open_tail = False
    max_granule = None
    for i, page in enumerate(pages):
        continued = bool(page["flags"] & 0x01)
        if continued != open_tail:
            raise ValueError("Ogg continuation flag inconsistent "
                             "with lacing state")
        done, new_tail, open_tail = _page_packets(
            page["lacing"], page["body"])
        if done:
            done[0] = tail + done[0]
            packets.extend(done)
            tail = new_tail
        else:
            tail = tail + new_tail
        if page["granule"] != -1 and (page["lacing"] and not open_tail
                                      or page["flags"] & 0x04):
            if max_granule is None or page["granule"] > max_granule:
                max_granule = page["granule"]
    if open_tail or tail:
        raise ValueError("Ogg stream ends mid-packet")
    if not packets:
        raise ValueError("Ogg stream with no packets")

    ident = packets[0]
    if ident.startswith(b"\x01vorbis"):
        if len(ident) < 30:
            raise ValueError("truncated Vorbis identification header")
        version = int.from_bytes(ident[7:11], "little")
        if version != 0:
            raise ValueError(f"unsupported Vorbis version {version}")
        channels = ident[11]
        sample_rate = int.from_bytes(ident[12:16], "little")
        if channels == 0 or sample_rate == 0:
            raise ValueError("Vorbis channels/sample rate 0")
        if len(packets) < 2 or not packets[1].startswith(b"\x03vorbis"):
            raise ValueError("missing Vorbis comment header")
        tags = _parse_vorbis_comments(packets[1][7:], "vorbis")
        dur = (max_granule * 1000 // sample_rate
               if max_granule and max_granule > 0 else 0)
        return {
            "codec": "vorbis", "channels": channels,
            "sample_rate": sample_rate, "pre_skip": None,
            "duration_ms": dur, "tags": tags, "page_count": len(pages),
        }
    if ident.startswith(b"OpusHead"):
        if len(ident) < 19:
            raise ValueError("truncated OpusHead")
        version = ident[8]
        if version >> 4 != 0:                        # RFC 7845 §5.1
            raise ValueError(f"unsupported Opus version {version}")
        channels = ident[9]
        pre_skip = int.from_bytes(ident[10:12], "little")
        input_rate = int.from_bytes(ident[12:16], "little")
        mapping_family = ident[18]
        if mapping_family != 0 and len(ident) < 21 + channels:
            raise ValueError("truncated Opus channel mapping table")
        if channels == 0:
            raise ValueError("Opus channels 0")
        if len(packets) < 2 or not packets[1].startswith(b"OpusTags"):
            raise ValueError("missing OpusTags header")
        tags = _parse_vorbis_comments(packets[1][8:], "opus")
        # RFC 7845 §4: granule is 48 kHz ticks INCLUSIVE of pre-skip
        ticks = max((max_granule or 0) - pre_skip, 0)
        return {
            "codec": "opus", "channels": channels,
            "sample_rate": input_rate, "pre_skip": pre_skip,
            "duration_ms": ticks * 1000 // 48000, "tags": tags,
            "page_count": len(pages),
        }
    raise NotImplementedError(
        "unsupported Ogg codec (not Vorbis or Opus)"
    )


# -------------------------------------------------------------- fixture

def _lace(n: int) -> bytes:
    """Lacing values for one packet of length n (255-run + terminator;
    a 255-multiple length requires an explicit 0 terminator)."""
    return b"\xff" * (n // 255) + bytes([n % 255])


def _page(serial: int, seq: int, granule: int, flags: int,
          lacing: bytes, body: bytes) -> bytes:
    hdr = bytearray(b"OggS\x00")
    hdr.append(flags)
    hdr.extend(struct.pack("<qIII", granule, serial, seq, 0))
    hdr.append(len(lacing))
    hdr.extend(lacing)
    page = bytes(hdr) + body
    crc = ogg_page_crc(page)
    return page[:22] + struct.pack("<I", crc) + page[26:]


def ogg_encode_fixture(
    codec: str,
    sample_rate: int,
    channels: int,
    duration_granules: int,
    tags: "dict[str, str] | None" = None,
    pre_skip: int = 312,
    vendor: str = "pdc-spark",
    split_comment: bool = False,
) -> bytes:
    """Spec-shaped single-stream Ogg file: BOS page (identification
    header), comment-header page(s), and an EOS data page whose granule
    carries the duration.  ``split_comment`` forces the comment packet
    across two pages via the continuation flag (the cross-page
    reassembly path).  ``duration_granules`` is the LAST granule
    position: PCM samples for vorbis; 48 kHz ticks including pre-skip
    for opus."""
    if codec == "vorbis":
        ident = (b"\x01vorbis" + (0).to_bytes(4, "little")
                 + bytes([channels]) + sample_rate.to_bytes(4, "little")
                 + (0).to_bytes(4, "little") * 3 + b"\xb8\x01")
        comment_magic = b"\x03vorbis"
        comment_tail = b"\x01"                       # framing bit
    elif codec == "opus":
        ident = (b"OpusHead" + bytes([1, channels])
                 + pre_skip.to_bytes(2, "little")
                 + sample_rate.to_bytes(4, "little")
                 + (0).to_bytes(2, "little") + b"\x00")
        comment_magic = b"OpusTags"
        comment_tail = b""
    else:
        raise ValueError(f"fixture codec {codec!r}")
    vb = vendor.encode()
    comment = bytearray(comment_magic)
    comment.extend(len(vb).to_bytes(4, "little"))
    comment.extend(vb)
    entries = [f"{k}={v}".encode() for k, v in (tags or {}).items()]
    comment.extend(len(entries).to_bytes(4, "little"))
    for e in entries:
        comment.extend(len(e).to_bytes(4, "little"))
        comment.extend(e)
    comment.extend(comment_tail)
    comment = bytes(comment)

    serial = (sample_rate * 31 + channels) & 0xFFFFFFFF
    out = bytearray()
    out.extend(_page(serial, 0, 0, 0x02, _lace(len(ident)), ident))
    if split_comment:
        if len(comment) < 256:
            comment = comment[:-1] if comment_tail else comment
            raise ValueError("split_comment needs a >255-byte comment "
                             "packet (add a long vendor/tag)")
        head, rest = comment[:255], comment[255:]
        out.extend(_page(serial, 1, -1, 0x00, b"\xff", head))
        out.extend(_page(serial, 2, 0, 0x01, _lace(len(rest)), rest))
        next_seq = 3
    else:
        out.extend(_page(serial, 1, 0, 0x00, _lace(len(comment)), comment))
        next_seq = 2
    data = bytes((7 * i + 3) % 256 for i in range(20))
    out.extend(_page(serial, next_seq, duration_granules, 0x04,
                     _lace(len(data)), data))
    return bytes(out)


# ------------------------------------------------------- spark plumbing

OGG_META_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("codec", T.StringType()),
    T.StructField("channels", T.IntegerType()),
    T.StructField("sample_rate", T.IntegerType()),
    T.StructField("pre_skip", T.IntegerType()),
    T.StructField("duration_ms", T.LongType()),
    T.StructField("page_count", T.IntegerType()),
    T.StructField("title", T.StringType()),
    T.StructField("artist", T.StringType()),
])


def ogg_metadata(media_df: DataFrame, id_col: str = "doc_id",
                 media_col: str = "media") -> DataFrame:
    """``ogg_meta_walk`` over a binary column via ``mapInPandas`` — no
    shuffle, one typed row per blob (the mp3/flac/mp4 metadata twin)."""

    def _row(blob: bytes) -> dict:
        m = ogg_meta_walk(blob)
        return {**m, "title": m["tags"].get("TITLE"), "artist": m["tags"].get("ARTIST")}

    return map_blobs(media_df, _row, OGG_META_SCHEMA, id_col, media_col)


def synth_ogg_docs(ids_df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Ogg fixture, closed-form in doc_id ``d``:

    - codec: vorbis when d%2=0 else opus
    - channels: 1 + d%2
    - vorbis: rate [8000, 44100, 48000][d%3], granule rate/2·(1+d%7)
      → duration exactly 500·(1+d%7) ms
    - opus: input rate [48000, 44100, 16000][d%3], pre-skip
      312 + 100·(d%4), granule pre_skip + 960·(1+d%9) → duration
      exactly 20·(1+d%9) ms
    - tags TITLE='ogg {d}', ARTIST='artist {d%5}' when d%3=0
    - every 5th doc: >255-byte comment packet (long vendor) split
      across two pages with the continuation flag → page_count 4,
      else 3
    """

    def _encode(d: int) -> bytes:
        split = d % 5 == 0
        tags = ({"TITLE": f"ogg {d}", "ARTIST": f"artist {d % 5}"}
                if d % 3 == 0 else None)
        vendor = ("pdc-spark" + "x" * 300) if split else "pdc-spark"
        if d % 2 == 0:
            rate = [8000, 44100, 48000][d % 3]
            return ogg_encode_fixture(
                "vorbis", rate, 1 + d % 2,
                (rate // 2) * (1 + d % 7),
                tags=tags, vendor=vendor, split_comment=split,
            )
        pre = 312 + 100 * (d % 4)
        return ogg_encode_fixture(
            "opus", [48000, 44100, 16000][d % 3], 1 + d % 2,
            pre + 960 * (1 + d % 9), tags=tags,
            pre_skip=pre, vendor=vendor, split_comment=split,
        )

    return synth_blobs(ids_df, _encode, id_col, rows_per_task=256)
