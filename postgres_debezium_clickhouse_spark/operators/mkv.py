"""WebM/Matroska (EBML) metadata walk, pure stdlib (r17) — the second
half of the crawl video-triage story next to ``operators/mp4.py``: the
r16 verdict named "mp4/webm dead-letter with no metadata extracted";
MP4 got its walk, this closes webm/mkv.

EBML (the public Matroska/WebM spec) is a tree of
``element-id  size  payload`` records where BOTH id and size are
variable-length integers: the number of leading zero bits of the first
byte gives the width; the id KEEPS its length-marker bit, the size
DROPS it.  The walk reads:

- EBML header: ``DocType`` (webm / matroska)
- ``Segment/Info``: ``TimestampScale`` (ns per tick, default 1_000_000)
  and ``Duration`` (a FLOAT, in ticks) → exact declared duration in ms
- ``Segment/Tracks``: per ``TrackEntry`` the ``TrackType`` (1=video,
  2=audio), ``CodecID`` (V_VP8/V_VP9/V_AV1, A_OPUS/A_VORBIS …), and
  the ``Video`` child's ``PixelWidth``/``PixelHeight``

Clusters (the media data) are never opened — the walk stops at the
first Cluster, so cost is bounded by the header size, not the file.

Dead-letter classes: corrupt structure (bad magic, varint overruns,
element overruns, missing Info/Tracks) raises ``ValueError``; encrypted
tracks (``ContentEncryption`` present under ``ContentEncodings``)
raise ``NotImplementedError``.  Unknown-size elements (streamed
Matroska, size all-ones) are honest ``NotImplementedError`` too —
resolving them needs child-driven termination this triage pass does
not implement.

Scale: per-blob byte-bounded walk in ``mapInPandas`` — no shuffle.
"""

from __future__ import annotations

from ._pipe import map_blobs, synth_blobs

import struct

from pyspark.sql import DataFrame
from pyspark.sql import types as T

# EBML element ids (public Matroska registry), with their marker bits
_EBML = 0x1A45DFA3
_DOCTYPE = 0x4282
_SEGMENT = 0x18538067
_INFO = 0x1549A966
_TIMESTAMP_SCALE = 0x2AD7B1
_DURATION = 0x4489
_TRACKS = 0x1654AE6B
_TRACK_ENTRY = 0xAE
_TRACK_TYPE = 0x83
_CODEC_ID = 0x86
_VIDEO = 0xE0
_PIXEL_W = 0xB0
_PIXEL_H = 0xBA
_AUDIO = 0xE1
_CLUSTER = 0x1F43B675
_CONTENT_ENCODINGS = 0x6D80
_CONTENT_ENCRYPTION = 0x5035


def _vint(b: bytes, p: int, keep_marker: bool) -> tuple[int, int]:
    """One EBML varint at p → (value, next_pos)."""
    if p >= len(b):
        raise ValueError("truncated EBML varint")
    first = b[p]
    if first == 0:
        raise ValueError("invalid EBML varint (zero lead byte)")
    width = 8 - first.bit_length() + 1
    if p + width > len(b):
        raise ValueError("EBML varint overruns blob")
    val = first if keep_marker else first & (0xFF >> width)
    for i in range(1, width):
        val = (val << 8) | b[p + i]
    if not keep_marker and val == (1 << (7 * width)) - 1:
        raise NotImplementedError("unknown-size EBML element (streamed)")
    return val, p + width


def _elements(b: bytes, start: int, end: int):
    p = start
    while p < end:
        eid, q = _vint(b, p, keep_marker=True)
        size, r = _vint(b, q, keep_marker=False)
        if r + size > end:
            raise ValueError("EBML element overruns container")
        yield eid, r, r + size
        p = r + size


def _uint(b: bytes, ps: int, pe: int) -> int:
    return int.from_bytes(b[ps:pe], "big")


def _float(b: bytes, ps: int, pe: int) -> float:
    n = pe - ps
    if n == 4:
        return struct.unpack(">f", b[ps:pe])[0]
    if n == 8:
        return struct.unpack(">d", b[ps:pe])[0]
    raise ValueError("bad EBML float width")


def mkv_meta_walk(blob: bytes) -> dict:
    """{doctype, timescale_ns, duration_ms, n_tracks, video_codec,
    audio_codec, width, height} from the EBML tree."""
    try:
        return _mkv_meta_walk_impl(blob)
    except (ValueError, NotImplementedError):
        raise
    except (IndexError, KeyError, struct.error, OverflowError,
            UnicodeDecodeError) as e:
        raise ValueError(f"corrupt EBML ({type(e).__name__})") from e


def _mkv_meta_walk_impl(blob: bytes) -> dict:
    if blob[:4] != b"\x1aE\xdf\xa3":
        raise ValueError("not an EBML file (bad magic)")
    doctype = None
    segment = None
    for eid, ps, pe in _elements(blob, 0, len(blob)):
        if eid == _EBML:
            for cid, cs, ce in _elements(blob, ps, pe):
                if cid == _DOCTYPE:
                    doctype = blob[cs:ce].rstrip(b"\x00").decode("ascii")
        elif eid == _SEGMENT:
            segment = (ps, pe)
            break
    if doctype is None:
        raise ValueError("EBML header has no DocType")
    if segment is None:
        raise ValueError("EBML file has no Segment")

    timescale = 1_000_000                           # spec default (ns)
    duration_ticks = None
    n_tracks = 0
    video_codec = audio_codec = None
    width = height = None
    for eid, ps, pe in _elements(blob, segment[0], segment[1]):
        if eid == _CLUSTER:
            break                                   # media data: stop
        if eid == _INFO:
            for cid, cs, ce in _elements(blob, ps, pe):
                if cid == _TIMESTAMP_SCALE:
                    timescale = _uint(blob, cs, ce)
                elif cid == _DURATION:
                    duration_ticks = _float(blob, cs, ce)
        elif eid == _TRACKS:
            for cid, cs, ce in _elements(blob, ps, pe):
                if cid != _TRACK_ENTRY:
                    continue
                n_tracks += 1
                ttype = codec = None
                tw = th = None
                for tid, ts_, te_ in _elements(blob, cs, ce):
                    if tid == _TRACK_TYPE:
                        ttype = _uint(blob, ts_, te_)
                    elif tid == _CODEC_ID:
                        codec = blob[ts_:te_].rstrip(b"\x00").decode("ascii")
                    elif tid == _VIDEO:
                        for vid, vs, ve in _elements(blob, ts_, te_):
                            if vid == _PIXEL_W:
                                tw = _uint(blob, vs, ve)
                            elif vid == _PIXEL_H:
                                th = _uint(blob, vs, ve)
                    elif tid == _CONTENT_ENCODINGS:
                        for eid2, es, ee in _elements(blob, ts_, te_):
                            if eid2 != 0x6240:      # ContentEncoding
                                continue
                            for eid3, _fs, _fe in _elements(blob, es, ee):
                                if eid3 == _CONTENT_ENCRYPTION:
                                    raise NotImplementedError(
                                        "encrypted Matroska track")
                if ttype == 1 and video_codec is None:
                    # FIRST video track wins as a unit — codec and dims
                    # must come from the same TrackEntry (a trailing
                    # thumbnail track must not overwrite the dims)
                    video_codec = codec
                    width, height = tw, th
                elif ttype == 2 and audio_codec is None:
                    audio_codec = codec
    if timescale == 0:
        raise ValueError("zero TimestampScale")
    if n_tracks == 0:
        raise ValueError("Matroska Segment has no Tracks")
    duration_ms = (None if duration_ticks is None
                   else int(duration_ticks * timescale / 1_000_000))
    return {
        "format": "webm" if doctype == "webm" else "mkv",
        "doctype": doctype,
        "timescale_ns": timescale,
        "duration_ms": duration_ms,
        "n_tracks": n_tracks,
        "video_codec": video_codec,
        "audio_codec": audio_codec,
        "width": width,
        "height": height,
    }


# ---------------------------------------------------------------- encoder

def _enc_vint_id(eid: int) -> bytes:
    return eid.to_bytes((eid.bit_length() + 7) // 8, "big")


def _enc_size(n: int) -> bytes:
    """EBML size varint, minimal width with the length-marker bit."""
    for width in range(1, 9):
        if n < (1 << (7 * width)) - 1:
            return ((1 << (7 * width)) | n).to_bytes(width, "big")
    raise ValueError("size too large")


def _el(eid: int, payload: bytes) -> bytes:
    return _enc_vint_id(eid) + _enc_size(len(payload)) + payload


def _el_uint(eid: int, v: int) -> bytes:
    return _el(eid, v.to_bytes(max(1, (v.bit_length() + 7) // 8), "big"))


def mkv_encode_meta_fixture(
    doctype: str,
    width: int,
    height: int,
    duration_ticks: float,
    timescale_ns: int = 1_000_000,
    video_codec: str = "V_VP9",
    audio_codec: str | None = None,
    encrypted: bool = False,
) -> bytes:
    """Spec-shaped EBML/Matroska encoder built from the published
    element registry — header, Segment/Info, Tracks with a Video child,
    and an (empty) Cluster so the walk's stop-at-cluster path runs."""
    header = _el(_EBML, (
        _el_uint(0x4286, 1)            # EBMLVersion
        + _el_uint(0x42F7, 1)          # EBMLReadVersion
        + _el_uint(0x42F2, 4)          # EBMLMaxIDLength
        + _el_uint(0x42F3, 8)          # EBMLMaxSizeLength
        + _el(_DOCTYPE, doctype.encode("ascii"))
        + _el_uint(0x4287, 4)          # DocTypeVersion
        + _el_uint(0x4285, 2)          # DocTypeReadVersion
    ))
    # spec default (1_000_000 ns) → element OMITTED, so the walk's
    # absent-element default path carries fixture coverage (r17 review)
    ts_el = (b"" if timescale_ns == 1_000_000
             else _el_uint(_TIMESTAMP_SCALE, timescale_ns))
    info = _el(_INFO, (
        ts_el
        + _el(_DURATION, struct.pack(">d", duration_ticks))
        + _el(0x4D80, b"pdc-spark")    # MuxingApp
        + _el(0x5741, b"pdc-spark")    # WritingApp
    ))
    venc = b""
    if encrypted:
        venc = _el(_CONTENT_ENCODINGS, _el(
            0x6240, _el(_CONTENT_ENCRYPTION, _el_uint(0x47E1, 5))))
    vtrack = _el(_TRACK_ENTRY, (
        _el_uint(0xD7, 1)              # TrackNumber
        + _el_uint(0x73C5, 1)          # TrackUID
        + _el_uint(_TRACK_TYPE, 1)
        + _el(_CODEC_ID, video_codec.encode("ascii"))
        + venc
        + _el(_VIDEO, _el_uint(_PIXEL_W, width) + _el_uint(_PIXEL_H, height))
    ))
    tracks = vtrack
    if audio_codec is not None:
        tracks += _el(_TRACK_ENTRY, (
            _el_uint(0xD7, 2) + _el_uint(0x73C5, 2)
            + _el_uint(_TRACK_TYPE, 2)
            + _el(_CODEC_ID, audio_codec.encode("ascii"))
            + _el(_AUDIO, _el(0xB5, struct.pack(">f", 48000.0)))
        ))
    cluster = _el(_CLUSTER, _el_uint(0xE7, 0))      # Timestamp-only cluster
    segment = _el(_SEGMENT, info + _el(_TRACKS, tracks) + cluster)
    return header + segment


# --------------------------------------------------------------- plumbing

MKV_META_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("doctype", T.StringType()),
    T.StructField("timescale_ns", T.LongType()),
    T.StructField("duration_ms", T.LongType()),
    T.StructField("n_tracks", T.IntegerType()),
    T.StructField("video_codec", T.StringType()),
    T.StructField("audio_codec", T.StringType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
])


def mkv_metadata(media_df: DataFrame, id_col: str = "doc_id",
                 media_col: str = "media") -> DataFrame:
    """``mkv_meta_walk`` over a binary column via ``mapInPandas`` — one
    typed row per blob, no shuffle (the mp4/pdf walk shape)."""
    return map_blobs(media_df, mkv_meta_walk, MKV_META_SCHEMA, id_col, media_col)


def synth_mkv_docs(ids_df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic WebM/MKV fixture, closed-form in doc_id ``d``:

        doctype      = webm if d%2==0 else matroska
        timescale_ns = 1_000_000 (spec default path) if d%3 else 500_000
        duration_ms  = 400 * (1 + d%6)   (integer-exact in ticks)
        width        = 64 * (1 + d%5),  height = 36 * (1 + d%4)
        video_codec  = V_VP9 if d%2==0 else V_AV1
        audio track (A_OPUS) present iff d%3==0  →  n_tracks 2 else 1
    """

    def _encode(d: int) -> bytes:
        ts = 1_000_000 if d % 3 else 500_000
        dur_ms = 400 * (1 + d % 6)
        return mkv_encode_meta_fixture(
            doctype="webm" if d % 2 == 0 else "matroska",
            width=64 * (1 + d % 5),
            height=36 * (1 + d % 4),
            duration_ticks=dur_ms * 1_000_000 / ts,
            timescale_ns=ts,
            video_codec="V_VP9" if d % 2 == 0 else "V_AV1",
            audio_codec="A_OPUS" if d % 3 == 0 else None,
        )

    return synth_blobs(ids_df, _encode, id_col, rows_per_task=256)
