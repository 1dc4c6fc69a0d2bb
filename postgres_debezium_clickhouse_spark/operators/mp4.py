"""MP4/ISOBMFF metadata walk, pure stdlib (r17) — the video slice of
crawl triage.  Video was the one modality with no metadata path (only
Y4M decodes, ``operators/video.py:44``); this walk gives the decode-vs-
skip signal a 100 TB crawl needs from the dominant video container
without a codec library.

The ISO base-media file format (ISO/IEC 14496-12, the public box
grammar) is a tree of length-prefixed boxes: ``size(u32) type(4cc)``,
``size==1`` → 64-bit largesize follows, ``size==0`` → box runs to the
end of its container.  The walk reads:

- ``ftyp``: major brand (the container flavor: isom/mp42/…)
- ``moov/mvhd``: movie timescale + duration (version 0 and 1 layouts)
  → exact declared duration in ms
- per ``trak``: ``tkhd`` (16.16 fixed-point presentation dims),
  ``mdia/hdlr`` (handler: vide/soun), ``mdia/minf/stbl/stsd`` (codec
  fourcc of the first sample entry), ``stts``/``stsz`` (sample count,
  cross-checked between the two tables)

Fragmented (DASH/CMAF) files are WALKED since r18 (r17 verdict
item 4): ``moov/mvex`` trex defaults + optional mehd, then every
top-level ``moof/traf`` — tfhd flag-dependent fields, trun sample
counts and per-sample durations (falling back tfhd default → trex
default) — summed across fragments for the video track, with the mehd
declared total cross-checked against the sum (mismatch = corrupt,
like stts/stsz).  Honest dead-letter classes: encrypted files
(``pssh`` in ``moov``, ``encv``/``enca`` sample entries, ``senc`` in
a fragment) raise ``NotImplementedError``; corrupt structure raises
``ValueError`` (exception-normalized like every media walk).

Scale: per-blob byte-bounded walk in ``mapInPandas`` — no shuffle;
the fixture encoder builds the full spec shape (vmhd/smhd, dinf/dref,
stsc/stco, avcC/esds config boxes) so the walk is exercised against
realistic box trees, not a minimal happy path.

Reference parity note: the reference pipeline
(basic_example/clickhouse.sql) has no media path at all — this module
is part of the LLM-training-data extension surface the brief asks for.
"""

from __future__ import annotations

from ._pipe import map_blobs, synth_blobs

import struct

from pyspark.sql import DataFrame
from pyspark.sql import types as T

_CONTAINERS = {b"moov", b"trak", b"mdia", b"minf", b"stbl", b"edts",
               b"udta", b"mvex", b"moof", b"traf"}


def _boxes(b: bytes, start: int, end: int):
    """Iterate (type, payload_start, box_end) over one container level."""
    p = start
    while p < end:
        if p + 8 > end:
            raise ValueError("truncated MP4 box header")
        size = int.from_bytes(b[p:p + 4], "big")
        typ = b[p + 4:p + 8]
        hdr = 8
        if size == 1:
            if p + 16 > end:
                raise ValueError("truncated MP4 largesize")
            size = int.from_bytes(b[p + 8:p + 16], "big")
            hdr = 16
        elif size == 0:                              # runs to container end
            size = end - p
        if size < hdr or p + size > end:
            raise ValueError("MP4 box overruns container")
        yield typ, p + hdr, p + size
        p += size


def _child(b: bytes, start: int, end: int, typ: bytes):
    for t, ps, pe in _boxes(b, start, end):
        if t == typ:
            return ps, pe
    return None


def mp4_meta_walk(blob: bytes) -> dict:
    """{brand, timescale, duration_ms, n_tracks, width, height,
    video_codec, audio_codec, n_video_samples} from the box tree."""
    try:
        return _mp4_meta_walk_impl(blob)
    except (ValueError, NotImplementedError):
        raise
    except (IndexError, KeyError, struct.error, OverflowError,
            ZeroDivisionError, UnicodeDecodeError) as e:
        raise ValueError(f"corrupt MP4 ({type(e).__name__})") from e


def _mp4_meta_walk_impl(blob: bytes) -> dict:
    if len(blob) < 12 or blob[4:8] != b"ftyp":
        raise ValueError("not an ISO BMFF file (no leading ftyp)")
    brand = None
    moov = None
    moofs: list[tuple[int, int]] = []
    for typ, ps, pe in _boxes(blob, 0, len(blob)):
        if typ == b"ftyp":
            if pe - ps < 8:
                raise ValueError("truncated ftyp box")
            brand = blob[ps:ps + 4].decode("ascii", "replace")
        elif typ == b"moov":
            moov = (ps, pe)
        elif typ == b"moof":
            moofs.append((ps, pe))
    if moov is None:
        raise ValueError("MP4 has no moov box")

    ms, me = moov
    timescale = duration = None
    n_tracks = 0
    width = height = None
    video_codec = audio_codec = None
    n_video_samples = None
    video_track_id = None
    video_media_timescale = None
    trex_defaults: dict[int, int] = {}               # track_id → duration
    mehd_duration = None
    fragmented = False
    for typ, ps, pe in _boxes(blob, ms, me):
        if typ == b"mvex":
            # r18: DASH/CMAF fragment accounting (r17 verdict item 4)
            # — mvex/moof no longer dead-letter; sample counts and
            # durations are summed from the trun tables
            fragmented = True
            for xt, xs, xe in _boxes(blob, ps, pe):
                if xt == b"trex":
                    tid, _sdi, ddur = struct.unpack(
                        ">III", blob[xs + 4:xs + 16])
                    trex_defaults[tid] = ddur
                elif xt == b"mehd":
                    ver = blob[xs]
                    mehd_duration = int.from_bytes(
                        blob[xs + 4:xs + (8 if ver == 0 else 12)], "big")
            continue
        if typ == b"pssh":
            raise NotImplementedError("encrypted MP4 (pssh)")
        if typ == b"mvhd":
            ver = blob[ps]
            if ver == 0:
                timescale, duration = struct.unpack(
                    ">II", blob[ps + 12:ps + 20])
            elif ver == 1:
                timescale = int.from_bytes(blob[ps + 20:ps + 24], "big")
                duration = int.from_bytes(blob[ps + 24:ps + 32], "big")
            else:
                raise ValueError("bad mvhd version")
            if timescale == 0:
                raise ValueError("zero mvhd timescale")
        elif typ == b"trak":
            n_tracks += 1
            info = _walk_trak(blob, ps, pe)
            if info["handler"] == b"vide":
                width, height = info["width"], info["height"]
                video_codec = info["codec"]
                n_video_samples = info["n_samples"]
                video_track_id = info["track_id"]
                video_media_timescale = info["media_timescale"]
            elif info["handler"] == b"soun":
                audio_codec = info["codec"]
    if timescale is None:
        raise ValueError("MP4 moov has no mvhd")
    if moofs and not fragmented:
        raise ValueError("moof without moov/mvex")

    duration_ms = duration * 1000 // timescale
    if fragmented:
        frag_samples, frag_dur = _walk_fragments(
            blob, moofs, video_track_id, trex_defaults)
        if video_track_id is not None:
            # keep None for 'no video track' — the same sentinel the
            # unfragmented path reports (r18 self-review)
            n_video_samples = (n_video_samples or 0) + frag_samples
        media_ts = video_media_timescale or timescale
        if frag_dur is not None:
            frag_ms = frag_dur * 1000 // media_ts
            if mehd_duration is not None:
                mehd_ms = mehd_duration * 1000 // timescale
                # cross-check like stts/stsz — but mehd is declared in
                # the MOVIE timescale while the trun sum lives in the
                # MEDIA timescale, so when they differ a spec-valid
                # writer may round up to the next movie tick: tolerate
                # one movie tick (ceil) + 1 ms of floor error, and be
                # exact only when the timescales coincide (r18
                # self-review)
                tol = (0 if media_ts == timescale
                       else (1000 + timescale - 1) // timescale + 1)
                if moofs and abs(mehd_ms - frag_ms) > tol:
                    raise ValueError(
                        "mehd/fragment duration mismatch")
                duration_ms = mehd_ms
            else:
                duration_ms = max(duration_ms, frag_ms)
        elif mehd_duration is not None:
            duration_ms = mehd_duration * 1000 // timescale

    return {
        "format": "mp4",
        "brand": brand,
        "timescale": timescale,
        "duration_ms": duration_ms,
        "n_tracks": n_tracks,
        "width": width,
        "height": height,
        "video_codec": video_codec,
        "audio_codec": audio_codec,
        "n_video_samples": n_video_samples,
        "fragmented": fragmented,
        "n_fragments": len(moofs),
    }


def _walk_fragments(blob: bytes, moofs, video_track_id,
                    trex_defaults) -> tuple[int, int | None]:
    """(video sample count, video duration in media-timescale units)
    summed across every moof/traf/trun (ISO 14496-12 §8.8)."""
    total_samples = 0
    total_dur = 0
    saw_video = False
    for ms, me in moofs:
        for typ, ps, pe in _boxes(blob, ms, me):
            if typ != b"traf":
                continue
            tfhd = _child(blob, ps, pe, b"tfhd")
            if tfhd is None:
                raise ValueError("traf without tfhd")
            hs, he = tfhd
            flags = int.from_bytes(blob[hs + 1:hs + 4], "big")
            tid = int.from_bytes(blob[hs + 4:hs + 8], "big")
            p = hs + 8
            if flags & 0x01:                         # base-data-offset
                p += 8
            if flags & 0x02:                         # sample-desc-index
                p += 4
            tfhd_dur = None
            if flags & 0x08:                         # default duration
                tfhd_dur = int.from_bytes(blob[p:p + 4], "big")
            # the encrypted-fragment refusal applies to EVERY traf —
            # a clear video track next to an encrypted audio track is
            # the common DRM shape (r18 self-review)
            if _child(blob, ps, pe, b"senc") is not None:
                raise NotImplementedError(
                    "encrypted MP4 fragment (senc)")
            if tid != video_track_id:
                continue
            saw_video = True
            default_dur = (tfhd_dur if tfhd_dur is not None
                           else trex_defaults.get(tid))
            for rt, rs, re_ in _boxes(blob, ps, pe):
                if rt != b"trun":
                    continue
                tflags = int.from_bytes(blob[rs + 1:rs + 4], "big")
                n = int.from_bytes(blob[rs + 4:rs + 8], "big")
                q = rs + 8
                if tflags & 0x01:                    # data offset
                    q += 4
                if tflags & 0x04:                    # first-sample flags
                    q += 4
                per = ((4 if tflags & 0x100 else 0)
                       + (4 if tflags & 0x200 else 0)
                       + (4 if tflags & 0x400 else 0)
                       + (4 if tflags & 0x800 else 0))
                if q + n * per > re_:
                    raise ValueError("trun entries overrun box")
                total_samples += n
                if tflags & 0x100:                   # per-sample duration
                    for i in range(n):
                        total_dur += int.from_bytes(
                            blob[q + i * per:q + i * per + 4], "big")
                else:
                    if default_dur is None:
                        raise ValueError(
                            "trun without duration and no tfhd/trex "
                            "default")
                    total_dur += n * default_dur
    return total_samples, (total_dur if saw_video else None)


def _walk_trak(b: bytes, ts: int, te: int) -> dict:
    width = height = None
    track_id = None
    tk = _child(b, ts, te, b"tkhd")
    if tk is not None:
        ps, pe = tk
        ver = b[ps]
        # v0: vf4 c4 m4 id4 r4 dur4 r8 l2 a2 v2 r2 mat36 → w@76 h@80
        # v1: 64-bit creation/modification/duration → w@88 h@92
        track_id = int.from_bytes(
            b[ps + (12 if ver == 0 else 20):][:4], "big")
        off = ps + (76 if ver == 0 else 88)
        if off + 8 > pe:
            raise ValueError("truncated tkhd box")
        w_fx, h_fx = struct.unpack(">II", b[off:off + 8])
        width, height = w_fx >> 16, h_fx >> 16
    mdia = _child(b, ts, te, b"mdia")
    if mdia is None:
        raise ValueError("trak has no mdia")
    handler = codec = None
    n_samples = None
    media_timescale = None
    md = _child(b, mdia[0], mdia[1], b"mdhd")
    if md is not None:
        mver = b[md[0]]
        media_timescale = int.from_bytes(
            b[md[0] + (12 if mver == 0 else 20):][:4], "big")
    hd = _child(b, mdia[0], mdia[1], b"hdlr")
    if hd is not None:
        handler = b[hd[0] + 8:hd[0] + 12]
    minf = _child(b, mdia[0], mdia[1], b"minf")
    if minf is not None:
        stbl = _child(b, minf[0], minf[1], b"stbl")
        if stbl is not None:
            codec, n_samples = _walk_stbl(b, stbl[0], stbl[1])
    return {"handler": handler, "codec": codec, "n_samples": n_samples,
            "width": width, "height": height, "track_id": track_id,
            "media_timescale": media_timescale}


def _walk_stbl(b: bytes, ss: int, se: int):
    codec = None
    stts_n = stsz_n = None
    for typ, ps, pe in _boxes(b, ss, se):
        if typ == b"stsd":
            n_entries = int.from_bytes(b[ps + 4:ps + 8], "big")
            if n_entries < 1 or pe - ps < 16:
                raise ValueError("empty stsd box")
            fourcc = b[ps + 12:ps + 16]
            if fourcc in (b"encv", b"enca"):
                raise NotImplementedError("encrypted MP4 sample entries")
            codec = fourcc.decode("ascii", "replace")
        elif typ == b"stts":
            n_entries = int.from_bytes(b[ps + 4:ps + 8], "big")
            if ps + 8 + 8 * n_entries > pe:
                raise ValueError("stts entries overrun box")
            stts_n = sum(
                int.from_bytes(b[ps + 8 + 8 * i:ps + 12 + 8 * i], "big")
                for i in range(n_entries)
            )
        elif typ == b"stsz":
            stsz_n = int.from_bytes(b[ps + 8:ps + 12], "big")
    if stts_n is not None and stsz_n is not None and stts_n != stsz_n:
        raise ValueError("stts/stsz sample counts disagree")
    return codec, stts_n if stts_n is not None else stsz_n


# ---------------------------------------------------------------- encoder

def _box(typ: bytes, payload: bytes) -> bytes:
    return struct.pack(">I", len(payload) + 8) + typ + payload


def _full(typ: bytes, version: int, flags: int, payload: bytes) -> bytes:
    return _box(typ, bytes([version]) + flags.to_bytes(3, "big") + payload)


_UNITY_MATRIX = struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0,
                            0x40000000)


def mp4_encode_meta_fixture(
    width: int,
    height: int,
    n_video_samples: int,
    duration: int,
    timescale: int = 1000,
    brand: str = "isom",
    video_codec: str = "avc1",
    with_audio: bool = False,
    mvhd_v1: bool = False,
    fragmented: bool = False,
    encrypted: bool = False,
    n_fragments: int = 3,
    with_mehd: bool = True,
) -> bytes:
    """Spec-shaped ISO BMFF encoder (ISO/IEC 14496-12 box layouts,
    written from the published field tables — full vmhd/smhd, dinf/dref,
    stsc/stco, codec config boxes), so the walk is validated against a
    realistic tree.  ``encrypted`` emits the dead-letter wire shape
    (encv sample entry).  ``fragmented`` (r18) emits a REAL DASH/CMAF
    shape: moov with EMPTY sample tables + mvex (trex defaults, mehd
    when ``with_mehd``) + ``n_fragments`` moof/traf/trun fragments
    carrying the samples — per-sample durations in even fragments,
    tfhd-default durations in odd ones, so all duration sources are on
    the walked path; ``duration`` is the total across fragments."""
    ftyp = _box(b"ftyp", brand.encode("ascii") + struct.pack(">I", 0)
                + brand.encode("ascii") + b"iso2")

    if mvhd_v1:
        mvhd = _full(b"mvhd", 1, 0, struct.pack(
            ">QQIQ", 0, 0, timescale, duration)
            + struct.pack(">IHH", 0x00010000, 0x0100, 0) + bytes(8)
            + _UNITY_MATRIX + bytes(24) + struct.pack(">I", 3))
    else:
        mvhd = _full(b"mvhd", 0, 0, struct.pack(
            ">IIII", 0, 0, timescale, duration)
            + struct.pack(">IHH", 0x00010000, 0x0100, 0) + bytes(8)
            + _UNITY_MATRIX + bytes(24) + struct.pack(">I", 3))

    def tkhd(track_id: int, w: int, h: int) -> bytes:
        return _full(b"tkhd", 0, 7, struct.pack(
            ">IIII", 0, 0, track_id, 0) + struct.pack(">I", duration)
            + bytes(8) + struct.pack(">HHHH", 0, 0, 0, 0)
            + _UNITY_MATRIX + struct.pack(">II", w << 16, h << 16))

    def mdhd() -> bytes:
        return _full(b"mdhd", 0, 0, struct.pack(
            ">IIII", 0, 0, timescale, duration) + struct.pack(">HH", 0x55C4, 0))

    def hdlr(handler: bytes, name: bytes) -> bytes:
        return _full(b"hdlr", 0, 0, bytes(4) + handler + bytes(12)
                     + name + b"\x00")

    dinf = _box(b"dinf", _full(b"dref", 0, 0, struct.pack(">I", 1)
                               + _full(b"url ", 0, 1, b"")))

    def sample_tables(n: int, codec_entry: bytes) -> bytes:
        stsd = _full(b"stsd", 0, 0, struct.pack(">I", 1) + codec_entry)
        stts = _full(b"stts", 0, 0, struct.pack(">III", 1, n,
                                                max(1, timescale // 25)))
        stsc = _full(b"stsc", 0, 0, struct.pack(">IIII", 1, 1, n, 1))
        stsz = _full(b"stsz", 0, 0, struct.pack(">II", 0, n)
                     + b"".join(struct.pack(">I", 100 + i) for i in range(n)))
        stco = _full(b"stco", 0, 0, struct.pack(">II", 1, 0))
        return _box(b"stbl", stsd + stts + stsc + stsz + stco)

    vc = b"encv" if encrypted else video_codec.encode("ascii")
    avc1 = _box(vc, bytes(6) + struct.pack(">H", 1)
                + bytes(16) + struct.pack(">HH", width, height)
                + struct.pack(">II", 0x00480000, 0x00480000) + bytes(4)
                + struct.pack(">H", 1) + bytes(32)
                + struct.pack(">Hh", 24, -1)
                + _box(b"avcC", bytes([1, 0x64, 0, 40, 0xFF, 0xE0, 0])))
    moov_video_samples = 0 if fragmented else n_video_samples
    vminf = _box(b"minf", _full(b"vmhd", 0, 1, bytes(8)) + dinf
                 + sample_tables(moov_video_samples, avc1))
    vmdia = _box(b"mdia", mdhd() + hdlr(b"vide", b"VideoHandler") + vminf)
    traks = _box(b"trak", tkhd(1, width, height) + vmdia)

    if with_audio:
        mp4a = _box(b"mp4a", bytes(6) + struct.pack(">H", 1) + bytes(8)
                    + struct.pack(">HHHH", 2, 16, 0, 0)
                    + struct.pack(">I", 44100 << 16)
                    + _full(b"esds", 0, 0, bytes([3, 3, 0, 1, 0])))
        aminf = _box(b"minf", _full(b"smhd", 0, 0, bytes(4)) + dinf
                     + sample_tables(
                         0 if fragmented else max(1, n_video_samples * 2),
                         mp4a))
        amdia = _box(b"mdia", mdhd() + hdlr(b"soun", b"SoundHandler") + aminf)
        traks += _box(b"trak", tkhd(2, 0, 0) + amdia)

    moov_children = mvhd + traks
    frags = b""
    if fragmented:
        # distribute samples/duration across fragments; trex carries a
        # deliberately-wrong default the tfhd/trun values must override
        # in the fragments that set them
        if n_video_samples < 1:
            raise ValueError("fragmented fixture needs >= 1 sample")
        nf = max(1, n_fragments)
        base_s, rem_s = divmod(n_video_samples, nf)
        counts = [base_s + (1 if i < rem_s else 0) for i in range(nf)]
        counts = [c for c in counts if c]
        per_sample = duration // n_video_samples
        slack = duration - per_sample * n_video_samples
        mvex = _full(b"trex", 0, 0,
                     struct.pack(">IIIII", 1, 1, per_sample, 100, 0))
        if with_mehd:
            mvex += _full(b"mehd", 0, 0, struct.pack(">I", duration))
        if with_audio:
            mvex += _full(b"trex", 0, 0,
                          struct.pack(">IIIII", 2, 1, per_sample, 80, 0))
        moov_children += _box(b"mvex", mvex)
        for i, c in enumerate(counts):
            last = i == len(counts) - 1
            extra = slack if last else 0
            mfhd = _full(b"mfhd", 0, 0, struct.pack(">I", i + 1))
            if i % 2 == 0 or last:
                # per-sample durations (trun flags 0x100 | 0x200); the
                # last fragment always takes this path so the duration
                # slack lands on a real sample
                durs = [per_sample] * c
                durs[-1] += extra
                trun = _full(b"trun", 0, 0x301,
                             struct.pack(">Ii", c, 0)
                             + b"".join(struct.pack(">II", dur, 100 + j)
                                        for j, dur in enumerate(durs)))
                tfhd = _full(b"tfhd", 0, 0x020000,
                             struct.pack(">I", 1))
            else:
                # tfhd default duration path (and trex default size)
                trun = _full(b"trun", 0, 0x001, struct.pack(">Ii", c, 0))
                tfhd = _full(b"tfhd", 0, 0x020008,
                             struct.pack(">II", 1, per_sample))
            traf = _box(b"traf", tfhd + trun)
            frags += _box(b"moof", mfhd + traf)
            frags += _box(b"mdat", bytes(8 * c))
    moov = _box(b"moov", moov_children)
    mdat = _box(b"mdat", bytes(16))
    return ftyp + moov + mdat + frags


# --------------------------------------------------------------- plumbing

MP4_META_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("brand", T.StringType()),
    T.StructField("timescale", T.IntegerType()),
    T.StructField("duration_ms", T.LongType()),
    T.StructField("n_tracks", T.IntegerType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("video_codec", T.StringType()),
    T.StructField("audio_codec", T.StringType()),
    T.StructField("n_video_samples", T.IntegerType()),
])


def mp4_metadata(media_df: DataFrame, id_col: str = "doc_id",
                 media_col: str = "media") -> DataFrame:
    """``mp4_meta_walk`` over a binary column via ``mapInPandas`` — one
    typed row per blob, no shuffle (the pdf/mp3/flac walk shape)."""
    return map_blobs(media_df, mp4_meta_walk, MP4_META_SCHEMA, id_col, media_col)


def synth_mp4_docs(ids_df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic MP4 fixture, closed-form in doc_id ``d``:

        brand       = isom if d%2==0 else mp42
        timescale   = 600 * (1 + d%3)
        duration_ms = 500 * (1 + d%7)   (units exact in that timescale)
        width       = 16 * (1 + d%4),  height = 16 * (1 + d%3)
        video_codec = avc1 if d%5!=0 else hvc1
        audio track (mp4a) present iff d%3==0  →  n_tracks 2 else 1
        n_video_samples = 1 + d%6
        mvhd version 1 (64-bit) on every 4th doc — both layouts walked
    """

    def _encode(d: int) -> bytes:
        ts = 600 * (1 + d % 3)
        return mp4_encode_meta_fixture(
            width=16 * (1 + d % 4),
            height=16 * (1 + d % 3),
            n_video_samples=1 + d % 6,
            duration=500 * (1 + d % 7) * ts // 1000,
            timescale=ts,
            brand="isom" if d % 2 == 0 else "mp42",
            video_codec="avc1" if d % 5 != 0 else "hvc1",
            with_audio=d % 3 == 0,
            mvhd_v1=d % 4 == 0,
        )

    return synth_blobs(ids_df, _encode, id_col, rows_per_task=256)


FMP4_META_SCHEMA = T.StructType(MP4_META_SCHEMA.fields + [
    T.StructField("fragmented", T.BooleanType()),
    T.StructField("n_fragments", T.IntegerType()),
])


def fmp4_metadata(media_df: DataFrame, id_col: str = "doc_id",
                  media_col: str = "media") -> DataFrame:
    """``mp4_meta_walk`` with the r18 fragment-accounting columns —
    DASH/CMAF files report summed trun samples/durations plus
    ``fragmented``/``n_fragments`` (plain files: false/0)."""
    return map_blobs(media_df, mp4_meta_walk, FMP4_META_SCHEMA, id_col, media_col)


def synth_fmp4_docs(ids_df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Fragmented (DASH/CMAF) MP4 fixture, closed-form in doc_id ``d``:

        timescale        = 600 * (1 + d%3)
        duration_ms      = 400 * (1 + d%6)
        n_video_samples  = 2 + d%9      (split across fragments)
        n_fragments      = least(1 + d%4, n_video_samples)
        mehd present iff d%3 != 0  (else trun sums alone)
        audio trak (empty tables + trex) iff d%4 == 0
        brand isom/mp42, codec avc1 (hvc1 every 5th), dims 16·(1+d%4)
        × 16·(1+d%3); per-sample trun durations in even + last
        fragments, tfhd defaults in the others
    """

    def _encode(d: int) -> bytes:
        ts = 600 * (1 + d % 3)
        return mp4_encode_meta_fixture(
            width=16 * (1 + d % 4),
            height=16 * (1 + d % 3),
            n_video_samples=2 + d % 9,
            duration=400 * (1 + d % 6) * ts // 1000,
            timescale=ts,
            brand="isom" if d % 2 == 0 else "mp42",
            video_codec="avc1" if d % 5 != 0 else "hvc1",
            with_audio=d % 4 == 0,
            fragmented=True,
            n_fragments=1 + d % 4,
            with_mehd=d % 3 != 0,
        )

    return synth_blobs(ids_df, _encode, id_col, rows_per_task=256)
