"""Real video-container decode, stdlib-only — the video third of the
multimodal path.

Y4M (YUV4MPEG2) is the one video container that needs no codec library:
a plain-text stream header (``YUV4MPEG2 W<w> H<h> F<n>:<d> ... C<chroma>``)
followed by ``FRAME\\n``-delimited raw planar frames.  That makes frame
sampling over *real decoded video* possible in this container, completing
the image (operators/imaging.py) / audio (operators/audio.py) / video
triple: a deterministic encoder synthesizes Y4M fixtures whose plane
bytes are a closed-form function of doc_id, the decoder walks the
container inside ``mapInPandas``, and a DuckDB oracle recomputes the
per-frame plane statistics from first principles.

Compressed codecs (h264/vp9/av1 in mp4/webm) genuinely need libav and
raise honestly — on real infra, swap pyav into the same batch loop.

Scale: one blob → n_frames rows is the video path's row-expansion shape
(same contract as multimodal.sample_frames); decode is shuffle-free.
"""

from __future__ import annotations

from ._pipe import map_blobs, synth_blobs

from pyspark.sql import DataFrame
from pyspark.sql import types as T

Y4M_MAGIC = b"YUV4MPEG2"


def y4m_encode(width: int, height: int, frames: list[bytes],
               fps: tuple[int, int] = (25, 1)) -> bytes:
    """Write a real YUV4MPEG2 stream (C444 planar: per frame, Y then U
    then V planes of ``width*height`` bytes each)."""
    fsize = width * height * 3
    for f in frames:
        if len(f) != fsize:
            raise ValueError("frame size mismatch")
    head = f"YUV4MPEG2 W{width} H{height} F{fps[0]}:{fps[1]} Ip A1:1 C444\n".encode()
    return head + b"".join(b"FRAME\n" + f for f in frames)


def y4m_decode(blob: bytes) -> dict:
    """Decode a Y4M stream: {width, height, fps_num, fps_den, frames} with
    ``frames`` the raw C444 plane bytes per frame.  Only C444 is supported
    (4:2:0 subsampling needs plane-size bookkeeping this engine's fixtures
    don't exercise); anything else — and any truncated frame — raises."""
    if not blob.startswith(Y4M_MAGIC):
        raise ValueError("not a Y4M stream (bad magic)")
    nl = blob.index(b"\n")
    width = height = None
    fps_num, fps_den = 25, 1
    chroma = "420"
    for tok in blob[len(Y4M_MAGIC):nl].decode("ascii").split():
        if tok[0] == "W":
            width = int(tok[1:])
        elif tok[0] == "H":
            height = int(tok[1:])
        elif tok[0] == "F":
            fps_num, fps_den = (int(x) for x in tok[1:].split(":"))
        elif tok[0] == "C":
            chroma = tok[1:]
    if width is None or height is None:
        raise ValueError("missing W/H in stream header")
    if chroma != "444":
        raise ValueError(f"unsupported chroma subsampling C{chroma}")
    fsize = width * height * 3
    frames: list[bytes] = []
    pos = nl + 1
    while pos < len(blob):
        if blob[pos:pos + 5] != b"FRAME":
            raise ValueError("bad FRAME marker")
        fnl = blob.index(b"\n", pos)
        frame = blob[fnl + 1:fnl + 1 + fsize]
        if len(frame) != fsize:
            raise ValueError("truncated frame")
        frames.append(frame)
        pos = fnl + 1 + fsize
    return {"width": width, "height": height, "fps_num": fps_num,
            "fps_den": fps_den, "frames": frames}


def decode_video(blob: bytes) -> dict:
    """Dispatch on magic bytes.  Y4M decodes for real; compressed
    containers raise until a codec library is wired in."""
    if blob is None:
        raise ValueError("NULL media value")
    if blob[:9] == Y4M_MAGIC:
        return {"format": "y4m", **y4m_decode(blob)}
    raise NotImplementedError("no stdlib codec for this video format; wire in pyav")


VIDEO_FRAME_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("frame_index", T.IntegerType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("n_frames", T.LongType()),      # from the DECODED stream
    T.StructField("sum_y", T.LongType()),         # per-plane integer sums
    T.StructField("sum_u", T.LongType()),
    T.StructField("sum_v", T.LongType()),
    T.StructField("min_b", T.IntegerType()),
    T.StructField("max_b", T.IntegerType()),
])


#: Permissive-mode output: frame columns + dead-letter ``err`` column
#: (see operators/imaging.py DECODE_DEADLETTER_SCHEMA for the policy).
VIDEO_DEADLETTER_SCHEMA = T.StructType(
    VIDEO_FRAME_SCHEMA.fields + [T.StructField("err", T.StringType())]
)


def decode_video_frames(media_df: DataFrame, id_col: str = "doc_id",
                        media_col: str = "media", strict: bool = True) -> DataFrame:
    """Real frame extraction over a binary video column via
    ``mapInPandas`` — one output row per decoded frame with integer-exact
    per-plane statistics (the video row-expansion shape, now backed by an
    actual container walk instead of the byte-slicing stand-in).

    ``strict=False`` is dead-letter mode: a corrupt or unsupported blob
    becomes ONE row (``frame_index`` NULL) with ``err`` set, and the job
    survives — the blob's identity is preserved for quarantine even
    though no frames could be extracted."""

    def _frames(blob: bytes) -> list[dict]:
        try:
            d = decode_video(blob)
        except (ValueError, NotImplementedError) as e:
            if strict:
                raise
            return [{**dict.fromkeys(VIDEO_FRAME_SCHEMA.names), "err": str(e)}]
        w, h = d["width"], d["height"]
        plane = w * h
        return [{"frame_index": fi, "width": w, "height": h,
                 "n_frames": len(d["frames"]), "sum_y": sum(frame[:plane]),
                 "sum_u": sum(frame[plane:2 * plane]),
                 "sum_v": sum(frame[2 * plane:]), "min_b": min(frame),
                 "max_b": max(frame), "err": None}
                for fi, frame in enumerate(d["frames"])]

    schema = VIDEO_FRAME_SCHEMA if strict else VIDEO_DEADLETTER_SCHEMA
    return map_blobs(media_df, _frames, schema, id_col, media_col, explode=True)


def synth_videos(ids_df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic Y4M fixture: for doc ``d``,

        width = 2 + d % 3,  height = 2 + d % 5,  n_frames = 1 + d % 4
        byte(j) = (d*11 + j*5) % 256   (j = global byte index across
                                        frames: frame f's bytes start at
                                        j = f * width*height*3)

    — closed forms DuckDB reproduces with ``range()`` cross joins."""

    def _encode(d: int) -> bytes:
        w, h, nf = 2 + d % 3, 2 + d % 5, 1 + d % 4
        fsize = w * h * 3
        frames = [
            bytes((d * 11 + (f * fsize + j) * 5) % 256 for j in range(fsize))
            for f in range(nf)
        ]
        return y4m_encode(w, h, frames)

    return synth_blobs(ids_df, _encode, id_col)
