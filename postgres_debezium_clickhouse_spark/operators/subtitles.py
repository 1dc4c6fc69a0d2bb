"""Subtitle parsing (SRT + WebVTT), pure stdlib (r18) — the
text-from-video modality: crawled video rarely ships transcripts, but
subtitle sidecars (SRT) and HTML5 text tracks (WebVTT) are everywhere,
and they are high-quality aligned text a training pipeline wants
extracted, timed, and quality-scored like any other document.

Public formats:

- SRT (the de-facto SubRip format): blank-line-separated cues of
  ``index`` / ``HH:MM:SS,mmm --> HH:MM:SS,mmm`` / text lines.
- WebVTT (W3C): ``WEBVTT`` signature, ``HH:MM:SS.mmm`` or ``MM:SS.mmm``
  timings with optional cue settings after the arrow, optional cue
  identifiers, NOTE/STYLE/REGION blocks, and inline markup
  (``<b> <i> <u> <c.class> <v Speaker>`` voice spans and
  ``<00:00:01.000>`` karaoke timestamps) stripped for text extraction.

Cue semantics checked, not trusted: end must be > start, timings must
lex exactly, overlap is allowed (it is in both specs) but NEGATIVE
cue-to-cue regressions of start times are corrupt in SRT (the format
is defined as sequential).

Dead-letter contract: structural corruption raises ``ValueError``.

Scale: per-document parse in ``mapInPandas`` — no shuffle; stats are
computed in the same pass as the parse.
"""

from __future__ import annotations

from ._pipe import map_blobs, synth_blobs

import re

from pyspark.sql import DataFrame
from pyspark.sql import types as T

_SRT_TIME = re.compile(
    r"^(\d{2}):(\d{2}):(\d{2}),(\d{3})\s*-->\s*"
    r"(\d{2}):(\d{2}):(\d{2}),(\d{3})\s*$")
_VTT_TIME = re.compile(
    r"^(?:(\d{2,}):)?(\d{2}):(\d{2})\.(\d{3})\s*-->\s*"
    r"(?:(\d{2,}):)?(\d{2}):(\d{2})\.(\d{3})(?:\s+(.*))?$")
_VTT_TAG = re.compile(r"<[^>]*>")


def _ms(h, m, s, frac) -> int:
    m, s = int(m), int(s)
    if m > 59 or s > 59:
        raise ValueError("subtitle timestamp field out of range")
    return ((int(h or 0) * 60 + m) * 60 + s) * 1000 + int(frac)


def srt_parse(text: str) -> list[dict]:
    """SubRip cues: [{index, start_ms, end_ms, text}]."""
    cues: list[dict] = []
    blocks = re.split(r"\r?\n\s*\r?\n", text.strip("﻿ \r\n"))
    prev_start = -1
    for blk in blocks:
        lines = [ln for ln in blk.splitlines()]
        if not lines or not lines[0].strip():
            continue
        if not lines[0].strip().isdigit():
            raise ValueError("SRT cue must start with a numeric index")
        if len(lines) < 2:
            raise ValueError("SRT cue without a timing line")
        m = _SRT_TIME.match(lines[1].strip())
        if not m:
            raise ValueError("bad SRT timing line")
        start = _ms(m.group(1), m.group(2), m.group(3), m.group(4))
        end = _ms(m.group(5), m.group(6), m.group(7), m.group(8))
        if end <= start:
            raise ValueError("SRT cue end <= start")
        if start < prev_start:
            raise ValueError("SRT cues regress in time")
        prev_start = start
        cues.append({
            "index": int(lines[0].strip()),
            "start_ms": start, "end_ms": end,
            "text": "\n".join(lines[2:]).strip(),
        })
    if not cues:
        raise ValueError("SRT with no cues")
    return cues


def vtt_parse(text: str) -> list[dict]:
    """WebVTT cues: [{index (1-based order), start_ms, end_ms, text}]
    with inline markup stripped; NOTE/STYLE/REGION blocks skipped."""
    body = text.lstrip("﻿")
    if not body.startswith("WEBVTT"):
        raise ValueError("missing WEBVTT signature")
    blocks = re.split(r"\r?\n\s*\r?\n", body.strip())
    cues: list[dict] = []
    # the signature line may share its block with the first cue (no
    # blank line after WEBVTT is spec-legal) — strip the line, keep
    # the remainder (r18 self-review: it was silently dropped)
    first_rest = blocks[0].split("\n", 1)
    blocks = (
        [first_rest[1]]
        if len(first_rest) > 1 and "-->" in first_rest[1] else []
        # (no '-->' → those are header TEXT lines, part of the header)
    ) + blocks[1:]
    for blk in blocks:
        lines = blk.splitlines()
        if not lines or not any(ln.strip() for ln in lines):
            continue
        head = lines[0].strip()
        # NOTE/STYLE/REGION only as WHOLE keywords — an identifier
        # like 'NOTES-1' is a cue, not a comment (r18 self-review)
        if re.match(r"(NOTE|STYLE|REGION)(\s|$)", head):
            continue
        ti = 0
        if "-->" not in lines[0]:
            ti = 1                                   # cue identifier line
            if len(lines) < 2:
                raise ValueError("WebVTT cue without a timing line")
        m = _VTT_TIME.match(lines[ti].strip())
        if not m:
            raise ValueError("bad WebVTT timing line")
        start = _ms(m.group(1), m.group(2), m.group(3), m.group(4))
        end = _ms(m.group(5), m.group(6), m.group(7), m.group(8))
        if end <= start:
            raise ValueError("WebVTT cue end <= start")
        raw = "\n".join(lines[ti + 1:]).strip()
        cues.append({
            "index": len(cues) + 1,
            "start_ms": start, "end_ms": end,
            "text": _VTT_TAG.sub("", raw).strip(),
        })
    if not cues:
        raise ValueError("WebVTT with no cues")
    return cues


def subtitle_walk(text: str) -> dict:
    """Format-dispatched parse → per-document stats + joined text."""
    if text.lstrip("﻿").startswith("WEBVTT"):
        fmt, cues = "vtt", vtt_parse(text)
    else:
        fmt, cues = "srt", srt_parse(text)
    joined = " ".join(c["text"].replace("\n", " ") for c in cues
                      if c["text"])
    return {
        "format": fmt,
        "n_cues": len(cues),
        "first_start_ms": cues[0]["start_ms"],
        "last_end_ms": max(c["end_ms"] for c in cues),
        "speech_ms": sum(c["end_ms"] - c["start_ms"] for c in cues),
        "n_chars": len(joined),
        "text": joined,
    }


# ------------------------------------------------------- spark plumbing

SUBTITLE_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("format", T.StringType()),
    T.StructField("n_cues", T.IntegerType()),
    T.StructField("first_start_ms", T.LongType()),
    T.StructField("last_end_ms", T.LongType()),
    T.StructField("speech_ms", T.LongType()),
    T.StructField("n_chars", T.IntegerType()),
    T.StructField("text", T.StringType()),
])


def subtitle_stats(docs_df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "subtitle") -> DataFrame:
    """``subtitle_walk`` over a string column via ``mapInPandas`` — no
    shuffle, one typed row per document."""
    return map_blobs(docs_df, subtitle_walk, SUBTITLE_SCHEMA, id_col, text_col)


def _fmt_srt(ms: int) -> str:
    h, rem = divmod(ms, 3_600_000)
    m, rem = divmod(rem, 60_000)
    s, f = divmod(rem, 1000)
    return f"{h:02d}:{m:02d}:{s:02d},{f:03d}"


def _fmt_vtt(ms: int) -> str:
    return _fmt_srt(ms).replace(",", ".")


def synth_subtitle_docs(ids_df: DataFrame,
                        id_col: str = "doc_id") -> DataFrame:
    """Subtitle fixture, closed-form in doc_id ``d``:

    - format: SRT when d%2=0 else WebVTT
    - 2 + d%5 cues; cue ``c`` starts at 2000·c + 100·(d%7) ms and runs
      900 + 100·(c%3) ms; text 'doc {d} cue {c}'
    - VTT extras on the parse path: a NOTE block, a cue identifier on
      cue 0, ``<b>``/``<c.x>`` markup (stripped), a position cue
      setting; SRT cues carry a two-line text on odd cues (joined with
      a space in the stats)
    """

    def _encode(d: int) -> str:
        n = 2 + d % 5
        base = 100 * (d % 7)
        parts = []
        if d % 2 == 0:
            for c in range(n):
                s = 2000 * c + base
                e = s + 900 + 100 * (c % 3)
                body = (f"doc {d}\ncue {c}" if c % 2 == 1
                        else f"doc {d} cue {c}")
                parts.append(
                    f"{c + 1}\n{_fmt_srt(s)} --> {_fmt_srt(e)}"
                    f"\n{body}")
        else:
            parts.append("WEBVTT - doc header")
            parts.append("NOTE\nsynthetic fixture")
            for c in range(n):
                s = 2000 * c + base
                e = s + 900 + 100 * (c % 3)
                ident = f"cue-id-{c}\n" if c == 0 else ""
                setting = " position:50%" if c == 1 else ""
                body = (f"<b>doc {d}</b> <c.x>cue {c}</c>"
                        if c % 2 == 0 else f"doc {d} cue {c}")
                parts.append(
                    f"{ident}{_fmt_vtt(s)} --> "
                    f"{_fmt_vtt(e)}{setting}\n{body}")
        return "\n\n".join(parts) + "\n"

    return synth_blobs(ids_df, _encode, id_col, rows_per_task=1024,
                       blob_col="subtitle string")
