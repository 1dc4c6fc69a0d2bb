"""PDF metadata walk, pure stdlib (r16) — the highest-volume crawl
DOCUMENT format (a large share of quality tokens in public corpora
comes from PDFs), triaged without a renderer.

Implements the public ISO 32000-1 file-structure subset a metadata
probe needs: the ``%PDF-1.x`` header, the ``startxref`` pointer, the
CLASSIC cross-reference table (``xref`` sections of 20-byte entries)
with the ``/Prev`` incremental-update chain (newest wins), the trailer
dictionary, and a recursive-descent parser for the object grammar
(dictionaries, arrays, names, numbers, literal ``(...)`` strings with
escapes, ``<hex>`` strings, ``R`` references, booleans/null) — enough
to resolve ``/Info`` (Title/Author/Producer) and walk
``/Root → /Pages → /Count`` for the page count.

Cross-reference STREAMS (PDF 1.5+ ``/Type /XRef`` — the modern wire:
FlateDecode table data with the optional PNG Up predictor, W-tuple
fields, /Index subsections) and ``/Type /ObjStm`` OBJECT streams
(compressed objects resolved via type-2 entries) are implemented too,
so both generations of real-web PDFs walk.  Honest scope:
``/Encrypt``-ed files and non-flate stream filters raise
``NotImplementedError`` (dead-letter class); content streams are never
opened — this is a triage probe, not a text extractor.  Corrupt
structure raises ``ValueError``.

Scale: the walk is per-blob and byte-bounded (no rendering, no
decompression) inside ``mapInPandas`` — the same no-shuffle shape as
every media walk (operators/audio.py mp3/flac twins).
"""

from __future__ import annotations

from ._pipe import map_blobs, synth_blobs

import re

from pyspark.sql import DataFrame
from pyspark.sql import types as T

_WS = b"\x00\t\n\x0c\r "
_DELIM = b"()<>[]{}/%"


class _Ref:
    __slots__ = ("num", "gen")

    def __init__(self, num: int, gen: int):
        self.num, self.gen = num, gen

    def __repr__(self):  # pragma: no cover - debug aid
        return f"{self.num} {self.gen} R"


def _skip_ws(b: bytes, p: int) -> int:
    while p < len(b):
        if b[p:p + 1] in (b"%",):                  # comment to EOL
            while p < len(b) and b[p] not in (0x0A, 0x0D):
                p += 1
        elif b[p] in _WS:
            p += 1
        else:
            break
    return p


def _parse_object(b: bytes, p: int):
    """(value, next_pos) — recursive descent over the object grammar."""
    p = _skip_ws(b, p)
    if p >= len(b):
        raise ValueError("truncated PDF object")
    c = b[p:p + 1]
    if c == b"<":
        if b[p:p + 2] == b"<<":
            d = {}
            p += 2
            while True:
                p = _skip_ws(b, p)
                if b[p:p + 2] == b">>":
                    return d, p + 2
                if b[p:p + 1] != b"/":
                    raise ValueError("PDF dict key must be a name")
                key, p = _parse_object(b, p)
                val, p = _parse_object(b, p)
                d[key] = val
        # hex string
        q = b.index(b">", p + 1)
        hx = re.sub(rb"\s", b"", b[p + 1:q])
        if len(hx) % 2:
            hx += b"0"
        try:
            return bytes.fromhex(hx.decode("ascii")).decode(
                "latin-1"
            ), q + 1
        except ValueError as e:
            raise ValueError("bad PDF hex string") from e
    if c == b"(":
        out = bytearray()
        depth = 1
        p += 1
        while p < len(b):
            ch = b[p]
            if ch == 0x5C:                          # backslash escape
                p += 1
                if p >= len(b):
                    break
                e = b[p:p + 1]
                mapped = {b"n": 10, b"r": 13, b"t": 9, b"b": 8, b"f": 12,
                          b"(": 40, b")": 41, b"\\": 92}
                if e in mapped:
                    out.append(mapped[e])
                elif e in b"01234567":              # octal (1-3 digits)
                    oct_s = e
                    while (len(oct_s) < 3 and p + 1 < len(b)
                           and b[p + 1:p + 2] in b"01234567"):
                        p += 1
                        oct_s += b[p:p + 1]
                    out.append(int(oct_s, 8) & 0xFF)
                elif e in (b"\r", b"\n"):           # line continuation:
                    if e == b"\r" and b[p + 1:p + 2] == b"\n":
                        p += 1                      # \CRLF drops both
                else:
                    # ISO 32000-1 Table 3: an unrecognized escape keeps
                    # the CHARACTER, only the backslash is dropped
                    # (includes \8 \9, which are not octal)
                    out.append(e[0])
                p += 1
                continue
            if ch == 0x28:
                depth += 1
            elif ch == 0x29:
                depth -= 1
                if depth == 0:
                    return out.decode("latin-1"), p + 1
            out.append(ch)
            p += 1
        raise ValueError("unterminated PDF string")
    if c == b"/":
        q = p + 1
        while q < len(b) and b[q] not in _WS and b[q:q + 1] not in (
            b"(", b")", b"<", b">", b"[", b"]", b"{", b"}", b"/", b"%"
        ):
            q += 1
        return "/" + b[p + 1:q].decode("latin-1"), q
    if c == b"[":
        arr = []
        p += 1
        while True:
            p = _skip_ws(b, p)
            if b[p:p + 1] == b"]":
                return arr, p + 1
            v, p = _parse_object(b, p)
            arr.append(v)
    m = re.match(rb"[-+]?\d+(\.\d*)?|[-+]?\.\d+", b[p:p + 32])
    if m:
        tok = m.group(0)
        # reference: N G R
        q = _skip_ws(b, p + len(tok))
        m2 = re.match(rb"(\d+)\s+R(?![A-Za-z])", b[q:q + 24])
        if tok.isdigit() and m2:
            return _Ref(int(tok), int(m2.group(1))), q + m2.end()
        return (float(tok) if b"." in tok else int(tok)), p + len(tok)
    for lit, val in ((b"true", True), (b"false", False), (b"null", None)):
        if b[p:p + len(lit)] == lit:
            return val, p + len(lit)
    raise ValueError(f"bad PDF token at offset {p}")


def _parse_xref_section(b: bytes, p: int):
    """One cross-reference SECTION at offset p → (entries, trailer).
    Handles BOTH forms: the classic ``xref`` table and the 1.5+
    cross-reference STREAM (``/Type /XRef`` — FlateDecode with optional
    PNG predictor, W-tuple fields, /Index subsections).  Entries:
    num → ("r", byte_offset) for regular objects,
    num → ("o", objstm_num, idx) for objects inside an object stream."""
    p = _skip_ws(b, p)
    if b[p:p + 4] == b"xref":
        return _parse_xref_table(b, p + 4)
    if re.match(rb"\d+\s+\d+\s+obj", b[p:p + 32]):
        return _parse_xref_stream(b, p)
    raise ValueError("startxref does not point at an xref section")


def _parse_xref_table(b: bytes, p: int):
    entries: dict[int, tuple] = {}
    while True:
        p = _skip_ws(b, p)
        if b[p:p + 7] == b"trailer":
            trailer, _ = _parse_object(b, p + 7)
            if not isinstance(trailer, dict):
                raise ValueError("PDF trailer is not a dictionary")
            return entries, trailer
        m = re.match(rb"(\d+)\s+(\d+)", b[p:p + 40])
        if not m:
            raise ValueError("bad PDF xref subsection header")
        start, count = int(m.group(1)), int(m.group(2))
        p = _skip_ws(b, p + m.end())
        for i in range(count):
            ent = b[p:p + 20]
            m2 = re.match(rb"(\d{10})\s+(\d{5})\s+([nf])", ent)
            if not m2:
                raise ValueError("bad PDF xref entry")
            if m2.group(3) == b"n":
                entries.setdefault(start + i, ("r", int(m2.group(1))))
            else:
                # freed entries in NEWER sections must shadow older
                # in-use ones (ISO 32000 newest-wins) — record a
                # tombstone so the /Prev chain can't resurrect them
                entries.setdefault(start + i, ("f",))
            p += 20
            # tolerate 19-byte (LF-only) entries
            if p <= len(b) and p >= 1 and b[p - 1:p] not in (
                b"\r", b"\n", b" "
            ):
                p -= 1
                p = _skip_ws(b, p)


def _read_stream(b: bytes, p: int):
    """Parse ``N G obj <<dict>> stream...endstream`` at offset p →
    (dict, raw stream bytes).  /Length must be direct here (true for
    the xref/objstm fixtures and for every xref stream the spec
    requires to be parseable before any object is loadable)."""
    m = re.match(rb"(\d+)\s+(\d+)\s+obj", b[p:p + 40])
    if not m:
        raise ValueError("bad PDF stream object header")
    d, q = _parse_object(b, p + m.end())
    if not isinstance(d, dict):
        raise ValueError("PDF stream object has no dictionary")
    q = _skip_ws(b, q)
    if b[q:q + 6] != b"stream":
        raise ValueError("PDF stream keyword missing")
    q += 6
    if b[q:q + 2] == b"\r\n":
        q += 2
    elif b[q:q + 1] == b"\n":
        q += 1
    length = d.get("/Length")
    if not isinstance(length, int):
        raise ValueError("PDF stream /Length must be a direct integer")
    data = b[q:q + length]
    if len(data) != length:
        raise ValueError("truncated PDF stream data")
    return d, data


def _decode_stream(d: dict, data: bytes) -> bytes:
    import zlib

    filt = d.get("/Filter")
    if filt is None:
        return data
    if filt not in ("/FlateDecode", ["/FlateDecode"]):
        raise NotImplementedError(f"PDF stream filter {filt}")
    try:
        data = zlib.decompress(data)
    except zlib.error as e:
        raise ValueError(f"bad PDF flate stream: {e}") from e
    parms = d.get("/DecodeParms")
    if isinstance(parms, dict):
        pred = parms.get("/Predictor", 1)
        if isinstance(pred, int) and pred >= 10:
            cols = int(parms.get("/Columns", 1))
            data = _png_unpredict(data, cols)
        elif pred not in (1, None):
            raise NotImplementedError(f"PDF predictor {pred}")
    return data


def _png_unpredict(data: bytes, cols: int) -> bytes:
    """PNG-predictor de-filtering (per-row filter byte; xref streams in
    the wild use Up=2 almost exclusively, but all five standard filters
    are implemented — same math as the PNG decoder's, bpp=1)."""
    row_len = cols + 1
    if len(data) % row_len:
        raise ValueError("PDF predictor data not a whole number of rows")
    out = bytearray()
    prev = bytearray(cols)
    for r in range(0, len(data), row_len):
        ft = data[r]
        row = bytearray(data[r + 1:r + row_len])
        for i in range(cols):
            a = row[i - 1] if i else 0
            bb = prev[i]
            c = prev[i - 1] if i else 0
            if ft == 0:
                pass
            elif ft == 1:
                row[i] = (row[i] + a) & 0xFF
            elif ft == 2:
                row[i] = (row[i] + bb) & 0xFF
            elif ft == 3:
                row[i] = (row[i] + ((a + bb) >> 1)) & 0xFF
            elif ft == 4:
                pp = a + bb - c
                pa, pb, pc = abs(pp - a), abs(pp - bb), abs(pp - c)
                pr = a if pa <= pb and pa <= pc else (bb if pb <= pc else c)
                row[i] = (row[i] + pr) & 0xFF
            else:
                raise ValueError(f"bad PNG predictor filter {ft}")
        out.extend(row)
        prev = row
    return bytes(out)


def _parse_xref_stream(b: bytes, p: int):
    d, raw = _read_stream(b, p)
    if d.get("/Type") != "/XRef":
        raise ValueError("startxref object is not a /Type /XRef stream")
    data = _decode_stream(d, raw)
    w = d.get("/W")
    if (not isinstance(w, list) or len(w) != 3
            or not all(isinstance(x, int) for x in w)):
        raise ValueError("bad /W in xref stream")
    size = d.get("/Size")
    index = d.get("/Index", [0, size])
    if not isinstance(index, list) or len(index) % 2:
        raise ValueError("bad /Index in xref stream")
    ent_len = sum(w)
    if ent_len == 0 or len(data) % ent_len:
        raise ValueError("xref stream data not a whole number of entries")
    entries: dict[int, tuple] = {}
    pos = 0

    def field(width: int, default: int) -> int:
        nonlocal pos
        if width == 0:
            return default
        v = int.from_bytes(data[pos:pos + width], "big")
        pos += width
        return v

    for j in range(0, len(index), 2):
        start, count = int(index[j]), int(index[j + 1])
        for i in range(count):
            if pos + ent_len > len(data):
                raise ValueError("xref stream /Index exceeds data")
            t = field(w[0], 1)
            f2 = field(w[1], 0)
            f3 = field(w[2], 0)
            num = start + i
            if t == 1:
                entries.setdefault(num, ("r", f2))
            elif t == 2:
                entries.setdefault(num, ("o", f2, f3))
            elif t == 0:
                entries.setdefault(num, ("f",))   # tombstone (see above)
            # unknown types: skipped per spec
    return entries, d                   # the stream dict IS the trailer


def _load_object(b: bytes, off: int, num: int):
    m = re.match(rb"(\d+)\s+(\d+)\s+obj", b[off:off + 40])
    if not m or int(m.group(1)) != num:
        raise ValueError(f"PDF xref offset for object {num} is wrong")
    val, _ = _parse_object(b, off + m.end())
    return val


def pdf_meta_walk(blob: bytes) -> dict:
    """{version, n_objects, page_count, title, author, producer} from a
    classic-xref OR xref-stream PDF (incremental updates followed via
    /Prev, newest entry wins; compressed objects resolved out of
    /Type /ObjStm object streams).

    Exception normalization (the jpeg_decode/wav_decode contract):
    corrupt structure can drive the parser into raw IndexError /
    TypeError / OverflowError — everything outside the two dead-letter
    classes re-raises as ValueError so the catch stays exhaustive."""
    try:
        return _pdf_meta_walk_impl(blob)
    except (ValueError, NotImplementedError):
        raise
    except (IndexError, KeyError, TypeError, AttributeError,
            OverflowError, RecursionError) as e:
        raise ValueError(f"corrupt PDF ({type(e).__name__})") from e


def _pdf_open(blob: bytes):
    """Shared open: header check, xref chain walk (classic, stream and
    hybrid forms), object resolver.  Returns (version, trailer,
    entries, resolve) — used by both the metadata walk and the r17
    text extraction."""
    m = re.match(rb"%PDF-(\d+\.\d+)", blob[:16])
    if not m:
        raise ValueError("not a PDF (bad header)")
    version = m.group(1).decode("ascii")
    tail = blob[-1024:]
    matches = list(re.finditer(rb"startxref\s+(\d+)\s+%%EOF", tail))
    if not matches:
        raise ValueError("PDF missing startxref/%%EOF tail")
    sm = matches[-1]                                # the LAST update's tail
    entries: dict[int, tuple] = {}
    trailer: dict | None = None
    xref_off = int(sm.group(1))
    seen = set()
    while True:
        if xref_off in seen or xref_off >= len(blob):
            raise ValueError("PDF xref /Prev chain is circular or broken")
        seen.add(xref_off)
        ents, tr = _parse_xref_section(blob, xref_off)
        if "/XRefStm" in tr:
            # hybrid-reference file (ISO 32000-1 §7.5.8.4): the classic
            # trailer points at an xref STREAM holding the entries a
            # pre-1.5 reader can't use (compressed objects the classic
            # table marks free).  The stream shall be read BEFORE the
            # classic section at the same update level, so its entries
            # take precedence over that section's tombstones.
            so = int(tr["/XRefStm"])
            if so in seen or so >= len(blob):
                raise ValueError("PDF /XRefStm pointer is circular or broken")
            seen.add(so)
            s_ents, _ = _parse_xref_section(blob, so)
            for k, v in s_ents.items():
                entries.setdefault(k, v)
        for k, v in ents.items():
            entries.setdefault(k, v)               # newest section first
        if trailer is None:
            trailer = tr
        if "/Prev" not in tr:
            break
        xref_off = int(tr["/Prev"])
    if "/Encrypt" in trailer:
        raise NotImplementedError("encrypted PDF")

    objstm_cache: dict[int, tuple] = {}

    def load_objstm(num: int):
        if num in objstm_cache:
            return objstm_cache[num]
        ent = entries.get(num)
        if ent is None or ent[0] != "r":
            raise ValueError(f"object stream {num} has no direct offset")
        d, raw = _read_stream(blob, ent[1])
        if d.get("/Type") != "/ObjStm":
            raise ValueError(f"object {num} is not /Type /ObjStm")
        data = _decode_stream(d, raw)
        n, first = d.get("/N"), d.get("/First")
        if not isinstance(n, int) or not isinstance(first, int):
            raise ValueError("bad /N or /First in object stream")
        pairs = []
        q = 0
        for _ in range(n):
            mm = re.match(rb"\s*(\d+)\s+(\d+)", data[q:q + 48])
            if not mm:
                raise ValueError("bad object-stream header pair")
            pairs.append((int(mm.group(1)), int(mm.group(2))))
            q += mm.end()
        objstm_cache[num] = (data, first, pairs)
        return objstm_cache[num]

    def resolve(v, depth: int = 0):
        while isinstance(v, _Ref):
            if depth > 32:
                raise ValueError("PDF reference chain too deep")
            depth += 1
            ent = entries.get(v.num)
            if ent is None or ent[0] == "f":
                return None
            if ent[0] == "r":
                v = _load_object(blob, ent[1], v.num)
            else:
                data, first, pairs = load_objstm(ent[1])
                idx = ent[2]
                if idx >= len(pairs) or pairs[idx][0] != v.num:
                    raise ValueError(
                        f"object {v.num} not at index {idx} of its stream"
                    )
                v, _ = _parse_object(data, first + pairs[idx][1])
        return v

    return version, trailer, entries, resolve


def _pdf_meta_walk_impl(blob: bytes) -> dict:
    version, trailer, entries, resolve = _pdf_open(blob)
    root = resolve(trailer.get("/Root"))
    if not isinstance(root, dict):
        raise ValueError("PDF trailer has no /Root catalog")
    pages = resolve(root.get("/Pages"))
    page_count = None
    if isinstance(pages, dict):
        cnt = resolve(pages.get("/Count"))
        if isinstance(cnt, int):
            page_count = cnt
    info = resolve(trailer.get("/Info"))
    info = info if isinstance(info, dict) else {}
    return {
        "format": "pdf",
        "version": version,
        "n_objects": int(trailer.get("/Size", 0)),
        "page_count": page_count,
        "title": resolve(info.get("/Title")),
        "author": resolve(info.get("/Author")),
        "producer": resolve(info.get("/Producer")),
    }


def pdf_encode_meta_fixture(
    n_pages: int,
    title: str | None = None,
    author: str | None = None,
    incremental: bool = False,
    version: str = "1.4",
    page_texts: "list[str] | None" = None,
    compress_text: bool = False,
    contents_array: bool = False,
    type0_font: bool = False,
    gnarly_text: bool = False,
) -> bytes:
    """Byte-offset-correct classic-xref PDF: catalog, page tree with
    ``n_pages`` leaf pages, optional /Info, and optionally ONE
    incremental update that appends a replacement /Info object plus a
    second xref section chained via /Prev (title suffixed ' v2') — the
    structure a 'save' in a real editor produces.

    ``page_texts`` (r17, text extraction): per-page strings rendered as
    real content streams — ``BT /F1 12 Tf (line) Tj 0 -14 Td … ET``
    with one Td line-advance per newline, a shared /Type1 /Helvetica
    font in each page's /Resources, optionally FlateDecode-compressed
    (``compress_text``) or split into a TWO-stream /Contents array
    (``contents_array``).  ``type0_font`` swaps the font for a
    composite /Type0 — the extraction dead-letter class."""
    objs: list[bytes] = []

    def esc(s: str) -> str:
        return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")

    has_info = title is not None or author is not None
    font_num = cont_base = None
    per_page = 2 if contents_array else 1
    if page_texts is not None:
        if len(page_texts) != n_pages:
            raise ValueError("page_texts must have one entry per page")
        font_num = 3 + n_pages + (1 if has_info else 0)
        cont_base = font_num + 1
    kids = " ".join(f"{3 + i} 0 R" for i in range(n_pages))
    objs.append(b"<< /Type /Catalog /Pages 2 0 R >>")
    objs.append(
        f"<< /Type /Pages /Count {n_pages} /Kids [ {kids} ] >>".encode()
    )
    for i in range(n_pages):
        page = "<< /Type /Page /Parent 2 0 R /MediaBox [ 0 0 612 792 ]"
        if page_texts is not None:
            c0 = cont_base + i * per_page
            contents = (f"[ {c0} 0 R {c0 + 1} 0 R ]" if contents_array
                        else f"{c0} 0 R")
            page += (f" /Resources << /Font << /F1 {font_num} 0 R >> >>"
                     f" /Contents {contents}")
        objs.append((page + " >>").encode())
    info_num = None
    if has_info:
        parts = []
        if title is not None:
            parts.append(f"/Title ({esc(title)})")
        if author is not None:
            parts.append(f"/Author ({esc(author)})")
        parts.append("/Producer (pdc-spark)")
        objs.append(f"<< {' '.join(parts)} >>".encode())
        info_num = len(objs)

    if page_texts is not None:
        import zlib as _zlib

        subtype = "/Type0" if type0_font else "/Type1"
        objs.append(
            f"<< /Type /Font /Subtype {subtype}"
            f" /BaseFont /Helvetica >>".encode()
        )
        assert len(objs) == font_num

        def gnarly_str(s: str) -> str:
            # r18 escape-coverage audit (r17 verdict item 7): same
            # decoded text, adversarial wire form — octal escapes,
            # an unknown escape (\d → 'd'), a mid-string \<EOL> line
            # continuation
            out = []
            for i, ch in enumerate(s):
                if ch == " ":
                    out.append(r"\040")
                elif ch == "e":
                    out.append(r"\145")
                elif ch == "d":
                    out.append(r"\d")
                elif ch in "()\\":
                    out.append("\\" + ch)
                else:
                    out.append(ch)
                if i == 7:
                    out.append("\\\n")
            return "".join(out)

        def content_stream(src: str, continuation: bool = False,
                           gnarly: bool = False) -> bytes:
            lines = src.split("\n")
            lead = "0 -14 Td " if continuation else ""
            if gnarly:
                # %-comment after BT (legal wherever whitespace is),
                # gnarly-escaped first line, HEX-string show for the rest
                ops = [f"BT % gnarly wire form\n/F1 12 Tf {lead}"
                       f"({gnarly_str(lines[0])}) Tj"]
                for ln in lines[1:]:
                    hx = ln.encode("latin-1").hex()
                    ops.append(f"0 -14 Td <{hx}> Tj")
            else:
                ops = [f"BT /F1 12 Tf {lead}({esc(lines[0])}) Tj"]
                for ln in lines[1:]:
                    ops.append(f"0 -14 Td ({esc(ln)}) Tj")
            data = (" ".join(ops) + " ET").encode("latin-1")
            if compress_text:
                z = _zlib.compress(data)
                return (f"<< /Length {len(z)} /Filter /FlateDecode"
                        f" >>\nstream\n".encode() + z + b"\nendstream")
            return (f"<< /Length {len(data)} >>\nstream\n".encode()
                    + data + b"\nendstream")

        for i, text in enumerate(page_texts):
            if contents_array:
                # split at a LINE boundary (mid-word splits would change
                # the extracted text under the Td→newline heuristic —
                # that loss is inherent to untagged PDFs, not a fixture
                # property we want); single-line pages duplicate the
                # stream pair with an empty continuation
                cut = text.find("\n")
                head = text[:cut] if cut > 0 else text
                tail = text[cut + 1:] if cut > 0 else ""
                objs.append(content_stream(head, gnarly=gnarly_text))
                if tail:
                    objs.append(content_stream(tail, continuation=True,
                                               gnarly=gnarly_text))
                else:
                    objs.append(content_stream(""))   # empty () Tj
            else:
                objs.append(content_stream(text, gnarly=gnarly_text))

    out = bytearray(f"%PDF-{version}\n".encode())
    offsets = [0]                                   # object 0: free
    for i, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out.extend(f"{i} 0 obj\n".encode())
        out.extend(body)
        out.extend(b"\nendobj\n")
    xref_off = len(out)
    n = len(objs) + 1
    out.extend(f"xref\n0 {n}\n".encode())
    out.extend(b"0000000000 65535 f \n")
    for off in offsets[1:]:
        out.extend(f"{off:010d} 00000 n \n".encode())
    trailer = f"trailer\n<< /Size {n} /Root 1 0 R"
    if info_num:
        trailer += f" /Info {info_num} 0 R"
    trailer += f" >>\nstartxref\n{xref_off}\n%%EOF\n"
    out.extend(trailer.encode())

    if incremental and info_num:
        upd_off = len(out)
        body = (
            f"<< /Title ({esc((title or '') + ' v2')})"
            f" /Producer (pdc-spark) >>"
        ).encode()
        out.extend(f"{info_num} 0 obj\n".encode())
        out.extend(body)
        out.extend(b"\nendobj\n")
        xref2 = len(out)
        out.extend(f"xref\n{info_num} 1\n".encode())
        out.extend(f"{upd_off:010d} 00000 n \n".encode())
        out.extend(
            f"trailer\n<< /Size {n} /Root 1 0 R /Info {info_num} 0 R"
            f" /Prev {xref_off} >>\nstartxref\n{xref2}\n%%EOF\n".encode()
        )
    return bytes(out)


PDF_META_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("version", T.StringType()),
    T.StructField("n_objects", T.IntegerType()),
    T.StructField("page_count", T.IntegerType()),
    T.StructField("title", T.StringType()),
    T.StructField("author", T.StringType()),
    T.StructField("producer", T.StringType()),
])


def pdf_metadata(media_df: DataFrame, id_col: str = "doc_id",
                 media_col: str = "media") -> DataFrame:
    """``pdf_meta_walk`` over a binary column via ``mapInPandas`` — one
    typed row per blob, no shuffle (the mp3/flac walk shape)."""
    return map_blobs(media_df, pdf_meta_walk, PDF_META_SCHEMA, id_col, media_col)


def synth_pdf_docs(ids_df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """PDF metadata fixture, closed-form in doc_id ``d``: 1 + d%9
    pages; /Info (title 'doc d', author 'author d%7') on all but every
    5th doc.  EVEN docs are classic-xref 1.4 files — every 4th doc
    carrying one INCREMENTAL update (title becomes 'doc d v2' via the
    /Prev chain, newest xref wins); ODD docs are MODERN 1.5 files with
    the catalog/pages/Info compressed into a /Type /ObjStm and a
    /Type /XRef FlateDecode cross-reference stream (PNG Up-predictor 12
    when d ≡ 1 mod 4) — both wire forms through one walk."""

    def _encode(d: int) -> bytes:
        has_info = d % 5 != 0
        title = f"doc {d}" if has_info else None
        author = f"author {d % 7}" if has_info else None
        if d % 2:
            return pdf_encode_xrefstream_fixture(
                n_pages=1 + d % 9, title=title, author=author,
                predictor=(d % 4 == 1),
            )
        return pdf_encode_meta_fixture(
            n_pages=1 + d % 9, title=title, author=author,
            incremental=(d % 4 == 0 and has_info),
        )

    return synth_blobs(ids_df, _encode, id_col)


def pdf_encode_xrefstream_fixture(
    n_pages: int,
    title: str | None = None,
    author: str | None = None,
    predictor: bool = False,
    hybrid: bool = False,
) -> bytes:
    """Byte-offset-correct MODERN (1.5+) PDF: catalog, page tree, pages
    and /Info all COMPRESSED into one /Type /ObjStm object stream, and
    the cross-reference as a /Type /XRef FlateDecode stream (W=[1 4 2],
    type-2 entries pointing into the object stream; optionally PNG
    Up-predictor 12 on the xref data — the encoding real writers
    emit).

    ``hybrid=True`` emits a HYBRID-REFERENCE file (ISO 32000-1
    §7.5.8.4, the pre-1.5-compatible-writer shape): startxref points at
    a CLASSIC table that marks every compressed object free and whose
    trailer carries /XRefStm → the xref stream above; a 1.5-aware
    reader must read the stream first or the compressed objects
    silently resolve to tombstones."""
    import zlib

    def esc(s: str) -> str:
        return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")

    inner: list[bytes] = []
    kids = " ".join(f"{3 + i} 0 R" for i in range(n_pages))
    inner.append(b"<< /Type /Catalog /Pages 2 0 R >>")
    inner.append(
        f"<< /Type /Pages /Count {n_pages} /Kids [ {kids} ] >>".encode()
    )
    for _ in range(n_pages):
        inner.append(
            b"<< /Type /Page /Parent 2 0 R /MediaBox [ 0 0 612 792 ] >>"
        )
    info_num = None
    if title is not None or author is not None:
        parts = []
        if title is not None:
            parts.append(f"/Title ({esc(title)})")
        if author is not None:
            parts.append(f"/Author ({esc(author)})")
        parts.append("/Producer (pdc-spark)")
        inner.append(f"<< {' '.join(parts)} >>".encode())
        info_num = len(inner)
    objstm_num = len(inner) + 1
    xref_num = len(inner) + 2
    size = len(inner) + 3                           # incl. object 0

    # object stream body: header pairs then the objects
    offs, body = [], bytearray()
    for obj in inner:
        offs.append(len(body))
        body.extend(obj)
        body.extend(b"\n")
    header = " ".join(
        f"{i + 1} {off}" for i, off in enumerate(offs)
    ).encode() + b"\n"
    stm_plain = header + bytes(body)
    stm_z = zlib.compress(stm_plain)

    out = bytearray(b"%PDF-1.5\n")
    objstm_off = len(out)
    out.extend(
        f"{objstm_num} 0 obj\n<< /Type /ObjStm /N {len(inner)} "
        f"/First {len(header)} /Filter /FlateDecode "
        f"/Length {len(stm_z)} >>\nstream\n".encode()
    )
    out.extend(stm_z)
    out.extend(b"\nendstream\nendobj\n")

    xref_off = len(out)
    rows = [(0, 0, 65535)]                          # object 0: free
    rows += [(2, objstm_num, i) for i in range(len(inner))]
    rows.append((1, objstm_off, 0))
    rows.append((1, xref_off, 0))
    ent = bytearray()
    if predictor:
        prev = bytes(7)
        for t, f2, f3 in rows:
            cur = bytes([t]) + f2.to_bytes(4, "big") + f3.to_bytes(2, "big")
            ent.append(2)                           # PNG Up filter
            ent.extend((cur[i] - prev[i]) & 0xFF for i in range(7))
            prev = cur
    else:
        for t, f2, f3 in rows:
            ent.append(t)
            ent.extend(f2.to_bytes(4, "big"))
            ent.extend(f3.to_bytes(2, "big"))
    ent_z = zlib.compress(bytes(ent))
    parms = (" /DecodeParms << /Predictor 12 /Columns 7 >>"
             if predictor else "")
    info_part = f" /Info {info_num} 0 R" if info_num else ""
    out.extend(
        f"{xref_num} 0 obj\n<< /Type /XRef /Size {size} /W [ 1 4 2 ] "
        f"/Root 1 0 R{info_part} /Filter /FlateDecode{parms} "
        f"/Length {len(ent_z)} >>\nstream\n".encode()
    )
    out.extend(ent_z)
    out.extend(b"\nendstream\nendobj\n")
    if hybrid:
        classic_off = len(out)
        out.extend(f"xref\n0 {size}\n".encode())
        out.extend(b"0000000000 65535 f \n")
        for _ in range(len(inner)):                 # compressed: FREE here
            out.extend(b"0000000000 00000 f \n")
        out.extend(f"{objstm_off:010d} 00000 n \n".encode())
        out.extend(f"{xref_off:010d} 00000 n \n".encode())
        info_part = f" /Info {info_num} 0 R" if info_num else ""
        out.extend(
            f"trailer\n<< /Size {size} /Root 1 0 R{info_part}"
            f" /XRefStm {xref_off} >>\n"
            f"startxref\n{classic_off}\n%%EOF\n".encode()
        )
    else:
        out.extend(f"startxref\n{xref_off}\n%%EOF\n".encode())
    return bytes(out)


# --------------------------------------------------------------------------
# Text extraction (r17) — PDFs are a large share of quality tokens in
# public corpora; after the metadata triage, the next pipeline step is
# pulling the text itself out of page content streams.
# --------------------------------------------------------------------------

_OP_RE = re.compile(rb"[A-Za-z'\"*][A-Za-z0-9'\"*]{0,2}")


def _content_text(data: bytes) -> str:
    """Text-show operators out of ONE decoded content stream: a postfix
    token walk collecting operands, emitting on Tj / ' / \" / TJ, with
    the line-advance operators (Td/TD/T*/'/\") contributing newlines —
    the standard reading-order heuristic for untagged PDFs."""
    parts: list[str] = []
    pending: list = []
    p = 0
    n = len(data)
    while p < n:
        p = _skip_ws(data, p)
        if p >= n:
            break
        c = data[p:p + 1]
        if c == b"%":
            # %-comments are legal wherever whitespace may appear in a
            # content stream (ISO 32000-1 §7.2.4) — skip to end-of-line
            while p < n and data[p] not in b"\r\n":
                p += 1
            continue
        if c in b"(<[/" or c in b"+-." or c.isdigit():
            try:
                val, p = _parse_object(data, p)
            except ValueError:
                p += 1
                continue
            pending.append(val)
            continue
        m = _OP_RE.match(data, p)
        if not m:
            # an unmatchable byte (stray delimiter, writer quirk) is not
            # evidence of corruption — skip it; BI/ID/EI stays the one
            # explicit NotImplementedError class below
            p += 1
            continue
        op = m.group(0)
        p = m.end()
        if op == b"BI":
            # inline image: ID is followed by raw binary the lexer
            # cannot skip without parsing the image dict — honest
            # unsupported class, not 'corrupt'
            raise NotImplementedError("inline image (BI/ID/EI) in "
                                      "PDF content stream")
        if op == b"Tj":
            if pending and isinstance(pending[-1], str):
                parts.append(pending[-1])
        elif op in (b"'", b'"'):
            if pending and isinstance(pending[-1], str):
                parts.append("\n")
                parts.append(pending[-1])
        elif op == b"TJ":
            if pending and isinstance(pending[-1], list):
                parts.extend(s for s in pending[-1] if isinstance(s, str))
        elif op in (b"Td", b"TD", b"T*"):
            if parts:
                parts.append("\n")
        pending.clear()
    text = "".join(parts)
    return re.sub(r"\n+", "\n", text).strip("\n")


def pdf_text_walk(blob: bytes) -> dict:
    """{page_count, texts: [per-page str]} — page-tree walk, /Contents
    streams decoded (Flate or raw) and lexed for text-show operators.

    Honest scope: simple 8-bit fonts only — a page whose effective
    /Resources (own or INHERITED through the page tree, §7.7.3.4)
    declares a /Subtype /Type0 (CID/composite) font raises
    NotImplementedError (extracting those needs the font's CMap), as
    do inline images (BI/ID/EI — raw binary the text lexer cannot
    skip); encrypted PDFs raise upstream in _pdf_open."""
    try:
        return _pdf_text_walk_impl(blob)
    except (ValueError, NotImplementedError):
        raise
    except (IndexError, KeyError, TypeError, AttributeError,
            OverflowError, RecursionError) as e:
        raise ValueError(f"corrupt PDF ({type(e).__name__})") from e


def _pdf_text_walk_impl(blob: bytes) -> dict:
    _version, trailer, entries, resolve = _pdf_open(blob)
    root = resolve(trailer.get("/Root"))
    if not isinstance(root, dict):
        raise ValueError("PDF trailer has no /Root catalog")
    pages_node = resolve(root.get("/Pages"))
    if not isinstance(pages_node, dict):
        raise ValueError("PDF catalog has no /Pages tree")

    def page_refs(node: dict, inherited_res=None, depth: int = 0) -> list:
        # /Resources is an INHERITABLE page attribute (ISO 32000-1
        # §7.7.3.4): a page without its own dict uses the nearest
        # ancestor's — the Type0 dead-letter check must see it
        if depth > 32:
            raise ValueError("PDF page tree too deep")
        res = resolve(node.get("/Resources"))
        if not isinstance(res, dict):
            res = inherited_res
        out = []
        for kid_ref in resolve(node.get("/Kids")) or []:
            kid = resolve(kid_ref)
            if not isinstance(kid, dict):
                raise ValueError("bad /Kids entry")
            if kid.get("/Type") == "/Pages":
                out.extend(page_refs(kid, res, depth + 1))
            else:
                kres = resolve(kid.get("/Resources"))
                out.append((kid, kres if isinstance(kres, dict) else res))
        return out

    def stream_bytes(ref) -> bytes:
        if isinstance(ref, _Ref):
            ent = entries.get(ref.num)
            if ent is None or ent[0] != "r":
                raise ValueError("content stream has no direct offset")
            d, raw = _read_stream(blob, ent[1])
            return _decode_stream(d, raw)
        raise ValueError("page /Contents is not a stream reference")

    texts = []
    for page, res in page_refs(pages_node):
        if isinstance(res, dict):
            fonts = resolve(res.get("/Font"))
            if isinstance(fonts, dict):
                for fref in fonts.values():
                    fd = resolve(fref)
                    if isinstance(fd, dict) and fd.get("/Subtype") == "/Type0":
                        raise NotImplementedError(
                            "composite (Type0/CID) font text extraction")
        contents = resolve(page.get("/Contents"))
        if contents is None:
            texts.append("")
            continue
        if isinstance(contents, list):
            data = b"\n".join(stream_bytes(r) for r in contents)
        else:
            # a direct single stream: /Contents resolves to its DICT;
            # re-read through the entry so the raw bytes come along
            data = stream_bytes(page.get("/Contents"))
        texts.append(_content_text(data))
    return {"page_count": len(texts), "texts": texts}


PDF_TEXT_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("page", T.IntegerType()),
    T.StructField("text", T.StringType()),
    T.StructField("n_chars", T.IntegerType()),
])


def pdf_page_text(media_df: DataFrame, id_col: str = "doc_id",
                  media_col: str = "media") -> DataFrame:
    """``pdf_text_walk`` over a binary column via ``mapInPandas`` — one
    row per PAGE (the row-expansion shape of decode_video_frames)."""

    def _pages(blob: bytes) -> list[dict]:
        return [{"page": i, "text": text, "n_chars": len(text)}
                for i, text in enumerate(pdf_text_walk(blob)["texts"])]

    return map_blobs(media_df, _pages, PDF_TEXT_SCHEMA, id_col, media_col, explode=True)


def synth_pdf_text_docs(ids_df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """PDF-with-content-streams fixture, closed-form in doc_id ``d``:
    1 + d%3 pages; page ``p`` carries 2 + (d+p)%2 lines, line ``l`` =
    ``"doc {d} page {p} line {l}"``; FlateDecode on odd docs, a
    two-stream /Contents array on d%4==2; every 5th-mod-1 doc is
    rendered in the ADVERSARIAL wire form (octal escapes, an unknown
    escape, a mid-string line continuation, a %-comment, hex-string
    shows — r18 escape audit) with the SAME decoded text, so the
    oracle is unchanged while the lexer paths are on the oracle gate."""

    def _encode(d: int) -> bytes:
        np_ = 1 + d % 3
        texts = [
            "\n".join(f"doc {d} page {p} line {line}"
                      for line in range(2 + (d + p) % 2))
            for p in range(np_)
        ]
        return pdf_encode_meta_fixture(
            np_, page_texts=texts,
            compress_text=d % 2 == 1,
            contents_array=d % 4 == 2,
            gnarly_text=d % 5 == 1,
        )

    return synth_blobs(ids_df, _encode, id_col)
