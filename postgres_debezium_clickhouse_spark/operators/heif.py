"""AVIF/HEIF header walk, pure stdlib (r18) — the fastest-growing
modern image formats arrive in every fresh crawl as ISOBMFF files
(r17 verdict item 3); ``operators/mp4.py`` already reads that box
grammar, this module adds the HEIF item layer on top of it.

Public sources: ISO/IEC 14496-12 (box grammar — reused from
``mp4._boxes``), ISO/IEC 23008-12 (HEIF: meta/pitm/iinf/infe,
iprp = ipco + ipma property association, iref reference boxes),
AV1 Image File Format spec (AOMedia, the avif/avis brands).

The walk reads, without any payload decode:

- ``ftyp``: major brand (avif / heic / mif1 …) → format routing
- ``meta/pitm``: the primary item
- ``meta/iinf/infe``: item ids + types (av01 / hvc1 / grid / Exif …)
- ``meta/iprp/ipco`` + ``ipma``: the primary item's ``ispe`` dims and
  ``pixi`` bit depth via the property-association table (1-indexed
  into ipco, essential-bit stripped, both 8- and 16-bit index forms)
- ``meta/iref``: ``auxl`` references into the primary → alpha plane
  present; ``dimg`` references from a ``grid`` primary → tile count;
  ``cdsc`` from an Exif item → EXIF present

AV1/HEVC payload decode stays an honest ``NotImplementedError`` (the
``decode_image`` dispatch routes avif/heic there instead of "unknown
format").  Corrupt structure raises ``ValueError``.

Scale: per-blob byte-bounded walk in ``mapInPandas`` — no shuffle.
Reference parity note: the reference pipeline has no media path at all
(`/root/reference/basic_example/clickhouse.sql`); this is part of the
LLM-training-pipeline extension surface.
"""

from __future__ import annotations

from ._pipe import map_blobs, synth_blobs

import struct

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from .mp4 import _boxes, _child

_HEIF_BRANDS = {"avif", "avis", "heic", "heix", "heim", "heis",
                "hevc", "mif1", "msf1"}


def is_heif(blob: bytes) -> bool:
    return (len(blob) >= 12 and blob[4:8] == b"ftyp"
            and blob[8:12].decode("ascii", "replace") in _HEIF_BRANDS)


def heif_meta_walk(blob: bytes) -> dict:
    """{brand, primary_type, width, height, bit_depth, n_channels,
    n_items, has_alpha, n_grid_tiles, has_exif} from the meta tree."""
    try:
        return _heif_meta_walk_impl(blob)
    except (ValueError, NotImplementedError):
        raise
    except (IndexError, KeyError, struct.error, OverflowError,
            UnicodeDecodeError) as e:
        raise ValueError(f"corrupt HEIF ({type(e).__name__})") from e


def _fullbox(blob: bytes, ps: int) -> tuple[int, int, int]:
    """(version, flags, payload_start_after_fullbox_header)."""
    vf = int.from_bytes(blob[ps:ps + 4], "big")
    return vf >> 24, vf & 0xFFFFFF, ps + 4


def _heif_meta_walk_impl(blob: bytes) -> dict:
    if len(blob) < 12 or blob[4:8] != b"ftyp":
        raise ValueError("not an ISO BMFF file (no leading ftyp)")
    brand = blob[8:12].decode("ascii", "replace")
    if brand not in _HEIF_BRANDS:
        raise ValueError(f"not a HEIF brand: {brand!r}")
    meta = None
    for typ, ps, pe in _boxes(blob, 0, len(blob)):
        if typ == b"meta":
            meta = (ps, pe)
            break
    if meta is None:
        raise ValueError("HEIF has no meta box")
    _, _, ms = _fullbox(blob, meta[0])               # meta is a FullBox
    me = meta[1]

    primary_id = None
    items: dict[int, str] = {}
    props: list[tuple[bytes, int, int]] = []
    assoc: dict[int, list[int]] = {}
    auxl_to: list[int] = []
    dimg_from: dict[int, int] = {}
    cdsc_refs: list[tuple[int, list[int]]] = []

    for typ, ps, pe in _boxes(blob, ms, me):
        if typ == b"pitm":
            ver, _, p = _fullbox(blob, ps)
            primary_id = int.from_bytes(
                blob[p:p + (2 if ver == 0 else 4)], "big")
        elif typ == b"iinf":
            ver, _, p = _fullbox(blob, ps)
            n = int.from_bytes(blob[p:p + (2 if ver == 0 else 4)], "big")
            p += 2 if ver == 0 else 4
            count = 0
            for ityp, ips, ipe in _boxes(blob, p, pe):
                if ityp != b"infe":
                    continue
                iver, _, q = _fullbox(blob, ips)
                if iver < 2:
                    raise ValueError("infe version < 2 in HEIF")
                iid = int.from_bytes(
                    blob[q:q + (2 if iver == 2 else 4)], "big")
                q += (2 if iver == 2 else 4) + 2     # + protection index
                items[iid] = blob[q:q + 4].decode("ascii", "replace")
                count += 1
            if count != n:
                raise ValueError("iinf entry_count mismatch")
        elif typ == b"iprp":
            ipco = _child(blob, ps, pe, b"ipco")
            if ipco is None:
                raise ValueError("iprp without ipco")
            props = list(_boxes(blob, ipco[0], ipco[1]))
            ipma = _child(blob, ps, pe, b"ipma")
            if ipma is None:
                raise ValueError("iprp without ipma")
            ver, flags, p = _fullbox(blob, ipma[0])
            n = int.from_bytes(blob[p:p + 4], "big")
            p += 4
            for _ in range(n):
                iid = int.from_bytes(
                    blob[p:p + (2 if ver < 1 else 4)], "big")
                p += 2 if ver < 1 else 4
                cnt = blob[p]
                p += 1
                idxs = []
                for _a in range(cnt):
                    if flags & 1:
                        idxs.append(int.from_bytes(
                            blob[p:p + 2], "big") & 0x7FFF)
                        p += 2
                    else:
                        idxs.append(blob[p] & 0x7F)
                        p += 1
                assoc[iid] = idxs
        elif typ == b"iref":
            ver, _, p = _fullbox(blob, ps)
            idw = 2 if ver == 0 else 4
            for rtyp, rps, rpe in _boxes(blob, p, pe):
                from_id = int.from_bytes(blob[rps:rps + idw], "big")
                rc = int.from_bytes(blob[rps + idw:rps + idw + 2], "big")
                to_ids = [
                    int.from_bytes(
                        blob[rps + idw + 2 + i * idw:
                             rps + idw + 2 + (i + 1) * idw], "big")
                    for i in range(rc)
                ]
                if rtyp == b"auxl":
                    auxl_to.extend(to_ids)
                elif rtyp == b"dimg":
                    dimg_from[from_id] = rc
                elif rtyp == b"cdsc":
                    # resolved AFTER the loop — ISO 23008-12 does not
                    # mandate iinf-before-iref order (r18 self-review)
                    cdsc_refs.append((from_id, to_ids))

    if primary_id is None:
        raise ValueError("HEIF meta has no pitm")
    if primary_id not in items:
        raise ValueError("HEIF primary item not in iinf")
    primary_type = items[primary_id]
    cdsc_exif_to = [t for from_id, to_ids in cdsc_refs
                    if items.get(from_id) == "Exif" for t in to_ids]

    width = height = None
    bit_depth = n_channels = None
    for idx in assoc.get(primary_id, []):
        if idx < 1 or idx > len(props):
            raise ValueError("ipma property index out of range")
        ptyp, pps, ppe = props[idx - 1]
        if ptyp == b"ispe":
            _, _, q = _fullbox(blob, pps)
            width, height = struct.unpack(">II", blob[q:q + 8])
        elif ptyp == b"pixi":
            _, _, q = _fullbox(blob, pps)
            n_channels = blob[q]
            depths = blob[q + 1:q + 1 + n_channels]
            if len(depths) != n_channels or not depths:
                raise ValueError("truncated pixi")
            if len(set(depths)) != 1:
                raise ValueError("pixi with mixed channel depths")
            bit_depth = depths[0]
    if width is None:
        raise ValueError("HEIF primary item has no ispe dims")

    return {
        "brand": brand,
        "primary_type": primary_type,
        "width": width,
        "height": height,
        "bit_depth": bit_depth,
        "n_channels": n_channels,
        "n_items": len(items),
        "has_alpha": primary_id in auxl_to,
        "n_grid_tiles": (dimg_from.get(primary_id, 0)
                         if primary_type == "grid" else 0),
        "has_exif": primary_id in cdsc_exif_to,
    }


# -------------------------------------------------------------- fixture

def _box(typ: bytes, payload: bytes) -> bytes:
    return (len(payload) + 8).to_bytes(4, "big") + typ + payload


def _full(typ: bytes, ver: int, flags: int, payload: bytes) -> bytes:
    return _box(typ, ((ver << 24) | flags).to_bytes(4, "big") + payload)


def heif_encode_fixture(
    brand: str,
    width: int,
    height: int,
    bit_depth: int = 8,
    n_channels: int = 3,
    alpha: bool = False,
    grid_tiles: int = 0,
    exif: bool = False,
) -> bytes:
    """Spec-shaped single-image HEIF/AVIF: ftyp + meta(hdlr, pitm,
    iinf/infe, iprp(ipco+ipma), iref when needed, iloc) + a dummy mdat.
    Primary item 1 (type av01/hvc1, or ``grid`` with ``grid_tiles``
    dimg members), alpha aux item 2, Exif item 3, tiles from 10."""
    codec = "av01" if brand in ("avif", "avis") else "hvc1"
    primary_type = "grid" if grid_tiles else codec
    items: list[tuple[int, str]] = [(1, primary_type)]
    if alpha:
        items.append((2, codec))
    if exif:
        items.append((3, "Exif"))
    items += [(10 + i, codec) for i in range(grid_tiles)]

    infes = b"".join(
        _full(b"infe", 2, 0,
              iid.to_bytes(2, "big") + b"\x00\x00"
              + ityp.encode("ascii") + b"\x00")
        for iid, ityp in items
    )
    iinf = _full(b"iinf", 0, 0, len(items).to_bytes(2, "big") + infes)
    pitm = _full(b"pitm", 0, 0, (1).to_bytes(2, "big"))
    hdlr = _full(b"hdlr", 0, 0,
                 b"\x00\x00\x00\x00" + b"pict" + b"\x00" * 12 + b"\x00")
    ispe = _full(b"ispe", 0, 0, struct.pack(">II", width, height))
    pixi = _full(b"pixi", 0, 0,
                 bytes([n_channels]) + bytes([bit_depth]) * n_channels)
    ipco = _box(b"ipco", ispe + pixi)
    # associate every pixel item with both properties (8-bit indexes)
    pixel_items = [iid for iid, t in items if t != "Exif"]
    ipma_entries = b"".join(
        iid.to_bytes(2, "big") + bytes([2, 0x81, 0x02])
        for iid in pixel_items
    )
    ipma = _full(b"ipma", 0, 0,
                 len(pixel_items).to_bytes(4, "big") + ipma_entries)
    iprp = _box(b"iprp", ipco + ipma)

    refs = b""
    if alpha:
        refs += _box(b"auxl", (2).to_bytes(2, "big")
                     + (1).to_bytes(2, "big") + (1).to_bytes(2, "big"))
    if grid_tiles:
        refs += _box(b"dimg", (1).to_bytes(2, "big")
                     + grid_tiles.to_bytes(2, "big")
                     + b"".join((10 + i).to_bytes(2, "big")
                                for i in range(grid_tiles)))
    if exif:
        refs += _box(b"cdsc", (3).to_bytes(2, "big")
                     + (1).to_bytes(2, "big") + (1).to_bytes(2, "big"))
    iref = _full(b"iref", 0, 0, refs) if refs else b""

    # minimal iloc (version 0, 4-byte offsets/lengths, no extents read
    # by the walk — shape realism only)
    iloc_items = b"".join(
        iid.to_bytes(2, "big") + (0).to_bytes(2, "big")
        + (1).to_bytes(2, "big")
        + (0).to_bytes(4, "big") + (16).to_bytes(4, "big")
        for iid, _t in items
    )
    iloc = _full(b"iloc", 0, 0,
                 bytes([0x44, 0x00]) + len(items).to_bytes(2, "big")
                 + iloc_items)

    meta = _full(b"meta", 0, 0, hdlr + pitm + iinf + iprp + iref + iloc)
    ftyp = _box(b"ftyp", brand.encode("ascii") + (0).to_bytes(4, "big")
                + brand.encode("ascii") + b"mif1")
    mdat = _box(b"mdat", bytes((5 * i + 1) % 256 for i in range(32)))
    return ftyp + meta + mdat


# ------------------------------------------------------- spark plumbing

HEIF_META_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("brand", T.StringType()),
    T.StructField("primary_type", T.StringType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("bit_depth", T.IntegerType()),
    T.StructField("n_channels", T.IntegerType()),
    T.StructField("n_items", T.IntegerType()),
    T.StructField("has_alpha", T.BooleanType()),
    T.StructField("n_grid_tiles", T.IntegerType()),
    T.StructField("has_exif", T.BooleanType()),
])


def heif_metadata(media_df: DataFrame, id_col: str = "doc_id",
                  media_col: str = "media") -> DataFrame:
    """``heif_meta_walk`` over a binary column via ``mapInPandas`` —
    no shuffle, one typed row per blob (the mp4/webp metadata twin)."""
    return map_blobs(media_df, heif_meta_walk, HEIF_META_SCHEMA, id_col, media_col)


def synth_heif_docs(ids_df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """HEIF/AVIF fixture, closed-form in doc_id ``d``:

    - brand: avif when d%2=0 else heic (→ codec av01 / hvc1)
    - dims: 64·(1 + d%5) × 48·(1 + d%4)
    - bit depth: [8, 10, 12][d%3], channels 3
    - alpha aux item when d%3=0; Exif item when d%4=0
    - every 7th doc is a grid image with 2 + d%3 tiles
    """
    return synth_blobs(ids_df, lambda d: heif_encode_fixture(
        brand="avif" if d % 2 == 0 else "heic",
        width=64 * (1 + d % 5),
        height=48 * (1 + d % 4),
        bit_depth=[8, 10, 12][d % 3],
        n_channels=3,
        alpha=d % 3 == 0,
        grid_tiles=(2 + d % 3) if d % 7 == 0 else 0,
        exif=d % 4 == 0,
    ), id_col, rows_per_task=1024)
