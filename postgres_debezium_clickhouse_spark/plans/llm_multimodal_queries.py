"""Multimodal family: byte stats, features, thumbnails, frame sampling, REAL PNG/WAV/Y4M decode (+dead-letter routing), resize, audio energy, and the composed media pipeline.

Split out of plans/llm_queries.py (r7 verdict item 8); the
aggregator there merges every family's QUERIES/ORACLES so the driver
contract (__spark_entry__._MODULES) is unchanged.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.audio import decode_waveforms, synth_waveforms
from ..operators.imaging import decode_images, synth_images
from ..operators.multimodal import (
    attach_fake_media,
    extract_features,
    media_byte_stats,
    resize_media,
    sample_frames,
)
from ..operators.video import decode_video_frames, synth_videos
from ..sources.files import load_table


def q_multimodal_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    return media_byte_stats(attach_fake_media(load_table(spark, sf_dir, "documents")))


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched mapInPandas feature extraction (the decode stub) —
    fully oracle-checked: the fake decode is a byte-mod-4 histogram over
    the utf-8 text bytes, which DuckDB reproduces character-wise (the
    fixture text is pure ASCII, so ascii(char) == byte).

    The feature vector is posexploded to scalar (pos, value) rows: the
    driver's canonicalizer sorts every output column and cannot sort an
    array column, so registered queries must emit scalar columns only
    (enforced by tests/test_registry.py)."""
    media = attach_fake_media(load_table(spark, sf_dir, "documents"))
    return extract_features(media).select(
        "doc_id",
        "n_bytes",
        F.posexplode("feature").alias("feature_pos", "feature_value"),
    ).withColumn("feature_pos", F.col("feature_pos").cast("long"))


def q_multimodal_thumbnails(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize plumbing (mapInPandas; stubbed resampler) — the projected
    (id, dims) output is deterministic, so the Arrow round trip itself is
    oracle-checked; byte-level size invariants live in
    tests/test_multimodal.py."""
    media = attach_fake_media(load_table(spark, sf_dir, "documents"))
    return resize_media(media, width=8, height=8).select("doc_id", "width", "height")


def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling (one blob → N rows via mapInPandas) — the expansion
    cardinality is deterministic and oracle-checked."""
    media = attach_fake_media(load_table(spark, sf_dir, "documents"))
    return sample_frames(media, n_frames=4).select("doc_id", "frame_index")


def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode (r5): synthesize a real PNG per document (pixel
    values a closed-form function of doc_id; scanline filters cycling 0-4)
    or, every 4th doc, a JPEG header — then run the stdlib decoder
    (operators/imaging.py) and emit integer-exact channel sums.  The
    DuckDB oracle recomputes the sums from the pixel formula with range()
    cross joins, so chunk parsing, CRC checks, zlib inflate, and all five
    un-filter branches are value-checked end-to-end."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return decode_images(synth_images(docs))


def q_multimodal_decode_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r10 (verdict item 8), r16 adds PROGRESSIVE — REAL JPEG decode: a
    full SOI→…→EOI stream per document (operators/jpeg.py, T.81;
    all-ones quant tables) — every ODD doc a multi-scan SOF2
    progressive stream (Annex G spectral selection + successive
    approximation, the majority real-web coding), every even doc
    baseline SOF0 — decoded by the engine's Huffman+IDCT path and
    compared sample-by-sample against the fixture's closed-form
    quadratic pixels.  Dims are oracle-exact; the pixel comparison uses
    the accuracy-verdict pattern (``pixels_ok`` = max |err| ≤ 4, the
    ANALYTIC rounding bound of a quant=1 transform round trip — 0.5
    coefficient rounding × ‖IDCT basis‖₁² + output rounding; the two
    processes reconstruct IDENTICAL coefficients, so the bound is
    process-independent).  Arithmetic/hierarchical/12-bit variants stay
    honest dead-letter classes (tests/test_jpeg.py)."""
    from ..operators.imaging import jpeg_roundtrip_check, synth_jpeg_images

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return jpeg_roundtrip_check(synth_jpeg_images(docs))


def q_multimodal_decode_gif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r10 — REAL GIF decode (operators/gif.py: sub-block reassembly +
    full LZW with code-width growth + palette lookup + 4-pass
    de-interlacing on every 3rd doc), through the same decode_images
    stats path as PNG.  GIF is lossless, so the channel sums are
    INTEGER-EXACT closed forms the DuckDB oracle recomputes from the
    palette/index formulas — the strongest oracle class, unlike JPEG's
    tolerance band."""
    from ..operators.imaging import synth_gif_images

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return decode_images(synth_gif_images(docs))


def q_multimodal_decode_formats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r10 — the five-real-format story under ONE oracle: each document
    becomes a PNG / GIF / BMP / TIFF (by doc_id mod 4; TIFF alternating
    byte order, multi-strip; GIF per-pixel palette) carrying the SAME
    closed-form pixels, decoded through the shared decode_images stats
    path.  All four containers are lossless, so a single DuckDB px CTE
    value-checks every container/codec branch — a regression in any one
    format's parser shows as that format's rows mismatching."""
    from ..operators.imaging import synth_multiformat_images

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return decode_images(synth_multiformat_images(docs))


def q_multimodal_decode_deadletter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dead-letter decode (r6): the reference's poison-message policy
    (``kafka_skip_broken_messages = 1``, basic_example/clickhouse.sql:20)
    applied to media blobs.  The fixture deterministically corrupts doc
    subsets (doc_id % 10 = 2 → truncated mid-structure, ValueError class;
    doc_id % 10 = 7 → magic destroyed, NotImplementedError class); the
    permissive decoder routes each corrupt blob to one ``err`` row while
    every clean blob still decodes to oracle-exact stats — so BOTH the
    survival and the routing are value-checked, not just 'did not crash'."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return decode_images(synth_images(docs, corrupt_every=10), strict=False)


def q_multimodal_netpbm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r14 — Netpbm PGM/PPM decode, all four variants under one oracle
    (P2/P5/P3/P6 by doc_id mod 4 — ASCII and raw, gray and RGB, each
    with a header comment so the comment-skip path is driver-gated):
    the zero-dependency interchange format every image tool can write,
    decoded by the first-principles parser in operators/imaging.py
    (``pnm_decode``) through the shared decode_images stats path.  PGM
    rows carry sum_r only (1 channel); the DuckDB oracle recomputes
    every stat from the multiformat pixel closed form."""
    from ..operators.imaging import synth_netpbm_images

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return decode_images(synth_netpbm_images(docs))


def q_multimodal_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode (r5): a real RIFF/WAVE (16-bit PCM) per document
    with closed-form samples, decoded by the stdlib ``wave`` path
    (operators/audio.py) into integer-exact sample stats; the DuckDB
    oracle recomputes them from the sample formula."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return decode_waveforms(synth_waveforms(docs))


def q_multimodal_audio_g711(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r10 — G.711 telephony WAV decode (format tags 7 µ-law / 6 A-law,
    alternating per doc): the manual RIFF walk for non-PCM tags + both
    ITU expansion tables (audioop-verified), emitting integer-exact
    sample stats the DuckDB oracle recomputes from the closed-form code
    bytes through the same expansion arithmetic."""
    from ..operators.audio import synth_g711_waveforms

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return decode_waveforms(synth_g711_waveforms(docs))


def q_multimodal_audio_aiff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r14 — REAL AIFF decode: a FORM/AIFF (16-bit big-endian PCM) per
    document with closed-form samples, decoded by the first-principles
    chunk walk in operators/audio.py (``aiff_decode``) — the big-endian
    sibling of the WAV path, plus the format's one oddity: the COMM
    sample rate is an 80-bit IEEE extended float, decoded exactly for
    the odd-mantissa rates the fixture plants (11025/22050/33075).  The
    DuckDB oracle recomputes the integer sample stats from the sample
    formula."""
    from ..operators.audio import synth_aiff_waveforms

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return decode_waveforms(synth_aiff_waveforms(docs))


def q_multimodal_audio_adpcm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r10 — IMA/DVI ADPCM WAV decode (format tag 0x11, the
    block-structured compressed codec real RIFF files actually use):
    per doc a one-block mono stream with closed-form initial state
    (pred₀ = 37d mod 2048 − 1024, idx₀ = d mod 89) and nibble stream
    (nibble(j) = (d + 3j) mod 16; 16/24/32 nibbles by d mod 3), decoded
    by the engine's RIFF walk + state machine and emitted as
    per-sample rows.  The DuckDB oracle runs the SAME state machine as
    a recursive CTE over the step/index tables — a full value oracle
    for a stateful codec, the strongest check the format admits."""
    from pyspark.sql import types as T

    from ..operators.audio import decode_audio, wav_encode_ima_adpcm

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("pos", T.IntegerType()),
            T.StructField("sample", T.IntegerType()),
        ]
    )

    def _run(batches):
        import pandas as pd

        for pdf in batches:
            ids, poss, samples = [], [], []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                n = 16 + 8 * (d % 3)
                nibs = [(d + 3 * j) % 16 for j in range(n)]
                blob = wav_encode_ima_adpcm(
                    [nibs], [((d * 37) % 2048) - 1024], [d % 89]
                )
                dec = decode_audio(blob)
                for pos, s in enumerate(dec["samples"]):
                    ids.append(d)
                    poss.append(pos)
                    samples.append(s)
            yield pd.DataFrame({"doc_id": ids, "pos": poss, "sample": samples})

    return docs.mapInPandas(_run, schema=schema)


def q_multimodal_audio_msadpcm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r10 — MS ADPCM WAV decode (format tag 2, completing the
    compressed-WAV family: PCM/A-law/µ-law/IMA/MS all REAL): per doc a
    one-block mono stream with closed-form header state (coef index
    d mod 7, delta 200+(d mod 301), history samples from d arithmetic)
    and nibble stream (d + 5j mod 16; 12..20 nibbles by d mod 5),
    decoded by the engine's two-tap predictor state machine and emitted
    per-sample.  The DuckDB oracle runs the SAME machine as a recursive
    CTE over the coefficient/adaptation tables with explicit truncating
    division — full value oracle, like the IMA one."""
    from pyspark.sql import types as T

    from ..operators.audio import decode_audio, wav_encode_ms_adpcm

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("pos", T.IntegerType()),
            T.StructField("sample", T.IntegerType()),
        ]
    )

    def _run(batches):
        import pandas as pd

        for pdf in batches:
            ids, poss, samples = [], [], []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                n = 12 + 2 * (d % 5)
                nibs = [(d + 5 * j) % 16 for j in range(n)]
                blob = wav_encode_ms_adpcm(
                    [nibs], [d % 7], [200 + (d % 301)],
                    [((d * 53) % 4001) - 2000], [((d * 29) % 4001) - 2000],
                )
                dec = decode_audio(blob)
                for pos, s in enumerate(dec["samples"]):
                    ids.append(d)
                    poss.append(pos)
                    samples.append(s)
            yield pd.DataFrame({"doc_id": ids, "pos": poss, "sample": samples})

    return docs.mapInPandas(_run, schema=schema)


def q_multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r6: audio feature extraction — windowed energy (integer-exact
    Σ sample² per 16-frame window, summed over channels) + peak amplitude
    over REAL decoded WAV fixtures; the silence-trim/clipping-gate shape.
    The oracle recomputes every window from the closed-form sample
    formula, so decode AND windowing are value-checked."""
    from ..operators.audio import audio_energy_windows

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return audio_energy_windows(synth_waveforms(docs), window_frames=16)


def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r6: REAL image resize — nearest-neighbor over actually-decoded PNG
    pixels to a fixed 4×4 (the normalize-for-training shape), emitting
    integer-exact channel sums of the resized image.  The oracle maps
    every output pixel back to its source coordinate (x*src_w//4) and
    recomputes the sum from the pixel formula, so decode AND the resample
    index math are value-checked.  JPEG (header-only) rows: dims, NULL
    sums."""
    from ..operators.imaging import resize_images

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return resize_images(synth_images(docs), width=4, height=4)


def q_multimodal_video(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video-container decode (r5): a real Y4M stream per document
    (closed-form plane bytes), walked by the stdlib decoder
    (operators/video.py) into one row per frame with integer-exact plane
    sums — frame sampling over actual decoded video, not a byte-slicing
    stand-in.  The DuckDB oracle recomputes every frame's stats from the
    byte formula."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return decode_video_frames(synth_videos(docs))


def q_llm_multimodal_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed media curation: synth corpus (doc_id %10∈{2,7} corrupt) →
    permissive decode (corrupt → 'deadletter') → size gate (< 20 px →
    'too_small') → brightness gate on DECODED pixel sums, integer-exact
    (PNG mean pixel < 120 ⟺ sum_rgb < 360·n_pixels → 'too_dark'; JPEG
    rows are header-only by the decoder's honest contract and pass by
    policy) → md5 export shard for survivors.  Every stage is a map-only
    expression over the dead-letter decode — the whole pipeline is one
    mapInPandas + one projection, no shuffle until a downstream consumer
    groups by shard."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    decoded = decode_images(synth_images(docs, corrupt_every=10), strict=False)
    sum_rgb = F.col("sum_r") + F.col("sum_g") + F.col("sum_b")
    stage = (
        F.when(F.col("err").isNotNull(), F.lit("deadletter"))
        .when(F.col("n_pixels") < 20, F.lit("too_small"))
        .when(
            (F.col("format") == "png") & (sum_rgb < 360 * F.col("n_pixels")),
            F.lit("too_dark"),
        )
        .otherwise(F.lit("survived"))
    )
    h = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
    return decoded.select(
        "doc_id",
        stage.alias("stage"),
        "n_pixels",
        F.when(stage == "survived", (h.cast("long") % 8).cast("int")).alias("shard"),
    )


def q_multimodal_png_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r13 — PNG textual-metadata extraction (the spec's tEXt / zTXt /
    iTXt chunks; operators/imaging.png_text_metadata): every doc's
    fixture PNG carries deterministic Title/Software tEXt chunks, a
    zlib-deflated zTXt Comment on doc_id %5, and a non-ASCII UTF-8 iTXt
    Description on %7 — so the NUL-separated layouts, the deflate path,
    and the UTF-8 decode are all value-checked against the closed
    forms.  The malformed-chunk ValueError contract is fuzz-pinned in
    tests/test_imaging.py."""
    from ..operators.imaging import png_metadata_rows, synth_text_pngs

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return png_metadata_rows(synth_text_pngs(docs))


def q_multimodal_jpeg_exif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r14 — JPEG EXIF/APP1 extraction (operators/imaging.
    jpeg_exif_metadata): APP1 is a TIFF IFD in a JPEG wrapper, parsed
    with the same IFD discipline as tiff_decode — both byte orders
    (fixture: MM on odd ids, II on even), orientation 1-8, ASCII
    Make/Model/DateTime, the Exif sub-IFD (DateTimeOriginal +
    ExposureTime RATIONAL), GPS-absent planted, and a no-APP1-at-all
    case on doc_id %3 (has_exif=false is data, not an error).  The
    corruption ValueError contract rides the byte-flip fuzz sweep in
    tests/test_imaging.py — the natural sibling of r13's PNG
    tEXt/zTXt/iTXt family."""
    from ..operators.imaging import jpeg_exif_rows, synth_exif_jpegs

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return jpeg_exif_rows(synth_exif_jpegs(docs))


def q_multimodal_webdataset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r15 — WebDataset TAR-shard round trip (sources/webdataset.py:
    the de-facto multimodal training-shard layout — one sample = the
    adjacent member files sharing a basename, one modality per
    extension).  The documents table is written as FOUR deterministic
    ``.tar`` shards (per doc: a ``.txt`` body + a ``.json`` metadata
    sidecar — the text/caption pairing every CLIP-style pipeline
    ships), untarred executor-side, and regrouped per sample with one
    hash aggregate.  Full value oracle: key, sidecar fields, body
    char count, and the 2-files-per-sample contract restated from the
    fixture."""
    import json as _json
    import os as _os

    from ..sources.webdataset import read_webdataset, webdataset_encode_shard
    from ._scratch import scratch
    from .ops_queries import _write_fixture_segments

    with scratch(spark, "wds") as s:
        src = s.dir("src")
        _os.makedirs(src, exist_ok=True)

        def encode_segment(seg: int, rows: list[dict]) -> None:
            samples = [{
                "key": str(int(r["doc_id"])),
                "files": {
                    "txt": str(r["text"]).encode(),
                    "json": _json.dumps(
                        {"lang": r["lang"], "n_chars": int(r["n_chars"])},
                        separators=(",", ":"),
                    ).encode(),
                },
            } for r in rows]
            with open(f"{src}/shard-{seg}.tar", "wb") as fh:
                fh.write(webdataset_encode_shard(samples))

        _write_fixture_segments(
            load_table(spark, sf_dir, "documents")
            .select("doc_id", "text", "lang", "n_chars"),
            encode_segment,
        )
        members = read_webdataset(spark, src)
        per = members.groupBy("sample_key").agg(
            F.max(F.when(F.col("ext") == "txt",
                         F.length(F.col("content").cast("string"))))
            .alias("n_txt_chars"),
            F.max(F.when(F.col("ext") == "json",
                         F.col("content").cast("string")))
            .alias("__meta"),
            F.count(F.lit(1)).alias("n_files"),
        )
        return s.materialize(
            per.select(
                F.col("sample_key").cast("long").alias("doc_id"),
                F.get_json_object("__meta", "$.lang").alias("lang"),
                F.get_json_object("__meta", "$.n_chars").cast("long")
                .alias("meta_n_chars"),
                F.col("n_txt_chars").cast("long").alias("n_txt_chars"),
                F.col("n_files").cast("long").alias("n_files"),
            )
        )


def q_multimodal_audio_mp3_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r16 (verdict item 8) — MP3 metadata walk (operators/audio.py
    ``mp3_meta_walk``): crawl audio is mostly MP3 and full MDCT decode
    is out of scope, but the frame-header walk (sync / bitrate /
    sample-rate / channel-mode per ISO 11172-3, Xing VBR header,
    frame-exact duration) + ID3v2.3 tag extraction give the triage
    signal the pipeline needs — exactly as JPEG EXIF did in r14, while
    sample decode keeps raising honestly.  The fixture is
    frame-accurate (every frame length from the public 144000·kbps/sr
    formula; VBR docs alternate 128/192 with a Xing frame count), so
    the DuckDB oracle can restate every column from the doc_id closed
    form — duration arithmetic included."""
    from ..operators.audio import mp3_metadata, synth_mp3_streams

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return mp3_metadata(synth_mp3_streams(docs))


def q_multimodal_audio_flac_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r16 — FLAC metadata walk (operators/audio.py ``flac_meta_walk``):
    the lossless-audio sibling of the MP3 triage path — STREAMINFO
    (20-bit sample rate / 3-bit channels / 5-bit bps / 36-bit total
    samples / stream MD5, all bit-packed per the public xiph spec) +
    VORBIS_COMMENT tags on every 3rd doc.  Closed-form fixture, every
    column (the hex MD5 included) restated by the DuckDB oracle."""
    from ..operators.audio import flac_metadata, synth_flac_streams

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return flac_metadata(synth_flac_streams(docs))


def q_multimodal_pdf_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r16 — PDF metadata walk (operators/pdfmeta.py): the
    highest-volume crawl DOCUMENT format triaged without a renderer —
    classic xref tables with the /Prev incremental-update chain
    (newest xref wins: every 4th doc carries a real appended update
    whose replacement /Info drops the author and re-titles, exactly
    what an editor 'save' produces) on even docs, and the MODERN 1.5+
    wire on odd docs — /Type /XRef FlateDecode cross-reference STREAMS
    (W-tuple entries, PNG Up-predictor on every 4th) with the catalog/
    pages/Info compressed into a /Type /ObjStm object stream —
    /Root→/Pages/Count page walk, /Info strings with escape handling.
    /Encrypt still raises honestly.  Byte-offset-correct fixtures; every
    column restated by the DuckDB closed form."""
    from ..operators.pdfmeta import pdf_metadata, synth_pdf_docs

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return pdf_metadata(synth_pdf_docs(docs))


def q_multimodal_video_mp4_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r17 — MP4/ISOBMFF metadata walk (operators/mp4.py): the decode-
    vs-skip triage signal for the dominant crawl VIDEO container,
    closing the last modality with no metadata path (only Y4M decoded).
    ISO/IEC 14496-12 box grammar: ftyp brand, moov/mvhd timescale +
    duration (both v0 and v1 64-bit layouts — every 4th doc), per-trak
    tkhd 16.16 dims, hdlr vide/soun routing, stsd codec fourcc
    (avc1/hvc1/mp4a), stts/stsz sample counts cross-checked.
    Encrypted (pssh/encv) files dead-letter honestly; fragmented files
    are walked since r18 (see multimodal_video_fmp4_meta).  Spec-shaped
    fixtures; every column restated by the DuckDB closed form."""
    from ..operators.mp4 import mp4_metadata, synth_mp4_docs

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return mp4_metadata(synth_mp4_docs(docs))


def q_multimodal_webp_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r17 — WebP header walk (operators/webp.py): the most common
    modern web image format, previously invisible to the imaging
    suite.  All three RIFF wire variants with their different
    bit-packings: VP8 lossy (frame tag + 9D012A start code + 14-bit
    dims), VP8L lossless (0x2F + packed 32-bit width/height/alpha/
    version), VP8X extended (flag byte + 24-bit canvas dims, ANIM/ANMF
    animation chunks counted, EXIF presence).  Reserved-bit and
    consistency violations dead-letter.  Bit-exact fixtures; every
    column restated by the DuckDB closed form."""
    from ..operators.webp import synth_webp_docs, webp_metadata

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return webp_metadata(synth_webp_docs(docs))


def q_multimodal_webm_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r17 — WebM/Matroska EBML metadata walk (operators/mkv.py): the
    second half of the crawl video-triage story next to the MP4 walk
    (r16 verdict: "mp4/webm dead-letter with no metadata extracted").
    EBML varint grammar (id keeps its marker bit, size drops it),
    DocType, Segment/Info TimestampScale (default AND non-default
    paths) + float Duration, per-TrackEntry type/CodecID/pixel dims;
    stops at the first Cluster so cost is header-bounded.  Encrypted
    tracks and unknown-size (streamed) elements dead-letter honestly.
    Spec-shaped fixtures; every column restated closed-form."""
    from ..operators.mkv import mkv_metadata, synth_mkv_docs

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return mkv_metadata(synth_mkv_docs(docs))


def q_multimodal_audio_ogg_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r18 — Ogg container metadata walk (operators/ogg.py): the one
    common crawl audio container that had zero triage (Vorbis/Opus
    podcasts were invisible while MP3/FLAC/WAV/MP4-audio all had
    walks; r17 verdict item 2).  RFC 3533 page grammar with CRC
    verification (poly 0x04C11DB7 MSB-first) and cross-page packet
    reassembly via lacing + continuation flags; Vorbis I identification
    + comment headers and RFC 7845 OpusHead/OpusTags; duration from
    the last granule position (PCM samples for vorbis, 48 kHz ticks
    minus pre-skip for opus).  Every 5th fixture doc spans its comment
    packet across two pages — the reassembly path is on the oracle
    path, not just unit-tested.  Chained/grouped streams and
    non-Vorbis/Opus codecs dead-letter honestly.  Every column
    restated by the DuckDB closed form."""
    from ..operators.ogg import ogg_metadata, synth_ogg_docs

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return ogg_metadata(synth_ogg_docs(docs))


def q_multimodal_gzip_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r18 — gzip member walk (operators/compressed.py): bare .gz
    payload triage (RFC 1952) — FLG field grammar, multi-member files
    (spec-legal concatenations), deflate bodies skipped via raw zlib
    (no length prefix exists), CRC32 + ISIZE trailers VERIFIED against
    the inflated bytes.  Cross-validated against stdlib gzip in both
    directions (our writer read by gzip.decompress, gzip.compress read
    by our walk).  total_compressed is deflate-dependent and excluded
    from the oracle projection; every other column restated
    closed-form."""
    from ..operators.compressed import gzip_metadata, synth_gzip_docs

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return gzip_metadata(synth_gzip_docs(docs)).drop("total_compressed")


def q_multimodal_zstd_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r18 — Zstandard frame walk (operators/compressed.py): .zst is
    the fastest-growing archive envelope in public dumps and had zero
    triage.  RFC 8878 structure with NO decompression: frame-header
    descriptor field grammar (single-segment, dict-id widths, content-
    size flag incl. the 2-byte minus-256 form), window descriptor →
    window_log, block chain stepped via 3-byte headers (raw/RLE/
    compressed; reserved dead-letters), optional checksum, skippable
    frames counted.  No zstd codec exists in this container
    (env-blocked like libwebp) — fixtures are RAW-block frames any
    real zstd decodes, written from the spec field tables.  Every
    column restated by the DuckDB closed form."""
    from ..operators.compressed import synth_zstd_docs, zstd_metadata

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return zstd_metadata(synth_zstd_docs(docs))


def q_multimodal_subtitles_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r18 — SRT/WebVTT subtitle parsing (operators/subtitles.py): the
    text-from-video modality — subtitle sidecars are the highest-
    quality aligned text crawled video carries, and none of it was
    extractable before.  SubRip blocks (numeric index, comma-millis
    timings, multi-line text) and W3C WebVTT (signature, dot-millis
    with optional hours, cue identifiers, cue settings after the
    arrow, NOTE blocks skipped, ``<b>/<c.class>/<v>``/karaoke markup
    stripped); timing sanity enforced (end>start, SRT monotonic
    starts, 59-capped fields).  Per-doc stats: cue count, first/last
    timestamps, total speech time, joined text.  Every column restated
    by the DuckDB closed form (the VTT markup-strip and SRT multi-line
    join land on the same canonical text)."""
    from ..operators.subtitles import subtitle_stats, synth_subtitle_docs

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return subtitle_stats(synth_subtitle_docs(docs))


def q_multimodal_exif_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r18 — EXIF extraction (operators/exif.py): the camera/provenance
    plane the imaging suite only FLAGGED until now (webp/heif carry
    has_exif booleans; nothing read the IFDs).  TIFF 6.0 IFD grammar in
    both byte orders, inline-vs-offset values, IFD0 (make/model/
    orientation) → Exif sub-IFD (capture time, ISO, rationals exposed
    as exact integer micro-units — f_number_x100, exposure_us,
    focal_mm_x10 — zero float risk in the oracle) → GPS-IFD presence
    (a PII curation signal); embedded via all four public container
    routes: JPEG APP1 'Exif\\0\\0', bare TIFF, WebP EXIF chunk, PNG
    eXIf.  EXIF ABSENCE is data (has_exif=false, NULL fields), not an
    error — most crawled images carry none.  Every column restated by
    the DuckDB closed form."""
    from ..operators.exif import exif_metadata, synth_exif_docs

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return exif_metadata(synth_exif_docs(docs))


def q_multimodal_video_fmp4_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r18 — FRAGMENTED MP4 (DASH/CMAF) accounting (operators/mp4.py,
    r17 verdict item 4): segmented video is a large share of real
    crawled video and used to dead-letter.  The walk now reads
    moov/mvex (trex per-track defaults, optional mehd declared total)
    and sums sample counts + durations across every moof/traf/trun —
    per-sample trun durations, tfhd default, and trex default are all
    on the fixture path (even/odd/override fragments), and the mehd
    total is cross-checked against the trun sum (mismatch = corrupt,
    the stts/stsz discipline).  Encrypted fragments (senc) stay an
    honest refusal.  Every column restated by the DuckDB closed
    form."""
    from ..operators.mp4 import fmp4_metadata, synth_fmp4_docs

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return fmp4_metadata(synth_fmp4_docs(docs))


def q_multimodal_image_avif_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r18 — AVIF/HEIF header walk (operators/heif.py): the fastest-
    growing modern image formats are ISOBMFF files (r17 verdict
    item 3); the box iterator is reused from the MP4 walk and the HEIF
    item layer (ISO/IEC 23008-12) is read on top: ftyp brand routing
    (avif → av01, heic → hvc1), pitm primary item, iinf/infe item
    types, ispe dims + pixi bit depth through the ipma property-
    association table, iref auxl (alpha) / dimg (grid tiles) / cdsc
    (EXIF) references.  AV1/HEVC payload decode stays an honest
    refusal, and decode_image now routes these brands there instead of
    'unknown format'.  Every column restated by the DuckDB closed
    form."""
    from ..operators.heif import heif_metadata, synth_heif_docs

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return heif_metadata(synth_heif_docs(docs))


def q_multimodal_decode_vp8l(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r17 — FULL VP8L (lossless WebP) pixel decode (operators/vp8l.py,
    the r16 stretch goal): canonical prefix codes in both wire forms,
    color cache, LZ77 with the 2D distance neighborhood, and all four
    transforms.  The fixture cycles the encoder across plain literals,
    LZ77 runs, a 16-slot color cache, subtract-green + every one of the
    14 predictor modes, and a real varying alpha plane; the DuckDB
    oracle recomputes width/height/channel sums/distinct count from the
    closed-form pixel formulas — the stats come from DECODED pixels, so
    one wrong pixel anywhere fails the hash.  No WebP codec exists in
    this container (env-blocked like live services); hand-built
    bitstream oracles in tests/test_vp8l.py are the compensating
    evidence."""
    from ..operators.vp8l import synth_vp8l_docs, vp8l_pixel_stats

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return vp8l_pixel_stats(synth_vp8l_docs(docs))


def q_multimodal_pdf_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r17 — PDF TEXT EXTRACTION (operators/pdfmeta.py pdf_text_walk):
    after the metadata triage, the step a training pipeline actually
    needs from the highest-volume document format — page-tree walk,
    /Contents streams (FlateDecode and raw, single and two-stream
    arrays) lexed as postfix content programs: Tj / ' / " / TJ shows,
    Td/TD/T* line advances → newlines.  Composite (Type0/CID) fonts
    dead-letter honestly — extracting those needs the font CMap.  One
    row per PAGE (the row-expansion shape); the oracle restates every
    page's full text string closed-form."""
    from ..operators.pdfmeta import pdf_page_text, synth_pdf_text_docs

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return pdf_page_text(synth_pdf_text_docs(docs))


def q_multimodal_office_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r16 — ZIP container walk + Office/EPUB metadata
    (operators/containers.py): docx/xlsx/pptx are OPC zips and epub is
    a zip with a stored ``mimetype`` member — the office-document slice
    of crawl data triaged via the PKWARE central directory (EOCD scan,
    per-entry method/size/CRC, member reads through local headers with
    CRC verification) and Dublin-Core docProps.  The fixture writer is
    the INDEPENDENT stdlib ``zipfile`` module, so the walk is checked
    against a public writer, not a self round-trip; the DuckDB oracle
    restates kind/member-count/payload-bytes/title/creator closed-form
    from doc_id."""
    from ..operators.containers import office_metadata, synth_office_docs

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return office_metadata(synth_office_docs(docs))


QUERIES = {
    "multimodal_webdataset": q_multimodal_webdataset,
    "multimodal_jpeg_exif": q_multimodal_jpeg_exif,
    "multimodal_png_metadata": q_multimodal_png_metadata,
    "multimodal_byte_stats": q_multimodal_bytes,
    "multimodal_features": q_multimodal_features,
    "multimodal_thumbnails": q_multimodal_thumbnails,
    "multimodal_frames": q_multimodal_frames,
    "multimodal_decode": q_multimodal_decode,
    "multimodal_decode_jpeg": q_multimodal_decode_jpeg,
    "multimodal_decode_gif": q_multimodal_decode_gif,
    "multimodal_decode_formats": q_multimodal_decode_formats,
    "multimodal_decode_deadletter": q_multimodal_decode_deadletter,
    "multimodal_audio_decode": q_multimodal_audio,
    "multimodal_audio_g711": q_multimodal_audio_g711,
    "multimodal_audio_aiff": q_multimodal_audio_aiff,
    "multimodal_netpbm_decode": q_multimodal_netpbm,
    "multimodal_audio_adpcm": q_multimodal_audio_adpcm,
    "multimodal_audio_msadpcm": q_multimodal_audio_msadpcm,
    "multimodal_audio_mp3_meta": q_multimodal_audio_mp3_meta,
    "multimodal_audio_flac_meta": q_multimodal_audio_flac_meta,
    "multimodal_pdf_meta": q_multimodal_pdf_meta,
    "multimodal_office_meta": q_multimodal_office_meta,
    "multimodal_video_mp4_meta": q_multimodal_video_mp4_meta,
    "multimodal_webp_meta": q_multimodal_webp_meta,
    "multimodal_webm_meta": q_multimodal_webm_meta,
    "multimodal_audio_ogg_meta": q_multimodal_audio_ogg_meta,
    "multimodal_image_avif_meta": q_multimodal_image_avif_meta,
    "multimodal_video_fmp4_meta": q_multimodal_video_fmp4_meta,
    "multimodal_exif_meta": q_multimodal_exif_meta,
    "multimodal_subtitles_meta": q_multimodal_subtitles_meta,
    "multimodal_gzip_members": q_multimodal_gzip_members,
    "multimodal_zstd_frames": q_multimodal_zstd_frames,
    "multimodal_decode_vp8l": q_multimodal_decode_vp8l,
    "multimodal_pdf_text": q_multimodal_pdf_text,
    "multimodal_audio_features": q_multimodal_audio_features,
    "multimodal_resize_real": q_multimodal_resize,
    "multimodal_video_frames": q_multimodal_video,
    "llm_multimodal_pipeline": q_llm_multimodal_pipeline,
}

ORACLES = {
    "multimodal_webdataset": """
        SELECT doc_id, lang,
               CAST(n_chars AS BIGINT) AS meta_n_chars,
               CAST(length(text) AS BIGINT) AS n_txt_chars,
               CAST(2 AS BIGINT) AS n_files
        FROM documents
    """,
    "multimodal_jpeg_exif": """
        SELECT doc_id,
               (doc_id % 3 <> 0) AS has_exif,
               CASE WHEN doc_id % 3 = 0 THEN NULL
                    WHEN doc_id % 2 = 1 THEN 'MM' ELSE 'II' END AS byte_order,
               CASE WHEN doc_id % 3 <> 0 THEN CAST(5 AS INT) END AS n_ifd0,
               CASE WHEN doc_id % 3 <> 0
                    THEN CAST(doc_id % 8 + 1 AS INT) END AS orientation,
               CASE WHEN doc_id % 3 <> 0 THEN 'pdc' END AS make,
               CASE WHEN doc_id % 3 <> 0
                    THEN 'cam ' || CAST(doc_id % 4 AS VARCHAR) END AS model,
               CASE WHEN doc_id % 3 <> 0 THEN
                   '2024:03:' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
                   || ' 10:' || lpad(CAST(doc_id % 60 AS VARCHAR), 2, '0')
                   || ':33' END AS datetime,
               CASE WHEN doc_id % 3 <> 0 THEN
                   '2023:12:' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
                   || ' 08:' || lpad(CAST((doc_id * 7) % 60 AS VARCHAR), 2, '0')
                   || ':05' END AS datetime_original,
               CASE WHEN doc_id % 3 <> 0 THEN CAST(1 AS BIGINT) END
                   AS exposure_num,
               CASE WHEN doc_id % 3 <> 0
                    THEN CAST((doc_id % 5 + 1) * 125 AS BIGINT) END
                   AS exposure_den,
               CASE WHEN doc_id % 3 <> 0 THEN FALSE END AS has_gps
        FROM documents
    """,
    "multimodal_png_metadata": """
        SELECT doc_id,
               CAST(2 + CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END
                      + CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END
                    AS INT) AS n_text,
               'Title,Software'
                 || CASE WHEN doc_id % 5 = 0 THEN ',Comment' ELSE '' END
                 || CASE WHEN doc_id % 7 = 0 THEN ',Description'
                         ELSE '' END AS keywords,
               'doc ' || CAST(doc_id AS VARCHAR) AS title,
               CASE WHEN doc_id % 5 = 0
                    THEN 'comment ' || CAST(doc_id % 11 AS VARCHAR)
               END AS comment,
               CASE WHEN doc_id % 7 = 0
                    THEN 'résumé ' || CAST(doc_id % 13 AS VARCHAR)
               END AS description
        FROM documents
    """,
    "multimodal_byte_stats": """
        SELECT doc_id,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               'image' AS media_type,
               'memory://doc/' || CAST(doc_id AS VARCHAR) AS uri
        FROM documents
    """,
    "multimodal_features": """
        WITH t AS (SELECT doc_id, text, length(text) AS n FROM documents)
        SELECT doc_id,
               CAST(n AS BIGINT) AS n_bytes,
               p.i AS feature_pos,
               len(list_filter(range(1, n + 1),
                               x -> (ascii(substr(text, x, 1)) % 4) = p.i)) * 1.0
                   / GREATEST(n, 1) AS feature_value
        FROM t CROSS JOIN range(4) p(i)
    """,
    "multimodal_thumbnails": """
        SELECT doc_id, CAST(8 AS INT) AS width, CAST(8 AS INT) AS height
        FROM documents
    """,
    "multimodal_frames": """
        SELECT doc_id, CAST(t.i AS INT) AS frame_index
        FROM documents CROSS JOIN range(0, 4) t(i)
        WHERE length(text) > 0
    """,
    "multimodal_decode": """
        WITH params AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 4 = 0 THEN 'jpeg' ELSE 'png' END AS format,
                   CAST(3 + doc_id % 5 AS INT) AS width,
                   CAST(2 + doc_id % 7 AS INT) AS height
            FROM documents
        ),
        px AS (
            SELECT p.doc_id, c.c AS c,
                   (p.doc_id * 7 + (y.y * p.width + x.x) * 3 + c.c) % 256 AS v
            FROM params p
            CROSS JOIN range(8) y(y)
            CROSS JOIN range(8) x(x)
            CROSS JOIN range(3) c(c)
            WHERE p.format = 'png' AND y.y < p.height AND x.x < p.width
        ),
        stats AS (
            SELECT doc_id,
                   CAST(SUM(CASE WHEN c = 0 THEN v END) AS BIGINT) AS sum_r,
                   CAST(SUM(CASE WHEN c = 1 THEN v END) AS BIGINT) AS sum_g,
                   CAST(SUM(CASE WHEN c = 2 THEN v END) AS BIGINT) AS sum_b,
                   CAST(MIN(v) AS INT) AS min_px,
                   CAST(MAX(v) AS INT) AS max_px
            FROM px GROUP BY doc_id
        )
        SELECT p.doc_id, p.format, p.width, p.height,
               CAST(3 AS INT) AS channels,
               CAST(p.width * p.height AS BIGINT) AS n_pixels,
               s.sum_r, s.sum_g, s.sum_b, s.min_px, s.max_px
        FROM params p LEFT JOIN stats s USING (doc_id)
    """,
    "multimodal_audio_msadpcm": """
        WITH RECURSIVE
        docs AS (SELECT doc_id, 12 + 2*(doc_id%5) AS n, doc_id%7 AS ci,
                        200 + (doc_id%301) AS delta0,
                        ((doc_id*53)%4001)-2000 AS s1_0,
                        ((doc_id*29)%4001)-2000 AS s2_0
                 FROM documents),
        rec AS (
          SELECT doc_id, n, ci, 0 AS j, s1_0 AS s1, s2_0 AS s2, delta0 AS delta
          FROM docs
          UNION ALL
          SELECT doc_id, n, ci, j+1,
            GREATEST(-32768, LEAST(32767,
              (CASE WHEN s1*[256,512,0,192,240,460,392][ci+1] + s2*[0,-256,0,64,0,-208,-232][ci+1] < 0
                    THEN -((-(s1*[256,512,0,192,240,460,392][ci+1] + s2*[0,-256,0,64,0,-208,-232][ci+1]))//256)
                    ELSE (s1*[256,512,0,192,240,460,392][ci+1] + s2*[0,-256,0,64,0,-208,-232][ci+1])//256 END)
              + (CASE WHEN ((doc_id + 5*j)%16) >= 8
                      THEN ((doc_id + 5*j)%16) - 16
                      ELSE ((doc_id + 5*j)%16) END) * delta)) AS s1,
            s1 AS s2,
            GREATEST(16, ([230,230,230,230,307,409,512,614,768,614,512,409,307,230,230,230][((doc_id + 5*j)%16)+1] * delta)//256) AS delta
          FROM rec WHERE j < n
        )
        SELECT doc_id,
               CAST(CASE WHEN j = 0 THEN 0 ELSE j + 1 END AS INT) AS pos,
               CAST(CASE WHEN j = 0 THEN s2 ELSE s1 END AS INT) AS sample
        FROM rec
        UNION ALL
        SELECT doc_id, CAST(1 AS INT), CAST(s1_0 AS INT) FROM docs
    """,
    "multimodal_audio_adpcm": """
        WITH RECURSIVE
        docs AS (SELECT doc_id, 16 + 8*(doc_id%3) AS n,
                        ((doc_id*37)%2048)-1024 AS pred0, doc_id%89 AS idx0
                 FROM documents),
        rec AS (
          SELECT doc_id, n, 0 AS j, pred0 AS pred, idx0 AS idx FROM docs
          UNION ALL
          SELECT doc_id, n, j+1,
            GREATEST(-32768, LEAST(32767,
              pred + CASE WHEN ((doc_id + 3*j)%16) >= 8 THEN -1 ELSE 1 END *
                ( [7,8,9,10,11,12,13,14,16,17,19,21,23,25,28,31,34,37,41,45,50,55,60,66,73,80,88,97,107,118,130,143,157,173,190,209,230,253,279,307,337,371,408,449,494,544,598,658,724,796,876,963,1060,1166,1282,1411,1552,1707,1878,2066,2272,2499,2749,3024,3327,3660,4026,4428,4871,5358,5894,6484,7132,7845,8630,9493,10442,11487,12635,13899,15289,16818,18500,20350,22385,24623,27086,29794,32767][idx+1]//8
                + CASE WHEN ((doc_id + 3*j)%16)%2 = 1 THEN [7,8,9,10,11,12,13,14,16,17,19,21,23,25,28,31,34,37,41,45,50,55,60,66,73,80,88,97,107,118,130,143,157,173,190,209,230,253,279,307,337,371,408,449,494,544,598,658,724,796,876,963,1060,1166,1282,1411,1552,1707,1878,2066,2272,2499,2749,3024,3327,3660,4026,4428,4871,5358,5894,6484,7132,7845,8630,9493,10442,11487,12635,13899,15289,16818,18500,20350,22385,24623,27086,29794,32767][idx+1]//4 ELSE 0 END
                + CASE WHEN (((doc_id + 3*j)%16)//2)%2 = 1 THEN [7,8,9,10,11,12,13,14,16,17,19,21,23,25,28,31,34,37,41,45,50,55,60,66,73,80,88,97,107,118,130,143,157,173,190,209,230,253,279,307,337,371,408,449,494,544,598,658,724,796,876,963,1060,1166,1282,1411,1552,1707,1878,2066,2272,2499,2749,3024,3327,3660,4026,4428,4871,5358,5894,6484,7132,7845,8630,9493,10442,11487,12635,13899,15289,16818,18500,20350,22385,24623,27086,29794,32767][idx+1]//2 ELSE 0 END
                + CASE WHEN (((doc_id + 3*j)%16)//4)%2 = 1 THEN [7,8,9,10,11,12,13,14,16,17,19,21,23,25,28,31,34,37,41,45,50,55,60,66,73,80,88,97,107,118,130,143,157,173,190,209,230,253,279,307,337,371,408,449,494,544,598,658,724,796,876,963,1060,1166,1282,1411,1552,1707,1878,2066,2272,2499,2749,3024,3327,3660,4026,4428,4871,5358,5894,6484,7132,7845,8630,9493,10442,11487,12635,13899,15289,16818,18500,20350,22385,24623,27086,29794,32767][idx+1] ELSE 0 END ))),
            GREATEST(0, LEAST(88, idx + [-1,-1,-1,-1,2,4,6,8,-1,-1,-1,-1,2,4,6,8][((doc_id + 3*j)%16)+1]))
          FROM rec WHERE j < n
        )
        SELECT doc_id, CAST(j AS INT) AS pos, CAST(pred AS INT) AS sample FROM rec
    """,
    "multimodal_audio_g711": """
        WITH codes AS (
            SELECT doc_id,
                   (5 * doc_id + 7 * i.i) % 256 AS b
            FROM documents
            CROSS JOIN range(57) i(i)
            WHERE i.i < 40 + doc_id % 17
        ),
        expanded AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 2 = 0 THEN
                       -- mu-law: u = ~b; mag = ((m*8+132)<<e)-132
                       CASE WHEN (255 - b) >= 128
                            THEN -((((255 - b) % 16) * 8 + 132)
                                   * CAST(POWER(2, ((255 - b) // 16) % 8) AS BIGINT) - 132)
                            ELSE  ((((255 - b) % 16) * 8 + 132)
                                   * CAST(POWER(2, ((255 - b) // 16) % 8) AS BIGINT) - 132)
                       END
                   ELSE
                       -- A-law: u = b XOR 0x55; sign bit set = positive
                       CASE WHEN xor(b, 85) >= 128 THEN
                           CASE WHEN (xor(b, 85) // 16) % 8 = 0
                                THEN (xor(b, 85) % 16) * 16 + 8
                                ELSE ((xor(b, 85) % 16) * 16 + 264)
                                     * CAST(POWER(2, (xor(b, 85) // 16) % 8 - 1) AS BIGINT)
                           END
                       ELSE
                           -(CASE WHEN (xor(b, 85) // 16) % 8 = 0
                                  THEN (xor(b, 85) % 16) * 16 + 8
                                  ELSE ((xor(b, 85) % 16) * 16 + 264)
                                       * CAST(POWER(2, (xor(b, 85) // 16) % 8 - 1) AS BIGINT)
                             END)
                       END
                   END AS s
            FROM codes
        )
        SELECT doc_id, 'wav' AS format,
               CAST(1 AS INT) AS channels,
               CAST(8000 AS INT) AS sample_rate,
               CAST(40 + doc_id % 17 AS BIGINT) AS n_frames,
               CAST(SUM(s) AS BIGINT) AS s_sum,
               CAST(MIN(s) AS INT) AS s_min,
               CAST(MAX(s) AS INT) AS s_max
        FROM expanded GROUP BY doc_id
    """,
    "multimodal_decode_formats": """
        WITH params AS (
            SELECT doc_id,
                   CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 'png'
                        WHEN 1 THEN 'gif' WHEN 2 THEN 'bmp'
                        ELSE 'tiff' END AS format,
                   CAST(3 + doc_id % 5 AS INT) AS width,
                   CAST(2 + doc_id % 7 AS INT) AS height
            FROM documents
        ),
        px AS (
            SELECT p.doc_id, c.c AS c,
                   (p.doc_id * 7 + i.i * 3 + c.c * 5) % 256 AS v
            FROM params p
            CROSS JOIN range(56) i(i)
            CROSS JOIN range(3) c(c)
            WHERE i.i < p.width * p.height
        ),
        stats AS (
            SELECT doc_id,
                   CAST(SUM(CASE WHEN c = 0 THEN v END) AS BIGINT) AS sum_r,
                   CAST(SUM(CASE WHEN c = 1 THEN v END) AS BIGINT) AS sum_g,
                   CAST(SUM(CASE WHEN c = 2 THEN v END) AS BIGINT) AS sum_b,
                   CAST(MIN(v) AS INT) AS min_px,
                   CAST(MAX(v) AS INT) AS max_px
            FROM px GROUP BY doc_id
        )
        SELECT p.doc_id, p.format, p.width, p.height,
               CAST(3 AS INT) AS channels,
               CAST(p.width * p.height AS BIGINT) AS n_pixels,
               s.sum_r, s.sum_g, s.sum_b, s.min_px, s.max_px
        FROM params p JOIN stats s USING (doc_id)
    """,
    "multimodal_decode_gif": """
        WITH params AS (
            SELECT doc_id,
                   CAST(3 + doc_id % 5 AS INT) AS width,
                   CAST(2 + doc_id % 7 AS INT) AS height
            FROM documents
        ),
        px AS (
            SELECT p.doc_id,
                   (5 * p.doc_id + 11 * i.i) % 256 AS r
            FROM params p
            CROSS JOIN range(77) i(i)
            WHERE i.i < p.width * p.height
        ),
        stats AS (
            SELECT doc_id,
                   CAST(SUM(r) AS BIGINT) AS sum_r,
                   CAST(SUM((r * 7) % 256) AS BIGINT) AS sum_g,
                   CAST(SUM((r * 13) % 256) AS BIGINT) AS sum_b,
                   CAST(MIN(LEAST(r, (r * 7) % 256, (r * 13) % 256)) AS INT) AS min_px,
                   CAST(MAX(GREATEST(r, (r * 7) % 256, (r * 13) % 256)) AS INT) AS max_px
            FROM px GROUP BY doc_id
        )
        SELECT p.doc_id, 'gif' AS format, p.width, p.height,
               CAST(3 AS INT) AS channels,
               CAST(p.width * p.height AS BIGINT) AS n_pixels,
               s.sum_r, s.sum_g, s.sum_b, s.min_px, s.max_px
        FROM params p JOIN stats s USING (doc_id)
    """,
    "multimodal_decode_jpeg": """
        SELECT doc_id,
               'jpeg' AS format,
               CAST(8 + doc_id % 5 AS INT) AS width,
               CAST(8 + doc_id % 3 AS INT) AS height,
               CAST(3 AS INT) AS channels,
               CAST((8 + doc_id % 5) * (8 + doc_id % 3) AS BIGINT) AS n_pixels,
               true AS pixels_ok
        FROM documents
    """,
    "multimodal_decode_deadletter": """
        WITH params AS (
            SELECT doc_id,
                   doc_id % 10 IN (2, 7) AS corrupt,
                   CASE
                       WHEN doc_id % 10 = 2 AND doc_id % 4 = 0
                           THEN 'truncated JPEG SOF segment'
                       WHEN doc_id % 10 = 2
                           THEN 'truncated PNG chunk'
                       WHEN doc_id % 10 = 7
                           THEN 'no stdlib codec for this format; wire in Pillow/pyav'
                   END AS err,
                   CASE WHEN doc_id % 4 = 0 THEN 'jpeg' ELSE 'png' END AS format,
                   CAST(3 + doc_id % 5 AS INT) AS width,
                   CAST(2 + doc_id % 7 AS INT) AS height
            FROM documents
        ),
        px AS (
            SELECT p.doc_id, c.c AS c,
                   (p.doc_id * 7 + (y.y * p.width + x.x) * 3 + c.c) % 256 AS v
            FROM params p
            CROSS JOIN range(8) y(y)
            CROSS JOIN range(8) x(x)
            CROSS JOIN range(3) c(c)
            WHERE p.format = 'png' AND NOT p.corrupt
              AND y.y < p.height AND x.x < p.width
        ),
        stats AS (
            SELECT doc_id,
                   CAST(SUM(CASE WHEN c = 0 THEN v END) AS BIGINT) AS sum_r,
                   CAST(SUM(CASE WHEN c = 1 THEN v END) AS BIGINT) AS sum_g,
                   CAST(SUM(CASE WHEN c = 2 THEN v END) AS BIGINT) AS sum_b,
                   CAST(MIN(v) AS INT) AS min_px,
                   CAST(MAX(v) AS INT) AS max_px
            FROM px GROUP BY doc_id
        )
        SELECT p.doc_id,
               CASE WHEN p.corrupt THEN NULL ELSE p.format END AS format,
               CASE WHEN p.corrupt THEN NULL ELSE p.width END AS width,
               CASE WHEN p.corrupt THEN NULL ELSE p.height END AS height,
               CASE WHEN p.corrupt THEN NULL ELSE CAST(3 AS INT) END AS channels,
               CASE WHEN p.corrupt THEN NULL
                    ELSE CAST(p.width * p.height AS BIGINT) END AS n_pixels,
               s.sum_r, s.sum_g, s.sum_b, s.min_px, s.max_px,
               p.err
        FROM params p LEFT JOIN stats s USING (doc_id)
    """,
    "multimodal_audio_decode": """
        WITH params AS (
            SELECT doc_id,
                   CAST(CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 1 END AS INT) AS channels,
                   CAST(8000 + (doc_id % 4) * 4000 AS INT) AS sample_rate,
                   CAST(20 + doc_id % 50 AS BIGINT) AS n_frames
            FROM documents
        ),
        s AS (
            SELECT p.doc_id, ((p.doc_id * 31 + j.j * 7) % 2003) - 1001 AS v
            FROM params p CROSS JOIN range(140) j(j)
            WHERE j.j < p.n_frames * p.channels
        ),
        stats AS (
            SELECT doc_id, CAST(SUM(v) AS BIGINT) AS s_sum,
                   CAST(MIN(v) AS INT) AS s_min, CAST(MAX(v) AS INT) AS s_max
            FROM s GROUP BY doc_id
        )
        SELECT p.doc_id, 'wav' AS format, p.channels, p.sample_rate,
               p.n_frames, t.s_sum, t.s_min, t.s_max
        FROM params p JOIN stats t USING (doc_id)
    """,
    "multimodal_netpbm_decode": """
        WITH params AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 4 < 2 THEN 'pgm' ELSE 'ppm' END AS format,
                   CAST(CASE WHEN doc_id % 4 < 2 THEN 1 ELSE 3 END AS INT) AS ch,
                   CAST(3 + doc_id % 5 AS INT) AS width,
                   CAST(2 + doc_id % 7 AS INT) AS height
            FROM documents
        ),
        px AS (
            SELECT p.doc_id, c.c AS c,
                   (p.doc_id * 7 + i.i * 3 + c.c * 5) % 256 AS v
            FROM params p
            CROSS JOIN range(56) i(i)
            CROSS JOIN range(3) c(c)
            WHERE i.i < p.width * p.height AND c.c < p.ch
        ),
        stats AS (
            SELECT doc_id,
                   CAST(SUM(CASE WHEN c = 0 THEN v END) AS BIGINT) AS sum_r,
                   CAST(SUM(CASE WHEN c = 1 THEN v END) AS BIGINT) AS sum_g,
                   CAST(SUM(CASE WHEN c = 2 THEN v END) AS BIGINT) AS sum_b,
                   CAST(MIN(v) AS INT) AS min_px,
                   CAST(MAX(v) AS INT) AS max_px
            FROM px GROUP BY doc_id
        )
        SELECT p.doc_id, p.format, p.width, p.height,
               p.ch AS channels,
               CAST(p.width * p.height AS BIGINT) AS n_pixels,
               s.sum_r, s.sum_g, s.sum_b, s.min_px, s.max_px
        FROM params p JOIN stats s USING (doc_id)
    """,
    "multimodal_audio_aiff": """
        WITH params AS (
            SELECT doc_id,
                   CAST(CASE WHEN doc_id % 4 = 0 THEN 2 ELSE 1 END AS INT) AS channels,
                   CAST(11025 * (1 + doc_id % 3) AS INT) AS sample_rate,
                   CAST(18 + doc_id % 41 AS BIGINT) AS n_frames
            FROM documents
        ),
        s AS (
            SELECT p.doc_id, ((p.doc_id * 37 + j.j * 11) % 1999) - 999 AS v
            FROM params p CROSS JOIN range(116) j(j)
            WHERE j.j < p.n_frames * p.channels
        ),
        stats AS (
            SELECT doc_id, CAST(SUM(v) AS BIGINT) AS s_sum,
                   CAST(MIN(v) AS INT) AS s_min, CAST(MAX(v) AS INT) AS s_max
            FROM s GROUP BY doc_id
        )
        SELECT p.doc_id, 'aiff' AS format, p.channels, p.sample_rate,
               p.n_frames, t.s_sum, t.s_min, t.s_max
        FROM params p JOIN stats t USING (doc_id)
    """,
    "multimodal_audio_features": """
        WITH params AS (
            SELECT doc_id,
                   CAST(CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 1 END AS INT) AS ch,
                   CAST(20 + doc_id % 50 AS BIGINT) AS nf
            FROM documents
        ),
        s AS (
            SELECT p.doc_id, p.ch, j.j AS j,
                   ((p.doc_id * 31 + j.j * 7) % 2003) - 1001 AS v
            FROM params p CROSS JOIN range(140) j(j)
            WHERE j.j < p.nf * p.ch
        ),
        w AS (SELECT doc_id, ch, CAST(j // (16 * ch) AS INT) AS window_index, v FROM s)
        SELECT doc_id, window_index,
               CAST(COUNT(*) // ANY_VALUE(ch) AS BIGINT) AS n_frames,
               CAST(SUM(v * v) AS BIGINT) AS sq_sum,
               CAST(MAX(ABS(v)) AS INT) AS s_peak
        FROM w GROUP BY doc_id, window_index
    """,
    "multimodal_resize_real": """
        WITH params AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 4 = 0 THEN 'jpeg' ELSE 'png' END AS format,
                   CAST(3 + doc_id % 5 AS INT) AS w,
                   CAST(2 + doc_id % 7 AS INT) AS h
            FROM documents
        ),
        px AS (
            SELECT p.doc_id, c.c AS c,
                   (p.doc_id * 7
                    + ((y.y * p.h // 4) * p.w + (x.x * p.w // 4)) * 3 + c.c) % 256 AS v
            FROM params p
            CROSS JOIN range(4) y(y)
            CROSS JOIN range(4) x(x)
            CROSS JOIN range(3) c(c)
            WHERE p.format = 'png'
        ),
        stats AS (
            SELECT doc_id,
                   CAST(SUM(CASE WHEN c = 0 THEN v END) AS BIGINT) AS sum_r,
                   CAST(SUM(CASE WHEN c = 1 THEN v END) AS BIGINT) AS sum_g,
                   CAST(SUM(CASE WHEN c = 2 THEN v END) AS BIGINT) AS sum_b
            FROM px GROUP BY doc_id
        )
        SELECT p.doc_id, p.format, p.w AS src_w, p.h AS src_h,
               CAST(4 AS INT) AS width, CAST(4 AS INT) AS height,
               s.sum_r, s.sum_g, s.sum_b
        FROM params p LEFT JOIN stats s USING (doc_id)
    """,
    "multimodal_video_frames": """
        WITH params AS (
            SELECT doc_id,
                   CAST(2 + doc_id % 3 AS INT) AS width,
                   CAST(2 + doc_id % 5 AS INT) AS height,
                   CAST(1 + doc_id % 4 AS BIGINT) AS n_frames
            FROM documents
        ),
        b AS (
            SELECT p.doc_id, f.f AS fi, pl.p AS plane,
                   (p.doc_id * 11
                    + ((f.f * 3 + pl.p) * p.width * p.height + k.k) * 5) % 256 AS v
            FROM params p
            CROSS JOIN range(4) f(f)
            CROSS JOIN range(3) pl(p)
            CROSS JOIN range(24) k(k)
            WHERE f.f < p.n_frames AND k.k < p.width * p.height
        ),
        fs AS (
            SELECT doc_id, fi,
                   CAST(SUM(CASE WHEN plane = 0 THEN v END) AS BIGINT) AS sum_y,
                   CAST(SUM(CASE WHEN plane = 1 THEN v END) AS BIGINT) AS sum_u,
                   CAST(SUM(CASE WHEN plane = 2 THEN v END) AS BIGINT) AS sum_v,
                   CAST(MIN(v) AS INT) AS min_b,
                   CAST(MAX(v) AS INT) AS max_b
            FROM b GROUP BY doc_id, fi
        )
        SELECT p.doc_id, CAST(s.fi AS INT) AS frame_index, p.width, p.height,
               p.n_frames, s.sum_y, s.sum_u, s.sum_v, s.min_b, s.max_b
        FROM params p JOIN fs s USING (doc_id)
    """,
    "llm_multimodal_pipeline": """
    WITH params AS (
        SELECT doc_id,
               doc_id % 10 IN (2, 7) AS corrupt,
               CASE WHEN doc_id % 4 = 0 THEN 'jpeg' ELSE 'png' END AS format,
               CAST(3 + doc_id % 5 AS INT) AS width,
               CAST(2 + doc_id % 7 AS INT) AS height
        FROM documents
    ),
    px AS (
        SELECT p.doc_id,
               (p.doc_id * 7 + (y.y * p.width + x.x) * 3 + c.c) % 256 AS v
        FROM params p
        CROSS JOIN range(8) y(y) CROSS JOIN range(8) x(x) CROSS JOIN range(3) c(c)
        WHERE p.format = 'png' AND NOT p.corrupt
          AND y.y < p.height AND x.x < p.width
    ),
    sums AS (SELECT doc_id, SUM(v) AS sum_rgb FROM px GROUP BY doc_id),
    staged AS (
        SELECT p.doc_id,
               CASE WHEN p.corrupt THEN 'deadletter'
                    WHEN p.width * p.height < 20 THEN 'too_small'
                    WHEN p.format = 'png'
                         AND s.sum_rgb < 360 * p.width * p.height THEN 'too_dark'
                    ELSE 'survived' END AS stage,
               CASE WHEN p.corrupt THEN NULL
                    ELSE CAST(p.width * p.height AS BIGINT) END AS n_pixels
        FROM params p LEFT JOIN sums s USING (doc_id)
    )
    SELECT doc_id, stage, n_pixels,
           CASE WHEN stage = 'survived'
                THEN CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                          AS BIGINT) % 8 AS INT)
           END AS shard
    FROM staged
""",
}

ORACLES["multimodal_audio_mp3_meta"] = """
    WITH p AS (
        SELECT doc_id,
               CAST(5 + doc_id % 7 AS BIGINT) AS n_frames,
               CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 44100
                    WHEN 1 THEN 48000 ELSE 32000 END AS sr,
               doc_id % 2 = 1 AS mono,
               doc_id % 4 = 1 AS vbr
        FROM documents
    )
    SELECT doc_id,
           'track ' || doc_id AS title,
           'artist ' || (doc_id % 5) AS artist,
           'MPEG1' AS version,
           CAST(sr AS INT) AS sample_rate,
           CASE WHEN mono THEN 'mono' ELSE 'stereo' END AS mode,
           n_frames,
           CASE WHEN vbr THEN 'VBR' ELSE 'CBR' END AS bitrate_mode,
           CAST(128 AS INT) AS kbps_min,
           CAST(CASE WHEN vbr THEN 192 ELSE 128 END AS INT) AS kbps_max,
           CAST(n_frames * 1152 * 1000 // sr AS BIGINT) AS duration_ms,
           CAST(CASE WHEN vbr THEN n_frames END AS BIGINT) AS xing_frames
    FROM p
"""

ORACLES["multimodal_audio_flac_meta"] = """
    WITH p AS (
        SELECT doc_id,
               CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 44100
                    WHEN 1 THEN 48000 ELSE 96000 END AS sr,
               CAST(1 + doc_id % 2 AS INT) AS ch,
               CAST(1000 * (1 + doc_id % 11) AS BIGINT) AS total,
               doc_id % 3 = 0 AS tagged
        FROM documents
    ),
    hx AS (
        SELECT sr, ch,
               string_agg(lower(lpad(to_hex((sr + i * ch) % 256), 2, '0')), ''
                          ORDER BY i) AS md5
        FROM (SELECT DISTINCT sr, ch FROM p) CROSS JOIN range(16) t(i)
        GROUP BY sr, ch
    )
    SELECT doc_id,
           CASE WHEN tagged THEN 'flac ' || doc_id END AS title,
           CASE WHEN tagged THEN 'artist ' || (doc_id % 5) END AS artist,
           CAST(sr AS INT) AS sample_rate,
           ch AS channels,
           CAST(16 AS INT) AS bits_per_sample,
           total AS total_samples,
           CAST(total * 1000 // sr AS BIGINT) AS duration_ms,
           hx.md5 AS md5
    FROM p JOIN hx USING (sr, ch)
"""

ORACLES["multimodal_pdf_meta"] = """
    WITH p AS (
        SELECT doc_id,
               CAST(1 + doc_id % 9 AS INT) AS n_pages,
               doc_id % 5 <> 0 AS has_info,
               doc_id % 4 = 0 AND doc_id % 5 <> 0 AS incr,
               doc_id % 2 = 1 AS modern
        FROM documents
    )
    SELECT doc_id,
           CASE WHEN modern THEN '1.5' ELSE '1.4' END AS version,
           CAST(n_pages + 3 + CASE WHEN has_info THEN 1 ELSE 0 END
                + CASE WHEN modern THEN 2 ELSE 0 END AS INT) AS n_objects,
           n_pages AS page_count,
           CASE WHEN incr THEN 'doc ' || doc_id || ' v2'
                WHEN has_info THEN 'doc ' || doc_id END AS title,
           CASE WHEN has_info AND NOT incr
                THEN 'author ' || (doc_id % 7) END AS author,
           CASE WHEN has_info THEN 'pdc-spark' END AS producer
    FROM p
"""

ORACLES["multimodal_video_mp4_meta"] = """
    SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN 'isom' ELSE 'mp42' END AS brand,
           CAST(600 * (1 + doc_id % 3) AS INT) AS timescale,
           CAST(500 * (1 + doc_id % 7) AS BIGINT) AS duration_ms,
           CAST(CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 1 END AS INT)
               AS n_tracks,
           CAST(16 * (1 + doc_id % 4) AS INT) AS width,
           CAST(16 * (1 + doc_id % 3) AS INT) AS height,
           CASE WHEN doc_id % 5 <> 0 THEN 'avc1' ELSE 'hvc1' END
               AS video_codec,
           CASE WHEN doc_id % 3 = 0 THEN 'mp4a' END AS audio_codec,
           CAST(1 + doc_id % 6 AS INT) AS n_video_samples
    FROM documents
"""

ORACLES["multimodal_webp_meta"] = """
    SELECT doc_id,
           CASE doc_id % 3 WHEN 0 THEN 'lossy' WHEN 1 THEN 'lossless'
                ELSE 'extended' END AS variant,
           CAST(CASE doc_id % 3 WHEN 0 THEN 32 + doc_id % 11
                                WHEN 1 THEN 16 * (1 + doc_id % 9)
                                ELSE 100 + doc_id % 50 END AS INT) AS width,
           CAST(CASE doc_id % 3 WHEN 0 THEN 24 + doc_id % 7
                                WHEN 1 THEN 8 * (1 + doc_id % 5)
                                ELSE 80 + doc_id % 30 END AS INT) AS height,
           CASE WHEN doc_id % 3 = 0 THEN FALSE
                ELSE doc_id % 2 = 1 END AS has_alpha,
           doc_id % 3 = 2 AND doc_id % 4 = 2 AS is_animated,
           CAST(CASE WHEN doc_id % 3 = 2 AND doc_id % 4 = 2
                     THEN 2 + doc_id % 7 ELSE 1 END AS INT) AS n_frames,
           doc_id % 3 = 2 AND doc_id % 5 = 0 AS has_exif
    FROM documents
"""

ORACLES["multimodal_webm_meta"] = """
    SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN 'webm' ELSE 'matroska' END
               AS doctype,
           CAST(CASE WHEN doc_id % 3 = 0 THEN 500000
                     ELSE 1000000 END AS BIGINT) AS timescale_ns,
           CAST(400 * (1 + doc_id % 6) AS BIGINT) AS duration_ms,
           CAST(CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 1 END AS INT)
               AS n_tracks,
           CASE WHEN doc_id % 2 = 0 THEN 'V_VP9' ELSE 'V_AV1' END
               AS video_codec,
           CASE WHEN doc_id % 3 = 0 THEN 'A_OPUS' END AS audio_codec,
           CAST(64 * (1 + doc_id % 5) AS INT) AS width,
           CAST(36 * (1 + doc_id % 4) AS INT) AS height
    FROM documents
"""

ORACLES["multimodal_audio_ogg_meta"] = """
    SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN 'vorbis' ELSE 'opus' END
               AS codec,
           CAST(1 + doc_id % 2 AS INT) AS channels,
           CAST(CASE WHEN doc_id % 2 = 0
                     THEN ([8000, 44100, 48000])[1 + doc_id % 3]
                     ELSE ([48000, 44100, 16000])[1 + doc_id % 3]
                END AS INT) AS sample_rate,
           CAST(CASE WHEN doc_id % 2 = 1
                     THEN 312 + 100 * (doc_id % 4) END AS INT)
               AS pre_skip,
           CAST(CASE WHEN doc_id % 2 = 0 THEN 500 * (1 + doc_id % 7)
                     ELSE 20 * (1 + doc_id % 9) END AS BIGINT)
               AS duration_ms,
           CAST(CASE WHEN doc_id % 5 = 0 THEN 4 ELSE 3 END AS INT)
               AS page_count,
           CASE WHEN doc_id % 3 = 0 THEN 'ogg ' || doc_id END AS title,
           CASE WHEN doc_id % 3 = 0
                THEN 'artist ' || (doc_id % 5) END AS artist
    FROM documents
"""

ORACLES["multimodal_gzip_members"] = """
    WITH p AS (
        SELECT doc_id,
               14 + length(CAST(doc_id AS VARCHAR)) AS L,
               1 + doc_id % 3 AS n
        FROM documents
    ),
    mem AS (
        SELECT p.doc_id, p.n, j.m, p.L * (4 + (p.doc_id + j.m) % 5) AS sz
        FROM p CROSS JOIN LATERAL (
            SELECT unnest(range(0, p.n))) j(m)
    )
    SELECT doc_id,
           CAST(MIN(n) AS INT) AS n_members,
           'm0.txt' AS first_name,
           CAST(1700000000 + doc_id AS BIGINT) AS mtime_first,
           CAST(3 AS INT) AS os_first,
           CAST(SUM(sz) AS BIGINT) AS total_uncompressed
    FROM mem GROUP BY doc_id
"""

ORACLES["multimodal_zstd_frames"] = """
    WITH p AS (
        SELECT doc_id,
               (13 + length(CAST(doc_id AS VARCHAR)))
                   * (8 + doc_id % 7) AS L,
               1 + doc_id % 2 AS nf
        FROM documents
    )
    SELECT doc_id,
           CAST(nf AS INT) AS n_frames,
           CAST(CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END AS INT)
               AS n_skippable,
           CAST(CASE WHEN doc_id % 5 != 0 THEN nf * L END AS BIGINT)
               AS content_size,
           CAST(CASE WHEN doc_id % 5 = 0 OR L > 255 THEN 21 END AS INT)
               AS window_log,
           CAST(CASE WHEN doc_id % 3 = 0 THEN 100 + doc_id % 50 END
                AS BIGINT) AS dict_id,
           doc_id % 2 = 1 AS has_checksum,
           CAST(nf * ((L + 63) // 64) AS INT) AS n_blocks
    FROM p
"""

ORACLES["multimodal_subtitles_meta"] = """
    WITH p AS (
        SELECT doc_id, 2 + doc_id % 5 AS n, 100 * (doc_id % 7) AS base
        FROM documents
    ),
    cues AS (
        SELECT p.doc_id, p.n, p.base, j.c,
               900 + 100 * (j.c % 3) AS dur
        FROM p CROSS JOIN LATERAL (
            SELECT unnest(range(0, p.n))) j(c)
    ),
    agg AS (
        SELECT doc_id, MIN(n) AS n, MIN(base) AS base,
               CAST(SUM(dur) AS BIGINT) AS speech_ms,
               string_agg('doc ' || doc_id || ' cue ' || c, ' '
                          ORDER BY c) AS text
        FROM cues GROUP BY doc_id
    )
    SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN 'srt' ELSE 'vtt' END AS format,
           CAST(n AS INT) AS n_cues,
           CAST(base AS BIGINT) AS first_start_ms,
           CAST(2000 * (n - 1) + base + 900 + 100 * ((n - 1) % 3)
                AS BIGINT) AS last_end_ms,
           speech_ms,
           CAST(length(text) AS INT) AS n_chars,
           text
    FROM agg
"""

ORACLES["multimodal_exif_meta"] = """
    WITH p AS (
        SELECT doc_id,
               (['jpeg', 'tiff', 'webp', 'png'])[1 + doc_id % 4] AS c,
               NOT (doc_id % 7 = 0
                    AND (['jpeg', 'tiff', 'webp', 'png'])[1 + doc_id % 4]
                        != 'tiff') AS hx
        FROM documents
    )
    SELECT doc_id, c AS container, hx AS has_exif,
           CASE WHEN hx THEN 'maker ' || (doc_id % 3) END AS make,
           CASE WHEN hx THEN 'cam ' || (doc_id % 5) END AS model,
           CAST(CASE WHEN hx THEN 1 + doc_id % 8 END AS INT)
               AS orientation,
           CASE WHEN hx THEN '2021:0' || (1 + doc_id % 9)
                || ':15 12:00:0' || (doc_id % 10) END
               AS datetime_original,
           CAST(CASE WHEN hx THEN 100 * (1 + doc_id % 32) END AS INT)
               AS iso,
           CAST(CASE WHEN hx THEN (14 + doc_id % 9) * 20 END AS BIGINT)
               AS f_number_x100,
           CAST(CASE WHEN hx THEN 40000 // (1 + doc_id % 6) END
                AS BIGINT) AS exposure_us,
           CAST(CASE WHEN hx THEN (35 + doc_id % 11) * 5 END AS BIGINT)
               AS focal_mm_x10,
           CAST(CASE WHEN hx THEN 64 * (1 + doc_id % 5) END AS INT)
               AS pixel_x,
           CAST(CASE WHEN hx THEN 48 * (1 + doc_id % 4) END AS INT)
               AS pixel_y,
           CASE WHEN hx THEN doc_id % 3 = 0 END AS gps_present
    FROM p
"""

ORACLES["multimodal_video_fmp4_meta"] = """
    SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN 'isom' ELSE 'mp42' END AS brand,
           CAST(600 * (1 + doc_id % 3) AS INT) AS timescale,
           CAST(400 * (1 + doc_id % 6) AS BIGINT) AS duration_ms,
           CAST(CASE WHEN doc_id % 4 = 0 THEN 2 ELSE 1 END AS INT)
               AS n_tracks,
           CAST(16 * (1 + doc_id % 4) AS INT) AS width,
           CAST(16 * (1 + doc_id % 3) AS INT) AS height,
           CASE WHEN doc_id % 5 != 0 THEN 'avc1' ELSE 'hvc1' END
               AS video_codec,
           CASE WHEN doc_id % 4 = 0 THEN 'mp4a' END AS audio_codec,
           CAST(2 + doc_id % 9 AS INT) AS n_video_samples,
           TRUE AS fragmented,
           CAST(least(1 + doc_id % 4, 2 + doc_id % 9) AS INT)
               AS n_fragments
    FROM documents
"""

ORACLES["multimodal_image_avif_meta"] = """
    SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN 'avif' ELSE 'heic' END AS brand,
           CASE WHEN doc_id % 7 = 0 THEN 'grid'
                WHEN doc_id % 2 = 0 THEN 'av01'
                ELSE 'hvc1' END AS primary_type,
           CAST(64 * (1 + doc_id % 5) AS INT) AS width,
           CAST(48 * (1 + doc_id % 4) AS INT) AS height,
           CAST(([8, 10, 12])[1 + doc_id % 3] AS INT) AS bit_depth,
           CAST(3 AS INT) AS n_channels,
           CAST(1 + CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END
                  + CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END
                  + CASE WHEN doc_id % 7 = 0 THEN 2 + doc_id % 3
                         ELSE 0 END AS INT) AS n_items,
           doc_id % 3 = 0 AS has_alpha,
           CAST(CASE WHEN doc_id % 7 = 0 THEN 2 + doc_id % 3
                     ELSE 0 END AS INT) AS n_grid_tiles,
           doc_id % 4 = 0 AS has_exif
    FROM documents
"""

ORACLES["multimodal_decode_vp8l"] = """
    WITH p AS (
        SELECT doc_id,
               CAST(4 + doc_id % 5 AS INT) AS w,
               CAST(3 + doc_id % 4 AS INT) AS h,
               CAST(doc_id % 5 AS INT) AS v
        FROM documents
    ),
    px AS (
        SELECT p.doc_id, p.w, p.h, p.v,
               CASE p.v WHEN 1 THEN j.j - j.j % 5
                        WHEN 2 THEN j.j % 7
                        ELSE j.j END AS K
        FROM p CROSS JOIN LATERAL (
            SELECT unnest(range(0, p.w * p.h))) j(j)
    ),
    ch AS (
        SELECT doc_id, w, h,
               (doc_id * 7 + K * 3) % 256 AS r,
               (doc_id * 5 + K * 11) % 256 AS g,
               (doc_id * 13 + K) % 256 AS b,
               CASE WHEN v = 4 THEN (doc_id + K * 17) % 256
                    ELSE 255 END AS a
        FROM px
    )
    SELECT doc_id, MIN(w) AS width, MIN(h) AS height,
           CAST(COUNT(*) AS BIGINT) AS n_pixels,
           CAST(SUM(r) AS BIGINT) AS sum_r,
           CAST(SUM(g) AS BIGINT) AS sum_g,
           CAST(SUM(b) AS BIGINT) AS sum_b,
           CAST(SUM(a) AS BIGINT) AS sum_a,
           CAST(COUNT(DISTINCT a * 16777216 + r * 65536 + g * 256 + b)
                AS INT) AS n_distinct
    FROM ch GROUP BY doc_id
"""

ORACLES["multimodal_pdf_text"] = """
    WITH p AS (
        SELECT doc_id, CAST(1 + doc_id % 3 AS INT) AS np FROM documents
    ),
    pg AS (
        SELECT p.doc_id, CAST(j.j AS INT) AS page
        FROM p CROSS JOIN LATERAL (SELECT unnest(range(0, p.np))) j(j)
    ),
    t AS (
        SELECT doc_id, page,
               'doc ' || doc_id || ' page ' || page || ' line 0'
               || chr(10)
               || 'doc ' || doc_id || ' page ' || page || ' line 1'
               || CASE WHEN (doc_id + page) % 2 = 1
                       THEN chr(10) || 'doc ' || doc_id || ' page '
                            || page || ' line 2'
                       ELSE '' END AS text
        FROM pg
    )
    SELECT doc_id, page, text, CAST(length(text) AS INT) AS n_chars
    FROM t
"""

ORACLES["multimodal_office_meta"] = """
    WITH p AS (
        SELECT doc_id,
               CAST(doc_id % 4 AS INT) AS k,
               CAST(1 + doc_id % 3 AS INT) AS n_payload
        FROM documents
    ),
    pay AS (
        SELECT doc_id,
               CAST(SUM(10 + (doc_id + j.j) % 5) AS BIGINT) AS payload_bytes
        FROM p CROSS JOIN LATERAL (
            SELECT unnest(range(0, n_payload))) j(j)
        GROUP BY doc_id
    )
    SELECT p.doc_id,
           CASE k WHEN 0 THEN 'docx' WHEN 1 THEN 'xlsx'
                  WHEN 2 THEN 'epub' ELSE 'zip' END AS kind,
           CAST(n_payload + CASE WHEN k IN (0, 1, 2) THEN 3
                                   ELSE 0 END AS INT) AS n_members,
           pay.payload_bytes,
           CASE WHEN k IN (0, 1, 2) THEN 'off ' || p.doc_id END AS title,
           CASE WHEN k IN (0, 1, 2) THEN 'user ' || (p.doc_id % 5) END
               AS creator
    FROM p JOIN pay USING (doc_id)
"""
