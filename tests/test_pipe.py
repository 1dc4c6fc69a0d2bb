"""operators/_pipe.pipe_map — mapInPandas stage fusion (r19-opt)."""

from __future__ import annotations

import ast
import importlib
import os

import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_pipe_map_fuses_unmodified_chain(spark):
    """synth → walk over the raw pipe output plans ONE MapInPandas and
    produces exactly the rows the two-stage chain would."""
    from postgres_debezium_clickhouse_spark.operators.pdfmeta import (
        pdf_metadata, synth_pdf_docs)

    ids = spark.range(0, 48, 1, 4).withColumnRenamed("id", "doc_id")
    media = synth_pdf_docs(ids)
    df = pdf_metadata(media)
    assert _plan(df).count("MapInPandas") == 1
    # reference: force the unfused path through a no-op select
    ref = pdf_metadata(media.select("doc_id", "media"))
    assert _plan(ref).count("MapInPandas") == 2
    assert sorted(map(tuple, df.collect())) == sorted(map(tuple, ref.collect()))


def test_pipe_map_falls_back_after_dataframe_ops(spark):
    """Any intervening DataFrame operation (filter/select) drops the
    provenance, so the intermediate blobs materialize exactly as before
    — fusion must never skip a JVM-side transformation."""
    from postgres_debezium_clickhouse_spark.operators.pdfmeta import (
        pdf_metadata, synth_pdf_docs)

    ids = spark.range(0, 48, 1, 4).withColumnRenamed("id", "doc_id")
    media = synth_pdf_docs(ids).filter(F.col("doc_id") % 2 == 0)
    df = pdf_metadata(media)
    assert _plan(df).count("MapInPandas") == 2
    assert df.count() == 24


def test_pipe_map_fuses_across_modules(spark):
    """Fusion composes across operator modules: an imaging synth feeding
    the multimodal feature extractor collapses to one Python eval."""
    from postgres_debezium_clickhouse_spark.operators.imaging import (
        synth_images)
    from postgres_debezium_clickhouse_spark.operators.multimodal import (
        extract_features)

    ids = spark.range(0, 16, 1, 2).withColumnRenamed("id", "doc_id")
    df = extract_features(synth_images(ids))
    assert _plan(df).count("MapInPandas") == 1
    assert df.count() >= 16


#: every fixture synth, with a walker or decoder that reads its blobs:
#: (module, synth, walker, walker kwargs)
SYNTH_CHAINS = [
    ("audio", "synth_waveforms", "decode_waveforms", {}),
    ("audio", "synth_g711_waveforms", "decode_waveforms", {}),
    ("audio", "synth_aiff_waveforms", "decode_waveforms", {}),
    ("audio", "synth_mp3_streams", "mp3_metadata", {}),
    ("audio", "synth_flac_streams", "flac_metadata", {}),
    ("compressed", "synth_gzip_docs", "gzip_metadata", {}),
    ("compressed", "synth_zstd_docs", "zstd_metadata", {}),
    ("containers", "synth_office_docs", "office_metadata", {}),
    ("exif", "synth_exif_docs", "exif_metadata", {}),
    ("heif", "synth_heif_docs", "heif_metadata", {}),
    ("imaging", "synth_images", "decode_images", {}),
    ("imaging", "synth_multiformat_images", "decode_images", {}),
    ("imaging", "synth_netpbm_images", "decode_images", {}),
    ("imaging", "synth_gif_images", "decode_images", {}),
    ("imaging", "synth_jpeg_images", "jpeg_roundtrip_check", {}),
    ("imaging", "synth_dhash_images", "dhash_images", {}),
    ("imaging", "synth_text_pngs", "png_metadata_rows", {}),
    ("imaging", "synth_exif_jpegs", "jpeg_exif_rows", {}),
    ("mkv", "synth_mkv_docs", "mkv_metadata", {}),
    ("mp4", "synth_mp4_docs", "mp4_metadata", {}),
    ("mp4", "synth_fmp4_docs", "fmp4_metadata", {}),
    ("ogg", "synth_ogg_docs", "ogg_metadata", {}),
    ("pdfmeta", "synth_pdf_docs", "pdf_metadata", {}),
    ("pdfmeta", "synth_pdf_text_docs", "pdf_page_text", {}),
    ("subtitles", "synth_subtitle_docs", "subtitle_stats", {"text_col": "subtitle"}),
    ("video", "synth_videos", "decode_video_frames", {}),
    ("vp8l", "synth_vp8l_docs", "vp8l_pixel_stats", {}),
    ("webp", "synth_webp_docs", "webp_metadata", {}),
]


@pytest.mark.parametrize("module,synth,walker,kwargs", SYNTH_CHAINS,
                         ids=[c[1] for c in SYNTH_CHAINS])
def test_synth_names_id_col_and_feeds_its_walker(spark, module, synth, walker, kwargs):
    """Every synth names its id column ``id_col`` (not a hard-coded
    ``doc_id``), and its walker reads the blobs back under that name:
    one or more rows per id, every id present."""
    mod = importlib.import_module(f"postgres_debezium_clickhouse_spark.operators.{module}")
    ids = spark.range(0, 8, 1, 2).withColumnRenamed("id", "k")
    media = getattr(mod, synth)(ids, id_col="k")
    assert media.columns == ["k", "subtitle" if module == "subtitles" else "media"]
    out = getattr(mod, walker)(media, id_col="k", **kwargs)
    assert sorted({r[0] for r in out.collect()}) == list(range(8))


# ---------------------------------------------------------------- source guard

OPERATORS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "postgres_debezium_clickhouse_spark", "operators",
)
#: batch loops that do not fit ``map_blobs``, with the reason
OWN_LOOP = {
    ("imaging.py", "jpeg_roundtrip_check"): "compares pixels with the doc id's closed form",
    ("curation.py", "parse_robots"): "string domain key, rows per rule, null text",
}


def _loops(tree: ast.Module) -> list[tuple[str, str, int]]:
    """``(top-level function, kind, line)`` of every ``_walk``/``_synth``
    function and every ``{f.name: [] for f in <schema>.fields}`` column
    scaffold in ``tree``."""
    found = []
    for top in tree.body:
        for node in ast.walk(top):
            if isinstance(node, ast.FunctionDef) and node.name in ("_walk", "_synth"):
                found.append((getattr(top, "name", ""), node.name, node.lineno))
            elif (isinstance(node, ast.DictComp) and isinstance(node.key, ast.Attribute)
                  and node.key.attr == "name" and isinstance(node.value, ast.List)
                  and not node.value.elts and isinstance(node.generators[0].iter, ast.Attribute)
                  and node.generators[0].iter.attr == "fields"):
                found.append((getattr(top, "name", ""), "column scaffold", node.lineno))
    return found


def test_media_batch_loops_live_in_pipe_only():
    """Outside ``_pipe.py`` no operator hand-writes the walk or synth batch
    loop: media formats go through ``map_blobs``/``synth_blobs``."""
    bad = []
    for fname in sorted(os.listdir(OPERATORS)):
        if not fname.endswith(".py") or fname == "_pipe.py":
            continue
        with open(os.path.join(OPERATORS, fname)) as fh:
            tree = ast.parse(fh.read())
        bad += [f"{fname}:{line} {kind} in {fn}" for fn, kind, line in _loops(tree)
                if (fname, fn) not in OWN_LOOP]
    assert not bad, "hand-written batch loops (use map_blobs/synth_blobs):\n" + "\n".join(bad)


def test_media_loop_guard_sees_the_old_wrappers():
    """Anti-tautology twin: the guard flags both wrapper shapes as they
    were written before the helpers existed."""
    old = '''
def mkv_metadata(media_df, id_col="doc_id", media_col="media"):
    def _walk(batches):
        for pdf in batches:
            rows = {f.name: [] for f in MKV_META_SCHEMA.fields}
            yield pd.DataFrame(rows)
    return pipe_map(media_df, _walk, schema=MKV_META_SCHEMA)


def synth_mkv_docs(ids_df, id_col="doc_id"):
    def _synth(batches):
        for pdf in batches:
            yield pdf
    return pipe_map(ids_df, _synth, schema=MKV_BLOB_SCHEMA)
'''
    kinds = [(fn, kind) for fn, kind, _ in _loops(ast.parse(old))]
    assert kinds == [("mkv_metadata", "_walk"), ("mkv_metadata", "column scaffold"),
                     ("synth_mkv_docs", "_synth")]
