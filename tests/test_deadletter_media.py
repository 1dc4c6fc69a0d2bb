"""Dead-letter decode mode — the reference's poison-message policy
(``kafka_skip_broken_messages = 1``, basic_example/clickhouse.sql:20)
applied to the media decoders.

Two properties under test:

1. **Error contract** (pure Python): every decoder failure on arbitrary
   bytes is ``ValueError`` (recognized container, corrupt payload) or
   ``NotImplementedError`` (no codec) — nothing else ever escapes.  This
   is the property that makes the permissive catch in the Spark operators
   exhaustive, so it gets the adversarial hypothesis treatment: random
   garbage, random truncations of VALID media, and random single-byte
   flips of valid media.
2. **Spark routing**: in ``strict=False`` mode a mixed clean/corrupt
   column yields exactly one err row per corrupt blob and untouched stats
   for the clean ones; ``strict=True`` keeps today's fail-fast.
"""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from postgres_debezium_clickhouse_spark.operators.audio import (
    audio_energy_windows,
    decode_audio,
    decode_waveforms,
    synth_waveforms,
    wav_encode,
)
from postgres_debezium_clickhouse_spark.operators.imaging import (
    decode_image,
    decode_images,
    dhash_images,
    png_encode,
    resize_images,
    synth_images,
)
from postgres_debezium_clickhouse_spark.operators.video import (
    decode_video,
    decode_video_frames,
    synth_videos,
    y4m_encode,
)

_DECODERS = [decode_image, decode_audio, decode_video]


def _valid_blobs(seed: int) -> list[bytes]:
    px = bytes((seed * 7 + i) % 256 for i in range(4 * 3 * 3))
    samples = [((seed * 31 + j * 7) % 2003) - 1001 for j in range(10)]
    frame = bytes((seed * 11 + j * 5) % 256 for j in range(2 * 2 * 3))
    return [
        png_encode(4, 3, px, 3),
        wav_encode(samples, 8000, 1),
        y4m_encode(2, 2, [frame]),
    ]


def _assert_contract(decoder, blob: bytes) -> None:
    try:
        decoder(blob)
    except (ValueError, NotImplementedError):
        pass  # the whole contract: ONLY these may escape
    # a successful decode of mangled input is acceptable (e.g. a flipped
    # byte in an ancillary region) — wrong-but-loud is the requirement,
    # and loudness is checked by the corruption-rejection tests below.


@given(blob=st.binary(max_size=256))
@settings(max_examples=150, deadline=None)
def test_error_contract_random_garbage(blob):
    for dec in _DECODERS:
        _assert_contract(dec, blob)


@given(seed=st.integers(0, 1000), cut=st.integers(0, 200), which=st.integers(0, 2))
@settings(max_examples=150, deadline=None)
def test_error_contract_truncations_of_valid_media(seed, cut, which):
    blob = _valid_blobs(seed)[which]
    _assert_contract(_DECODERS[which], blob[: min(cut, len(blob))])


@given(seed=st.integers(0, 1000), pos=st.integers(0, 500),
       bit=st.integers(0, 7), which=st.integers(0, 2))
@settings(max_examples=150, deadline=None)
def test_error_contract_bitflips_of_valid_media(seed, pos, bit, which):
    blob = bytearray(_valid_blobs(seed)[which])
    pos %= len(blob)
    blob[pos] ^= 1 << bit
    _assert_contract(_DECODERS[which], bytes(blob))


def test_wav_corruption_normalized_to_valueerror():
    # The r5 regression: RIFF/WAVE magic with no fmt/data chunks leaked a
    # raw wave.Error.  Contract now: ValueError.
    with pytest.raises(ValueError):
        decode_audio(b"RIFF....WAVE")
    with pytest.raises(ValueError):
        decode_audio(wav_encode([1, 2, 3], 8000, 1)[:-2])  # truncated data


# ---------------------------------------------------------------------------
# Spark routing
# ---------------------------------------------------------------------------

def test_deadletter_images_routing(spark):
    ids = spark.range(0, 40).withColumnRenamed("id", "doc_id")
    out = decode_images(synth_images(ids, corrupt_every=10), strict=False)
    rows = {r.doc_id: r for r in out.collect()}
    assert len(rows) == 40  # one row per doc, corrupt or not
    for d, r in rows.items():
        if d % 10 in (2, 7):
            assert r.err is not None and r.format is None and r.n_pixels is None
        else:
            assert r.err is None and r.format in ("png", "jpeg")
    # the two corruption classes produce their documented messages
    assert rows[7].err.startswith("no stdlib codec")
    assert rows[22].err == "truncated PNG chunk"
    assert rows[32].err == "truncated JPEG SOF segment"  # 32 % 4 == 0 → jpeg


def test_deadletter_strict_mode_still_fails_fast(spark):
    ids = spark.range(0, 40).withColumnRenamed("id", "doc_id")
    corrupt = synth_images(ids, corrupt_every=10)
    with pytest.raises(Exception):  # Py4J wraps the worker's ValueError
        decode_images(corrupt, strict=True).collect()


def test_deadletter_audio_and_video_routing(spark):
    from pyspark.sql import functions as F

    ids = spark.range(0, 12).withColumnRenamed("id", "doc_id")
    # corrupt doc 5 by truncating its blob to 6 bytes (kills RIFF/Y4M walk)
    def damage(df):
        return df.withColumn(
            "media",
            F.when(F.col("doc_id") == 5, F.expr("substring(media, 1, 6)"))
            .otherwise(F.col("media")),
        )

    audio = decode_waveforms(damage(synth_waveforms(ids)), strict=False)
    arows = {r.doc_id: r for r in audio.collect()}
    assert arows[5].err is not None and arows[5].s_sum is None
    assert sum(1 for r in arows.values() if r.err is None) == 11

    video = decode_video_frames(damage(synth_videos(ids)), strict=False)
    vrows = [r for r in video.collect() if r.doc_id == 5]
    assert len(vrows) == 1 and vrows[0].err is not None
    assert vrows[0].frame_index is None
    clean = [r for r in video.collect() if r.doc_id != 5]
    assert all(r.err is None for r in clean)


_DEADLETTER_OPS = {
    "decode_images": decode_images,
    "resize_images": lambda df, strict: resize_images(df, 4, 4, strict=strict),
    "dhash_images": dhash_images,
    "decode_waveforms": decode_waveforms,
    "audio_energy_windows": audio_energy_windows,
    "decode_video_frames": decode_video_frames,
}


@pytest.mark.parametrize("op", sorted(_DEADLETTER_OPS))
def test_deadletter_null_blob_is_an_err_row(spark, op):
    """A NULL media value is a corrupt blob: one err row under
    ``strict=False`` (next to the junk blob's), a failed job under
    ``strict=True``."""
    df = spark.createDataFrame([(1, None), (2, b"junk")], "doc_id long, media binary")
    rows = _DEADLETTER_OPS[op](df, strict=False).collect()
    assert sorted(r.doc_id for r in rows) == [1, 2]
    assert all(r.err for r in rows)
    assert [r.err for r in rows if r.doc_id == 1] == ["NULL media value"]
    with pytest.raises(Exception):
        _DEADLETTER_OPS[op](df.filter("doc_id = 1"), strict=True).collect()
