"""Round-6 optimization-round focused tests.

Each test pins an internals change made for performance (or a round-6
ADVICE correctness fix) to its observable contract:

* JPEG entropy reader keeps its bit buffer bounded (the O(n^2) fix) and
  rejects DHT tables that overflow the Annex C code space.
* EBML SimpleBlock track numbers are plain vints — 0xFF is track 127,
  not an "unknown size" (engine and independent mirror agree).
* digest=True kernel variants emit exactly the md5/length Catalyst would
  compute over the payload bytes, and passthrough columns survive.
* mel_filters / dct2_basis memoization returns the identical constants.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# JPEG bit reader / DHT (round-6 ADVICE)
# ---------------------------------------------------------------------------


def test_jpeg_bitbuf_stays_bounded():
    from dataflow_geobeam_spark.functions.imaging import _JpegBits

    bits = _JpegBits(bytes([0x5A] * 4096), 0)
    for _ in range(4096 * 8):
        bits.read_bit()
        # live bits only: without the round-6 mask the buffer grows by
        # 8 bits per scan byte and every shift is O(consumed bytes)
        assert bits.bitbuf.bit_length() <= bits.nbits + 8


def test_jpeg_dht_code_space_overflow_raises():
    from dataflow_geobeam_spark.functions.imaging import (
        ImageDecodeError,
        _jpeg_huff_table,
    )

    # 3 codes of length 1 overflow the 2-code space; pre-fix the `code`
    # counter wrapped and silently aliased (length, code) keys
    bits = [3] + [0] * 15
    with pytest.raises(ImageDecodeError):
        _jpeg_huff_table(bits, bytes(range(3)))
    # a legal table still builds
    table = _jpeg_huff_table([2] + [0] * 15, bytes([7, 9]))
    assert table == {(1, 0): 7, (1, 1): 9}


# ---------------------------------------------------------------------------
# EBML: track number 127 as a single 0xFF vint (round-6 ADVICE)
# ---------------------------------------------------------------------------


def _webm_with_raw_track_vint(track_vint: bytes, track_num: int) -> bytes:
    from dataflow_geobeam_spark.fixtures.independent import (
        _ebml_el,
        _ebml_uint,
    )

    header = _ebml_el(
        0x1A45DFA3,
        _ebml_el(0x4282, b"webm") + _ebml_el(0x4287, _ebml_uint(2)),
    )
    info = _ebml_el(0x1549A966, _ebml_el(0x2AD7B1, _ebml_uint(1_000_000)))
    entry = _ebml_el(
        0xAE,
        _ebml_el(0xD7, _ebml_uint(track_num))
        + _ebml_el(0x83, _ebml_uint(1))
        + _ebml_el(0x86, b"V_VP8"),
    )
    tracks = _ebml_el(0x1654AE6B, entry)
    sb = track_vint + (0).to_bytes(2, "big", signed=True) + bytes([0x80]) + b"xyz"
    cluster = _ebml_el(
        0x1F43B675, _ebml_el(0xE7, _ebml_uint(0)) + _ebml_el(0xA3, sb)
    )
    seg = _ebml_el(0x18538067, info + tracks + cluster)
    return header + seg


def test_ebml_track_127_single_byte_vint_parses():
    from dataflow_geobeam_spark.functions.ebml import parse_webm_blocks
    from dataflow_geobeam_spark.fixtures.independent import (
        parse_webm_blocks_independent,
    )

    # 0xFF = marker bit + all value bits set = plain value 127 for a
    # BLOCK track number (no unknown-size semantics in Matroska blocks)
    buf = _webm_with_raw_track_vint(b"\xff", 127)
    tracks, blocks = parse_webm_blocks(buf)
    assert tracks == {127: "V_VP8"} and len(blocks) == 1
    assert blocks[0]["track"] == 127 and blocks[0]["size"] == 3
    m_tracks, m_blocks = parse_webm_blocks_independent(buf)
    assert (m_tracks, m_blocks) == (tracks, blocks)
    # the ordinary 2-byte encoding of the same number still parses
    buf2 = _webm_with_raw_track_vint(b"\x40\x7f", 127)
    assert parse_webm_blocks(buf2)[1] == blocks


# ---------------------------------------------------------------------------
# digest=True kernel variants (round-6 transfer optimization)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def small_clips(spark, fixture_dir):
    from dataflow_geobeam_spark.sources.clips import read_clips

    return read_clips(
        spark, fixture_dir, columns=("clip_id", "bytes", "codec", "sr_hz"),
        with_bucket=False,
    ).limit(64)


def test_augment_digest_matches_catalyst_md5(spark, small_clips):
    from dataflow_geobeam_spark.functions.audio import with_augmented_noise

    raw = with_augmented_noise(small_clips).select(
        "clip_id", F.md5("aug").alias("want"), F.col("n_samples").alias("n_want")
    )
    dig = with_augmented_noise(small_clips, digest=True).select(
        "clip_id", F.col("aug_md5").alias("got"), F.col("n_samples").alias("n_got")
    )
    joined = raw.join(dig, "clip_id").collect()
    assert joined and all(r.want == r.got and r.n_want == r.n_got for r in joined)


def test_augment_passthrough_columns(spark, small_clips):
    from dataflow_geobeam_spark.functions.audio import with_augmented_noise

    tagged = small_clips.withColumn("n_copies", F.length("clip_id").cast("long"))
    out = with_augmented_noise(
        tagged, passthrough=("n_copies",), digest=True
    ).collect()
    assert out and all(r.n_copies == len(r.clip_id) for r in out)
    assert {f.name for f in with_augmented_noise(
        tagged, passthrough=("n_copies",), digest=True
    ).schema.fields} == {"clip_id", "n_copies", "n_samples", "aug_md5"}


def test_segments_digest_matches_catalyst(spark, small_clips):
    from dataflow_geobeam_spark.functions.audio import with_speech_segments

    raw = with_speech_segments(small_clips).select(
        "clip_id",
        "seg_idx",
        F.length("seg_bytes").cast("long").alias("nb_want"),
        F.md5("seg_bytes").alias("want"),
    )
    dig = with_speech_segments(small_clips, digest=True).select(
        "clip_id", "seg_idx", F.col("n_bytes").alias("nb_got"), F.col("seg_md5").alias("got")
    )
    joined = raw.join(dig, ["clip_id", "seg_idx"]).collect()
    assert joined and all(
        r.want == r.got and r.nb_want == r.nb_got for r in joined
    )


# ---------------------------------------------------------------------------
# memoized DSP constants
# ---------------------------------------------------------------------------


def test_mel_filter_and_dct_caches_are_exact():
    from dataflow_geobeam_spark.functions import audio as A

    w1, s1 = A.mel_filters()
    w2, s2 = A.mel_filters()
    assert w1 is w2 and s1 is s2  # memoized
    A._MEL_FILTER_CACHE.clear()
    w3, s3 = A.mel_filters()
    assert np.array_equal(w1, w3) and s1 == s3
    b1 = A.dct2_basis()
    assert b1 is A.dct2_basis()
    A._DCT_BASIS_CACHE.clear()
    assert np.array_equal(b1, A.dct2_basis())
