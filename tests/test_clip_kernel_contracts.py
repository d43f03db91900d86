"""Decode-failure contracts of every public per-clip kernel wrapper.

Each wrapper sees four rows: one clip it can decode, a null payload, a
truncated payload its decoder rejects, and a payload with unknown magic
under an unknown codec label (for the image, WebM and tar kernels: a
payload of another container). The test pins how many rows come out and
which output columns are null, per input row, so a change to the shared
clip-kernel runner cannot silently move a wrapper from one failure
behaviour to another:

* null row — the clip keeps its row, every kernel output is NULL;
* ``decode_ok=false`` with zeroed metrics (``with_decoded_metrics``);
* no row — the clip is dropped (filter_invalid semantics).
"""

from __future__ import annotations

import numpy as np
import pytest

SR = 16000
GOOD, NULL, BAD, UNKNOWN = "c0_good", "c1_null", "c2_bad", "c3_unknown"
IN_COLS = ("clip_id", "bytes", "codec", "sr_hz")


def _clip_rows(fmt: str):
    from dataflow_geobeam_spark import codecs
    from dataflow_geobeam_spark.fixtures import independent

    t = np.arange(SR) / SR
    pcm = (0.5 * np.sin(2 * np.pi * 220.0 * t)).astype(np.float32)
    if fmt == "flac":
        good = independent.flac_bytes(np.round(pcm * 32767.0).astype(np.int16), SR)
    else:
        good = codecs.encode_wav(pcm, SR)
    return [
        (GOOD, good, fmt, SR),
        (NULL, None, fmt, SR),
        (BAD, good[: len(good) // 2], fmt, SR),
        (UNKNOWN, b"ZZZZ" + good[4:], "zzz", SR),
    ]


def _audio(name):
    def call(df):
        from dataflow_geobeam_spark.functions import audio

        return getattr(audio, name)(df)

    return call


def _decode(name):
    def call(df):
        from dataflow_geobeam_spark.functions import decode

        return getattr(decode, name)(df)

    return call


def _resample(df):
    from dataflow_geobeam_spark.functions.audio import with_resampled_pcm16

    return with_resampled_pcm16(df, 16000)


NULL_ROW = [
    ("spectral", _audio("with_spectral_metrics"), "wav"),
    ("fingerprints", _audio("with_fingerprints"), "wav"),
    ("resample", _resample, "wav"),
    ("frame_rms", _audio("with_frame_rms"), "wav"),
    ("mel", _audio("with_mel_means"), "wav"),
    ("mfcc", _audio("with_mfcc_means"), "wav"),
    ("pitch", _audio("with_pitch_stats"), "wav"),
    ("flac", _audio("with_flac_pcm16"), "flac"),
    ("sniff", _audio("with_sniffed_pcm16"), "wav"),
    ("decoded_pcm", _decode("with_decoded_pcm"), "wav"),
]
ZEROED = [("decoded_metrics", _decode("with_decoded_metrics"), "wav")]
NO_ROW = [
    # (label, wrapper, format, rows the good clip yields)
    ("noise", _audio("with_augmented_noise"), "wav", 1),
    ("speed", _audio("with_speed_perturb"), "wav", 2),
    ("specaugment", _audio("with_specaugment"), "wav", 1),
    ("loudness", _audio("with_normalized_loudness"), "wav", 1),
    ("reverb", _audio("with_reverb"), "wav", 1),
    ("segments", _audio("with_speech_segments"), "wav", 1),
]


def _run(spark, wrapper, fmt):
    df = spark.createDataFrame(
        _clip_rows(fmt), "clip_id string, bytes binary, codec string, sr_hz int"
    )
    out = wrapper(df)
    return out, [r.asDict() for r in out.collect()]


@pytest.mark.parametrize("label,wrapper,fmt", NULL_ROW, ids=[c[0] for c in NULL_ROW])
def test_failed_decode_gives_null_row(spark, label, wrapper, fmt):
    out, rows = _run(spark, wrapper, fmt)
    added = [c for c in out.columns if c not in IN_COLS]
    assert added, label
    assert sorted(r["clip_id"] for r in rows) == [GOOD, NULL, BAD, UNKNOWN]
    for r in rows:
        assert r["codec"] == ("zzz" if r["clip_id"] == UNKNOWN else fmt), label
        assert r["sr_hz"] == SR, label
        nulls = [r[c] is None for c in added]
        if r["clip_id"] == GOOD:
            assert not any(nulls), (label, r)
        else:
            assert all(nulls), (label, r)


@pytest.mark.parametrize("label,wrapper,fmt", ZEROED, ids=[c[0] for c in ZEROED])
def test_failed_decode_gives_zeroed_metrics(spark, label, wrapper, fmt):
    _, rows = _run(spark, wrapper, fmt)
    by_id = {r["clip_id"]: r for r in rows}
    assert len(rows) == 4 and set(by_id) == {GOOD, NULL, BAD, UNKNOWN}
    good = by_id[GOOD]
    assert good["decode_ok"] is True
    assert good["sr_decoded"] == SR and good["n_samples"] == SR
    assert good["rms"] > 0.0 and good["peak"] > 0.0
    for cid in (NULL, BAD, UNKNOWN):
        r = by_id[cid]
        got = (r["decode_ok"], r["sr_decoded"], r["n_samples"], r["rms"], r["peak"])
        assert got == (False, 0, 0, 0.0, 0.0), (cid, r)


@pytest.mark.parametrize(
    "label,wrapper,fmt,n_good", NO_ROW, ids=[c[0] for c in NO_ROW]
)
def test_failed_decode_gives_no_row(spark, label, wrapper, fmt, n_good):
    out, rows = _run(spark, wrapper, fmt)
    assert [r["clip_id"] for r in rows] == [GOOD] * n_good, label
    for r in rows:
        assert all(v is not None for v in r.values()), (label, r)


# ---------------------------------------------------------------------------
# binary-payload kernels: image, WebM, tar
# ---------------------------------------------------------------------------


def _image_payload() -> bytes:
    from dataflow_geobeam_spark.fixtures import independent

    img = (np.arange(6 * 8 * 3) * 7 % 256).astype(np.uint8).reshape(6, 8, 3)
    return independent.ppm_bytes(img)


def _wav_payload() -> bytes:
    from dataflow_geobeam_spark import codecs

    return codecs.encode_wav(np.zeros(800, dtype=np.float32), SR)


def _webm_payload() -> bytes:
    from dataflow_geobeam_spark.fixtures import independent

    blocks = [(1, 0, True, b"\x01" * 40), (1, 33, False, b"\x02" * 40), (2, 10, True, b"\x03" * 9)]
    return independent.webm_bytes([(1, "V_VP8"), (2, "A_OPUS")], [(0, blocks)])


def _tar_payload() -> bytes:
    import io
    import tarfile

    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w") as tf:
        for name, data in [("a.wav", b"A" * 3000), ("b.wav", b"B" * 3000), ("empty.wav", b"")]:
            info = tarfile.TarInfo(name)
            info.size = len(data)
            tf.addfile(info, io.BytesIO(data))
    return buf.getvalue()


def _payload_rows(good: bytes, wrong: bytes) -> list[tuple]:
    # a quarter of each good payload ends inside its pixel, block or member
    # data (a tar cut inside its zero padding would still read cleanly)
    return [(GOOD, good), (NULL, None), (BAD, good[: len(good) // 4]), (UNKNOWN, wrong)]


def _image_embeddings(df):
    from dataflow_geobeam_spark.functions.multimodal import with_image_embeddings

    return with_image_embeddings(df, "img_id", "bytes", width=4, height=3)


def _video_block_index(df):
    from dataflow_geobeam_spark.functions.multimodal import with_video_block_index

    return with_video_block_index(df)


def _tar_members(df):
    from dataflow_geobeam_spark.sources.binaryfiles import explode_tar_members

    return explode_tar_members(df)


def test_thumbnails_failed_decode_gives_null_row(spark):
    """Every input column is kept; only the image that decodes gets a
    thumbnail (a non-image payload gets NULL, not a stand-in)."""
    from dataflow_geobeam_spark.functions.multimodal import with_thumbnails

    rows = _payload_rows(_image_payload(), _wav_payload())
    df = spark.createDataFrame(
        [(i, b, "x") for i, b in rows], "img_id string, bytes binary, tag string"
    )
    out = with_thumbnails(df, width=4, height=3)
    assert out.columns == ["img_id", "bytes", "tag", "thumbnail"]
    got = {r.img_id: r for r in out.collect()}
    assert sorted(got) == [GOOD, NULL, BAD, UNKNOWN]
    for cid, payload in rows:
        r = got[cid]
        assert r.tag == "x" and (None if r.bytes is None else bytes(r.bytes)) == payload
        assert (r.thumbnail is not None) == (cid == GOOD), (cid, r.thumbnail)
    assert bytes(got[GOOD].thumbnail).startswith(b"P6\n4 3\n255\n")


BINARY_NO_ROW = [
    # (label, wrapper, input DDL, good payload, wrong container, rows the good payload yields)
    ("image_embeddings", _image_embeddings, "img_id string, bytes binary",
     _image_payload, _wav_payload, 1),
    ("video_block_index", _video_block_index, "video_id string, bytes binary",
     _webm_payload, _image_payload, 3),
    ("tar_members", _tar_members, "path string, content binary",
     _tar_payload, _wav_payload, 2),
]


@pytest.mark.parametrize(
    "label,wrapper,ddl,good,wrong,n_good", BINARY_NO_ROW, ids=[c[0] for c in BINARY_NO_ROW]
)
def test_binary_failed_decode_gives_no_row(spark, label, wrapper, ddl, good, wrong, n_good):
    df = spark.createDataFrame(_payload_rows(good(), wrong()), ddl)
    rows = [r.asDict() for r in wrapper(df).collect()]
    key = next(iter(rows[0])) if rows else None
    assert len(rows) == n_good, (label, rows)
    assert [r[key] for r in rows] == [GOOD] * n_good, label
    for r in rows:
        assert all(v is not None for v in r.values()), (label, r)
