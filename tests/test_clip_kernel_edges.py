"""Kernels run by the clip-kernel runner must not raise on a clip that
decodes: the runner guards only the decode, so a kernel exception fails the
task. Each case here pins a decodable edge-case clip to the kernel's
documented NULL."""

from __future__ import annotations

import numpy as np


def test_spectral_zero_rate_clip_gives_null_row(spark):
    """Only the decode is guarded, so a kernel must not raise on a clip that
    decodes. A WAV whose header carries sample rate 0 (and no declared
    rate) has no frequency axis: the spectral kernel returns its NULL row
    instead of dividing by zero."""
    from dataflow_geobeam_spark import codecs
    from dataflow_geobeam_spark.functions.audio import (
        spectral_features_np,
        with_spectral_metrics,
    )

    pcm = (0.5 * np.sin(np.arange(800) * 0.3)).astype(np.float32)
    wav = codecs.encode_wav(pcm, 0)
    assert codecs.decode(wav, "wav")[1] == 0
    assert spectral_features_np(pcm, 0) is None
    assert spectral_features_np(pcm, 8000) is not None
    df = spark.createDataFrame(
        [("z0", wav, "wav", None)], "clip_id string, bytes binary, codec string, sr_hz int"
    )
    rows = with_spectral_metrics(df).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.spectral_centroid_hz is None and r.spectral_bandwidth_hz is None
    assert r.spectral_rolloff_hz is None
