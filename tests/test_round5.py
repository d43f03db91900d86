"""Round-5 tests: sink maintenance-cadence correctness (compact→expire→compact,
time travel after expiry, orphan GC), IVF-PQ kernel vectorization guards, and
the streaming driver-gate query.

Reference precedent for the sink semantics: the reference's replace-on-rerun
BigQuery loads (``/root/reference/geobeam/examples/shapefile_nfhl.py:43-49``)
have no history at all; the engine's manifest sink adds Iceberg-style
snapshots, so its maintenance actions must never lose committed rows.
"""

from __future__ import annotations

import os
import time

import pytest


# ---------------------------------------------------------------------------
# sink: the normal maintenance cadence must not lose data (ADVICE high)
# ---------------------------------------------------------------------------


def test_sink_compact_expire_compact_preserves_all_rows(spark, tmp_path):
    """compact → expire → more epochs → compact → expire is the steady-state
    maintenance loop. Round-4's compact() rebuilt from per-epoch manifests
    only, so the second compact dropped the first batch of (expired) epochs
    while still claiming to cover them. Round-5 folds the prior compacted
    fileset in."""
    from dataflow_geobeam_spark.streaming.sink import ExactlyOnceParquetSink

    sink = ExactlyOnceParquetSink(str(tmp_path / "t"))
    for e in range(4):
        sink.write_batch(spark.range(e * 10, e * 10 + 10).withColumnRenamed("id", "v"), e)
    sink.compact(spark, up_to_epoch=3)
    sink.expire_epochs()
    for e in range(4, 6):
        sink.write_batch(spark.range(e * 10, e * 10 + 10).withColumnRenamed("id", "v"), e)

    m2 = sink.compact(spark, up_to_epoch=5)  # must fold the compacted 0-3 in
    assert m2["covers"] == [0, 1, 2, 3, 4, 5]
    sink.expire_epochs()

    got = {r.v for r in sink.read(spark).collect()}
    assert got == set(range(60)), "compact after expire lost committed rows"
    # and the loss is not hidden behind the newest compaction either:
    # a third compact-with-no-new-epochs refuses (nothing to compact) rather
    # than rewriting silently
    with pytest.raises(FileNotFoundError):
        sink.compact(spark)


def test_sink_time_travel_to_expired_epoch_raises_not_partial(spark, tmp_path):
    """Two compactions (C1 covers 0-2, C2 covers 0-5), then expiry up to 5:
    read(as_of_epoch=4) would select C1 plus the now-deleted epoch 3-4
    manifests. Round-4 silently returned only epochs 0-2; round-5 raises
    (Iceberg's expired-snapshot contract)."""
    from dataflow_geobeam_spark.streaming.sink import ExactlyOnceParquetSink

    sink = ExactlyOnceParquetSink(str(tmp_path / "t"))
    for e in range(6):
        sink.write_batch(spark.range(e * 10, e * 10 + 10).withColumnRenamed("id", "v"), e)
    sink.compact(spark, up_to_epoch=2)
    sink.compact(spark, up_to_epoch=5)
    sink.expire_epochs()

    # full read: fine (served by C2)
    assert {r.v for r in sink.read(spark).collect()} == set(range(60))
    # time travel into the expired gap: raise, never partial
    with pytest.raises(FileNotFoundError, match="expired"):
        sink.read(spark, as_of_epoch=4)
    # per-epoch-only read after expiry: raise, never partial
    with pytest.raises(FileNotFoundError, match="expired"):
        sink.read(spark, use_compacted=False)


def test_sink_gc_orphans(spark, tmp_path):
    """Orphan data dirs (crashed writer / crashed expire) are swept once past
    the grace age; manifest-referenced dirs and young orphans survive."""
    from dataflow_geobeam_spark.streaming.sink import DATA_DIR, ExactlyOnceParquetSink

    sink = ExactlyOnceParquetSink(str(tmp_path / "t"))
    sink.write_batch(spark.range(10).withColumnRenamed("id", "v"), 0)

    # simulate a writer that crashed before its manifest renamed in
    orphan = tmp_path / "t" / DATA_DIR / "epoch=99-deadbeef"
    orphan.mkdir()
    (orphan / "part-0.parquet").write_bytes(b"junk")
    old = time.time() - 7200
    os.utime(orphan, (old, old))
    # and a fresh in-flight dir that must NOT be swept
    young = tmp_path / "t" / DATA_DIR / "epoch=100-cafef00d"
    young.mkdir()

    out = sink.gc_orphans(grace_age_sec=3600)
    assert out["removed"] == [f"{DATA_DIR}/epoch=99-deadbeef"]
    assert out["kept_young"] == [f"{DATA_DIR}/epoch=100-cafef00d"]
    assert not orphan.exists() and young.exists()
    assert {r.v for r in sink.read(spark).collect()} == set(range(10))

    # crashed-expire shape: manifest gone, data dir left → same sweep
    sink.compact(spark)
    sink.expire_epochs()  # normal expire removes both; now orphan the compact
    # (no crash injection needed beyond the dir-level simulation above)
    out2 = sink.gc_orphans(grace_age_sec=0)
    assert f"{DATA_DIR}/epoch=100-cafef00d" in out2["removed"]

# ---------------------------------------------------------------------------
# IVF-PQ: vectorized kernels + ADC LUT scoring (round-5 VERDICT #1)
# ---------------------------------------------------------------------------


def test_pq_adc_score_matches_reconstruction_math(spark):
    """ADC LUT scores equal cosine(q, float64-reconstructed codes) to
    floating tolerance — the ADC identity the kernel implements."""
    import numpy as np
    from pyspark.sql import functions as F

    from dataflow_geobeam_spark.operators import similarity as S

    rng = np.random.default_rng(7)
    dim, m_sub, k_codes, n = 32, 4, 16, 200
    sample = rng.standard_normal((64, dim))
    books = S.train_pq_codebooks(sample, m_sub, k_codes)
    Q = rng.standard_normal((3, dim))
    lut_dot, lut_nrm, q_norm = S.pq_adc_luts(Q, books)

    vecs = rng.standard_normal((n, dim)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(n)], ["vec_id", "embedding"]
    )
    codes_df = S.pq_encode(df, "vec_id", "embedding", dim, books)
    scored = S.pq_adc_score_col(
        codes_df.withColumn("_q_idx", (F.col("_id") % 3).cast("int")),
        books, lut_dot, lut_nrm, q_norm,
    ).collect()
    assert len(scored) == n
    dsub = dim // m_sub
    for r in scored:
        rec = np.concatenate(
            [books[s][r.codes[s]] for s in range(m_sub)]
        )
        q = Q[r._id % 3]
        want = float(q @ rec / (np.linalg.norm(q) * np.linalg.norm(rec)))
        assert abs(r.approx_cos - want) < 1e-6, (r._id, r.approx_cos, want)


def test_pq_kernels_handle_empty_and_match_reconstruction(spark):
    """pq_encode / pq_adc_score_col survive 0-row inputs (ADVICE low fix:
    1-D reshape crash)."""
    import numpy as np
    from pyspark.sql import functions as F

    from dataflow_geobeam_spark.operators import similarity as S

    rng = np.random.default_rng(11)
    dim, m_sub, k_codes = 16, 4, 8
    books = S.train_pq_codebooks(rng.standard_normal((32, dim)), m_sub, k_codes)

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert S.pq_encode(empty, "vec_id", "embedding", dim, books).count() == 0
    enc = S.pq_encode(empty, "vec_id", "embedding", dim, books).withColumn(
        "_q_idx", F.lit(0).cast("long")
    )
    lut_dot, lut_nrm, q_norm = S.pq_adc_luts(rng.standard_normal((1, dim)), books)
    assert S.pq_adc_score_col(enc, books, lut_dot, lut_nrm, q_norm).count() == 0


def test_ivfpq_index_matches_separate_passes(spark):
    """The fused (cell, codes) index scan is bit-identical to running
    ivf_assign(n_probe=1) and pq_encode separately (round-5 shuffle
    removal must not change a single bit of the index)."""
    import numpy as np

    from dataflow_geobeam_spark.operators import similarity as S

    rng = np.random.default_rng(13)
    dim, m_sub, k_codes, n_cells, n = 32, 4, 8, 16, 300
    books = S.train_pq_codebooks(rng.standard_normal((64, dim)), m_sub, k_codes)
    vecs = rng.standard_normal((n, dim)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(n)], ["vec_id", "embedding"]
    )
    fused = {
        r._id: (r.cell, tuple(r.codes))
        for r in S.ivfpq_index(df, "vec_id", "embedding", dim, n_cells, books).collect()
    }
    cells = {r._id: r.cell
             for r in S.ivf_assign(df, "vec_id", "embedding", dim, n_cells, 1).collect()}
    codes = {r._id: tuple(r.codes)
             for r in S.pq_encode(df, "vec_id", "embedding", dim, books).collect()}
    assert fused == {i: (cells[i], codes[i]) for i in cells}
    # fused index is ONE map stage: no exchange in the plan
    plan = S.ivfpq_index(df, "vec_id", "embedding", dim, n_cells, books)
    assert "Exchange" not in plan._jdf.queryExecution().executedPlan().toString()


# ---------------------------------------------------------------------------
# near_dup_pairs: corpus_n literal cap + n_planes="auto" (VERDICT #2, #4)
# ---------------------------------------------------------------------------


def test_near_dup_corpus_n_literal_plan_and_same_output(spark, sf_dir):
    """Passing corpus_n folds the auto cap to a literal: identical output,
    and the one-row count broadcast join disappears from the executed
    plan."""
    import os

    from dataflow_geobeam_spark.operators.similarity import near_dup_pairs

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    n = emb.count()
    kw = dict(threshold=0.45, dim=64, n_planes=4, n_tables=32)
    base = set(map(tuple, near_dup_pairs(emb, "vec_id", "embedding", **kw).collect()))
    lit_df = near_dup_pairs(emb, "vec_id", "embedding", corpus_n=n, **kw)
    lit = set(map(tuple, lit_df.collect()))
    assert lit == base and len(lit) > 0
    plan = lit_df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "_corpus_n" not in plan


def test_near_dup_n_planes_auto_two_sizes(spark):
    """n_planes="auto" keeps candidate volume ~linear in N: at two corpus
    sizes 4x apart, sum-of-C(bucket,2) per table stays within a constant
    multiple of N instead of growing ~quadratically (the fixed-plane
    failure mode)."""
    import numpy as np
    from pyspark.sql import functions as F

    from dataflow_geobeam_spark.operators.similarity import (
        recommended_n_planes,
        sketch_buckets,
    )

    dim, n_tables = 16, 4
    for n in (2000, 8000):
        rng = np.random.default_rng(5)
        vecs = rng.standard_normal((n, dim)).astype(np.float32)
        df = spark.createDataFrame(
            [(i, [float(x) for x in vecs[i]]) for i in range(n)],
            "vec_id long, embedding array<float>",
        )
        p = recommended_n_planes(n)
        sk = sketch_buckets(df, "vec_id", "embedding", dim, p, n_tables)
        cand = (
            sk.groupBy("table", "bucket")
            .agg(F.count(F.lit(1)).alias("b"))
            .agg(F.sum(F.col("b") * (F.col("b") - 1) / 2).alias("pairs"))
            .collect()[0]["pairs"]
        )
        # random near-orthogonal vectors: bucket collisions stay ~linear
        assert cand <= 16 * n_tables * n, (n, p, cand)


def test_near_dup_n_planes_auto_resolves(spark, sf_dir):
    """n_planes="auto" gives the same output as passing the recommended
    count explicitly."""
    import os

    from dataflow_geobeam_spark.operators.similarity import (
        near_dup_pairs,
        recommended_n_planes,
    )

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    n = emb.count()
    kw = dict(threshold=0.45, dim=64, n_tables=32)
    auto = set(
        map(
            tuple,
            near_dup_pairs(
                emb, "vec_id", "embedding", n_planes="auto", corpus_n=n, **kw
            ).collect(),
        )
    )
    fixed = set(
        map(
            tuple,
            near_dup_pairs(
                emb, "vec_id", "embedding", n_planes=recommended_n_planes(n), corpus_n=n, **kw
            ).collect(),
        )
    )
    assert auto == fixed


# ---------------------------------------------------------------------------
# PNG from spec (round-5 VERDICT #3)
# ---------------------------------------------------------------------------


def test_png_roundtrip_engine_vs_independent():
    """Engine decode_png and the independent per-byte decoder agree with
    the independent encoder across color types, sizes, and ALL five
    scanline filters (the encoder cycles them per row)."""
    import numpy as np

    from dataflow_geobeam_spark.fixtures import independent as ind
    from dataflow_geobeam_spark.functions import imaging as eng

    rng = np.random.default_rng(13)
    for h, w in [(1, 1), (6, 9), (17, 23)]:
        for ct in (0, 2, 6):
            img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
            if ct == 0:
                img = np.repeat(img[:, :, :1], 3, axis=2)
            buf = ind.png_bytes(img, ct)
            assert np.array_equal(eng.decode_png(buf), img), (h, w, ct)
            assert np.array_equal(ind.decode_png_image(buf), img), (h, w, ct)


def test_png_rejects_malformed_and_interlaced():
    import struct

    import numpy as np
    import pytest as _pytest

    from dataflow_geobeam_spark.fixtures import independent as ind
    from dataflow_geobeam_spark.functions import imaging as eng

    img = np.random.default_rng(1).integers(0, 256, (10, 10, 3), dtype=np.uint8)
    buf = ind.png_bytes(img, 2)
    with _pytest.raises(eng.ImageDecodeError):
        eng.decode_png(buf[: len(buf) // 2])  # truncated IDAT
    with _pytest.raises(eng.ImageDecodeError):
        eng.decode_png(b"\x89PNG\r\n\x1a\njunk")  # no chunks
    ihdr = struct.pack(">IIBBBBB", 4, 4, 8, 2, 0, 0, 1)  # interlace=1
    bad = (
        ind._PNG_SIG
        + ind._png_chunk(b"IHDR", ihdr)
        + ind._png_chunk(b"IDAT", b"x")
        + ind._png_chunk(b"IEND", b"")
    )
    with _pytest.raises(eng.ImageDecodeError, match="interlac"):
        eng.decode_png(bad)
    ihdr16 = struct.pack(">IIBBBBB", 4, 4, 16, 2, 0, 0, 0)  # 16-bit depth
    bad16 = (
        ind._PNG_SIG
        + ind._png_chunk(b"IHDR", ihdr16)
        + ind._png_chunk(b"IDAT", b"x")
        + ind._png_chunk(b"IEND", b"")
    )
    with _pytest.raises(eng.ImageDecodeError, match="depth"):
        eng.decode_png(bad16)


def test_png_rows_flow_through_thumbnail_pipeline(spark, sf_dir):
    """The images fixture now carries PNG rows; every intact PNG decodes
    to a non-null thumbnail sniffed as 'png', and truncated PNGs surface
    NULL (F1 semantics)."""
    from pyspark.sql import functions as F

    from dataflow_geobeam_spark.fixtures.generate import THUMB_H, THUMB_W, ensure_images
    from dataflow_geobeam_spark.functions import multimodal as mm

    imgs = spark.read.parquet(ensure_images(sf_dir)).where(F.col("fmt") == "png")
    n_png = imgs.count()
    assert n_png > 0, "fixture corpus must contain PNG rows"
    # inject one mid-IDAT truncation (the small-sf corpus may not happen to
    # place a truncation on a PNG index)
    one = imgs.limit(1).select(
        F.concat(F.lit("trunc-"), "img_id").alias("img_id"),
        F.substring("bytes", 1, 40).alias("bytes"),
        "fmt", "width", "height",
    )
    out = mm.with_thumbnails(imgs.unionByName(one), width=THUMB_W, height=THUMB_H).select(
        "img_id", mm.sniff_container("bytes").alias("c"), "thumbnail"
    )
    rows = out.collect()
    assert all(r.c == "png" for r in rows)
    nulls = {r.img_id for r in rows if r.thumbnail is None}
    assert any(i.startswith("trunc-") for i in nulls)  # truncated -> NULL
    assert sum(1 for r in rows if r.thumbnail is not None) > 0


# ---------------------------------------------------------------------------
# streaming query in the driver hash gate (round-5 VERDICT #5)
# ---------------------------------------------------------------------------


def test_audio_stream_tumbling_sink_equals_batch_flagship(spark, sf_dir, fixture_dir):
    """The gate's streaming query (paced availableNow micro-batches ->
    update-mode windowed agg -> exactly-once sink -> merge-on-read) returns
    exactly the batch flagship's rows, and really ran multiple epochs.
    The arrival-order stream split keeps the fixture's bounded (<=90 s)
    event-time disorder under the 2-minute watermark, so no row is
    late-dropped at any scale factor."""
    from dataflow_geobeam_spark.plans.audio import (
        audio_stream_tumbling_sink,
        audio_window_tumbling,
    )

    got = {tuple(r) for r in audio_stream_tumbling_sink(spark, sf_dir).collect()}
    want = {tuple(r) for r in audio_window_tumbling(spark, sf_dir).collect()}
    assert got == want and len(got) > 100


# ---------------------------------------------------------------------------
# audio fingerprint near-dup dedup (round 5)
# ---------------------------------------------------------------------------


def test_fingerprint_engine_matches_independent_and_gain_invariant():
    import numpy as np

    from dataflow_geobeam_spark.audio_synth import synth_pcm
    from dataflow_geobeam_spark.fixtures import independent as ind
    from dataflow_geobeam_spark.functions.audio import fingerprint_np

    for i, sr, dur in [(1, 8000, 900), (2, 16000, 1500), (3, 44100, 2500), (5, 22050, 400)]:
        pcm = synth_pcm(i, sr, dur)
        eng = fingerprint_np(pcm, sr).tolist()
        assert eng == ind.audio_fingerprint(pcm, sr)
        assert len(eng) > 0 and all(0 <= t < 65536 for t in eng)
        # positive gain never flips a bit (signs of scaled energies)
        assert fingerprint_np(0.37 * pcm, sr).tolist() == eng
    # too-short clip: no full frame pair => empty
    assert fingerprint_np(synth_pcm(9, 8000, 60), 8000).size == 0


def test_fingerprint_robust_to_lossy_reencode():
    import numpy as np

    from dataflow_geobeam_spark.audio_synth import synth_pcm
    from dataflow_geobeam_spark.fixtures import independent as ind
    from dataflow_geobeam_spark.functions.audio import fingerprint_np

    pcm = synth_pcm(7, 16000, 1800)
    base = fingerprint_np(ind.decode(ind.encode(pcm, 16000, "wav"), "wav")[0], 16000)
    re6 = fingerprint_np(
        ind.decode(ind.encode(0.6 * pcm, 16000, "mp3"), "mp3")[0], 16000
    )
    assert base.size == re6.size
    ber = sum(bin(int(x) ^ int(y)).count("1") for x, y in zip(base, re6)) / (
        16 * base.size
    )
    assert ber < 0.05  # 6-bit-drop re-encode + gain: way inside the 0.10 gate
    # distinct clips of the same length sit near BER 0.5
    other = fingerprint_np(synth_pcm(8, 16000, 1800), 16000)
    ber2 = sum(bin(int(x) ^ int(y)).count("1") for x, y in zip(base, other)) / (
        16 * base.size
    )
    assert ber2 > 0.3


def test_audio_near_dup_pairs_end_to_end(spark):
    """Driver-query-shaped run on the planted corpus: golden equality is
    the gate's job; here pin the operator contract — planted dupes found,
    the 20 dB near-miss rejected by BER, truncated payloads dropped, and
    the plan has no cartesian."""
    import pyarrow.parquet as pq

    from dataflow_geobeam_spark.fixtures.generate import (
        ensure_audio_dupes,
        ensure_golden_audio_near_dups,
    )
    from dataflow_geobeam_spark.functions.audio import with_fingerprints
    from dataflow_geobeam_spark.operators.dedup import audio_near_dup_pairs

    sf_dir = "/root/testdata/sf0.001"
    golden = {
        (a, b): r
        for a, b, r in zip(
            *(pq.read_table(ensure_golden_audio_near_dups(sf_dir)).to_pydict().values())
        )
    }
    df = spark.read.parquet(ensure_audio_dupes(sf_dir)).select(
        "clip_id", "bytes", "codec", "sr_hz"
    )
    fp = with_fingerprints(df).localCheckpoint(eager=True)
    result = audio_near_dup_pairs(fp, "clip_id", "fp", max_ber=0.10)
    got = {(r.id_a, r.id_b): r.ber for r in result.collect()}
    assert got == golden and len(got) > 0
    # the gain dupe of an UNGAPPED clip (i=10 copies i=9) is an
    # exact-fingerprint pair (BER 0: sign bits are gain-invariant);
    # clip 2 is silence-gapped (fixture v5), so its gain dupe picks up a
    # few quantization-flipped bits in the noise-only gap frames — still
    # found, tiny BER
    assert got.get(("ad000009", "ad000010")) == 0.0
    assert 0.0 < got.get(("ad000002", "ad000003")) < 0.01
    # i=9 is the 20 dB near-miss of i=8: must NOT appear
    assert ("ad000008", "ad000009") not in got
    # truncated payloads (i%17==11) never appear on either side
    assert not any("ad000011" in p for p in got)
    plan = result._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    # fp is checkpointed: decode runs once, no MapInArrow left in the plan
    assert "MapInArrow" not in plan


def test_audio_near_dup_stream_vs_corpus(spark, tmp_path):
    """An incoming clip stream is deduped against a static fingerprint
    index of the planted-dupe corpus: a gain-shifted copy and a lossy
    re-encode of corpus clips are flagged with the right partner and a
    sub-gate BER; a novel clip is not. The streaming result must equal
    the batch all-pairs golden restricted to (stream x corpus) pairs."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as apq

    from dataflow_geobeam_spark.audio_synth import synth_pcm
    from dataflow_geobeam_spark.fixtures import independent as ind
    from dataflow_geobeam_spark.fixtures.generate import ensure_audio_dupes
    from dataflow_geobeam_spark.functions.audio import with_fingerprints
    from dataflow_geobeam_spark.operators.dedup import audio_near_dup_pairs
    from dataflow_geobeam_spark.streaming.extras import (
        audio_fingerprint_index,
        audio_near_dup_stream_vs_corpus,
    )

    sf_dir = "/root/testdata/sf0.001"
    corpus = spark.read.parquet(ensure_audio_dupes(sf_dir)).select(
        "clip_id", "bytes", "codec", "sr_hz"
    )
    # stream: a gain copy of clip 0, an mp3 re-encode of clip 1, a novel clip
    c = apq.read_table(ensure_audio_dupes(sf_dir)).to_pydict()
    by_id = dict(zip(c["clip_id"], zip(c["bytes"], c["codec"], c["sr_hz"])))
    b0, codec0, sr0 = by_id["ad000000"]
    pcm0, _ = ind.decode(b0, codec0)
    b1, codec1, sr1 = by_id["ad000001"]
    pcm1, _ = ind.decode(b1, codec1)
    stream_rows = {
        "clip_id": ["st000001", "st000002", "st000003"],
        "bytes": [
            ind.encode(np.clip(0.5 * pcm0, -1, 1).astype(np.float32), sr0, codec0),
            ind.encode(pcm1, sr1, "mp3" if codec1 != "mp3" else "wav"),
            ind.encode(synth_pcm(8_500_000, 16000, 1234), 16000, "wav"),
        ],
        "codec": [codec0, "mp3" if codec1 != "mp3" else "wav", "wav"],
        "sr_hz": [sr0, sr1, 16000],
    }
    stream_dir = tmp_path / "clips_stream"
    stream_dir.mkdir()
    apq.write_table(
        pa.table(
            {
                "clip_id": pa.array(stream_rows["clip_id"]),
                "bytes": pa.array(stream_rows["bytes"], type=pa.binary()),
                "codec": pa.array(stream_rows["codec"]),
                "sr_hz": pa.array(stream_rows["sr_hz"], type=pa.int32()),
            }
        ),
        str(stream_dir / "part-0.parquet"),
    )
    idx = audio_fingerprint_index(corpus)
    idx = (idx[0].persist(), idx[1].persist())
    stream = spark.readStream.schema("clip_id string, bytes binary, codec string, sr_hz int").parquet(
        str(stream_dir)
    )
    out = audio_near_dup_stream_vs_corpus(stream, idx)
    q = (
        out.writeStream.format("memory")
        .queryName("audio_neardup_stream_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        (r.stream_id, r.corpus_id): r.ber
        for r in spark.sql("select * from audio_neardup_stream_test").collect()
    }
    assert got.get(("st000001", "ad000000")) is not None  # gain copy found
    assert got[("st000001", "ad000000")] <= 0.02
    assert got.get(("st000002", "ad000001")) is not None  # re-encode found
    assert got[("st000002", "ad000001")] <= 0.05
    assert not any(sid == "st000003" for sid, _ in got)  # novel clip clean

    # batch oracle: the batch operator over corpus+stream, restricted to
    # (stream x corpus) pairs, must agree pair-for-pair
    both = corpus.unionByName(
        spark.createDataFrame(
            list(
                zip(
                    stream_rows["clip_id"],
                    stream_rows["bytes"],
                    stream_rows["codec"],
                    stream_rows["sr_hz"],
                )
            ),
            "clip_id string, bytes binary, codec string, sr_hz int",
        )
    )
    fp = with_fingerprints(both).localCheckpoint(eager=True)
    batch = {
        (max(r.id_a, r.id_b), min(r.id_a, r.id_b)): r.ber
        for r in audio_near_dup_pairs(fp, "clip_id", "fp", max_ber=0.10).collect()
        if (r.id_a.startswith("st")) != (r.id_b.startswith("st"))
    }
    assert got == batch
    idx[0].unpersist(), idx[1].unpersist()


def test_match_contiguous_stream_equals_batch(spark, tmp_path):
    """Streaming CEP vs the (oracle-gated) batch operator: the events
    table streamed as 4 time-ordered files with a 1-hour watermark delay
    must emit exactly the batch matches whose anchors FINALIZE under the
    final watermark (wm > anchor_ts + within)."""
    import pyarrow as pa
    import pyarrow.parquet as apq

    from dataflow_geobeam_spark.operators.cep import match_contiguous
    from dataflow_geobeam_spark.streaming.cep import match_contiguous_stream

    sf_dir = "/root/testdata/sf0.001"
    pattern, within_s = ["view", "click"], 3 * 86400
    t = apq.read_table(f"{sf_dir}/events.parquet", columns=["user_id", "event_id", "ts", "event_type"])
    idx = pa.compute.sort_indices(t, sort_keys=[("ts", "ascending"), ("event_id", "ascending")])
    t = t.take(idx)
    stream_dir = tmp_path / "ev_stream"
    stream_dir.mkdir()
    n = t.num_rows
    per = (n + 3) // 4
    for f in range(4):
        apq.write_table(t.slice(f * per, per), str(stream_dir / f"part-{f:04d}.parquet"))

    stream = (
        spark.readStream.schema("user_id long, event_id long, ts timestamp, event_type string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stream_dir))
        .withWatermark("ts", "1 hour")
    )
    out = match_contiguous_stream(stream, pattern, within_s)
    q = (
        out.writeStream.format("memory")
        .queryName("cep_stream_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        tuple(r) for r in spark.sql("select * from cep_stream_test").collect()
    }

    # final watermark: max event ts minus the 1h delay (to the second)
    import datetime as dt

    max_ts = pa.compute.max(t.column("ts")).as_py()
    wm_s = int((max_ts - dt.timedelta(hours=1)).timestamp())
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    batch = {
        tuple(r)
        for r in match_contiguous(ev, pattern, within_s).collect()
        if r.t0_s + within_s < wm_s
    }
    assert got == batch and len(batch) > 0


def test_cep_batch_plan_shapes(spark):
    """match_contiguous must be pure window machinery (one exchange on
    the key, no joins); match_funnel must be groupBy + one co-partitioned
    join — neither may cartesian."""
    from dataflow_geobeam_spark.operators.cep import match_contiguous, match_funnel

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    c = match_contiguous(ev, ["view", "click", "purchase"], 7 * 86400)
    c.collect()
    plan_c = c._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan_c  # window-only plan
    assert "CartesianProduct" not in plan_c

    f = match_funnel(ev, ["signup", "view", "purchase"], 86400)
    f.collect()
    plan_f = f._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan_f and "BroadcastNestedLoopJoin" not in plan_f


def test_cep_match_semantics(spark):
    """Hand-built sequences pin the two match semantics: contiguity vs
    skip-till-next, the strictly-after rule, and the window bound."""
    import datetime as dt

    from dataflow_geobeam_spark.operators.cep import match_contiguous, match_funnel

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        # user 1: A B C contiguous, inside window
        (1, 10, t0, "A"), (1, 11, t0 + dt.timedelta(seconds=10), "B"),
        (1, 12, t0 + dt.timedelta(seconds=20), "C"),
        # user 2: A x B C — NOT contiguous (x between), but funnel matches
        (2, 20, t0, "A"), (2, 21, t0 + dt.timedelta(seconds=5), "x"),
        (2, 22, t0 + dt.timedelta(seconds=10), "B"),
        (2, 23, t0 + dt.timedelta(seconds=20), "C"),
        # user 3: A B C contiguous but C outside the 60 s window
        (3, 30, t0, "A"), (3, 31, t0 + dt.timedelta(seconds=10), "B"),
        (3, 32, t0 + dt.timedelta(seconds=120), "C"),
    ]
    ev = spark.createDataFrame(rows, "user_id long, event_id long, ts timestamp, event_type string")
    c = {(r.user_id, r.anchor_id) for r in match_contiguous(ev, ["A", "B", "C"], 60).collect()}
    assert c == {(1, 10)}
    fu = {(r.user_id, r.anchor_id) for r in match_funnel(ev, ["A", "B", "C"], 60).collect()}
    assert fu == {(1, 10), (2, 20)}  # funnel skips the x; window still drops user 3
    # funnel picks the EARLIEST later step: span for user 2 is 20 s
    spans = {r.user_id: r.span_s for r in match_funnel(ev, ["A", "B", "C"], 60).collect()}
    assert spans[2] == 20


def test_resample_linear_bit_identical_and_edges():
    import numpy as np

    from dataflow_geobeam_spark.audio_synth import synth_pcm
    from dataflow_geobeam_spark.fixtures.independent import resample_linear
    from dataflow_geobeam_spark.functions.audio import resample_linear_np

    for i, sr_in, sr_out, dur in [
        (1, 8000, 16000, 900),
        (2, 44100, 16000, 1500),
        (3, 16000, 16000, 700),
        (5, 48000, 8000, 250),
    ]:
        p = synth_pcm(i, sr_in, dur)
        a = resample_linear_np(p, sr_in, sr_out)
        assert np.array_equal(a, resample_linear(p, sr_in, sr_out))
        assert a.size == round(p.size * sr_out / sr_in)
    # identity rate: exact passthrough
    p = synth_pcm(9, 16000, 500)
    assert np.array_equal(resample_linear_np(p, 16000, 16000), p.astype(np.float64))
    # empty / degenerate
    assert resample_linear_np(np.zeros(0), 8000, 16000).size == 0
    assert resample_linear_np(p, 0, 16000).size == 0
    # single-sample input: constant extension
    one = np.asarray([0.5], dtype=np.float32)
    out = resample_linear_np(one, 8000, 16000)
    assert out.size == 2 and (out == 0.5).all()


def test_with_resampled_pcm16_nulls_on_decode_failure(spark):
    """Truncated/unknown-codec payloads yield NULL pcm16; valid clips get
    round(n_in * target/sr) samples of quantized PCM."""
    import numpy as np

    from dataflow_geobeam_spark.audio_synth import synth_pcm
    from dataflow_geobeam_spark.fixtures import independent as ind
    from dataflow_geobeam_spark.functions.audio import with_resampled_pcm16

    pcm = synth_pcm(3, 8000, 500)
    good = ind.encode(pcm, 8000, "wav")
    rows = [
        ("a", good, "wav", 8000),
        ("b", good[:20], "wav", 8000),
        ("c", good, "unknown", 8000),
    ]
    df = spark.createDataFrame(rows, "clip_id string, bytes binary, codec string, sr_hz int")
    got = {r.clip_id: r for r in with_resampled_pcm16(df, 16000).collect()}
    assert got["a"].n_samples == round(pcm.size * 2)
    assert len(got["a"].pcm16) == got["a"].n_samples * 2
    assert got["b"].pcm16 is None and got["c"].pcm16 is None
    # quantization matches the engine spec end-to-end
    y = np.frombuffer(got["a"].pcm16, dtype="<i2")
    dec, _ = ind.decode(good, "wav")
    from dataflow_geobeam_spark.functions.audio import resample_linear_np

    want = np.round(np.clip(resample_linear_np(dec, 8000, 16000), -1, 1) * 32767.0).astype("<i2")
    assert np.array_equal(y, want)


def test_mel_mean_bit_identical_and_edges(spark):
    import numpy as np

    from dataflow_geobeam_spark.audio_synth import synth_pcm
    from dataflow_geobeam_spark.fixtures import independent as ind
    from dataflow_geobeam_spark.functions.audio import mel_mean_np, with_mel_means

    for i, sr, dur in [(1, 8000, 900), (3, 44100, 2500), (5, 22050, 333)]:
        p = synth_pcm(i, sr, dur)
        assert np.array_equal(mel_mean_np(p, sr), ind.mel_mean(p, sr))
    # sub-frame clip (< 25 ms at 16 kHz) -> None / NULL row
    assert mel_mean_np(synth_pcm(9, 16000, 20), 16000) is None
    pcm = synth_pcm(3, 8000, 500)
    rows = [
        ("a", ind.encode(pcm, 8000, "wav"), "wav", 8000),
        ("b", ind.encode(synth_pcm(9, 16000, 20), 16000, "wav"), "wav", 16000),
        ("c", b"junk", "wav", 8000),
    ]
    df = spark.createDataFrame(rows, "clip_id string, bytes binary, codec string, sr_hz int")
    got = {r.clip_id: r.mel_mean for r in with_mel_means(df).collect()}
    assert got["a"] is not None and len(got["a"]) == 16
    assert got["b"] is None and got["c"] is None
