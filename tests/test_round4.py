"""Round-4 regression tests: corpus-scaled auto bucket cap (ADVICE fix),
cap drop accounting, runtime exchange-reuse pinning for both LSH
self-joins, and the TPC-H skew trial for the salted aggregate.
"""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# auto cap: no empty-result cliff when routine occupancy crosses a fixed cap
# ---------------------------------------------------------------------------


def _corpus_with_planted_pair(spark, n=3000, dim=8, seed=11):
    rng = np.random.default_rng(seed)
    vecs = rng.standard_normal((n, dim)).astype(np.float32)
    # vec 1 = vec 0 + tiny noise: cosine ~0.9999
    vecs[1] = vecs[0] + 0.001 * rng.standard_normal(dim).astype(np.float32)
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_auto_cap_scales_with_corpus(spark):
    """The round-3 fixed cap's cliff (ADVICE-medium): with coarse buckets,
    routine occupancy N/2^n_planes crosses any fixed cap as N grows and the
    operator silently returns empty. Here: 3000 vectors, n_planes=1 -> 2
    buckets of ~1500 > 1000, so the old default drops EVERY bucket; the
    auto cap (8x uniform share = 12000) keeps them and finds the planted
    near-identical pair."""
    from dataflow_geobeam_spark.operators.similarity import near_dup_pairs

    emb = _corpus_with_planted_pair(spark)
    kw = dict(threshold=0.99, dim=8, n_planes=1, n_tables=2)

    fixed = near_dup_pairs(emb, "vec_id", "embedding", max_bucket_size=1000, **kw)
    assert fixed.count() == 0  # the cliff the ADVICE described

    auto = near_dup_pairs(emb, "vec_id", "embedding", **kw)  # default = "auto"
    pairs = {(r.id_a, r.id_b) for r in auto.collect()}
    assert (0, 1) in pairs


def test_auto_cap_matches_fixed_cap_at_small_n(spark, sf_dir):
    """Below the floor the auto cap resolves to the same 1000 the round-3
    default used — driver queries are unchanged by the default switch."""
    from dataflow_geobeam_spark.operators.similarity import near_dup_pairs

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    kw = dict(threshold=0.45, dim=64, n_planes=4, n_tables=32)
    auto = set(map(tuple, near_dup_pairs(emb, "vec_id", "embedding", **kw).collect()))
    fixed = set(
        map(
            tuple,
            near_dup_pairs(
                emb, "vec_id", "embedding", max_bucket_size=1000, **kw
            ).collect(),
        )
    )
    assert auto == fixed and len(auto) > 0


# ---------------------------------------------------------------------------
# cap drop accounting (VERDICT #7)
# ---------------------------------------------------------------------------


def test_near_dup_cap_stats_reports_degenerate_drops(spark):
    from dataflow_geobeam_spark.operators.similarity import near_dup_cap_stats

    vec = [float(x) for x in np.random.default_rng(7).standard_normal(64)]
    emb = spark.createDataFrame(
        [(i, vec) for i in range(1100)], "vec_id long, embedding array<float>"
    )
    row = near_dup_cap_stats(
        emb, "vec_id", "embedding", dim=64, n_planes=4, n_tables=32
    ).collect()[0]
    # identical vectors: one hot bucket per table, every sketch row inside it
    assert row.cap == 1000  # auto floor (8 * 1100 / 16 = 550 < 1000)
    assert row.n_sketch_rows == 1100 * 32
    assert row.n_buckets_dropped == 32
    assert row.n_rows_dropped == 1100 * 32
    assert row.dropped_row_share == 1.0
    assert row.max_bucket == 1100


def test_near_dup_cap_stats_zero_on_healthy_corpus(spark, sf_dir):
    from dataflow_geobeam_spark.operators.similarity import near_dup_cap_stats

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    row = near_dup_cap_stats(
        emb, "vec_id", "embedding", dim=64, n_planes=4, n_tables=32
    ).collect()[0]
    assert row.n_buckets_dropped == 0
    assert row.dropped_row_share == 0.0
    assert row.n_sketch_rows > 0


def test_minhash_cap_stats_accounting(spark):
    from dataflow_geobeam_spark.operators.dedup import minhash_cap_stats

    docs = spark.createDataFrame(
        [(i, "the same exact boilerplate document text repeated verbatim") for i in range(1100)]
        + [(5000 + i, f"unique document number {i} with its own words {i * 7}") for i in range(20)],
        "doc_id long, text string",
    )
    row = minhash_cap_stats(docs, "doc_id", "text").collect()[0]
    # the 1100 identical docs are hot in all 16 bands; the 20 unique docs'
    # buckets stay tiny
    assert row.cap == 1000
    assert row.n_buckets_dropped == 16
    assert row.n_rows_dropped == 1100 * 16
    assert 0.9 < row.dropped_row_share < 1.0
    assert row.max_bucket == 1100


# ---------------------------------------------------------------------------
# runtime exchange reuse in both LSH self-joins (VERDICT #1)
# ---------------------------------------------------------------------------


def _executed_final_plan(df) -> str:
    """Force execution, then return the AQE FINAL plan string.

    ``collect()`` (not a noop write, which spawns a separate
    QueryExecution) so the final adaptive plan lands on THIS DataFrame's
    queryExecution."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    return plan


def test_minhash_self_join_reuses_signature_exchange(spark, sf_dir):
    """The dominant LSH stage (shingle -> signature -> band explode ->
    (band, bucket) exchange) must execute ONCE: both self-join branches
    read the same exchange. The dumped initial plan shows the subtree
    twice (round-3 VERDICT #1); this pins that the EXECUTED plan collapses
    the second copy into a ReusedExchange."""
    from dataflow_geobeam_spark.operators.dedup import minhash_lsh_pairs

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    out = minhash_lsh_pairs(docs, "doc_id", "text", n=3, k=64, threshold=0.5)
    plan = _executed_final_plan(out)
    assert "ReusedExchange" in plan


def test_near_dup_self_join_reuses_sketch_exchange(spark, sf_dir):
    """near_dup_pairs scores inside buckets instead of self-joining: the
    sketch (which carries the vectors) executes ONCE, crosses one
    (table, bucket) exchange into the scoring pass, and nothing joins
    before the distinct."""
    from dataflow_geobeam_spark.operators.similarity import near_dup_pairs

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    out = near_dup_pairs(
        emb, "vec_id", "embedding", threshold=0.45, dim=64, n_planes=4, n_tables=32
    )
    plan = _executed_final_plan(out)
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("_sketch_batches") == 1
    assert final.count("hashpartitioning(table") == 1
    assert "Join" not in final and "ReusedExchange" not in final


# ---------------------------------------------------------------------------
# real image decode kernel: from-spec PPM/BMP + NN resize (VERDICT #5)
# ---------------------------------------------------------------------------


def _gradient_img(h, w, seed=3):
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, (h, w, 3), dtype=np.uint8)


def test_imaging_roundtrip_and_cross_impl():
    """Engine decoders invert the independent encoders and vice versa, and
    both NN resizes agree — two implementations, one spec."""
    from dataflow_geobeam_spark.fixtures import independent as I
    from dataflow_geobeam_spark.functions import imaging as E

    for shape in [(1, 1), (12, 16), (33, 7), (48, 64)]:
        img = _gradient_img(*shape)
        assert (E.decode_ppm(I.ppm_bytes(img)) == img).all()
        assert (E.decode_bmp(I.bmp_bytes(img)) == img).all()
        assert (I.decode_ppm_image(E.encode_ppm(img)) == img).all()
        for tw, th in [(16, 12), (5, 4)]:
            assert (E.resize_nearest(img, tw, th) == I.nn_resize(img, tw, th)).all()


def test_imaging_rejects_malformed():
    from dataflow_geobeam_spark.functions import imaging as E

    bad = [
        b"P6\n10 10\n255\n" + b"x" * 10,        # truncated raster
        b"P6\n0 5\n255\n",                       # bad dims
        b"P6\n3 3\n65535\n" + b"\x00" * 27,      # 16-bit maxval unsupported
        b"BMshort",                               # truncated bmp header
        b"GIF89a....",                            # unsupported container
    ]
    for buf in bad:
        with pytest.raises(E.ImageDecodeError):
            E.decode_image(buf)


def test_bmp_padding_and_bottom_up():
    """Width 7 forces 3 pad bytes per row; positive height means bottom-up
    storage — both must invert exactly."""
    from dataflow_geobeam_spark.fixtures import independent as I
    from dataflow_geobeam_spark.functions import imaging as E

    img = _gradient_img(5, 7)
    buf = I.bmp_bytes(img)
    assert (len(buf) - 54) % 4 == 0  # padded rows
    assert (E.decode_bmp(buf) == img).all()


def test_image_thumbnails_query_matches_golden(spark, sf_dir):
    """End-to-end: the Spark mapInArrow pipeline over the image fixture
    reproduces the independent golden byte-for-byte (md5), with NULL
    thumbnails exactly on the truncated payloads."""
    import pyarrow.parquet as pq

    from dataflow_geobeam_spark.fixtures.generate import ensure_golden_thumbnails
    from dataflow_geobeam_spark.plans.training_data import image_thumbnails

    golden_path = ensure_golden_thumbnails(sf_dir)
    got = {r.img_id: (r.container, r.thumb_md5, r.thumb_len)
           for r in image_thumbnails(spark, sf_dir).collect()}
    g = pq.read_table(golden_path).to_pylist()
    want = {r["img_id"]: (r["container"], r["thumb_md5"], r["thumb_len"]) for r in g}
    assert got == want
    assert any(v[1] is None for v in want.values())  # corrupt rows exist
    assert sum(v[1] is not None for v in want.values()) > len(want) // 2


def test_pgm_roundtrip_and_embedding_mirror():
    """P5 grayscale round-trips through both implementations, and the
    pixel-embedding kernels (engine vs independent) agree bit-for-bit
    across all three containers."""
    from dataflow_geobeam_spark.fixtures import independent as I
    from dataflow_geobeam_spark.functions import imaging as E

    rng = np.random.default_rng(5)
    g = rng.integers(0, 256, (11, 13), dtype=np.uint8)
    gray = np.stack([g, g, g], axis=2)
    buf = I.pgm_bytes(gray)
    assert (E.decode_pgm(buf) == gray).all()
    assert (I.decode_pgm_image(buf) == gray).all()
    col = rng.integers(0, 256, (11, 13, 3), dtype=np.uint8)
    for payload in (I.ppm_bytes(col), I.bmp_bytes(col), buf):
        a = E.pixel_embedding(payload, 8, 6)
        b = I.pixel_embedding_independent(payload, 8, 6)
        assert a.dtype == np.float32 and (a == b).all()
        # centered up to float32 cast error (uncentered mean would be ~128)
        assert abs(float(a.astype(np.float64).mean())) < 1e-3


def test_image_near_dups_query_matches_golden(spark, sf_dir):
    """End-to-end multimodal dedup: decode -> pixel embedding -> LSH
    near-dup self-join finds exactly the planted near-duplicate image
    pairs the independent golden enumerates (all-pairs exact cosine)."""
    import pyarrow.parquet as pq

    from dataflow_geobeam_spark.fixtures.generate import ensure_golden_image_near_dups
    from dataflow_geobeam_spark.plans.training_data import image_near_dups

    golden_path = ensure_golden_image_near_dups(sf_dir)
    got = {(r.id_a, r.id_b, r.cosine) for r in image_near_dups(spark, sf_dir).collect()}
    want = {(r["id_a"], r["id_b"], r["cosine"]) for r in pq.read_table(golden_path).to_pylist()}
    assert got == want and len(got) >= 3


# ---------------------------------------------------------------------------
# sink maintenance: expire_snapshots analog (round-4 addition)
# ---------------------------------------------------------------------------


def test_sink_expire_epochs(spark, tmp_path):
    """After compaction, expire deletes covered per-epoch manifests+data:
    full reads are unchanged (they use the compacted fileset), time travel
    to an expired epoch raises, uncovered epochs survive, and expiring
    without a compaction refuses outright."""
    from dataflow_geobeam_spark.streaming.sink import ExactlyOnceParquetSink

    sink = ExactlyOnceParquetSink(str(tmp_path / "table"))
    for e in range(4):
        df = spark.range(e * 10, e * 10 + 10).withColumnRenamed("id", "v")
        sink.write_batch(df, e)

    bare = ExactlyOnceParquetSink(str(tmp_path / "bare"))
    bare.write_batch(spark.range(3).withColumnRenamed("id", "v"), 0)
    with pytest.raises(FileNotFoundError):
        bare.expire_epochs()

    before = {r.v for r in sink.read(spark).collect()}
    sink.compact(spark, up_to_epoch=2)
    out = sink.expire_epochs()
    assert out["expired"] == [0, 1, 2]

    after = {r.v for r in sink.read(spark).collect()}
    assert after == before == set(range(40))
    # epoch 3 survived as a per-epoch snapshot; epoch 1 history is gone
    assert {r.v for r in sink.read(spark, as_of_epoch=3).collect()} == before
    with pytest.raises(FileNotFoundError):
        sink.read(spark, as_of_epoch=1)
    # manifest dir now holds: 1 compaction + 1 surviving epoch manifest
    import os as _os

    mdir = str(tmp_path / "table" / "_manifests")
    assert len([f for f in _os.listdir(mdir) if f.endswith(".json")]) == 2


# ---------------------------------------------------------------------------
# streaming salted windowed aggregate (north rule, streaming form)
# ---------------------------------------------------------------------------


def test_salted_windowed_agg_stream_matches_plain(spark, fixture_dir, tmp_path):
    """The skew-salted two-level streaming window aggregate (chained
    append-mode aggregations) emits exactly the rows the plain streaming
    aggregate emits — salting redistributes state, never results. The
    salt fan-out plan comes from the batch weighted_salt_plan over the
    same fixture (the 'historical stats' pattern)."""
    import os as _os

    from dataflow_geobeam_spark.functions.decode import with_decoded_metrics
    from dataflow_geobeam_spark.functions.validity import (
        precheck_predicate,
        valid_clip_predicate,
    )
    from dataflow_geobeam_spark.operators.skew import weighted_salt_plan
    from dataflow_geobeam_spark.sources.clips import CLIPS_SCHEMA
    from dataflow_geobeam_spark.streaming import pipeline
    from dataflow_geobeam_spark.streaming.extras import salted_windowed_agg_stream

    stream_dir = pipeline.prepare_stream_dir(spark, fixture_dir, n_files=4)

    hist = spark.read.parquet(_os.path.join(fixture_dir, "clips.parquet")).withColumn(
        "bucket", F.substring("clip_id", 1, 2)
    )
    plan = weighted_salt_plan(hist, ["bucket"], weight_col="dur_ms",
                              weight_per_slice=50_000.0, max_salts=8)

    def run(name, make_agg):
        clips = pipeline.stream_clips_dir(spark, stream_dir, max_files_per_trigger=2)
        # 5 s watermark: the sf0.001 fixture spans ~30 s of event time, so
        # append mode can finalize windows between the two micro-batches
        decoded = pipeline.decoded_valid_stream(clips, watermark="5 seconds")
        q = (
            make_agg(decoded)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(600)
        return {
            (r.window_start, r.bucket): (
                r.n_clips,
                r.sum_dur_ms,
                round(r.mean_rms, 6),
                r.sum_samples,
            )
            for r in spark.sql(f"select * from {name}").collect()
        }

    plain = run("plain_wagg", lambda d: pipeline.windowed_agg_stream(d))
    salted = run(
        "salted_wagg",
        lambda d: salted_windowed_agg_stream(d, salt_plan=plan, default_salts=8),
    )
    assert len(plain) > 0
    assert salted == plain


# ---------------------------------------------------------------------------
# IVF-PQ: product-quantized scoring + exact refine (round-4 addition)
# ---------------------------------------------------------------------------


def test_ivfpq_topk_recall_and_plan(spark, sf_dir):
    """PQ-scored candidates + exact refine must recover most true
    neighbors (recall vs brute force; the PQ approximation only has to
    keep them inside the refine-50 shortlist), with exact cosines in the
    output, and the plan must stay cartesian-free with the codes — not
    the full vectors — crossing the scoring join."""
    from dataflow_geobeam_spark.operators import similarity

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    q = emb.where(F.col("vec_id") < 10)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity.brute_force_topk(emb, q, k=5).collect()
    }
    df = similarity.ivfpq_topk(emb, q, k=5, dim=64, n_cells=16, n_probe=8)
    rows = df.collect()
    approx = {(r.query_id, r.neighbor_id) for r in rows}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, recall
    # exact cosines survive the refine: spot-check one against brute force
    bf = {(r.query_id, r.neighbor_id): r.cosine
          for r in similarity.brute_force_topk(emb, q, k=5).collect()}
    for r in rows:
        if (r.query_id, r.neighbor_id) in bf:
            assert r.cosine == bf[(r.query_id, r.neighbor_id)]
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ivfpq_matches_independent_golden(spark, sf_dir):
    import pyarrow.parquet as pq

    from dataflow_geobeam_spark.fixtures.generate import ensure_golden_ivfpq_topk
    from dataflow_geobeam_spark.plans.training_data import emb_topk_ivfpq

    golden = ensure_golden_ivfpq_topk(sf_dir)
    got = {(r.query_id, r.neighbor_id, r.cosine, r.rank)
           for r in emb_topk_ivfpq(spark, sf_dir).collect()}
    want = {(r["query_id"], r["neighbor_id"], r["cosine"], r["rank"])
            for r in pq.read_table(golden).to_pylist()}
    assert got == want and len(got) > 0


# ---------------------------------------------------------------------------
# streaming near-dup vs static corpus (round-4 addition)
# ---------------------------------------------------------------------------


def test_near_dup_stream_vs_corpus(spark, sf_dir, tmp_path):
    """An incoming document stream is deduped against a static corpus
    index: an exact copy and a perturbed near-copy of corpus docs are
    flagged with the right partner and Jaccard; a novel document is not.
    The streaming result must equal the batch ngram-Jaccard oracle run on
    the same (stream x corpus) pairs."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from dataflow_geobeam_spark.streaming.extras import (
        corpus_minhash_index,
        near_dup_stream_vs_corpus,
    )

    corpus = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    # pick a corpus doc with enough text to shingle
    base = (
        corpus.where(F.size(F.split(F.trim("text"), r"\s+")) >= 12)
        .select("doc_id", "text")
        .first()
    )
    words = base.text.split()
    near = " ".join(words[:-2] + ["changed", "tail"])
    stream_rows = {
        "doc_id": [900001, 900002, 900003],
        "text": [base.text, near, "completely novel document about nothing shared at all"],
    }
    stream_dir = tmp_path / "docs_stream"
    stream_dir.mkdir()
    pq.write_table(pa.Table.from_pydict(stream_rows), str(stream_dir / "part-0.parquet"))

    idx = corpus_minhash_index(corpus)
    idx = (idx[0].persist(), idx[1].persist())
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .parquet(str(stream_dir))
    )
    out = near_dup_stream_vs_corpus(stream, idx)
    q = (
        out.writeStream.format("memory")
        .queryName("neardup_stream_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        (r.stream_id, r.corpus_id): r.jaccard
        for r in spark.sql("select * from neardup_stream_test").collect()
    }
    assert got.get((900001, base.doc_id)) == 1.0  # exact copy
    near_j = got.get((900002, base.doc_id))
    assert near_j is not None and 0.5 <= near_j < 1.0  # perturbed near-copy
    assert not any(sid == 900003 for sid, _ in got)  # novel doc clean

    # batch oracle: exact ngram Jaccard of every flagged pair
    from dataflow_geobeam_spark.operators.dedup import ngram_jaccard_pairs

    both = corpus.select("doc_id", "text").unionByName(
        spark.createDataFrame(
            list(zip(stream_rows["doc_id"], stream_rows["text"])),
            "doc_id long, text string",
        )
    )
    batch = {
        (r.id_b, r.id_a): r.jaccard
        for r in ngram_jaccard_pairs(both, threshold=0.5).collect()
        if r.id_b >= 900000 and r.id_a < 900000
    }
    assert {p: j for p, j in got.items()} == batch


def test_streaming_thumbnails_match_batch(spark, sf_dir, tmp_path):
    """The real image-decode kernel runs unchanged under Structured
    Streaming (mapInArrow is stateless): streaming the image fixture
    through with_thumbnails yields exactly the batch result, NULLs on
    truncated payloads included."""
    from dataflow_geobeam_spark.fixtures.generate import ensure_images
    from dataflow_geobeam_spark.functions import multimodal as mm

    path = ensure_images(sf_dir)
    stream_dir = tmp_path / "images_stream"  # file stream source needs a dir
    stream_dir.mkdir()
    os.link(path, stream_dir / "part-0.parquet")
    schema = spark.read.parquet(path).schema
    stream = spark.readStream.schema(schema).parquet(str(stream_dir))
    q = (
        mm.with_thumbnails(stream, width=4, height=4)
        .select("img_id", "thumbnail")
        .writeStream.format("memory")
        .queryName("thumbs_stream_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        r.img_id: r.thumbnail
        for r in spark.sql("select * from thumbs_stream_test").collect()
    }
    want = {
        r.img_id: r.thumbnail
        for r in mm.with_thumbnails(spark.read.parquet(path), width=4, height=4)
        .select("img_id", "thumbnail")
        .collect()
    }
    assert got == want
    assert any(v is None for v in want.values())


# ---------------------------------------------------------------------------
# salted aggregate on a skewed TPC-H-style key (VERDICT #6)
# ---------------------------------------------------------------------------


def test_salted_sum_agg_tpch_hot_customer(spark, sf_dir):
    """One hot customer owns ~90% of order rows: the salted two-phase
    aggregate must produce byte-identical results to the plain groupBy
    while shrinking the max (key, salt) slice weight >= 4x."""
    from dataflow_geobeam_spark.operators.skew import (
        add_weighted_salt,
        salted_sum_agg,
        slice_weights,
    )

    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    # replicate one customer's orders to manufacture the hot key
    hot_key = orders.select("o_custkey").first()[0]
    hot = orders.where(F.col("o_custkey") == hot_key)
    n_total = orders.count()
    n_hot = hot.count()
    reps = max(2, (9 * n_total) // max(1, n_hot))
    skewed = orders.unionAll(
        hot.crossJoin(spark.range(reps).select(F.lit(1).alias("_r"))).drop("_r")
    ).withColumn("o_rowid", F.monotonically_increasing_id())

    plain = (
        skewed.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )
    salted = salted_sum_agg(
        skewed,
        keys=["o_custkey"],
        value_col="o_totalprice",
        id_col="o_rowid",
        weight_col="o_totalprice",
        weight_per_slice=float(
            skewed.agg(F.sum("o_totalprice")).collect()[0][0] / 64.0
        ),
    )
    assert {tuple(r) for r in plain.collect()} == {tuple(r) for r in salted.collect()}

    # partition-balance: max slice shrinks >= 4x once the hot key fans out
    unsalted_rows = skewed.withColumn("salt", F.lit(0))
    w_plain = slice_weights(unsalted_rows, ["o_custkey"], "o_totalprice")
    w_salted = slice_weights(
        add_weighted_salt(
            skewed,
            ["o_custkey"],
            id_col="o_rowid",
            weight_col="o_totalprice",
            weight_per_slice=float(
                skewed.agg(F.sum("o_totalprice")).collect()[0][0] / 64.0
            ),
        ),
        ["o_custkey"],
        "o_totalprice",
    )
    assert w_salted[0] * 4 <= w_plain[0]


def test_recommended_n_planes_keeps_candidates_linear():
    from dataflow_geobeam_spark.operators.similarity import recommended_n_planes

    for n in (1_000, 50_000, 200_000, 10**9, 10**12):
        p = recommended_n_planes(n)
        occupancy = n / 2**p
        assert occupancy <= 0.5  # candidates ~ n_tables * N * occupancy / 2
    assert recommended_n_planes(50_000) == 17
    assert recommended_n_planes(100) == 12  # floor
