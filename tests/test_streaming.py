"""Streaming integration: flagship job, exactly-once sink, kill/restart resume.

Covers SURVEY.md §7 M3 (streaming core) and M6 (exactly-once + resume):
* update-mode stream result == batch oracle (full row-set equality)
* append-mode emits exactly the watermark-finalized windows (no dupes)
* an epoch replayed after a mid-stream crash commits exactly once
* a new checkpoint's state runs in one task wave; a resumed one keeps the
  partition count it recorded
"""

from __future__ import annotations

import json
import os
import shutil
import time

import pytest
from pyspark.sql import functions as F

from dataflow_geobeam_spark.streaming import pipeline
from dataflow_geobeam_spark.streaming.sink import ExactlyOnceParquetSink


@pytest.fixture()
def tmpdirs(tmp_path):
    return str(tmp_path / "out"), str(tmp_path / "ckpt")


def _batch_oracle(spark, fixture_dir):
    """Same plan fragment, batch execution — the semantic oracle."""
    from dataflow_geobeam_spark.sources.clips import read_clips

    clips = read_clips(spark, fixture_dir)
    from dataflow_geobeam_spark.functions.decode import with_decoded_metrics
    from dataflow_geobeam_spark.functions.validity import precheck_predicate, valid_clip_predicate

    df = with_decoded_metrics(clips.where(precheck_predicate())).where(valid_clip_predicate())
    return pipeline.windowed_agg_stream(df)


def _as_key_set(rows):
    return {
        (r.window_start, r.bucket, r.n_clips, r.sum_dur_ms, round(r.mean_rms, 9), r.sum_samples)
        for r in rows
    }


def test_streaming_update_mode_equals_batch(spark, fixture_dir, tmpdirs):
    out_dir, ckpt = tmpdirs
    query, sink = pipeline.run_streaming_window_agg(
        spark, fixture_dir, out_dir, ckpt, n_files=6, output_mode="update"
    )
    query.awaitTermination(300)
    got = sink.read_latest(spark, ["window_start", "bucket"]).collect()
    want = _batch_oracle(spark, fixture_dir).collect()
    assert _as_key_set(got) == _as_key_set(want)
    # lineage columns present on every committed row
    assert {"_epoch_id", "_source_partition"} <= set(sink.read(spark).columns)
    # multiple epochs actually ran (paced micro-batches, not one big batch)
    assert len(sink.committed_manifests()) >= 3


def test_streaming_append_mode_emits_only_finalized_windows(spark, fixture_dir, tmpdirs):
    out_dir, ckpt = tmpdirs
    query, sink = pipeline.run_streaming_window_agg(
        spark, fixture_dir, out_dir, ckpt, n_files=6, output_mode="append"
    )
    query.awaitTermination(300)
    got = sink.read(spark)
    want_keys = _as_key_set(_batch_oracle(spark, fixture_dir).collect())
    got_rows = got.collect()
    # appended rows are final: a strict subset (trailing windows unflushed)...
    assert _as_key_set(got_rows) <= want_keys
    # ...and never duplicated
    n_distinct = got.select("window_start", "bucket").distinct().count()
    assert n_distinct == len(got_rows)


def test_kill_restart_replays_to_identical_committed_set(spark, fixture_dir, tmpdirs):
    """North rule: 'resumable from checkpoint ... replays to the identical
    committed row set'. Crash the job mid-stream (after 2 epochs), restart
    from the same checkpoint, compare to an uninterrupted control run."""
    out_dir, ckpt = tmpdirs

    stream_dir = pipeline.prepare_stream_dir(spark, fixture_dir, 6)
    clips = pipeline.stream_clips_dir(spark, stream_dir, 1)
    agg = pipeline.windowed_agg_stream(pipeline.decoded_valid_stream(clips))
    sink = ExactlyOnceParquetSink(out_dir)

    crashed = {"flag": False}

    def crashing_writer(df, epoch_id):
        if epoch_id >= 2 and not crashed["flag"]:
            crashed["flag"] = True
            raise RuntimeError("injected crash before epoch commit")
        sink.write_batch(df, epoch_id)

    q = (
        agg.writeStream.outputMode("update")
        .option("checkpointLocation", ckpt)
        .foreachBatch(crashing_writer)
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="injected crash|Query .* terminated"):
        q.awaitTermination(300)
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
    committed_before = {m["epoch_id"] for m in sink.committed_manifests()}
    assert committed_before == {0, 1}  # epoch 2 failed before its commit

    # restart from the same checkpoint: Spark replays epoch 2, sink commits it
    q2, _ = _restart(agg, ckpt, sink)
    q2.awaitTermination(300)

    final = sink.read_latest(spark, ["window_start", "bucket"]).collect()

    # control: uninterrupted run with its own sink+checkpoint
    ctl_sink = ExactlyOnceParquetSink(out_dir + "_ctl")
    q3 = (
        agg.writeStream.outputMode("update")
        .option("checkpointLocation", ckpt + "_ctl")
        .foreachBatch(ctl_sink.foreach_batch())
        .trigger(availableNow=True)
        .start()
    )
    q3.awaitTermination(300)
    control = ctl_sink.read_latest(spark, ["window_start", "bucket"]).collect()
    assert _as_key_set(final) == _as_key_set(control)
    # every epoch committed exactly once
    epochs = [m["epoch_id"] for m in sink.committed_manifests()]
    assert len(epochs) == len(set(epochs))


def _restart(agg, ckpt, sink):
    q = (
        agg.writeStream.outputMode("update")
        .option("checkpointLocation", ckpt)
        .foreachBatch(sink.foreach_batch())
        .trigger(availableNow=True)
        .start()
    )
    return q, sink


def test_sink_epoch_idempotence(spark, tmp_path):
    """Directly replay the same epoch twice: second write must be a no-op."""
    sink = ExactlyOnceParquetSink(str(tmp_path / "t"))
    df = spark.range(10).withColumn("v", F.col("id") * 2)
    sink.write_batch(df, 0)
    files_before = sink.committed_files()
    sink.write_batch(df, 0)  # replay
    assert sink.committed_files() == files_before
    assert sink.read(spark).count() == 10


# ---------------------------------------------------------------------------
# state partition count: one task wave for a new checkpoint, the recorded
# count for a resumed one
# ---------------------------------------------------------------------------

SHUFFLE_KEY = "spark.sql.shuffle.partitions"


def _offset_log_partitions(ckpt):
    """The shuffle partition count each offsets/N entry recorded."""
    log = os.path.join(ckpt, "offsets")
    counts = []
    for name in sorted(os.listdir(log)):
        if name.isdigit():
            with open(os.path.join(log, name)) as f:
                meta = json.loads(f.read().splitlines()[1])
            counts.append(meta["conf"][SHUFFLE_KEY])
    return counts


@pytest.fixture()
def caller_partitions(spark):
    """Restore the shared session's partition count after the test."""
    before = spark.conf.get(SHUFFLE_KEY)
    yield
    spark.conf.set(SHUFFLE_KEY, before)


def test_flagship_state_uses_one_task_wave(spark, fixture_dir, tmpdirs, caller_partitions):
    out_dir, ckpt = tmpdirs
    spark.conf.set(SHUFFLE_KEY, "32")
    query, _ = pipeline.run_streaming_window_agg(
        spark, fixture_dir, out_dir, ckpt, n_files=6, available_now=True
    )
    query.awaitTermination(300)
    counts = _offset_log_partitions(ckpt)
    assert len(counts) >= 3
    assert set(counts) == {str(spark.sparkContext.defaultParallelism)}
    assert spark.conf.get(SHUFFLE_KEY) == "32"


def test_resumed_checkpoint_keeps_its_partition_count(
    spark, fixture_dir, tmpdirs, tmp_path, caller_partitions
):
    out_dir, ckpt = tmpdirs
    arrival = pipeline.prepare_stream_dir_arrival_order(fixture_dir, 4)
    files = sorted(f for f in os.listdir(arrival) if f.endswith(".parquet"))
    assert len(files) == 4
    watch = tmp_path / "watch"
    watch.mkdir()

    def add(names, mtime):
        for k, name in enumerate(names):
            dst = watch / name
            shutil.copy(os.path.join(arrival, name), dst)
            os.utime(dst, (mtime + k, mtime + k))

    t0 = time.time() - 100
    add(files[:2], t0)
    clips = pipeline.stream_clips_dir(spark, str(watch), 1)
    agg = pipeline.windowed_agg_stream(pipeline.decoded_valid_stream(clips))
    spark.conf.set(SHUFFLE_KEY, "3")
    q = (
        agg.writeStream.outputMode("update")
        .option("checkpointLocation", ckpt)
        .foreachBatch(ExactlyOnceParquetSink(out_dir).foreach_batch())
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    first = _offset_log_partitions(ckpt)
    assert len(first) >= 2 and set(first) == {"3"}

    add(files[2:], t0 + 10)
    query, sink = pipeline.run_streaming_window_agg(
        spark, fixture_dir, out_dir, ckpt, stream_dir=str(watch), available_now=True
    )
    query.awaitTermination(300)
    counts = _offset_log_partitions(ckpt)
    assert len(counts) >= len(first) + 2 and set(counts) == {"3"}
    got = sink.read_latest(spark, ["window_start", "bucket"]).collect()
    want = _batch_oracle(spark, fixture_dir).collect()
    assert _as_key_set(got) == _as_key_set(want)
