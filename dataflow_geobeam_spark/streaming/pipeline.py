"""The flagship streaming job: micro-batched clip ingestion -> vectorized
decode -> watermarked windowed aggregate -> exactly-once sink.

Spark lifecycle equivalent of the reference's streaming example
(``/root/reference/geobeam/examples/streaming_pubsub.py:59-62``), which stops
at read -> per-element ParDo with no window/watermark/sink; this module adds
the full event-time stack the north rule requires (SURVEY.md §3.3).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from dataflow_geobeam_spark.functions.validity import decode_and_filter
from dataflow_geobeam_spark.sources.clips import CLIPS_SCHEMA
from dataflow_geobeam_spark.streaming.sink import ExactlyOnceParquetSink


def prepare_stream_dir(
    spark: SparkSession, fixture_dir: str, n_files: int = 8, replicate: int = 1
) -> str:
    """Materialize the clips table as N parquet files for micro-batching.

    The file is the micro-batch admission unit (``maxFilesPerTrigger``) —
    the engine's pacing knob, standing in for Pub/Sub message flow
    (``streaming_pubsub.py:61``). Files are split round-robin on a
    row_number so the split is deterministic. Idempotent per fixture dir.
    """
    suffix = f"clips_stream_{n_files}" + (f"_x{replicate}" if replicate > 1 else "")
    stream_dir = os.path.join(fixture_dir, suffix)
    done = os.path.join(stream_dir, "_PREPARED")
    if os.path.exists(done):
        return stream_dir
    path = os.path.join(fixture_dir, "clips.parquet")
    df = spark.read.parquet(*([path] * replicate))
    # deterministic assignment: hash of clip_id, not round-robin on task order
    df = df.repartition(n_files, F.col("clip_id"))
    df.write.mode("overwrite").parquet(stream_dir)
    with open(done, "w") as f:
        f.write("ok")
    return stream_dir


def prepare_stream_dir_arrival_order(fixture_dir: str, n_files: int = 8) -> str:
    """Materialize the clips table as N files in ARRIVAL order (round 5).

    ``prepare_stream_dir`` hash-splits rows, so every micro-batch spans the
    whole event-time range and the advancing watermark classifies most of
    each later batch as late — fine for drop-accounting tests, wrong as the
    production stream shape. A real stream arrives roughly in event-time
    order with BOUNDED disorder, and the watermark is sized to that bound.
    The fixture's generation order IS its arrival order (ts == T0 + 100ms*i
    except ~5% of rows shifted up to 90 s early), so slicing the original
    row order into consecutive files gives paced micro-batches with genuine
    intra-stream disorder that the 2-minute watermark provably never drops
    — at ANY scale factor, since the disorder bound is scale-free.

    File mtimes are set ascending so FileStreamSource (oldest-first)
    admits them in arrival order under ``maxFilesPerTrigger``.
    """
    import time

    import pyarrow.parquet as apq

    stream_dir = os.path.join(fixture_dir, f"clips_stream_arrival_{n_files}")
    done = os.path.join(stream_dir, "_PREPARED")
    if os.path.exists(done):
        return stream_dir
    os.makedirs(stream_dir, exist_ok=True)
    t = apq.read_table(os.path.join(fixture_dir, "clips.parquet"))
    n = t.num_rows
    base = time.time() - n_files - 10
    for k in range(n_files):
        lo = k * n // n_files
        hi = (k + 1) * n // n_files
        path = os.path.join(stream_dir, f"part-{k:05d}.parquet")
        apq.write_table(t.slice(lo, hi - lo), path, compression="zstd")
        os.utime(path, (base + k, base + k))
    with open(done, "w") as f:
        f.write("ok")
    return stream_dir


def stream_clips_dir(
    spark: SparkSession, stream_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    return (
        spark.readStream.schema(CLIPS_SCHEMA)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(stream_dir)
        .withColumn("bucket", F.substring("clip_id", 1, 2))
    )


def decoded_valid_stream(clips: DataFrame, watermark: str = "2 minutes") -> DataFrame:
    """Streaming form of plans.audio.decoded_valid_clips: the same
    ``validity.decode_and_filter`` prefix, plus the watermark."""
    return decode_and_filter(clips).withWatermark("ts", watermark)


def windowed_agg_stream(decoded: DataFrame, duration: str = "10 seconds") -> DataFrame:
    """Tumbling windowed aggregate over the decoded stream (append mode)."""
    return (
        decoded.groupBy(F.window("ts", duration), "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_clips"),
            F.sum(F.col("dur_ms").cast("long")).alias("sum_dur_ms"),
            F.avg("rms").alias("mean_rms"),
            F.sum("n_samples").alias("sum_samples"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "bucket",
            "n_clips",
            "sum_dur_ms",
            "mean_rms",
            "sum_samples",
        )
    )


def run_streaming_window_agg(
    spark: SparkSession,
    fixture_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    watermark: str = "2 minutes",
    duration: str = "10 seconds",
    n_files: int = 8,
    max_files_per_trigger: int = 1,
    available_now: bool = True,
    output_mode: str = "update",
    replicate: int = 1,
    stream_dir: str | None = None,
) -> tuple[StreamingQuery, ExactlyOnceParquetSink]:
    """Launch the flagship streaming job; returns (query, sink).

    ``available_now=True`` drains all pending files in paced micro-batches
    then stops — the deterministic test/bench mode. The same call with
    ``available_now=False`` runs continuously (processingTime trigger).

    Output modes:
    * ``update`` (default): every refreshed (window, bucket) row is emitted
      each epoch; the sink's ``read_latest`` resolves to the final state
      (upsert semantics — full row-set equality vs the batch oracle, even
      for windows still open when the stream drains).
    * ``append``: only watermark-finalized windows are emitted — trailing
      windows stay in state at shutdown, the streaming-pure semantics.

    State partitions: Spark turns AQE off inside streaming queries, so the
    windowed state would keep the session's batch-sized
    ``spark.sql.shuffle.partitions`` and every epoch would pay that many
    state-store commits, tasks and sink files. A new checkpoint is instead
    started with one task wave, ``defaultParallelism`` partitions. The
    count is fixed when the checkpoint is created: Spark records it in the
    offset log, and a resumed checkpoint keeps its recorded count. The
    caller's session conf is unchanged after the call; another thread that
    plans on the same session during the call sees the stream's count.
    """
    # stream_dir override: benchmarks pre-materialize the paced file set
    # elsewhere (e.g. tmpfs) to keep one-off IO out of the timed region
    if stream_dir is None:
        stream_dir = prepare_stream_dir(spark, fixture_dir, n_files, replicate)
    clips = stream_clips_dir(spark, stream_dir, max_files_per_trigger)
    agg = windowed_agg_stream(decoded_valid_stream(clips, watermark), duration)
    sink = ExactlyOnceParquetSink(out_dir)
    writer = (
        agg.writeStream.outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(sink.foreach_batch())
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime="2 seconds")
    # the query clones the session inside start(), so the count is set on
    # the caller's session only for that call
    key = "spark.sql.shuffle.partitions"
    caller_partitions = spark.conf.get(key)
    spark.conf.set(key, str(spark.sparkContext.defaultParallelism))
    try:
        return writer.start(), sink
    finally:
        spark.conf.set(key, caller_partitions)
