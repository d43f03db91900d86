"""Clip-table sources: batch scan + micro-batched streaming scan.

Source analog map (reference -> here):
* ``RasterBlockSource`` block-windowed GeoTIFF read (``geobeam/io.py:27-150``)
  -> columnar parquet scan with Arrow-batch pacing; the parquet row-group is
  the native I/O block, and binary payloads stream through Arrow batches
  instead of the reference's whole-archive in-memory read (``io.py:282-286``).
* Pub/Sub unbounded read (``geobeam/examples/streaming_pubsub.py:61``)
  -> ``spark.readStream`` file source with ``maxFilesPerTrigger`` admission
  control (the analog of Beam's dynamic split_points_unclaimed rebalancing,
  ``io.py:466-469``).
* Band-subset read ``bidx`` (``io.py:129-132``) -> column pruning via
  ``columns=``; Catalyst pushes it to the parquet scan (check ReadSchema).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

CLIPS_SCHEMA = StructType(
    [
        StructField("clip_id", StringType()),
        StructField("bytes", BinaryType()),
        StructField("sr_hz", IntegerType()),
        StructField("dur_ms", IntegerType()),
        StructField("codec", StringType()),
        StructField("transcript", StringType()),
        StructField("ts", TimestampType()),
    ]
)

TRANSCRIPTS_SCHEMA = StructType(
    [
        StructField("t_clip_id", StringType()),
        StructField("t_transcript", StringType()),
        StructField("t_ts", TimestampType()),
    ]
)


def _path(fixture_dir: str, name: str) -> str:
    p = os.path.join(fixture_dir, f"{name}.parquet")
    if not os.path.exists(p):
        raise FileNotFoundError(p)
    return p


def read_clips(
    spark: SparkSession,
    fixture_dir: str,
    columns: tuple[str, ...] | None = None,
    with_bucket: bool = True,
) -> DataFrame:
    """Batch scan of the clips table; ``columns`` prunes at the scan."""
    df = spark.read.parquet(_path(fixture_dir, "clips"))
    if columns:
        df = df.select(*columns)
    if with_bucket and "clip_id" in df.columns:
        df = df.withColumn("bucket", F.substring("clip_id", 1, 2))
    return df


def read_transcripts(spark: SparkSession, fixture_dir: str) -> DataFrame:
    return spark.read.parquet(_path(fixture_dir, "transcripts_late"))


def read_golden(spark: SparkSession, fixture_dir: str) -> DataFrame:
    """Oracle table (generation-time decode) — used only by tests."""
    return spark.read.parquet(_path(fixture_dir, "golden_clips"))


def stream_clips(
    spark: SparkSession,
    fixture_dir: str,
    max_files_per_trigger: int = 1,
    with_bucket: bool = True,
) -> DataFrame:
    """Unbounded micro-batched scan of the clips table.

    File-source streaming over the clips rows split into N files: each
    micro-batch admits ``maxFilesPerTrigger`` files — the engine's
    ingestion pacing knob (P4 in SURVEY.md §4). Schema must be declared
    for streaming reads. Spark's streaming file source requires a
    DIRECTORY, so the single clips.parquet is split (idempotently) via
    ``streaming.pipeline.prepare_stream_dir`` — pointing readStream at
    the bare file fails with 'basePath must be a directory'.
    """
    from dataflow_geobeam_spark.streaming.pipeline import prepare_stream_dir

    stream_dir = prepare_stream_dir(spark, fixture_dir, n_files=8)
    df = (
        spark.readStream.schema(CLIPS_SCHEMA)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(stream_dir)
    )
    if with_bucket:
        df = df.withColumn("bucket", F.substring("clip_id", 1, 2))
    return df
