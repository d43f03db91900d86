"""Whole-file binary source (reference S1/S3 pattern analog).

The reference's heavyweight-format sources read entire files into memory and
mark themselves unsplittable (``geobeam/io.py:282-286``, ``io.py:150, 246,
327, 433`` — parallelism is per-file). Spark's ``binaryFile`` format is the
same contract: one row per file (path, modificationTime, length, content),
parallel across files. Use for container formats that cannot be
row-split (a zipped shapefile then; a .tar of audio clips now).

The per-archive -> per-record explode runs on the shared payload runner
(``functions/decode.clip_kernel``, decoder ``"tar"``), the
``read_records`` generator analog.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from dataflow_geobeam_spark.functions.decode import clip_kernel

MEMBER_SCHEMA = StructType(
    [
        StructField("archive", StringType()),
        StructField("member", StringType()),
        StructField("size", LongType()),
        StructField("bytes", BinaryType()),
    ]
)


def read_binary_files(
    spark: SparkSession, path_glob: str, path_filter: str | None = None
) -> DataFrame:
    """One row per file; filter pushes to the file listing."""
    reader = spark.read.format("binaryFile")
    if path_filter:
        reader = reader.option("pathGlobFilter", path_filter)
    return reader.load(path_glob)


def explode_tar_members(df: DataFrame, content_col: str = "content") -> DataFrame:
    """Archive rows -> one row per regular, non-empty tar member (1->N
    generator, the ``read_records`` analog; ``GeodatabaseSource``'s
    skip-empty behavior at ``geobeam/io.py:410-416`` maps to dropping
    zero-byte members). A null, empty, truncated or non-tar file gives no
    rows."""
    return clip_kernel(
        df.select(F.col("path").alias("archive"), content_col),
        lambda c: c.data,
        MEMBER_SCHEMA.fields[1:],
        keep=MEMBER_SCHEMA.fields[:1],
        bytes_col=content_col,
        codec_col=None,
        decoder="tar",
        on_fail=[],
    )
