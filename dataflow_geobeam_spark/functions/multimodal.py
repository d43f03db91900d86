"""Multimodal binary-column kernels: container sniffing, image and video.

Treats image/audio/video payloads as opaque ``binary`` columns with typed
metadata — the reference's precedent of carrying the exotic payload in a
standard column type (GeoJSON-in-a-STRING, ``geobeam/fn.py:213-221``;
SURVEY.md §1.2).

* Container sniffing from magic bytes is pure Catalyst on the binary
  prefix.
* Every still-image container in the sniffer registry decodes from spec:
  PPM / PGM / 24-bit BMP / 8-bit PNG (zlib inflate + all five scanline
  filters) / baseline JPEG (Huffman scan + batched integer IDCT) / GIF
  (LZW + interlace) / TIFF (IFD walk, strips, PackBits) — pure-Python
  codecs in ``functions/imaging.py``, no imaging library; golden-gated in
  the driver contract.
* WebM/EBML container parsing (``functions/ebml.py``): tracks, codec ids,
  per-block timestamps / keyframe flags / sizes — the metadata a
  frame-sampling planner keys on. Pixel decode inside video blocks
  (VP8/VP9 entropy-coded data) is not implemented.

Each wrapper is a ``per_clip`` function and a field list on
``functions/decode.clip_kernel`` (decoders ``"image"`` and ``"webm"``),
so decode failure follows the runner's contract: a NULL thumbnail, or no
embedding / block row.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
)

from dataflow_geobeam_spark.functions.decode import clip_kernel
from dataflow_geobeam_spark.functions.imaging import centered_pixels, encode_ppm, resize_nearest

# magic-byte registry: (prefix hex, sniffed type). Pure-Catalyst sniffing —
# the codec whitelist analog of validate_crs (geobeam/io.py:597-638).
MAGIC_PREFIXES: tuple[tuple[str, str], ...] = (
    ("5036", "ppm"),  # "P6" — decoded from spec in functions/imaging.py
    ("5035", "pgm"),  # "P5" — decoded from spec in functions/imaging.py
    ("424d", "bmp"),  # "BM" — decoded from spec in functions/imaging.py
    ("89504e47", "png"),
    ("ffd8ff", "jpeg"),
    ("47494638", "gif"),
    ("49492a00", "tiff"),  # little-endian — the reference's raster container
    ("4d4d002a", "tiff"),  # big-endian

    ("52494646", "riff"),  # wav/avi container
    ("664c6143", "flac"),
    ("4f676753", "ogg"),
    ("494433", "mp3"),
    ("1a45dfa3", "webm"),
)

def sniff_container(bytes_col: Column | str) -> Column:
    """Container type from magic bytes — hex-prefix CASE chain, JVM-side."""
    c = F.col(bytes_col) if isinstance(bytes_col, str) else bytes_col
    head = F.lower(F.hex(F.substring(c, 1, 8)))
    expr = F.lit("unknown")
    for prefix, name in reversed(MAGIC_PREFIXES):
        expr = F.when(head.startswith(prefix), F.lit(name)).otherwise(expr)
    return expr


def with_thumbnails(
    df: DataFrame, bytes_col: str = "bytes", width: int = 8, height: int = 8
) -> DataFrame:
    """Append ``thumbnail binary``: from-spec decode (every still-image
    container in the sniffer registry) -> nearest-neighbor resize -> P6
    PPM re-encode (functions/imaging.py). Every input column is kept. A
    payload that does not decode as an image (malformed, null, or another
    container) gets a NULL thumbnail — decode-failure => invalid row, the
    same F1/make_valid semantics the audio decode path uses."""
    return clip_kernel(
        df,
        lambda c: [(encode_ppm(resize_nearest(c.data, width, height)),)],
        [StructField("thumbnail", BinaryType())],
        keep=df.schema.fields,
        bytes_col=bytes_col,
        codec_col=None,
        decoder="image",
    )


def with_image_embeddings(
    df: DataFrame,
    id_col: str = "img_id",
    bytes_col: str = "bytes",
    width: int = 8,
    height: int = 6,
) -> DataFrame:
    """(_id, embedding array<float>) per DECODABLE image: from-spec decode
    -> NN-resize -> mean-centered flat pixel vector (width*height*3
    floats, functions/imaging.centered_pixels). Undecodable payloads are
    DROPPED — the near-dup pass downstream requires non-null fixed-dim
    vectors, and a corrupt image has no meaningful pixel identity. The
    real-model analog swaps the kernel for an encoder forward pass."""
    return clip_kernel(
        df.select(F.col(id_col).alias("_id"), F.col(bytes_col).alias("_bytes")),
        lambda c: [(centered_pixels(c.data, width, height),)],
        [StructField("embedding", ArrayType(FloatType()), False)],
        keep=[StructField("_id", df.schema[id_col].dataType)],
        bytes_col="_bytes",
        codec_col=None,
        decoder="image",
        on_fail=[],
    )


def _block_rows(c) -> list[tuple]:
    tracks, blocks = c.data
    return [
        (b["track"], tracks[b["track"]], b["ts_ms"], b["keyframe"], b["size"]) for b in blocks
    ]


def with_video_block_index(
    df: DataFrame, bytes_col: str = "bytes", id_col: str = "video_id"
) -> DataFrame:
    """1 video row -> N (id, track_number, codec_id, ts_ms, keyframe,
    block_bytes) rows: from-spec EBML/WebM container parse
    (functions/ebml.py) — the metadata layer a frame-sampling planner keys
    on (pick keyframes nearest the sample grid, budget by block size)
    without decoding a single pixel. Malformed payloads drop (F1
    semantics)."""
    return clip_kernel(
        df.select(id_col, bytes_col),
        _block_rows,
        [
            StructField("track_number", IntegerType()),
            StructField("codec_id", StringType()),
            StructField("ts_ms", LongType()),
            StructField("keyframe", BooleanType()),
            StructField("block_bytes", LongType()),
        ],
        keep=[StructField(id_col, df.schema[id_col].dataType)],
        bytes_col=bytes_col,
        codec_col=None,
        decoder="webm",
        on_fail=[],
    )
