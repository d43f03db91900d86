"""Validity predicates — the ``filter_invalid`` analog, pure Catalyst.

The reference drops elements that are None, have empty/invalid geometry, or
fall outside lon/lat [-180,180]x[-90,90] (``/root/reference/geobeam/fn.py:56-88``),
via a row-at-a-time ``beam.Filter``. Here the same role is played by JVM-side
column expressions over the decode-metrics columns, so the filter runs inside
WholeStageCodegen with zero Python cost and Catalyst can push the cheap
conjuncts (sr_hz/dur_ms range checks) below the decode UDF.

Domain mapping:
  geometry parseable        -> decode_ok
  bounds within lon/lat box -> declared sr matches container sr; sample count
                               within 10% of sr_hz*dur_ms/1000; peak <= 1
  empty geometry            -> n_samples == 0
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dataflow_geobeam_spark.functions.decode import expected_samples, with_decoded_metrics

KNOWN_CODECS = ("wav", "flac", "ogg", "mp3")


def precheck_predicate(
    sr_col: str = "sr_hz", dur_col: str = "dur_ms", codec_col: str = "codec"
) -> Column:
    """Cheap conjuncts evaluable BEFORE the decode UDF — applied first so
    invalid rows never pay the Python decode (predicate-pushdown analog of
    the reference's nodata-mask skip, ``geobeam/io.py:224,235``)."""
    return (
        (F.col(sr_col) > 0)
        & (F.col(dur_col) > 0)
        & F.col(codec_col).isin(*KNOWN_CODECS)
        & F.col("bytes").isNotNull()
        & (F.length("bytes") > 0)
    )


def valid_clip_predicate(
    sr_col: str = "sr_hz", dur_col: str = "dur_ms", tolerance: float = 0.1
) -> Column:
    """Full validity over decode-metrics columns (requires with_decoded_metrics)."""
    expected = expected_samples(F.col(sr_col), F.col(dur_col))
    return (
        F.col("decode_ok")
        & (F.col(sr_col) > 0)
        & (F.col(dur_col) > 0)
        & (F.col("sr_decoded") == F.col(sr_col))
        & (expected > 0)
        & (F.abs(F.col("n_samples") - expected) <= tolerance * expected)
    )


def filter_invalid(df: DataFrame, tolerance: float = 0.1) -> DataFrame:
    """Keep only valid clips. Mirrors beam.Filter(filter_invalid),
    ``/root/reference/geobeam/examples/shapefile_nfhl.py:41``."""
    return df.where(valid_clip_predicate(tolerance=tolerance))


def decode_and_filter(clips: DataFrame) -> DataFrame:
    """Cheap precheck -> vectorized decode -> validity: the decode prefix
    of the batch and the streaming flagship. The precheck runs BEFORE the
    decode UDF so rows with unknown codecs or null payloads never cross
    the JVM->Python boundary (nodata-mask analog,
    ``geobeam/io.py:224,235``)."""
    return filter_invalid(with_decoded_metrics(clips.where(precheck_predicate())))
