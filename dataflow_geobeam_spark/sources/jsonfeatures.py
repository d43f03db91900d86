"""Nested JSON feature-collection source (reference S5 analog).

``GeoJSONSource`` reads a FeatureCollection and yields one (props, payload)
row per feature (``/root/reference/geobeam/io.py:436-509``). The Spark-first
equivalent is ``spark.read.json(multiLine) -> explode(features)`` — the
nested-array explode IS the source operator. The graft reads "clip manifest"
JSON documents of the same shape:

    {"collection": "...", "clips": [{"clip_id": ..., "sr_hz": ...,
                                     "meta": {...}}, ...]}
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_feature_collection(
    spark: SparkSession,
    path: str,
    features_field: str = "clips",
    multi_line: bool = True,
) -> DataFrame:
    """One row per element of the top-level feature array, with the
    collection-level fields carried alongside (props + payload shape)."""
    raw = spark.read.option("multiLine", str(multi_line).lower()).json(path)
    top_cols = [c for c in raw.columns if c != features_field]
    return raw.select(*top_cols, F.explode(F.col(features_field)).alias("feature")).select(
        *top_cols, "feature.*"
    )
