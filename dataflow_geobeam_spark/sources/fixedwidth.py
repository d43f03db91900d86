"""Fixed-width text source (reference S7 analog).

The reference slices fixed-width rows with a per-row Python dict
comprehension and per-field casts
(``/root/reference/geobeam/examples/fixedwidth_ascii.py:19-38``); here the
same spec compiles to ``substring()`` projections + ``cast()`` — pure
Catalyst, pushdown-friendly, zero Python.

Spec format: ordered list of (name, width, type) — types are any Spark SQL
type string (``int``, ``double``, ``string``, ``timestamp`` ...).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

FieldSpec = tuple[str, int, str]


def read_fixed_width(
    spark: SparkSession, path: str, fields: list[FieldSpec], trim: bool = True
) -> DataFrame:
    """Scan a fixed-width text file into typed columns.

    The reference's ``slice_fw_row`` + ``cast_field_values`` pair
    (``fixedwidth_ascii.py:19-38``) as one declarative projection.
    """
    df = spark.read.text(path)
    cols = []
    pos = 1
    for name, width, typ in fields:
        c = F.substring(F.col("value"), pos, width)
        if trim:
            c = F.trim(c)
        cols.append(c.cast(typ).alias(name))
        pos += width
    return df.select(*cols)
