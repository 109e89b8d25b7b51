"""Explicit schemas — no inference anywhere (SURVEY.md §1.3).

The reference fixes its serving schema via SQLAlchemy models
(reference backend/models.py:9-206) while inferring CSV schemas ad hoc;
here every table gets an explicit StructType.
"""

from __future__ import annotations

from pyspark.sql import types as T

# The mandated input shape (BASELINE.json input_hint).
PAIRS_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), True),
        T.StructField("w", T.IntegerType(), True),
        T.StructField("h", T.IntegerType(), True),
        T.StructField("fmt", T.StringType(), True),
        T.StructField("caption", T.StringType(), True),
        T.StructField("phash", T.LongType(), True),
    ]
)
