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

# Per-image decision record — analog of the reference's match record
# (reference matching_process/exact_matching.py:74-101: identity + attrs +
# match_type + notes + candidate_pool_size) plus the problems ladder
# (reference matching_process/problem_detection.py:36-213).
DECISIONS_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("decision", T.StringType(), False),  # keep|drop|scrub
        T.StructField("rule", T.StringType(), True),  # winning rule name
        T.StructField("severity", T.IntegerType(), True),  # 1=worst (ref priority)
        T.StructField("reasons", T.ArrayType(T.StringType()), True),  # all hits
        T.StructField("caption_scrubbed", T.StringType(), True),
        T.StructField("cluster_id", T.StringType(), True),  # near-dup cluster
        T.StructField("cluster_size", T.IntegerType(), True),  # pool size analog
        T.StructField("is_cluster_rep", T.BooleanType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("lang_conf", T.DoubleType(), True),
        T.StructField("perplexity", T.DoubleType(), True),
        T.StructField("part_bucket", T.IntegerType(), True),  # lineage partition
    ]
)
