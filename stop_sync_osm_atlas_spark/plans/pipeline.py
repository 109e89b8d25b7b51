"""End-to-end pipeline assembly: read -> cascade -> checkpointed sinks.

The Spark recast of the reference's final_pipeline + import_to_database
(reference matching_script.py:126-594 -> one DataFrame DAG;
import_data_db.py:385-976 truncate-and-insert -> checkpointed
partitioned writes + metrics rollup).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.cascade import metrics_rollup, run_cascade
from ..operators.rules import RuleConfig
from ..schemas import PAIRS_SCHEMA
from ..sources.checkpoint import CheckpointedWriter
from ..sources.io import write_table


def load_pairs(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.schema(PAIRS_SCHEMA).parquet(path)


def load_overrides(spark: SparkSession, path: str | None) -> DataFrame | None:
    if path is None:
        return None
    return spark.read.parquet(path)


def run_pipeline(
    spark: SparkSession,
    pairs_path: str,
    out_root: str,
    overrides_path: str | None = None,
    cfg: RuleConfig | None = None,
    neardup_kwargs: dict | None = None,
    run_id: str = "run0",
    n_groups: int = 8,
) -> dict:
    """Run the full decision engine with checkpointed writes.

    Scores with the marker-based langid signal; the model-based NB /
    char-bigram signals are ``run_cascade(langid_udf=...,
    perplexity_udf=...)``.
    """
    pairs = load_pairs(spark, pairs_path)
    overrides = load_overrides(spark, overrides_path)
    decisions = run_cascade(
        pairs, cfg=cfg, overrides=overrides, neardup_kwargs=neardup_kwargs
    )

    writer = CheckpointedWriter(out_root, n_groups=n_groups)
    counts = writer.run(decisions)

    final = writer.read_all(spark)
    metrics = metrics_rollup(final, run_id=run_id)
    write_table(metrics, f"{out_root}/metrics", mode="overwrite")
    return {"group_counts": counts, "out_root": out_root}
