"""Persistent-override application (Q7).

Analog of the reference's manual/persistent matches, which are applied
*before* the cascade and always win (reference
matching_script.py:469-517 pre-applied manual matches;
backend/services/import_persistence.py:4-101 replay of saved solutions
keyed by stable ids, unique on (sloid, osm_node_id, problem_type)).

Spark shape: a left join against the override table, keyed by the
stable image_id, with no join hint. Size-based planning broadcasts a
curated (small) table; at 10^12 x 0.1% the table is 10^9 rows, over
the broadcast threshold, and the join is planned shuffled and
co-partitioned on image_id. A left join can build only its right side,
so the decisions side (an Arrow-stage output) is never the broadcast
build.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

def apply_overrides(decisions: DataFrame, overrides: DataFrame | None) -> DataFrame:
    """Override forced_decision wins; rule becomes 'override', severity 1.

    Plan building is side-effect free: no eager count, no hidden jobs.
    """
    if overrides is None:
        return decisions.withColumn("overridden", F.lit(False))
    # conflicting override rows for one image (nothing upstream
    # enforces id-uniqueness — the reference's uniqueness key is a
    # 3-tuple) must resolve DETERMINISTICALLY: dropDuplicates keeps
    # whichever row a scan meets first, which varies with file layout
    # and would break the checkpointed byte-identical-resume guarantee.
    # max(forced_decision) is the total-order tie-break (same policy
    # family as min-id rep election), mirrored in the pandas oracle.
    ov = overrides.groupBy(
        F.col("image_id").alias("_ov_image_id")
    ).agg(F.max("forced_decision").alias("_ov_decision"))
    joined = decisions.join(
        ov, decisions["image_id"] == ov["_ov_image_id"], "left"
    )
    forced = F.col("_ov_decision").isNotNull()
    return (
        joined.withColumn(
            "decision", F.when(forced, F.col("_ov_decision")).otherwise(F.col("decision"))
        )
        .withColumn("rule", F.when(forced, F.lit("override")).otherwise(F.col("rule")))
        .withColumn("severity", F.when(forced, F.lit(1)).otherwise(F.col("severity")))
        .withColumn(
            "reasons",
            F.when(
                forced, F.concat(F.array(F.lit("override")), F.col("reasons"))
            ).otherwise(F.col("reasons")),
        )
        .withColumn("overridden", forced)
        .drop("_ov_image_id", "_ov_decision")
    )
