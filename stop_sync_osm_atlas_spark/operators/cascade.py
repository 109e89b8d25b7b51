"""Decision-cascade assembly: signals -> rule hits -> resolution.

The declarative re-expression of the reference's final_pipeline
orchestration (reference matching_script.py:126-594): its sequential
stages with mutable used-sets become one DataFrame program where every
rule fires independently and the lowest-priority hit wins
(SURVEY.md §7.4.1 proof obligation: the priority cascade is preserved,
Python dict iteration order is not).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .neardup import attach_clusters, neardup_phash_map
from .rules import RuleConfig, rule_hits, with_rule_resolution


def score_signals(
    pairs: DataFrame,
    langid_udf=None,
    perplexity_udf=None,
) -> DataFrame:
    """Attach lang/lang_conf/perplexity columns.

    Defaults to the marker scorer of the Arrow text pass (the ``lang_py``
    columns of ``functions.image``); pass the NB/bigram UDFs
    (functions.langid / functions.perplexity) for the model-based path —
    same column contract either way.
    """
    cap = F.col("caption")
    if langid_udf is not None:
        scored = pairs.withColumn("_lid", langid_udf(cap))
        out = scored.withColumn("lang", F.col("_lid.lang")).withColumn(
            "lang_conf", F.col("_lid.conf")
        ).drop("_lid")
    else:
        out = pairs.withColumn("lang", F.col("lang_py")).withColumn(
            "lang_conf", F.col("lang_conf_py")
        )
    if perplexity_udf is not None:
        out = out.withColumn("perplexity", perplexity_udf(cap))
    else:
        out = out.withColumn("perplexity", F.lit(None).cast("double"))
    return out


def resolve_decisions(scored: DataFrame, hits: dict) -> DataFrame:
    """``with_rule_resolution`` plus ``caption_scrubbed``: the scrubbed
    caption where the decision is scrub, the raw caption otherwise —
    the resolution tail shared by ``run_cascade`` and the stream arms."""
    resolved = with_rule_resolution(scored, hits)
    return resolved.withColumn(
        "caption_scrubbed",
        F.when(F.col("decision") == "scrub", F.col("caption_scrubbed_pre")).otherwise(
            F.col("caption")
        ),
    )


def run_cascade(
    pairs: DataFrame,
    cfg: RuleConfig | None = None,
    overrides: DataFrame | None = None,
    langid_udf=None,
    perplexity_udf=None,
    neardup_kwargs: dict | None = None,
) -> DataFrame:
    """Full decision engine: pairs -> one decision record per image.

    The record (the final select) is the analog of the reference's match
    record (reference matching_process/exact_matching.py:74-101:
    identity + attrs + match_type + notes + candidate_pool_size) plus the
    problems ladder (reference matching_process/problem_detection.py:
    36-213); ``tests/test_cascade_golden.py`` pins its columns and types.

    The byte streams are validated by the Arrow-batched decoder
    (functions.image.decode_validate_inline) — it catches truncated/
    garbage streams and metadata/pixel dimension mismatches that the
    metadata-only rules cannot see (the coordinate-validation analog,
    reference import_data_db.py:60-100).

    ``overrides`` are applied last (operators/overrides.py): size-based
    planning broadcasts a small override table and shuffles a huge one
    co-partitioned on image_id.
    """
    from ..functions.image import decode_validate_inline
    from .overrides import apply_overrides

    cfg = cfg or RuleConfig()

    # phash -> dup-cluster map, materialized up front on node-level data
    # (neardup_phash_map docstring); attached below by a broadcast-able
    # join on the phash column the rows already carry — no image_id
    # shuffle of the wide decoded rows.
    ph_map, n_map = neardup_phash_map(pairs, **(neardup_kwargs or {}))
    # fused prepare: bytes read exactly once; all text signals (incl.
    # caption_scrubbed_pre and pii_only_py) computed in the same Arrow
    # pass (see functions/image.py for why Python set-membership beats
    # Catalyst here)
    scored = score_signals(decode_validate_inline(pairs), langid_udf, perplexity_udf)

    # ---- hit bitmask, computed BEFORE the cluster join -----------------
    # The resolution ladder + reasons array + severity reference every
    # rule predicate several times; Catalyst's CollapseProject would
    # re-expand each referenced expression per use (and array ops like
    # array_distinct are CodegenFallback, so codegen CSE cannot dedupe
    # them). Packing all pre-join hits into ONE integer column that the
    # cluster-join shuffle then materializes makes every downstream
    # reference a cheap bit test.
    pre_hits = rule_hits(scored, cfg)
    if cfg.rule_enabled("corrupt_image"):
        pre_hits["corrupt_image"] = pre_hits["corrupt_image"] | ~F.coalesce(
            F.col("dec_ok"), F.lit(False)
        )

    bit_of = {name: i for i, name in enumerate(sorted(pre_hits))}
    mask = None
    for name, cond in pre_hits.items():
        b = F.when(cond, F.lit(1 << bit_of[name]).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        mask = b if mask is None else mask.bitwiseOR(b)
    scored = scored.withColumn("_hits_mask", mask)

    scored = attach_clusters(scored, ph_map, n_map)

    hits = {
        name: F.col("_hits_mask").bitwiseAND(F.lit(1 << bit_of[name])) != 0
        for name in pre_hits
    }
    hits["near_duplicate"] = (
        F.coalesce(~F.col("is_cluster_rep"), F.lit(False))
        if cfg.rule_enabled("near_duplicate")
        else F.lit(False)
    )
    resolved = apply_overrides(resolve_decisions(scored, hits), overrides)
    # lineage partition: one of 64 stable hash buckets of image_id
    # (cross-run stable, NOT Spark's task partition — survives
    # repartitioning)
    resolved = resolved.withColumn(
        "part_bucket", F.pmod(F.xxhash64("image_id"), F.lit(64)).cast("int")
    )
    return resolved.select(
        "image_id",
        "decision",
        "rule",
        "severity",
        "reasons",
        "caption_scrubbed",
        F.coalesce(F.col("cluster_id"), F.col("image_id")).alias("cluster_id"),
        F.coalesce(F.col("cluster_size"), F.lit(1)).alias("cluster_size"),
        "is_cluster_rep",
        "lang",
        "lang_conf",
        "perplexity",
        "part_bucket",
    )


def metrics_rollup(decisions: DataFrame, run_id: str) -> DataFrame:
    """Per-partition lineage metrics (analog of the reference's summary
    counts, matching_script.py:614-653, import_data_db.py:958-976)."""
    return decisions.groupBy("part_bucket").agg(
        F.count("*").alias("n_rows"),
        F.sum(F.when(F.col("decision") == "keep", 1).otherwise(0)).alias("n_keep"),
        F.sum(F.when(F.col("decision") == "drop", 1).otherwise(0)).alias("n_drop"),
        F.sum(F.when(F.col("decision") == "scrub", 1).otherwise(0)).alias("n_scrub"),
        # count each cluster in the bucket of its REPRESENTATIVE row
        # (exactly one per cluster): conditioning on cluster_size alone
        # counted a cluster once per bucket its members hash into, so
        # SUM over the rollup overcounted clusters ~cluster_size-fold
        F.countDistinct(
            F.when(
                (F.col("cluster_size") > 1) & F.col("is_cluster_rep"),
                F.col("cluster_id"),
            )
        ).alias("n_neardup_clusters"),
        F.sum(F.when(F.col("rule") == "override", 1).otherwise(0)).alias(
            "n_overridden"
        ),
        F.lit(run_id).alias("run_id"),
    )
