"""Physical-plan assertions: the 100 TB design contracts.

These tests read .explain output and fail if a regression reintroduces
a full-column scan, loses a pushed filter, or degrades a broadcast
join — the Spark analog of the reference's hand-rolled optimizations
(SURVEY.md §4: usecols pruning, filter-early, small-side broadcast).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_neardup_shuffles_slim_projection(spark, fixture_paths):
    """The near-dup shuffle must carry only (image_id, phash, keys) —
    never bytes/caption."""
    from stop_sync_osm_atlas_spark.operators.neardup import neardup_clusters
    from stop_sync_osm_atlas_spark.schemas import PAIRS_SCHEMA

    pairs = spark.read.schema(PAIRS_SCHEMA).parquet(fixture_paths["pairs"])
    plan = _plan(neardup_clusters(pairs))
    scans = [seg for seg in plan.split("\n\n") if "Scan parquet" in seg]
    assert scans, plan
    for s in scans:
        assert "bytes" not in s and "caption" not in s, s


def test_filter_pushdown_to_parquet(spark):
    sf = "/root/testdata/sf0.001"
    df = (
        spark.read.parquet(f"{sf}/orders.parquet")
        .filter(F.col("o_totalprice") > 100000)
        .select("o_orderkey")
    )
    plan = _plan(df)
    assert "PushedFilters" in plan and "o_totalprice" in plan.split("PushedFilters")[1].split("]")[0]


def test_broadcast_join_for_small_dim(spark):
    sf = "/root/testdata/sf0.001"
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    n = spark.read.parquet(f"{sf}/nation.parquet")
    plan = _plan(li.join(F.broadcast(n), li.l_suppkey == n.n_nationkey))
    assert "BroadcastHashJoin" in plan


def test_cascade_rules_stay_codegen(spark, fixture_paths):
    """The metadata rule ladder must be whole-stage-codegen'd (no
    Python row UDFs in the hot path)."""
    from stop_sync_osm_atlas_spark.operators import scrub as SC
    from stop_sync_osm_atlas_spark.operators.rules import RuleConfig, metadata_rule_hits, with_rule_resolution
    from stop_sync_osm_atlas_spark.schemas import PAIRS_SCHEMA

    pairs = spark.read.schema(PAIRS_SCHEMA).parquet(fixture_paths["pairs"])
    scored = (
        pairs.withColumn("lang", F.lit("en"))
        .withColumn("perplexity", F.lit(None).cast("double"))
        .withColumn("is_cluster_rep", F.lit(True))
    )
    hits = metadata_rule_hits(scored, RuleConfig())
    hits["langid_undetermined"] = F.lit(False)
    hits["high_perplexity"] = F.lit(False)
    hits["near_duplicate"] = F.lit(False)
    hits["scrub"] = SC.scrub_hit(F.col("caption"))
    hits["pii_only_after_scrub"] = SC.pii_only_hit(F.col("caption"))
    out = with_rule_resolution(scored, hits)
    plan = _plan(out.select("image_id", "rule", "decision"))
    # '*' node prefix in formatted output marks whole-stage-codegen spans
    assert "* Project" in plan or "WholeStageCodegen" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_fused_decode_reads_bytes_once(spark, fixture_paths):
    """With fused decode, exactly one scan touches the bytes column —
    at 100 TB the bytes column dominates I/O and must be read once."""
    from stop_sync_osm_atlas_spark.operators.cascade import run_cascade
    from stop_sync_osm_atlas_spark.schemas import PAIRS_SCHEMA

    pairs = spark.read.schema(PAIRS_SCHEMA).parquet(fixture_paths["pairs"])
    plan = _plan(run_cascade(pairs))
    scans = [seg for seg in plan.split("\n\n") if "Scan parquet" in seg and "ReadSchema" in seg]
    with_bytes = [s for s in scans if "bytes:binary" in s]
    assert len(with_bytes) == 1, f"{len(with_bytes)} scans read bytes"


def test_cascade_main_job_has_no_shuffle(spark, fixture_paths):
    """The 100 TB contract of the supergroup near-dup design: after the
    bounded node-level pre-jobs, the cascade's MAIN job is scan ->
    fused Arrow decode -> broadcast phash-map attach -> project — zero
    shuffle exchanges of the wide rows (the r2 design sort-merge-joined
    the decoded rows on image_id)."""
    from stop_sync_osm_atlas_spark.operators.cascade import run_cascade
    from stop_sync_osm_atlas_spark.schemas import PAIRS_SCHEMA

    pairs = spark.read.schema(PAIRS_SCHEMA).parquet(fixture_paths["pairs"])
    plan = _plan(run_cascade(pairs))
    assert "Exchange hashpartitioning" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def _override_join_plan(spark) -> str:
    import pandas as pd

    from stop_sync_osm_atlas_spark.operators.overrides import apply_overrides

    decisions = (
        spark.range(0, 1000)
        .select(
            F.concat(F.lit("img:"), F.col("id")).alias("image_id"),
            F.lit("keep").alias("decision"),
            F.lit("keep").alias("rule"),
            F.lit(5).alias("severity"),
            F.array().cast("array<string>").alias("reasons"),
        )
    )
    ov = spark.createDataFrame(
        pd.DataFrame({"image_id": ["img:1", "img:2"], "forced_decision": ["drop", "keep"]})
    )
    return _plan(apply_overrides(decisions, ov))


def test_small_override_table_broadcasts(spark):
    """apply_overrides carries no join hint, and size-based planning
    broadcasts a small override table (a left join can build only the
    override side, so the decisions side never becomes the build)."""
    plan = _override_join_plan(spark)
    assert "BroadcastHashJoin" in plan, plan


def test_override_join_shuffles_without_auto_broadcast(spark):
    """With auto-broadcast off (what planning sees for an override
    table over the threshold) the override join is shuffled: nothing
    forces a broadcast of a table too big to ship."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _override_join_plan(spark)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "BroadcastHashJoin" not in plan, plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan


def test_tfidf_no_vocabulary_broadcast(spark):
    """tfidf_topk must NOT broadcast-HINT the document-frequency side —
    it is the full distinct-term table (billions of rows on web text).
    With size-based auto-broadcast disabled, only a hint could force a
    broadcast, so the only broadcast in the plan must be the 1-row
    corpus-count aggregate (a nested-loop cross join, never a hash join
    on term); at default settings Catalyst/AQE remain free to broadcast
    df when it actually fits."""
    from stop_sync_osm_atlas_spark.operators.keywords import tfidf_topk

    sf = "/root/testdata/sf0.001"
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = tfidf_topk(spark.read.parquet(f"{sf}/documents.parquet"), k=3)
        plan = _plan(df)
        assert "BroadcastHashJoin" not in plan, plan
        # exactly one broadcast: the 1-row n_docs frame
        assert plan.count(") BroadcastExchange") <= 1, plan
        assert plan.count(") BroadcastNestedLoopJoin") == 1, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_tfidf_plan_building_runs_no_job(spark):
    """r3 verdict item 4: the old tfidf_topk ran an eager docs.count()
    while BUILDING the plan — an extra full scan job at corpus scale.
    Plan construction must now schedule zero Spark jobs."""
    from stop_sync_osm_atlas_spark.operators.keywords import tfidf_topk

    sf = "/root/testdata/sf0.001"
    sc = spark.sparkContext
    docs = spark.read.parquet(f"{sf}/documents.parquet")  # schema job outside probe
    sc.setJobGroup("tfidf_plan_probe", "plan building must be lazy")
    try:
        tfidf_topk(docs, k=3)
        jobs = sc.statusTracker().getJobIdsForGroup("tfidf_plan_probe")
    finally:
        sc.setJobGroup(None, None)
    assert list(jobs) == [], jobs


def test_clean_lines_plan_shape(spark):
    """clean_lines' 100 TB contract (r4 rework): exactly TWO pruned
    text scans (main branch + the aggregate-collapsed boilerplate
    branch — down from three: the per-doc line count now rides the
    explode, killing the separate count scan and its outer join) and
    exactly ONE window (the boilerplate branch is a plain aggregate;
    its old first-occurrence window was redundant for countDistinct)."""
    from stop_sync_osm_atlas_spark.operators.lines import clean_lines

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(clean_lines(docs))
    assert plan.count(") Scan parquet") == 2, plan
    assert plan.count(") Window") == 1, plan


def test_decisions_sink_partition_pruning(spark, tmp_path):
    """The 100x read-path claim for the decisions sink: a part_bucket
    predicate over the directory-partitioned parquet layout must become
    a PartitionFilter on the scan (directory pruning — the parquet
    stand-in for Iceberg partition/zone-map skipping, sources/io.py),
    and the pruned scan must actually touch only that bucket's files."""
    from stop_sync_osm_atlas_spark.sources.io import write_table

    dec = spark.range(0, 256).select(
        F.concat(F.lit("img:"), F.col("id")).alias("image_id"),
        F.lit("keep").alias("decision"),
        F.pmod(F.xxhash64(F.col("id").cast("string")), F.lit(8)).cast("int").alias(
            "part_bucket"
        ),
    )
    path = str(tmp_path / "decisions")
    write_table(dec, path, partition_by=["part_bucket"])

    def scan_num_files(df) -> int:
        df.collect()
        scan = df._jdf.queryExecution().executedPlan().collectLeaves().apply(0)
        return scan.metrics().apply("numFiles").value()

    rd = spark.read.parquet(path).filter(F.col("part_bucket") == 3).select("image_id")
    plan = _plan(rd)
    scan = [
        seg for seg in plan.split("\n\n")
        if "Scan parquet" in seg and "PartitionFilters" in seg
    ]
    assert scan, plan
    pf = scan[0].split("PartitionFilters:")[1].split("]")[0]
    assert "part_bucket" in pf, scan[0]
    # pruning is physical, not cosmetic: the filtered scan's numFiles
    # metric must be a strict fraction of the full relation's
    n_pruned = scan_num_files(rd)
    n_all = scan_num_files(spark.read.parquet(path).select("image_id"))
    assert 0 < n_pruned < n_all, (n_pruned, n_all)


def test_hash_sample_is_codegen_filter(spark):
    """The deterministic sample must stay a pure codegen filter — no
    shuffle, no Python."""
    from stop_sync_osm_atlas_spark.operators.sampling import hash_sample

    sf = "/root/testdata/sf0.001"
    df = hash_sample(spark.read.parquet(f"{sf}/documents.parquet"), 100, key_col="doc_id")
    plan = _plan(df.select("doc_id"))
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_fused_training_single_scan_single_shuffle(spark, fixture_paths):
    """train_models_fused's aggregation must stay: pruned 2-column scan
    -> one MapInPandas -> map-side partial agg -> exactly ONE Exchange.
    Two scans or a second shuffle would double training I/O at corpus
    scale (the whole point of fusing the two trainers)."""
    import pyspark.sql.classic.dataframe as cdf

    from stop_sync_osm_atlas_spark.functions.training import train_models_fused

    docs = spark.read.parquet(fixture_paths["pairs"]).selectExpr(
        "image_id as doc_id", "coalesce(caption, '') as text", "'en' as lang"
    )

    class _Cap(Exception):
        pass

    orig = cdf.DataFrame.collect

    def _capture(self):
        _capture.df = self
        raise _Cap()

    cdf.DataFrame.collect = _capture
    try:
        train_models_fused(docs)
    except _Cap:
        pass
    finally:
        cdf.DataFrame.collect = orig

    plan = _plan(_capture.df)
    # formatted output names each node twice (tree + "(N) <node>" detail
    # header) — count the detail headers. Exactly ONE data shuffle (the
    # hash-partitioned aggregation exchange); the optional SECOND
    # exchange is the r7 scale-adaptive round-robin widening of a
    # narrow input before the Python pass — never a second aggregation
    # shuffle, never a second scan.
    n_ex = plan.count(") Exchange")
    assert plan.count("hashpartitioning") == 1, plan
    assert n_ex in (1, 2), plan
    if n_ex == 2:
        assert "RoundRobinPartitioning" in plan, plan
    assert plan.count(") Scan parquet") == 1, plan
    assert plan.count(") MapInPandas") == 1, plan
    scan = [seg for seg in plan.split("\n\n") if "Scan parquet" in seg][0]
    assert "phash" not in scan and "bytes" not in scan, scan
    assert "partial_sum" in plan, plan  # map-side combine before the shuffle


def test_repeated_runs_compile_no_new_class(spark, fixture_paths, nd_kwargs):
    """A steady-state re-run of a pipeline must reuse every generated
    class: get_spark sizes Spark's generated-class LRU
    (spark.sql.codegen.cache.maxEntries) above one run's catalogue. At
    the default 100 entries a run of either plan below evicted its own
    classes before their next use, so each second run re-compiled its
    whole plan (run alone: 168 classes for prepare_corpus + bins.count,
    80 for run_cascade)."""
    from stop_sync_osm_atlas_spark.operators.cascade import run_cascade
    from stop_sync_osm_atlas_spark.plans.corpus import prepare_corpus
    from stop_sync_osm_atlas_spark.schemas import PAIRS_SCHEMA

    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles = metrics.METRIC_COMPILATION_TIME()
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    pairs = spark.read.schema(PAIRS_SCHEMA).parquet(fixture_paths["pairs"])

    def corpus():
        decisions, bins = prepare_corpus(docs)
        bins.count()
        decisions.unpersist()

    def cascade():
        run_cascade(pairs, neardup_kwargs=nd_kwargs).write.format(
            "noop"
        ).mode("overwrite").save()

    def second_run_compiles(run) -> int:
        run()
        before = compiles.getCount()
        run()
        return compiles.getCount() - before

    assert second_run_compiles(corpus) == 0
    assert second_run_compiles(cascade) == 0


@pytest.mark.parametrize("hot", [False, True], ids=["no_hot", "hot"])
def test_neardup_map_plans_merge_only_when_hot(
    spark, fixture_paths, nd_kwargs, monkeypatch, hot
):
    """neardup_phash_map decides its plan from its one bounded collect:
    without a hot supergroup the map runs at most 9 jobs (21 when the
    pass-2 merge was always planned) and its plan holds no grouped-map
    Python pass and no window; the planted hot bucket (nd_kwargs) brings
    the merge in, on a pass 1 materialized before its three readers are
    planned (at most 14 jobs; 16 when a lazy cache fed them). Either
    way n_map is the map's row count, and the collect's per-bucket facts
    aggregate hashes (no string min, so no SortAggregate)."""
    import pyspark.sql.classic.dataframe as cdf

    from stop_sync_osm_atlas_spark.operators.neardup import neardup_phash_map
    from stop_sync_osm_atlas_spark.schemas import PAIRS_SCHEMA

    pairs = spark.read.schema(PAIRS_SCHEMA).parquet(fixture_paths["pairs"])
    plans, pass1, collects = [], [], []
    orig = cdf.DataFrame.localCheckpoint
    orig_collect = cdf.DataFrame.collect

    def capture(self, *args, **kwargs):
        if "_nd_phash" in self.columns:
            plans.append(_plan(self))
        elif "cluster_id" in self.columns:
            pass1.append(_plan(self))
        return orig(self, *args, **kwargs)

    def capture_collect(self):
        if "dn" in self.columns:
            collects.append(_plan(self))
        return orig_collect(self)

    monkeypatch.setattr(cdf.DataFrame, "localCheckpoint", capture)
    monkeypatch.setattr(cdf.DataFrame, "collect", capture_collect)
    sc = spark.sparkContext
    group = f"neardup_map_jobs_{hot}"
    sc.setJobGroup(group, "neardup_phash_map job count")
    try:
        ph_map, n_map = neardup_phash_map(pairs, **(nd_kwargs if hot else {}))
    finally:
        sc.setJobGroup(None, None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert n_map == ph_map.count() > 0
    (plan,) = plans
    (facts_plan,) = collects
    assert "HashAggregate" in facts_plan and "SortAggregate" not in facts_plan, facts_plan
    if hot:
        (local,) = pass1
        assert "MapInPandas" in local and "MapInPandas" not in plan, local
        assert jobs <= 14, jobs
        assert "FlatMapGroupsInPandas" in plan and ") Window" in plan, plan
    else:
        assert not pass1 and "MapInPandas" in plan, plan
        assert jobs <= 9, jobs
        assert "FlatMapGroupsInPandas" not in plan and "Window" not in plan, plan
