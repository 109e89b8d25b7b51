"""SparkSession factory.

Single place where execution knobs live so tests / bench / driver all get
the same tuned session.  Scale notes (100 TB design, local[32] test):

- AQE on: runtime coalescing + skew-join splitting is the first line of
  defense against skewed phash buckets (SURVEY.md §4) — explicit salting
  in operators/neardup.py is the second.
- shuffle.partitions defaults to #cores locally; on a real cluster this
  is set via spark-submit conf (rule of thumb: 2-3x total cores, or let
  AQE coalesce from a high initial number).
- Arrow on: every Python-side operator in this engine is Arrow-batched
  (pandas UDF / applyInPandas / mapInPandas); per-row Python is banned.
- UTC session timezone: parity with DuckDB's UTC-naive timestamps so the
  driver's oracle comparison is stable.
- Generated-class cache sized to the plan catalogue: the engine re-runs
  the same plans (per snapshot, resume and bench iteration), and Spark's
  100-entry default recompiled every class of every run (0.7-1.3 s of
  Janino, then interpretation and JIT of the fresh classes). Class
  names carry no stage id, so a re-run's classes match whatever order
  AQE numbers its stages in.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "stop_sync_osm_atlas_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    # In local[N] the parallelism is N threads; match shuffle width to it.
    n_threads = cpus
    if master.startswith("local["):
        # handle the full master grammar: local[N], local[*], and
        # local[N,maxFailures] (int('4,2') crashed the old parse)
        inner = master[len("local[") : -1].split(",")[0]
        n_threads = os.cpu_count() or 32 if inner == "*" else int(inner)
    elif master == "local":
        n_threads = 1
    if shuffle_partitions is None:
        # floor of 4: tiny local masters still get enough partitions
        # for AQE to coalesce. NOTE this makes the local[2]-vs-local[8]
        # scaling pair slightly asymmetric (4 partitions on 2 cores =
        # two task waves vs 8-on-8) — a constant of the recorded
        # methodology since round 1, kept so cross-round scaling
        # samples stay comparable.
        shuffle_partitions = max(4, n_threads)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(n_threads))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Deliberately NO initialPartitionNum widening: measured on this
        # box (BENCH/BASELINE.md "Data-size linearity"), starting
        # shuffles at 4x threads bought only ~6.5% at 6.4M rows while
        # STABLY doubling the many-small-stage pipeline queries at the
        # 200k bench scale (more tasks -> per-task/Python-fork overhead
        # dominates). On a real cluster with 100x executors the initial
        # width comes from spark-submit conf, not this factory.
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # NOT bigger-is-better: a 48g heap with G1 at 32 threads measured
        # 32x slower than 8g on allocation-heavy jobs (fresh-page zeroing
        # + GC region sizing). Sandbox datasets fit comfortably in 12g;
        # leave headroom for Python workers.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "12g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Sandbox-scale file splitting: test parquet is tiny (MBs), so the
        # 128MB default collapses scans to 1 task and hides all
        # parallelism. At real scale these would stay at defaults.
        .config("spark.sql.files.maxPartitionBytes", str(16 * 1024 * 1024))
        .config("spark.sql.files.openCostInBytes", str(16 * 1024 * 1024))
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", str(1 * 1024 * 1024))
        # Generated-class LRU sized to hold a run's whole plan catalogue.
        # The default 100 is below one run of either pipeline (measured
        # with CodegenMetrics compile counts: prepare_corpus + bins.count
        # compiles 165-176 classes, run_pipeline 125-137), so a cyclic
        # re-run evicted every class before its next use and
        # Janino-compiled (then JIT-warmed) its whole plan again on
        # every run. 1024 holds all 50 graded queries at once (892
        # classes, cold sweep at sf0.01). Static conf: it only applies
        # when this factory creates the session.
        .config("spark.sql.codegen.cache.maxEntries", "1024")
        # The cache key is the generated source, and the stage id in
        # the class name varies with AQE's stage order: without this an
        # identical pipeline numbered differently compiles again.
        .config("spark.sql.codegen.useIdInClassName", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
