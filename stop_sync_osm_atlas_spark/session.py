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
- Local masters write through ``jvm/NioLocalFileSystem.java``, both
  as ``FileSystem`` and as FileContext's ``AbstractFileSystem``: Hadoop's
  local filesystem, lacking its native library, started a ``chmod``
  process for every file and directory it wrote (~850 per run_pipeline
  iteration at 4k pairs in 16 shards), and a ``readlink`` per status
  lookup of a streaming checkpoint.
- Python workers fork from ``worker_daemon``, not ``pyspark.daemon``:
  each task's ``importlib.invalidate_caches()`` re-read the directories
  of ``pyspark.zip`` and the spark-core jar on the worker's launch path
  (~0.2 CPU-s per task on 4 vCPUs, whatever the rows). The package root
  goes on the workers' ``PYTHONPATH``, so the daemon (and the engine's
  UDF modules) import whatever the JVM's working directory.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import subprocess
import tempfile

from pyspark.sql import DataFrame, SparkSession

from . import worker_daemon

_PKG_DIR = os.path.dirname(os.path.abspath(__file__))
_JVM_DIR = os.path.join(_PKG_DIR, "jvm")
NIO_LOCAL_FS = "stop_sync_osm_atlas_spark.jvm.NioLocalFileSystem"
NIO_LOCAL_AFS = NIO_LOCAL_FS + "$Fs"


def nio_local_fs_classes(build_root: str = os.path.join(_JVM_DIR, "build")) -> str | None:
    """Class directory holding ``NIO_LOCAL_FS``, compiled on first use.

    Every ``chmod`` child the JVM starts shares the JVM's address space
    until it execs, so besides its own cost (a spawn and two execs) it
    makes the JVM's memory read twice by anything that sums PSS over
    the process tree (a perfbench images_full run on a 4-core host read
    3334 MB against its steady ~1930 MB). The build is keyed on the
    source and the Spark jars it compiles against; returns None
    (Hadoop's default stays) when javac, the jars or a writable
    ``build_root`` is missing or the compile fails.
    """
    from pyspark.find_spark_home import _find_spark_home

    src = os.path.join(_JVM_DIR, "NioLocalFileSystem.java")
    jars = os.path.join(_find_spark_home(), "jars")
    try:
        with open(src, "rb") as fh:
            key = hashlib.sha1(fh.read())
        key.update("\0".join(sorted(os.listdir(jars))).encode())
    except OSError:
        return None
    out = os.path.join(build_root, key.hexdigest()[:12])
    if os.path.isdir(out):
        return out
    java_home = os.environ.get("JAVA_HOME")
    javac = os.path.join(java_home, "bin", "javac") if java_home else shutil.which("javac")
    if not javac or not os.access(javac, os.X_OK):
        return None
    tmp = None
    try:
        os.makedirs(build_root, exist_ok=True)
        tmp = tempfile.mkdtemp(dir=build_root, prefix=".tmp")
        # Spark 4 needs Java 17, so 17 bytecode runs on any JVM it runs on
        subprocess.run(
            [javac, "-nowarn", "--release", "17", "-cp", os.path.join(jars, "*"),
             "-d", tmp, src],
            check=True, capture_output=True,
        )
        os.rename(tmp, out)
        return out
    except (OSError, subprocess.CalledProcessError):
        if tmp is not None:
            shutil.rmtree(tmp, ignore_errors=True)
        # a concurrent build may have won the rename
        return out if os.path.isdir(out) else None


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
        .config("spark.python.daemon.module", worker_daemon.__name__)
        # PythonWorkerFactory merges this into the workers' PYTHONPATH
        .config("spark.executorEnv.PYTHONPATH", os.path.dirname(_PKG_DIR))
    )
    extra_conf = dict(extra_conf or {})
    classes = nio_local_fs_classes() if master.startswith("local") else None
    if classes is not None:
        # local only: cluster executors would not have the class
        cp = extra_conf.pop("spark.driver.extraClassPath", None)
        builder = builder.config(
            "spark.driver.extraClassPath",
            classes if cp is None else cp + os.pathsep + classes,
        ).config("spark.hadoop.fs.file.impl", NIO_LOCAL_FS).config(
            "spark.hadoop.fs.AbstractFileSystem.file.impl", NIO_LOCAL_AFS
        )
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def widen_if_narrow(df: DataFrame) -> DataFrame:
    """Round-robin ``df`` to the session's parallelism when it has fewer
    partitions; an already-wide frame (the 100 TB case) is returned
    as is.

    For callers that feed a per-row expensive Python pass: a small file
    (or one unsplittable gzip / row group) scans as a handful of tasks
    and serializes that pass on one core, and a round-robin shuffle of
    the slim rows costs little next to it. Cheap consumers should stay
    narrow: at sf0.1 on 4 cores (medians of 8 alternating reps), a
    bigram-only training pass ran 0.29 s narrow vs 0.37 s widened, an
    NB pass 1.35 s vs 0.60 s.
    NOTE ``.rdd.getNumPartitions()`` is not a free probe under AQE: it
    builds the final plan, which runs any pre-final (shuffle) stages of
    ``df`` as jobs.
    """
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par)
    return df
