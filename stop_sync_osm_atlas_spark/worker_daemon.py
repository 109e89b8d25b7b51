"""Python worker daemon of the engine's sessions (``spark.python.daemon.module``).

Every Python task starts in ``pyspark.worker_util.setup_spark_files``,
which ends in ``importlib.invalidate_caches()``. That re-reads the
central directory of every archive on the worker's launch path once per
cached zipimporter: twelve over ``pyspark.zip`` and two over the
spark-core jar, ~0.2 CPU-s per task on a 4-vCPU host, more than a cheap
UDF body costs.

Run as the daemon, this module skips that re-read for the archives that
were files on ``PYTHONPATH`` when the daemon started (``pyspark.zip``,
the py4j zip, the spark-core jar): Spark lays them out before launch and
never rewrites them. Every other finder is still invalidated, the path
finders and the zips ``addPyFile`` ships under the SparkFiles root at
task time among them. Forked workers inherit the patch. Imported rather
than run, the module changes nothing.
"""

import os
import zipimport

if __name__ == "__main__":
    launch_archives = frozenset(
        p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if os.path.isfile(p)
    )
    reread = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self):
        if self.archive not in launch_archives:
            reread(self)

    zipimport.zipimporter.invalidate_caches = invalidate_caches

    from pyspark import daemon

    daemon.manager()
