"""Source and sink plumbing: a fixed-width text scan in plain Spark
(S5, the HRDF analog), the checkpointed writer's committed-group
accounting, the in-process local filesystem and the worker daemon."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F


def test_fixed_width_text_scan(spark, tmp_path):
    """spark.read.text + substring/regexp parsing with cheap guard
    filters pushed before the expensive split (reference
    get_atlas_data.py:658-773 GLEISE parse with guards :678-689)."""
    lines = [
        "8503000  G 'Zuerich HB'      1  ",
        "8507000  G 'Bern'            2  ",
        "% comment line to be filtered   ",
        "8503000  X 'not a G record'  9  ",
    ]
    p = tmp_path / "fixed.txt"
    p.write_text("\n".join(lines))
    raw = spark.read.text(str(p))
    parsed = (
        raw.filter(~F.col("value").startswith("%"))  # cheap guard first
        .filter(F.substring("value", 10, 1) == "G")
        .select(
            F.substring("value", 1, 7).cast("long").alias("uic"),
            F.regexp_extract("value", r"'([^']*)'", 1).alias("name"),
            F.regexp_extract("value", r"(\d+)\s*$", 1).cast("int").alias("track"),
        )
    )
    rows = {r["uic"]: r for r in parsed.collect()}
    assert set(rows) == {8503000, 8507000}
    assert rows[8503000]["name"] == "Zuerich HB"
    assert rows[8507000]["track"] == 2


def test_sloid_split_extraction(spark):
    """X6: split-on-':' extraction (parse_stop_id / last token,
    reference get_atlas_data.py:502-549)."""
    df = spark.createDataFrame(
        pd.DataFrame({"sloid": ["ch:1:sloid:7:3:310", "ch:1:sloid:9"]})
    )
    out = df.select(
        F.element_at(F.split("sloid", ":"), -1).alias("last"),
        F.element_at(F.split("sloid", ":"), 4).alias("fourth"),
    ).collect()
    assert out[0]["last"] == "310" and out[0]["fourth"] == "7"
    assert out[1]["last"] == "9"


def test_checkpoint_group_pruning(spark, fixture_paths, tmp_path):
    """The resume path must not rewrite committed groups (partition-level
    pruning, not row-level anti-join)."""
    import os
    import shutil

    from stop_sync_osm_atlas_spark.schemas import PAIRS_SCHEMA
    from stop_sync_osm_atlas_spark.sources.checkpoint import CheckpointedWriter

    pairs = spark.read.schema(PAIRS_SCHEMA).parquet(fixture_paths["pairs"])
    dec = pairs.select(
        "image_id",
        F.lit("keep").alias("decision"),
        F.pmod(F.xxhash64("image_id"), F.lit(64)).cast("int").alias("part_bucket"),
    )
    w = CheckpointedWriter(str(tmp_path / "ckpt"), n_groups=4)
    w.run(dec)
    # "crash": groups 0, 1 and 3 never got their markers, and group 1
    # was not promoted either
    for g in (0, 1, 3):
        os.remove(w._marker(g))
    shutil.rmtree(w._group_dir(1))
    assert w.committed_groups() == {2}
    g2 = w._group_dir(2)

    def mtimes():
        return {f: os.stat(os.path.join(g2, f)).st_mtime_ns for f in os.listdir(g2)}

    kept = mtimes()
    counts = w.run(dec)
    assert set(counts) == {0, 1, 3}
    assert mtimes() == kept  # the committed group was not rewritten
    total = w.read_all(spark).count()
    assert total == pairs.count()


def test_local_writes_set_permissions_in_process(spark, tmp_path):
    """get_spark installs NioLocalFileSystem for local masters. Hadoop's
    own local filesystem, lacking its native library, started a chmod
    process for every file and directory a write created; the mode
    bits set in-process must be the ones chmod would set."""
    import os
    import stat

    from stop_sync_osm_atlas_spark.session import NIO_LOCAL_FS

    jvm = spark._jvm
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(
        jvm.java.net.URI("file:///"), spark._jsc.hadoopConfiguration()
    )
    assert fs.getClass().getName() == NIO_LOCAL_FS
    f = tmp_path / "f"
    f.write_text("x")
    for mode in ("751", "640", "000", "777", "644"):
        fs.setPermission(
            jvm.org.apache.hadoop.fs.Path(str(f)),
            jvm.org.apache.hadoop.fs.permission.FsPermission(mode),
        )
        assert oct(stat.S_IMODE(os.stat(f).st_mode)) == oct(int(mode, 8))

    out = tmp_path / "t"
    spark.range(10).repartition(3).write.parquet(str(out))
    hadoop_umask = 0o022  # fs.permissions.umask-mode default
    written = [os.path.join(r, n) for r, ds, fs_ in os.walk(out) for n in ds + fs_]
    assert written and spark.read.parquet(str(out)).count() == 10
    for p in written:
        want = 0o777 if os.path.isdir(p) else 0o666
        assert stat.S_IMODE(os.stat(p).st_mode) == want & ~hadoop_umask, p


def test_file_context_uses_nio_local_fs(spark, tmp_path):
    """FileContext (Structured Streaming checkpoints) builds its local
    filesystem from fs.AbstractFileSystem.file.impl, not fs.file.impl:
    get_spark points that key at the engine class too, whose delegate
    sets permissions and reads link status without a child process."""
    import os
    import stat

    from stop_sync_osm_atlas_spark.session import NIO_LOCAL_AFS, NIO_LOCAL_FS

    jvm = spark._jvm
    fc = jvm.org.apache.hadoop.fs.FileContext.getLocalFSFileContext(
        spark._jsc.hadoopConfiguration()
    )
    afs = fc.getDefaultFileSystem()
    assert afs.getClass().getName() == NIO_LOCAL_AFS
    assert afs.getRawFs().getClass().getName() == NIO_LOCAL_FS + "$RawFs"

    d = jvm.org.apache.hadoop.fs.Path(str(tmp_path / "d"))
    fc.mkdir(d, jvm.org.apache.hadoop.fs.permission.FsPermission("750"), False)
    assert oct(stat.S_IMODE(os.stat(tmp_path / "d").st_mode)) == oct(0o750 & ~0o022)
    assert fc.getFileLinkStatus(d).isDirectory()
    os.symlink(tmp_path / "d", tmp_path / "ln")
    link = fc.getFileLinkStatus(jvm.org.apache.hadoop.fs.Path(str(tmp_path / "ln")))
    assert link.isSymlink()
    assert link.getSymlink().toUri().getPath() == str(tmp_path / "d")


def test_nio_local_fs_falls_back_without_javac(tmp_path, monkeypatch):
    """No javac: no build, and get_spark keeps Hadoop's default."""
    from stop_sync_osm_atlas_spark.session import nio_local_fs_classes

    monkeypatch.setenv("JAVA_HOME", str(tmp_path / "no-jdk"))
    assert nio_local_fs_classes(str(tmp_path / "build")) is None
    assert not (tmp_path / "build").exists()


def test_worker_daemon_keeps_launch_archive_caches(spark):
    """Workers fork from the engine's daemon, whose patch leaves the
    zipimporters over the launch-time archives (pyspark.zip, py4j, the
    spark-core jar) cached across each task's invalidate_caches();
    importing the module in the driver patches nothing."""
    import zipimport

    from stop_sync_osm_atlas_spark import worker_daemon

    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"

    def _import_state(it):
        # one row per task: the daemon the worker forked from, and whether
        # invalidate_caches() kept the directory each launch-time
        # archive's zipimporter had cached (3.11 replaces the dict when
        # it re-reads)
        import importlib
        import os
        import sys
        import zipimport

        launch = {p for p in os.environ["PYTHONPATH"].split(os.pathsep) if os.path.isfile(p)}
        zis = [v for v in sys.path_importer_cache.values() if isinstance(v, zipimport.zipimporter)]
        before = [(zi, zi._files) for zi in zis if zi.archive in launch]
        importlib.invalidate_caches()
        for _ in it:
            pass
        yield pd.DataFrame({
            "daemon": [sys.modules["__main__"].__spec__.name],
            "launch_importers": [len(before)],
            "kept": [sum(zi._files is files for zi, files in before)],
        })

    out = (
        spark.range(0, 64, numPartitions=8)
        .mapInPandas(_import_state, "daemon string, launch_importers long, kept long")
        .toPandas()
    )
    assert set(out.daemon) == {worker_daemon.__name__}
    assert (out.launch_importers > 0).all()
    assert (out.kept == out.launch_importers).all(), out


def test_worker_daemon_still_sees_py_files_added_mid_session(spark, tmp_path):
    """A zip and a .py that addPyFile ships once the daemon's workers are
    warm still import in a task, and the added zip's own importer is
    re-read by invalidate_caches like any archive not on the launch
    path."""
    import uuid
    import zipfile

    spark.range(0, 8, numPartitions=4).mapInPandas(lambda it: it, "id long").collect()
    tag = uuid.uuid4().hex[:12]
    zmod, pmod = f"late_zip_{tag}", f"late_py_{tag}"
    with zipfile.ZipFile(tmp_path / f"{zmod}.zip", "w") as zf:
        zf.writestr(f"{zmod}.py", "VALUE = 17\n")
    (tmp_path / f"{pmod}.py").write_text("VALUE = 25\n")
    spark.sparkContext.addPyFile(str(tmp_path / f"{zmod}.zip"))
    spark.sparkContext.addPyFile(str(tmp_path / f"{pmod}.py"))

    def _imports(it):
        import importlib
        import sys
        import zipimport

        zm, pm = importlib.import_module(zmod), importlib.import_module(pmod)
        zi = next(
            v for k, v in sys.path_importer_cache.items()
            if isinstance(v, zipimport.zipimporter) and k.endswith(f"{zmod}.zip")
        )
        files = zi._files
        importlib.invalidate_caches()
        for _ in it:
            pass
        yield pd.DataFrame({"v": [zm.VALUE + pm.VALUE], "reread": [zi._files is not files]})

    out = (
        spark.range(0, 16, numPartitions=4)
        .mapInPandas(_imports, "v long, reread boolean")
        .toPandas()
    )
    assert list(out.v) == [42] * 4
    assert out.reread.all()


def test_unimportable_daemon_module_fails_the_task(tmp_path):
    """A session whose spark.python.daemon.module cannot be imported
    fails its first Python task with the import error; it does not fall
    back to pyspark's stock daemon."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = (
        "from stop_sync_osm_atlas_spark.session import get_spark\n"
        "spark = get_spark(master='local[1]', extra_conf={"
        "'spark.python.daemon.module': 'no_such_daemon_module'})\n"
        "spark.range(4).mapInPandas(lambda it: it, 'id long').collect()\n"
        "print('TASK RAN')\n"
    )
    env = dict(os.environ, PYTHONPATH=root, SPARK_DRIVER_MEMORY="512m")
    proc = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=240,
    )
    assert proc.returncode != 0
    assert "TASK RAN" not in proc.stdout
    assert "No module named no_such_daemon_module" in proc.stderr
