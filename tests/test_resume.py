"""Resume correctness (SURVEY.md §7.4.5): a run killed after k committed
partition groups, then resumed, must produce byte-identical final tables
to a clean run (the persistent_data/snapshot-checkpoint analog)."""

from __future__ import annotations

import os
import shutil

import pandas as pd

from stop_sync_osm_atlas_spark.operators.cascade import run_cascade
from stop_sync_osm_atlas_spark.schemas import PAIRS_SCHEMA
from stop_sync_osm_atlas_spark.sources.checkpoint import CheckpointedWriter


def _decisions(spark, fixture_paths, nd_kwargs):
    pairs = spark.read.schema(PAIRS_SCHEMA).parquet(fixture_paths["pairs"])
    return run_cascade(pairs, neardup_kwargs=nd_kwargs)


def _canon(pdf: pd.DataFrame) -> pd.DataFrame:
    return (
        pdf.drop(columns=["reasons"])
        .sort_values("image_id")
        .reset_index(drop=True)
    )


def _snapshot(group_dir: str) -> dict[str, tuple[int, int]]:
    """{file: (inode, mtime_ns)}: unchanged iff no file of the group was
    rewritten or replaced."""
    stats = {f: os.stat(os.path.join(group_dir, f)) for f in os.listdir(group_dir)}
    return {f: (st.st_ino, st.st_mtime_ns) for f, st in stats.items()}


def test_resume_identical_to_clean_run(spark, fixture_paths, nd_kwargs, tmp_path):
    dec = _decisions(spark, fixture_paths, nd_kwargs)

    clean_root = str(tmp_path / "clean")
    w1 = CheckpointedWriter(clean_root, n_groups=4)
    counts1 = w1.run(dec)
    assert set(counts1) == {0, 1, 2, 3}

    # interrupted run: groups 0 and 1 committed, group 2 promoted but
    # never marked, group 3 never promoted, then "crash"
    resume_root = str(tmp_path / "resumed")
    w2 = CheckpointedWriter(resume_root, n_groups=4)
    w2.run(dec)
    for g in (2, 3):
        os.remove(w2._marker(g))
    shutil.rmtree(w2._group_dir(3))
    assert w2.committed_groups() == {0, 1}
    kept = {g: _snapshot(w2._group_dir(g)) for g in (0, 1)}

    # resume: only remaining groups are written
    w3 = CheckpointedWriter(resume_root, n_groups=4)
    counts3 = w3.run(dec)
    assert set(counts3) == {2, 3}
    assert {g: _snapshot(w3._group_dir(g)) for g in (0, 1)} == kept
    assert w3.committed_groups() == {0, 1, 2, 3}

    a = _canon(w1.read_all(spark).toPandas())
    b = _canon(w3.read_all(spark).toPandas())
    pd.testing.assert_frame_equal(a, b)


def test_resume_guards(spark, fixture_paths, nd_kwargs, tmp_path):
    """Two crash-consistency guards added by the r6 review:
    (a) resuming a root with a DIFFERENT n_groups must refuse — the
    pmod re-grouping would duplicate recomputed rows while markers
    still skip old ones; (b) a tmp dir orphaned by a mid-write crash
    must be invisible to read_all (the old in-place 'group=N.tmp' name
    was discovered as a partition and duplicated the group's rows;
    NOTE an underscore prefix does NOT hide it — Spark keeps
    _-prefixed names containing '=' as partition dirs — hence the tmp
    now lives outside root/decisions entirely)."""
    import pytest

    dec = _decisions(spark, fixture_paths, nd_kwargs)
    root = str(tmp_path / "guards")
    w = CheckpointedWriter(root, n_groups=2)
    w.run(dec)
    with pytest.raises(ValueError, match="n_groups"):
        CheckpointedWriter(root, n_groups=4)

    # plant an orphaned tmp dir (the writer's actual tmp path) with
    # REAL parquet rows in it
    orphan = os.path.join(root, "decisions.tmp", "_commit_group=0")
    w.read_all(spark).limit(5).write.parquet(orphan)
    n_before = w.read_all(spark).count()
    clean = CheckpointedWriter(str(tmp_path / "guards_ref"), n_groups=2)
    clean.run(dec)
    assert n_before == clean.read_all(spark).count()  # orphan invisible


def test_rerun_is_noop(spark, fixture_paths, nd_kwargs, tmp_path):
    dec = _decisions(spark, fixture_paths, nd_kwargs)
    root = str(tmp_path / "noop")
    w = CheckpointedWriter(root, n_groups=2)
    w.run(dec)
    again = w.run(dec)
    assert again == {}


def test_run_executes_plan_once(spark, tmp_path):
    """The batch commit must execute the decisions plan ONCE — the old
    writer ran one action per group (4 full passes here). An
    accumulator inside the plan counts how many rows ever flow through
    it; per-group counts must not touch the plan at all, and must not
    cost jobs per group either (the job count is flat in n_groups)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    sc = spark.sparkContext
    acc = sc.accumulator(0)

    @F.pandas_udf(T.LongType())
    def traced(col):
        acc.add(len(col))
        return col

    # traced feeds a pure DATA column (not the partition/filter key —
    # Catalyst legitimately duplicates pushed-down key expressions, which
    # would double-count without meaning the plan ran twice)
    dec = (
        spark.range(0, 400)
        .select(
            F.concat(F.lit("img:"), traced(F.col("id")).cast("string")).alias(
                "image_id"
            ),
            F.lit("keep").alias("decision"),
            F.pmod(F.col("id"), F.lit(64)).cast("int").alias("part_bucket"),
        )
    )

    def run(n_groups: int) -> tuple[dict[int, int], int]:
        group = f"checkpoint_run_jobs_{n_groups}"
        w = CheckpointedWriter(str(tmp_path / f"onejob{n_groups}"), n_groups)
        sc.setJobGroup(group, "CheckpointedWriter.run job count")
        try:
            counts = w.run(dec)
        finally:
            sc.setJobGroup(None, None)
        return counts, len(sc.statusTracker().getJobIdsForGroup(group))

    counts, jobs4 = run(4)
    assert set(counts) == {0, 1, 2, 3} and sum(counts.values()) == 400
    assert acc.value == 400, f"plan executed {acc.value / 400:.1f}x, expected 1x"
    counts8, jobs8 = run(8)
    assert set(counts8) == set(range(8)) and sum(counts8.values()) == 400
    assert jobs8 == jobs4, f"{jobs4} jobs at n_groups=4 but {jobs8} at 8"
