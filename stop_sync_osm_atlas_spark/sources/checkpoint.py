"""Snapshot-checkpoint resume (Q7 analog, file-system edition).

Semantics (mirrors Iceberg's snapshot-per-commit, and the reference's
persistent_data replay surviving full re-imports, reference
backend/services/import_persistence.py:4-101):

- decisions are written partition-group by partition-group
  (``part_bucket % n_groups``); each group commit is atomic
  (parquet dir write + marker file rename);
- a re-run lists committed markers, anti-joins nothing — it simply
  *skips* committed groups (cheaper than an anti-join: pruning happens
  at the partition level before any scan);
- the final table is byte-identical to a clean run because part_bucket
  is a content hash of image_id (cross-run stable), not a task id.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


class CheckpointedWriter:
    def __init__(self, root: str, n_groups: int = 8):
        self.root = root
        self.n_groups = n_groups
        os.makedirs(self._marker_dir(), exist_ok=True)
        # pin n_groups to the root: resuming with a different count
        # would re-assign every row's group (pmod changes) while the
        # old markers still claim their groups — silently duplicating
        # recomputed rows and dropping marker-skipped ones
        meta = os.path.join(self._marker_dir(), "meta.json")
        if os.path.exists(meta):
            with open(meta) as fh:
                prev = json.load(fh).get("n_groups")
            if prev != n_groups:
                raise ValueError(
                    f"checkpoint root {root} was written with "
                    f"n_groups={prev}; resuming with n_groups="
                    f"{n_groups} would corrupt the committed groups"
                )
        else:
            with open(meta + ".tmp", "w") as fh:
                json.dump({"n_groups": n_groups}, fh)
            os.rename(meta + ".tmp", meta)

    def _marker_dir(self) -> str:
        return os.path.join(self.root, "_commits")

    def _marker(self, group: int) -> str:
        return os.path.join(self._marker_dir(), f"group={group}.json")

    def _group_dir(self, group: int) -> str:
        return os.path.join(self.root, "decisions", f"group={group}")

    def committed_groups(self) -> set[int]:
        if not os.path.isdir(self._marker_dir()):
            return set()
        out = set()
        for f in os.listdir(self._marker_dir()):
            if f.startswith("group=") and f.endswith(".json"):
                out.add(int(f[len("group=") : -len(".json")]))
        return out

    def _commit(self, group: int, rows: int) -> None:
        with open(self._marker(group) + ".tmp", "w") as fh:
            json.dump({"group": group, "rows": rows}, fh)
        os.rename(self._marker(group) + ".tmp", self._marker(group))

    def run(self, decisions: DataFrame) -> dict[int, int]:
        """Write all uncommitted groups in ONE Spark job. Returns counts.

        The decisions plan runs exactly once: a single
        ``partitionBy(_commit_group)`` write fans every uncommitted
        group into its own directory, then the driver promotes each
        directory by an atomic rename, then commits it with a marker.
        Group-level atomicity is preserved (a crash mid-promotion leaves
        marked groups committed and the rest, including a promoted dir
        whose marker was never written, recomputed on resume). The
        tmp root sits outside root/decisions, so a dir orphaned by a
        crash mid-write never joins read_all's partition discovery
        (Spark keeps _-prefixed names that contain '=' as partitions).
        The n-actions-over-a-persisted-frame pattern this replaces cost
        one full pass per group. Per-group row counts are observed on
        that same write, so the job count does not grow with
        ``n_groups``.
        """
        done = self.committed_groups()
        todo = [g for g in range(self.n_groups) if g not in done]
        counts: dict[int, int] = {}
        if not todo:
            return counts
        tmp_root = os.path.join(self.root, "decisions.tmp")
        shutil.rmtree(tmp_root, ignore_errors=True)
        obs = Observation()
        grp = F.col("_commit_group")
        (
            decisions.withColumn(
                "_commit_group",
                F.pmod(F.col("part_bucket"), F.lit(self.n_groups)),
            )
            .where(grp.isin(todo))
            .observe(obs, *[F.count_if(grp == g).alias(str(g)) for g in todo])
            .write.mode("overwrite")
            .partitionBy("_commit_group")
            .parquet(tmp_root)
        )
        rows = obs.get
        os.makedirs(os.path.join(self.root, "decisions"), exist_ok=True)
        for g in todo:
            src = os.path.join(tmp_root, f"_commit_group={g}")
            final = self._group_dir(g)
            shutil.rmtree(final, ignore_errors=True)
            if os.path.isdir(src):
                os.rename(src, final)
            else:
                # the group matched no rows: commit it empty so a
                # resume does not recompute the plan for nothing
                os.makedirs(final, exist_ok=True)
            counts[g] = rows[str(g)]
            self._commit(g, counts[g])
        shutil.rmtree(tmp_root, ignore_errors=True)
        return counts

    def read_all(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(os.path.join(self.root, "decisions"))
