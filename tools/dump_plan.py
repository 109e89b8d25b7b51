"""Dump .explain('formatted') for entry queries to files.

Usage: python tools/dump_plan.py <out_dir> <suffix> <query> [query ...]
Writes <out_dir>/<query>_<suffix>.txt for each query (the round's
plan-evidence deliverable: plans/rNN/<query>_{before,after}.txt), and
<out_dir>/<query>_<suffix>.optimized.txt: the optimized logical plan
with expression ids (``#123``, ``#123L``) normalized to ``#``, so two
checkouts' files compare with ``diff``. Its md5 is printed; equal md5s
mean the two sides optimize to the same plan.
"""

from __future__ import annotations

import hashlib
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    out_dir, suffix, *names = sys.argv[1:]
    os.makedirs(out_dir, exist_ok=True)
    import __spark_entry__ as entry

    from stop_sync_osm_atlas_spark.session import get_spark

    spark = get_spark()
    qs = entry.queries()
    for name in names:
        df = qs[name](spark, SF_DIR)
        qe = df._jdf.queryExecution()
        plan = qe.explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({len(plan)} chars)", flush=True)
        opt = re.sub(r"#\d+L?", "#", qe.optimizedPlan().toString())
        path = os.path.join(out_dir, f"{name}_{suffix}.optimized.txt")
        with open(path, "w") as fh:
            fh.write(opt)
        md5 = hashlib.md5(opt.encode()).hexdigest()
        print(f"wrote {path} (optimized, md5 {md5})", flush=True)


if __name__ == "__main__":
    main()
