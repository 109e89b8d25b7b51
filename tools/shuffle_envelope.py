#!/usr/bin/env python
"""Host shuffle-scaling envelope: the N-vs-4N ceiling of PURE JVM work.

The isolated dedup/LSH operators measure ~0.55-0.66 N-vs-4N scaling on
this VM while the composed pipelines land 0.85-1.1 (BENCH/BASELINE.md).
The working theory is that the ceiling belongs to the HOST, not the
operators: per-core memory bandwidth drops as active cores rise, and a
pure shuffle/window job — no Python workers, no parquet, no operator
code at all — should hit the same band. This probe measures exactly
that envelope so operator numbers can be read against it:

* ``agg``    — spark.range -> xxhash64 key -> groupBy(count, sum): one
  hash-aggregate exchange, the LSH band-join / dup-hash shape.
* ``window`` — spark.range -> row_number + max over partitionBy(key)
  orderBy(ord): one sort-based exchange + window, the span-coverage /
  fingerprint-rank shape.

Both are 100% whole-stage-codegen (verified via .explain: no
BatchEvalPython, no scans). An operator whose isolated N-vs-4N ratio
matches this envelope is scaling as well as ANY shuffle can on this
box; only a ratio clearly BELOW the envelope indicates an operator
defect (serial task, skewed key, driver loop).

Usage:
    python tools/shuffle_envelope.py                  # local[2] vs local[8]
    python tools/shuffle_envelope.py --cpus 8         # one width, JSON line

Prints one JSON line; the pair mode appends a section to
BENCH/BASELINE.md. Run nothing else Spark-side while timing.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import scaling

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Sized for ~30-90 s walls at local[2]: big enough that exchange
# machinery dominates JVM/session fixed costs, small enough to rerun.
AGG_ROWS = 200_000_000
AGG_KEYS = 25_000_000
WIN_ROWS = 60_000_000
WIN_KEYS = 3_000_000


def run_once(cpus: int) -> dict:
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from stop_sync_osm_atlas_spark.session import get_spark

    spark = get_spark(master=f"local[{cpus}]")

    def agg_job(rows: int, keys: int) -> int:
        # pmod, not %: signed remainders double the true key
        # cardinality vs the constant recorded in the evidence log
        df = spark.range(rows).select(
            F.pmod(F.xxhash64("id"), F.lit(keys)).alias("k"),
            (F.col("id") % 97).alias("v"),
        )
        return (
            df.groupBy("k")
            .agg(F.count("*").alias("n"), F.sum("v").alias("s"))
            .where(F.col("n") > 1)
            .count()
        )

    def win_job(rows: int, keys: int) -> int:
        df = spark.range(rows).select(
            F.pmod(F.xxhash64("id"), F.lit(keys)).alias("k"),
            F.pmod(F.xxhash64("id", F.lit(7)), F.lit(1_000_003)).alias("ord"),
            (F.col("id") % 89).alias("v"),
        )
        # 'v' breaks ord ties deterministically: row_number over a tied
        # unstable sort made the survivors cross-check able to flip
        # between widths with no real defect
        w = W.partitionBy("k").orderBy("ord", "v")
        return (
            df.select(
                "k",
                F.row_number().over(w).alias("rn"),
                F.max("v").over(w.rowsBetween(-7, 0)).alias("m"),
            )
            .where((F.col("rn") == 1) & (F.col("m") > 80))
            .count()
        )

    # warm-up at 1% size: codegen compile + shuffle machinery, excluded
    agg_job(AGG_ROWS // 100, AGG_KEYS // 100)
    win_job(WIN_ROWS // 100, WIN_KEYS // 100)

    out: dict = {"cpus": cpus}
    t0 = time.time()
    out["agg_survivors"] = agg_job(AGG_ROWS, AGG_KEYS)
    out["agg_sec"] = round(time.time() - t0, 2)
    out["agg_rows_per_sec"] = round(AGG_ROWS / out["agg_sec"], 1)

    t0 = time.time()
    out["win_survivors"] = win_job(WIN_ROWS, WIN_KEYS)
    out["win_sec"] = round(time.time() - t0, 2)
    out["win_rows_per_sec"] = round(WIN_ROWS / out["win_sec"], 1)
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cpus", type=int, default=0,
                    help="run ONE width and print JSON (child mode)")
    args = ap.parse_args()

    if args.cpus:
        print(json.dumps(run_once(args.cpus)))
        return

    lo, hi = (scaling.child(__file__, c) for c in scaling.WIDTHS)
    # wall times are inverse rates: (hi, lo) order
    effs = {
        shape: scaling.efficiency(hi[f"{shape}_sec"], lo[f"{shape}_sec"])
        for shape in ("agg", "win")
    }
    # determinism cross-check: the same survivors must count at both widths
    consistent = all(
        lo[f"{s}_survivors"] == hi[f"{s}_survivors"] for s in ("agg", "win")
    )
    n, m = scaling.WIDTHS
    report = {
        "metric": f"host_shuffle_envelope_local{n}_vs_local{m}",
        "agg_efficiency": effs["agg"],
        "win_efficiency": effs["win"],
        "agg_sec": {n: lo["agg_sec"], m: hi["agg_sec"]},
        "win_sec": {n: lo["win_sec"], m: hi["win_sec"]},
        "consistent": consistent,
        "agg_rows": AGG_ROWS,
        "win_rows": WIN_ROWS,
    }
    scaling.append_baseline(f"Host shuffle envelope (local[{n}] vs local[{m}])", [
        "- pure-JVM probe (tools/shuffle_envelope.py): no Python workers, no IO —\n"
        "  just exchange + hash-agg / sort-window over spark.range\n",
        f"- hash-aggregate ({AGG_ROWS} rows, {AGG_KEYS} keys): "
        f"{lo['agg_sec']} s vs {hi['agg_sec']} s -> efficiency **{effs['agg']}**\n",
        f"- sort-window ({WIN_ROWS} rows, {WIN_KEYS} keys): "
        f"{lo['win_sec']} s vs {hi['win_sec']} s -> efficiency **{effs['win']}**\n",
        f"- survivors identical at both widths = {consistent}\n",
        "- READING: this is the HOST's ceiling for pure shuffle work. An isolated\n"
        "  operator matching this band (dedup/LSH ~0.55-0.66) is at the envelope;\n"
        "  only ratios clearly below it indicate an operator defect.\n",
    ])
    print(json.dumps(report))


if __name__ == "__main__":
    main()
