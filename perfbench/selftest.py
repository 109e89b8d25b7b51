#!/usr/bin/env python3
"""Self-test of the benchmark harness at toy size (~4 minutes, 4 cores).

    python3 perfbench/selftest.py

Checks, and exits non-zero on the first failure:

1. the tiled oracle answer equals ``run_oracle`` on the whole tiled
   table (the argument in ``inputs.py``);
2. every workload, traced, runs through its output checks with no
   failed iteration and yields every metric ``BENCHMARK.json`` names.

Nothing is written outside ``perfbench/.cache``, ``.out`` and ``.work``.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

import run  # noqa: E402

TOY = {
    "images_full": {"base_rows": 300, "tiles": 3, "shards": 4},
    "images_resume": {"base_rows": 300, "tiles": 3, "shards": 4},
    "corpus_prep": {"docs": 400},
    "caption_stream": {"base_rows": 300, "tiles": 3, "shards": 4},
}
SEED = 11


def check_tiled_oracle() -> None:
    from inputs import ND_KW, ORACLE_COLS, STREAM_CFG, PairsInput, tile_overrides, tile_pairs
    from stop_sync_osm_atlas_spark.fixtures.generator import generate
    from stop_sync_osm_atlas_spark.oracle.oracle import run_oracle

    cfg = TOY["images_full"]
    inp = PairsInput(run.CACHE, SEED, cfg["base_rows"], cfg["tiles"], cfg["shards"])
    fx = generate(cfg["base_rows"], seed=SEED)
    pairs = tile_pairs(fx.pairs, cfg["tiles"])
    overrides = tile_overrides(fx.overrides, cfg["tiles"])
    for kind, want, cols in (
        ("batch", run_oracle(pairs, overrides, neardup_kwargs=ND_KW), ORACLE_COLS),
        ("stream", run_oracle(pairs, None, cfg=STREAM_CFG, use_decode=False), ["decision"]),
    ):
        got = inp.oracle(kind).sort_values("image_id").reset_index(drop=True)
        want = want.sort_values("image_id").reset_index(drop=True)
        for col in ["image_id"] + cols:
            if not got[col].fillna("~").astype(str).equals(want[col].fillna("~").astype(str)):
                raise SystemExit(f"selftest: tiled {kind} oracle differs in {col}")
    print("selftest: tiled oracle == whole-table oracle", flush=True)


def check_workloads() -> None:
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    for name in TOY:
        res = run.run_worker(name, SEED, 0, 1, TOY, f"selftest_{name}")
        if res["failed"]:
            raise SystemExit(f"selftest: {name} failed its checks: {res['problems']}")
        values = run.end_to_end(res) | run.per_layer(res)
        missing = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]
                   if m["name"] not in values]
        if missing:
            raise SystemExit(f"selftest: {name} did not measure {missing}")
        print(f"selftest: {name} ok ({res['attempted']} iterations checked)", flush=True)


if __name__ == "__main__":
    check_tiled_oracle()
    check_workloads()
    print("selftest: passed")
