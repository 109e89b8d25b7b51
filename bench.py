#!/usr/bin/env python
"""Benchmark driver.

Default mode: runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] plus the flagship
keep-drop-scrub pipeline on a generated pairs table, and prints ONE
JSON line: {"metric", "value", "unit": "sec", "queries": {...}, "sf",
"images_per_sec", ...}.

--scaling: runs the SAME pipeline job at local[8] and local[32] in
fresh subprocess JVMs on identical input and reports throughput at both
plus scaling efficiency (the in-sandbox evidence for the north_rule's
N-vs-4N-executor criterion), appending results to BENCH/BASELINE.md.

--pipeline-only --pairs <path>: internal child mode for --scaling.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from tools import scaling  # noqa: E402

PAIRS_N = int(os.environ.get("SPARK_GRAFT_BENCH_PAIRS", "200000"))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
ND_KW = {"hot_threshold": 4096}


GEN_BASE_MAX = 200_000  # python generator rows; larger inputs tile this
SCALING_DIMS = (128, 160)  # production-weight decode for the scaling run

# Host-mode canaries: two pure-JVM queries whose plans have been frozen
# since round 4, pinned at their round-4 best-of-3 walls. canary_ratio
# = mean(best-of-3 / pinned) — ~1.0-1.3 is this host's normal band
# (BENCH/BASELINE.md "Why best-of-3"); a whole-bench inflation with a
# FLAT canary_ratio is code/scope, a matching canary inflation is host
# drift. Re-pin whenever a canary's own plan legitimately changes.
CANARY_PINNED = {"q01_pricing_summary": 0.273, "q32_hourly_rollup": 0.261}


def ensure_pairs(n: int, dims: tuple[int, ...] = (32, 64)) -> str:
    """Generate (once) the deterministic pairs table; excluded from timing.

    Inputs beyond GEN_BASE_MAX are produced by tiling a generated base:
    each tile gets unique image_ids and its phash XOR'd (above the
    bucket window) with a seeded 40-bit tile key — pairwise key Hamming
    ~20 keeps planted clusters strictly within tiles while preserving
    every per-tile cluster/hot-bucket structure.
    """
    import numpy as np

    dtag = "x".join(map(str, dims))
    # c4 = codec generation tag: bump whenever encode_image's byte
    # layout changes so cached /tmp fixtures regenerate (r5: real-PNG
    # streams for <=1024-px png rows; r6: real baseline-JFIF streams
    # for <=1024-px jpeg rows on the 1-in-8 seed stride)
    path = f"/tmp/spark_graft_bench/pairs_n{n}_d{dtag}_c4"
    marker = os.path.join(path, "_done")
    if os.path.exists(marker):
        return os.path.join(path, "pairs.parquet")
    from stop_sync_osm_atlas_spark.fixtures.generator import generate, write_fixture

    os.makedirs(path, exist_ok=True)
    if n <= GEN_BASE_MAX:
        fx = generate(n, dims=dims)
        paths = write_fixture(fx, path, n_shards=64)
    else:
        base_n = GEN_BASE_MAX
        tiles = (n + base_n - 1) // base_n
        fx = generate(base_n, dims=dims)
        rng = np.random.default_rng(4242)
        keys = rng.integers(0, 1 << 40, size=tiles, dtype=np.uint64)
        keys[0] = 0
        parts = []
        for t in range(tiles):
            pdf = fx.pairs.copy()
            pdf["image_id"] = f"t{t:02d}:" + pdf["image_id"]
            ph = pdf["phash"].to_numpy().astype(np.uint64)
            pdf["phash"] = (ph ^ (keys[t] << np.uint64(20))).astype(np.int64)
            parts.append(pdf)
        import pandas as pd

        fx.pairs = pd.concat(parts, ignore_index=True).iloc[:n].reset_index(drop=True)
        paths = write_fixture(fx, path, n_shards=64)
    with open(marker, "w") as fh:
        fh.write("ok")
    return paths["pairs"]


def run_pipeline(spark, pairs_path: str, out_dir: str) -> int:
    """The flagship job: full cascade + decisions write. Returns rows."""
    from stop_sync_osm_atlas_spark.operators.cascade import run_cascade
    from stop_sync_osm_atlas_spark.schemas import PAIRS_SCHEMA

    pairs = spark.read.schema(PAIRS_SCHEMA).parquet(pairs_path)
    dec = run_cascade(pairs, neardup_kwargs=ND_KW)
    dec.write.mode("overwrite").parquet(out_dir)
    return spark.read.parquet(out_dir).count()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scaling", action="store_true")
    ap.add_argument("--pipeline-only", action="store_true")
    ap.add_argument("--pairs", default=None)
    ap.add_argument("--cpus", type=int, default=None)
    args = ap.parse_args()

    cpus = args.cpus or CPUS

    if args.pipeline_only:
        from stop_sync_osm_atlas_spark.session import get_spark

        spark = get_spark(master=f"local[{cpus}]")
        pairs_path = args.pairs or ensure_pairs(PAIRS_N)
        # steady-state methodology: run 1 warms everything at full scale
        # (codegen compile, Python daemon forks, AQE stats, page cache,
        # JIT C2 tiers); the reported throughput is the BEST of the next
        # 3 runs (timeit-style — interference only ever adds time). A
        # single post-warm run is not reliable on this host: measured
        # same-JVM distribution 26.0 (cold), 11.6, 10.7, 11.0, 10.5,
        # 10.2 — occasionally the first post-warm run still lands 2x
        # high while JIT/daemon warm-up completes.
        t0 = time.time()
        n = run_pipeline(spark, pairs_path, f"/tmp/spark_graft_bench/out_{cpus}")
        run1 = time.time() - t0
        # Short runs get best-of-3 (the bimodal warm-up tail is a
        # material fraction of a ~11 s run); for long runs (>120 s, e.g.
        # the 1.6M-row --scaling children) the tail is <2% of runtime
        # and one timed run is both stable and 3x cheaper.
        n_timed = 1 if run1 > 120 else 3
        steady = []
        for _ in range(n_timed):
            t0 = time.time()
            n = run_pipeline(spark, pairs_path, f"/tmp/spark_graft_bench/out_{cpus}")
            steady.append(time.time() - t0)
        best = min(steady)
        print(json.dumps({"pipeline_sec": best, "pipeline_sec_cold": run1,
                          "pipeline_sec_runs": [round(s, 3) for s in steady],
                          "rows": n, "cpus": cpus}))
        return

    if args.scaling:
        widths = tuple(
            int(x) for x in os.environ.get("SPARK_GRAFT_SCALING_CPUS", "8,32").split(",")
        )
        # exactly two ASCENDING widths: descending input would silently
        # publish an INVERTED efficiency into BENCH/BASELINE.md as
        # north-rule evidence; wrong length crashed after the (long)
        # fixture build
        if len(widths) != 2 or widths[0] >= widths[1]:
            raise SystemExit(
                "SPARK_GRAFT_SCALING_CPUS must be two ascending widths, "
                f"e.g. '2,8' (got {widths!r})"
            )
        n_lo, n_hi = widths
        pairs_path = ensure_pairs(PAIRS_N, dims=SCALING_DIMS)
        results = {}
        for c in widths:
            env = dict(os.environ)
            out = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--pipeline-only",
                 "--pairs", pairs_path, "--cpus", str(c)],
                capture_output=True, text=True, env=env, check=True,
            )
            line = [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
            results[c] = json.loads(line)
        n = results[n_lo]["rows"]
        thr_lo = n / results[n_lo]["pipeline_sec"]
        thr_hi = n / results[n_hi]["pipeline_sec"]
        eff = (thr_hi / thr_lo) / (n_hi / n_lo)
        report = {
            "metric": f"scaling_efficiency_local{n_lo}_vs_local{n_hi}",
            "value": round(eff, 4),
            "unit": "ratio",
            "rows": n,
            f"images_per_sec_local{n_lo}": round(thr_lo, 1),
            f"images_per_sec_local{n_hi}": round(thr_hi, 1),
            f"pipeline_sec_local{n_lo}": round(results[n_lo]["pipeline_sec"], 2),
            f"pipeline_sec_local{n_hi}": round(results[n_hi]["pipeline_sec"], 2),
            f"cold_sec_local{n_lo}": round(results[n_lo].get("pipeline_sec_cold", 0), 2),
            f"cold_sec_local{n_hi}": round(results[n_hi].get("pipeline_sec_cold", 0), 2),
            "widths": list(widths),
        }
        scaling.append_baseline("Scaling run", [
            f"- input rows: {n} (deterministic pairs fixture, seed 42)\n",
            f"- local[{n_lo}]: {report[f'pipeline_sec_local{n_lo}']} s -> "
            f"{report[f'images_per_sec_local{n_lo}']} images/sec\n",
            f"- local[{n_hi}]: {report[f'pipeline_sec_local{n_hi}']} s -> "
            f"{report[f'images_per_sec_local{n_hi}']} images/sec\n",
            f"- scaling efficiency (N vs 4N cores): **{report['value']}** (target >= 0.8)\n",
            "- methodology: steady-state (per-child warm-up pipeline run), "
            f"production-weight image dims {SCALING_DIMS} so decode dominates "
            "compute as in a real corpus\n",
        ], widths=widths)
        print(json.dumps(report))
        return

    # ---- default mode -----------------------------------------------------
    import __spark_entry__ as entry

    from stop_sync_osm_atlas_spark.session import get_spark

    spark = get_spark(master=f"local[{cpus}]")
    spark.range(1000).count()

    timings: dict[str, float] = {}

    def _log(msg: str) -> None:
        print(f"[bench] {msg}", file=sys.stderr, flush=True)

    _log("generating pairs fixture")
    pairs_path = ensure_pairs(PAIRS_N)
    # Engine warm-up on a TINY input (1% of the bench rows): compiles the
    # pipeline's codegen stages and forks the Python/Arrow workers once,
    # exactly like the --scaling children's warm-up run. A long-lived
    # cluster amortizes these one-time costs across hours; timing them
    # into a 200k-row sandbox run would measure JVM/fork latency, not
    # the engine. The cold wall time is still reported (qf_pipeline_cold
    # = warm-up + timed run, an upper bound on the true cold run).
    _log("warming qf_pipeline (tiny input)")
    warm_path = ensure_pairs(2048)
    t0 = time.time()
    run_pipeline(spark, warm_path, "/tmp/spark_graft_bench/out_warm")
    warm_sec = round(time.time() - t0, 3)
    # Best of 3 timed runs (timeit-style): a single post-warm run on
    # this host is bimodal (JIT/daemon warm-up tails, hypervisor
    # scheduling-latency modes) and interference only ever adds time;
    # the minimum is stable at ~10.2-11.6 s. The first timed run still
    # feeds the cold-including-warmup bound.
    qf_runs = []
    for i in range(3):
        _log(f"running qf_pipeline (timed run {i + 1}/3)")
        t0 = time.time()
        n_rows = run_pipeline(spark, pairs_path, "/tmp/spark_graft_bench/out_default")
        qf_runs.append(round(time.time() - t0, 3))
    timings["qf_pipeline"] = min(qf_runs)
    qf_cold = round(warm_sec + qf_runs[0], 3)
    images_per_sec = round(n_rows / timings["qf_pipeline"], 1)

    headline = [
        "q01_pricing_summary", "q02_corpus_prep", "q03_join_revenue",
        "q07_ratio_test",
        "q14_cascade_resolution", "q19_sessionize", "q20_doc_stats",
        "q23_quality_cascade", "q24_neardup", "q25_ngram_jaccard",
        "q26_minhash_lsh", "q28_scrub_fingerprint", "q30_ann_methods",
        "q32_hourly_rollup",
        "q44_banded_cosine_pairs", "q45_hash_sample", "q46_strict_merge",
        "q48_model_cascade", "q50_sequence_pack",
        "q52_tfidf_keywords", "q53_stream_dedup", "q54_neardup_bands",
    ]
    qs = entry.queries()
    # timeit-style best-of-3, round-robin: host interference (hypervisor
    # scheduling-latency modes measured to inflate identical Spark runs
    # 1.5-2x while raw 32-way CPU microbenchmarks stay flat — see
    # BENCH/BASELINE.md "Why best-of-3") only ever ADDS time, so the
    # minimum is the engine's real cost. Round-robin sweeps keep every
    # query's 3 samples spread across host modes. Sweep 1 is mandatory
    # (every query gets a sample); later sweeps are skipped past a soft
    # wall-clock budget so a slow host mode can't run the bench long.
    bench_start = time.time()
    for rnd in range(3):
        if rnd > 0 and time.time() - bench_start > 240:
            _log(f"skipping sweep {rnd + 1} (past 240s soft budget)")
            break
        for name in headline:
            _log(f"running {name} (sweep {rnd + 1}/3)")
            t0 = time.time()
            df = qs[name](spark, SF_DIR)
            # count() materializes the whole plan without driver collect
            df.count()
            dt = round(time.time() - t0, 3)
            if name not in timings or dt < timings[name]:
                timings[name] = dt

    # Extra (non-headline) metric: the composed documents-side corpus
    # pipeline (clean -> dedup -> LSH near-dedup -> fused model ladder
    # -> pack), one warm + one timed run. Never allowed to break the
    # bench line.
    corpus_prep_sec = None
    try:
        from stop_sync_osm_atlas_spark.plans.corpus import prepare_corpus

        docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
        for i in range(2):
            t0 = time.time()
            dec, bins = prepare_corpus(docs)
            try:
                bins.count()
                wall = round(time.time() - t0, 3)
            finally:
                # unpersist even when the timed run throws (the persisted
                # decisions frame would otherwise leak for the session)
                dec.unpersist()
            if i == 1:
                # record ONLY the steady (second) run: assigning inside
                # the loop let a crash in run 2 publish run 1's cold
                # wall as the metric while stderr claimed it was skipped
                corpus_prep_sec = wall
    except Exception as exc:  # pragma: no cover - defensive
        _log(f"corpus_prep skipped: {exc}")

    total = round(sum(timings.values()), 3)
    canary_ratio = round(
        sum(timings[q] / v for q, v in CANARY_PINNED.items() if q in timings)
        / max(sum(q in timings for q in CANARY_PINNED), 1),
        3,
    )
    print(
        json.dumps(
            {
                "metric": "total_bench_sec",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": SF_DIR,
                "cpus": cpus,
                "pairs_rows": n_rows,
                "images_per_sec": images_per_sec,
                "qf_pipeline_cold_incl_warmup": qf_cold,
                "qf_pipeline_runs": qf_runs,
                "corpus_prep_sec": corpus_prep_sec,
                # host-mode classifier (see CANARY_PINNED): compare
                # rounds at similar ratios; a slow session shows here
                "canary_ratio": canary_ratio,
            }
        )
    )


if __name__ == "__main__":
    main()
