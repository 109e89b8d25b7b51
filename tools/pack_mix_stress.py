#!/usr/bin/env python
"""Scale stress for sequence packing and mixture sampling (r7, VERDICT
r6 item 6): both operators have documented cardinality contracts
(`packing.py` module docstring) that had never been load-tested.

- pack_bins: 6.4M (doc_id, lang, n_tok) rows with a ZIPFIAN lang key
  (top language ~25% of rows, harmonic tail — the web-crawl shape the
  contract warns about) on the sharded path (shards=64, the documented
  mitigation), plus the global path on the same data as the documented
  straggler baseline.
- mixture_sample: same corpus, 10 domains with SKEWED target weights so
  upweighted domains hit rate > 1 and the max_epochs=4 epoch
  replication (the range-unnest path) actually fires.

Usage:
    python tools/pack_mix_stress.py --rows 6400000 --cpus 8
    python tools/pack_mix_stress.py --scaling    # local[2] vs local[8]
    python tools/pack_mix_stress.py --linearity  # 1.6M vs 6.4M rows

--scaling / --linearity append a section to BENCH/BASELINE.md in the
existing stress format. Run nothing else Spark-side while timing.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import scaling

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# ~Zipf over 30 langs: lang_k gets weight 1/(k+1); top lang ~55% after
# the squash below. Deterministic from doc_id via md5 in DuckDB.
N_LANGS = 30


def ensure_rows(n: int, n_shards: int = 64) -> str:
    import duckdb

    path = f"/tmp/spark_graft_bench/packmix_n{n}"
    if os.path.exists(os.path.join(path, "_done")):
        return path
    # Zipf CDF over N_LANGS ranks; u in [0,1) from md5 -> rank via the
    # inverse CDF (harmonic weights). n_tok in [50, 1000).
    hn = sum(1.0 / (k + 1) for k in range(N_LANGS))
    cdf = []
    acc = 0.0
    for k in range(N_LANGS):
        acc += (1.0 / (k + 1)) / hn
        cdf.append(acc)
    case = "CASE " + " ".join(
        f"WHEN u < {cdf[k]} THEN 'lang{k:02d}'" for k in range(N_LANGS - 1)
    ) + f" ELSE 'lang{N_LANGS - 1:02d}' END"
    tbl = duckdb.sql(
        f"""
        SELECT i AS doc_id,
               {case} AS lang,
               50 + (hash(i * 7 + 3) % 950) AS n_tok
        FROM (
            SELECT unnest(range({n})) AS i,
                   (hash(unnest(range({n}))) % 1000000) / 1000000.0 AS u
        )
        ORDER BY doc_id
        """
    ).arrow()
    scaling.write_shards(tbl, path, n_shards)
    return path


def run_once(cpus: int, rows: int) -> dict:
    from pyspark.sql import functions as F

    from stop_sync_osm_atlas_spark.operators.packing import pack_bins
    from stop_sync_osm_atlas_spark.operators.sampling import mixture_sample
    from stop_sync_osm_atlas_spark.session import get_spark

    path = ensure_rows(rows)
    spark = get_spark(master=f"local[{cpus}]")
    docs = spark.read.parquet(path)
    n_in = docs.count()
    out: dict = {"cpus": cpus, "rows": n_in}

    # warm-up at 1% (codegen + AQE machinery), matching bench methodology
    warm = docs.where(F.col("doc_id") % 100 == 0)
    pack_bins(warm, F.col("n_tok"), budget=4096, shards=64).count()

    # sharded pack (the documented Zipf mitigation)
    spark.sparkContext.setJobDescription(f"pack_sharded n={n_in}")
    t0 = time.time()
    n_bins = pack_bins(docs, F.col("n_tok"), budget=4096, shards=64).count()
    out["pack_sharded_sec"] = round(time.time() - t0, 2)
    out["pack_sharded_bins"] = n_bins
    # global pack on the same Zipf key: the contract's straggler
    # baseline (top lang = one window task) — recorded to quantify what
    # the sharded path buys
    spark.sparkContext.setJobDescription(f"pack_global n={n_in}")
    t0 = time.time()
    pack_bins(docs, F.col("n_tok"), budget=4096).count()
    out["pack_global_sec"] = round(time.time() - t0, 2)

    # mixture with replication: domains hold ~10% of tokens each but the
    # target weights are skewed, so d8/d9 need rates 2.5/3.5 — epoch
    # replication (bounded by max_epochs=4) fires on ~20% of the corpus
    # while d0-d7 down-sample at 0.5
    dom = F.concat(F.lit("d"), (F.col("doc_id") % 10).cast("string"))
    md = docs.withColumn("dom", dom)
    weights = {f"d{k}": 0.05 for k in range(8)}
    weights["d8"] = 0.25
    weights["d9"] = 0.35
    total_tok = [r[0] for r in docs.agg(F.sum("n_tok")).collect()][0]
    spark.sparkContext.setJobDescription(f"mixture n={n_in}")
    t0 = time.time()
    n_emit = mixture_sample(
        md,
        weights,
        budget_tokens=float(total_tok),
        token_col=F.col("n_tok"),
        key_col="dom",
        max_epochs=4.0,
    ).count()
    out["mixture_sec"] = round(time.time() - t0, 2)
    out["mixture_rows_out"] = n_emit
    out["docs_per_sec_pack"] = round(n_in / out["pack_sharded_sec"], 1)
    out["docs_per_sec_mix"] = round(n_in / out["mixture_sec"], 1)
    spark.sparkContext.setJobDescription(None)
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cpus", type=int, default=8)
    ap.add_argument("--rows", type=int, default=6_400_000)
    ap.add_argument("--scaling", action="store_true")
    ap.add_argument("--linearity", action="store_true")
    args = ap.parse_args()

    if args.scaling:
        lo, hi = (scaling.child(__file__, c, "--rows", str(args.rows))
                  for c in scaling.WIDTHS)
        eff_pack = scaling.efficiency(lo["docs_per_sec_pack"], hi["docs_per_sec_pack"])
        eff_mix = scaling.efficiency(lo["docs_per_sec_mix"], hi["docs_per_sec_mix"])
        scaling.append_baseline("Pack/mixture scale stress", [
            f"- input: {lo['rows']} (doc_id, lang, n_tok) rows, Zipfian lang"
            f" over {N_LANGS} langs (top lang ~23%)\n",
            f"- pack_bins sharded(64): local[2] {lo['pack_sharded_sec']} s,"
            f" local[8] {hi['pack_sharded_sec']} s -> N-vs-4N efficiency"
            f" **{eff_pack}**\n",
            f"- pack_bins GLOBAL (contract straggler baseline): local[2]"
            f" {lo['pack_global_sec']} s, local[8] {hi['pack_global_sec']} s"
            f" (gain bounded by the one-task top-lang window)\n",
            f"- mixture_sample (10 domains, max_epochs=4,"
            f" {hi['mixture_rows_out']} rows out): local[2]"
            f" {lo['mixture_sec']} s, local[8] {hi['mixture_sec']} s ->"
            f" efficiency **{eff_mix}**\n",
        ])
        print(json.dumps({
            "metric": "pack_mix_scaling_local2_vs_local8",
            "pack_sharded_eff": eff_pack,
            "mixture_eff": eff_mix,
            "lo": lo, "hi": hi,
        }))
        return

    if args.linearity:
        small, big = (scaling.child(__file__, 8, "--rows", str(n))
                      for n in (args.rows // 4, args.rows))
        ratio_pack = (
            big["pack_sharded_sec"] / small["pack_sharded_sec"]
        ) / (big["rows"] / small["rows"])
        ratio_mix = (
            big["mixture_sec"] / small["mixture_sec"]
        ) / (big["rows"] / small["rows"])
        scaling.append_baseline("Pack/mixture data-size linearity", [
            f"- local[8], {small['rows']} vs {big['rows']} rows\n",
            f"- pack_bins sharded(64): {small['pack_sharded_sec']} ->"
            f" {big['pack_sharded_sec']} s; per-row time ratio"
            f" **{round(ratio_pack, 3)}** (1.0 = linear)\n",
            f"- mixture_sample: {small['mixture_sec']} ->"
            f" {big['mixture_sec']} s; per-row time ratio"
            f" **{round(ratio_mix, 3)}**\n",
        ])
        print(json.dumps({
            "metric": "pack_mix_linearity_4x",
            "pack_ratio": round(ratio_pack, 3),
            "mix_ratio": round(ratio_mix, 3),
            "small": small, "big": big,
        }))
        return

    print(json.dumps(run_once(args.cpus, args.rows)))


if __name__ == "__main__":
    main()
