#!/usr/bin/env python
"""Documents-side scale stress: prepare_corpus on a 20x-tiled corpus.

The graded fixture tops out at 5,000 documents (sf0.1); this tool
builds a 100k-doc corpus by tiling it 20x — each tile's text gets a
tile-unique leading token, so tiles are NOT exact duplicates but are
MinHash near-duplicates of each other (est_jaccard ~0.95+), which is
exactly the dup-heavy structure of a real web crawl. The pipeline must
(a) survive the ~20x candidate-pair amplification in the LSH stage,
(b) train its models on the ~20x survivor set, and (c) conserve every
input doc exactly once in `decisions`.

Usage:
    python tools/corpus_stress.py [--cpus 8] [--tiles 20]
    python tools/corpus_stress.py --scaling     # local[2] vs local[8]

Prints one JSON line per run; --scaling appends a section to
BENCH/BASELINE.md. Run nothing else Spark-side while timing.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def ensure_corpus(tiles: int, n_shards: int = 32) -> str:
    import duckdb
    import pyarrow.parquet as pq

    # cache key includes the SOURCE fixture (dir + parquet mtime): a
    # tiles-only key silently reused a corpus tiled from a DIFFERENT
    # SF_DIR, attributing every timing in the appended evidence log to
    # the wrong fixture
    import hashlib

    src = os.path.join(SF_DIR, "documents.parquet")
    src_key = hashlib.md5(
        f"{SF_DIR}:{os.path.getmtime(src)}".encode()
    ).hexdigest()[:10]
    path = f"/tmp/spark_graft_bench/docs_x{tiles}_{src_key}"
    marker = os.path.join(path, "_done")
    if os.path.exists(marker):
        return path
    os.makedirs(path, exist_ok=True)
    # deterministic tiling in DuckDB (no Spark session needed): unique
    # doc_id per tile + a tile-unique leading token. Written as MANY
    # files — a single file under the session's 16 MB split size would
    # give every scan stage one partition and measure input layout, not
    # the pipeline.
    tbl = duckdb.sql(
        f"""
        SELECT d.doc_id + t.t * 1000000 AS doc_id,
               'tile' || CAST(t.t AS VARCHAR) || ' ' || d.text AS text,
               d.lang
        FROM read_parquet('{SF_DIR}/documents.parquet') d,
             (SELECT unnest(range({tiles})) AS t) t
        ORDER BY doc_id
        """
    ).arrow()
    n = tbl.num_rows
    step = (n + n_shards - 1) // n_shards
    for s in range(n_shards):
        chunk = tbl.slice(s * step, step)
        if chunk.num_rows:
            pq.write_table(chunk, os.path.join(path, f"part-{s:03d}.parquet"))
    with open(marker, "w") as fh:
        fh.write("ok")
    return path


def ensure_skewed_corpus(tiles: int, family: int, n_shards: int = 32) -> str:
    """Tiled corpus + a planted VIRAL FAMILY: ``family`` docs with
    byte-identical text (distinct doc_ids). Identical text -> identical
    minhash signature -> every one of the 4 LSH band keys is a hot key
    of size ``family`` — the 100 TB failure mode minhash_lsh_pairs'
    salt-stripe guard exists for (a near-identical template family that
    exact dedup upstream cannot assume removed at the operator level).
    The 20x-tiled background keeps band keys otherwise small (tiles
    differ in their leading token)."""
    import hashlib

    import duckdb
    import pyarrow.parquet as pq

    src = os.path.join(SF_DIR, "documents.parquet")
    src_key = hashlib.md5(
        f"{SF_DIR}:{os.path.getmtime(src)}:skew{family}".encode()
    ).hexdigest()[:10]
    path = f"/tmp/spark_graft_bench/docs_skew_x{tiles}_f{family}_{src_key}"
    marker = os.path.join(path, "_done")
    if os.path.exists(marker):
        return path
    os.makedirs(path, exist_ok=True)
    tbl = duckdb.sql(
        f"""
        SELECT d.doc_id + t.t * 1000000 AS doc_id,
               'tile' || CAST(t.t AS VARCHAR) || ' ' || d.text AS text,
               d.lang
        FROM read_parquet('{SF_DIR}/documents.parquet') d,
             (SELECT unnest(range({tiles})) AS t) t
        UNION ALL
        SELECT 90000000 + f.f AS doc_id,
               'viral boilerplate template shared verbatim across the '
               || 'whole crawl with enough words that every three gram '
               || 'window stays stable and the sixteen minhash values '
               || 'agree exactly for each copy of this document' AS text,
               'en' AS lang
        FROM (SELECT unnest(range({family})) AS f) f
        ORDER BY doc_id
        """
    ).arrow()
    n = tbl.num_rows
    step = (n + n_shards - 1) // n_shards
    for s in range(n_shards):
        chunk = tbl.slice(s * step, step)
        if chunk.num_rows:
            pq.write_table(chunk, os.path.join(path, f"part-{s:03d}.parquet"))
    with open(marker, "w") as fh:
        fh.write("ok")
    return path


def run_skewed(cpus: int, tiles: int, family: int) -> dict:
    """Guarded-vs-unguarded A/B of minhash_lsh_pairs on the planted
    hot-band corpus (one session, warm canary first): the guard must
    produce the IDENTICAL pair count while bounding per-task candidate
    enumeration (unguarded funnels all C(family,2) family pairs of a
    band through one task)."""
    from pyspark.sql import functions as F

    from stop_sync_osm_atlas_spark.operators import dedup
    from stop_sync_osm_atlas_spark.session import get_spark

    path = ensure_skewed_corpus(tiles, family)
    spark = get_spark(master=f"local[{cpus}]")
    docs = spark.read.parquet(path)
    n_docs = docs.count()
    out: dict = {"cpus": cpus, "tiles": tiles, "family": family,
                 "docs_in": n_docs}
    # warm the session (codegen + Python forks) on the unplanted slice
    dedup.minhash_lsh_pairs(docs.where(F.col("doc_id") < 5000)).count()
    guarded_rows = dedup.LSH_SALT_ROWS
    for label, salt_rows in (("guarded", guarded_rows), ("unguarded", 10**9)):
        spark.sparkContext.setJobDescription(f"lsh_skew_{label}")
        dedup.LSH_SALT_ROWS = salt_rows
        try:
            t0 = time.time()
            n_pairs = dedup.minhash_lsh_pairs(docs).count()
        finally:
            dedup.LSH_SALT_ROWS = guarded_rows
        out[f"wall_{label}"] = round(time.time() - t0, 2)
        out[f"pairs_{label}"] = n_pairs
        spark.sparkContext.setJobDescription(None)
    out["pairs_match"] = out["pairs_guarded"] == out["pairs_unguarded"]
    return out


def run_once(cpus: int, tiles: int) -> dict:
    from pyspark.sql import functions as F

    from stop_sync_osm_atlas_spark.plans.corpus import prepare_corpus
    from stop_sync_osm_atlas_spark.session import get_spark

    path = ensure_corpus(tiles)
    spark = get_spark(master=f"local[{cpus}]")
    docs = spark.read.parquet(path)
    n_in = docs.count()

    # warm-up on the plain fixture (codegen + Python workers), then time
    dec_w, bins_w = prepare_corpus(
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
    )
    bins_w.count()
    dec_w.unpersist()

    t0 = time.time()
    decisions, bins = prepare_corpus(docs)
    n_bins = bins.count()
    wall = time.time() - t0

    by = {
        r["reason"]: r["n"]
        for r in decisions.groupBy("reason").agg(F.count("*").alias("n")).collect()
    }
    n_out = decisions.count()
    decisions.unpersist()
    return {
        "cpus": cpus,
        "tiles": tiles,
        "docs_in": n_in,
        "docs_out": n_out,
        "conserved": n_in == n_out,
        "wall_sec": round(wall, 2),
        "docs_per_sec": round(n_in / wall, 1),
        "n_bins": n_bins,
        "reasons": by,
    }


def run_substr(cpus: int, tiles: int, include_text: bool = True) -> dict:
    """Scale probe for operators/dedup.substring_duplication (r5): the
    tiled corpus is the worst realistic shape — nearly every 8-gram of
    every doc recurs in all other tiles, so the distinct (h, id) build
    and the coverage join both run at full duplication density.

    ``include_text=False`` probes the STATS-ONLY shape (the
    default): the r6 slim-token path where the checkpoint/flag-join/
    coverage rows carry (id, pos, h) and no token strings."""
    from pyspark.sql import functions as F

    from stop_sync_osm_atlas_spark.operators.dedup import (
        substring_duplication,
    )
    from stop_sync_osm_atlas_spark.session import get_spark

    path = ensure_corpus(tiles)
    spark = get_spark(master=f"local[{cpus}]")
    docs = spark.read.parquet(path)
    n_in = docs.count()
    # warm-up (codegen + Python-free, but shuffle/window machinery) on
    # the plain fixture
    substring_duplication(
        spark.read.parquet(f"{SF_DIR}/documents.parquet"),
        k=8,
        include_dedup_text=include_text,
    ).agg(F.sum("n_dup_grams")).collect()

    aggs = [
        F.count("*").alias("n"),
        F.sum("n_dup_grams").alias("dup_grams"),
        F.round(F.avg("dup_span_frac"), 4).alias("avg_frac"),
    ]
    if include_text:
        aggs.append(F.sum(F.length("text_dedup")).alias("dedup_chars"))
    t0 = time.time()
    row = (
        substring_duplication(docs, k=8, include_dedup_text=include_text)
        .agg(*aggs)
        .collect()[0]
    )
    wall = time.time() - t0
    out = {
        "cpus": cpus,
        "tiles": tiles,
        "mode": "text" if include_text else "stats_only",
        "docs_in": n_in,
        "docs_out": row["n"],
        "conserved": row["n"] == n_in,
        "wall_sec": round(wall, 2),
        "docs_per_sec": round(n_in / wall, 1),
        "dup_grams": int(row["dup_grams"]),
        "avg_dup_span_frac": float(row["avg_frac"]),
    }
    if include_text:
        out["dedup_chars"] = int(row["dedup_chars"])
    return out


def run_phases(cpus: int, tiles: int) -> dict:
    """Stage-level wall times for the efficiency-gap attribution (r5):
    which prepare_corpus stage loses parallel time at low widths?
    Mirrors the pipeline's composition, materializing each stage
    boundary once (the extra materializations make the SUM exceed the
    fused pipeline's wall — only the per-stage local[2]/local[8] RATIOS
    are meaningful)."""
    from pyspark.sql import functions as F
    from pyspark.sql import Window as W

    from stop_sync_osm_atlas_spark.functions.training import train_models_fused
    from stop_sync_osm_atlas_spark.operators.dedup import minhash_lsh_pairs
    from stop_sync_osm_atlas_spark.operators.lines import clean_lines
    from stop_sync_osm_atlas_spark.plans.corpus import prepare_corpus
    from stop_sync_osm_atlas_spark.session import get_spark

    path = ensure_corpus(tiles)
    spark = get_spark(master=f"local[{cpus}]")
    docs = spark.read.parquet(path)
    # warm-up
    dec_w, bins_w = prepare_corpus(
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
    )
    bins_w.count()
    dec_w.unpersist()

    out: dict = {"cpus": cpus, "tiles": tiles}

    t0 = time.time()
    cleaned = clean_lines(docs, max_line_df=2, with_stats=True)
    base = docs.select("doc_id", "lang").join(cleaned, "doc_id")
    fp_w = W.partitionBy(F.md5(F.col("text_clean"))).orderBy("doc_id")
    base = base.withColumn("_fp_rk", F.row_number().over(fp_w)).persist()
    base.count()
    out["clean_fp_sec"] = round(time.time() - t0, 2)

    survivors = base.where(F.col("_fp_rk") == 1).select(
        "doc_id", F.col("text_clean").alias("text")
    )
    t0 = time.time()
    minhash_lsh_pairs(survivors).select("b_id").distinct().count()
    out["lsh_sec"] = round(time.time() - t0, 2)

    t0 = time.time()
    train_models_fused(
        base.where(F.col("_fp_rk") == 1).select(
            F.col("text_clean").alias("text"), "lang"
        )
    )
    out["train_sec"] = round(time.time() - t0, 2)
    base.unpersist()

    t0 = time.time()
    decisions, bins = prepare_corpus(docs)
    bins.count()
    out["full_sec"] = round(time.time() - t0, 2)
    decisions.unpersist()
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cpus", type=int, default=8)
    ap.add_argument("--tiles", type=int, default=20)
    ap.add_argument("--scaling", action="store_true")
    ap.add_argument("--phases", action="store_true")
    ap.add_argument("--substr", action="store_true")
    ap.add_argument(
        "--skewed",
        action="store_true",
        help="planted hot-band-key corpus: guarded vs unguarded "
        "minhash_lsh_pairs A/B (the r7 salt-stripe guard evidence)",
    )
    ap.add_argument("--family", type=int, default=10000)
    ap.add_argument(
        "--stats-only",
        action="store_true",
        help="--substr variant: include_dedup_text=False (the r6 "
        "slim-token stats-only path)",
    )
    args = ap.parse_args()

    if args.stats_only and not args.substr:
        ap.error("--stats-only only applies to --substr (it would "
                 "otherwise silently run the full pipeline stress)")

    if args.skewed:
        print(json.dumps(run_skewed(args.cpus, args.tiles, args.family)))
        return

    if args.substr and not args.scaling:
        print(
            json.dumps(
                run_substr(
                    args.cpus, args.tiles, include_text=not args.stats_only
                )
            )
        )
        return

    if args.substr:  # --substr --scaling: local[2] vs local[8]
        results = {}
        extra = ["--stats-only"] if args.stats_only else []
        for c in (2, 8):
            out = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--cpus", str(c),
                 "--tiles", str(args.tiles), "--substr", *extra],
                capture_output=True, text=True, check=True,
            )
            line = [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
            results[c] = json.loads(line)
        lo, hi = results[2], results[8]
        eff = (hi["docs_per_sec"] / lo["docs_per_sec"]) / 4.0
        report = {
            "metric": "substring_dedup_scaling_local2_vs_local8",
            "mode": lo.get("mode", "text"),
            "value": round(eff, 4),
            "docs": lo["docs_in"],
            "wall_local2": lo["wall_sec"],
            "wall_local8": hi["wall_sec"],
            "docs_per_sec_local2": lo["docs_per_sec"],
            "docs_per_sec_local8": hi["docs_per_sec"],
            "conserved": lo["conserved"] and hi["conserved"],
            "avg_dup_span_frac": hi["avg_dup_span_frac"],
        }
        md = os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "BENCH", "BASELINE.md",
        )
        stamp = time.strftime("%Y-%m-%d %H:%M:%S")
        with open(md, "a") as fh:
            fh.write(
                f"\n## Substring-dedup scale stress {stamp}\n"
                f"- input: {lo['docs_in']} docs ({args.tiles}x-tiled sf0.1 documents;\n"
                f"  full duplication density — nearly every 8-gram recurs in every tile)\n"
                f"- operator: substring_duplication(k=8, "
                f"include_dedup_text={not args.stats_only})\n"
                f"- local[2]: {lo['wall_sec']} s -> {lo['docs_per_sec']} docs/sec; "
                f"local[8]: {hi['wall_sec']} s -> {hi['docs_per_sec']} docs/sec\n"
                f"- scaling efficiency (N vs 4N cores): **{round(eff, 4)}**\n"
                f"- avg dup_span_frac {hi['avg_dup_span_frac']}, "
                f"conserved = {report['conserved']}\n"
            )
        print(json.dumps(report))
        return

    if args.phases and not args.scaling:
        print(json.dumps(run_phases(args.cpus, args.tiles)))
        return

    if args.phases:  # --phases --scaling: per-stage local[2] vs local[8]
        results = {}
        for c in (2, 8):
            out = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--cpus", str(c),
                 "--tiles", str(args.tiles), "--phases"],
                capture_output=True, text=True, check=True,
            )
            line = [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
            results[c] = json.loads(line)
        lo, hi = results[2], results[8]
        report = {"metric": "corpus_prep_phase_scaling", "tiles": args.tiles}
        for k in ("clean_fp_sec", "lsh_sec", "train_sec", "full_sec"):
            report[k] = {
                "local2": lo[k], "local8": hi[k],
                "efficiency": round((lo[k] / hi[k]) / 4.0, 3),
            }
        print(json.dumps(report))
        return

    if not args.scaling:
        print(json.dumps(run_once(args.cpus, args.tiles)))
        return

    results = {}
    for c in (2, 8):
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--cpus", str(c),
             "--tiles", str(args.tiles)],
            capture_output=True, text=True, check=True,
        )
        line = [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
        results[c] = json.loads(line)
    lo, hi = results[2], results[8]
    eff = (hi["docs_per_sec"] / lo["docs_per_sec"]) / 4.0
    report = {
        "metric": "corpus_prep_scaling_local2_vs_local8",
        "value": round(eff, 4),
        "docs": lo["docs_in"],
        "wall_local2": lo["wall_sec"],
        "wall_local8": hi["wall_sec"],
        "docs_per_sec_local2": lo["docs_per_sec"],
        "docs_per_sec_local8": hi["docs_per_sec"],
        "conserved": lo["conserved"] and hi["conserved"],
        "reasons": hi["reasons"],
    }
    md = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "BENCH", "BASELINE.md",
    )
    stamp = time.strftime("%Y-%m-%d %H:%M:%S")
    with open(md, "a") as fh:
        fh.write(
            f"\n## Corpus-pipeline scale stress {stamp}\n"
            f"- input: {lo['docs_in']} docs (20x-tiled sf0.1 documents; tiles are\n"
            f"  mutual MinHash near-duplicates — dup-heavy web-crawl structure)\n"
            f"- local[2]: {lo['wall_sec']} s -> {lo['docs_per_sec']} docs/sec; "
            f"local[8]: {hi['wall_sec']} s -> {hi['docs_per_sec']} docs/sec\n"
            f"- scaling efficiency (N vs 4N cores): **{round(eff, 4)}**\n"
            f"- conservation: every input doc decided exactly once = "
            f"{report['conserved']}; reason mix {hi['reasons']}\n"
        )
    print(json.dumps(report))


if __name__ == "__main__":
    main()
