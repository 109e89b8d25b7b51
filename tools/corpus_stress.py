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
    python tools/corpus_stress.py --substr [--stats-only] [--scaling]
    python tools/corpus_stress.py --skewed [--family 10000]

Prints one JSON line per run; --scaling appends a section to
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

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def ensure_corpus(tiles: int, family: int = 0, n_shards: int = 32) -> str:
    """The fixture's documents tiled ``tiles`` times (unique doc_id per
    tile + a tile-unique leading token), plus, for ``family`` > 0, a
    planted VIRAL FAMILY of ``family`` docs with byte-identical text
    (distinct doc_ids). Identical text -> identical minhash signature ->
    every one of the 4 LSH band keys is a hot key of size ``family`` —
    the 100 TB failure mode minhash_lsh_pairs' salt-stripe guard exists
    for (a near-identical template family that exact dedup upstream
    cannot assume removed at the operator level); tiles differ in their
    leading token, so the background's band keys stay small.

    The cache key includes the SOURCE fixture (dir + parquet mtime): a
    tiles-only key silently reused a corpus tiled from a DIFFERENT
    SF_DIR, attributing every timing in the appended evidence log to
    the wrong fixture. Tiling runs in DuckDB (no Spark session)."""
    import hashlib

    import duckdb

    src = os.path.join(SF_DIR, "documents.parquet")
    src_key = hashlib.md5(
        f"{SF_DIR}:{os.path.getmtime(src)}".encode()
    ).hexdigest()[:10]
    path = f"/tmp/spark_graft_bench/docs_x{tiles}_f{family}_{src_key}"
    if os.path.exists(os.path.join(path, "_done")):
        return path
    viral = f"""
        UNION ALL
        SELECT 90000000 + f.f AS doc_id,
               'viral boilerplate template shared verbatim across the '
               || 'whole crawl with enough words that every three gram '
               || 'window stays stable and the sixteen minhash values '
               || 'agree exactly for each copy of this document' AS text,
               'en' AS lang
        FROM (SELECT unnest(range({family})) AS f) f""" if family else ""
    tbl = duckdb.sql(
        f"""
        SELECT d.doc_id + t.t * 1000000 AS doc_id,
               'tile' || CAST(t.t AS VARCHAR) || ' ' || d.text AS text,
               d.lang
        FROM read_parquet('{src}') d,
             (SELECT unnest(range({tiles})) AS t) t{viral}
        ORDER BY doc_id
        """
    ).arrow()
    scaling.write_shards(tbl, path, n_shards)
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

    path = ensure_corpus(tiles, family)
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


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cpus", type=int, default=8)
    ap.add_argument("--tiles", type=int, default=20)
    ap.add_argument("--scaling", action="store_true")
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

    if not args.scaling:
        if args.substr:
            out = run_substr(args.cpus, args.tiles, include_text=not args.stats_only)
        else:
            out = run_once(args.cpus, args.tiles)
        print(json.dumps(out))
        return

    extra = ["--tiles", str(args.tiles)]
    if args.substr:
        extra += ["--substr"] + (["--stats-only"] if args.stats_only else [])
    lo, hi = (scaling.child(__file__, c, *extra) for c in scaling.WIDTHS)
    eff = scaling.efficiency(lo["docs_per_sec"], hi["docs_per_sec"])
    name = "substring_dedup" if args.substr else "corpus_prep"
    report = {"metric": f"{name}_scaling_local2_vs_local8"}
    if args.substr:
        report["mode"] = lo["mode"]
    report.update({
        "value": eff,
        "docs": lo["docs_in"],
        "wall_local2": lo["wall_sec"],
        "wall_local8": hi["wall_sec"],
        "docs_per_sec_local2": lo["docs_per_sec"],
        "docs_per_sec_local8": hi["docs_per_sec"],
        "conserved": lo["conserved"] and hi["conserved"],
    })
    speeds = (
        f"- local[2]: {lo['wall_sec']} s -> {lo['docs_per_sec']} docs/sec; "
        f"local[8]: {hi['wall_sec']} s -> {hi['docs_per_sec']} docs/sec\n"
        f"- scaling efficiency (N vs 4N cores): **{eff}**\n"
    )
    if args.substr:
        report["avg_dup_span_frac"] = hi["avg_dup_span_frac"]
        scaling.append_baseline("Substring-dedup scale stress", [
            f"- input: {lo['docs_in']} docs ({args.tiles}x-tiled sf0.1 documents;\n"
            f"  full duplication density — nearly every 8-gram recurs in every tile)\n",
            f"- operator: substring_duplication(k=8, "
            f"include_dedup_text={not args.stats_only})\n",
            speeds,
            f"- avg dup_span_frac {hi['avg_dup_span_frac']}, "
            f"conserved = {report['conserved']}\n",
        ])
    else:
        report["reasons"] = hi["reasons"]
        scaling.append_baseline("Corpus-pipeline scale stress", [
            f"- input: {lo['docs_in']} docs ({args.tiles}x-tiled sf0.1 documents; tiles are\n"
            f"  mutual MinHash near-duplicates — dup-heavy web-crawl structure)\n",
            speeds,
            f"- conservation: every input doc decided exactly once = "
            f"{report['conserved']}; reason mix {hi['reasons']}\n",
        ])
    print(json.dumps(report))


if __name__ == "__main__":
    main()
