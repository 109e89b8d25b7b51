"""The benchmark's workloads: each drives one public entry point of the
engine on seeded inputs and checks every iteration's output.

A workload is a closed loop run by one driver process: ``before`` does
the untimed per-iteration preparation, ``run`` is the timed call and
``check`` returns the list of problems found in its output (empty when
correct). ``spans`` names the engine functions a traced iteration wraps
in spans and ``probes`` measures the isolated layer costs a traced run
reports after its iterations.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time

import pandas as pd
from pyspark.sql import functions as F

from inputs import ND_KW, ORACLE_COLS, STREAM_CFG, DocsInput, PairsInput

from stop_sync_osm_atlas_spark.functions import image as IMAGE
from stop_sync_osm_atlas_spark.operators import cascade as CASCADE
from stop_sync_osm_atlas_spark.operators import scrub as SCRUB
from stop_sync_osm_atlas_spark.operators.dedup import minhash_lsh_pairs
from stop_sync_osm_atlas_spark.operators.lines import clean_lines
from stop_sync_osm_atlas_spark.plans import corpus as CORPUS
from stop_sync_osm_atlas_spark.plans import pipeline as PIPELINE
from stop_sync_osm_atlas_spark.schemas import PAIRS_SCHEMA
from stop_sync_osm_atlas_spark.sources.checkpoint import CheckpointedWriter
from stop_sync_osm_atlas_spark.streaming import stream as STREAM

N_GROUPS = 8
CORPUS_REASONS = {
    "keep", "exact_dup", "near_dup", "high_line_repetition",
    "high_bullet_lines", "high_ellipsis_lines", "empty", "too_short",
    "high_ngram_repetition", "word_length_outlier", "low_alpha_ratio",
    "low_stopword_count", "high_perplexity", "langid_mismatch",
}


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _frame_digest(pdf: pd.DataFrame, key: list[str]) -> str:
    """Content digest of a table whose rows ``key`` identifies,
    independent of row and column order."""
    pdf = pdf[sorted(pdf.columns)].sort_values(key).reset_index(drop=True)
    pdf = pdf.map(lambda v: tuple(v) if hasattr(v, "__len__") and not isinstance(v, str) else v)
    return hashlib.sha256(pdf.to_json(orient="values").encode()).hexdigest()


def _compare(engine: pd.DataFrame, oracle: pd.DataFrame, cols: list[str], what: str) -> list[str]:
    m = engine.merge(oracle, on="image_id", how="outer", suffixes=("_e", "_o"), indicator=True)
    problems = []
    unmatched = int((m["_merge"] != "both").sum())
    if unmatched or len(engine) != len(oracle):
        problems.append(f"{what}: {len(engine)} rows vs oracle {len(oracle)}, {unmatched} unmatched")
    both = m[m["_merge"] == "both"]
    for col in cols:
        bad = both[both[f"{col}_e"].fillna("~").astype(str) != both[f"{col}_o"].fillna("~").astype(str)]
        if len(bad):
            ex = bad[["image_id", f"{col}_e", f"{col}_o"]].head(3).to_dict("records")
            problems.append(f"{what}: {col} differs on {len(bad)} rows, e.g. {ex}")
    return problems


def _checkpoint_counts(sp, args, counts: dict) -> None:
    writer = args[0]
    sp.counts["groups_written"] = len(counts)
    sp.counts["groups_skipped"] = writer.n_groups - len(counts)
    sp.counts["rows_written"] = sum(counts.values())


class Workload:
    name = ""
    # (owner, attribute, span name, counter): engine functions a traced
    # iteration wraps in a span; counter(span, args, result) adds counts
    spans: list[tuple] = []

    def __init__(self, spark, cfg: dict, cache: str, work: str, seed: int, tracer):
        self.spark, self.cfg, self.work, self.seed, self.tracer = spark, cfg, work, seed, tracer
        self.inp = self.make_input(cfg, cache, seed)
        self.rows = self.inp.rows

    @staticmethod
    def make_input(cfg: dict, cache: str, seed: int):
        """Build (or find in ``cache``) the seeded input; untimed."""
        return PairsInput(cache, seed, cfg["base_rows"], cfg["tiles"], cfg["shards"])

    def before(self, i: int) -> None:
        pass

    def run(self, i: int):
        raise NotImplementedError

    def check(self, i: int, result) -> list[str]:
        raise NotImplementedError

    def probes(self) -> tuple[dict[str, float], list[str]]:
        """Traced runs only: -> (layer figures, problems in checked output)."""
        return {}, []


class _Images(Workload):
    spans = [
        (CASCADE, "neardup_phash_map", "operators.neardup.map", None),
        (PIPELINE, "run_cascade", "operators.cascade.build", None),
        (CheckpointedWriter, "run", "sources.checkpoint.write", _checkpoint_counts),
        (CheckpointedWriter, "read_all", "operators.cascade.rollup", None),
        (PIPELINE, "metrics_rollup", "operators.cascade.rollup", None),
        (PIPELINE, "write_table", "operators.cascade.rollup", None),
    ]

    def __init__(self, *a):
        super().__init__(*a)
        self.root = os.path.join(self.work, "out")

    def _run_pipeline(self, root: str) -> str:
        PIPELINE.run_pipeline(
            self.spark, self.inp.pairs_path, root,
            overrides_path=self.inp.overrides_path,
            neardup_kwargs=ND_KW, n_groups=N_GROUPS,
            run_id=f"perfbench{self.seed}",
        )
        return root

    def _read(self, root: str) -> pd.DataFrame:
        return CheckpointedWriter(root, n_groups=N_GROUPS).read_all(self.spark).toPandas()

    def _check_oracle(self, got: pd.DataFrame) -> list[str]:
        return _compare(got, self.inp.oracle("batch"), ORACLE_COLS, "decisions")

    def probes(self):
        """Isolated decode and scrub passes, and the streaming layer on
        the same pairs: of the workloads BENCHMARK.json lists, only
        images_full carries pairs."""
        pairs = self.spark.read.schema(PAIRS_SCHEMA).parquet(self.inp.pairs_path)
        out = {}
        with self.tracer.span("functions.image.decode"):
            t = time.perf_counter()
            _noop(IMAGE.decode_validate_inline(pairs))
            out["functions.image.rows_per_s"] = self.rows / (time.perf_counter() - t)
        with self.tracer.span("operators.scrub.scrub"):
            _noop(pairs.select(SCRUB.scrubbed_caption(F.col("caption")).alias("c")))
        slim = pairs.drop("bytes")
        with self.tracer.span("streaming.stream.drain"):
            sinks = _drain(self.spark, slim, self.seed)
        problems = _check_stream(sinks, self.inp)
        out |= _stream_progress(self.spark, slim, self.work)
        return out, problems


class ImagesFull(_Images):
    """``run_pipeline`` into a fresh output root every iteration."""

    name = "images_full"

    def before(self, i):
        shutil.rmtree(self.root, ignore_errors=True)

    def run(self, i):
        return self._run_pipeline(self.root)

    def check(self, i, root):
        return self._check_oracle(self._read(root))


class ImagesResume(_Images):
    """``run_pipeline`` resuming a checkpoint root in which half of the
    groups are committed. The cold iteration is the clean run that
    writes the committed root; its content digest is the reference
    every resumed output must reproduce."""

    name = "images_resume"

    def __init__(self, *a):
        super().__init__(*a)
        self.ref = os.path.join(self.work, "committed")
        self.ref_digest = None

    def before(self, i):
        shutil.rmtree(self.root, ignore_errors=True)
        if i == 0:
            shutil.rmtree(self.ref, ignore_errors=True)
            return
        shutil.copytree(self.ref, self.root)
        for g in range(1, N_GROUPS, 2):
            os.remove(os.path.join(self.root, "_commits", f"group={g}.json"))

    def run(self, i):
        return self._run_pipeline(self.ref if i == 0 else self.root)

    def check(self, i, root):
        got = self._read(root)
        digest = _frame_digest(got, ["image_id"])
        if i == 0:
            self.ref_digest = digest
            return self._check_oracle(got)
        if digest != self.ref_digest:
            return ["resumed decisions differ from the clean run (content digest)"]
        return []


class CorpusPrep(Workload):
    """``prepare_corpus(docs)`` followed by ``bins.count()``."""

    name = "corpus_prep"
    # clean_lines, minhash_lsh_pairs and pack_bins only build lazy
    # frames inside prepare_corpus; their costs come from probes and
    # from the timed bins.count()
    spans = [(CORPUS, "train_models_fused", "functions.training.train", None)]

    def __init__(self, *a):
        super().__init__(*a)
        self.bins_digest = None

    @staticmethod
    def make_input(cfg, cache, seed):
        return DocsInput(cache, seed, cfg["docs"])

    def _docs(self):
        return self.spark.read.parquet(self.inp.path)

    def run(self, i):
        with self.tracer.span("plans.corpus.build"):
            decisions, bins = CORPUS.prepare_corpus(self._docs())
        with self.tracer.span("operators.packing.pack"):
            bins.count()
        return decisions, bins

    def check(self, i, result):
        decisions, bins = result
        dec = decisions.toPandas()
        b = bins.toPandas()
        decisions.unpersist()
        problems = []
        ids = dec["doc_id"]
        if len(dec) != self.rows or not ids.is_unique or set(ids) != set(range(self.rows)):
            problems.append(f"decisions hold {len(dec)} rows, {ids.nunique()} distinct ids, for {self.rows} docs")
        if not set(dec["reason"]) <= CORPUS_REASONS:
            problems.append(f"unknown reasons {set(dec['reason']) - CORPUS_REASONS}")
        if not ((dec["decision"] == "keep") == (dec["reason"] == "keep")).all():
            problems.append("decision and reason disagree")
        kept = dec[dec["decision"] == "keep"]
        if b["n_docs"].sum() != len(kept) or b["total_tokens"].sum() != kept["n_tok"].sum():
            problems.append("bins do not conserve the kept docs and tokens")
        digest = _frame_digest(b, ["lang", "bin"])
        if self.bins_digest is None:
            self.bins_digest = digest
        elif digest != self.bins_digest:
            problems.append("bins digest changed between iterations")
        return problems

    def probes(self):
        docs = self._docs()
        with self.tracer.span("operators.lines.clean"):
            _noop(clean_lines(docs, with_stats=True))
        cleaned = clean_lines(docs).select("doc_id", F.col("text_clean").alias("text")).persist()
        cleaned.count()
        out = {}
        with self.tracer.span("operators.dedup.lsh") as sp:
            sp.counts["lsh_pairs"] = minhash_lsh_pairs(cleaned).count()
        # threshold 0 keeps every banded candidate pair
        out["operators.dedup.lsh_candidates"] = minhash_lsh_pairs(cleaned, threshold=0.0).count()
        cleaned.unpersist()
        return out, []


STREAM_SPECS = [
    (STREAM.stream_exact_dedup, "perfbench_dedup", "append"),
    (STREAM.stream_decisions, "perfbench_decisions", "append"),
    (STREAM.stream_metrics, "perfbench_metrics", "complete"),
]


def _drain(spark, pairs, seed: int) -> dict:
    return STREAM.stage_and_drain_many(spark, pairs, STREAM_SPECS, tag=f"perfbench{seed}")


def _check_stream(sinks: dict, inp: PairsInput) -> list[str]:
    dec = sinks["perfbench_decisions"].select("image_id", "decision").toPandas()
    oracle = inp.oracle("stream")
    problems = _compare(dec, oracle, ["decision"], "stream decisions")
    n_dedup = sinks["perfbench_dedup"].count()
    if n_dedup != inp.facts["distinct_fingerprints"]:
        problems.append(
            f"dedup arm kept {n_dedup} rows, pandas counts "
            f"{inp.facts['distinct_fingerprints']} distinct fingerprints"
        )
    got = (
        sinks["perfbench_metrics"].groupBy("decision").agg(F.sum("n").alias("n"))
        .toPandas().set_index("decision")["n"].to_dict()
    )
    want = oracle["decision"].value_counts().to_dict()
    if {k: int(v) for k, v in got.items()} != {k: int(v) for k, v in want.items()}:
        problems.append(f"metrics arm counts {got} != oracle {want}")
    return problems


def _stream_progress(spark, pairs, work: str) -> dict:
    """Drain the same public stream builders once more, started here so
    their ``recentProgress`` can be read before they stop: micro-batch
    count, trigger and addBatch time summed over batches, input rows,
    and the state rows the last batch of each query held."""
    staged = os.path.join(work, "stream_staged")
    shutil.rmtree(staged, ignore_errors=True)
    pairs.repartition(spark.sparkContext.defaultParallelism).write.parquet(staged)
    out = dict.fromkeys(("batches", "trigger_ms", "add_batch_ms", "state_rows", "input_rows"), 0)
    queries = []
    try:
        for make, name, mode in STREAM_SPECS:
            queries.append(
                make(spark, staged).writeStream.outputMode(mode)
                .format("memory").queryName(name + "_progress").start()
            )
        for q in queries:
            q.processAllAvailable()
        for q in queries:
            progress = q.recentProgress
            for p in progress:
                out["batches"] += 1
                out["trigger_ms"] += p.durationMs.get("triggerExecution", 0)
                out["add_batch_ms"] += p.durationMs.get("addBatch", 0)
                out["input_rows"] += p.numInputRows
            if progress:
                out["state_rows"] += sum(o.numRowsTotal for o in progress[-1].stateOperators)
    finally:
        for q in queries:
            q.stop()
        shutil.rmtree(staged, ignore_errors=True)
    return {f"streaming.stream.{k}": v for k, v in out.items()}


class CaptionStream(Workload):
    """``stage_and_drain_many`` over the pairs (bytes dropped) with the
    three arms of the q53 shape."""

    name = "caption_stream"

    def _pairs(self):
        return self.spark.read.schema(PAIRS_SCHEMA).parquet(self.inp.pairs_path).drop("bytes")

    def run(self, i):
        with self.tracer.span("streaming.stream.drain"):
            return _drain(self.spark, self._pairs(), self.seed)

    def check(self, i, sinks):
        return _check_stream(sinks, self.inp)

    def probes(self):
        pairs = self._pairs()
        with self.tracer.span("operators.scrub.scrub"):
            _noop(pairs.select(SCRUB.scrubbed_caption(F.col("caption")).alias("c")))
        return _stream_progress(self.spark, pairs, self.work), []


WORKLOADS = {w.name: w for w in (ImagesFull, ImagesResume, CorpusPrep, CaptionStream)}
