"""Distributed model training: the engine's one counting pass.

Every model trained over a DataFrame — the hashed-n-gram NB language-ID
model (``functions/langid.py``) and the char-bigram perplexity model
(``functions/perplexity.py``) — is counted by ``_count_pass``: one slim
select, a guarded widen when the NB featurizer runs, one ``mapInPandas``
that runs each requested model's batch counter, one map-side-combined ``groupBy().sum()`` shuffle and one
bounded collect (<= n_lang x (HASH_DIM + 1) + V^2 rows — aggregated
counts, never text). Each model module then rebuilds its model from the
collected rows. Integer count adds commute, so every trainer here
returns exactly what the single-threaded ``train_langid_model`` /
``train_char_bigram`` return (tests/test_model_pipeline.py pins it).

``train_models_fused`` counts both models in ONE pass: training them
separately costs two corpus scans and two sequential driver-blocking
jobs; at 100 TB the second scan doubles the training I/O, and in a cold
session each extra sequential job pays its codegen + Python-worker fork
latency serially (CLAUDE.md: cold wall time ~ #sequential jobs).

Row encoding in the long-form frame (m, label, a, b, n, rows):
  m='lid', a=dim,  b=0   -> NB feature count (a=-1 row carries the
                            class prior row-count in ``rows``)
  m='ppl', a=prev, b=cur -> bigram transition count
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from ..session import widen_if_narrow
from .langid import nb_batch_counts, nb_model
from .perplexity import bigram_batch_counts, bigram_model


def _count_pass(
    df, models: tuple[str, ...], text_col: str, label_col: str | None = None
) -> dict:
    """Run the batch counters named in ``models`` ('lid', 'ppl') over
    ``df`` in one pass -> {model: its aggregated long-form rows}."""
    lid, ppl = "lid" in models, "ppl" in models

    def _counts(it):
        for pdf in it:
            parts = []
            if lid:
                parts.append(nb_batch_counts(pdf[text_col], pdf[label_col]).assign(m="lid"))
            if ppl:
                parts.append(bigram_batch_counts(pdf[text_col]).assign(m="ppl"))
            yield pd.concat(parts, ignore_index=True)

    src = df.select(text_col, *([label_col] if lid else []))
    if lid:
        # the per-doc n-gram featurizer is the expensive pass (1 task ->
        # featurize alone 2.8 s single-thread at sf0.1); the bigram
        # counter alone is cheaper than the widen, so it stays narrow
        src = widen_if_narrow(src)
    schema = "m string, label string, a int, b int, n double, rows long"
    rows = (
        src.mapInPandas(_counts, schema=schema)
        .groupBy("m", "label", "a", "b")
        .agg(F.sum("n").alias("n"), F.sum("rows").alias("rows"))
        .collect()
    )
    return {m: [r for r in rows if r["m"] == m] for m in models}


def train_models_fused(
    df, text_col: str = "text", label_col: str = "lang"
) -> tuple[dict, np.ndarray]:
    """One corpus pass -> (langid model dict, bigram log-prob matrix):
    what the two trainers below return, for one scan instead of two."""
    rows = _count_pass(df, ("lid", "ppl"), text_col, label_col)
    return nb_model(rows["lid"]), bigram_model(rows["ppl"])


def train_langid_model_distributed(df, text_col: str = "text", label_col: str = "lang") -> dict:
    """Distributed counterpart of ``langid.train_langid_model``."""
    return nb_model(_count_pass(df, ("lid",), text_col, label_col)["lid"])


def train_char_bigram_distributed(df, text_col: str = "text") -> np.ndarray:
    """Distributed counterpart of ``perplexity.train_char_bigram``."""
    return bigram_model(_count_pass(df, ("ppl",), text_col)["ppl"])
