"""Fused single-pass model training.

``q48_model_cascade`` (and any production cascade that gates on both
model signals) needs BOTH the hashed-n-gram NB language-ID model and the
char-bigram perplexity model trained from the same corpus. Training them
with the two individual trainers costs two full corpus scans and two
sequential driver-blocking jobs; at 100 TB the second scan doubles the
training I/O, and in a cold session each extra sequential job pays its
codegen + Python-worker fork latency serially (CLAUDE.md: cold wall
time ~ #sequential jobs).

``train_models_fused`` computes both models in ONE mapInPandas pass over
the corpus, one shuffle, one bounded collect (<= n_lang x HASH_DIM +
V^2 + n_lang rows — all aggregated counts, never text). The per-model
count reconstruction mirrors ``train_langid_model_distributed``
(langid.py:139-157) and ``train_char_bigram_distributed``
(perplexity.py:80-90) exactly; ``tests/test_scorers.py`` asserts the
fused outputs are bit-identical to the individual trainers'.

Row encoding in the fused long-form frame (m, label, a, b, n, rows):
  m='lid', a=dim,  b=0   -> NB feature count (a=-1 row carries the
                            class prior row-count in ``rows``)
  m='ppl', a=prev, b=cur -> bigram transition count
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from .langid import HASH_DIM, featurize
from .perplexity import _BOS, _V, _encode


def train_models_fused(
    df, text_col: str = "text", label_col: str = "lang"
) -> tuple[dict, np.ndarray]:
    """One corpus pass -> (langid model dict, bigram log-prob matrix).

    Returns exactly what ``(train_langid_model_distributed(df),
    train_char_bigram_distributed(df))`` returns, for one scan instead
    of two (integer count adds commute, so fusing the passes cannot
    change either model).
    """

    def _both_counts(it):
        for pdf in it:
            out = []
            # --- langid NB feature counts (mirrors langid._feat_counts)
            X = featurize(pdf[text_col])
            for lbl, idx in pdf.groupby(label_col).groups.items():
                sums = X[pdf.index.get_indexer(idx)].sum(axis=0)
                dims = np.nonzero(sums)[0]
                part = pd.DataFrame(
                    {
                        "m": "lid",
                        "label": str(lbl),
                        "a": dims,
                        "b": 0,
                        "n": sums[dims],
                        "rows": 0,
                    }
                )
                part.loc[len(dims)] = ["lid", str(lbl), -1, 0, 0.0, len(idx)]
                out.append(part)
            # --- char-bigram counts (mirrors perplexity._count_batches)
            counts = np.zeros((_V, _V), dtype=np.int64)
            for t in pdf[text_col]:
                if not isinstance(t, str) or not t:
                    continue
                enc = _encode(t)
                if len(enc) == 0:
                    continue
                prev = np.concatenate(([_BOS], enc[:-1]))
                np.add.at(counts, (prev, enc), 1)
            prev_i, cur_i = np.nonzero(counts)
            out.append(
                pd.DataFrame(
                    {
                        "m": "ppl",
                        "label": "",
                        "a": prev_i,
                        "b": cur_i,
                        "n": counts[prev_i, cur_i].astype(np.float64),
                        "rows": 0,
                    }
                )
            )
            yield pd.concat(out, ignore_index=True) if out else pd.DataFrame(
                {"m": [], "label": [], "a": [], "b": [], "n": [], "rows": []}
            )

    src = df.select(F.col(text_col), F.col(label_col))
    # A small corpus file (or one unsplittable gzip/row-group) scans as
    # a HANDFUL of tasks, serializing the whole Python counting pass on
    # one core (measured: 1 task -> featurize alone 2.8 s single-thread
    # at sf0.1). Widen to the session's parallelism BEFORE the Python
    # boundary — a round-robin shuffle of slim (text, label) rows costs
    # ~nothing next to the per-doc n-gram loop it parallelizes. Guarded:
    # an already-wide corpus scan (the 100 TB case) is never reshuffled.
    # NOTE .rdd.getNumPartitions() is not a free probe under AQE: it
    # builds the final plan, which runs any pre-final (shuffle) stages
    # of ``df`` as jobs before the training pass.
    par = src.sparkSession.sparkContext.defaultParallelism
    if src.rdd.getNumPartitions() < par:
        src = src.repartition(par)
    agg = (
        src.mapInPandas(
            _both_counts,
            schema="m string, label string, a int, b int, n double, rows long",
        )
        .groupBy("m", "label", "a", "b")
        .agg(F.sum("n").alias("n"), F.sum("rows").alias("rows"))
        .collect()
    )

    lid_rows = [r for r in agg if r["m"] == "lid"]
    ppl_rows = [r for r in agg if r["m"] == "ppl"]

    # --- reconstruct NB model (mirrors langid.py:146-157)
    langs = sorted({r["label"] for r in lid_rows})
    counts = np.ones((HASH_DIM, len(langs)), dtype=np.float64)
    prior = np.ones(len(langs), dtype=np.float64)
    for r in lid_rows:
        k = langs.index(r["label"])
        if r["a"] == -1:
            prior[k] += r["rows"]
        else:
            counts[r["a"], k] += r["n"]
    log_prob = np.log(counts / counts.sum(axis=0, keepdims=True))
    log_prior = np.log(prior / prior.sum())
    lid_model = {"log_prob": log_prob, "log_prior": log_prior, "langs": langs}

    # --- reconstruct bigram log-prob table (mirrors perplexity.py:87-90)
    bcounts = np.ones((_V, _V), dtype=np.float64)
    for r in ppl_rows:
        bcounts[r["a"], r["b"]] += r["n"]
    bigram = np.log(bcounts / bcounts.sum(axis=1, keepdims=True))

    return lid_model, bigram
