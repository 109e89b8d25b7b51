"""KenLM-style character n-gram perplexity, Arrow-vectorized.

Bigram model with add-one smoothing over a fixed byte alphabet, trained
deterministically from a seeded corpus (FIXTURES.md §3 ``ngram_model``).
Scoring runs in a pandas UDF: per Arrow batch, one vectorized gather from
a (V, V) log-prob table — no per-row Python loops over long strings
beyond the O(len) codepoint mapping, no model re-load per batch.

This is the engine's analog of the reference's distance score: a
continuous quality signal fed into a threshold ladder
(reference matching_process/problem_detection.py:36-64).

Training over a DataFrame runs in ``functions/training.py``; this
module supplies its batch counter (``bigram_batch_counts``) and counts
-> model rebuild (``bigram_model``).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Alphabet: printable ASCII 32..126 + OOV bucket + BOS.
_V = 97
_OOV = 95
_BOS = 96
_MAX_CHARS = 512


def _encode(t: str) -> np.ndarray:
    a = np.frombuffer(t[:_MAX_CHARS].encode("ascii", "replace"), dtype=np.uint8).astype(
        np.int32
    )
    a = a - 32
    a[(a < 0) | (a >= _OOV)] = _OOV
    return a


def train_char_bigram(texts: list[str]) -> np.ndarray:
    """(V, V) float64 log P(next | prev), add-one smoothed.

    float64 (not 32) so scores are bit-comparable with the DuckDB SQL
    oracle, which computes ln() in double — see oracle_sql()['q41_...'].
    """
    counts = np.ones((_V, _V), dtype=np.float64)
    for t in texts:
        if not isinstance(t, str) or not t:
            continue
        enc = _encode(t)
        prev = np.concatenate(([_BOS], enc[:-1]))
        np.add.at(counts, (prev, enc), 1.0)
    return np.log(counts / counts.sum(axis=1, keepdims=True))


def bigram_batch_counts(texts: pd.Series) -> pd.DataFrame:
    """One batch's transition counts in ``training.py``'s long form: a
    row (label='', a=prev, b=cur, n) per nonzero cell."""
    cells = [
        np.concatenate(([_BOS], enc[:-1])) * _V + enc
        for enc in (_encode(t) for t in texts if isinstance(t, str) and t)
    ]
    counts = np.bincount(np.concatenate([np.empty(0, np.int64), *cells]), minlength=_V * _V)
    cell = np.nonzero(counts)[0]
    return pd.DataFrame(
        {
            "label": "",
            "a": cell // _V,
            "b": cell % _V,
            "n": counts[cell].astype(np.float64),
            "rows": 0,
        }
    )


def bigram_model(rows) -> np.ndarray:
    """Aggregated ``bigram_batch_counts`` rows -> the table
    ``train_char_bigram`` returns (same +1 smoothing)."""
    counts = np.ones((_V, _V), dtype=np.float64)
    for r in rows:
        counts[r["a"], r["b"]] += r["n"]
    return np.log(counts / counts.sum(axis=1, keepdims=True))


def perplexity_scores(texts: pd.Series, log_prob: np.ndarray) -> np.ndarray:
    out = np.full(len(texts), np.nan, dtype=np.float64)
    for i, t in enumerate(texts):
        if not isinstance(t, str) or not t:
            continue
        enc = _encode(t)
        if len(enc) == 0:
            continue
        prev = np.concatenate(([_BOS], enc[:-1]))
        ll = log_prob[prev, enc].sum()
        out[i] = float(np.exp(-ll / len(enc)))
    return out


def perplexity_udf(log_prob: np.ndarray):
    """NULL (not NaN) for rows with no scoreable text (None/empty/no
    encodable chars): `perplexity_scores` marks them NaN, but Spark's
    total order puts NaN ABOVE every double, so `ppl > threshold` would
    FIRE the high_perplexity rule on every blank row — while the pandas
    oracle (oracle.py 'marker path has no ppl signal') and a null-aware
    SQL mirror say False. NULL makes the comparison null -> the when
    falls through, aligning all three mirrors: an undefined signal
    never trips a threshold gate."""

    @F.pandas_udf(T.DoubleType())
    def _ppl(captions: pd.Series) -> pd.Series:
        vals = perplexity_scores(captions, log_prob)
        return pd.Series(vals, dtype="Float64").mask(np.isnan(vals), pd.NA)

    return _ppl
