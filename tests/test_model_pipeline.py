"""End-to-end pipeline on the MODEL path (NB langid + char-bigram
perplexity pandas UDFs) — the fastText/KenLM-style configuration from
BASELINE.json, versus the planted labels."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from stop_sync_osm_atlas_spark.functions.langid import langid_hashed_ngram_udf, train_langid_model
from stop_sync_osm_atlas_spark.functions.perplexity import (
    perplexity_scores,
    perplexity_udf,
    train_char_bigram,
)
from stop_sync_osm_atlas_spark.operators.cascade import run_cascade
from stop_sync_osm_atlas_spark.operators.rules import RuleConfig
from stop_sync_osm_atlas_spark.schemas import PAIRS_SCHEMA


@pytest.fixture(scope="module")
def models():
    from stop_sync_osm_atlas_spark.fixtures.generator import _CONTENT, _caption

    rng = np.random.default_rng(11)
    texts, labels = [], []
    for lang in sorted(_CONTENT):
        for _ in range(300):
            texts.append(_caption(rng, lang, int(rng.integers(6, 25))))
            labels.append(lang)
    lid = train_langid_model(texts, labels)
    lp = train_char_bigram(texts)
    # calibrate the perplexity gate from the training corpus itself:
    # midpoint between clean p99 and gibberish min (deterministic)
    clean_p = perplexity_scores(pd.Series(texts[:200]), lp)
    gib = pd.Series(["zxq9 vqk3 pzw7 qjx1 wvz5 xkq2 jzw8 qzp4"] * 20)
    gib_p = perplexity_scores(gib, lp)
    thr = float((np.nanmax(clean_p) + np.nanmin(gib_p)) / 2)
    return lid, lp, thr


def test_model_pipeline_f1(spark, fixture_1k, fixture_paths, nd_kwargs, models):
    lid_model, lp, thr = models
    pairs = spark.read.schema(PAIRS_SCHEMA).parquet(fixture_paths["pairs"])
    ov = spark.read.parquet(fixture_paths["overrides"])
    cfg = RuleConfig(max_perplexity=thr)
    out = run_cascade(
        pairs,
        cfg=cfg,
        overrides=ov,
        langid_udf=langid_hashed_ngram_udf(lid_model),
        perplexity_udf=perplexity_udf(lp),
        neardup_kwargs=nd_kwargs,
    ).toPandas()
    m = out.merge(fixture_1k.labels, on="image_id")
    assert len(m) == len(fixture_1k.pairs)
    for cls in ["keep", "drop", "scrub"]:
        tp = ((m["decision"] == cls) & (m["true_decision"] == cls)).sum()
        fp = ((m["decision"] == cls) & (m["true_decision"] != cls)).sum()
        fn = ((m["decision"] != cls) & (m["true_decision"] == cls)).sum()
        f1 = 2 * tp / (2 * tp + fp + fn) if tp + fp + fn else 1.0
        assert f1 >= 0.99, f"{cls}: F1={f1:.4f} (tp={tp} fp={fp} fn={fn})"
    # gibberish rows must drop on this path too (via perplexity/quality,
    # not marker-langid which the NB model replaces)
    gib = m[m["true_rule"] == "langid_undetermined"]
    assert len(gib) > 0 and (gib["decision"] == "drop").all()
    # NB language agreement on kept rows with a planted language
    kept = m[(m["decision"] == "keep") & m["lang_y"].notna()] if "lang_y" in m else None
    if kept is not None and len(kept):
        assert (kept["lang_x"] == kept["lang_y"]).mean() >= 0.97


def test_distributed_trainers_match_local(spark):
    """Distributed (mapInPandas + shuffle-reduce) training must produce
    byte-identical models to the single-threaded trainers — across
    Arrow batch edges (7-row batches), blank, multi-byte and over-long
    (> 512-char) texts, and on a one-partition input, where the NB
    pass widens and the bigram-only pass must not (the bigram counter
    is too cheap to pay for a round-robin shuffle)."""
    import pyspark.sql.classic.dataframe as cdf

    from stop_sync_osm_atlas_spark.fixtures.generator import _CONTENT, _caption
    from stop_sync_osm_atlas_spark.functions.langid import train_langid_model
    from stop_sync_osm_atlas_spark.functions.perplexity import train_char_bigram
    from stop_sync_osm_atlas_spark.functions.training import (
        train_char_bigram_distributed,
        train_langid_model_distributed,
        train_models_fused,
    )

    rng = np.random.default_rng(3)
    langs = sorted(_CONTENT)
    texts, labels = [], []
    for lang in langs:
        for _ in range(100):
            texts.append(_caption(rng, lang, int(rng.integers(5, 20))))
            labels.append(lang)
    # 14 consecutive blanks hold at least one whole all-blank batch
    edge = ["", None, "   ", "\t\n", " \r ", None, ""] * 2 + [
        "café déjà vu é",
        "漢字のテキスト",
        "emoji 😀🚀 ok",
        "x" * 600,
        "é漢😀 " * 150,
    ]
    texts[150:150] = edge
    labels[150:150] = [langs[i % len(langs)] for i in range(len(edge))]
    pdf = pd.DataFrame({"text": texts, "lang": labels})
    lp_local = train_char_bigram(texts)
    m_local = train_langid_model(texts, labels)

    plans = []
    orig = cdf.DataFrame.collect

    def _recording(self):
        plans.append(
            self._sc._jvm.PythonSQLUtils.explainString(self._jdf.queryExecution(), "formatted")
        )
        return orig(self)

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "7")
    cdf.DataFrame.collect = _recording
    try:
        for df in (
            spark.createDataFrame(pdf).repartition(8),
            spark.createDataFrame(pdf).coalesce(1),
        ):
            plans.clear()
            lp_dist = train_char_bigram_distributed(df)
            m_dist = train_langid_model_distributed(df)
            m_fused, lp_fused = train_models_fused(df)
            for lp in (lp_dist, lp_fused):
                assert np.array_equal(lp_local, lp)
            for m in (m_dist, m_fused):
                assert m_local["langs"] == m["langs"]
                assert np.array_equal(m_local["log_prob"], m["log_prob"])
                assert np.array_equal(m_local["log_prior"], m["log_prior"])
    finally:
        cdf.DataFrame.collect = orig
        spark.conf.set(key, prev)

    bigram_plan, nb_plan, fused_plan = plans  # the one-partition input
    assert "RoundRobinPartitioning" not in bigram_plan, bigram_plan
    assert "RoundRobinPartitioning" in nb_plan, nb_plan
    assert "RoundRobinPartitioning" in fused_plan, fused_plan


def test_fused_trainer_matches_individual(spark):
    """train_models_fused (one corpus pass) must be bit-identical to the
    two individual distributed trainers — fusing commuting count adds
    cannot change either model."""
    from stop_sync_osm_atlas_spark.fixtures.generator import _CONTENT, _caption
    from stop_sync_osm_atlas_spark.functions.training import (
        train_char_bigram_distributed,
        train_langid_model_distributed,
        train_models_fused,
    )

    rng = np.random.default_rng(7)
    texts, labels = [], []
    for lang in sorted(_CONTENT):
        for _ in range(60):
            texts.append(_caption(rng, lang, int(rng.integers(5, 20))))
            labels.append(lang)
    # include degenerate rows the trainers must agree on
    texts += ["", None, "   "]
    labels += ["de", "fr", "it"]
    df = spark.createDataFrame(pd.DataFrame({"text": texts, "lang": labels})).repartition(8)

    lid_fused, bigram_fused = train_models_fused(df)
    lid_ref = train_langid_model_distributed(df)
    bigram_ref = train_char_bigram_distributed(df)

    assert lid_fused["langs"] == lid_ref["langs"]
    assert np.array_equal(lid_fused["log_prob"], lid_ref["log_prob"])
    assert np.array_equal(lid_fused["log_prior"], lid_ref["log_prior"])
    assert np.array_equal(bigram_fused, bigram_ref)
