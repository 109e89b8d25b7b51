"""T2 golden end-to-end: Spark engine vs the independent pandas oracle
on the seeded fixture — exact equality expected on every output column
(SURVEY.md §5; F1 >= 0.99 against planted labels is the contractual
floor, exact match the target)."""

from __future__ import annotations

import pandas as pd
import pytest

from stop_sync_osm_atlas_spark.operators.cascade import metrics_rollup, run_cascade
from stop_sync_osm_atlas_spark.oracle.oracle import run_oracle
from stop_sync_osm_atlas_spark.schemas import PAIRS_SCHEMA


@pytest.fixture(scope="module")
def engine_and_oracle(spark, fixture_1k, fixture_paths, nd_kwargs):
    pairs = spark.read.schema(PAIRS_SCHEMA).parquet(fixture_paths["pairs"])
    ov = spark.read.parquet(fixture_paths["overrides"])
    eng = run_cascade(pairs, overrides=ov, neardup_kwargs=nd_kwargs)
    eng_pdf = eng.toPandas()
    orc = run_oracle(fixture_1k.pairs, fixture_1k.overrides, neardup_kwargs=nd_kwargs)
    return eng, eng_pdf, orc


def test_schema_matches_contract(engine_and_oracle):
    """The per-image decision record: identity, verdict, every hit, the
    scrubbed caption, near-dup cluster, model scores, lineage bucket."""
    eng, _, _ = engine_and_oracle
    assert [(f.name, f.dataType.simpleString()) for f in eng.schema.fields] == [
        ("image_id", "string"),
        ("decision", "string"),
        ("rule", "string"),
        ("severity", "int"),
        ("reasons", "array<string>"),
        ("caption_scrubbed", "string"),
        ("cluster_id", "string"),
        ("cluster_size", "int"),
        ("is_cluster_rep", "boolean"),
        ("lang", "string"),
        ("lang_conf", "double"),
        ("perplexity", "double"),
        ("part_bucket", "int"),
    ]


def test_engine_equals_oracle_exactly(engine_and_oracle):
    _, eng, orc = engine_and_oracle
    m = eng.merge(orc, on="image_id", suffixes=("_e", "_o"))
    assert len(m) == len(eng) == len(orc)
    for col in [
        "decision", "rule", "severity", "caption_scrubbed",
        "cluster_id", "cluster_size", "is_cluster_rep", "lang",
    ]:
        mism = m[m[f"{col}_e"].fillna("~") != m[f"{col}_o"].fillna("~")]
        assert len(mism) == 0, f"{col}: {len(mism)} mismatches\n{mism.head()}"


def test_f1_vs_planted_labels(engine_and_oracle, fixture_1k):
    _, eng, _ = engine_and_oracle
    m = eng.merge(fixture_1k.labels, on="image_id")
    for cls in ["keep", "drop", "scrub"]:
        tp = ((m["decision"] == cls) & (m["true_decision"] == cls)).sum()
        fp = ((m["decision"] == cls) & (m["true_decision"] != cls)).sum()
        fn = ((m["decision"] != cls) & (m["true_decision"] == cls)).sum()
        f1 = 2 * tp / (2 * tp + fp + fn)
        assert f1 >= 0.99, f"{cls}: F1={f1:.4f} (tp={tp} fp={fp} fn={fn})"


def test_scrubbed_text_exact_on_scrub_rows(engine_and_oracle, fixture_1k):
    _, eng, _ = engine_and_oracle
    m = eng.merge(fixture_1k.labels, on="image_id")
    s = m[m["true_decision"] == "scrub"]
    assert len(s) > 0
    assert (s["caption_scrubbed"] == s["true_scrubbed_caption"]).all()


def test_kept_captions_unchanged(engine_and_oracle, fixture_1k):
    _, eng, _ = engine_and_oracle
    m = eng.merge(fixture_1k.pairs[["image_id", "caption"]], on="image_id")
    kept = m[m["decision"] == "keep"]
    assert (kept["caption_scrubbed"].fillna("~") == kept["caption"].fillna("~")).all()


def test_overrides_win(engine_and_oracle, fixture_1k):
    _, eng, _ = engine_and_oracle
    ov = fixture_1k.overrides
    m = eng.merge(ov, on="image_id")
    assert len(m) == len(ov)
    assert (m["decision"] == m["forced_decision"]).all()
    assert (m["rule"] == "override").all()


def test_metrics_rollup(spark, engine_and_oracle, check_rollup):
    """Every column of every bucket equals a pandas rollup of the engine
    output; the fixture has near-dup clusters and overrides, so neither
    of those columns is compared at zero."""
    eng_df, eng, _ = engine_and_oracle
    met = metrics_rollup(eng_df, run_id="t").toPandas()
    assert met["n_neardup_clusters"].sum() > 0 and met["n_overridden"].sum() > 0
    check_rollup(met, eng, "t")
