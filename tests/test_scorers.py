"""Model-based scorers: hashed-ngram NB langid + char-bigram perplexity
(Arrow pandas UDFs) and the image decode/PSNR invariant."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from stop_sync_osm_atlas_spark.fixtures.generator import _CONTENT, generate, write_fixture
from stop_sync_osm_atlas_spark.functions.image import (
    decode_image,
    encode_image,
    psnr,
    synth_pixels,
)
from stop_sync_osm_atlas_spark.functions.langid import (
    langid_hashed_ngram_udf,
    train_langid_model,
)
from stop_sync_osm_atlas_spark.functions.perplexity import (
    perplexity_scores,
    train_char_bigram,
)
from stop_sync_osm_atlas_spark.schemas import PAIRS_SCHEMA


def _training_corpus():
    texts, labels = [], []
    rng = np.random.default_rng(7)
    from stop_sync_osm_atlas_spark.fixtures.generator import _caption

    for lang in sorted(_CONTENT):
        for _ in range(200):
            texts.append(_caption(rng, lang, int(rng.integers(6, 25))))
            labels.append(lang)
    return texts, labels


def test_featurize_matches_scalar_reference():
    """The vectorized FNV-1a featurizer must be BIT-identical to the
    scalar _char_ngrams + _hash_ngram reference (the oracle SQL mirrors
    that arithmetic) across ASCII, multi-byte UTF-8 (2/3/4-byte chars),
    whitespace padding, truncation and degenerate lengths."""
    from stop_sync_osm_atlas_spark.functions.langid import (
        HASH_DIM,
        _char_ngrams,
        _hash_ngram,
        featurize,
    )

    rng = np.random.default_rng(11)
    tricky = [
        "hello world",
        "a",
        "  \t padded  \n",
        "x" * 600,                       # past the 512-char truncation
        "  " + "y" * 600,                # strip vs truncate interaction
        "café naïve über",  # 2-byte chars
        "你好世界",      # 3-byte chars
        "emoji \U0001f600 mix \U0001f680",  # 4-byte chars
        "MiXeD CaSe AND ÉÈ",
        "".join(chr(int(c)) for c in rng.integers(32, 0x2fff, 80)),
    ]
    X = featurize(pd.Series(tricky))
    for i, t in enumerate(tricky):
        ref = np.zeros(HASH_DIM)
        for g in _char_ngrams(t[:512]):
            ref[_hash_ngram(g)] += 1.0
        assert (X[i] == ref).all(), f"mismatch on {t!r}"
    # non-str / blank rows stay zero
    X2 = featurize(pd.Series([None, "", "   ", 3.5]))
    assert (X2 == 0).all()


def test_nb_langid_accuracy(spark):
    texts, labels = _training_corpus()
    model = train_langid_model(texts, labels)
    # fresh held-out captions
    rng = np.random.default_rng(99)
    from stop_sync_osm_atlas_spark.fixtures.generator import _caption

    test_rows = [
        (lang, _caption(rng, lang, int(rng.integers(6, 25))))
        for lang in sorted(_CONTENT)
        for _ in range(50)
    ]
    pdf = pd.DataFrame(test_rows, columns=["lang", "caption"])
    df = spark.createDataFrame(pdf)
    udf = langid_hashed_ngram_udf(model)
    out = df.withColumn("pred", udf(F.col("caption"))).select(
        "lang", F.col("pred.lang").alias("pred")
    ).toPandas()
    acc = (out["lang"] == out["pred"]).mean()
    assert acc >= 0.97, acc


def test_perplexity_separates_gibberish():
    texts, _ = _training_corpus()
    lp = train_char_bigram(texts)
    clean = pd.Series(texts[:50])
    gib = pd.Series(["zxq9 vqk3 pzw7 qjx1 wvz5 xkq2" for _ in range(10)])
    p_clean = perplexity_scores(clean, lp)
    p_gib = perplexity_scores(gib, lp)
    assert np.nanmax(p_clean) < np.nanmin(p_gib), (
        np.nanmax(p_clean), np.nanmin(p_gib)
    )


def test_perplexity_udf_null_for_unscoreable_rows(spark):
    """Blank/None text has NO perplexity: the UDF must emit SQL NULL,
    not NaN — Spark orders NaN above every double, so `ppl > thr`
    (the high_perplexity rule) would fire on every blank row while the
    pandas oracle says False (the three-mirror break the r6 review
    caught)."""
    from pyspark.sql import functions as F

    from stop_sync_osm_atlas_spark.functions.perplexity import perplexity_udf

    texts, _ = _training_corpus()
    lp = train_char_bigram(texts)
    df = spark.createDataFrame(
        pd.DataFrame({"i": [0, 1, 2], "cap": [texts[0], None, ""]})
    )
    out = (
        df.withColumn("ppl", perplexity_udf(lp)(F.col("cap")))
        .withColumn("hi", F.col("ppl") > F.lit(1e9))
        .toPandas()
        .set_index("i")
    )
    assert np.isfinite(out.loc[0, "ppl"])
    assert pd.isna(out.loc[1, "ppl"]) and pd.isna(out.loc[2, "ppl"])
    # the rule comparison falls through as null (never True) on them
    assert out.loc[1, "hi"] is not True and out.loc[2, "hi"] is not True
    assert out.loc[0, "hi"] == False  # a real score still compares


def test_codec_roundtrip_psnr():
    for fmt, check in [("png", lambda p: p == float("inf")), ("jpeg", lambda p: p >= 40)]:
        b = encode_image(123, 64, 64, fmt)
        px, w, h, f2, err = decode_image(b)
        assert err is None and (w, h, f2) == (64, 64, fmt)
        truth = synth_pixels(123, 64, 64)
        assert check(psnr(px, truth))


def test_decode_verdict_matches_oracle_per_row(spark, fixture_1k):
    """The engine's only decode verdict (``decode_validate_inline``'s
    ``dec_ok``) equals the pandas oracle's ``_decode_ok`` on every row
    of the fixture plus crafted edge rows. A PNG whose tEXt seed does
    not match its pixels is a valid image: PNG is lossless and
    CRC-checked, so decode success is its verdict in both mirrors."""
    from stop_sync_osm_atlas_spark.functions.image import (
        decode_validate_inline,
        encode_png,
    )
    from stop_sync_osm_atlas_spark.oracle.oracle import _decode_ok

    png = encode_png(synth_pixels(3, 16, 16), seed=3)
    crc = bytearray(png)
    crc[png.index(b"IDAT") + 9] ^= 0x55
    jpg = encode_image(80, 32, 32, "jpeg")
    crafted = [
        ("seed_mismatch_png", encode_png(synth_pixels(8, 16, 16), seed=7), 16, 16, "png"),
        ("crc_png", bytes(crc), 16, 16, "png"),
        ("real_jpeg", jpg, 32, 32, "jpeg"),
        ("dims_lie_jpeg", jpg, 16, 32, "jpeg"),
    ]
    extra = pd.DataFrame(
        [
            dict(image_id=i, bytes=b, w=w, h=h, fmt=f, caption="x", phash=0)
            for i, b, w, h, f in crafted
        ]
    )
    pdf = pd.concat([fixture_1k.pairs, extra], ignore_index=True)
    pairs = spark.createDataFrame(pdf, PAIRS_SCHEMA)
    eng = dict(decode_validate_inline(pairs).select("image_id", "dec_ok").collect())
    orc = {r.image_id: _decode_ok(r) for r in pdf.itertuples(index=False)}
    assert eng == orc
    assert [eng[i] for i, *_ in crafted] == [True, False, True, False]
    # the fixture's planted corrupt streams fail, the rest decode
    assert 0 < list(eng.values()).count(False) < len(fixture_1k.pairs) // 10


def _stream_oracle(fixture_1k, cfg):
    """The pandas oracle under the stream's semantics: no near-dup hit,
    no byte decode."""
    from stop_sync_osm_atlas_spark.oracle.oracle import run_oracle
    from stop_sync_osm_atlas_spark.operators.rules import RuleConfig

    off = tuple(sorted(set(cfg.disabled_rules) | {"near_duplicate"}))
    return run_oracle(
        fixture_1k.pairs, cfg=RuleConfig(disabled_rules=off), use_decode=False
    )


@pytest.mark.parametrize(
    "disabled", [(), ("near_duplicate", "scrub")], ids=["default", "no_scrub"]
)
def test_streaming_rule_cascade(spark, fixture_paths, fixture_1k, disabled):
    """Per-image decision and rule of the stream equal the pandas
    oracle's, including under disabled rules."""
    from stop_sync_osm_atlas_spark.operators.rules import RuleConfig
    from stop_sync_osm_atlas_spark.streaming.stream import (
        stage_and_drain,
        stream_decisions,
    )

    cfg = RuleConfig(disabled_rules=disabled)
    pairs = spark.read.schema(PAIRS_SCHEMA).parquet(fixture_paths["pairs"])
    out = stage_and_drain(
        spark,
        pairs,
        lambda s, d: stream_decisions(s, d, cfg),
        "stream_decisions",
        tag=f"rule_cascade_{'_'.join(disabled)}",
    ).toPandas()
    got = out.set_index("image_id")[["decision", "rule"]].sort_index()
    want = (
        _stream_oracle(fixture_1k, cfg)
        .set_index("image_id")[["decision", "rule"]]
        .sort_index()
    )
    assert len(got) == len(fixture_1k.pairs)
    pd.testing.assert_frame_equal(got, want)


def test_stream_decisions_plan_has_one_arrow_pass(spark, fixture_paths, tmp_path, capsys):
    """A drained stream_decisions query runs one MapInPandas (the Arrow
    text pass) and no Catalyst regexp_replace scrub ladder."""
    import shutil

    from stop_sync_osm_atlas_spark.streaming.stream import stream_decisions

    d = tmp_path / "stream_plan_in"
    d.mkdir()
    shutil.copy(fixture_paths["pairs"], d / "part-000.parquet")
    q = (
        stream_decisions(spark, str(d))
        .writeStream.format("memory")
        .queryName("stream_plan_out")
        .start()
    )
    try:
        q.processAllAvailable()
        capsys.readouterr()
        q.explain()
        plan = capsys.readouterr().out
    finally:
        q.stop()
    assert "Physical Plan" in plan, plan
    assert plan.count("MapInPandas") == 1, plan
    assert "regexp_replace" not in plan, plan


def test_stage_and_drain_staging_dir_cleanup(spark, tmp_path, monkeypatch):
    """The staging copy lives under the first SPARK_LOCAL_DIRS entry and
    is removed after a drain; when a stream fails to start, the dir is
    removed too and no started query is left running."""
    import os

    from stop_sync_osm_atlas_spark.streaming.stream import stage_and_drain_many

    local = tmp_path / "local"
    monkeypatch.setenv("SPARK_LOCAL_DIRS", f"{local},{tmp_path / 'other'}")
    staged: list[str] = []

    def ids(spark, d):
        staged.append(d)
        assert os.path.isdir(d)
        return spark.readStream.schema("id long").parquet(d)

    def broken(spark, d):
        staged.append(d)
        raise RuntimeError("stream build failed")

    df = spark.range(10)
    out = stage_and_drain_many(spark, df, [(ids, "staged_ids", "append")], "t1")
    assert out["staged_ids"].count() == 10
    assert os.path.dirname(staged[0]) == str(local)
    assert not os.path.exists(staged[0])

    staged.clear()
    specs = [(ids, "staged_ok", "append"), (broken, "staged_broken", "append")]
    with pytest.raises(RuntimeError, match="stream build failed"):
        stage_and_drain_many(spark, df, specs, "t2")
    assert staged[0] == staged[1] and os.path.dirname(staged[0]) == str(local)
    assert not os.path.exists(staged[0])
    assert spark.streams.active == []


def test_stage_and_drain_checkpoints_beside_staging(spark, tmp_path, monkeypatch):
    """Each query checkpoints next to the staging dir under
    SPARK_LOCAL_DIRS — not in a temporary-* dir under java.io.tmpdir,
    Spark's default for a memory sink — and both go after the drain.
    The second spec is built after the first query started, so it sees
    that query's checkpoint."""
    import glob
    import os

    from stop_sync_osm_atlas_spark.streaming.stream import stage_and_drain_many

    local = tmp_path / "local"
    monkeypatch.setenv("SPARK_LOCAL_DIRS", str(local))
    jtmp = spark._jvm.java.lang.System.getProperty("java.io.tmpdir")

    def spark_temps():
        return set(glob.glob(os.path.join(jtmp, "temporary-*")))

    before = spark_temps()
    seen: dict = {}

    def ids(spark, d):
        return spark.readStream.schema("id long").parquet(d)

    def probe(spark, d):
        seen["temps"] = spark_temps() - before
        seen["local"] = sorted(os.listdir(local))
        return ids(spark, d)

    specs = [(ids, "ckpt_a", "append"), (probe, "ckpt_b", "append")]
    out = stage_and_drain_many(spark, spark.range(10), specs, "ckpt")
    assert out["ckpt_a"].count() == 10 and out["ckpt_b"].count() == 10
    assert seen["temps"] == set()
    staging = [n for n in seen["local"] if not n.endswith("_ckpt")]
    assert seen["local"] == [staging[0], staging[0] + "_ckpt"]
    assert os.listdir(local) == []
    assert spark_temps() - before == set()


def test_streaming_windowed_metrics(spark, fixture_paths, fixture_1k, tmp_path):
    """Watermarked tumbling-window metrics over the decision stream."""
    import shutil

    from stop_sync_osm_atlas_spark.operators.rules import RuleConfig
    from stop_sync_osm_atlas_spark.streaming.stream import stage_and_drain, stream_metrics

    d = tmp_path / "stream_in2"
    d.mkdir()
    shutil.copy(fixture_paths["pairs"], d / "part-000.parquet")
    q = (
        stream_metrics(spark, str(d))
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("stream_metrics_out")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    # append mode only emits windows the watermark has closed; a single
    # micro-batch leaves them open, so assert on the query's progress
    # instead: all input rows were processed into state.
    total = sum(p["numInputRows"] for p in q.recentProgress)
    assert total == len(fixture_1k.pairs)

    # complete mode emits the open windows: summed over windows, the
    # per-decision counts are the oracle's
    pairs = spark.read.schema(PAIRS_SCHEMA).parquet(fixture_paths["pairs"])
    sink = stage_and_drain(
        spark, pairs, stream_metrics, "stream_metrics_complete", "metrics",
        output_mode="complete",
    )
    got = sink.groupBy("decision").agg(F.sum("n").alias("n")).toPandas()
    want = _stream_oracle(fixture_1k, RuleConfig())["decision"].value_counts()
    assert dict(zip(got["decision"], got["n"].astype(int))) == {
        k: int(v) for k, v in want.items()
    }


def test_streaming_sessionize_matches_batch(spark, tmp_path):
    """applyInPandasWithState sessionizer == the batch window sessionizer
    on a single micro-batch (streaming/stream.stream_sessionize)."""
    import shutil

    from pyspark.sql import functions as F
    from pyspark.sql import Window as W

    from stop_sync_osm_atlas_spark.streaming.stream import stream_sessionize

    src = "/root/testdata/sf0.001/events.parquet"
    d = str(tmp_path / "events_in")
    ev_in = spark.read.parquet(src)
    # plant two fractional-gap users at the 1800 s boundary: gap
    # 1800.000001 s (opens a session) and exactly 1800.0 s (does not).
    # Truncating seconds (the old unix_timestamp batch arm) calls both
    # 1800; the integer-microsecond arithmetic all mirrors now share
    # must separate them identically in batch and stream.
    import pandas as _pd

    base = _pd.Timestamp("2024-01-01 00:00:00.250000")
    # ...plus null-ts hardening: 990003 has one NaT event among valid
    # ones (must be ignored, not poison last_ts with INT64_MIN or open
    # a spurious session) and 990004 has ONLY NaT events (must be
    # absent from the output of both arms)
    planted = spark.createDataFrame(
        _pd.DataFrame(
            {
                "event_id": [900001, 900002, 900003, 900004, 900005,
                             900006, 900007],
                "user_id": [990001, 990001, 990002, 990002, 990003,
                            990003, 990004],
                "ts": [
                    base,
                    base + _pd.Timedelta(microseconds=1_800_000_001),
                    base,
                    base + _pd.Timedelta(microseconds=1_800_000_000),
                    base,
                    _pd.NaT,
                    _pd.NaT,
                ],
            }
        )
    ).select(*[c for c in ["event_id", "user_id", "ts"] ])
    for c in ev_in.columns:
        if c not in planted.columns:
            planted = planted.withColumn(c, F.lit(None).cast(ev_in.schema[c].dataType))
    ev_in.unionByName(planted.select(ev_in.columns)).write.parquet(d)

    q = (
        stream_sessionize(spark, d)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("sess_stream")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = spark.sql("SELECT * FROM sess_stream").toPandas().set_index("user_id")

    # the q19 contract: null-ts events are excluded in every mirror
    ev = spark.read.parquet(d).where(F.col("ts").isNotNull())
    win = W.partitionBy("user_id").orderBy("ts", "event_id")
    ts_us = F.unix_micros(F.col("ts").cast("timestamp_ltz"))
    gap = ts_us - F.lag(ts_us).over(win)
    batch = (
        ev.withColumn(
            "new_sess",
            F.when(gap.isNull() | (gap > 1_800_000_000), 1).otherwise(0),
        )
        .groupBy("user_id")
        .agg(F.sum("new_sess").alias("n_sessions"), F.count("*").alias("n_events"))
        .toPandas()
        .set_index("user_id")
    )
    assert len(got) == len(batch)
    assert (got["n_sessions"].sort_index() == batch["n_sessions"].sort_index()).all()
    assert (got["n_events"].sort_index() == batch["n_events"].sort_index()).all()
    # the planted boundary users resolved the same way in both engines
    assert got.loc[990001, "n_sessions"] == 2  # 1800.000001 s gap
    assert got.loc[990002, "n_sessions"] == 1  # exactly 1800.0 s gap
    # null-ts hardening: the NaT event neither counts nor poisons state
    assert got.loc[990003, "n_sessions"] == 1
    assert got.loc[990003, "n_events"] == 1
    assert 990004 not in got.index  # only-NaT user: no output row
    shutil.rmtree(d)


def test_streaming_exact_dedup(spark, fixture_paths, tmp_path):
    """dropDuplicatesWithinWatermark keeps exactly one row per content
    fingerprint (streaming/stream.stream_exact_dedup)."""
    import shutil

    from stop_sync_osm_atlas_spark.streaming.stream import stream_exact_dedup

    d = str(tmp_path / "pairs_in")  # FileStreamSource needs a directory
    spark.read.parquet(fixture_paths["pairs"]).write.parquet(d)
    q = (
        stream_exact_dedup(spark, d)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_stream")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = spark.sql("SELECT * FROM dedup_stream").toPandas()
    n_in = spark.read.parquet(fixture_paths["pairs"]).count()
    assert got["fp"].is_unique
    assert 0 < len(got) < n_in  # planted near-dup clusters share captions
    shutil.rmtree(d)


def test_q53_stream_dedup_repeatable_in_session(spark):
    """The graded q53 must be re-runnable in one session (fixed memory
    sink name is released on stop; temp parquet is overwritten) and
    deterministic — two invocations yield the identical fingerprint
    set."""
    import __spark_entry__ as entry

    a = set(r["fp"] for r in entry.q53_stream_dedup(spark, "/root/testdata/sf0.001").collect())
    b = set(r["fp"] for r in entry.q53_stream_dedup(spark, "/root/testdata/sf0.001").collect())
    assert a == b and len(a) > 0
