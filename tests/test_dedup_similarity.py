"""Dedup pack + similarity search quality tests (training-data ops)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from stop_sync_osm_atlas_spark.operators import dedup as DD
from stop_sync_osm_atlas_spark.operators import similarity as SIM


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog today"),
        (2, "the quick brown fox jumps over the lazy dog today"),  # exact dup of 1
        (3, "the quick brown fox jumps over the lazy cat today"),  # near dup of 1
        (4, "completely different text about spark query engines"),
        (5, "another unrelated document mentioning database joins"),
    ]
    return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))


def test_word_shingles_short_docs_survive_ansi(spark):
    """Docs with < n words must yield NO shingle rows, not an ANSI
    INVALID_ARRAY_INDEX_IN_ELEMENT_AT job kill: sequence(1, 0) returns
    [1, 0] (negative-step inference), which once drove element_at past
    the array end for every sub-n-word document."""
    texts = ["", "one", "one two", "one two three four"]
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(4), "text": texts})
    )
    sh = DD.shingle_rows(df).toPandas()
    assert sorted(sh.shingle) == ["one two three", "two three four"]
    assert set(sh.id) == {3}
    # the signatures over them must not throw either; only doc 3 has one
    assert DD.minhash_signatures(df).toPandas().id.tolist() == [3]


def test_exact_dedup(docs):
    out = DD.exact_dedup(docs).toPandas().set_index("doc_id")
    assert out.loc[1, "dup_count"] == 2 and out.loc[2, "dup_count"] == 2
    assert out.loc[1, "is_canonical"] and not out.loc[2, "is_canonical"]
    assert out.loc[3, "dup_count"] == 1


def test_ngram_jaccard(docs):
    out = DD.ngram_jaccard_pairs(docs, threshold=0.3).toPandas()
    pairs = {(r.a_id, r.b_id): r.jaccard for r in out.itertuples()}
    assert pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs and 0.3 <= pairs[(1, 3)] < 1.0
    assert (1, 4) not in pairs and (4, 5) not in pairs


def test_minhash_estimates_jaccard(spark):
    # 60 docs in 20 near-dup triplets; est jaccard within 0.3 abs of true
    rng = np.random.default_rng(5)
    vocab = [f"tok{i}" for i in range(200)]
    rows = []
    for g in range(20):
        base = list(rng.choice(vocab, 30, replace=False))
        for v in range(3):
            words = base.copy()
            for _ in range(v * 3):
                words[int(rng.integers(len(words)))] = str(rng.choice(vocab))
            rows.append((g * 3 + v, " ".join(words)))
    docs = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    est = DD.minhash_lsh_pairs(docs, threshold=0.2).toPandas()
    true = DD.ngram_jaccard_pairs(docs, threshold=0.0).toPandas()
    m = est.merge(true, on=["a_id", "b_id"])
    assert len(m) > 10
    assert (m["est_jaccard"] - m["jaccard"]).abs().mean() < 0.25


def test_minhash_hot_band_key_guard(spark, monkeypatch):
    """Planted hot band key: a viral family identical in every band must
    produce the IDENTICAL pair set under aggressive salt striping
    (including the LSH_MAX_SALT residual cap binding) as under the
    effectively-unguarded plan — the guard redistributes the quadratic
    enumeration, it never changes the output."""
    rng = np.random.default_rng(7)
    vocab = [f"tok{i}" for i in range(300)]
    family = " ".join(rng.choice(vocab, 40, replace=False))
    rows = [(i, family) for i in range(60)]  # hot: every band key k=60
    for i in range(60, 90):  # cold background docs
        rows.append((i, " ".join(rng.choice(vocab, 30, replace=False))))
    docs = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    default_max_salt = DD.LSH_MAX_SALT

    def pairs(salt_rows, max_salt):
        monkeypatch.setattr(DD, "LSH_SALT_ROWS", salt_rows)
        monkeypatch.setattr(DD, "LSH_MAX_SALT", max_salt)
        out = DD.minhash_lsh_pairs(docs, threshold=0.2).toPandas()
        return sorted(map(tuple, out.values.tolist()))

    # LSH_SALT_ROWS=8 -> ceil(60/8)=8 stripes, capped at LSH_MAX_SALT=4
    # (the residual-skew contract binds); unguarded = salt rows past k
    g = pairs(8, 4)
    u = pairs(10**6, default_max_salt)
    assert g == u
    # the family alone contributes C(60,2) est=1.0 pairs, each exactly once
    fam = [t for t in g if t[0] < 60 and t[1] < 60]
    assert len(fam) == 60 * 59 // 2
    assert all(t[2] == 1.0 for t in fam)


@pytest.mark.parametrize(
    "salt_rows, max_salt", [(3, 8), (2, 3)], ids=["uncapped", "cap_binding"]
)
def test_striped_self_join_equals_plain_self_join(spark, salt_rows, max_salt):
    """Every (a, b) row pair sharing a key comes out exactly once,
    identity pairs and both orders included — the plain self-join's
    multiset — for a hot key of 20 rows with distinct salt_of values
    (7 slices at (3, 8); the cap binds at (2, 3)), a mid key and a
    cold key. A dropped slice loses the pairs of every a row hashed to
    it."""
    from collections import Counter

    sizes = {"hot": 20, "mid": 5, "cold": 1}
    rows = [(k, f"{k}{i}") for k, n in sizes.items() for i in range(n)]
    kn = spark.createDataFrame(pd.DataFrame(rows, columns=["k", "v"]))
    got = Counter(
        (r["v_a"], r["v_b"])
        for r in DD.striped_self_join(kn, ["k"], "v", salt_rows, max_salt).collect()
    )
    want = Counter((a, b) for ka, a in rows for kb, b in rows if ka == kb)
    assert got == want


def test_lsh_pairs_pass_the_lsh_salt_constants(spark, docs, monkeypatch):
    """minhash_lsh_pairs reads LSH_SALT_ROWS / LSH_MAX_SALT at call
    time and hands them to striped_self_join."""
    calls = []
    orig = DD.striped_self_join

    def spy(kn, keys, salt_of, salt_rows, max_salt):
        calls.append((keys, salt_of, salt_rows, max_salt))
        return orig(kn, keys, salt_of, salt_rows, max_salt)

    monkeypatch.setattr(DD, "striped_self_join", spy)
    monkeypatch.setattr(DD, "LSH_SALT_ROWS", 5)
    monkeypatch.setattr(DD, "LSH_MAX_SALT", 7)
    DD.minhash_lsh_pairs(docs)
    assert calls == [(["bk"], "id", 5, 7)]


def test_simhash_neardups_close(docs):
    out = DD.simhash_table(docs).toPandas()
    sh = dict(zip(out["doc_id"], out["simhash"]))
    def ham(a, b):
        return bin((a ^ b) & ((1 << 60) - 1)).count("1")
    assert ham(sh[1], sh[2]) == 0                # identical text
    assert ham(sh[1], sh[3]) < ham(sh[1], sh[4])  # near dup closer than unrelated


def test_lsh_ann_recall(spark):
    sf = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    queries = emb.filter(F.col("vec_id") < 10)
    exact = SIM.cosine_topk(emb, queries, k=5).toPandas()
    approx = SIM.lsh_cosine_topk(emb, queries, k=5, dim=64).toPandas()
    e = set(zip(exact["q_id"], exact["c_id"]))
    a = set(zip(approx["q_id"], approx["c_id"]))
    recall = len(e & a) / len(e)
    assert recall >= 0.3, recall  # banded 16-bit sketch on random vectors


def test_similarity_survives_degenerate_embeddings(spark):
    """NULL, empty and all-zero embeddings must neither crash an Arrow
    batch (np stacking a None raises ValueError) nor rank first (0/0 ->
    NaN sorts ABOVE every double in Spark's total order): every
    similarity op filters NULL/empty rows up front and scores zero-norm
    vectors NULL cosine."""
    import pyspark.sql.types as ST

    rng = np.random.default_rng(5)
    rows = [(i, [float(x) for x in rng.standard_normal(8)]) for i in range(20)]
    rows += [(100, None), (101, []), (102, [0.0] * 8)]
    schema = ST.StructType(
        [
            ST.StructField("vec_id", ST.LongType()),
            ST.StructField("embedding", ST.ArrayType(ST.DoubleType())),
        ]
    )
    emb = spark.createDataFrame(rows, schema)
    queries = emb.filter(F.col("vec_id") < 3)
    bad = {100, 101, 102}

    topk = SIM.cosine_topk(emb, queries, k=3).toPandas()
    assert len(topk) and not (set(topk["c_id"]) & bad)
    lsh = SIM.lsh_cosine_topk(
        emb, queries, k=3, dim=8, n_planes=8, n_bands=4
    ).toPandas()
    assert not (set(lsh["c_id"]) & bad)
    ivf = SIM.ivf_cosine_topk(
        emb, queries, k=3, n_centroids=4, n_probe=4
    ).toPandas()
    assert len(ivf) and not (set(ivf["c_id"]) & bad)
    pairs = SIM.cosine_pairs(emb, threshold=-2.0).toPandas()
    assert len(pairs) and not (
        (set(pairs["a_id"]) | set(pairs["b_id"])) & bad
    )
    banded = SIM.cosine_neardup_pairs(
        emb, threshold=-2.0, dim=8, n_planes=8, n_bands=4
    ).toPandas()
    assert not ((set(banded["a_id"]) | set(banded["b_id"])) & bad)
    quant = SIM.quantize_embeddings(emb).toPandas()
    assert set(quant["vec_id"]) == set(range(20)) | {102}
    z = quant.set_index("vec_id").loc[102]
    assert z["scale"] == 0.0 and z["recon_err"] == 0.0


def test_shingle_df_cap_kills_quadratic_blowup(spark):
    # pathological corpus: every doc shares one boilerplate sentence ->
    # uncapped blocking joins all pairs; the cap drops the hot shingle
    # and keeps only genuinely-similar pairs
    boiler = "all rights reserved copyright twothousand example incorporated"
    rows = [(i, f"unique token{i} sentence number {i} " + boiler) for i in range(60)]
    rows.append((100, "unique token1 sentence number 1 " + boiler))  # near-dup of 1
    docs = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    capped = DD.ngram_jaccard_pairs(docs, threshold=0.3, max_shingle_df=10).toPandas()
    # only the planted near-dup pair survives; the 61*60/2 boilerplate
    # pairs never enter the join
    assert set(zip(capped.a_id, capped.b_id)) == {(1, 100)}
    uncapped = DD.ngram_jaccard_pairs(docs, threshold=0.3).toPandas()
    assert len(uncapped) > 1000  # the blow-up the cap is protecting against


def test_banded_cosine_pairs_subset_with_recall(spark):
    # 30 planted near-dup pairs (tiny perturbations) + noise vectors:
    # banded output must be an exact SUBSET of brute force, with recall
    # >= 0.8 at near-dup thresholds
    rng = np.random.default_rng(11)
    rows = []
    vid = 0
    for g in range(30):
        v = rng.standard_normal(64)
        v /= np.linalg.norm(v)
        w = v + rng.standard_normal(64) * 0.05
        w /= np.linalg.norm(w)
        rows += [(vid, v.tolist()), (vid + 1, w.tolist())]
        vid += 2
    for _ in range(60):
        u = rng.standard_normal(64)
        rows.append((vid, (u / np.linalg.norm(u)).tolist()))
        vid += 1
    emb = spark.createDataFrame(pd.DataFrame(rows, columns=["vec_id", "embedding"]))
    brute = SIM.cosine_pairs(emb, threshold=0.9).toPandas()
    banded = SIM.cosine_neardup_pairs(
        emb, threshold=0.9, dim=64, n_planes=32, n_bands=8
    ).toPandas()
    bset = set(zip(brute.a_id, brute.b_id))
    nset = set(zip(banded.a_id, banded.b_id))
    assert nset <= bset
    assert len(bset) >= 25
    assert len(nset) / len(bset) >= 0.8


def test_hash_sample_deterministic_and_consistent(spark):
    from stop_sync_osm_atlas_spark.operators.sampling import hash_sample

    d = spark.range(0, 10000).withColumnRenamed("id", "doc_id")
    s1 = hash_sample(d, rate_buckets=100, n_buckets=1000).toPandas()
    s2 = hash_sample(d.repartition(7), rate_buckets=100, n_buckets=1000).toPandas()
    assert sorted(s1.doc_id) == sorted(s2.doc_id)  # partitioning-invariant
    assert 0.06 < len(s1) / 10000 < 0.14  # ~10% rate
    # monotone: a larger rate strictly contains the smaller sample
    s3 = hash_sample(d, rate_buckets=200, n_buckets=1000).toPandas()
    assert set(s1.doc_id) <= set(s3.doc_id)


def test_strict_merge_tiers(spark):
    """J7 micro-case: each tier fires on the right row, in order
    (reference get_atlas_data.py:488-576)."""
    from stop_sync_osm_atlas_spark.operators.merge import strict_merge_with_fallbacks

    probe = spark.createDataFrame(
        pd.DataFrame(
            [
                ("s1", "100", "7"),    # strict: (100, 7) exists in build
                ("s2", "200", "9"),    # no strict, key 200 unique -> fb1
                ("s3", "300", "5"),    # no strict, 2 candidates, token 5 -> fb2
                ("s4", "300", "99"),   # no strict, no token match -> unmatched
                ("s5", "400", None),   # null k2: fb2 must NOT fire; 2 cands -> unmatched
            ],
            columns=["probe_id", "k1", "k2"],
        )
    )
    build = spark.createDataFrame(
        pd.DataFrame(
            [
                ("a:100:7", "100", "7"),
                ("b:200:1", "200", "1"),
                ("c:300:5", "300", "8"),   # designation 8 != id token 5
                ("d:300:6", "300", "6"),
                ("e:400:2", "400", "2"),
                ("f:400:3", "400", "3"),
            ],
            columns=["build_id", "k1", "k2"],
        )
    )
    out = strict_merge_with_fallbacks(probe, build).toPandas().set_index("probe_id")
    assert out.loc["s1", "tier"] == "strict" and out.loc["s1", "build_id"] == "a:100:7"
    assert out.loc["s2", "tier"] == "unique_by_key" and out.loc["s2", "build_id"] == "b:200:1"
    assert out.loc["s3", "tier"] == "suffix_token" and out.loc["s3", "build_id"] == "c:300:5"
    assert "s4" not in out.index and "s5" not in out.index


def test_strict_merge_numeric_key2_survives_text_tokens(spark):
    """Tier-3 with an INT key2 against build ids whose last ':'-token
    is non-numeric: under Spark 4 ANSI the old string==int comparison
    coerced the token and threw CAST_INVALID_INPUT on 'x:300:west',
    killing the merge; try_cast makes it a clean no-match."""
    import pyspark.sql.types as ST

    from stop_sync_osm_atlas_spark.operators.merge import (
        strict_merge_with_fallbacks,
    )

    probe = spark.createDataFrame(
        [("s1", "300", 5), ("s2", "300", 99)],
        ST.StructType(
            [
                ST.StructField("probe_id", ST.StringType()),
                ST.StructField("k1", ST.StringType()),
                ST.StructField("k2", ST.IntegerType()),
            ]
        ),
    )
    build = spark.createDataFrame(
        [
            ("c:300:5", "300", 8),
            ("x:300:west", "300", 6),  # non-numeric suffix token
        ],
        ST.StructType(
            [
                ST.StructField("build_id", ST.StringType()),
                ST.StructField("k1", ST.StringType()),
                ST.StructField("k2", ST.IntegerType()),
            ]
        ),
    )
    out = (
        strict_merge_with_fallbacks(probe, build)
        .toPandas()
        .set_index("probe_id")
    )
    assert out.loc["s1", "tier"] == "suffix_token"
    assert out.loc["s1", "build_id"] == "c:300:5"
    assert "s2" not in out.index


def test_apply_overrides_conflicts_resolve_deterministically(spark):
    """Two override rows for one image must resolve by
    max(forced_decision) — dropDuplicates kept an arbitrary scan-order
    winner, which varied with file layout and broke byte-identical
    resume; the pandas oracle mirrors the same max."""
    from stop_sync_osm_atlas_spark.operators.overrides import apply_overrides

    dec = spark.createDataFrame(
        pd.DataFrame(
            {
                "image_id": ["i1", "i2"],
                "decision": ["keep", "keep"],
                "rule": ["keep", "keep"],
                "severity": [9, 9],
                "reasons": [[], []],
            }
        )
    )
    ov = spark.createDataFrame(
        pd.DataFrame(
            {
                "image_id": ["i1", "i1", "i1"],
                "forced_decision": ["drop", "scrub", "keep"],
            }
        )
    )
    out = apply_overrides(dec, ov).toPandas().set_index("image_id")
    assert out.loc["i1", "decision"] == "scrub"  # max('drop','keep','scrub')
    assert out.loc["i1", "rule"] == "override"
    assert out.loc["i2", "decision"] == "keep" and not out.loc["i2", "overridden"]


def test_arrow_sketch_equals_expression_sketch(spark):
    """The Arrow-batched hyperplane sketch must be bit-identical to the
    Catalyst-expression reference implementation (signbit_sketch is the
    SQL-shaped contract; signbit_sketch_udf is the hot path)."""
    rng = np.random.default_rng(21)
    rows = [(i, rng.standard_normal(16).tolist()) for i in range(200)]
    emb = spark.createDataFrame(pd.DataFrame(rows, columns=["vec_id", "embedding"]))
    planes = SIM._hyperplanes(dim=16, n_planes=16, seed=7)
    both = emb.select(
        "vec_id",
        SIM.signbit_sketch(F.col("embedding").cast("array<double>"), planes).alias("expr_sk"),
        SIM.signbit_sketch_udf(planes)(F.col("embedding").cast("array<double>")).alias("arrow_sk"),
    ).toPandas()
    assert (both["expr_sk"] == both["arrow_sk"]).all()


def test_arrow_cosine_equals_expression_cosine(spark):
    """Every similarity projection now runs the Arrow cosine; the
    expression `cosine` remains the SQL-shaped contract — pin the two
    equal at the graded 6-decimal rounding, including the shared NULL
    verdict on zero-norm vectors."""
    rng = np.random.default_rng(33)
    rows = [
        (i, rng.standard_normal(16).tolist(), rng.standard_normal(16).tolist())
        for i in range(300)
    ]
    rows.append((300, [0.0] * 16, rng.standard_normal(16).tolist()))
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["i", "a", "b"]))
    both = df.select(
        "i",
        F.round(
            SIM.cosine(
                F.col("a").cast("array<double>"), F.col("b").cast("array<double>")
            ),
            6,
        ).alias("expr_cos"),
        F.round(
            SIM.cosine_arrow_udf()(
                F.col("a").cast("array<double>"), F.col("b").cast("array<double>")
            ),
            6,
        ).alias("arrow_cos"),
    ).toPandas()
    zero = both.set_index("i").loc[300]
    assert pd.isna(zero["expr_cos"]) and pd.isna(zero["arrow_cos"])
    rest = both[both["i"] != 300]
    assert (rest["expr_cos"] == rest["arrow_cos"]).all()


def test_ivf_ann_recall(spark):
    """IVF probes 4/16 buckets and must still recover most exact
    neighbors (operators/similarity.ivf_cosine_topk)."""
    sf = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    queries = emb.filter(F.col("vec_id") < 10)
    exact = SIM.cosine_topk(emb, queries, k=5).toPandas()
    ivf = SIM.ivf_cosine_topk(emb, queries, k=5).toPandas()
    e = set(zip(exact["q_id"], exact["c_id"]))
    a = set(zip(ivf["q_id"], ivf["c_id"]))
    assert a <= set(zip(ivf["q_id"], ivf["c_id"]))  # sanity
    recall = len(e & a) / len(e)
    assert recall >= 0.3, recall  # 4/16 euclidean probes on random vectors


def test_pack_bins_budget_and_order(spark):
    """Sequence packing: cumulative chunking respects the budget except
    for straddlers, never splits a doc, covers every doc exactly once."""
    from stop_sync_osm_atlas_spark.operators.packing import pack_bins

    rows = [(i, "g", 100 + (i % 7) * 40) for i in range(50)]  # tokens 100..340
    docs = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "lang", "tok"]))
    out = (
        pack_bins(docs, F.col("tok"), budget=512, part_col="lang", order_col="doc_id")
        .toPandas()
        .sort_values("bin")
        .reset_index(drop=True)
    )
    assert out.n_docs.sum() == 50  # exactly once
    # bins are contiguous doc ranges: next first_doc = prev last_doc + 1
    assert (out.first_doc.iloc[1:].to_numpy() == out.last_doc.iloc[:-1].to_numpy() + 1).all()
    # each bin starts before the budget line: total - last doc's tokens < 512
    toks = dict(rows_to := {i: 100 + (i % 7) * 40 for i in range(50)})
    for r in out.itertuples():
        assert r.total_tokens - toks[r.last_doc] < 512


def test_pack_bins_sharded_single_key(spark):
    """shards>1 parallelizes a single Zipfian key: packing runs per
    (key, shard) and bin ids renumber densely per key; every doc packs
    exactly once, totals conserve, and no bin starts past the budget."""
    from stop_sync_osm_atlas_spark.operators.packing import pack_bins

    rows = [(i, "en", 50 + (i % 13) * 20) for i in range(400)]
    docs = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "lang", "tok"]))
    out = (
        pack_bins(docs, F.col("tok"), budget=500, part_col="lang",
                  order_col="doc_id", shards=8)
        .toPandas()
        .sort_values("bin")
        .reset_index(drop=True)
    )
    toks = {i: 50 + (i % 13) * 20 for i in range(400)}
    assert out.n_docs.sum() == 400
    assert out.total_tokens.sum() == sum(toks.values())
    # dense global renumbering: bins are exactly 0..n-1
    assert sorted(out.bin.tolist()) == list(range(len(out)))
    # chunking contract holds within every shard: a bin minus its last
    # doc is under budget
    for r in out.itertuples():
        assert r.total_tokens - toks[r.last_doc] < 500


def test_clean_lines_dedup_and_boilerplate(spark):
    """C4-style line cleaning: within-doc repeat lines collapse to the
    first occurrence, corpus-wide boilerplate (> max_line_df docs)
    drops everywhere, order is preserved, blanks survive."""
    from stop_sync_osm_atlas_spark.operators.lines import clean_lines

    boiler = "Accept cookies to continue"
    rows = [
        (1, f"alpha one\n{boiler}\nbody text 1\nbody text 1\n\nend 1"),
        (2, f"{boiler}\nbody text 2\nend 2"),
        (3, f"body text 3\n{boiler}\nend 3"),
        (4, "unique doc\nno boilerplate here"),
        (5, None),
    ]
    docs = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    out = (
        clean_lines(docs, max_line_df=2)
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    # boilerplate (3 docs > max_line_df=2) removed everywhere
    assert boiler not in out.loc[1, "text_clean"]
    assert out.loc[2, "text_clean"] == "body text 2\nend 2"
    assert out.loc[3, "text_clean"] == "body text 3\nend 3"
    # within-doc repeat collapsed, blank separator preserved, order kept
    assert out.loc[1, "text_clean"] == "alpha one\nbody text 1\n\nend 1"
    # untouched doc round-trips
    assert out.loc[4, "text_clean"] == "unique doc\nno boilerplate here"
    assert out.loc[4, "n_lines_in"] == out.loc[4, "n_lines_kept"] == 2
    # null text -> empty, zero kept
    assert out.loc[5, "text_clean"] == "" and out.loc[5, "n_lines_kept"] <= 1


def test_quantize_embeddings_error_bound(spark):
    """int8 quantization: recon error bounded by scale/2 * sqrt(dim),
    zero vector handled."""
    rng = np.random.default_rng(3)
    rows = [(i, rng.standard_normal(64).tolist()) for i in range(50)]
    rows.append((99, [0.0] * 64))
    emb = spark.createDataFrame(pd.DataFrame(rows, columns=["vec_id", "embedding"]))
    out = SIM.quantize_embeddings(emb).toPandas().set_index("vec_id")
    assert out.loc[99, "scale"] == 0.0 and out.loc[99, "recon_err"] == 0.0
    nz = out.drop(99)
    assert (nz.scale > 0).all()
    bound = nz.scale / 2 * np.sqrt(64) + 1e-9
    assert (nz.recon_err <= bound).all()


def test_tfidf_topk_semantics(spark):
    """TF-IDF: corpus-wide terms score ~0, distinctive terms rank first,
    ties break on the term string (operators/keywords.tfidf_topk)."""
    from stop_sync_osm_atlas_spark.operators.keywords import tfidf_topk

    rows = [
        (1, "common common zebra zebra zebra"),
        (2, "common yak"),
        (3, "common ант"),  # distinct unicode term
        (4, "common"),
    ]
    out = (
        tfidf_topk(
            spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"])), k=2
        )
        .toPandas()
    )
    top = out[out["rank"] == 1].set_index("doc_id")
    assert top.loc[1, "term"] == "zebra"  # tf=3, df=1 beats common (idf=0)
    assert top.loc[2, "term"] == "yak"
    # 'common' appears in every doc -> idf = ln(4/4) = 0 -> score 0
    common = out[out.term == "common"]
    assert (common.tfidf == 0.0).all()


@pytest.mark.parametrize("seed", [20260816, 1, 2, 3, 4])
def test_clean_lines_matches_pandas_reference_randomized(spark, seed):
    """Engine-vs-reference on a random corpus: clean_lines must equal a
    direct single-threaded implementation of its 4-step contract for
    every document, including blank-line survival and empty docs."""
    from collections import Counter

    rng = np.random.default_rng(seed)
    # " spaced " vs "\t spaced \t": collide into ONE form only under the
    # full ASCII-ws trim (space-only trim kept the tabs and split them
    # into different boilerplate classes than this python reference)
    # bullet-start and ellipsis-end forms included so the fused
    # with_stats path is exercised with occurrence counts > 1 (random
    # draws repeat them within a doc) — the c-weighting of the format
    # fractions is asserted against standalone line_stats below
    vocab = ["alpha beta", "  Cookie Banner  ", "cookie banner", "x", "",
             " nav | home ", "unique-%d", "Tail text here", "\t spaced \t",
             " spaced ", "- bullet item", "* other bullet", "read more...",
             " teaser… "]
    docs = []
    for i in range(120):
        n = int(rng.integers(0, 9))
        lines = []
        for j in range(n):
            t = vocab[int(rng.integers(0, len(vocab)))]
            lines.append(t % (i * 10 + j) if "%d" in t else t)
        docs.append((f"d{i:03d}", "\n".join(lines)))
    max_df = 3

    # reference: the documented contract, computed directly
    from stop_sync_osm_atlas_spark.functions.text import ASCII_WS

    norm = lambda s: s.strip(ASCII_WS).lower()
    split = {did: t.split("\n") for did, t in docs}
    first = {}
    for did in sorted(split):
        seen = set()
        kept = []
        for pos, ln in enumerate(split[did]):
            f = norm(ln)
            if f == "" or f not in seen:
                seen.add(f)
                kept.append((pos, ln, f))
        first[did] = kept
    df_count = Counter()
    for did, kept in first.items():
        for f in {f for _, _, f in kept if f != ""}:
            df_count[f] += 1
    boiler = {f for f, c in df_count.items() if c > max_df}
    expect = {}
    for did, kept in first.items():
        surv = [(pos, ln) for pos, ln, f in kept if f not in boiler]
        expect[did] = ("\n".join(ln for _, ln in surv), len(split[did]), len(surv))

    from stop_sync_osm_atlas_spark.operators.lines import clean_lines

    sdf = spark.createDataFrame(pd.DataFrame(docs, columns=["doc_id", "text"])).repartition(7)
    got = {r["doc_id"]: (r["text_clean"], r["n_lines_in"], r["n_lines_kept"])
           for r in clean_lines(sdf, max_line_df=max_df).collect()}

    assert set(got) == set(expect)
    bad = [d for d in sorted(expect) if got[d] != expect[d]]
    assert not bad, (bad[:3], [(got[d], expect[d]) for d in bad[:2]])

    # with_stats=True must (a) leave the cleaning output untouched and
    # (b) emit fracs identical to the standalone line_stats operator —
    # the ride-along equivalence prepare_corpus's repetition rule rests on
    from stop_sync_osm_atlas_spark.operators.lines import line_stats

    ws = {r["doc_id"]: r.asDict()
          for r in clean_lines(sdf, max_line_df=max_df, with_stats=True).collect()}
    ls = {r["doc_id"]: r.asDict() for r in line_stats(sdf).collect()}
    for did in expect:
        assert (ws[did]["text_clean"], ws[did]["n_lines_in"],
                ws[did]["n_lines_kept"]) == expect[did]
        for c in (
            "dup_line_frac",
            "dup_line_char_frac",
            "bullet_line_frac",
            "ellipsis_line_frac",
        ):
            assert ws[did][c] == ls[did][c], (did, c)


def test_line_stats_gopher_repetition(spark):
    """Planted repetition: 4 non-empty lines of which 'nav | home'
    repeats twice more -> dup_line_frac 2/4; char fraction weighted by
    the repeated line's length. Empty lines and empty docs are inert."""
    from stop_sync_osm_atlas_spark.operators.lines import line_stats

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": ["rep", "clean", "empty"],
                "text": [
                    "nav | home\nbody text\n\nnav | home\nNAV | HOME",
                    "one\ntwo\nthree",
                    "\n\n",
                ],
            }
        )
    )
    out = line_stats(docs).toPandas().set_index("doc_id")
    assert out.loc["rep", "n_lines"] == 4
    assert out.loc["rep", "dup_line_frac"] == 0.5
    # 'nav | home' normalized is 10 chars, repeated 2 extra times;
    # total chars = 3*10 + len('body text')=9 -> 20/39
    assert out.loc["rep", "dup_line_char_frac"] == round(20 / 39, 6)
    assert out.loc["clean", "dup_line_frac"] == 0.0
    assert out.loc["empty", "n_lines"] == 0
    assert out.loc["empty", "dup_line_char_frac"] == 0.0


def test_line_stats_format_fractions(spark):
    """Gopher format signals: bullet-start ('•-*●', occurrence-weighted,
    tab-padded and upper-case lines normalize first) and ellipsis-end
    ('...' or '…') line fractions; a line that is BOTH counts in both;
    clean and empty docs are zeros."""
    from stop_sync_osm_atlas_spark.operators.lines import line_stats

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": ["listy", "dots", "both", "clean", "empty"],
                "text": [
                    "- item one\n\t* Item Two\nintro\n- item one",
                    "read more...\nfull story…\nbody",
                    "- teaser...\nplain",
                    "one\ntwo",
                    " \n ",
                ],
            }
        )
    )
    out = line_stats(docs).toPandas().set_index("doc_id")
    # 4 non-empty lines, 3 bullet occurrences ('- item one' twice + '* item two')
    assert out.loc["listy", "bullet_line_frac"] == 0.75
    assert out.loc["listy", "ellipsis_line_frac"] == 0.0
    assert out.loc["dots", "ellipsis_line_frac"] == round(2 / 3, 6)
    assert out.loc["dots", "bullet_line_frac"] == 0.0
    assert out.loc["both", "bullet_line_frac"] == 0.5
    assert out.loc["both", "ellipsis_line_frac"] == 0.5
    assert out.loc["clean", "bullet_line_frac"] == 0.0
    assert (out.loc["empty", ["bullet_line_frac", "ellipsis_line_frac"]] == 0.0).all()


def test_ngram_stats_gopher_repetition(spark):
    """Planted word-level repetition (the signal line dedup can't see:
    a phrase looping WITHIN one line). 'buy now' x3 dominates the spam
    doc's bigrams; the 15-token loop doc saturates (cap at 1.0); in the
    clean doc every bigram is unique so top weight = the LONGEST gram
    (deterministic under Gopher's frequency tie); token-less docs are
    inert zeros."""
    from stop_sync_osm_atlas_spark.operators.lines import ngram_stats

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": ["spam", "loop", "clean", "blank"],
                "text": [
                    "Buy now buy now BUY NOW",
                    "a b c d e a b c d e a b c d e",
                    "one two three four five six",
                    " \t ",
                ],
            }
        )
    )
    out = (
        ngram_stats(docs, top_ns=(2, 3), dup_ns=(5,))
        .toPandas()
        .set_index("doc_id")
    )
    # norm 'buy now buy now buy now' (23 chars): 'buy now' x3 * 7 chars
    assert out.loc["spam", "top_2gram_char_frac"] == round(21 / 23, 6)
    # 'buy now buy' and 'now buy now' both x2 * 11 chars
    assert out.loc["spam", "top_3gram_char_frac"] == round(22 / 23, 6)
    # both 5-grams unique -> no duplicated 5-gram mass
    assert out.loc["spam", "dup_5gram_char_frac"] == 0.0
    # every 5-gram of the loop doc recurs; overlapping occurrences are
    # not de-overlapped, so the raw mass exceeds the doc -> capped
    assert out.loc["loop", "dup_5gram_char_frac"] == 1.0
    # all bigrams unique: weight = longest ('three four', 10) / 27
    assert out.loc["clean", "top_2gram_char_frac"] == round(10 / 27, 6)
    assert out.loc["clean", "dup_5gram_char_frac"] == 0.0
    assert (out.loc["blank"] == 0.0).all()


@pytest.mark.parametrize("seed", [11, 12, 13])
def test_ngram_stats_matches_python_reference(spark, seed):
    """Engine-vs-reference on random token streams: every fraction must
    equal the documented contract computed directly (Counter-based),
    including short docs (< n tokens), whitespace padding, and docs of
    one repeated token."""
    import re
    from collections import Counter

    from stop_sync_osm_atlas_spark.functions.text import ASCII_WS
    from stop_sync_osm_atlas_spark.operators.lines import ngram_stats

    rng = np.random.default_rng(seed)
    vocab = ["buy", "now", "alpha", "beta", "gamma", "zz"]
    docs = []
    for i in range(80):
        n = int(rng.integers(0, 14))
        toks = [vocab[int(rng.integers(0, len(vocab)))] for _ in range(n)]
        pad = "\t " if i % 3 == 0 else ""
        docs.append((f"d{i:03d}", pad + " ".join(toks) + pad))
    top_ns, dup_ns = (2, 4), (3, 5)

    def ref(text):
        t = text.strip(ASCII_WS).lower()
        toks = re.split(r"\s+", t, flags=re.ASCII) if t else []
        nl = sum(map(len, toks)) + len(toks) - 1 if toks else 0
        row = {}
        for kind, ns in (("top", top_ns), ("dup", dup_ns)):
            for n in ns:
                cnt = Counter(
                    " ".join(toks[i : i + n])
                    for i in range(len(toks) - n + 1)
                )
                if kind == "top":
                    # argmax by count, count ties -> larger char mass
                    w = max(
                        ((c, c * len(g)) for g, c in cnt.items()),
                        default=(0, 0),
                    )[1]
                else:
                    w = sum(c * len(g) for g, c in cnt.items() if c > 1)
                row[f"{kind}_{n}gram_char_frac"] = (
                    min(1.0, w / nl) if nl else 0.0
                )
        return row

    sdf = spark.createDataFrame(pd.DataFrame(docs, columns=["doc_id", "text"]))
    out = (
        ngram_stats(sdf, top_ns=top_ns, dup_ns=dup_ns)
        .toPandas()
        .set_index("doc_id")
    )
    assert len(out) == len(docs)
    for did, text in docs:
        exp = ref(text)
        for col, v in exp.items():
            got = out.loc[did, col]
            assert abs(got - v) <= 1e-6, (did, col, got, v, text)


def test_contamination_overlap_planted(spark):
    """Decontamination micro-case: a train doc embedding an eval 8-gram
    verbatim is flagged with the exact overlap fraction; clean and
    too-short docs report zero."""
    from stop_sync_osm_atlas_spark.operators.dedup import contamination_overlap

    bench = "the quick brown fox jumps over the lazy dog tonight"
    train = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": ["leak", "clean", "short"],
                "text": [
                    "intro words " + bench + " trailing words here",
                    "completely different content with many ordinary words in it",
                    "too few words",
                ],
            }
        )
    )
    test = spark.createDataFrame(
        pd.DataFrame({"doc_id": ["b0"], "text": [bench]})
    )
    out = (
        contamination_overlap(train, test, n=8)
        .toPandas()
        .set_index("doc_id")
    )
    # bench has 10 words -> 3 distinct 8-grams; 'leak' contains all 3
    assert out.loc["leak", "n_contaminated"] == 3
    assert out.loc["leak", "overlap_frac"] == round(
        3 / out.loc["leak", "n_shingles"], 6
    )
    assert out.loc["clean", "n_contaminated"] == 0
    assert out.loc["short", "n_shingles"] == 0
    assert out.loc["short", "overlap_frac"] == 0.0


@pytest.mark.parametrize("seed", [5, 6])
def test_contamination_overlap_matches_reference(spark, seed):
    """Engine vs direct pandas reference on a random corpus with
    planted partial overlaps."""
    from stop_sync_osm_atlas_spark.operators.dedup import contamination_overlap

    rng = np.random.default_rng(seed)
    vocab = [f"w{i}" for i in range(30)]
    mk = lambda k: " ".join(rng.choice(vocab, size=k))
    test_docs = [mk(int(rng.integers(6, 20))) for _ in range(5)]
    train_docs = []
    for i in range(40):
        t = mk(int(rng.integers(3, 25)))
        if i % 3 == 0:  # splice a random eval span in
            src = test_docs[int(rng.integers(0, len(test_docs)))]
            words_src = src.split()
            a = int(rng.integers(0, max(1, len(words_src) - 8)))
            t = t + " " + " ".join(words_src[a : a + 9])
        train_docs.append((f"t{i:02d}", t))

    n = 8
    sh = lambda s: {
        " ".join(s.lower().split()[i : i + n])
        for i in range(len(s.split()) - n + 1)
    }
    test_sh = set().union(*[sh(t) for t in test_docs])
    expect = {}
    for did, t in train_docs:
        mine = sh(t)
        expect[did] = (
            len(mine),
            len(mine & test_sh),
            round(len(mine & test_sh) / len(mine), 6) if mine else 0.0,
        )

    train = spark.createDataFrame(
        pd.DataFrame(train_docs, columns=["doc_id", "text"])
    ).repartition(5)
    test = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": [f"e{i}" for i in range(5)], "text": test_docs}
        )
    )
    out = contamination_overlap(train, test, n=n).toPandas()
    got = {
        r.doc_id: (r.n_shingles, r.n_contaminated, r.overlap_frac)
        for r in out.itertuples()
    }
    assert got == expect

    # the huge-eval-side fallback (shuffled join, no broadcast hint)
    # must be value-identical
    out2 = contamination_overlap(
        train, test, n=n, broadcast_test=False
    ).toPandas()
    got2 = {
        r.doc_id: (r.n_shingles, r.n_contaminated, r.overlap_frac)
        for r in out2.itertuples()
    }
    assert got2 == expect


@pytest.mark.parametrize("seed", [99, 7, 13, 21, 42])
def test_pack_bins_randomized_conservation_and_density(spark, seed):
    """Random multi-key corpus, shards>1: every doc packs exactly once
    (doc and token totals conserved), bin ids are dense 0..max per key,
    and the packing is deterministic across invocations."""
    from stop_sync_osm_atlas_spark.operators.packing import pack_bins

    rng = np.random.default_rng(seed)
    pdf = pd.DataFrame(
        {
            "doc_id": [f"d{i:04d}" for i in range(800)],
            "lang": rng.choice(["en", "de", "fr"], size=800, p=[0.7, 0.2, 0.1]),
            "n_tok": rng.integers(1, 400, size=800),
        }
    )
    sdf = spark.createDataFrame(pdf).repartition(9)

    out = pack_bins(sdf, F.col("n_tok"), budget=512, shards=4).toPandas()
    assert out["n_docs"].sum() == len(pdf)
    assert out["total_tokens"].sum() == pdf["n_tok"].sum()
    for lang, grp in out.groupby("lang"):
        bins = sorted(grp["bin"])
        assert bins == list(range(len(bins))), lang  # dense, no gaps

    out2 = pack_bins(sdf, F.col("n_tok"), budget=512, shards=4).toPandas()
    a = out.sort_values(["lang", "bin"]).reset_index(drop=True)
    b = out2.sort_values(["lang", "bin"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


def test_pack_bins_budget_validation_is_eager(spark):
    """budget < 1 must fail at plan build with the parameter name, not
    as an ANSI DIVIDE_BY_ZERO inside the window projection mid-job."""
    from stop_sync_osm_atlas_spark.operators.packing import pack_bins

    with pytest.raises(ValueError, match="budget"):
        pack_bins(None, F.lit(1), budget=0)


def test_substring_duplication_planted(spark):
    """ExactSubstr family, k=4 / min_docs=2: a 5-token span shared by
    two otherwise-unrelated docs marks exactly its two 4-gram starts
    and the UNION of their spans (no double counting); scrambled token
    overlap and within-doc-only repetition never count; removal strips
    every covered token (all copies) and is case-normalized like
    words(); blank docs are inert."""
    from stop_sync_osm_atlas_spark.operators.dedup import (
        remove_duplicated_spans,
        substring_duplication,
    )

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": ["A", "B", "C", "D", "E"],
                "text": [
                    # upper-case copy of the span: words() lowers first
                    "a1 a2 S1 S2 S3 S4 S5 a3",
                    "b1 s1 s2 s3 s4 s5",
                    # every span token present but scrambled: no shared 4-gram
                    "s5 s3 s1 s4 s2 c1 c2 c3",
                    # the same 4-gram twice WITHIN one doc only
                    "x1 x2 x3 x4 q x1 x2 x3 x4",
                    "  \t ",
                ],
            }
        )
    )
    out = (
        substring_duplication(
            docs, k=4, min_docs=2, include_dedup_text=True
        )
        .toPandas()
        .set_index("doc_id")
    )
    assert out.loc["A", "n_grams"] == 5
    assert out.loc["A", "n_dup_grams"] == 2
    assert out.loc["A", "dup_span_frac"] == round(5 / 8, 6)
    assert out.loc["A", "text_dedup"] == "a1 a2 a3"
    assert out.loc["B", "n_grams"] == 3
    assert out.loc["B", "n_dup_grams"] == 2
    assert out.loc["B", "dup_span_frac"] == round(5 / 6, 6)
    assert out.loc["B", "text_dedup"] == "b1"
    for clean in ("C", "D"):
        assert out.loc[clean, "n_dup_grams"] == 0
        assert out.loc[clean, "dup_span_frac"] == 0.0
    assert out.loc["D", "text_dedup"] == "x1 x2 x3 x4 q x1 x2 x3 x4"
    assert out.loc["E", "n_grams"] == 0
    assert out.loc["E", "dup_span_frac"] == 0.0
    assert out.loc["E", "text_dedup"] == ""

    rm = remove_duplicated_spans(docs, k=4, min_docs=2).toPandas()
    assert set(rm.columns) == {"doc_id", "text_dedup"}
    assert (
        rm.set_index("doc_id")["text_dedup"] == out["text_dedup"]
    ).all()


@pytest.mark.parametrize("seed", [21, 22])
def test_substring_duplication_matches_python_reference(spark, seed):
    """Engine-vs-reference on random token streams over a small vocab
    (collisions guaranteed): per-doc gram counts, span-union coverage,
    and the removal string must equal the Counter-based contract."""
    import re

    from stop_sync_osm_atlas_spark.functions.text import ASCII_WS
    from stop_sync_osm_atlas_spark.operators.dedup import (
        substring_duplication,
    )

    k, min_docs = 3, 2
    rng = np.random.default_rng(seed)
    vocab = ["aa", "bb", "cc", "dd"]
    docs = []
    for i in range(60):
        n = int(rng.integers(0, 12))
        toks = [vocab[int(rng.integers(0, len(vocab)))] for _ in range(n)]
        pad = " \t" if i % 4 == 0 else ""
        docs.append((f"d{i:03d}", pad + " ".join(toks) + pad))

    def tokens(text):
        t = text.strip(ASCII_WS).lower()
        return re.split(r"\s+", t, flags=re.ASCII) if t else []

    gram_docs = {}
    for did, text in docs:
        toks = tokens(text)
        for i in range(len(toks) - k + 1):
            gram_docs.setdefault(" ".join(toks[i : i + k]), set()).add(did)
    dup = {g for g, ds in gram_docs.items() if len(ds) >= min_docs}

    out = (
        substring_duplication(
            spark.createDataFrame(pd.DataFrame(docs, columns=["doc_id", "text"])),
            k=k,
            min_docs=min_docs,
            include_dedup_text=True,
        )
        .toPandas()
        .set_index("doc_id")
    )
    assert len(out) == len(docs)
    for did, text in docs:
        toks = tokens(text)
        starts = [
            i
            for i in range(len(toks) - k + 1)
            if " ".join(toks[i : i + k]) in dup
        ]
        covered = set()
        for s in starts:
            covered.update(range(s, s + k))
        exp_frac = round(len(covered) / len(toks), 6) if toks else 0.0
        row = out.loc[did]
        assert row["n_grams"] == max(len(toks) - k + 1, 0), did
        assert row["n_dup_grams"] == len(starts), did
        assert abs(row["dup_span_frac"] - exp_frac) <= 1e-9, (did, text)
        exp_txt = " ".join(
            t for i, t in enumerate(toks) if i not in covered
        )
        assert row["text_dedup"] == exp_txt, (did, text)


@pytest.mark.parametrize("seed", [11, 23])
def test_substring_stats_paths_agree(spark, seed):
    """The slim stats-only path (include_dedup_text=False drops the
    token string right after the gram hash) is a DIFFERENT code path
    from the text path q28 grades — pin their stats columns equal on a
    randomized collision-heavy corpus so a slim-branch regression can't
    hide behind the 50/50 gate. Also covers keep_first on the
    stats-only shape: the election must not change stats (the _cov
    mask is removal-policy independent), and skipping it there is the
    documented need_first optimization."""
    from stop_sync_osm_atlas_spark.operators.dedup import (
        substring_duplication,
    )

    k, min_docs = 3, 2
    rng = np.random.default_rng(seed)
    vocab = ["aa", "bb", "cc", "dd", "ee"]
    docs = [
        (
            f"d{i:03d}",
            " ".join(
                vocab[int(rng.integers(0, len(vocab)))]
                for _ in range(int(rng.integers(0, 14)))
            ),
        )
        for i in range(80)
    ]
    df = spark.createDataFrame(pd.DataFrame(docs, columns=["doc_id", "text"]))
    stats_cols = ["doc_id", "n_grams", "n_dup_grams", "dup_span_frac"]

    def run(**kw):
        return (
            substring_duplication(df, k=k, min_docs=min_docs, **kw)
            .select(*stats_cols)
            .toPandas()
            .sort_values("doc_id")
            .reset_index(drop=True)
        )

    text_path = run(include_dedup_text=True)
    slim_path = run(include_dedup_text=False)
    slim_keep_first = run(include_dedup_text=False, keep_first=True)
    pd.testing.assert_frame_equal(slim_path, text_path)
    pd.testing.assert_frame_equal(slim_keep_first, text_path)


# ---------------------------------------------------------------------------
# Boundary-padded / vertical-tab tokenization: the three-mirror contract
# ---------------------------------------------------------------------------

_PADDED_DOCS = [
    (1, "\tfoo bar baz\r\n"),              # tab/CRLF padding
    (2, "foo bar baz"),                     # clean twin of 1
    (3, "  foo\x0bbar  baz\t"),            # interior vertical tab
    (4, "\n\n Alpha\tbeta\x0c gamma \r"),  # mixed padding + case
    (5, "\x0b\x0b"),                        # whitespace-only
    (6, None),                              # null
]


def test_padded_text_words_three_mirrors_agree(spark):
    """functions.text.words (Spark), _sql_words (DuckDB) and the pandas
    oracle's _words must tokenize boundary-padded and vertical-tab text
    IDENTICALLY — the whitespace charset is explicit in all three, so
    RE2's \\s-excludes-\\x0b quirk cannot skew token boundaries, and no
    phantom '' boundary tokens appear on padded input."""
    import duckdb

    import __spark_entry__ as entry
    from stop_sync_osm_atlas_spark.functions.text import words
    from stop_sync_osm_atlas_spark.oracle.oracle import _words as py_words

    pdf = pd.DataFrame(_PADDED_DOCS, columns=["doc_id", "text"])
    df = spark.createDataFrame(pdf)
    got_spark = {
        r.doc_id: list(r.w)
        for r in df.select("doc_id", words(F.col("text")).alias("w")).collect()
    }
    con = duckdb.connect()
    con.register("documents", pdf)
    sql = f"SELECT doc_id, {entry._sql_words('text')} AS w FROM documents"
    got_duck = {r[0]: list(r[1]) for r in con.execute(sql).fetchall()}
    got_py = {d: py_words(t) for d, t in _PADDED_DOCS}
    assert got_spark == got_duck == got_py
    assert all("" not in v for v in got_spark.values())
    assert got_spark[1] == got_spark[2] == ["foo", "bar", "baz"]
    assert got_spark[3] == ["foo", "bar", "baz"]
    assert got_spark[5] == [] and got_spark[6] == []


def test_padded_text_shingles_and_hashes_match_clean_twin(spark):
    """A doc differing from its twin only by tab/CRLF/formfeed padding
    must produce IDENTICAL shingles, minhash signatures and simhash —
    the regression the old split(norm_text, \\s+)
    tokenization failed (phantom boundary tokens -> phantom shingles
    like 'bar baz ' on the Spark side only)."""
    rows = [
        (1, "\t the quick\r\nbrown fox jumps over the lazy dog \x0c"),
        (2, "the quick brown fox jumps over the lazy dog"),
    ]
    docs = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))

    sh = DD.shingle_rows(docs).toPandas()
    s1 = set(sh[sh.id == 1].shingle)
    s2 = set(sh[sh.id == 2].shingle)
    assert s1 == s2 and len(s1) == 7  # 9 tokens -> 7 trigrams (distinct)

    sig = DD.minhash_signatures(docs).toPandas()
    assert list(sig[sig.id == 1].iloc[0]["sig"]) == list(
        sig[sig.id == 2].iloc[0]["sig"]
    )

    sim = DD.simhash_table(docs).toPandas().set_index("doc_id")
    assert sim.loc[1, "simhash"] == sim.loc[2, "simhash"]

    # contamination tokenizes through the same words() path: the padded
    # doc against its clean twin as the eval set overlaps 100%
    from stop_sync_osm_atlas_spark.operators.dedup import contamination_overlap

    train = docs.where(F.col("doc_id") == 1)
    test = docs.where(F.col("doc_id") == 2)
    out = contamination_overlap(train, test, n=3).toPandas()
    assert out.iloc[0]["overlap_frac"] == 1.0


def test_substring_keep_first_planted(spark):
    """keep_first=True (published ExactSubstr keep-one): a license
    block shared by three docs survives in exactly ONE — the
    min (doc_id, pos) canonical occurrence — and is stripped from the
    others, while the remove-all default still strips every copy.
    include_keep_first_text emits BOTH rebuilds from one gram pass."""
    from stop_sync_osm_atlas_spark.operators.dedup import (
        remove_duplicated_spans,
        substring_duplication,
    )

    lic = "l1 l2 l3 l4 l5 l6"
    rows = [
        ("docB", f"b1 b2 {lic} b3"),
        ("docA", f"a1 {lic} a2 a3"),  # min doc_id -> canonical for all grams
        ("docC", f"{lic} c1"),
        ("docD", "d1 d2 d3 d4 d5"),
    ]
    docs = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))

    kept = (
        remove_duplicated_spans(docs, k=4, min_docs=2, keep_first=True)
        .toPandas()
        .set_index("doc_id")["text_dedup"]
    )
    assert kept["docA"] == f"a1 {lic} a2 a3"  # survives ONLY here
    assert kept["docB"] == "b1 b2 b3"
    assert kept["docC"] == "c1"
    assert kept["docD"] == "d1 d2 d3 d4 d5"

    both = (
        substring_duplication(
            docs, k=4, min_docs=2,
            include_dedup_text=True, include_keep_first_text=True,
        )
        .toPandas()
        .set_index("doc_id")
    )
    # remove-all strips every copy incl. the canonical one
    assert both.loc["docA", "text_dedup"] == "a1 a2 a3"
    assert (both["text_dedup_first"] == kept).all()
    # the dup STATS are removal-policy independent
    assert both.loc["docA", "n_dup_grams"] == 3
    assert both.loc["docA", "dup_span_frac"] == round(6 / 9, 6)

    with pytest.raises(ValueError):
        substring_duplication(
            docs, keep_first=True, include_keep_first_text=True
        )


@pytest.mark.parametrize("seed", [21, 22])
def test_substring_keep_first_matches_python_reference(spark, seed):
    """keep_first removal vs a Counter-based reference on random token
    streams: per duplicated gram the canonical occurrence is the
    lexicographic min (doc_id, pos); a token is removed iff covered by
    at least one NON-canonical duplicated-gram occurrence. Also checks
    that remove-all output and the dup stats are unchanged by the
    keep-first flags (same seeds as the base property test)."""
    import re

    from stop_sync_osm_atlas_spark.functions.text import ASCII_WS
    from stop_sync_osm_atlas_spark.operators.dedup import (
        substring_duplication,
    )

    k, min_docs = 3, 2
    rng = np.random.default_rng(seed)
    vocab = ["aa", "bb", "cc", "dd"]
    docs = []
    for i in range(60):
        n = int(rng.integers(0, 12))
        toks = [vocab[int(rng.integers(0, len(vocab)))] for _ in range(n)]
        pad = " \t" if i % 4 == 0 else ""
        docs.append((f"d{i:03d}", pad + " ".join(toks) + pad))

    def tokens(text):
        t = text.strip(ASCII_WS).lower()
        return re.split(r"\s+", t, flags=re.ASCII) if t else []

    occ = {}  # gram -> list[(doc_id, pos)]
    for did, text in docs:
        toks = tokens(text)
        for i in range(len(toks) - k + 1):
            occ.setdefault(" ".join(toks[i : i + k]), []).append((did, i))
    dup_first = {
        g: min(os)
        for g, os in occ.items()
        if len({d for d, _ in os}) >= min_docs
    }

    expect_all, expect_first = {}, {}
    for did, text in docs:
        toks = tokens(text)
        cov, rm = set(), set()
        for i in range(len(toks) - k + 1):
            g = " ".join(toks[i : i + k])
            if g in dup_first:
                cov.update(range(i, i + k))
                if dup_first[g] != (did, i):
                    rm.update(range(i, i + k))
        expect_all[did] = " ".join(
            t for j, t in enumerate(toks) if j not in cov
        )
        expect_first[did] = " ".join(
            t for j, t in enumerate(toks) if j not in rm
        )

    out = (
        substring_duplication(
            spark.createDataFrame(
                pd.DataFrame(docs, columns=["doc_id", "text"])
            ),
            k=k,
            min_docs=min_docs,
            include_dedup_text=True,
            include_keep_first_text=True,
        )
        .toPandas()
        .set_index("doc_id")
    )
    for did, _ in docs:
        assert out.loc[did, "text_dedup"] == expect_all[did], did
        assert out.loc[did, "text_dedup_first"] == expect_first[did], did
