"""Near-dup clustering: micro-cases, skew/salting, propagation
(the J3/J4/Q4 analogs, SURVEY.md §2.3/§2.9)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import types as T

from stop_sync_osm_atlas_spark.operators.neardup import neardup_clusters
from stop_sync_osm_atlas_spark.oracle.oracle import neardup_oracle

SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType()),
        T.StructField("phash", T.LongType()),
    ]
)


def _run(spark, rows, **kw):
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["image_id", "phash"]), SCHEMA)
    out = neardup_clusters(df, **kw).toPandas().set_index("image_id").sort_index()
    return out


def test_identical_hashes_cluster(spark):
    out = _run(spark, [("a", 12345), ("b", 12345), ("c", 999999999)])
    assert out.loc["a", "cluster_id"] == "a" and out.loc["b", "cluster_id"] == "a"
    assert out.loc["a", "is_cluster_rep"] and not out.loc["b", "is_cluster_rep"]
    assert out.loc["c", "cluster_size"] == 1


def test_radius_boundary(spark):
    base = 1 << 20
    within = base ^ (0b111 << 20)   # 3 bits differ -> clusters
    beyond = base ^ (0b1111 << 30)  # 4 from base, 7 from within -> separate
    out = _run(spark, [("a", base), ("b", within), ("c", beyond)])
    assert out.loc["b", "cluster_id"] == "a"
    assert out.loc["c", "cluster_id"] == "c"


def test_one_window_bit_apart_bridged(spark):
    # 1-bit Hamming inside the bucket window -> different buckets, but
    # the multi-probe bridge (pass 3) re-finds and merges the pair
    a = 0xABCDEF0000
    b = a ^ 0x1
    out = _run(spark, [("a", a), ("b", b)])
    assert out.loc["a", "cluster_id"] == "a" and out.loc["b", "cluster_id"] == "a"
    assert out.loc["a", "cluster_size"] == 2 and not out.loc["b", "is_cluster_rep"]


def test_two_window_bits_apart_not_bridged(spark):
    # >=2 differing bits inside the window: documented recall limit of
    # the 1-bit multi-probe (would need C(16,2) probes or banding)
    a = 0xABCDEF0000
    b = a ^ 0x3
    out = _run(spark, [("a", a), ("b", b)])
    assert out.loc["a", "cluster_id"] == "a" and out.loc["b", "cluster_id"] == "b"


def test_bridge_chains_through_base(spark):
    # A and B are 2 window bits apart from each other but each 1 window
    # bit from BASE -> edges (base,A), (base,B) merge all three, and the
    # min-label contraction elects the min image_id across the chain
    base = 0xFACE0000
    a = base ^ 0x1
    b = base ^ 0x2
    out = _run(spark, [("m", base), ("a", a), ("b", b)])
    assert set(out["cluster_id"]) == {"a"}
    assert out.loc["a", "is_cluster_rep"]
    assert (out["cluster_size"] == 3).all()


def test_distributed_cc_equals_driver_cc(spark):
    # the >SG_DRIVER_CC_MAX fallback must produce identical labels to the
    # driver labeler: chain 0-1-2-3, triangle 10-11-12, isolated edge 20-21
    from stop_sync_osm_atlas_spark.operators.neardup import _cc_min_label, _min_labels

    edges = spark.createDataFrame(
        [("n0", "n1"), ("n1", "n2"), ("n2", "n3"),
         ("n10", "n11"), ("n11", "n12"), ("n10", "n12"),
         ("n20", "n21")],
        "a string, b string",
    ).persist()
    dist = {r["node"]: r["label"] for r in _cc_min_label(edges).collect()}
    drv = _min_labels(edges.collect())
    assert dist == drv
    assert dist["n3"] == "n0" and dist["n12"] == "n10" and dist["n21"] == "n20"


def test_bridge_matches_oracle_cross_window(spark):
    # mixed: exact dups, high-bit near-dups, cross-window near-dups,
    # singletons — engine must equal the pandas oracle row-for-row
    base = 0x1234ABCD5678
    rows = [
        ("a", base),
        ("b", base ^ (1 << 40)),          # high-bit near-dup, same bucket
        ("c", base ^ 0x4),                # 1 window bit -> bridged
        ("d", base ^ 0x4 ^ (1 << 50)),    # bridged via c's bucket
        ("e", base ^ 0x30),               # 2 window bits -> separate
        ("f", 0x5EADBEEF00000000),        # singleton
    ]
    eng = _run(spark, rows)
    orc = (
        neardup_oracle(pd.DataFrame(rows, columns=["image_id", "phash"]))
        .set_index("image_id")
        .sort_index()
    )
    for col in ["cluster_id", "cluster_size", "is_cluster_rep"]:
        assert (eng[col] == orc[col]).all(), col


def test_bands_bridge_closes_two_window_bit_residual(spark):
    # the documented multiprobe miss (>=2 window bits) IS found by the
    # bands bridge: upper bands equal -> bucket pair discovered ->
    # supergroup -> direct comparison
    a = 0xABCDEF0000
    out = _run(spark, [("a", a), ("b", a ^ 0x3), ("c", a ^ 0b111)],
               bridge="bands")
    assert set(out["cluster_id"]) == {"a"}
    assert (out["cluster_size"] == 3).all()


def test_bands_mode_matches_oracle_and_merges_e(spark):
    # same mixed fixture as the multiprobe oracle test, with bridge
    # semantics flipped: 'e' (2 window bits from base, hamming 2) MUST
    # merge under bands and the oracle must mirror it
    base = 0x1234ABCD5678
    rows = [
        ("a", base),
        ("b", base ^ (1 << 40)),
        ("c", base ^ 0x4),
        ("d", base ^ 0x4 ^ (1 << 50)),
        ("e", base ^ 0x30),
        ("f", 0x5EADBEEF00000000),
    ]
    eng = _run(spark, rows, bridge="bands")
    orc = (
        neardup_oracle(pd.DataFrame(rows, columns=["image_id", "phash"]),
                       bridge="bands")
        .set_index("image_id")
        .sort_index()
    )
    for col in ["cluster_id", "cluster_size", "is_cluster_rep"]:
        assert (eng[col] == orc[col]).all(), col
    assert eng.loc["e", "cluster_id"] == "a"


def test_bands_mode_exact_at_radius_without_salting(spark):
    # with no hot supergroup, bands mode is EXACT radius-3 clustering:
    # every within-radius pair (same or cross bucket) lands in one
    # supergroup and is compared directly — verify against a brute-force
    # union-find ground truth on a random hash set
    import numpy as np

    rng = np.random.default_rng(11)
    base = rng.integers(0, 1 << 62, size=60, dtype=np.int64)
    hashes = []
    for i, h in enumerate(base):
        hashes.append(int(h))
        if i % 3 == 0:  # plant near-dups at mixed bit positions
            hashes.append(int(h) ^ (1 << int(rng.integers(0, 62))))
            hashes.append(int(h) ^ 0x5)  # 2 window bits
    rows = [(f"i{k:03d}", h) for k, h in enumerate(hashes)]
    out = _run(spark, rows, bridge="bands")

    # brute-force ground truth
    n = len(rows)
    parent = list(range(n))

    def find(i):
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    for i in range(n):
        for j in range(i + 1, n):
            if bin((rows[i][1] ^ rows[j][1]) & ((1 << 64) - 1)).count("1") <= 3:
                ri, rj = find(i), find(j)
                if ri != rj:
                    parent[max(ri, rj)] = min(ri, rj)
    truth = {}
    for i in range(n):
        truth.setdefault(find(i), []).append(rows[i][0])
    expect = {}
    for members in truth.values():
        rep = min(members)
        for m in members:
            expect[m] = rep
    got = out["cluster_id"].to_dict()
    assert got == expect


def test_bands_radius_beyond_pigeonhole_raises(spark):
    # radius=4 with the default 3x16-bit upper bands would SILENTLY lose
    # cross-bucket pairs — the contract must fail loudly instead
    with pytest.raises(ValueError, match="pigeonhole-complete"):
        _run(spark, [("a", 1), ("b", 2)], bridge="bands", radius=4)
    # band_bits that doesn't partition the upper 48 bits is rejected too
    with pytest.raises(ValueError, match="evenly split"):
        _run(spark, [("a", 1), ("b", 2)], bridge="bands", band_bits=20)


def test_bands_narrow_bands_extend_radius(spark):
    # band_bits=12 -> 4 upper bands -> radius 4 is provably complete:
    # a pair 4 bits apart (2 in the bucket window, 2 spread over two
    # different upper bands) that default bands (radius<=3) may miss
    # must cluster when the dial is widened
    a = 0x0AB0CD0EF0120000 | 0x1234
    b = a ^ 0x3 ^ (1 << 20) ^ (1 << 40)  # 2 window bits + 2 upper bits
    out = _run(
        spark, [("a", a), ("b", b)], bridge="bands", band_bits=12, radius=4
    )
    assert out.loc["b", "cluster_id"] == "a"
    assert (out["cluster_size"] == 2).all()


def _partition(labels) -> list[tuple[int, ...]]:
    import collections

    groups = collections.defaultdict(list)
    for i, r in enumerate(labels):
        groups[int(r)].append(i)
    return sorted(map(tuple, groups.values()))


@pytest.mark.parametrize("radius", [1, 3, 6, 7])
@pytest.mark.parametrize("seed", [0, 7])
def test_components_banded_equals_direct(radius, seed):
    """The banded component finder (the r5 pass-2 fix) must partition
    IDENTICALLY to the direct O(n^2) compare and to the oracle's
    independent pure-Python union-find. Inputs: a random hash set dense
    with planted within-radius pairs, including chains that only connect
    transitively across different bands; and one long chain (a one-bit
    random walk) stored in shuffled order, so labeling it takes several
    hook rounds (stored in walk or reverse order, one round would do)."""
    import numpy as np

    from stop_sync_osm_atlas_spark.operators.neardup import (
        _components,
        _components_banded,
    )
    from stop_sync_osm_atlas_spark.oracle import oracle

    rng = np.random.default_rng(seed)
    base = rng.integers(0, 1 << 63, size=150, dtype=np.uint64)
    # half the base concentrated in TWO bucket values (low 16 bits) —
    # the measured pass-2 shape that degenerates contiguous banding
    conc = (rng.integers(0, 1 << 18, size=150, dtype=np.uint64) << np.uint64(16)) | rng.choice(
        np.array([3, 7], dtype=np.uint64), size=150
    )
    base = np.concatenate([base, conc])
    hashes = []
    for h in base:
        hashes.append(int(h))
        # chain of neighbors each <= radius from the previous, at bit
        # positions crossing band boundaries (0..63)
        cur = int(h)
        for _ in range(int(rng.integers(0, 4))):
            flip = 0
            for b in rng.integers(0, 64, size=int(rng.integers(1, radius + 1))):
                flip |= 1 << int(b)
            cur ^= flip
            hashes.append(cur)
    walk = [int(rng.integers(0, 1 << 63))]
    for b in rng.integers(0, 64, size=1199):
        walk.append(walk[-1] ^ (1 << int(b)))
    chain = np.array(walk, dtype=np.uint64)[rng.permutation(len(walk))]

    for arr in (np.array(hashes, dtype=np.uint64), chain):
        # compare PARTITIONS, not labels
        truth = _partition(oracle._components([int(h) for h in arr], radius))
        arr = arr.astype(np.int64)
        assert _partition(_components(arr, radius)) == truth
        assert _partition(_components_banded(arr, radius)) == truth
    assert truth == [tuple(range(len(chain)))]  # the walk is one component


@pytest.mark.parametrize(
    "salt_rows, max_salt",
    [(4, 8), (2, 3)],
    ids=["uncapped", "cap_binding"],
)
def test_bands_salt_striping_is_exact(spark, monkeypatch, salt_rows, max_salt):
    """The per-band-key salting guard must not change discovered pairs:
    a pathological key (24 nodes sharing ALL upper bands, differing
    only in the bucket window) striped across salts yields the same
    bucket-pair set as the unsalted join — both when the key fits in
    salt_rows * max_salt (4 * 8) and when the cap binds (2 * 3: slices
    grow past salt_rows, the documented residual-skew contract) — and
    neardup_clusters gives the same clusters with the constants patched
    below the key size."""
    from pyspark.sql import functions as F

    from stop_sync_osm_atlas_spark.operators import neardup as ND

    base = 0x7777AAAA0000
    # 24 nodes in ONE band-key group (identical upper 48 bits): the
    # window-bit chain means every pair is within radius; plus
    # unrelated nodes
    rows = [(base ^ (1 << (i % 3)), f"i{i:02d}") for i in range(24)]
    other = [(0x1111BBBB0000 ^ i, f"j{i:02d}") for i in range(4)]
    pc = spark.createDataFrame(
        pd.DataFrame(rows + other, columns=["phash", "rep"])
    ).select(
        "phash",
        F.lit(1).cast("long").alias("cnt"),
        "rep",
        F.col("phash").bitwiseAND(F.lit((1 << 16) - 1)).cast("int").alias(
            "bucket"
        ),
    )

    def bucket_pairs():
        got = ND._band_bucket_pairs(pc, 16, 3).collect()
        return {(r["a"], r["b"]) for r in got}

    prs = [(f"i{k:02d}", int(h)) for k, (h, _) in enumerate(rows)]
    pdf = pd.DataFrame(
        [dict(image_id=i, bytes=None, w=8, h=8, fmt="png", caption="x",
              phash=h) for i, h in prs]
    )
    from stop_sync_osm_atlas_spark.schemas import PAIRS_SCHEMA

    pairs = spark.createDataFrame(pdf, PAIRS_SCHEMA)

    def clusters():
        return (
            ND.neardup_clusters(pairs, bridge="bands")
            .toPandas().set_index("image_id").sort_index()
        )

    default_out = clusters()
    monkeypatch.setattr(ND, "BAND_SALT_ROWS", 10**9)
    plain = bucket_pairs()
    monkeypatch.setattr(ND, "BAND_SALT_ROWS", salt_rows)
    monkeypatch.setattr(ND, "BAND_MAX_SALT", max_salt)
    salted = bucket_pairs()
    assert salted == plain and plain  # same pairs, and some were found

    # end to end: the patched constants reach the bands bridge and
    # produce the same clusters as the defaults
    pd.testing.assert_frame_equal(default_out, clusters())
    assert (default_out["cluster_size"] == 24).all()


def test_bands_bridge_passes_the_band_salt_constants(spark, monkeypatch):
    """_band_bucket_pairs reads BAND_SALT_ROWS / BAND_MAX_SALT at call
    time and hands them to striped_self_join."""
    from pyspark.sql import functions as F

    from stop_sync_osm_atlas_spark.operators import neardup as ND

    calls = []
    orig = ND.striped_self_join

    def spy(kn, keys, salt_of, salt_rows, max_salt):
        calls.append((keys, salt_of, salt_rows, max_salt))
        return orig(kn, keys, salt_of, salt_rows, max_salt)

    monkeypatch.setattr(ND, "striped_self_join", spy)
    monkeypatch.setattr(ND, "BAND_SALT_ROWS", 5)
    monkeypatch.setattr(ND, "BAND_MAX_SALT", 7)
    pc = spark.range(4).select(
        F.col("id").alias("phash"), F.col("id").cast("int").alias("bucket")
    )
    ND._band_bucket_pairs(pc, 16, 3)
    assert calls == [(["band", "key"], "phash", 5, 7)]


@pytest.mark.parametrize("seed", [0, 1, 2])
@pytest.mark.parametrize("bridge", ["multiprobe", "bands"])
def test_random_corpus_matches_oracle(spark, seed, bridge):
    """Randomized engine-vs-pandas-oracle agreement for BOTH bridge
    modes: random base hashes + planted near-dups at random bit
    positions (window and upper), exact dups, and nulls."""
    _check_random_corpus(spark, seed, bridge)


@pytest.mark.parametrize("seed", [0, 1, 2])
@pytest.mark.parametrize("bridge", ["multiprobe", "bands"])
def test_random_corpus_banded_groups_match_oracle(spark, monkeypatch, seed, bridge):
    """The same corpora with pass 1's size thresholds lowered, so every
    group of >= 2 nodes takes `_cluster_partition`'s per-group banded
    finder instead of the shared tiny-group pass."""
    from stop_sync_osm_atlas_spark.operators import neardup as ND

    monkeypatch.setattr(ND, "_TINY_GROUP", 1)
    monkeypatch.setattr(ND, "_BANDED_COMPONENTS_MIN", 1)
    _check_random_corpus(spark, seed, bridge)


def _check_random_corpus(spark, seed, bridge):
    import numpy as np

    rng = np.random.default_rng(seed)
    base = rng.integers(0, 1 << 62, size=40, dtype=np.int64)
    rows: list[tuple[str, object]] = []
    k = 0
    for i, h in enumerate(base):
        rows.append((f"r{k:03d}", int(h))); k += 1
        m = i % 4
        if m == 0:  # exact dup
            rows.append((f"r{k:03d}", int(h))); k += 1
        elif m == 1:  # near-dup, 1-3 random bits anywhere
            x = int(h)
            for b in rng.choice(62, size=int(rng.integers(1, 4)), replace=False):
                x ^= 1 << int(b)
            rows.append((f"r{k:03d}", x)); k += 1
        elif m == 2:  # null phash
            rows.append((f"r{k:03d}", None)); k += 1
    pdf = pd.DataFrame(rows, columns=["image_id", "phash"])
    sdf = spark.createDataFrame(pdf, SCHEMA)
    eng = (
        neardup_clusters(sdf, bridge=bridge)
        .toPandas()
        .set_index("image_id")
        .sort_index()
    )
    orc = neardup_oracle(pdf, bridge=bridge).set_index("image_id").sort_index()
    assert list(eng.index) == list(orc.index)
    for col in ["cluster_id", "cluster_size", "is_cluster_rep"]:
        assert (eng[col] == orc[col]).all(), (bridge, seed, col)


def test_hot_bucket_salting_matches_oracle(spark, fixture_1k, nd_kwargs):
    pairs = fixture_1k.pairs
    sdf = spark.createDataFrame(pairs[["image_id", "phash"]], SCHEMA)
    eng = neardup_clusters(sdf, **nd_kwargs).toPandas()
    orc = neardup_oracle(pairs, **nd_kwargs)
    m = eng.merge(orc, on="image_id", suffixes=("_e", "_o"))
    assert len(m) == len(pairs)
    for col in ["cluster_id", "cluster_size", "is_cluster_rep"]:
        assert (m[f"{col}_e"] == m[f"{col}_o"]).all(), col


def test_hot_bucket_actually_salted(fixture_1k, nd_kwargs):
    # sanity: the planted hot bucket exceeds the test threshold
    ph = fixture_1k.pairs["phash"].astype("uint64")
    buckets = (ph & 0xFFFF).value_counts()
    assert buckets.iloc[0] > nd_kwargs["hot_threshold"]


def test_propagation_rep_drops_members(spark, fixture_1k, fixture_paths, nd_kwargs):
    """Cluster-level decision propagation: non-reps drop via
    near_duplicate (reference matching_script.py:404-467 analog)."""
    from stop_sync_osm_atlas_spark.operators.cascade import run_cascade
    from stop_sync_osm_atlas_spark.schemas import PAIRS_SCHEMA

    pairs = spark.read.schema(PAIRS_SCHEMA).parquet(fixture_paths["pairs"])
    out = run_cascade(pairs, neardup_kwargs=nd_kwargs).toPandas()
    nd = out[out["rule"] == "near_duplicate"]
    assert len(nd) > 0
    assert (~nd["is_cluster_rep"]).all()
    assert (nd["decision"] == "drop").all()


def test_components_banded_radius_at_or_above_64():
    """radius >= 64 on 64-bit hashes means EVERY pair is within radius:
    one component, not a StopIteration escaping the applyInPandas
    worker from the exhausted band-width search."""
    import numpy as np

    from stop_sync_osm_atlas_spark.operators.neardup import (
        _components,
        _components_banded,
    )

    hashes = np.array([0, (1 << 64) - 1, 12345, 1 << 63], dtype=np.uint64)
    assert list(_components_banded(hashes, radius=64)) == [0, 0, 0, 0]
    assert list(_components(hashes, 64)) == [0, 0, 0, 0]
    assert list(_components_banded(np.array([7], dtype=np.uint64), radius=64)) == [0]


def test_distributed_label_fallback_matches_oracle(spark, monkeypatch):
    """Above SG_DRIVER_CC_MAX bucket pairs the map labels supergroups
    with the distributed `_cc_min_label` and re-collects the per-bucket
    facts the collect's limit may have cut: the clusters must not
    change (patched to 0 so every pair graph takes that path)."""
    from stop_sync_osm_atlas_spark.operators import neardup as ND

    base = 0xFACE0000
    rows = [("m", base), ("a", base ^ 0x1), ("b", base ^ 0x2),
            ("c", base ^ (1 << 40)), ("d", 77), ("e", 77), ("f", 0x5EADBEEF00000000)]
    default = _run(spark, rows)
    monkeypatch.setattr(ND, "SG_DRIVER_CC_MAX", 0)
    pd.testing.assert_frame_equal(_run(spark, rows), default)
    orc = neardup_oracle(pd.DataFrame(rows, columns=["image_id", "phash"]))
    orc = orc.set_index("image_id").sort_index()
    for col in ["cluster_id", "cluster_size", "is_cluster_rep"]:
        assert (default[col] == orc[col]).all(), col
    assert default.loc["e", "cluster_id"] == "d" and default.loc["b", "cluster_id"] == "a"
