"""phash-bucketed near-duplicate clustering with explicit skew salting.

The engine's analog of the reference's entity-matching join stack:
UIC blocking (reference exact_matching.py:25-57) -> phash low-bit
blocking; KDTree 50 m radius probe (reference spatial_index.py:21-42,
distance_matching.py:459-514) -> Hamming-radius graph; per-group
reciprocal/conflict-free assignment (reference
distance_matching.py:220-377 process_group_matches, a genuinely
non-relational per-group algorithm) -> per-group connected components
in a batched pandas pass; best-match representative election + group
propagation (reference matching_script.py:404-467) -> min-image_id rep
election + decision propagation.

Deterministic algorithm contract (mirrored 1:1 by oracle/oracle.py —
stated over ROWS; the implementation computes it over DISTINCT hashes,
which is observably identical, see "Node-level execution" below):

1. ``bucket = phash & (2^bits - 1)``.
2. Cross-bucket recall, resolved UP FRONT as a partitioning decision:
   buckets are linked into SUPERGROUPS by connected components over the
   bucket-pair graph, where two buckets are linked iff some phash pair
   within ``radius`` spans them and is discoverable by the configured
   probe. ``bridge="multiprobe"`` (default) discovers pairs differing
   in EXACTLY ONE bucket-window bit (explode ``phash_bucket_probes`` on
   one side of a blocking join; pairs differing in >=2 window bits
   whose buckets are not otherwise linked remain a documented
   approximation). ``bridge="bands"`` splits the hash into four 16-bit
   bands (band 0 IS the bucket window) and self-joins the three upper
   bands: a cross-bucket pair within radius r <= 3 has >=1 differing
   bit in band 0, hence <= 2 differing bits across the three upper
   bands, hence at least one upper band EQUAL (pigeonhole) — full
   cross-bucket pair discovery at the default radius. The band width
   is the ``band_bits`` dial (radius <= n_upper_bands is ASSERTED, and
   oversized band keys are salt-striped — see _band_bucket_pairs).
   ``sg = min bucket id`` of the component; unlinked buckets are their
   own supergroup.
3. Supergroups with more than ``hot_threshold`` ROWS are *salted* with
   a secondary deterministic key ``sub = (phash >> bits) & (2^sub_bits
   - 1)`` (mandated skew handling: a Zipfian hot bucket — FIXTURES.md
   plants one holding ~5% of rows — would otherwise pin a single task).
4. Within each (sg, sub): connected components over edges
   ``hamming(phash_i, phash_j) <= radius``.
5. Component id = min image_id (string order) — the deterministic
   rep-election analog of min-by-distance (reference
   matching_script.py:409-431).
6. Merge pass for salted supergroups only: component reps re-cluster
   within the supergroup with threshold ``2*radius`` (star-shaped
   clusters — every member within ``radius`` of a base — merge exactly;
   chain shapes may split across salts: documented LSH-style
   approximation, applying uniformly to within- and cross-bucket pairs
   of a salted supergroup).

Versus a post-hoc bridge that contracts pass-1 cluster ids after the
fact (the previous design), folding cross-bucket recall into the
partition key finds strictly more true pairs (any within-radius pair
whose buckets are linked — even transitively — is compared directly),
and removes an entire cluster-level connected-components stage from the
plan.

Node-level execution (the 100 TB contract): every pass runs on the
DISTINCT-phash node table ``pc = (phash, cnt, rep=min(image_id))``, not
on raw rows. Equal hashes always share bucket/sub and merge at distance
0, so components over distinct hashes equal components over rows, and
the component's min image_id = min over member hashes of per-hash
min(image_id) — the observable output is row-identical while a viral
image with 10^6 exact copies costs ONE node, never a 10^6-row O(n^2)
task. Hot detection and the salting decision still use ROW counts (sum
of cnt).

Plan-time decisions: ONE bounded collect over the localCheckpoint-ed
node table returns the DISTINCT bucket-pair graph (at most ~bits *
2^bits / 2 pairs under multiprobe) plus <= 2^bits per-bucket facts, from
which the driver builds the supergroups, marks the hot ones and writes
the one-hash supergroups' map rows; the pass-2 merge (applyInPandas,
join, window) is planned only when a supergroup is hot. The map, only
hashes of non-singleton clusters, is then localCheckpoint-ed and counted
by an Observation on that job. AQE runs each exchange as its own job: on
perfbench's images_full input (4,000 rows, 3,784 nodes, 4 vCPUs,
2026-10-19) a call runs 9 jobs / 28 tasks, 16 with a hot supergroup; 21
/ 72 when the merge was planned unconditionally.
Attaching clusters is ONE left join against that map (broadcast below
ATTACH_BROADCAST_MAX_ROWS; above it, a plain join AQE can re-plan): no
extra scan and no full-row shuffle inside the operator.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ..functions.phash import (
    DEFAULT_BUCKET_BITS,
    DEFAULT_HAMMING_RADIUS,
    hamming,
    phash_bucket,
    phash_bucket_probes,
)
from .dedup import striped_self_join

DEFAULT_SUB_BITS = 8
DEFAULT_HOT_THRESHOLD = 4096
# Bucket-pair graphs below this size are contracted on the driver (one
# bounded collect of the DISTINCT bucket-pair list — ints, a few MB at
# the cap); above it the distributed min-label loop runs. Multiprobe
# discovery cannot exceed bits * 2^bits / 2 pairs (~0.5M at bits=16).
SG_DRIVER_CC_MAX = 2_000_000
# The phash -> cluster map joins broadcast below this row count (the
# map holds only hashes of multi-row clusters; its true size is known
# exactly because it is materialized before the join is planned).
ATTACH_BROADCAST_MAX_ROWS = 5_000_000


_M1 = np.uint64(0x5555555555555555)
_M2 = np.uint64(0x3333333333333333)
_M4 = np.uint64(0x0F0F0F0F0F0F0F0F)
_H01 = np.uint64(0x0101010101010101)


def _popcount64(a: np.ndarray) -> np.ndarray:
    """Vectorized SWAR popcount (numpy<2 has no bitwise_count)."""
    if hasattr(np, "bitwise_count"):
        return np.bitwise_count(a)
    x = a.astype(np.uint64, copy=True)
    x -= (x >> np.uint64(1)) & _M1
    x = (x & _M2) + ((x >> np.uint64(2)) & _M2)
    x = (x + (x >> np.uint64(4))) & _M4
    return ((x * _H01) >> np.uint64(56)).astype(np.int64)


def _components(phashes: np.ndarray, radius: int) -> tuple[np.ndarray, bool]:
    """Union-find connected components, O(n^2) Hamming within a group.

    Groups are bounded by hot_threshold DISTINCT hashes (pass 1) / rep
    count (pass 2), so the quadratic stays in-cache per task. Returns
    (roots, merged): merged=False means every row is its own component
    (the common case, letting callers skip the min-per-component pass).
    """
    n = len(phashes)
    parent = np.arange(n)
    merged = False

    def find(i: int) -> int:
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    x = phashes.astype(np.uint64)
    for i in range(n - 1):
        d = _popcount64(np.bitwise_xor(x[i + 1 :], x[i]))
        for j in np.nonzero(d <= radius)[0]:
            ri, rj = find(i), find(int(j) + i + 1)
            if ri != rj:
                parent[rj] = ri
                merged = True
    if not merged:
        return parent, False
    return np.array([find(i) for i in range(n)]), True


# Above this size the direct O(n^2) `_components` switches to the
# banded finder: the r5 linearity probe measured ONE hot supergroup of
# 227k reps costing 291 s (5.2e10 Hamming compares) in a single pass-2
# Python task — 95% of the whole 6.4M-row neardup build.
_BANDED_COMPONENTS_MIN = 2048


def _components_banded(
    phashes: np.ndarray, radius: int
) -> tuple[np.ndarray, bool]:
    """Exact within-radius connected components via pigeonhole banding.

    Partitions the 64 bit POSITIONS into n_bands > radius bands: two
    hashes within ``radius`` differ in <= radius bands, so they AGREE
    on >= 1 band exactly — comparing only pairs that share a band value
    per band finds every within-radius edge (the `_band_bucket_pairs`
    completeness argument, applied in-task; ANY partition of the bit
    positions qualifies). Bands are bit-INTERLEAVED (band j = bits
    {j, j+n_bands, j+2*n_bands, ...}) rather than contiguous: pass-2
    rep sets concentrate in a handful of bucket values, so contiguous
    low bands would collapse into a few giant blocks (measured: two
    degenerate bands cost ~1e10 compares on a 227k-rep supergroup);
    interleaving mixes the diverse upper bits into every band, keeping
    block sizes near n / 2^band_width for real hash data.

    Work drops from n^2 to sum over (band, value) blocks of m^2,
    vectorized with one offset-compare loop over the block-sorted
    array (the `_cluster_partition` tiny-group trick, uncapped): d-th
    iteration compares row i with row i+d under a same-block mask, so
    the Python-level loop runs max_block_size times total, not once per
    block. Residual: an adversarial input can degenerate MANY composite
    keys at once (hashes differing only inside the bits of <= radius
    bands make every combo avoiding those bands one full-array block),
    costing up to ~C(n_bands, c) * n^2 — a bounded multiple of the
    direct cost, not strictly below it. On real hash data the
    interleaved bands keep blocks near n / 2^band_width and the
    measured win is ~30-50x (see BENCH/BASELINE.md); the dispatch
    threshold _BANDED_COMPONENTS_MIN trades that worst case for the
    227k-rep serial collapse it prevents.

    Candidate sharpening: agreeing on >= 1 band is the loosest complete
    blocking — a pair within ``radius`` over n_bands bands actually
    agrees on >= n_bands - radius of them, so blocking on COMPOSITE
    keys of c = n_bands - radius bands (every C(n_bands, c)
    combination) is also complete and cuts candidates by ~2^(extra key
    bits): radius 6 over 8 bands -> 28 16-bit composite keys vs 8
    8-bit single bands = ~70x fewer pairs (measured 112 s -> ~2 s on a
    200k bucket-concentrated rep set). c is lowered if the combination
    count would exceed 64 (agreeing on >= c bands implies some smaller
    subset agrees, so any c' <= c stays complete).

    Returns the same (roots, merged) contract as `_components`; only
    the partition matters to callers (labels feed groupby/union-find),
    and the edge set is identical, so the two are interchangeable —
    asserted by randomized equivalence tests (incl. the
    bucket-concentrated shape).
    """
    from itertools import combinations
    from math import comb

    n = len(phashes)
    if radius >= 64:
        # every pair of 64-bit hashes is within radius: one component.
        # (Without this the band search below has no b > radius and
        # raised StopIteration from inside the applyInPandas worker.)
        parent_all = np.zeros(n, dtype=np.int64)
        return parent_all, n > 1
    n_bands = next(b for b in (4, 8, 16, 32, 64) if b > radius)
    band_width = 64 // n_bands
    c = n_bands - radius
    while c > 1 and comb(n_bands, c) > 64:
        c -= 1
    x = phashes.astype(np.uint64)
    parent = np.arange(n)
    merged = False

    def find(i: int) -> int:
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    one = np.uint64(1)
    band_keys = []
    for k in range(n_bands):
        # gather the strided bit set {k, k+n_bands, ...} into a compact key
        keys = np.zeros(n, dtype=np.uint64)
        for i in range(band_width):
            keys |= ((x >> np.uint64(k + i * n_bands)) & one) << np.uint64(i)
        band_keys.append(keys)
    for combo in combinations(range(n_bands), c):
        keys = np.zeros(n, dtype=np.uint64)
        for pos, k in enumerate(combo):
            keys |= band_keys[k] << np.uint64(pos * band_width)
        order = np.argsort(keys, kind="stable")
        sk = keys[order]
        xs = x[order]
        # block id per sorted row; offset-compare within equal-key runs
        bid = np.cumsum(np.r_[0, (sk[1:] != sk[:-1]).astype(np.int64)])
        counts = np.bincount(bid)
        max_m = int(counts.max()) if len(counts) else 0
        for d in range(1, max_m):
            same = bid[:-d] == bid[d:]
            if not same.any():
                break
            hit = same & (_popcount64(np.bitwise_xor(xs[:-d], xs[d:])) <= radius)
            for i in np.nonzero(hit)[0]:
                ri, rj = find(int(order[i])), find(int(order[i + d]))
                if ri != rj:
                    parent[max(ri, rj)] = min(ri, rj)
                    merged = True
    if not merged:
        return parent, False
    return np.array([find(i) for i in range(n)]), True


# Groups at or below this size are compared by the vectorized offset
# pass (all pairs inside a group of size s are covered by row offsets
# 1..s-1, so TINY-1 full-array shifted compares handle every tiny group
# at once); only larger groups pay a per-group Python call. Web-corpus
# buckets are overwhelmingly tiny, and the per-group call costs ~50 µs
# of numpy dispatch — at ~65k groups/partition that loop was the
# dominant cost of pass 1 before this split.
_TINY_GROUP = 16


def _cluster_partition(radius: int):
    """mapInPandas partition function over phash NODES, one Python call
    per PARTITION.

    Input must be hash-partitioned AND sorted by (sg, sub) so every
    group is a contiguous slice. Grouped-map applyInPandas costs ~ms of
    Arrow/pandas overhead per group; with millions of tiny groups that
    overhead dominates, so we batch all groups of a partition into one
    call, find edges for tiny groups with offset-vectorized compares,
    and slice per group only above _TINY_GROUP. Rows of a hot (salted)
    group all come out, for the pass-2 merge; the rest only when their
    cluster holds >= 2 rows (a final map row).
    """

    def _fn(it):
        pdfs = list(it)
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True) if len(pdfs) > 1 else pdfs[0]
        sg = pdf["sg"].to_numpy()
        sub = pdf["sub"].to_numpy()
        ph = pdf["phash"].to_numpy()
        reps = pdf["rep"].to_numpy(dtype=object)
        n = len(pdf)
        out = reps.copy()  # default: own cluster (singleton components)
        change = np.flatnonzero((sg[1:] != sg[:-1]) | (sub[1:] != sub[:-1]))
        starts = np.concatenate(([0], change + 1))
        ends = np.concatenate((change + 1, [n]))
        gsize = ends - starts
        # group id and size per ROW
        gid = np.zeros(n, dtype=np.int64)
        gid[starts[1:]] = 1
        gid = np.cumsum(gid)
        rsize = gsize[gid]

        x = ph.astype(np.uint64)
        parent = np.arange(n)

        def find(i: int) -> int:
            while parent[i] != i:
                parent[i] = parent[parent[i]]
                i = parent[i]
            return i

        merged_any = False
        # tiny groups: offset-vectorized all-pairs (row i vs i+d is a
        # within-group pair iff gid matches; offsets 1..s-1 cover every
        # pair of a size-s group)
        max_tiny = int(min(_TINY_GROUP, gsize.max() if len(gsize) else 1))
        for d in range(1, max_tiny):
            same = (gid[:-d] == gid[d:]) & (rsize[:-d] <= _TINY_GROUP)
            if not same.any():
                continue
            dist_ok = _popcount64(np.bitwise_xor(x[:-d], x[d:])) <= radius
            for i in np.nonzero(same & dist_ok)[0]:
                ri, rj = find(int(i)), find(int(i) + d)
                if ri != rj:
                    parent[max(ri, rj)] = min(ri, rj)
                    merged_any = True
        # large groups: per-group quadratic (bounded by the salting;
        # the banded finder guards the unbounded-caller case)
        for g in np.nonzero(gsize > _TINY_GROUP)[0]:
            s, e = int(starts[g]), int(ends[g])
            if gsize[g] > _BANDED_COMPONENTS_MIN:
                roots, any_merge = _components_banded(ph[s:e], radius)
            else:
                roots, any_merge = _components(ph[s:e], radius)
            if not any_merge:
                continue
            merged_any = True
            for k, r in enumerate(roots):
                ri, rj = find(s + k), find(s + int(r))
                if ri != rj:
                    parent[max(ri, rj)] = min(ri, rj)
        cnt = pdf["cnt"].to_numpy()
        size = cnt  # cluster ROW size: sum of the members' counts
        if merged_any:
            mins: dict[int, object] = {}
            roots_all = np.array([find(i) for i in range(n)])
            touched = np.nonzero(roots_all != np.arange(n))[0]
            comp = set(roots_all[touched].tolist()) | set(touched.tolist())
            for i in comp:
                r = roots_all[i]
                v = reps[i]
                cur = mins.get(r)
                if cur is None or v < cur:
                    mins[r] = v
            for i in comp:
                out[i] = mins[roots_all[i]]
            tot = np.zeros(n, dtype=np.int64)
            np.add.at(tot, roots_all, cnt)
            size = tot[roots_all]
        hot = pdf["is_hot"].to_numpy()
        keep = hot | (size >= 2)
        yield pd.DataFrame(
            {
                "phash": ph[keep],
                "cnt": cnt[keep],
                "rep": reps[keep],
                "sg": sg[keep],
                "is_hot": hot[keep],
                "cluster_id": out[keep],
                "cluster_size": size[keep],
            }
        )

    return _fn


def neardup_phash_map(
    pairs: DataFrame,
    bits: int = DEFAULT_BUCKET_BITS,
    radius: int = DEFAULT_HAMMING_RADIUS,
    sub_bits: int = DEFAULT_SUB_BITS,
    hot_threshold: int = DEFAULT_HOT_THRESHOLD,
    bridge: str = "multiprobe",
    band_bits: int | None = None,
) -> tuple[DataFrame, int]:
    """pairs -> (phash -> cluster map, map row count).

    The map holds ``(_nd_phash, _nd_cluster_id, _nd_cluster_size)`` for
    exactly the hashes belonging to clusters of >= 2 rows; every other
    row's cluster is itself (the attach default). The node table and the
    map are localCheckpoint-ed (materialized, lineage cut; the
    ContextCleaner frees their blocks with the frames), and the hot pass's
    cache is released before returning — repeated calls in a long-lived
    session leak no executor storage.
    """
    sub_mask = (1 << sub_bits) - 1
    spark = pairs.sparkSession

    slim0 = pairs.select("image_id", "phash").where(F.col("phash").isNotNull())
    # The node table: one row per distinct phash. The ONLY scan of the
    # input this operator makes (2 pruned columns), aggregated once, and
    # materialized before any join over it is planned: both sides of the
    # bucket self-join read it, and a lazy cache let AQE broadcast
    # whichever side's cache stage finished first.
    pc = (
        slim0.groupBy("phash")
        .agg(F.count("*").alias("cnt"), F.min("image_id").alias("rep"))
        .withColumn("bucket", phash_bucket(F.col("phash"), bits))
        .localCheckpoint(eager=True)
    )

    # --- supergroup construction (contract step 2) ----------------------
    # Distinct bucket pairs spanned by a discoverable within-radius phash
    # pair.
    if bridge == "bands":
        bpairs = _band_bucket_pairs(pc, bits, radius, band_bits=band_bits)
    else:
        # each unordered pair surfaces once: the partner with the SMALLER
        # bucket owns it, halving probe volume pre-join
        probes = pc.select(
            F.col("phash").alias("ph_a"),
            F.explode(phash_bucket_probes(F.col("phash"), bits)).alias("probe"),
            F.col("bucket").alias("bucket_a"),
        ).where(F.col("probe") > F.col("bucket_a"))
        base = pc.select(F.col("phash").alias("ph_b"), F.col("bucket").alias("bucket_b"))
        bpairs = (
            probes.join(base, F.col("probe") == F.col("bucket_b"))
            .where(hamming(F.col("ph_a"), F.col("ph_b")) <= F.lit(radius))
            .select(F.col("bucket_a").alias("a"), F.col("bucket_b").alias("b"))
            .distinct()
        )
    # The build's one bounded collect: the bucket pairs plus per-bucket
    # facts (rows, distinct hashes, and the min hash and rep, which for a
    # one-hash bucket ARE its node), <= 2^bits rows marked by a null `b`.
    # Every data-dependent choice below (supergroups, hot salting, the
    # pass-2 merge) is made from it on the driver.
    facts = pc.groupBy("bucket").agg(
        F.sum("cnt").alias("n"), F.count("*").alias("dn"),
        F.min("phash").alias("phash"), F.min("rep").alias("rep"),
    )
    q = bpairs.unionByName(facts, allowMissingColumns=True)
    if bridge == "bands" or bits << (bits - 1) > SG_DRIVER_CC_MAX:
        # only a pair count with no bound below the cap needs the limit
        # (AQE drops a limit it proves slack, so it also varies the plan)
        q = q.limit(SG_DRIVER_CC_MAX + (1 << bits) + 1)
    got = q.collect()
    edges = [(r["a"], r["b"]) for r in got if r["b"] is not None]
    if len(edges) <= SG_DRIVER_CC_MAX:
        labels = _min_labels(edges)
        got = [r for r in got if r["b"] is None]
    else:
        # pathological bucket graph (possible only with bands + extreme
        # corpora): distributed min-label over <= 2^bits nodes, whose
        # labels (and the facts the limit may have cut) are collected
        labels = dict(_cc_min_label(bpairs.persist()).collect())
        bpairs.unpersist()
        got = facts.collect()
    multi, singles, hot = _supergroups(spark, got, labels, hot_threshold)
    # Only the nodes of supergroups with >= 2 distinct hashes enter the
    # Python pass: their buckets join as a driver-side LocalRelation.
    # A one-hash supergroup's rows all share the hash, so the cluster is
    # rep — the blocking no-op case the reference also short-circuits
    # (exact_matching.py: groups with one candidate), and the viral-image
    # case (10^6 copies = 1 node): its map row comes from the facts.
    nodes = pc.join(F.broadcast(multi), "bucket")
    pass1_schema = (
        "phash long, cnt long, rep string, sg int, is_hot boolean,"
        " cluster_id string, cluster_size long"
    )
    # Pass 1: non-hot supergroups come out final (rows of >= 2-row
    # clusters only); hot ones come out whole, as salted sub-clusters.
    shr = F.shiftrightunsigned(F.col("phash"), bits)
    sub = F.when(F.col("is_hot"), shr.bitwiseAND(F.lit(sub_mask)).cast("int"))
    local = (
        nodes.select("phash", "cnt", "rep", "sg", "is_hot", sub.otherwise(0).alias("sub"))
        .repartition("sg", "sub")
        .sortWithinPartitions("sg", "sub")
        .mapInPandas(_cluster_partition(radius), schema=pass1_schema)
    )
    cols = ["phash", "cluster_id", "cluster_size"]
    if hot:
        # diamond: `local` feeds the non-hot rows, the rep extraction and
        # the merge join — persist so the Python pass runs once (Spark
        # reuses exchanges, not post-shuffle Python stages)
        local = local.persist()
    ph_map = singles.unionByName(local.where(~F.col("is_hot")).select(*cols))
    if hot:
        # Pass 2 (salted supergroups only): merge sub-clusters via reps.
        # The member holding the component's min image_id is the one
        # node whose per-hash min equals the local cluster id.
        reps = local.where(
            F.col("is_hot") & (F.col("rep") == F.col("cluster_id"))
        ).select("sg", F.col("cluster_id").alias("orig_local"), "phash")
        merged = reps.groupBy("sg").applyInPandas(
            lambda pdf: _merge_reps(pdf, 2 * radius),
            schema="sg int, orig_local string, global_cluster string",
        )
        # `merged` holds one row per sub-cluster rep of every hot
        # supergroup, unbounded at corpus scale: never broadcast it. The
        # hint also fixes the plan, which AQE otherwise picked by which
        # side's stage finished first.
        hot_nodes = local.where(F.col("is_hot"))
        resolved = hot_nodes.join(
            merged.hint("shuffle_hash"),
            (hot_nodes["sg"] == merged["sg"])
            & (hot_nodes["cluster_id"] == merged["orig_local"]),
            "left",
        ).select(
            hot_nodes["phash"], hot_nodes["cnt"],
            F.coalesce(merged["global_cluster"], hot_nodes["cluster_id"]).alias("cluster_id"),
        )
        # cluster ROW size at the node level (sum of per-hash counts)
        size = F.sum("cnt").over(W.partitionBy("cluster_id"))
        ph_map = ph_map.unionByName(
            resolved.withColumn("cluster_size", size)
            .where(F.col("cluster_size") >= 2)
            .select(*cols)
        )
    # The map's one eager job: materialize it (node-level work only),
    # count it on the way, cut the lineage, then release every cache the
    # build held.
    obs = Observation()
    ph_map = (
        ph_map.select(
            F.col("phash").alias("_nd_phash"),
            F.col("cluster_id").alias("_nd_cluster_id"),
            F.col("cluster_size").cast("int").alias("_nd_cluster_size"),
        )
        .observe(obs, F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    local.unpersist()  # a no-op unless a hot supergroup persisted it
    return ph_map, obs.get["n"]


def attach_clusters(
    df: DataFrame,
    ph_map: DataFrame,
    n_map: int,
    id_col: str = "image_id",
    phash_col: str = "phash",
) -> DataFrame:
    """Left-join the materialized phash map onto any frame carrying a
    phash column; fills the singleton defaults (cluster = self, size 1).

    Broadcast below ATTACH_BROADCAST_MAX_ROWS (n_map is the map's TRUE
    materialized row count, not an estimate); above it a plain join —
    AQE plans a shuffled join co-partitioned on the hash.
    """
    m = F.broadcast(ph_map) if n_map <= ATTACH_BROADCAST_MAX_ROWS else ph_map
    cid = F.coalesce(F.col("_nd_cluster_id"), F.col(id_col))
    return (
        df.join(m, F.col(phash_col) == F.col("_nd_phash"), "left")
        .withColumn("cluster_id", cid)
        .withColumn(
            "cluster_size", F.coalesce(F.col("_nd_cluster_size"), F.lit(1))
        )
        .withColumn("is_cluster_rep", F.col(id_col) == F.col("cluster_id"))
        .drop("_nd_phash", "_nd_cluster_id", "_nd_cluster_size")
    )


def neardup_clusters(
    pairs: DataFrame,
    bits: int = DEFAULT_BUCKET_BITS,
    radius: int = DEFAULT_HAMMING_RADIUS,
    sub_bits: int = DEFAULT_SUB_BITS,
    hot_threshold: int = DEFAULT_HOT_THRESHOLD,
    bridge: str = "multiprobe",
    band_bits: int | None = None,
) -> DataFrame:
    """pairs -> (image_id, cluster_id, cluster_size, is_cluster_rep).

    Input needs (image_id, phash); all other columns are pruned before
    any shuffle. The full-table work is one left join against the
    materialized dup-cluster map (usually broadcast — see
    neardup_phash_map); rows with NULL phash are dropped, matching the
    row-level contract.
    """
    ph_map, n_map = neardup_phash_map(
        pairs, bits, radius, sub_bits, hot_threshold, bridge, band_bits
    )
    slim0 = pairs.select("image_id", "phash").where(F.col("phash").isNotNull())
    return attach_clusters(slim0, ph_map, n_map).select(
        "image_id", "cluster_id", "cluster_size", "is_cluster_rep"
    )


# Bands-bridge skew guard: a band key holding more than BAND_SALT_ROWS
# distinct-phash nodes has its self-join striped (striped_self_join) so
# one pathological key can never pin a single quadratic task; total
# candidate volume is unchanged (it is inherent to the algorithm — the
# docstring's "use multiprobe instead" advice applies when even
# distributed quadratic work is too much). These bound nodes per band
# key, not docs per LSH key, so they are not dedup's LSH_* pair.
BAND_SALT_ROWS = 65_536
BAND_MAX_SALT = 64


def _band_bucket_pairs(
    pc: DataFrame,
    bits: int,
    radius: int,
    band_bits: int | None = None,
) -> DataFrame:
    """Full-recall bucket-pair discovery via upper-band blocking.

    Partitions the 64-bit hash above the bucket window into upper bands
    of ``band_bits`` bits (default: the bucket width) and self-joins the
    node table on each UPPER band key. COMPLETENESS CONTRACT: a
    cross-bucket pair within ``radius`` has >= 1 differing bit in the
    bucket window, hence <= radius-1 differing bits spread over the
    n_upper = (64-bits)/band_bits upper bands, hence shares at least one
    upper band exactly (pigeonhole) — valid iff ``radius <= n_upper``,
    which is asserted (silently losing cross-bucket pairs is not an
    acceptable failure mode). ``band_bits`` is the skew/recall dial:
    narrower bands -> more bands -> higher provable radius but fewer
    distinct key values (more nodes per key); wider bands -> the
    reverse. Per-key quadratic candidate volume is bounded per TASK by
    ``dedup.striped_self_join`` with BAND_SALT_ROWS / BAND_MAX_SALT
    (its docstring holds the exactness and residual-skew contracts):
    every pair is still discovered exactly once per band. Inputs with
    keys past BAND_SALT_ROWS * BAND_MAX_SALT nodes should narrow
    band_bits or fall back to bridge='multiprobe'.
    """
    band_bits = bits if band_bits is None else band_bits
    span = 64 - bits
    if band_bits <= 0 or span % band_bits != 0:
        raise ValueError(
            f"band_bits={band_bits} must evenly split the {span} bits "
            f"above the {bits}-bit bucket window"
        )
    n_upper = span // band_bits
    if radius > n_upper:
        raise ValueError(
            f"bands bridge is pigeonhole-complete only for radius <= "
            f"{n_upper} ({n_upper} upper bands of {band_bits} bits); got "
            f"radius={radius}. Narrow band_bits (more bands) or use "
            f"bridge='multiprobe' (which degrades recall, never silently)"
        )
    mask = (1 << band_bits) - 1
    # ALL upper bands in one exploded frame -> ONE self-join on
    # (band, key) instead of n_upper sequential join jobs: identical
    # candidate volume, a third of the shuffle/stage count (measured
    # 6.0 s -> faster at sf0.1; at scale it is one exchange of 3x node
    # rows vs three exchanges of 1x).
    band_structs = F.array(
        *[
            F.struct(
                F.lit(k).alias("band"),
                F.shiftrightunsigned(F.col("phash"), bits + band_bits * k)
                .bitwiseAND(F.lit(mask))
                .cast("long")
                .alias("key"),
            )
            for k in range(n_upper)
        ]
    )
    kn = pc.select(
        F.col("phash"), F.col("bucket"), F.explode(band_structs).alias("bk")
    ).select(
        "phash", "bucket", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )
    return (
        striped_self_join(
            kn, ["band", "key"], "phash", BAND_SALT_ROWS, BAND_MAX_SALT
        )
        .where(
            (F.col("bucket_a") < F.col("bucket_b"))
            & (hamming(F.col("phash_a"), F.col("phash_b")) <= F.lit(radius))
        )
        .select(F.col("bucket_a").alias("a"), F.col("bucket_b").alias("b"))
        .distinct()
    )


def _min_labels(edges: list) -> dict:
    """Connected components of a collected edge list, on the driver:
    node -> min node id of its component (the `_cc_min_label` contract).

    Vectorized hook-and-compress: each round hooks the root of every
    edge's larger end under the smaller one (np.minimum.at), then
    pointer-jumps every label to its root. At the fixpoint both ends of
    every edge share one root, and a component's min node is always a
    root, so that root is the minimum.
    """
    if not edges:
        return {}
    nodes, idx = np.unique(np.asarray(edges).ravel(), return_inverse=True)
    ia, ib = idx[0::2], idx[1::2]
    lab = np.arange(len(nodes))
    while True:
        la, lb = lab[ia], lab[ib]
        if (la == lb).all():
            return dict(zip(nodes.tolist(), nodes[lab].tolist()))
        np.minimum.at(lab, la, lb)
        np.minimum.at(lab, lb, la)
        while (lab[lab] != lab).any():
            lab = lab[lab]


def _supergroups(
    spark, facts: list, labels: dict, hot_threshold: int
) -> tuple[DataFrame, DataFrame, bool]:
    """Per-bucket facts and bucket -> supergroup labels (unlabeled
    buckets are their own) -> ``(bucket, sg, is_hot)`` for supergroups of
    >= 2 distinct hashes (hot by ROWS, contract step 3), the map rows of
    one-hash supergroups of >= 2 rows, and whether any is hot. The frames
    come from Arrow: a pandas frame with no rows would become a Python
    RDD, i.e. a worker per slice."""

    def rel(pdf: pd.DataFrame, schema: str) -> DataFrame:
        return spark.createDataFrame(pa.Table.from_pandas(pdf, preserve_index=False), schema)

    cols = ["bucket", "n", "dn", "phash", "rep"]
    f = pd.DataFrame([r.asDict() for r in facts], columns=cols)
    f["sg"] = [labels.get(b, b) for b in f["bucket"]]
    tot = f.groupby("sg")[["n", "dn"]].transform("sum")
    f["is_hot"] = tot["n"] > hot_threshold
    one = f.loc[(tot["dn"] == 1) & (f["n"] >= 2), ["phash", "rep", "n"]].set_axis(
        ["phash", "cluster_id", "cluster_size"], axis=1
    )
    multi = f.loc[tot["dn"] >= 2, ["bucket", "sg", "is_hot"]]
    return (
        rel(multi, "bucket int, sg int, is_hot boolean"),
        rel(one, "phash long, cluster_id string, cluster_size long"),
        bool(multi["is_hot"].any()),
    )


def _cc_min_label(edges: DataFrame) -> DataFrame:
    """Connected components over a small undirected edge list.

    Min-label propagation to fixpoint: every node ends with the minimum
    node id of its component — the same rep-election contract as the
    per-group union-find. Caller persists `edges`; each iteration
    localCheckpoints the <=|V|-row label frame so lineage stays flat.
    Iteration count = graph diameter (bucket-pair graphs are tiny).
    """
    und = edges.unionByName(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).persist()
    labels = (
        und.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )
    while True:
        nbr = (
            und.join(labels, und["b"] == labels["node"])
            .groupBy(und["a"])
            .agg(F.min("label").alias("nbr_min"))
        )
        new = labels.join(nbr, labels["node"] == nbr["a"], "left").select(
            labels["node"],
            labels["label"].alias("old"),
            F.least(
                labels["label"], F.coalesce(nbr["nbr_min"], labels["label"])
            ).alias("label"),
        ).localCheckpoint()
        if new.where(F.col("label") < F.col("old")).limit(1).count() == 0:
            und.unpersist()
            return new.select("node", "label")
        labels = new.select("node", "label")


def _merge_reps(pdf: pd.DataFrame, radius2: int) -> pd.DataFrame:
    ph = pdf["phash"].to_numpy()
    # large rep sets (a hot supergroup of mostly-singleton components
    # yields ~one rep per distinct hash) take the banded finder — the
    # r5 fix for the 6.4M serial-task collapse; small sets keep the
    # direct compare (less per-call overhead, same exact result)
    if len(ph) > _BANDED_COMPONENTS_MIN:
        roots, _ = _components_banded(ph, radius2)
    else:
        roots, _ = _components(ph, radius2)
    # global cluster = min local_cluster id (== min image_id of members,
    # since local ids are themselves min image_ids)
    glob = (
        pd.Series(pdf["orig_local"].to_numpy(dtype=object))
        .groupby(roots)
        .transform("min")
        .to_numpy(dtype=object)
    )
    return pd.DataFrame(
        {
            "sg": pdf["sg"].to_numpy(),
            "orig_local": pdf["orig_local"].to_numpy(dtype=object),
            "global_cluster": glob,
        }
    )
