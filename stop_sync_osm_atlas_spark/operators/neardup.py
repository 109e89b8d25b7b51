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
2^bits / 2 pairs under multiprobe) plus <= 2^bits per-bucket (rows,
distinct hashes) facts, from which the driver builds the supergroups and
marks the hot ones; the pass-2 merge (applyInPandas, join, window) is
planned only when a supergroup is hot, and then pass 1 is
localCheckpoint-ed before its three readers are planned. The map, only
hashes of non-singleton clusters, is then localCheckpoint-ed and counted
by an Observation on that job. AQE runs each exchange as its own job: on
perfbench's images_full input (4,000 rows, 3,784 nodes, 4 vCPUs) a call
runs 9 jobs, 14 with a hot supergroup; 21 when the merge was planned
unconditionally.

Attaching clusters is ONE left join against that map (broadcast below
ATTACH_BROADCAST_MAX_ROWS; above it, a plain join AQE can re-plan): no
extra scan and no full-row shuffle inside the operator.

One components kernel: every finder returns within-radius edges as
``(i, j)`` index arrays (`_block_edges`, the offset-compare loop over
contiguous blocks; `_banded_edges` on top of it), and `_labels` turns
them into min-index component labels with vectorized hook-and-compress
rounds — no per-edge Python loop. Pass 1 labels all of a partition's
edges at once over nodes sorted by (sg, sub, rep), so a component's min
index is its min rep; pass 2 and the driver's bucket graph label through
the same function.
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


def _block_edges(x: np.ndarray, block_id, radius: int, max_d: int):
    """Within-radius pairs ``(i, j)``, ``i < j``, among rows of one block.

    Rows must be sorted so every block is a contiguous run (``block_id``
    nondecreasing; None means one block) no longer than ``max_d``. The
    d-th iteration compares every row i with row i+d at once, so offsets
    1..max_d-1 cover every pair of every block with one vectorized
    compare per offset, not one Python call per block; the loop stops at
    the first offset that no block spans. One block skips the mask.
    """
    one = block_id is None or len(x) < 2 or block_id[0] == block_id[-1]
    ii, dd = [], []
    for d in range(1, max_d):
        hit = _popcount64(np.bitwise_xor(x[:-d], x[d:])) <= radius
        if not one:
            same = block_id[:-d] == block_id[d:]
            if not same.any():
                break
            hit &= same
        k = np.flatnonzero(hit)
        ii.append(k)
        dd.append(np.full(len(k), d))
    if not ii:
        return np.zeros(0, np.int64), np.zeros(0, np.int64)
    i = np.concatenate(ii)
    return i, i + np.concatenate(dd)


def _labels(n: int, i: np.ndarray, j: np.ndarray) -> np.ndarray:
    """Connected components of nodes 0..n-1 over edges ``(i, j)``: each
    node -> the min node index of its component.

    Vectorized hook-and-compress: each round hooks the root of every
    edge's larger end under the smaller one (np.minimum.at), then
    pointer-jumps every label to its root. At the fixpoint both ends of
    every edge share one root, and a component's min node is always a
    root, so that root is the minimum. Every caller labels through here:
    sorting a group's nodes by rep first makes the min index the min rep.
    """
    lab = np.arange(n)
    while True:
        li, lj = lab[i], lab[j]
        if (li == lj).all():
            return lab
        np.minimum.at(lab, li, lj)
        np.minimum.at(lab, lj, li)
        while (lab[lab] != lab).any():
            lab = lab[lab]


def _components(phashes: np.ndarray, radius: int) -> np.ndarray:
    """Direct O(n^2) Hamming components: node -> min index of its
    component. Groups are bounded by hot_threshold DISTINCT hashes (pass
    1) / rep count (pass 2), so the quadratic stays in-cache per task."""
    x = phashes.astype(np.uint64)
    return _labels(len(x), *_block_edges(x, None, radius, len(x)))


# Above this size the direct O(n^2) compare switches to the banded
# finder: the r5 linearity probe measured ONE hot supergroup of 227k
# reps costing 291 s (5.2e10 Hamming compares) in a single pass-2
# Python task — 95% of the whole 6.4M-row neardup build.
_BANDED_COMPONENTS_MIN = 2048


def _banded_edges(x: np.ndarray, radius: int):
    """Every within-radius pair of ``x`` (uint64), found by pigeonhole
    banding: ``(i, j)`` arrays whose components equal the direct ones.

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

    Work drops from n^2 to sum over (band, value) blocks of m^2: each
    key's block-sorted array goes through `_block_edges` and the hits map
    back through the sort order. Residual: an adversarial input can
    degenerate MANY composite keys at once (hashes differing only inside
    the bits of <= radius bands make every combo avoiding those bands one
    full-array block), costing up to ~C(n_bands, c) * n^2 — a bounded
    multiple of the direct cost, not strictly below it. On real hash
    data the measured win is ~30-50x (see BENCH/BASELINE.md); the
    dispatch threshold _BANDED_COMPONENTS_MIN trades that worst case for
    the 227k-rep serial collapse it prevents. Edges found so far fold
    into one star per component once they outnumber twice the nodes, so
    the same pair found under many keys holds no memory.

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
    """
    from itertools import combinations
    from math import comb

    n = len(x)
    if radius >= 64:
        # every pair of 64-bit hashes is within radius: one component
        # (and no band count exceeds the radius)
        return np.zeros(max(n - 1, 0), np.int64), np.arange(1, max(n, 1))
    n_bands = next(b for b in (4, 8, 16, 32, 64) if b > radius)
    band_width = 64 // n_bands
    c = n_bands - radius
    while c > 1 and comb(n_bands, c) > 64:
        c -= 1
    one = np.uint64(1)
    band_keys = []
    for k in range(n_bands):
        # gather the strided bit set {k, k+n_bands, ...} into a compact key
        keys = np.zeros(n, dtype=np.uint64)
        for b in range(band_width):
            keys |= ((x >> np.uint64(k + b * n_bands)) & one) << np.uint64(b)
        band_keys.append(keys)
    ii, jj, held = [], [], 0
    for combo in combinations(range(n_bands), c):
        keys = np.zeros(n, dtype=np.uint64)
        for pos, k in enumerate(combo):
            keys |= band_keys[k] << np.uint64(pos * band_width)
        order = np.argsort(keys, kind="stable")
        sk = keys[order]
        bid = np.cumsum(np.r_[0, sk[1:] != sk[:-1]])
        i, j = _block_edges(x[order], bid, radius, int(np.bincount(bid).max()))
        ii.append(order[i])
        jj.append(order[j])
        held += len(i)
        if held > 2 * n:
            lab = _labels(n, np.concatenate(ii), np.concatenate(jj))
            k = np.flatnonzero(lab != np.arange(n))
            ii, jj, held = [lab[k]], [k], len(k)
    if not ii:
        return np.zeros(0, np.int64), np.zeros(0, np.int64)
    return np.concatenate(ii), np.concatenate(jj)


def _components_banded(phashes: np.ndarray, radius: int) -> np.ndarray:
    """`_components` through `_banded_edges`: the same partition, at
    ~n / 2^band_width compares per node instead of n."""
    x = phashes.astype(np.uint64)
    return _labels(len(x), *_banded_edges(x, radius))


# Groups at or below this size are compared by one `_block_edges` pass
# over the whole partition (TINY-1 full-array shifted compares handle
# every tiny group at once); only larger groups pay a per-group call.
# Web-corpus buckets are overwhelmingly tiny, and the per-group call
# costs ~50 µs of numpy dispatch — at ~65k groups/partition that loop
# was the dominant cost of pass 1 before this split.
_TINY_GROUP = 16


def _cluster_partition(radius: int):
    """mapInPandas partition function over phash NODES, one Python call
    per PARTITION.

    Input must be hash-partitioned AND sorted by (sg, sub, rep) so every
    group is a contiguous slice, ordered by rep. Grouped-map
    applyInPandas costs ~ms of Arrow/pandas overhead per group; with
    millions of tiny groups that overhead dominates, so we batch all
    groups of a partition into one call: the edges of every group (tiny
    ones in one pass, larger ones per group, direct or banded) are
    labeled ONCE, and a component's min index is its min rep. Rows of a
    hot (salted) group all come out, for the pass-2 merge; the rest only
    when their cluster holds >= 2 rows (a final map row).
    """

    def _fn(it):
        pdfs = [p for p in it if len(p)]
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True) if len(pdfs) > 1 else pdfs[0]
        sg = pdf["sg"].to_numpy()
        sub = pdf["sub"].to_numpy()
        ph = pdf["phash"].to_numpy()
        reps = pdf["rep"].to_numpy(dtype=object)
        cnt = pdf["cnt"].to_numpy()
        n = len(pdf)
        new = np.ones(n, dtype=bool)  # row starts a group
        new[1:] = (sg[1:] != sg[:-1]) | (sub[1:] != sub[:-1])
        starts = np.flatnonzero(new)
        gsize = np.diff(np.r_[starts, n])
        big = gsize > _TINY_GROUP
        x = ph.astype(np.uint64)
        # tiny groups: one block each; a large group's rows are blocks
        # of one here, so only the per-group pass below compares them
        tiny = np.cumsum(new | np.repeat(big, gsize))
        max_d = int(min(_TINY_GROUP, gsize.max()))
        i, j = _block_edges(x, tiny, radius, max_d)
        ii, jj = [i], [j]
        for s, m in zip(starts[big], gsize[big]):
            edges = (
                _banded_edges(x[s : s + m], radius)
                if m > _BANDED_COMPONENTS_MIN
                else _block_edges(x[s : s + m], None, radius, m)
            )
            ii.append(edges[0] + s)
            jj.append(edges[1] + s)
        lab = _labels(n, np.concatenate(ii), np.concatenate(jj))
        size = np.bincount(lab, weights=cnt)[lab].astype(np.int64)  # cluster ROWS
        hot = pdf["is_hot"].to_numpy()
        keep = hot | (size >= 2)
        yield pd.DataFrame(
            {
                "phash": ph[keep],
                "cnt": cnt[keep],
                "rep": reps[keep],
                "sg": sg[keep],
                "is_hot": hot[keep],
                "cluster_id": reps[lab][keep],
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
    # facts (rows, distinct hashes), <= 2^bits rows marked by a null `b`.
    # Sums and counts only, so the aggregate hashes (a string min would
    # force a sort of every node row). Every data-dependent choice below
    # (supergroups, hot salting, the pass-2 merge) is made from it on
    # the driver.
    facts = pc.groupBy("bucket").agg(F.sum("cnt").alias("n"), F.count("*").alias("dn"))
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
    sgs, hot = _supergroups(spark, got, labels, hot_threshold)
    # Only the nodes of supergroups with >= 2 distinct hashes or >= 2 rows
    # enter the map: their buckets join as a driver-side LocalRelation. A
    # one-hash supergroup's rows all share the hash, so its node passes
    # pass 1 as a one-node group whose cluster is its rep (the viral-image
    # case: 10^6 copies = 1 node). Splitting those nodes off instead
    # would push the split's filter into the LocalRelation and broadcast
    # a second one, and broadcasting a LocalRelation runs a job.
    nodes = pc.join(F.broadcast(sgs), "bucket")
    pass1_schema = (
        "phash long, cnt long, rep string, sg int, is_hot boolean,"
        " cluster_id string, cluster_size long"
    )
    # Pass 1: non-hot supergroups come out final (rows of >= 2-row
    # clusters only); hot ones come out whole, as salted sub-clusters.
    # Sorted by rep within each group, so a component's min index is its
    # min rep (`_cluster_partition`).
    shr = F.shiftrightunsigned(F.col("phash"), bits)
    sub = F.when(F.col("is_hot"), shr.bitwiseAND(F.lit(sub_mask)).cast("int"))
    local = (
        nodes.select("phash", "cnt", "rep", "sg", "is_hot", sub.otherwise(0).alias("sub"))
        .repartition("sg", "sub")
        .sortWithinPartitions("sg", "sub", "rep")
        .mapInPandas(_cluster_partition(radius), schema=pass1_schema)
    )
    cols = ["phash", "cluster_id", "cluster_size"]
    if hot:
        # diamond: `local` feeds the non-hot rows, the rep extraction and
        # the merge join — materialize it before they are planned, so the
        # Python pass runs once (Spark reuses exchanges, not post-shuffle
        # Python stages; a lazy cache was built by three racing stages)
        local = local.localCheckpoint(eager=True)
    ph_map = local.where(~F.col("is_hot")).select(*cols)
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
    # count it on the way, and cut the lineage.
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
    np.unique numbers the nodes in sorted order, so `_labels`' min index
    is the min node."""
    if not edges:
        return {}
    nodes, idx = np.unique(np.asarray(edges).ravel(), return_inverse=True)
    lab = _labels(len(nodes), idx[0::2], idx[1::2])
    return dict(zip(nodes.tolist(), nodes[lab].tolist()))


def _supergroups(
    spark, facts: list, labels: dict, hot_threshold: int
) -> tuple[DataFrame, bool]:
    """Per-bucket facts and bucket -> supergroup labels (unlabeled
    buckets are their own) -> one ``(bucket, sg, is_hot)`` LocalRelation
    of the buckets of supergroups with >= 2 distinct hashes or >= 2 rows
    (the others hold one single-row node, a cluster of itself), and
    whether any supergroup is hot (by ROWS, contract step 3; a one-hash
    supergroup never is, having nothing to compare). It comes from Arrow:
    a pandas frame with no rows would become a Python RDD, i.e. a worker
    per slice."""
    f = pd.DataFrame([r.asDict() for r in facts], columns=["bucket", "n", "dn"])
    f["sg"] = [labels.get(b, b) for b in f["bucket"]]
    tot = f.groupby("sg")[["n", "dn"]].transform("sum")
    f["is_hot"] = (tot["n"] > hot_threshold) & (tot["dn"] >= 2)
    f = f.loc[(tot["dn"] >= 2) | (f["n"] >= 2), ["bucket", "sg", "is_hot"]]
    table = pa.Table.from_pandas(f, preserve_index=False)
    return (
        spark.createDataFrame(table, "bucket int, sg int, is_hot boolean"),
        bool(f["is_hot"].any()),
    )


def _cc_min_label(edges: DataFrame) -> DataFrame:
    """Connected components over a small undirected edge list.

    Min-label propagation to fixpoint: every node ends with the minimum
    node id of its component — the same contract as `_labels` (via
    `_min_labels`), distributed. Caller persists `edges`; each iteration
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
    """One hot supergroup's sub-cluster reps -> the merged cluster of
    each: the min local cluster id of its within-``radius2`` component
    (== min image_id of the members, since local ids are themselves min
    image_ids; sorted first, so that is the component's min index)."""
    pdf = pdf.sort_values("orig_local", kind="stable")
    ph = pdf["phash"].to_numpy()
    # large rep sets (a hot supergroup of mostly-singleton components
    # yields ~one rep per distinct hash) take the banded finder — the
    # r5 fix for the 6.4M serial-task collapse; small sets keep the
    # direct compare (less per-call overhead, same exact result)
    comp = _components_banded if len(ph) > _BANDED_COMPONENTS_MIN else _components
    orig = pdf["orig_local"].to_numpy(dtype=object)
    return pd.DataFrame(
        {
            "sg": pdf["sg"].to_numpy(),
            "orig_local": orig,
            "global_cluster": orig[comp(ph, radius2)],
        }
    )
