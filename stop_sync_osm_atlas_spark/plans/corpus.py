"""End-to-end text-corpus preparation: the LLM-training-data pipeline.

The image keep/drop/scrub cascade (``plans/pipeline.py``) is the graft's
flagship; this module is its sibling for the `documents` side — the
standard web-corpus preparation flow, composed entirely from the
engine's graded operators:

1. line-level cleaning          operators/lines.clean_lines      (q-tested)
   + optional ExactSubstr removal
                                operators/dedup.remove_duplicated_spans (q28)
2. exact dedup                  operators/dedup.exact_dedup shape (q21)
3. MinHash-LSH near-dedup       operators/dedup.minhash_lsh_pairs (q26)
4. model quality signals        functions/training.train_models_fused
                                + langid / perplexity UDFs        (q48)
5. quality rule ladder          (empty / too-short / high-ppl /
                                langid-mismatch — q48's ladder)
6. sequence packing             operators/packing.pack_bins       (q50)

Each stage is individually oracle-graded by the driver; this composition
is integration-tested (tests/test_corpus_pipeline.py) for conservation
invariants: every surviving doc appears exactly once, drops are
accounted by reason, and the packed output conserves kept tokens.

Scale shape: stages communicate only through DataFrames — one lineage,
no driver materialization except the two bounded model collects inside
``train_models_fused`` (<= n_lang x 2048 + V^2 rows). The near-dup
stage shuffles slim (id, band-key) pairs only; cleaning shuffles on the
line-form key it aggregates on; packing is one shuffle per partition
key. No stage re-reads the corpus from disk.
"""

from __future__ import annotations

from dataclasses import dataclass, fields, replace

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ..functions.langid import langid_hashed_ngram_udf
from ..functions.perplexity import perplexity_udf
from ..fixtures.norm_tables import ALL_STOPWORDS
from ..functions.text import (
    alpha_word_frac,
    is_blank,
    mean_word_len,
    n_words,
    token_set_hits,
)
from ..functions.training import train_models_fused
from ..operators.dedup import minhash_lsh_pairs, remove_duplicated_spans
from ..operators.lines import clean_lines, ngram_stats
from ..operators.packing import pack_bins


# The `None -> default` resolution of the CorpusConfig n-gram dials —
# shared with the SQL oracle (one source of truth for the thresholds).
# Deliberately the CONSERVATIVE subset of the published Gopher set: the
# published top-{3,4} thresholds (0.18/0.16) assume Gopher's 50-word
# document floor, and at this engine's min_words=5 default they drop
# ordinary short documents (a 16-token doc's once-occurring top 4-gram
# already carries ~0.22 of its chars — verified by the r6 control
# fixture). The FULL published set is one config away and measured at
# +8% (13.5 -> 14.5 s on sf0.1 prepare_corpus — one per-doc window
# supplies every lead_k; BENCH/BASELINE.md): top {2: 0.20, 3: 0.18,
# 4: 0.16} as max_top_ngram_char_frac and dup {5: 0.15, 6: 0.14,
# 7: 0.13, 8: 0.12, 9: 0.11, 10: 0.10} as max_dup_ngram_char_frac,
# paired with a Gopher-like min_words.
GOPHER_TOP_NGRAM: dict[int, float] = {2: 0.20}
GOPHER_DUP_NGRAM: dict[int, float] = {5: 0.15}


@dataclass(frozen=True)
class CorpusConfig:
    """Every dial of ``prepare_corpus`` in one frozen object (the
    ``RuleConfig`` pattern, ``operators/rules.py``): call sites and the
    SQL oracle read thresholds from the SAME defaults instead of
    mirroring a growing keyword list. ``None`` disables the optional
    gates exactly as the old keyword defaults did; the n-gram dials
    keep their ``None -> published-Gopher-default`` resolution
    ({2: 0.20} / {5: 0.15}) inside the pipeline so ``{}`` still means
    "stage off"."""

    max_line_df: int = 2
    ppl_threshold: float = 6.0
    min_words: int = 5
    pack_budget: int = 512
    pack_shards: int = 1
    max_dup_line_frac: float = 0.30
    max_dup_line_char_frac: float = 0.20
    max_top_ngram_char_frac: dict[int, float] | None = None
    max_dup_ngram_char_frac: dict[int, float] | None = None
    max_bullet_line_frac: float | None = 0.90
    max_ellipsis_line_frac: float | None = 0.30
    word_len_range: tuple[float, float] | None = (3.0, 10.0)
    min_alpha_word_frac: float | None = 0.80
    min_stopword_hits: int | None = 2
    exact_fp_prefix: int | None = None
    remove_dup_spans_k: int | None = None
    remove_dup_spans_min_docs: int = 2
    # keep-one ExactSubstr removal (operators/dedup keep_first): the
    # canonical occurrence of every duplicated gram survives instead of
    # all copies vanishing corpus-wide
    remove_dup_spans_keep_first: bool = False


_CORPUS_FIELDS = {f.name for f in fields(CorpusConfig)}


def prepare_corpus(
    docs: DataFrame,
    cfg: CorpusConfig | None = None,
    **overrides,
) -> tuple[DataFrame, DataFrame]:
    """-> (decisions, bins).

    Dials live on ``CorpusConfig``; keyword overrides of its fields are
    accepted for convenience (``prepare_corpus(docs, min_words=10)`` ==
    ``prepare_corpus(docs, replace(CorpusConfig(), min_words=10))``) —
    unknown keywords raise immediately.

    ``decisions``: (doc_id, lang, reason, decision, n_tok) — one row per
    input doc; decision in {keep, drop}; reason is the first matching
    rule (exact_dup / near_dup / high_line_repetition /
    high_bullet_lines / high_ellipsis_lines / empty / too_short /
    high_ngram_repetition / word_length_outlier / low_alpha_ratio /
    low_stopword_count / high_perplexity / langid_mismatch) or 'keep'.
    ``bins``: pack_bins output over the kept docs.

    ``max_dup_line_frac`` / ``max_dup_line_char_frac``: the Gopher /
    MassiveText repetition thresholds (reference pattern: every computed
    mismatch signal feeds the problem ladder,
    matching_process/problem_detection.py:417-472). A doc whose RAW text
    exceeds EITHER — fraction of duplicate non-empty lines, or fraction
    of characters inside repeat line occurrences — drops with reason
    ``high_line_repetition``. The signals are line_stats' fractions,
    computed pre-cleaning (cleaning itself removes within-doc repeats,
    so post-clean they are 0 by construction) and ride clean_lines'
    existing window + rebuild aggregate at zero extra scans. Placed
    before the cleaned-text quality rules: a fully-repetitive doc would
    otherwise collapse under cleaning and misreport as too_short.

    ``max_top_ngram_char_frac`` / ``max_dup_ngram_char_frac``: the
    word-level Gopher repetition dials ({n: threshold};
    ``operators/lines.ngram_stats``), defaulting to the published
    top-2-gram > 0.20 and dup-5-gram > 0.15 rules (pass ``{}`` for both
    to disable the stage). Unlike the line signals these run on the
    CLEANED text: line dedup already removed repeated lines, so what
    the n-gram gate must catch is the phrase looping WITHIN lines
    ("buy now buy now ...") that survives cleaning — and scoring the
    cleaned text both reuses the persisted cleaning output (no extra
    raw-text scan) and judges the text a kept doc would actually ship.
    Dropped with reason ``high_ngram_repetition``, placed AFTER the
    empty/too_short gates: a top-gram fraction is trivially large on
    tiny docs (a 6-token doc's longest unique bigram already exceeds
    0.20), so — as in Gopher, where the 50-word floor applies alongside
    the repetition rules — only docs that pass the length gates are
    judged on n-gram repetition. The LINE gate, by contrast, stays
    ahead of the length gates because it scores the RAW text that
    cleaning would collapse.

    ``max_bullet_line_frac`` / ``max_ellipsis_line_frac``: the Gopher
    FORMAT filters over the RAW lines (``line_stats``'s
    ``bullet_line_frac`` / ``ellipsis_line_frac``, riding the same
    cleaning window at zero extra scans): a listing/snippet page —
    > 90% bullet-starting or > 30% ellipsis-ending non-empty lines —
    drops with reason ``high_bullet_lines`` / ``high_ellipsis_lines``,
    placed right after the line-repetition gate (same raw-line signal
    family). ``None`` disables either dial.

    ``word_len_range`` / ``min_alpha_word_frac`` / ``min_stopword_hits``:
    the Gopher WORD filters over the CLEANED tokens, evaluated after
    the length gates like the n-gram gate (word statistics are noise on
    tiny docs): mean word length outside [3, 10] -> ``word_length_outlier``
    (machine strings / CJK-without-spaces shape), < 80% of tokens
    containing a letter -> ``low_alpha_ratio`` (tables, logs, code
    dumps), fewer than 2 stopword occurrences (the fixtures' pooled
    multilingual list — Gopher's English-only list generalized) ->
    ``low_stopword_count`` (keyword-stuffing shape). All three are
    single codegen'd expressions on the scored projection — no extra
    scan, shuffle, or UDF. ``None`` disables each.

    ``remove_dup_spans_k``: off by default (``None``). When set, the
    ExactSubstr removal transform
    (``operators/dedup.remove_duplicated_spans``) runs between line
    cleaning and everything downstream: every token inside a k-token
    gram shared by >= ``remove_dup_spans_min_docs`` DISTINCT docs is
    stripped from ALL of them — the cross-document license-block /
    quoted-paragraph / template long tail that line cleaning (bounded
    by line breaks) and doc-level dedup (whole-doc granularity) both
    miss. Fingerprinting, near-dedup, the trained models, every
    cleaned-text gate, and packing then see the STRIPPED text, so
    n_tok and the packed bins reflect what a trainer would consume.
    The stage adds two gram-build passes over the cleaning output, so
    the pre-strip frame is persisted for its duration (released with
    the base cache).

    ``exact_fp_prefix``: chars of cleaned text the exact-dedup
    fingerprint hashes. Default ``None`` = the FULL cleaned text
    (exact — safe here because cleaning bounds pathological docs and
    the hash rides an existing shuffle). A bounded value (e.g. the
    10_000 that ``operators.dedup.exact_dedup`` defaults to) trades
    md5 cost for the documented collision risk: docs identical in
    their first prefix chars but diverging later collapse as
    exact_dup. Same knob, same trade, both entry points — pick per
    corpus length profile.

    Expects (doc_id, text, lang) columns; extra columns pass through to
    the cleaning stage and are dropped afterwards.

    Caching contract: the returned ``decisions`` frame is persisted
    (it was materialized to free the internal text-bearing cache) —
    call ``decisions.unpersist()`` when finished with both outputs.
    """
    cfg = cfg or CorpusConfig()
    if overrides:
        unknown = set(overrides) - _CORPUS_FIELDS
        if unknown:
            raise TypeError(
                f"unknown CorpusConfig field(s): {sorted(unknown)}"
            )
        cfg = replace(cfg, **overrides)
    # locals mirror the config fields 1:1 so the staged plan below reads
    # like the pipeline description
    max_line_df = cfg.max_line_df
    ppl_threshold = cfg.ppl_threshold
    min_words = cfg.min_words
    max_dup_line_frac = cfg.max_dup_line_frac
    max_dup_line_char_frac = cfg.max_dup_line_char_frac
    max_top_ngram_char_frac = cfg.max_top_ngram_char_frac
    max_dup_ngram_char_frac = cfg.max_dup_ngram_char_frac
    max_bullet_line_frac = cfg.max_bullet_line_frac
    max_ellipsis_line_frac = cfg.max_ellipsis_line_frac
    word_len_range = cfg.word_len_range
    min_alpha_word_frac = cfg.min_alpha_word_frac
    min_stopword_hits = cfg.min_stopword_hits
    exact_fp_prefix = cfg.exact_fp_prefix

    cleaned = clean_lines(docs, max_line_df=max_line_df, with_stats=True)
    base = docs.select("doc_id", "lang").join(cleaned, "doc_id")

    pre_strip = None
    if cfg.remove_dup_spans_k is not None:
        # the substring pass checkpoints its token frame (one read) but
        # this join is a second consumer of the cleaning output —
        # persist it for the stage's duration or the Python cleaning
        # stage recomputes per branch
        pre_strip = base.persist()
        stripped = remove_duplicated_spans(
            pre_strip.select("doc_id", F.col("text_clean").alias("text")),
            k=cfg.remove_dup_spans_k,
            min_docs=cfg.remove_dup_spans_min_docs,
            keep_first=cfg.remove_dup_spans_keep_first,
        )
        base = pre_strip.drop("text_clean").join(
            stripped.select(
                "doc_id", F.col("text_dedup").alias("text_clean")
            ),
            "doc_id",
        )

    # exact dedup on the CLEANED text (q21 shape): keep min doc_id.
    fp_input = (
        F.col("text_clean")
        if exact_fp_prefix is None
        else F.substring(F.col("text_clean"), 1, exact_fp_prefix)
    )
    fp_w = W.partitionBy(F.md5(fp_input)).orderBy("doc_id")
    # base feeds FOUR consumers (dedup filter, LSH, model training, the
    # scored projection); Spark reuses exchanges but NOT Python stages,
    # so without a persist the cleaning pass would recompute per branch
    # (diamond-plan rule in CLAUDE.md). Measured at sf0.1: ~25 s -> ~7 s.
    base = base.withColumn("_fp_rk", F.row_number().over(fp_w)).persist()

    # near-dedup on the cleaned survivors (q26 shape): losers of any
    # LSH pair drop (keep the smaller doc_id of each pair).
    survivors = base.where(F.col("_fp_rk") == 1).select(
        "doc_id", F.col("text_clean").alias("text")
    )
    near_losers = (
        minhash_lsh_pairs(survivors)
        .select(F.col("b_id").alias("doc_id"))
        .distinct()
        .withColumn("_near", F.lit(True))
        # the loser-id set feeds TWO consumers below (the scored frame's
        # verdict join and the ngram branch's survivor filter) and
        # Catalyst specializes shared subtrees, so without this the
        # whole LSH chain (shingle explode + signature aggregate + band
        # self-join) would run twice. Slim (doc_id, bool) frame -> lazy
        # localCheckpoint (the repo's in-operator diamond rule): both
        # consumers read one RDD, blocks freed by the ContextCleaner.
        .localCheckpoint(eager=False)
    )

    lid_model, bigram = train_models_fused(
        base.where(F.col("_fp_rk") == 1).select(
            F.col("text_clean").alias("text"), "lang"
        )
    )
    lid = langid_hashed_ngram_udf(lid_model)
    ppl = perplexity_udf(bigram)

    # ---- survivor-gated scoring (single frame) -------------------------
    # The reason ladder resolves exact_dup / near_dup FIRST, so langid,
    # perplexity, the word statistics and the whole ngram_stats gram
    # explode are wasted work on every dedup loser — on a dup-heavy
    # crawl that is MOST of the corpus (96% of the 20x-tiled stress).
    # The reference's cascade never evaluates later stages for already-
    # matched rows either (matching_script.py:264-271). Per-row gating
    # on ONE frame is semantics-preserving AND plan-cheap: the Arrow
    # UDFs receive NULL text for losers (their Python paths skip
    # non-str rows at ~zero cost), the codegen'd word gates ride the
    # same null (CaseWhen short-circuits per row in generated code),
    # and the ngram explode's INPUT is filtered to survivors — so
    # losers pay only the cheap n_tok. The earlier two-branch
    # split-and-union shape produced identical output but cost ~2.5 s
    # of extra plan machinery at sf0.1 (second join + union + a
    # post-Arrow broadcast barrier, measured in the r6 A/B); this
    # gated single-frame shape keeps the full 1.35-1.6x dup-heavy
    # stress win (measured: 32-35 s vs score-everything's 47-57 s at
    # 100k docs) at zero cost on low-dup corpora.
    verdicts = base.join(near_losers, "doc_id", "left")
    is_surv = (F.col("_fp_rk") == 1) & F.col("_near").isNull()
    surv_frame = verdicts.where(is_surv)

    if max_top_ngram_char_frac is None:
        max_top_ngram_char_frac = GOPHER_TOP_NGRAM
    if max_dup_ngram_char_frac is None:
        max_dup_ngram_char_frac = GOPHER_DUP_NGRAM
    ngram_cond = F.lit(False)
    ng_join = []
    if max_top_ngram_char_frac or max_dup_ngram_char_frac:
        # consumer of the persisted base — the token explode and gram
        # shuffles run over the cached cleaning output (survivors only:
        # dedup losers never reach the ngram gate), never a second
        # raw-text scan
        ng = ngram_stats(
            surv_frame.select("doc_id", F.col("text_clean").alias("text")),
            top_ns=tuple(sorted(max_top_ngram_char_frac)),
            dup_ns=tuple(sorted(max_dup_ngram_char_frac)),
        )
        ng_join = [ng]
        for n, th in sorted(max_top_ngram_char_frac.items()):
            ngram_cond = ngram_cond | (
                F.col(f"top_{n}gram_char_frac") > F.lit(th)
            )
        for n, th in sorted(max_dup_ngram_char_frac.items()):
            ngram_cond = ngram_cond | (
                F.col(f"dup_{n}gram_char_frac") > F.lit(th)
            )

    surv_text = F.when(is_surv, F.col("text_clean"))
    scored = verdicts
    for ng in ng_join:
        # join the slim per-doc gram fractions BEFORE the Arrow
        # projection: with the model scoring on top of the join, the
        # planner can pick either build side without ever having to
        # broadcast (and thus barrier on) the Python stage's output —
        # measured: the post-Arrow join let AQE elect the Arrow side as
        # the build, serializing the whole scoring stage behind a
        # broadcast (~2.5 s at sf0.1). Left join: losers have no ng row
        # (the explode never saw them); a null ngram_cond falls through
        # CaseWhen exactly like false.
        scored = scored.join(ng, "doc_id", "left")
    scored = (
        scored
        .withColumn("_lid", lid(surv_text))
        # round to 4 decimals BEFORE thresholding — the repo-wide
        # cross-engine determinism convention for model scores (same as
        # q48): the SQL oracle re-derives ppl in double arithmetic and
        # both sides compare the identical rounded value against the
        # threshold, removing last-ulp boundary flips.
        .withColumn("_ppl", F.round(ppl(surv_text), 4))
        .withColumn("n_tok", n_words(F.col("text_clean")))
        # Gopher word statistics, all single codegen'd expressions over
        # the cleaned text (no explode) — definitions live with their
        # siblings in functions/text.py under its three-mirror contract;
        # surv_text nulls them for losers, whose ladder rows resolve at
        # the dedup whens before any gate column is read
        .withColumn("_mean_wlen", mean_word_len(surv_text))
        .withColumn("_alpha_frac", alpha_word_frac(surv_text))
        .withColumn(
            "_sw_hits", token_set_hits(surv_text, ALL_STOPWORDS)
        )
    )
    bullet_cond = (
        F.lit(False)
        if max_bullet_line_frac is None
        else F.col("bullet_line_frac") > F.lit(max_bullet_line_frac)
    )
    ellipsis_cond = (
        F.lit(False)
        if max_ellipsis_line_frac is None
        else F.col("ellipsis_line_frac") > F.lit(max_ellipsis_line_frac)
    )
    wlen_cond = (
        F.lit(False)
        if word_len_range is None
        else (F.col("_mean_wlen") < F.lit(float(word_len_range[0])))
        | (F.col("_mean_wlen") > F.lit(float(word_len_range[1])))
    )
    alpha_cond = (
        F.lit(False)
        if min_alpha_word_frac is None
        else F.col("_alpha_frac") < F.lit(min_alpha_word_frac)
    )
    sw_cond = (
        F.lit(False)
        if min_stopword_hits is None
        else F.col("_sw_hits") < F.lit(min_stopword_hits)
    )
    # first-matching-reason ladder: the dedup whens lead, so loser rows
    # short-circuit before any (null) gate column is read
    reason = (
        F.when(F.col("_fp_rk") > 1, F.lit("exact_dup"))
        .when(F.col("_near"), F.lit("near_dup"))
        .when(
            (F.col("dup_line_frac") > F.lit(max_dup_line_frac))
            | (F.col("dup_line_char_frac") > F.lit(max_dup_line_char_frac)),
            F.lit("high_line_repetition"),
        )
        .when(bullet_cond, F.lit("high_bullet_lines"))
        .when(ellipsis_cond, F.lit("high_ellipsis_lines"))
        .when(is_blank(F.col("text_clean")), F.lit("empty"))
        .when(F.col("n_tok") < min_words, F.lit("too_short"))
        .when(ngram_cond, F.lit("high_ngram_repetition"))
        .when(wlen_cond, F.lit("word_length_outlier"))
        .when(alpha_cond, F.lit("low_alpha_ratio"))
        .when(sw_cond, F.lit("low_stopword_count"))
        .when(F.col("_ppl") > ppl_threshold, F.lit("high_perplexity"))
        .when(F.col("_lid.lang") != F.col("lang"), F.lit("langid_mismatch"))
        .otherwise(F.lit("keep"))
    )
    # decisions feeds both the caller and the packing stage — persist the
    # slim 5-column frame so bins doesn't re-run the scoring UDFs.
    decisions = scored.select(
        "doc_id",
        "lang",
        reason.alias("reason"),
        F.when(reason == "keep", F.lit("keep")).otherwise(F.lit("drop")).alias(
            "decision"
        ),
        "n_tok",
    ).persist()

    # The fused training collect above already materialized base's cache;
    # materializing the slim decisions frame here lets us release the
    # (text-bearing, much larger) base cache before returning. Only
    # `decisions` stays cached — callers unpersist it when done.
    decisions.count()
    base.unpersist()
    if pre_strip is not None:
        pre_strip.unpersist()

    kept = decisions.where(F.col("decision") == "keep").select(
        "doc_id", "lang", "n_tok"
    )
    # KEY-CARDINALITY NOTE (pack_bins' contract): the partition key is
    # 'lang', which is Zipfian on a real crawl — English alone would
    # serialize into ONE window task. pack_shards=1 (the default) is
    # the GRADED configuration because the q02 oracle replays the
    # global single-window packing exactly; a production run at scale
    # must set CorpusConfig.pack_shards high enough that
    # docs_per_lang / shards fits a task (the sharded path is graded
    # too — q50's 4-shard arm — and stays deterministic via the
    # documented (shard, order) packing trade).
    bins = pack_bins(
        kept, F.col("n_tok"), budget=cfg.pack_budget, shards=cfg.pack_shards
    )
    return decisions, bins
