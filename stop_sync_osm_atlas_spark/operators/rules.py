"""Quality-rule pack: the priority `when`-ladder cascade.

Direct re-expression of the reference's problem-priority calculators —
pure CASE WHEN ladders over thresholds with category-dependent severity
(reference matching_process/problem_detection.py:36-64 distance ladder,
:111-213 attribute checks, each gated by an ENABLE_* flag) — and of its
staged hit-first matching cascade (reference matching_script.py:246-344),
made declarative: instead of mutating used-sets between stages, every
rule is evaluated for every row and the winner is the lowest
``priority`` (first-hit-wins without sequential state; SURVEY.md §7.4.1).

All rules here are pure Catalyst expressions. The UDF-scored signals
(langid NB, perplexity) and the near-dup verdict enter as pre-computed
columns so this module stays JVM-side.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..fixtures.norm_tables import ALL_STOPWORDS
from ..functions import text as TX


@dataclass(frozen=True)
class RuleConfig:
    """Thresholds — the 15/25/80 m ladder analog (BASELINE.md).

    ``disabled_rules`` is the analog of the reference's per-check
    ENABLE_* switches (reference problem_detection.py:20-23): a named
    rule in the tuple never fires, in the engine AND the pandas oracle
    (both consult ``rule_enabled``).
    """

    min_words: int = 5
    max_words: int = 256
    max_repetition: float = 0.5
    max_symbol_ratio: float = 0.3
    min_stopword_density: float = 0.05
    stopword_rule_min_words: int = 20
    max_perplexity: float = 97.0  # ~uniform-over-alphabet ppl for gibberish
    # ENABLE_* analog (reference problem_detection.py:20-23). Honored by
    # the Spark cascade, batch and stream (``rule_hits`` folds disabled
    # hits to FALSE, pruning the predicate subtree) AND the pandas
    # oracle (stream: tests/test_scorers.py). NOTE on the 3-way
    # mirror contract (CLAUDE.md): the DuckDB q23 oracle SQL covers only
    # the DEFAULT config (nothing disabled) — it is generated once per
    # gate run from RuleConfig() and does not parameterize on
    # disabled_rules; non-default configs are graded by the pandas
    # oracle in tests/test_rules.py.
    disabled_rules: tuple[str, ...] = ()

    def rule_enabled(self, name: str) -> bool:
        return name not in self.disabled_rules


# (rule_name, priority, severity, decision). priority resolves
# first-hit-wins; severity mirrors the reference's 1=worst convention
# (reference backend/models.py:60-63).
RULE_TABLE: list[tuple[str, int, int, str]] = [
    ("override", 0, 1, "__forced__"),  # persistent override wins (Q7)
    ("corrupt_image", 10, 1, "drop"),
    ("empty_caption", 20, 1, "drop"),
    ("caption_too_short", 30, 2, "drop"),
    ("caption_too_long", 40, 2, "drop"),
    ("repetition", 50, 2, "drop"),
    ("symbol_ratio", 60, 2, "drop"),
    ("low_stopword_density", 70, 3, "drop"),
    # PII-only content is a content-emptiness fact, checked before the
    # language signals (which would misfire on placeholder-only text).
    ("pii_only_after_scrub", 75, 2, "drop"),
    ("langid_undetermined", 80, 3, "drop"),
    ("high_perplexity", 90, 3, "drop"),
    ("near_duplicate", 100, 3, "drop"),
    ("scrub", 120, 4, "scrub"),
    ("keep", 1000, 5, "keep"),
]

RULE_PRIORITY = {name: prio for name, prio, _, _ in RULE_TABLE}
RULE_SEVERITY = {name: sev for name, _, sev, _ in RULE_TABLE}
RULE_DECISION = {name: dec for name, _, _, dec in RULE_TABLE}


def metadata_rule_hits(df: DataFrame, cfg: RuleConfig) -> dict[str, Column]:
    """Boolean hit column per metadata/caption rule.

    Expects the mandated pairs columns; does NOT decode bytes (that is
    ``functions.image.decode_validate_inline``) — the metadata variant
    mirrors the reference's pre-import coordinate validation
    (reference import_data_db.py:60-100).
    """
    cap = F.col("caption")
    # Prefer the fused-Python signal columns when the Arrow text pass
    # supplied them (see functions/image.py for why); fall back to the
    # pure-Catalyst expressions otherwise (SQL-checkable queries,
    # metadata-only frames).
    has = set(df.columns)
    nw = F.col("n_words_py") if "n_words_py" in has else TX.n_words(cap)
    # blank <=> zero words (functions.text.is_blank)
    blank = nw == 0 if "n_words_py" in has else TX.is_blank(cap)
    rep = F.col("rep_ratio") if "rep_ratio" in has else TX.repetition_ratio(cap)
    sym = (
        F.col("symbol_ratio_py")
        if "symbol_ratio_py" in has
        else TX.symbol_ratio(cap)
    )
    swd = (
        F.col("stop_density_py")
        if "stop_density_py" in has
        else TX.stopword_density(cap, list(ALL_STOPWORDS))
    )
    return {
        "corrupt_image": (
            F.col("w").isNull()
            | F.col("h").isNull()
            | (F.col("w") <= 0)
            | (F.col("h") <= 0)
            | F.col("fmt").isNull()
            | ~F.col("fmt").isin("png", "jpeg")
        ),
        "empty_caption": blank,
        "caption_too_short": nw < cfg.min_words,
        "caption_too_long": nw > cfg.max_words,
        "repetition": rep >= cfg.max_repetition,
        "symbol_ratio": sym >= cfg.max_symbol_ratio,
        "low_stopword_density": (nw >= cfg.stopword_rule_min_words)
        & (swd < cfg.min_stopword_density),
    }


def rule_hits(df: DataFrame, cfg: RuleConfig) -> dict[str, Column]:
    """Every hit that needs no near-dup cluster, disabled rules folded.

    Expects the ``functions.image`` text-signal columns
    (``caption_scrubbed_pre``, ``pii_only_py``) and ``score_signals``'
    ``lang``/``perplexity``. A disabled rule's hit is the constant
    FALSE (the ENABLE_* analog, reference problem_detection.py:20-23),
    so Catalyst prunes its whole predicate subtree from the plan.
    """
    cap = F.col("caption")
    hits = metadata_rule_hits(df, cfg)
    hits["langid_undetermined"] = F.col("lang") == "und"
    hits["high_perplexity"] = F.col("perplexity") > cfg.max_perplexity
    hits["scrub"] = cap.isNotNull() & (F.col("caption_scrubbed_pre") != cap)
    hits["pii_only_after_scrub"] = F.coalesce(F.col("pii_only_py"), F.lit(False))
    return {
        name: hit if cfg.rule_enabled(name) else F.lit(False)
        for name, hit in hits.items()
    }


def with_rule_resolution(df: DataFrame, hits: dict[str, Column]) -> DataFrame:
    """Resolve the cascade declaratively.

    Adds: rule, severity, decision, reasons (every rule that fired, in
    priority order — the lineage analog of the reference's
    ``matching_notes`` + problems list,
    reference matching_process/problem_detection.py:417-472).
    """
    ordered: list[tuple[str, Column]] = sorted(
        hits.items(), key=lambda kv: RULE_PRIORITY[kv[0]]
    )
    rule_col = F.lit("keep")
    for name, cond in reversed(ordered):
        rule_col = F.when(cond, F.lit(name)).otherwise(rule_col)
    sev_map = F.create_map(
        *[x for name in RULE_SEVERITY for x in (F.lit(name), F.lit(RULE_SEVERITY[name]))]
    )
    dec_map = F.create_map(
        *[
            x
            for name in RULE_DECISION
            if RULE_DECISION[name] != "__forced__"
            for x in (F.lit(name), F.lit(RULE_DECISION[name]))
        ]
    )
    reasons = F.filter(
        F.array(
            *[
                F.when(cond, F.lit(name)).otherwise(F.lit(None))
                for name, cond in ordered
            ]
        ),
        lambda x: x.isNotNull(),
    )
    return (
        df.withColumn("rule", rule_col)
        .withColumn("severity", sev_map[F.col("rule")].cast("int"))
        .withColumn("decision", dec_map[F.col("rule")])
        .withColumn("reasons", reasons)
    )
