"""Text-statistic column expressions — pure Catalyst, whole-stage-codegen'd.

These are the engine's analog of the reference's attribute-mismatch
heuristics (reference matching_process/problem_detection.py:111-213) and
its universal comparator ``lower(trim(x))`` (reference
matching_process/exact_matching.py:176, name_matching.py:51).  Every
function here returns a Column built only from pyspark.sql.functions —
no Python UDFs in the hot path (100 TB: these stay inside
WholeStageCodegen, zero serde).

Semantics are mirror-imaged 1:1 by the DuckDB oracle SQL in
``__spark_entry__.py`` and the pandas oracle in ``oracle/oracle.py``;
changing a definition here requires changing all three.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Explicit ASCII \s class: Java's \s is exactly this set, Python's is
# too under re.ASCII, but RE2 (DuckDB) EXCLUDES \x0b from \s — every
# decision-bearing split/strip uses this explicit class so all three
# engines cut the same bytes even on vertical-tab text (the residual
# divergence the old \s+ patterns carried).
WS_CLASS = r"[ \t\n\x0b\x0c\r]"
# Non-alphanumeric, non-whitespace — the "symbol" class. Explicit
# charset for the same RE2-\x0b reason as WS_CLASS.
SYMBOL_CLASS = r"[^A-Za-z0-9 \t\n\x0b\x0c\r]"
WS_SPLIT = WS_CLASS + "+"
# The same charset as a chr-list — what the Python mirrors strip; the
# DuckDB twin is the _WS chr()-list in __spark_entry__.py
ASCII_WS = " \t\n\x0b\x0c\r"


def norm_text(c: Column) -> Column:
    """lower(trim(x)) — the universal comparator (X3)."""
    return F.lower(F.trim(c))


def trim_ws(c: Column) -> Column:
    """Strip leading/trailing ASCII whitespace ([ \\t\\n\\x0b\\f\\r]).

    ``F.trim`` strips ONLY 0x20, so tab/CRLF padding — ubiquitous in
    web text — leaks into tokenization and empty checks. Java's \\s is
    exactly the ASCII set, which Python mirrors with ``re.ASCII`` and
    DuckDB with an explicit trim charset (the ``_WS`` constant in
    ``__spark_entry__.py``); \\xa0 (NBSP) is whitespace in NO mirror.
    The interior-split divergence RE2's \\s carried (\\x0b excluded) is
    closed too: every split/strip pattern in all three engines now uses
    the explicit ``WS_CLASS`` charset, never \\s.
    """
    return F.regexp_replace(
        F.coalesce(c, F.lit("")), rf"^{WS_CLASS}+|{WS_CLASS}+$", ""
    )


def is_blank(c: Column) -> Column:
    """True iff null or nothing but ASCII whitespace — the empty-text
    gate, aligned with ``words()`` so blank <=> zero words."""
    return c.isNull() | (trim_ws(c) == "")


def words(c: Column) -> Column:
    """Whitespace tokenization of normalized text; [] for null/blank.

    Tokenizes the FULLY-trimmed (``trim_ws``) lowered text: splitting a
    space-only-trimmed string on \\s+ emits phantom '' boundary tokens
    for tab/CRLF-padded input ('\\t' counted TWO words), inflating
    n_words and every density denominator feeding the rule ladder.
    """
    t = trim_ws(c)
    return F.when(
        c.isNotNull() & (t != ""), F.split(F.lower(t), WS_SPLIT)
    ).otherwise(F.array().cast("array<string>"))


def n_words(c: Column) -> Column:
    return F.size(words(c))


def distinct_word_ratio(c: Column) -> Column:
    """|distinct words| / |words|; 1.0 for empty (no repetition evidence).

    KNOWN CodegenFallback: array_distinct de-codegens any projection
    containing it (CLAUDE.md rule) and no codegen'd built-in computes a
    distinct count over a split array. The batch cascade and the stream
    arms avoid it entirely (set() in the Arrow pass's _text_signals);
    the standalone q-paths pay one interpreted projection per row —
    measured small at their row rates, revisit only if a repetition
    signal lands on a new hot path."""
    w = words(c)
    return F.when(F.size(w) > 0, F.size(F.array_distinct(w)) / F.size(w)).otherwise(
        F.lit(1.0)
    )


def repetition_ratio(c: Column) -> Column:
    """1 - distinct/total — planted near-dup captions score >= 0.5."""
    return F.lit(1.0) - distinct_word_ratio(c)


def symbol_ratio(c: Column) -> Column:
    """Fraction of non-alphanumeric non-space chars over non-space chars."""
    no_space = F.regexp_replace(F.coalesce(c, F.lit("")), WS_SPLIT, "")
    clean = F.regexp_replace(no_space, SYMBOL_CLASS, "")
    return F.when(
        F.length(no_space) > 0,
        (F.length(no_space) - F.length(clean)) / F.length(no_space),
    ).otherwise(F.lit(0.0))


def token_set_hits(c: Column, tokens: list[str]) -> Column:
    """Count of whitespace tokens of lower(trim(c)) equal to any of
    ``tokens`` (duplicates counted).

    regexp_count with token-boundary lookahead instead of an
    array-lambda filter: higher-order functions are CodegenFallback
    (interpreted); this stays in whole-stage codegen. The leading
    ``(?:^|\\s)`` consumes at most the single separating space while the
    trailing lookahead consumes nothing, so adjacent stopwords
    ("the and") both count. Semantics identical to token equality
    because tokens are exactly the \\s+ splits.
    """
    import re as _re

    alt = "|".join(_re.escape(t) for t in tokens)
    return F.regexp_count(
        norm_text(F.coalesce(c, F.lit(""))),
        F.lit(rf"(?:^|{WS_CLASS})(?:{alt})(?={WS_CLASS}|$)"),
    )


def stopword_density(c: Column, stopwords: list[str]) -> Column:
    """Fraction of tokens that are stopwords (any language pooled).

    The stopword list is tiny and constant-folded into the codegen'd
    expression — the broadcast-map analog of the reference's
    operator-normalization lookup (J12, reference
    matching_process/org_standardization.py:7-44).
    """
    w = words(c)
    hits = token_set_hits(c, stopwords)
    return F.when(F.size(w) > 0, hits / F.size(w)).otherwise(F.lit(0.0))


def mean_word_len(c: Column) -> Column:
    """Mean token length over ``words(c)``; 0.0 for token-less text
    (Gopher word filter: outside [3, 10] marks machine strings or
    unsegmented scripts). Numerator = length with every WS_CLASS char
    stripped; rounded to 6, the mirror convention, so both engines
    threshold the same value."""
    t = F.lower(trim_ws(c))
    chars = F.length(F.regexp_replace(t, WS_CLASS, ""))
    return F.round(
        F.when(n_words(c) > 0, chars / n_words(c)).otherwise(F.lit(0.0)), 6
    )


def alpha_word_frac(c: Column) -> Column:
    """Fraction of tokens containing at least one ASCII letter; 1.0 for
    token-less text (Gopher: < 0.8 marks tables/logs/code dumps). One
    codegen'd regexp_count pass: the ``(?:^|\\s)`` boundary consumes at
    most the separating whitespace (same idiom as ``token_set_hits``)
    and the match ends inside the token, so each letter-bearing token
    counts exactly once."""
    t = F.lower(trim_ws(c))
    hits = F.regexp_count(
        t, F.lit(rf"(?:^|{WS_CLASS})[^ \t\n\x0b\x0c\r]*[a-z]")
    )
    return F.round(
        F.when(n_words(c) > 0, hits / n_words(c)).otherwise(F.lit(1.0)), 6
    )


# One "token" = a letter run, a digit run, or a single symbol - a cheap
# deterministic BPE proxy that stays JVM-side (regexp_count, codegen'd).
# Explicit whitespace charset for the same RE2-\x0b reason as WS_CLASS.
BPE_ISH_TOKEN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\x0b\x0c\r]"


def token_count_bpe_ish(c: Column) -> Column:
    return F.regexp_count(F.coalesce(c, F.lit("")), F.lit(BPE_ISH_TOKEN))


def fingerprint(c: Column, prefix_len: int | None = 64) -> Column:
    """Document fingerprint: md5 of the first ``prefix_len`` normalized
    chars (``None`` = the FULL normalized text — exact, at the cost of
    hashing unboundedly long documents).

    Cross-engine stable (MD5 is MD5 everywhere) — used for exact-dup
    grouping; the analog of the reference's duplicate key
    ``(number, designation)`` (reference matching_script.py:221-242).
    """
    # trim_ws, not norm_text: under space-only trim a leading tab became
    # a leading SPACE after the \s+ collapse, so text differing from its
    # twin only by tab/CRLF padding fingerprinted differently
    norm = F.regexp_replace(F.lower(trim_ws(c)), WS_SPLIT, " ")
    if prefix_len is not None:
        norm = F.substring(norm, 1, prefix_len)
    return F.md5(norm)
