"""PII / toxicity scrubbing — chained regexp_replace, all JVM-side.

Analog of the reference's operator-normalization broadcast map applied
at parse time (reference matching_process/org_standardization.py:7-44,
matching_script.py:53-57): a small constant rule table folded into the
plan. Patterns are Java-regex/RE2/Python-re-compatible (no lookbehind)
so the DuckDB oracle and the pandas oracle replicate byte-for-byte.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..fixtures.norm_tables import PII_PATTERNS, TOXICITY_TERMS
from ..functions.text import trim_ws

TOX_REPLACEMENT = "<TOX>"


def _tox_pattern() -> str:
    terms = "|".join(re.escape(t) for t, _ in TOXICITY_TERMS)
    return rf"\b({terms})\b"


def scrubbed_caption(cap: Column) -> Column:
    """Apply every PII pattern in declared order, then the toxicity list."""
    out = cap
    for _, pattern, repl in PII_PATTERNS:
        out = F.regexp_replace(out, pattern, repl)
    return F.regexp_replace(out, _tox_pattern(), TOX_REPLACEMENT)


def scrub_hit(cap: Column) -> Column:
    """True iff scrubbing would change the caption."""
    return cap.isNotNull() & (scrubbed_caption(cap) != cap)


def pii_only_hit(cap: Column) -> Column:
    """Caption is nothing but placeholders after scrub -> escalate to drop.

    (The scrub->drop escalation case from FIXTURES.md §5; analog of the
    reference's empty-designation skip, name_matching.py:34-37.)
    """
    residue = F.regexp_replace(
        scrubbed_caption(cap), r"<EMAIL>|<URL>|<PHONE>|<ID>|<TOX>", ""
    )
    # trim_ws on both gates: ASCII-whitespace semantics, aligned with
    # words()/is_blank (a CRLF-padded caption must behave like its
    # space-padded twin in every mirror)
    return cap.isNotNull() & (trim_ws(cap) != "") & (trim_ws(residue) == "")


def with_scrub(df: DataFrame, caption_col: str = "caption") -> DataFrame:
    cap = F.col(caption_col)
    return df.withColumn("caption_scrubbed", scrubbed_caption(cap))


# The same pipeline for the pandas oracle (kept adjacent so the three
# implementations can be diffed side by side).
def scrub_python(caption: str | None) -> str | None:
    if caption is None:
        return None
    out = caption
    for _, pattern, repl in PII_PATTERNS:
        out = re.sub(pattern, repl, out)
    return re.sub(_tox_pattern(), TOX_REPLACEMENT, out)
