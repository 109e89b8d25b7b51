"""Driver-contract invariants for __spark_entry__.py (no Spark needed).

The driver records ONLY the first 50 ``queries()`` entries and compares
each against its ``oracle_sql()`` row — round 2 silently lost two graded
queries by letting the dict grow past 50. These checks make that class
of regression impossible to commit.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry


def test_registry_is_exactly_50_in_numeric_order():
    qs = list(entry.queries())
    assert len(qs) == 50, f"{len(qs)} entries — driver records only the first 50"
    nums = [int(re.match(r"q(\d+)_", k).group(1)) for k in qs]
    assert nums == sorted(nums), "registry must stay in numeric order"
    assert len(set(nums)) == 50, "duplicate query numbers"


def test_every_query_has_an_oracle():
    qs = entry.queries()
    oracles = entry.oracle_sql()
    missing = [k for k in qs if k not in oracles]
    assert not missing, f"rows-only (weaker grading) queries: {missing}"
    stale = [k for k in oracles if k not in qs]
    assert not stale, f"oracle entries for retired queries: {stale}"


def test_oracle_sql_is_nonempty_select():
    for name, sql in entry.oracle_sql().items():
        s = sql.strip().upper()
        assert s.startswith(("SELECT", "WITH")), name


def test_q02_bounds_cached_frames(spark):
    """prepare_corpus leaves its decisions frame persisted by contract;
    q02 must hold AT MOST ONE live cached frame across repeated calls
    (bench best-of-3 previously accumulated one per run — ADVICE r4)."""
    sf = "/root/testdata/sf0.001"
    for _ in range(3):
        entry.queries()["q02_corpus_prep"](spark, sf).count()
    assert len(entry._Q02_LIVE) == 1
    entry._Q02_LIVE.pop().unpersist()
