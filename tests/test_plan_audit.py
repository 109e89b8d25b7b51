"""Whole-surface plan audit: every graded query, one invariant sweep.

SURVEY §2.11's mandate — no row-at-a-time Python UDFs anywhere in the
engine — has so far been enforced by targeted plan tests plus judge
spot-checks. This audit builds the physical plan of EVERY
``queries()`` entry at sf0.001 and asserts the invariant globally, so
a future operator can't smuggle a BatchEvalPython into an ungraded
corner. Arrow surfaces (ArrowEvalPython / MapInPandas /
FlatMapGroupsInPandas) are the sanctioned Python path and are allowed.

Note: some entries run bounded eager jobs while BUILDING (near-dup
node maps, model training collects, the streaming replay) — that is
their documented contract; the audit only inspects the final plan.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_no_row_at_a_time_python_in_any_graded_plan(spark):
    import __spark_entry__ as entry

    offenders = {}
    for name, fn in entry.queries().items():
        plan = _plan(fn(spark, SF))
        if "BatchEvalPython" in plan:
            offenders[name] = [
                ln for ln in plan.splitlines() if "BatchEvalPython" in ln
            ][:2]
    assert not offenders, offenders


def test_no_cartesian_product_in_any_graded_plan(spark):
    """Scale invariant: no graded plan may contain a CartesianProduct
    node. The deliberate brute-force baselines (q30/q40 crossJoin)
    broadcast one side, so they plan as BroadcastNestedLoopJoin — an
    actual CartesianProduct means a join lost its keys or its
    broadcast hint and would shuffle |A|x|B| at corpus scale."""
    import __spark_entry__ as entry

    offenders = {}
    for name, fn in entry.queries().items():
        plan = _plan(fn(spark, SF))
        if "CartesianProduct" in plan:
            offenders[name] = [
                ln for ln in plan.splitlines() if "CartesianProduct" in ln
            ][:2]
    assert not offenders, offenders


def _broadcast_subtrees(simple_plan: str) -> list[list[str]]:
    """Split a `simple`-mode plan tree into the subtree line-lists
    rooted at each BroadcastExchange node. Depth is the column of the
    node name (after the ':  ' / '+- ' scaffolding), so a subtree ends
    at the first following line whose node starts at <= the root's
    column."""
    import re

    lines = simple_plan.splitlines()
    depths = []
    for ln in lines:
        m = re.search(r"[A-Za-z(]", ln.replace(":", " ").replace("+", " ").replace("-", " ").replace("*", " "))
        depths.append(m.start() if m else 0)
    out = []
    for i, ln in enumerate(lines):
        if "BroadcastExchange" not in ln:
            continue
        sub = []
        for j in range(i + 1, len(lines)):
            if depths[j] <= depths[i]:
                break
            sub.append(lines[j])
        out.append(sub)
    return out


def test_no_python_stage_inside_a_broadcast_build(spark):
    """The r6 regression shape, pinned: a join placed ON TOP of an
    Arrow projection let AQE elect the Python stage's output as the
    broadcast build side, serializing the whole scoring stage behind a
    broadcast barrier (q02: +2.5 s at sf0.1; the fix moved the join
    beneath the projection — BENCH/BASELINE.md round-6). This asserts
    the EXECUTED final AQE plan of the corpus-prep decisions never
    broadcasts a subtree containing an Arrow/Pandas Python stage."""
    import __spark_entry__ as entry

    df = entry.queries()["q02_corpus_prep"](spark, SF)
    df.count()  # drive to completion so AQE's final plan is elected
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple"
    )
    assert "isFinalPlan=true" in plan
    bad = [
        sub
        for sub in _broadcast_subtrees(plan)
        if any(
            marker in ln
            for ln in sub
            for marker in ("ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas")
        )
    ]
    assert not bad, "Python stage broadcast as a build side:\n" + "\n\n".join(
        "\n".join(s[:12]) for s in bad
    )
