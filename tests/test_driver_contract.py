"""Driver-contract invariants for __spark_entry__.py, plus the package's
module reachability (AST only; only the q02 cache check starts Spark).

The driver records ONLY the first 50 ``queries()`` entries and compares
each against its ``oracle_sql()`` row — round 2 silently lost two graded
queries by letting the dict grow past 50. These checks make that class
of regression impossible to commit.
"""

from __future__ import annotations

import ast
import glob
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

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


PKG = "stop_sync_osm_atlas_spark"
# Package modules that no entry point imports, each kept for its reason.
UNREACHED_BY_DESIGN = {
    f"{PKG}.sources.text_formats": "documented reference-ingest path "
    "(COVERAGE.md S1, S4-S6); its callers are tests/test_sources.py",
}


def _module_file(name: str) -> str | None:
    base = os.path.join(ROOT, *name.split("."))
    for path in (base + ".py", os.path.join(base, "__init__.py")):
        if os.path.isfile(path):
            return path
    return None


def _imported_names(path: str, name: str) -> set[str]:
    """Dotted names ``path`` (module ``name``) may import, with every
    parent package: ``from a.b import c`` yields a, a.b and a.b.c
    (c may be a submodule). Relative imports resolve against the
    module's own package; function-local imports count too."""
    package = name if path.endswith("__init__.py") else name.rpartition(".")[0]
    found = []
    with open(path) as fh:
        tree = ast.parse(fh.read())
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            found += [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                parts = package.split(".")
                anchor = ".".join(parts[: len(parts) - node.level + 1])
                base = f"{anchor}.{base}" if base else anchor
            found += [base] + [f"{base}.{a.name}" for a in node.names]
    return {n.rsplit(".", k)[0] for n in found for k in range(n.count(".") + 1)}


def test_every_package_module_is_reachable_from_an_entry_point():
    """Every module under the package is imported, directly or through
    other modules, by the driver entry, bench.py or perfbench. A module
    only tests import is dead weight that drifts unnoticed."""
    roots = [os.path.join(ROOT, "__spark_entry__.py"), os.path.join(ROOT, "bench.py")]
    roots += sorted(glob.glob(os.path.join(ROOT, "perfbench", "*.py")))
    todo = [(path, "") for path in roots]  # scripts: no package, no relative imports
    reached: set[str] = set()
    while todo:
        path, name = todo.pop()
        for dep in _imported_names(path, name):
            dep_path = _module_file(dep) if dep.split(".")[0] == PKG else None
            if dep_path and dep not in reached:
                reached.add(dep)
                todo.append((dep_path, dep))

    modules = set()
    for path in glob.glob(os.path.join(ROOT, PKG, "**", "*.py"), recursive=True):
        rel = os.path.relpath(path, ROOT)[: -len(".py")].split(os.sep)
        modules.add(".".join(rel[:-1] if rel[-1] == "__init__" else rel))
    orphans = sorted(modules - reached - set(UNREACHED_BY_DESIGN))
    assert not orphans, f"modules no entry point imports: {orphans}"
    # the exemption list stays exact: a module that gains a caller or
    # disappears leaves it
    assert sorted(set(UNREACHED_BY_DESIGN) - (modules - reached)) == []
