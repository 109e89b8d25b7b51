"""Driver-contract invariants for __spark_entry__.py, plus the package's
reachability from its entry points, per module and per top-level name
(AST only; only the q02 cache check starts Spark).

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
ROOTS = [os.path.join(ROOT, "__spark_entry__.py"), os.path.join(ROOT, "bench.py")]
ROOTS += sorted(glob.glob(os.path.join(ROOT, "perfbench", "*.py")))
# Top-level package names that only tests call, each kept because a test
# compares the engine against it as a reference implementation.
TEST_REFERENCES = {
    f"{PKG}.functions.langid.train_langid_model":
        "test_model_pipeline::test_distributed_trainers_match_local",
    f"{PKG}.functions.langid._char_ngrams":
        "test_scorers::test_featurize_matches_scalar_reference",
    f"{PKG}.functions.langid._hash_ngram":
        "test_scorers::test_featurize_matches_scalar_reference",
    f"{PKG}.functions.perplexity.train_char_bigram":
        "test_model_pipeline::test_distributed_trainers_match_local",
    f"{PKG}.operators.similarity.cosine":
        "test_dedup_similarity::test_arrow_cosine_equals_expression_cosine",
    f"{PKG}.operators.similarity.signbit_sketch":
        "test_dedup_similarity::test_arrow_sketch_equals_expression_sketch",
}


def _module_file(name: str) -> str | None:
    base = os.path.join(ROOT, *name.split("."))
    for path in (base + ".py", os.path.join(base, "__init__.py")):
        if os.path.isfile(path):
            return path
    return None


def _parse(path: str) -> ast.Module:
    with open(path) as fh:
        return ast.parse(fh.read())


def _imported_names(path: str, name: str) -> set[str]:
    """Dotted names ``path`` (module ``name``) may import, with every
    parent package: ``from a.b import c`` yields a, a.b and a.b.c
    (c may be a submodule). Relative imports resolve against the
    module's own package; function-local imports count too."""
    package = name if path.endswith("__init__.py") else name.rpartition(".")[0]
    found = []
    for node in ast.walk(_parse(path)):
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


def _reached() -> dict[str, str]:
    """Package module name -> file, for every module the driver entry,
    bench.py or perfbench imports, directly or through other modules."""
    todo = [(path, "") for path in ROOTS]  # scripts: no package, no relative imports
    reached: dict[str, str] = {}
    while todo:
        path, name = todo.pop()
        for dep in _imported_names(path, name):
            dep_path = _module_file(dep) if dep.split(".")[0] == PKG else None
            if dep_path and dep not in reached:
                reached[dep] = dep_path
                todo.append((dep_path, dep))
    return reached


def test_every_package_module_is_reachable_from_an_entry_point():
    """Every module under the package is imported, directly or through
    other modules, by the driver entry, bench.py or perfbench. A module
    only tests import is dead weight that drifts unnoticed."""
    modules = set()
    for path in glob.glob(os.path.join(ROOT, PKG, "**", "*.py"), recursive=True):
        rel = os.path.relpath(path, ROOT)[: -len(".py")].split(os.sep)
        modules.add(".".join(rel[:-1] if rel[-1] == "__init__" else rel))
    orphans = sorted(modules - set(_reached()))
    assert not orphans, f"modules no entry point imports: {orphans}"


def _defined(stmt: ast.stmt) -> list[str]:
    """Names a top-level statement defines: a def, a class or the plain
    names an assignment binds."""
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [stmt.name]
    targets = stmt.targets if isinstance(stmt, ast.Assign) else []
    if isinstance(stmt, ast.AnnAssign):
        targets = [stmt.target]
    return [n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)]


def _references(node: ast.AST) -> set[str]:
    """Identifiers ``node`` mentions: names, attributes, import aliases
    and identifier-shaped string constants (perfbench names the
    functions it patches by string)."""
    found = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            found.add(n.id)
        elif isinstance(n, ast.Attribute):
            found.add(n.attr)
        elif isinstance(n, ast.alias):
            found.update(n.name.split("."))
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            if n.value.isidentifier():
                found.add(n.value)
    return found


def test_every_top_level_name_is_used_outside_tests():
    """Every top-level def, class and constant of a reached module is
    referenced by a reached module or a root script outside its own
    definition; a name only tests call is dead weight. Names are matched
    by identifier, not resolved per module, so a shared name counts as
    used wherever one of its namesakes is."""
    used: set[str] = set()
    defined: set[str] = set()
    for name, path in [("", p) for p in ROOTS] + sorted(_reached().items()):
        for stmt in _parse(path).body:
            own = _defined(stmt)
            used |= _references(stmt) - set(own)
            if name:
                defined |= {f"{name}.{n}" for n in own if not n.startswith("__")}
    unused = {q for q in defined if q.rpartition(".")[2] not in used}
    orphans = sorted(unused - set(TEST_REFERENCES))
    assert not orphans, f"top-level names only tests reach: {orphans}"
    # the exemption map stays exact: a reference that gains a caller or
    # disappears leaves it
    assert sorted(set(TEST_REFERENCES) - unused) == []
