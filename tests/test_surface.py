"""Every package function has a production caller.

A top-level function of ``validate_xml_rust_spark`` is reachable when a
production entry point refers to it, directly or through other reachable
code: the CLI (``cli.main``), the ``queries.py`` registry, ``curate()``,
the driver contract (``__spark_entry__.py``), ``bench.py``,
``bench_extra.py``, ``scaling_bench.py``, ``perfbench/`` or ``tools/``.
The scan reads the source with ``ast`` (no import, no Spark) and resolves
references by bare name — any identifier, attribute, imported name or
identifier-shaped string literal — so it over-approximates what is
reachable: a function it reports is referenced by nothing but tests.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PKG = REPO / "validate_xml_rust_spark"

ROOT_FILES = [
    REPO / "bench.py",
    REPO / "bench_extra.py",
    REPO / "scaling_bench.py",
    REPO / "__spark_entry__.py",
    PKG / "__main__.py",
    *sorted((REPO / "perfbench").glob("*.py")),
    *sorted((REPO / "tools").glob("*.py")),
]
# (module path under the package, top-level name)
ROOT_DEFS = {("cli.py", "main"), ("pipeline.py", "curate")}
# module whose top-level statements (the QUERIES registry) are roots
REGISTRY = "queries.py"

REFERENCE = "a reference implementation that tests compare against"
# package functions kept without a production caller, each with its reason
ALLOWED = {
    "functions/text_extract.py:extract_text_py": REFERENCE,
    "sources/pages.py:py_row_kinds": REFERENCE,
    "sources/corpus.py:expected_pairs": REFERENCE,
    "sources/corpus.py:_repr_of": REFERENCE,
    "operators/textstats.py:_bigram_structs": REFERENCE,
    "operators/curation.py:_dsir_gram_buckets": REFERENCE,
    "operators/curation.py:_word_bigrams": REFERENCE,
    "operators/similarity.py:lsh_signature_expr": REFERENCE,
    "operators/multimodal.py:synthetic_media": "a test-input generator",
    "plans/inspect.py:has_broadcast_join": "a plan-assertion helper",
    "plans/inspect.py:has_whole_stage_codegen": "a plan-assertion helper",
    "sources/scan.py:single_url": "the only implementation of SURVEY §2 row S5",
    "operators/progress.py:run_with_progress": (
        "the only implementation of SURVEY §2 row A8"
    ),
}

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _refs(node: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            if n.value.isidentifier():  # getattr / registry-by-name
                out.add(n.value)
    return out


def _binds(stmt: ast.stmt) -> set[str]:
    if isinstance(stmt, _DEFS):
        return {stmt.name}
    if isinstance(stmt, (ast.Assign, ast.AnnAssign, ast.AugAssign)):
        targets = stmt.targets if isinstance(stmt, ast.Assign) else [stmt.target]
        return {
            n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)
        }
    return set()


def unreached_functions() -> set[str]:
    """``module:name`` of each top-level package function that no root
    reaches, iterated to a fixpoint over the package's top-level
    statements."""
    live: set[str] = set()
    for f in ROOT_FILES:
        live |= _refs(ast.parse(f.read_text()))
    nodes = []  # (module, names bound, names referred to, is a function)
    for f in sorted(PKG.rglob("*.py")):
        if f in ROOT_FILES:
            continue
        mod = f.relative_to(PKG).as_posix()
        for stmt in ast.parse(f.read_text()).body:
            if isinstance(stmt, (ast.Import, ast.ImportFrom)):
                continue
            names = _binds(stmt)
            rooted = (
                not names  # runs at import
                or (mod == REGISTRY and not isinstance(stmt, _DEFS))
                or any((mod, n) in ROOT_DEFS for n in names)
            )
            if rooted:
                live |= _refs(stmt)
            else:
                is_fn = isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef))
                nodes.append((mod, names, _refs(stmt), is_fn))
    grew = True
    while grew:
        grew = False
        for _, names, refs, _ in nodes:
            if names & live and not refs <= live:
                live |= refs
                grew = True
    return {
        f"{mod}:{n}"
        for mod, names, _, is_fn in nodes
        if is_fn
        for n in names
        if n not in live
    }


def test_every_package_function_has_a_production_caller():
    found = unreached_functions()
    unexpected = sorted(found - ALLOWED.keys())
    assert not unexpected, (
        "package functions that only tests reach — give each a production "
        f"caller or delete it with its tests: {unexpected}"
    )
    stale = sorted(ALLOWED.keys() - found)
    assert not stale, f"allowlisted but reachable or gone, drop them: {stale}"
