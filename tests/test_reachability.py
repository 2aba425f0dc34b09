"""Reachability: every package function is reached from a job, a
registry query, an API route or the benchmark — not only from tests.

A static name scan (no Spark, no imports of the package): the roots
are the entry scripts (``jobs.py``, ``__spark_entry__.py``,
``bench.py``, ``shuffle_audit.py``), the benchmark (``perfbench/``)
and the module-level code of the package itself (``__init__.py``,
the registry's query table, route tables, constants). A top-level
function or class is reached once its name appears in reached code;
its body then reaches further names, until nothing new is reached.
Names are matched unqualified, so the scan over-approximates reach:
what it reports unreached is certainly called only from tests.
"""

from __future__ import annotations

import ast
import pathlib

REPO = pathlib.Path(__file__).resolve().parent.parent

#: test seams and test oracles: reached only from tests, on purpose
ALLOWED_TEST_ONLY = {
    ("fixtures.py", "golden_trace_envelope"),
    ("ops/ann_index.py", "clear_index_memo"),
    ("http2.py", "huffman_encode"),
    ("http2.py", "HpackIndexingEncoder"),
    ("http2.py", "H2UnaryClient"),
    ("ops/token_stats.py", "bpe_reference_train"),
}


def _names(node: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.split(".")[-1])
    return out


def unreached() -> set[tuple[str, str]]:
    package = REPO / "otel_worker_spark"
    defs: dict[tuple[str, str], ast.AST] = {}
    roots: list[ast.AST] = []
    for path in sorted(package.rglob("*.py")):
        rel = path.relative_to(package).as_posix()
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs[(rel, node.name)] = node
            else:
                roots.append(node)
    scripts = ["jobs.py", "__spark_entry__.py", "bench.py", "shuffle_audit.py"]
    for path in [*(REPO / s for s in scripts), *sorted((REPO / "perfbench").glob("*.py"))]:
        roots.append(ast.parse(path.read_text()))

    seen = set().union(*map(_names, roots))
    reached: set[tuple[str, str]] = set()
    while new := {k for k in defs if k[1] in seen} - reached:
        reached |= new
        for k in new:
            seen |= _names(defs[k])
    return set(defs) - reached


def test_only_test_seams_are_unreached():
    assert unreached() == ALLOWED_TEST_ONLY
