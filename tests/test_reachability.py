"""Every package definition is reached from a root, or kept on purpose.

A name-based AST pass, no Spark. The roots are the programs that use the
package: ``hnormalise_spark/run.py``, the two query registries
(``__spark_entry__._REGISTRY`` and ``ops/entry.REGISTRY``), ``perfbench/``,
``bench.py`` and ``scripts/``. A top-level definition (function, class or
assigned name) is reached when a reached body names it, as a bare name or
as an attribute. Package code that nothing reaches is either deleted with
the tests that pin only it, or listed in ``KEEP`` with its reason.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "hnormalise_spark"

# unreached on purpose: name -> why it stays
KEEP = {
    "write_debug": "SURVEY S7: the reference's test/debug file sink",
    "read_socket_stream": "SURVEY S1-S3: the reference's TCP listen mode",
    "windowed_counts": "SURVEY §2.7: windowed, watermarked counts",
    "hash_sample": "the reference implementation test_sampling's hash_split tests compare to",
    "parse": "parsing/huppel.py: SURVEY H1, the reference's toy parser, not dispatched",
    "RE_HUPPEL": "read only by huppel's parse",
    "__version__": "package metadata",
    "__all__": "grok's export list",
}

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _refs(node: ast.AST) -> set[str]:
    """Names ``node`` reads: attributes, and bare names it does not bind
    itself (a local ``compact = {...}`` is not a use of ``table.compact``)."""
    loads: set[str] = set()
    bound: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            (loads if isinstance(n.ctx, ast.Load) else bound).add(n.id)
        elif isinstance(n, ast.arg):
            bound.add(n.arg)
        elif isinstance(n, ast.Attribute):
            loads.add(n.attr)
    return loads - bound


def _targets(stmt: ast.stmt) -> list[str]:
    if isinstance(stmt, _DEFS):
        return [stmt.name]
    if isinstance(stmt, ast.Assign):
        return [t.id for t in stmt.targets if isinstance(t, ast.Name)]
    if isinstance(stmt, ast.AnnAssign) and isinstance(stmt.target, ast.Name):
        return [stmt.target.id]
    return []


def _parse(path: Path) -> ast.Module:
    return ast.parse(path.read_text(), filename=str(path))


def unreached() -> set[str]:
    pkg_files = sorted(PKG.rglob("*.py"))
    root_files = (
        [PKG / "run.py", ROOT / "bench.py"]
        + sorted((ROOT / "perfbench").glob("*.py"))
        + sorted((ROOT / "scripts").glob("*.py"))
    )
    registries = {ROOT / "__spark_entry__.py": "_REGISTRY", PKG / "ops" / "entry.py": "REGISTRY"}

    bodies: dict[str, list[ast.AST]] = {}
    pkg_names: set[str] = set()
    seeds: set[str] = set()
    for path in sorted(set(pkg_files) | set(root_files) | set(registries)):
        tree = _parse(path)
        if path in root_files:
            seeds |= _refs(tree)
        for stmt in tree.body:
            names = _targets(stmt)
            if isinstance(stmt, (ast.Import, ast.ImportFrom)):
                continue
            if not names:
                # runs at import time, so whatever it names is reached
                seeds |= _refs(stmt)
            for name in names:
                bodies.setdefault(name, []).append(stmt)
                if path in pkg_files:
                    pkg_names.add(name)
                if registries.get(path) == name:
                    seeds |= _refs(stmt)

    reached: set[str] = set()
    todo = list(seeds)
    while todo:
        name = todo.pop()
        if name in reached:
            continue
        reached.add(name)
        for stmt in bodies.get(name, ()):
            todo.extend(_refs(stmt) - reached)
    return pkg_names - reached


def test_unreached_package_names_are_the_keep_list():
    assert unreached() == set(KEEP)
