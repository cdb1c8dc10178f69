"""Every top-level engine def must be reachable from something that runs.

A name-based walk over the AST, no Spark: the roots are every
``@register`` function (decorator and body), every module-level engine
statement that is not a def, and the driver-side files (``perfbench/``,
``selfcheck.py``, ``__spark_entry__.py``, ``degenerate_corpora.py``).
A reached def's whole body (decorators, defaults, nested defs) is
walked in turn. Names are matched by identifier only, across modules,
so the walk over-approximates: a def counts as reached as soon as any
walked code mentions its name, as a variable or an attribute.

Tests are not roots. A def that only tests call is a second
implementation, or dead: delete it, route a key through it, or exempt
it below with its reason.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "etl_builder_spark"
DRIVER_FILES = [
    *sorted((ROOT / "perfbench").glob("*.py")),
    ROOT / "selfcheck.py",
    ROOT / "__spark_entry__.py",
    ROOT / "degenerate_corpora.py",
]

#: Unreached on purpose. A module path exempts every def in it. The
#: comparison is equality, so an entry that becomes reached fails too.
REACHABILITY_EXEMPT = {
    "plans/audit.py": "plan-audit tooling that the tests and the fingerprint emitter call",
    "engine.py::Engine": "the notebook facade over the registry (README §5)",
    "llm/embed_dedup.py::planted_offset": "reference the dedup property tests compare plants against",
    "folding.py::fold_lower_sql": "DuckDB twin of fold_lower, checked against it in tests",
    "folding.py::fold_upper_sql": "DuckDB twin of fold_upper, checked against it in tests",
    "sources/readers.py::read_text": "the only text-format reader",
    "sources/writers.py::write_csv": "the only CSV writer",
    "sources/writers.py::write_json": "the only JSON writer",
}


def _is_register(dec: ast.expr) -> bool:
    f = dec.func if isinstance(dec, ast.Call) else dec
    return (isinstance(f, ast.Name) and f.id == "register") or (
        isinstance(f, ast.Attribute) and f.attr == "register"
    )


def _names(node: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
    return out


def unreached_defs() -> set[str]:
    """``module::name`` of every top-level engine def no root reaches."""
    defs: dict[str, list[tuple[str, ast.AST]]] = {}
    frontier: set[str] = set()
    for py in sorted(PKG.rglob("*.py")):
        mod = py.relative_to(PKG).as_posix()
        for stmt in ast.parse(py.read_text()).body:
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs.setdefault(stmt.name, []).append((mod, stmt))
                if any(_is_register(d) for d in stmt.decorator_list):
                    frontier |= _names(stmt) | {stmt.name}
            elif not isinstance(stmt, (ast.Import, ast.ImportFrom)):
                frontier |= _names(stmt)
    for py in DRIVER_FILES:
        frontier |= _names(ast.parse(py.read_text()))
    seen: set[str] = set()
    while frontier:
        name = frontier.pop()
        if name in seen:
            continue
        seen.add(name)
        for _, node in defs.get(name, ()):
            frontier |= _names(node) - seen
    return {f"{mod}::{name}" for name, sites in defs.items() if name not in seen for mod, _ in sites}


def test_every_engine_def_is_reached_or_exempt():
    exempt = set(REACHABILITY_EXEMPT)
    unreached = set()
    for d in unreached_defs():
        mod = d.split("::")[0]
        unreached.add(mod if mod in exempt else d)
    new = unreached - exempt
    stale = exempt - unreached
    assert not new, f"engine defs that no key, perfbench or driver entry reaches: {sorted(new)}"
    assert not stale, f"stale exemptions (now reached, or gone): {sorted(stale)}"
