"""Registry hygiene for ``__spark_entry__.py``: every top-level query
function (``q_*``) and SQL twin (``SQL_*``) must be reachable from live
code. Queries left behind when the registry merges or drops an entry are
dead code that still has to be read and kept compiling."""

from __future__ import annotations

import ast
import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENTRY = os.path.join(ROOT, "__spark_entry__.py")
REGISTRY_NAME = re.compile(r"(q|SQL)_\w+$")


def _defined_names(stmt: ast.stmt) -> list[str]:
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [stmt.name]
    targets = (stmt.targets if isinstance(stmt, ast.Assign)
               else [stmt.target] if isinstance(stmt, ast.AnnAssign) else [])
    return [n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)]


def unreferenced_registry_names(source: str, other_sources: list[str]) -> list[str]:
    """Top-level ``q_*``/``SQL_*`` names of ``source`` that no live code
    references. Live code is every other top-level statement of
    ``source`` plus ``other_sources`` (matched by whole word); a registry
    name becomes live when live code, or a live registry name, uses it —
    iterated to a fixed point, so a chain of dead definitions is found
    whole."""
    uses: dict[str, set[str]] = {}
    roots: set[str] = set()
    for stmt in ast.parse(source).body:
        used = {n.id for n in ast.walk(stmt)
                if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load)}
        names = [n for n in _defined_names(stmt) if REGISTRY_NAME.match(n)]
        for n in names:
            uses[n] = used - {n}
        if not names:
            roots |= used
    other = "\n".join(other_sources)
    roots |= {n for n in uses if re.search(rf"\b{n}\b", other)}
    live: set[str] = set()
    frontier = roots & uses.keys()
    while frontier:
        live |= frontier
        frontier = {m for n in frontier for m in uses[n] if m in uses} - live
    return sorted(uses.keys() - live)


def _repo_python_sources() -> list[str]:
    out = []
    for d, dirs, files in os.walk(ROOT):
        dirs[:] = [x for x in dirs if not x.startswith(".")]
        for f in files:
            p = os.path.join(d, f)
            if f.endswith(".py") and p != ENTRY:
                with open(p, encoding="utf-8", errors="replace") as fh:
                    out.append(fh.read())
    return out


def test_scan_finds_dead_chains():
    source = (
        "def q_live(): return SQL_LIVE\n"
        "SQL_LIVE = 'select 1'\n"
        "def q_dead(): return SQL_DEAD\n"
        "SQL_DEAD = f'{SQL_BASE} where x'\n"
        "SQL_BASE = 'select 2'\n"
        "def q_external(): pass\n"
        "def queries(): return {'live': q_live}\n"
    )
    assert unreferenced_registry_names(source, ["E.q_external()"]) == [
        "SQL_BASE", "SQL_DEAD", "q_dead"]


def test_spark_entry_has_no_unreferenced_queries():
    with open(ENTRY, encoding="utf-8") as fh:
        source = fh.read()
    dead = unreferenced_registry_names(source, _repo_python_sources())
    assert not dead, f"unreferenced registry code in __spark_entry__.py: {dead}"
