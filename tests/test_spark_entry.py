"""Registry hygiene for ``__spark_entry__.py``: every top-level definition
must be reachable from the module's entry points, ``queries()``,
``oracle_sql()`` and ``entry()``. A query left behind when the registry
merges or drops an entry is dead code that still has to be read and kept
compiling, even when a test still calls it."""

from __future__ import annotations

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENTRY = os.path.join(ROOT, "__spark_entry__.py")
ENTRY_POINTS = ("queries", "oracle_sql", "entry")


def _defined_names(stmt: ast.stmt) -> list[str]:
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [stmt.name]
    targets = (stmt.targets if isinstance(stmt, ast.Assign)
               else [stmt.target] if isinstance(stmt, ast.AnnAssign) else [])
    return [n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)]


def unreachable_names(source: str, roots=ENTRY_POINTS) -> list[str]:
    """Top-level defs and assignments of ``source`` that ``roots`` never
    reach. A name is reachable when a root is, or when the definition of a
    reachable name uses it — iterated to a fixed point, so a chain of dead
    definitions is found whole."""
    uses: dict[str, set[str]] = {}
    for stmt in ast.parse(source).body:
        used = {n.id for n in ast.walk(stmt)
                if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load)}
        for n in _defined_names(stmt):
            uses.setdefault(n, set()).update(used - {n})
    live: set[str] = set()
    frontier = set(roots) & uses.keys()
    while frontier:
        live |= frontier
        frontier = {m for n in frontier for m in uses[n] if m in uses} - live
    return sorted(uses.keys() - live)


def test_scan_finds_dead_chains():
    source = (
        "def q_live(): return SQL_LIVE\n"
        "SQL_LIVE = f'{_BASE} where y'\n"
        "_BASE = 'select 1'\n"
        "def q_dead(): return SQL_DEAD\n"
        "SQL_DEAD = f'{SQL_BASE} where x'\n"
        "SQL_BASE = 'select 2'\n"
        "def _helper(): pass\n"
        "def queries(): return {'live': q_live}\n"
    )
    assert unreachable_names(source) == [
        "SQL_BASE", "SQL_DEAD", "_helper", "q_dead"]


def test_spark_entry_has_no_unreachable_definitions():
    with open(ENTRY, encoding="utf-8") as fh:
        source = fh.read()
    dead = unreachable_names(source)
    assert not dead, f"unreachable definitions in __spark_entry__.py: {dead}"
