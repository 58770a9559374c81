"""engine.validate_table: the shape of its one verdict grid.

Every check counted from a violation stream (P1, P2, P3, P5, P7) is judged
in one zero-filled count and one join (``passes.stats
.verdicts_from_violations``), so the verdict plan carries no per-check
aggregation or join of its own.
"""

from __future__ import annotations

from jsonschema_spark.engine import validate_table
from test_table_golden import result  # noqa: F401  the golden fixture's suite run

# Exchange and BroadcastExchange nodes that the golden fixture's verdict
# frame plans on top of its cached inputs: 19 with one verdict grid, 32-34
# when each stream had its own grid, count and join.
VERDICT_EXCHANGE_BUDGET = 19


def _own_exchanges(df) -> int:
    """Exchange nodes of ``df``'s initial physical plan, outside the cached
    frames it reads: an ``InMemoryTableScan`` is a leaf here, because the
    plan it prints changes once its cache is materialized. Reused
    exchanges do not count."""
    n, stack = 0, [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        if node.nodeName() == "AdaptiveSparkPlan":
            stack.append(node.initialPlan())
            continue
        n += node.nodeName() in ("Exchange", "BroadcastExchange")
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return n


def test_verdict_exchange_budget(result):  # noqa: F811
    n = _own_exchanges(result.verdicts)
    assert n <= VERDICT_EXCHANGE_BUDGET, n


def test_grid_keeps_row_and_table_checks_of_one_path_apart(spark):
    """A row-level ``uniqueItems`` on an array column and P2's table-wide
    uniqueness of the same column share keyword and path; ``pass_id`` in
    the grid's key keeps their counts apart."""
    fact = spark.createDataFrame(
        [(0, "a", ["x", "x"]), (0, "b", ["y"]), (1, "c", ["y"]), (1, "d", ["z"])],
        "part_id int, image_id string, tags array<string>")
    spec = {"type": "object",
            "properties": {"tags": {"type": "array", "uniqueItems": True}},
            "x-table-checks": {"unique": [["tags"]]}}
    res = validate_table(fact, spec)
    got = {(v.pass_id, v.check_id, v.part_id): (v.passed, v.n_violations)
           for v in res.verdicts.collect() if v.path == "/tags"}
    res.cleanup()
    assert got == {
        ("rows", "uniqueItems@/tags", 0): (False, 1),
        ("rows", "uniqueItems@/tags", 1): (True, 0),
        ("unique", "uniqueItems@/tags", 0): (False, 1),
        ("unique", "uniqueItems@/tags", 1): (False, 1),
    }
