"""engine.validate_table: the shape of its one verdict grid, the one fact
scan every pass reads, and the work one suite run costs.

Every check counted from a violation stream (P1, P2, P3, P5, P7) is judged
in one zero-filled count and one join (``passes.stats
.verdicts_from_violations``), so the verdict plan carries no per-check
aggregation or join of its own.
"""

from __future__ import annotations

import json

import pytest

from jsonschema_spark import fixtures as FX
from jsonschema_spark import job
from jsonschema_spark.engine import validate_table
from jsonschema_spark.passes.drift import baseline_profile
from test_table_golden import CFG, result  # noqa: F401  result: the golden fixture's suite run

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


# Completed tasks of one parquet-backed golden-fixture suite run (verdicts,
# violations and stats materialized) at 8 shuffle partitions: 357 with AQE
# sizing the cached intermediates; 546 when every cache kept all 8 shuffle
# partitions and the spec-literal bound tables were Python RDD scans.
SUITE_TASK_BUDGET = 400


def _group_tasks(sc, group: str) -> int:
    """Completed tasks over the distinct stages of ``group``'s jobs (a
    reused shuffle stage is listed by every job that reads it)."""
    tracker = sc.statusTracker()
    stages = {sid for jid in tracker.getJobIdsForGroup(group)
              for sid in tracker.getJobInfo(jid).stageIds}
    return sum(info.numCompletedTasks for info in map(tracker.getStageInfo, stages)
               if info is not None)


def test_suite_tasks_and_no_python_scan(spark, tmp_path):
    """A suite run over parquet inputs plans no Python RDD scan (the spec's
    quantile, distinct and null-rate bounds are JVM literals) and runs
    partition-scale task counts on its partition-scale caches."""
    d = str(tmp_path)
    FX.write_images(spark, CFG, f"{d}/fact")
    clean = FX.generate_images_df(
        spark, FX.FixtureConfig(n=CFG.n, n_parts=CFG.n_parts, plants=False,
                                with_bytes=False, drift_part=-1))
    inputs = {"dim_fmt": FX.dim_fmt_df(spark),
              "dim_license": FX.dim_license_df(spark, CFG),
              "baseline": baseline_profile(clean, FX.drift_columns())}
    for name, df in inputs.items():
        df.write.parquet(f"{d}/{name}")
    read = {name: spark.read.parquet(f"{d}/{name}") for name in inputs}
    res = validate_table(
        spark.read.parquet(f"{d}/fact"), FX.SPEC_IMAGES,
        dims={"dim_fmt": read["dim_fmt"], "dim_license": read["dim_license"]},
        baseline=read["baseline"])
    sc = spark.sparkContext
    sc.setJobGroup("suite-task-budget", "parquet-backed golden suite run")
    try:
        res.verdicts.collect()
        for df in (res.violations, res.stats):
            df.write.format("noop").mode("overwrite").save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    plan = res.verdicts._jdf.queryExecution().executedPlan().toString()
    tasks = _group_tasks(sc, "suite-task-budget")
    res.cleanup()
    assert "ExistingRDD" not in plan and "PythonRDD" not in plan
    assert tasks <= SUITE_TASK_BUDGET, tasks


def test_verdict_exchange_budget(result):  # noqa: F811
    n = _own_exchanges(result.verdicts)
    assert n <= VERDICT_EXCHANGE_BUDGET, n


def _fact_scans(df, path: str) -> list[str]:
    """File scans of ``path`` in ``df``'s initial physical plan and in the
    plans of the caches it reads. The walk stops at the fused scan's cache
    (the one holding the ``__viols`` column), whose plan is the one scan
    of the fact table every pass is meant to share."""
    found, stack = [], [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            stack.append(node.initialPlan())
            continue
        if name == "InMemoryTableScan":
            if "__viols#" not in node.relation().output().toString():
                stack.append(node.relation().cachedPlan())
            continue
        if node.getClass().getSimpleName() == "FileSourceScanExec":
            roots = node.relation().location().rootPaths().toString()
            if path in roots:
                found.append(roots)
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return found


def _result_scans(res, path: str) -> dict[str, list[str]]:
    return {name: _fact_scans(df, path) for name, df in
            (("violations", res.violations), ("verdicts", res.verdicts),
             ("stats", res.stats))}


@pytest.fixture(scope="module")
def small_inputs(spark, tmp_path_factory):
    """A 500-row, 4-partition parquet image table with its dims, drift
    baseline and a spec file."""
    d = tmp_path_factory.mktemp("fused")
    cfg = FX.FixtureConfig(n=500, n_parts=4, with_bytes=False)
    FX.write_images(spark, cfg, str(d / "imgs"))
    FX.dim_fmt_df(spark).write.parquet(str(d / "dim_fmt"))
    FX.dim_license_df(spark, cfg).write.parquet(str(d / "dim_license"))
    fact = spark.read.parquet(str(d / "imgs"))
    baseline_profile(fact, FX.drift_columns()).write.parquet(str(d / "baseline"))
    with open(d / "spec.json", "w") as f:
        json.dump(FX.SPEC_IMAGES, f)
    return d


def test_fused_suite_reads_one_cached_scan(spark, small_inputs):
    """SURVEY §4 pass fusion: no plan of a suite run — nor of a cache it
    reads, short of the fused scan's own — scans the fact table's files."""
    d = small_inputs
    path = str(d / "imgs")
    res = validate_table(
        spark.read.parquet(path), FX.SPEC_IMAGES,
        dims={"dim_fmt": spark.read.parquet(str(d / "dim_fmt")),
              "dim_license": spark.read.parquet(str(d / "dim_license"))},
        baseline=spark.read.parquet(str(d / "baseline")),
    )
    scans = _result_scans(res, path)
    res.cleanup()
    assert scans == {"violations": [], "verdicts": [], "stats": []}


def test_fresh_job_run_reads_one_cached_scan(spark, small_inputs, monkeypatch):
    """A fresh ``job.run`` keeps the promise too: its uniqueness pass reads
    the fused cache, not the table."""
    d = small_inputs
    path = str(d / "imgs")
    scans = {}

    def spy(*args, _real=job.validate_table, **kw):
        res = _real(*args, **kw)
        scans.update(_result_scans(res, path))
        return res

    monkeypatch.setattr(job, "validate_table", spy)
    s = job.run(["--table", path, "--spec", str(d / "spec.json"),
                 "--manifest", str(d / "man"), "--out", str(d / "out"),
                 "--dim", f"dim_fmt={d / 'dim_fmt'}",
                 "--dim", f"dim_license={d / 'dim_license'}",
                 "--baseline", str(d / "baseline")], spark=spark)
    assert s["status"] == "ok" and s["n_partitions"] == 4
    assert scans == {"violations": [], "verdicts": [], "stats": []}


def test_one_cache_per_intermediate(result):  # noqa: F811
    """The fused scan, the one violation frame (P1, P2, P3, P5 and P7),
    the drift histograms and the per-partition stats aggregate: four
    caches for the flagship spec with P5, P7 and a drift baseline."""
    assert len(result._cached) == 4


def test_resume_inputs_come_together(spark):
    df = spark.createDataFrame([(0, "img-0", 1)], "part_id int, image_id string, w int")
    with pytest.raises(ValueError, match="pass both or neither"):
        validate_table(df, {"properties": {"w": {}}}, state=df)
    with pytest.raises(ValueError, match="pass both or neither"):
        validate_table(df, {"properties": {"w": {}}}, completed=df)


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
