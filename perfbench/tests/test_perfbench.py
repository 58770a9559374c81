"""The benchmark's own tests: seeded inputs, output checks, metric names.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import images as I  # noqa: E402
import registry as R  # noqa: E402
import run  # noqa: E402
from common import digest  # noqa: E402
from compare import spread, verdict  # noqa: E402
from eventlog import fact_scans, layer_metrics  # noqa: E402


def _verdict_rows(seed: int) -> list[dict]:
    """A verdict matrix that matches the seed's plants exactly."""
    cfg = I.seeded_config(seed)
    rows = [{"part_id": 0, "pass_id": p, "check_id": c, "n_violations": n, "passed": n == 0}
            for (p, c), n in I.expected_totals(I.seeded_plan(cfg, seed)).items()]
    rows += [{"part_id": p, "pass_id": "drift", "check_id": "drift@/w", "n_violations": 0,
              "passed": p != cfg.drift_part} for p in range(I.N_PARTS)]
    return rows


def _plan_digest(seed: int) -> str:
    plan = I.seeded_plan(I.seeded_config(seed), seed)
    return digest([(k, repr(sorted(v.items()) if isinstance(v, dict) else sorted(v)))
                   for k, v in vars(plan).items()])


def test_same_seed_same_inputs():
    assert I.seeded_config(5) == I.seeded_config(5)
    assert _plan_digest(5) == _plan_digest(5)
    assert I.pending_parts(5) == I.pending_parts(5)
    a, b = R.tables_for(5), R.tables_for(5)
    for name in R.ROWS:
        assert a[name].astype(str).equals(b[name].astype(str))


def test_different_seed_moves_drift_and_plants():
    assert I.seeded_config(1).drift_part != I.seeded_config(2).drift_part
    assert _plan_digest(1) != _plan_digest(2)
    assert I.pending_parts(1) != I.pending_parts(2)
    assert not R.tables_for(1)["documents"].equals(R.tables_for(2)["documents"])


def test_plants_have_the_fixture_counts():
    cfg = I.seeded_config(3)
    plan = I.seeded_plan(cfg, 3)
    assert len(plan.dup_id) == round(cfg.n * cfg.rate_dup_id)
    planted = [set(plan.dup_id) | set(plan.dup_id.values()), set(plan.dup_phash)
               | set(plan.dup_phash.values()), plan.orphan_fmt, plan.orphan_license,
               plan.w_zero, plan.h_big, plan.null_caption, plan.bad_id]
    assert sum(len(s) for s in planted) == len(set().union(*planted))


def test_check_accepts_the_planted_matrix_and_rejects_corruption():
    rows = _verdict_rows(4)
    assert I.check_verdicts(rows, 4) == []
    miscounted = [dict(r) for r in rows]
    miscounted[0]["n_violations"] += 1
    assert I.check_verdicts(miscounted, 4)
    drift_elsewhere = [dict(r, passed=not r["passed"]) if r["pass_id"] == "drift" else r
                       for r in rows]
    assert I.check_verdicts(drift_elsewhere, 4)
    assert I.check_verdicts([], 4)


def test_result_digest_is_order_free_and_sees_a_changed_cell():
    rows = [(1, "a", 0.5), (2, "b", None)]
    d = R.result_digest(["k", "s", "x"], rows)
    assert d == R.result_digest(["k", "s", "x"], rows[::-1])
    assert d == R.result_digest(["x", "s", "k"], [r[::-1] for r in rows])
    assert d != R.result_digest(["k", "s", "x"], [(1, "a", 0.5), (2, "b", 0.0)])


def test_every_registry_query_has_a_duckdb_twin():
    import __spark_entry__ as E

    assert set(R.QUERIES) <= set(E.oracle_sql())
    assert set(R.FAMILIES) == {fam for fam, _ in R.QUERIES.values()}


def test_every_emitted_metric_is_declared():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    declared_e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    declared_layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert run.E2E == declared_e2e
    assert run.per_layer_units() == declared_layer
    assert {w["name"] for w in bench["workloads"]} == set(run.WORKLOADS)


def test_compare_verdicts():
    parent = [10.0, 10.1, 9.9, 10.0, 10.2, 9.8, 10.0, 10.1, 9.9, 10.0]
    faster = [v * 0.8 for v in parent]
    assert verdict(parent, faster, "lower", 0.1) == "gain"
    assert verdict(parent, [v * 1.2 for v in parent], "lower", 0.1) == "worse"
    assert verdict(parent, parent, "lower", 0.1) == "same"
    noisy = [5.0, 15.0, 8.0, 12.0, 10.0, 6.0, 14.0, 9.0, 11.0, 10.0]
    assert spread(noisy) > 0.1
    assert verdict(noisy, faster, "lower", 0.1) == "unresolved"
    assert verdict(noisy, [1.0] * 10, "lower", 0.1) == "gain"


def test_event_log_attribution():
    spans = [{"name": "job.fresh", "start": 10.0, "end": 20.0},
             {"name": "image_suite.op", "start": 30.0, "end": 40.0}]
    scan = {"nodeName": "Scan parquet ", "simpleString": "Scan parquet [/d/fact]",
            "metrics": [{"name": "number of output rows", "accumulatorId": 7}]}
    events = [
        {"Event": "SparkListenerJobStart", "Submission Time": 15000, "Stage IDs": [1]},
        {"Event": "SparkListenerJobStart", "Submission Time": 31000, "Stage IDs": [2],
         "Properties": {"spark.jobGroup.id": "passes.stats"}},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "sparkPlanInfo": {"nodeName": "Project", "children": [scan]}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
         "Task Info": {"Launch Time": 15500, "Accumulables": [{"ID": 7, "Update": "5"}]},
         "Task Metrics": {"Executor Run Time": 2000, "JVM GC Time": 100}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2,
         "Task Info": {"Launch Time": 31500, "Accumulables": [{"ID": 7, "Update": 3},
                                                             {"ID": 8, "Update": "x"}]},
         "Task Metrics": {"Executor Run Time": 1000}},
    ]
    layers = layer_metrics(events, spans)
    assert layers["job.fresh"]["task_s"] == 2.0 and layers["job.fresh"]["jobs"] == 1
    assert layers["passes.stats"]["task_s"] == 1.0
    assert layers["*"]["task_s"] == 3.0 and layers["*"]["gc_s"] == 0.1
    assert fact_scans(events, "/d/fact]", spans, "image_suite.op") == (1, 3)
    assert fact_scans(events, "/d/fact]", spans, "job.fresh") == (1, 5)
    assert fact_scans(events, "/d/other]", spans, "job.fresh") == (0, 0)


@pytest.mark.skipif(os.environ.get("PERFBENCH_SPARK_TESTS") != "1",
                    reason="starts Spark; set PERFBENCH_SPARK_TESTS=1")
def test_same_seed_same_output_digests():
    import common as C

    C.prepare_process_env()
    spark = C.new_session()
    try:
        sf_dir = R.prepare(6)
        assert R.input_digest(sf_dir) == R.input_digest(sf_dir)
        oracle = R.oracle_digests(sf_dir)
        for name in ("row_checks_lineitem", "curate_documents"):
            first, _ = R.run_query(spark, sf_dir, name)
            assert first == R.run_query(spark, sf_dir, name)[0] == oracle[name]
    finally:
        C.shutdown(spark)
