"""Operational kill-and-resume test (SURVEY.md §5.5).

A full job run is the reference. Then a "killed" run is simulated: the
manifest says half the partitions completed and the output dir holds only
those partitions' violations, stats and verdicts. Re-running with --resume
must process only the pending partitions and leave a combined output
identical to the full run (dynamic partition overwrite = exactly-once
effect, SURVEY.md B4/B7).
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from jsonschema_spark import fixtures as FX
from jsonschema_spark import job
from jsonschema_spark.manifest import Manifest

CFG = FX.FixtureConfig(n=800, n_parts=8, with_bytes=False)
DONE_PARTS = [0, 1, 2, 3]


@pytest.fixture(scope="module")
def workspace(spark, tmp_path_factory):
    ws = tmp_path_factory.mktemp("resume")
    FX.write_images(spark, CFG, str(ws / "table"))
    FX.dim_fmt_df(spark).write.parquet(str(ws / "dim_fmt"))
    FX.dim_license_df(spark, CFG).write.parquet(str(ws / "dim_license"))
    spec = {k: v for k, v in FX.SPEC_IMAGES.items()}
    spec["x-table-checks"] = {
        k: v for k, v in FX.SPEC_IMAGES["x-table-checks"].items() if k != "drift"
    }
    with open(ws / "spec.json", "w") as f:
        json.dump(spec, f)
    return ws


def run_job(spark, ws, manifest, out, resume=False):
    argv = [
        "--table", str(ws / "table"),
        "--spec", str(ws / "spec.json"),
        "--manifest", str(ws / manifest),
        "--out", str(ws / out),
        "--dim", f"dim_fmt={ws / 'dim_fmt'}",
        "--dim", f"dim_license={ws / 'dim_license'}",
    ]
    if resume:
        argv.append("--resume")
    return job.run(argv, spark=spark)


def violations_set(spark, path):
    return {
        (r.pass_id, r.part_id, r.row_key, r.keyword, r.path, r.value)
        for r in spark.read.parquet(path).collect()
    }


def verdicts_set(spark, path):
    """The per-partition verdicts of the passes judged in the verdict grid."""
    return {
        (r.pass_id, r.part_id, r.check_id, r.passed, r.n_violations)
        for r in spark.read.parquet(path).collect()
        if r.pass_id in ("rows", "unique", "refs")
    }


def test_kill_and_resume(spark, workspace):
    ws = workspace

    # reference: uninterrupted full run
    full = run_job(spark, ws, "man_full", "out_full")
    assert full["status"] == "ok"
    assert full["n_partitions"] == CFG.n_parts
    ref = violations_set(spark, str(ws / "out_full" / "violations"))
    assert len(ref) > 0

    # simulate the killed run: half the parts done in manifest + output
    man = Manifest(spark, str(ws / "man_half"))
    man.record(
        [{"part_id": p, "pass_id": "full", "status": "done",
          "n_rows": 0, "n_violations": 0, "wall_ms": 0.0} for p in DONE_PARTS]
    )
    full_viols = spark.read.parquet(str(ws / "out_full" / "violations"))
    (
        full_viols.where(full_viols.part_id.isin(DONE_PARTS))
        .write.mode("overwrite").partitionBy("pass_id", "part_id")
        .parquet(str(ws / "out_half" / "violations"))
    )
    # the done parts' verdicts too, with their uniqueness verdicts made
    # stale: P2 is table-wide, so a resume must re-judge it on EVERY part
    full_verdicts = spark.read.parquet(str(ws / "out_full" / "verdicts"))
    (
        full_verdicts.where(full_verdicts.part_id.isin(DONE_PARTS))
        .withColumn("passed", F.when(F.col("pass_id") == "unique", ~F.col("passed"))
                    .otherwise(F.col("passed")))
        .write.mode("overwrite").partitionBy("pass_id", "part_id")
        .parquet(str(ws / "out_half" / "verdicts"))
    )
    full_stats = spark.read.parquet(str(ws / "out_full" / "stats"))
    (
        full_stats.where(full_stats.part_id.isin(DONE_PARTS))
        .write.mode("overwrite").partitionBy("part_id")
        .parquet(str(ws / "out_half" / "stats"))
    )

    # resume: must process ONLY the pending partitions
    resumed = run_job(spark, ws, "man_half", "out_half", resume=True)
    assert resumed["status"] == "ok"
    assert resumed["n_partitions"] == CFG.n_parts - len(DONE_PARTS)

    # combined output identical to the full run — nothing lost, nothing doubled
    got = violations_set(spark, str(ws / "out_half" / "violations"))
    assert got == ref
    assert (verdicts_set(spark, str(ws / "out_half" / "verdicts"))
            == verdicts_set(spark, str(ws / "out_full" / "verdicts")))

    # manifest now covers every partition
    done = set(Manifest(spark, str(ws / "man_half")).completed_parts("full"))
    assert done == set(range(CFG.n_parts))

    # B15: table-wide HLL distinct merges sketches across the resume
    # boundary — the resumed job's estimate covers ALL partitions
    assert resumed["global_distinct"]["image_id"] == full["global_distinct"]["image_id"]
    n_ids = len({f"img-{i:012d}" for i in range(CFG.n)})
    est = resumed["global_distinct"]["image_id"]
    assert abs(est - n_ids) / n_ids < 0.1  # HLL within 10% at n=800

    # idempotent: a second resume is a no-op
    again = run_job(spark, ws, "man_half", "out_half", resume=True)
    assert again["status"] == "nothing-to-do"
    assert violations_set(spark, str(ws / "out_half" / "violations")) == ref


def test_string_partition_column(spark, tmp_path):
    """A string partition column (fmt, o_orderpriority, ...) must work
    end-to-end: manifest record, resume filter (typed IN-list), CLI job.
    Regression: the manifest used to cast part_id with int() and crashed
    on '5-LOW'."""
    table = str(tmp_path / "t")
    (
        spark.range(200)
        .select(
            F.concat(F.lit("img-"), F.col("id")).alias("image_id"),
            (F.col("id") % 7).cast("int").alias("v"),
            F.element_at(
                F.array(F.lit("alpha"), F.lit("beta"), F.lit("5-LOW")),
                (F.col("id") % 3 + 1).cast("int"),
            ).alias("grp"),
        )
        .write.parquet(table)
    )
    spec = {"type": "object",
            "properties": {"v": {"type": "integer", "minimum": 1}},
            "required": ["v"]}
    spec_path = str(tmp_path / "spec.json")
    with open(spec_path, "w") as f:
        json.dump(spec, f)

    args = ["--table", table, "--spec", spec_path,
            "--manifest", str(tmp_path / "man"),
            "--out", str(tmp_path / "out"),
            "--key-col", "image_id", "--part-col", "grp"]
    first = job.run(args, spark=spark)
    assert first["status"] == "ok"
    assert first["n_partitions"] == 3
    assert first["n_rows"] == 200

    man = Manifest(spark, str(tmp_path / "man"))
    assert sorted(man.completed_parts("full")) == ["5-LOW", "alpha", "beta"]

    # resume is a no-op — and the pending filter is a typed string IN-list
    again = job.run(args + ["--resume"], spark=spark)
    assert again["status"] == "nothing-to-do"

    fact = spark.read.parquet(table)
    pending = man.filter_pending(fact, "full", part_col="grp")
    assert pending.count() == 0
    plan = pending._jdf.queryExecution().executedPlan().toString()
    assert "cast(grp" not in plan.lower()  # no column cast blocking pushdown
