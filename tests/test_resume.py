"""Operational kill-and-resume test (SURVEY.md §5.5).

A full job run is the reference. Then a "killed" run is simulated: the
manifest says some partitions completed (half of them, or all but the
drifted one) and the output dir holds only those partitions' violations,
stats and verdicts. Re-running with --resume must process only the pending
partitions and leave a combined output identical to the full run (dynamic
partition overwrite = exactly-once effect, SURVEY.md B4/B7): every verdict
row of every pass, and the summary's table-wide fields.
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
# the summary fields a resume must report exactly as the fresh run does;
# global_quantiles is left out: KLL compaction is randomized, so two runs
# over the same partitions may read different quantiles
SAME_AS_FRESH = ("n_failed_checks", "table_passed", "table_n_rows",
                 "table_n_violations", "global_distinct")


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


@pytest.fixture(scope="module")
def full(spark, workspace):
    """The reference: one uninterrupted fresh run."""
    s = run_job(spark, workspace, "man_full", "out_full")
    assert s["status"] == "ok"
    assert s["n_partitions"] == CFG.n_parts
    return s


def violations_set(spark, path):
    return {
        (r.pass_id, r.part_id, r.row_key, r.keyword, r.path, r.value)
        for r in spark.read.parquet(path).collect()
    }


def verdicts_set(spark, path):
    """Every verdict row of every pass, the table-wide (part_id NULL) rows
    included."""
    return {
        (r.pass_id, r.part_id, r.check_id, r.passed, r.n_violations)
        for r in spark.read.parquet(path).collect()
    }


@pytest.mark.parametrize("done_parts", [[0, 1, 2, 3], [0, 1, 2, 3, 4, 5, 6]],
                         ids=["half", "one-pending"])
def test_kill_and_resume(spark, workspace, full, done_parts):
    """``one-pending`` leaves only the drifted partition 7: P6 must judge
    it against the whole partition population, and the table-wide rows
    must cover the completed partitions too."""
    ws = workspace
    man_dir, out_dir = f"man_{len(done_parts)}", f"out_{len(done_parts)}"
    ref = violations_set(spark, str(ws / "out_full" / "violations"))
    assert len(ref) > 0

    # simulate the killed run: the done parts in manifest + output
    man = Manifest(spark, str(ws / man_dir))
    man.record(
        [{"part_id": p, "pass_id": "full", "status": "done",
          "n_rows": 0, "n_violations": 0, "wall_ms": 0.0} for p in done_parts]
    )
    full_viols = spark.read.parquet(str(ws / "out_full" / "violations"))
    (
        full_viols.where(full_viols.part_id.isin(done_parts))
        .write.mode("overwrite").partitionBy("pass_id", "part_id")
        .parquet(str(ws / out_dir / "violations"))
    )
    # the done parts' verdicts too, with their uniqueness and anomaly
    # verdicts made stale: P2 and P6 are table-wide, so a resume must
    # re-judge them on EVERY part
    full_verdicts = spark.read.parquet(str(ws / "out_full" / "verdicts"))
    stale = F.col("pass_id").isin("unique", "anomaly")
    (
        full_verdicts.where(full_verdicts.part_id.isin(done_parts))
        .withColumn("passed", F.when(stale, ~F.col("passed")).otherwise(F.col("passed")))
        .write.mode("overwrite").partitionBy("pass_id", "part_id")
        .parquet(str(ws / out_dir / "verdicts"))
    )
    full_stats = spark.read.parquet(str(ws / "out_full" / "stats"))
    (
        full_stats.where(full_stats.part_id.isin(done_parts))
        .write.mode("overwrite").partitionBy("part_id")
        .parquet(str(ws / out_dir / "stats"))
    )

    # resume: must process ONLY the pending partitions
    resumed = run_job(spark, ws, man_dir, out_dir, resume=True)
    assert resumed["status"] == "ok"
    assert resumed["n_partitions"] == CFG.n_parts - len(done_parts)
    assert {k: resumed[k] for k in SAME_AS_FRESH} == {k: full[k] for k in SAME_AS_FRESH}

    # combined output identical to the full run — nothing lost, nothing doubled
    got = violations_set(spark, str(ws / out_dir / "violations"))
    assert got == ref
    assert (verdicts_set(spark, str(ws / out_dir / "verdicts"))
            == verdicts_set(spark, str(ws / "out_full" / "verdicts")))

    # manifest now covers every partition
    done = set(Manifest(spark, str(ws / man_dir)).completed_parts("full"))
    assert done == set(range(CFG.n_parts))

    # B15: table-wide HLL distinct merges sketches across the resume
    # boundary — the resumed job's estimate covers ALL partitions
    n_ids = len({f"img-{i:012d}" for i in range(CFG.n)})
    est = resumed["global_distinct"]["image_id"]
    assert abs(est - n_ids) / n_ids < 0.1  # HLL within 10% at n=800

    # idempotent: a second resume is a no-op
    again = run_job(spark, ws, man_dir, out_dir, resume=True)
    assert again["status"] == "nothing-to-do"
    assert violations_set(spark, str(ws / out_dir / "violations")) == ref


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
