"""``job.py`` — the E3 CLI: its summary, manifest rows and sinks, and a
defined outcome for each way a run can end (a spec with zero checks, a
table with no violations, a resume whose completed state is gone).

The summary comes from the run's own frames: a fresh run reads nothing
under ``--out``, and ``--top-k`` bounds the violations sink without
changing any count.
"""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from jsonschema_spark import fixtures as FX
from jsonschema_spark import job
from jsonschema_spark.manifest import Manifest
from jsonschema_spark.passes.drift import baseline_profile
from test_round2 import expected_fidelity
from test_round3 import _raw_row, _raw_table
from test_round4 import _header_fixture_cfg


# ------------------------------------------------------------ moved tests

def _write_job_inputs(spark, tmp_path, with_bytes=False, plants=True, n=2000):
    cfg = FX.FixtureConfig(n=n, n_parts=16, with_bytes=with_bytes, plants=plants)
    d = str(tmp_path)
    FX.generate_images_df(spark, cfg).write.mode("overwrite").parquet(d + "/images")
    clean = FX.FixtureConfig(n=n, n_parts=16, plants=False, with_bytes=False,
                             drift_part=-1)
    baseline_profile(FX.generate_images_df(spark, clean), FX.drift_columns()) \
        .write.mode("overwrite").parquet(d + "/baseline")
    FX.dim_fmt_df(spark).write.mode("overwrite").parquet(d + "/dim_fmt")
    FX.dim_license_df(spark, cfg).write.mode("overwrite").parquet(d + "/dim_license")
    with open(d + "/spec.json", "w") as f:
        json.dump(FX.SPEC_IMAGES, f)
    return cfg, d


def test_cli_drift_verdict_flags_planted_partition(spark, tmp_path):
    """E3 CLI path end-to-end: the spec's object-form drift entries carry the
    bucket grid, so the planted caption-length/width drift partition FAILS
    the drift verdict through job.run (regression: expression columns used
    to fall back to a degenerate [0, 2^20) range that blinded KS/PSI)."""
    from jsonschema_spark.job import run

    # 1250 rows/partition: at n=2000 (125/part) KS sampling noise can trip a
    # clean partition at alpha=0.01; the planted drift must separate cleanly
    cfg, d = _write_job_inputs(spark, tmp_path, n=20000)
    summary = run([
        "--table", d + "/images", "--spec", d + "/spec.json",
        "--manifest", d + "/man", "--out", d + "/out",
        "--dim", f"dim_fmt={d}/dim_fmt", "--dim", f"dim_license={d}/dim_license",
        "--baseline", d + "/baseline",
    ], spark=spark)
    assert summary["status"] == "ok"
    verd = spark.read.parquet(d + "/out/verdicts")
    failed = {
        (r.part_id, r.path)
        for r in verd.where((F.col("pass_id") == "drift") & ~F.col("passed")).collect()
    }
    assert (cfg.drift_part, "/caption_len") in failed
    assert (cfg.drift_part, "/w") in failed
    # clean partitions must not drift
    assert all(p == cfg.drift_part for p, _ in failed)


def test_cli_fidelity_pass_and_static_overwrite(spark, tmp_path):
    """--sample-fidelity wires B28 into the job (violations land in the sink
    under pass_id=fidelity with the golden planted count), and a fresh
    (non-resume) rerun into the same --out statically overwrites stale cells."""
    from jsonschema_spark.job import run

    cfg, d = _write_job_inputs(spark, tmp_path, with_bytes=True)
    args = [
        "--table", d + "/images", "--spec", d + "/spec.json",
        "--manifest", d + "/man", "--out", d + "/out",
        "--dim", f"dim_fmt={d}/dim_fmt", "--dim", f"dim_license={d}/dim_license",
        "--baseline", d + "/baseline", "--sample-fidelity", "1.0",
    ]
    summary = run(args, spark=spark)
    assert summary["status"] == "ok"
    viol = spark.read.parquet(d + "/out/violations")
    fid = viol.where(F.col("pass_id") == "fidelity")
    got = {(r.row_key, r.path) for r in fid.collect()}
    assert got == expected_fidelity(cfg)
    assert len(got) > 0

    # fresh rerun on a CLEAN table into the same out dir: static overwrite
    # must wipe the stale planted-violation cells (dynamic would keep them)
    _write_job_inputs(spark, tmp_path, with_bytes=True, plants=False)
    summary2 = run(args[:-2], spark=spark)  # no fidelity on the clean run
    assert summary2["status"] == "ok"
    assert summary2["n_violations"] == 0
    try:
        viol2 = spark.read.parquet(d + "/out/violations")
        stale = viol2.where(F.col("pass_id").isin("rows", "unique", "refs", "fidelity"))
        n_stale = stale.count()
    except Exception:
        n_stale = 0  # sink truncated to zero data files — nothing stale
    assert n_stale == 0, "stale violation cells survived a fresh overwrite"


def test_resume_summary_counts_only_pending_partitions(spark, tmp_path):
    """On --resume the stats sink keeps completed partitions (dynamic
    overwrite), but the summary's n_rows/images_per_sec must reflect only
    the work THIS run did; table-wide totals live in table_n_rows."""
    from jsonschema_spark import fixtures as FX
    from jsonschema_spark.job import run

    cfg = FX.FixtureConfig(n=400, n_parts=4, with_bytes=False)
    table = str(tmp_path / "imgs")
    FX.generate_images_df(spark, cfg).write.parquet(table)
    spec_path = str(tmp_path / "spec.json")
    with open(spec_path, "w") as f:
        json.dump({"properties": {"w": {"type": "integer", "minimum": 1}},
                   "required": ["image_id"]}, f)
    manifest = str(tmp_path / "man")
    out = str(tmp_path / "out")
    args = ["--table", table, "--spec", spec_path,
            "--manifest", manifest, "--out", out]

    first = run(args, spark=spark)
    assert first["n_rows"] == 400

    # mark partitions 0 and 1 as NOT done (delete their manifest rows) and resume
    from jsonschema_spark.manifest import Manifest

    man = Manifest(spark, manifest)
    rows = man.read().collect()
    keep = [r.asDict() for r in rows if int(r.part_id) not in (0, 1)]
    import shutil

    shutil.rmtree(manifest)
    man2 = Manifest(spark, manifest)
    man2.record(keep)

    second = run(args + ["--resume"], spark=spark)
    per_part = 400 // 4
    assert second["n_partitions"] == 2
    assert second["n_rows"] == 2 * per_part, second
    assert second["table_n_rows"] == 400, second


def test_cli_fidelity_phash_mode_no_generator_knobs(spark, tmp_path):
    """VERDICT r2 #3 'done' condition: a CLI run over a table with NO
    generator coupling produces fidelity verdicts in the sink."""
    from jsonschema_spark.job import run

    rows = [_raw_row(i, i % 2) for i in range(40)]
    rows[11]["phash"] = rows[11]["phash"] ^ 3
    _raw_table(spark, rows).write.parquet(str(tmp_path / "imgs"))
    spec_path = str(tmp_path / "spec.json")
    with open(spec_path, "w") as f:
        json.dump({"required": ["image_id"]}, f)
    s = run(["--table", str(tmp_path / "imgs"), "--spec", spec_path,
             "--manifest", str(tmp_path / "man"), "--out", str(tmp_path / "out"),
             "--sample-fidelity", "1.0", "--fidelity-mode", "phash"], spark=spark)
    assert s["status"] == "ok"
    fid = spark.read.parquet(str(tmp_path / "out/violations")).where(
        F.col("pass_id") == "fidelity")
    assert {r.row_key for r in fid.collect()} == {"prod-11"}
    verd = spark.read.parquet(str(tmp_path / "out/verdicts")).where(
        F.col("pass_id") == "fidelity")
    assert verd.count() > 0


def test_cli_quantile_sketches_summary_and_resume_rollup(spark, tmp_path):
    """A spec with a quantile check: the stats sink carries per-partition
    KLL state and the summary's global_quantiles are the table-wide merge
    — with kll_k above the row count the values are exact inclusive-rank
    quantiles."""
    import json as _json
    from jsonschema_spark.job import run

    df = spark.range(400).select(
        (F.concat(F.lit("img-"), F.col("id"))).alias("image_id"),
        (F.col("id") % 4).alias("part_id"),
        F.col("id").cast("long").alias("w"),
    )
    df.write.parquet(str(tmp_path / "t"))
    spec_path = str(tmp_path / "spec.json")
    with open(spec_path, "w") as f:
        _json.dump({"properties": {"w": {"minimum": 0}}, "x-table-checks": {
            "quantiles": [{"column": "w", "q": 0.5, "min": 0}]}}, f)
    s = run(["--table", str(tmp_path / "t"), "--spec", spec_path,
             "--manifest", str(tmp_path / "man"), "--out", str(tmp_path / "out"),
             "--kll-k", "2048"], spark=spark)
    assert s["status"] == "ok"
    q = s["global_quantiles"]["w"]
    # inclusive rank over 0..399: ceil(q*400)-th smallest, 1-indexed
    assert (q["q50"], q["q90"], q["q99"]) == (199.0, 359.0, 395.0)
    # the sink itself carries the mergeable binary state per partition
    st = spark.read.parquet(str(tmp_path / "out/stats"))
    assert "kll_sketch" in st.columns
    assert st.where(F.col("kll_sketch").isNotNull()).count() == 4


def test_job_summary_reports_failed_checks(spark, tmp_path):
    """Summary carries n_failed_checks per pass and a table_passed flag —
    the one-line deploy gate."""
    import json as _json
    from jsonschema_spark.job import run

    df = spark.range(200).select(
        F.concat(F.lit("img-"), F.col("id")).alias("image_id"),
        (F.col("id") % 4).alias("part_id"),
        F.when(F.col("id") % 5 == 0, -1).otherwise(F.col("id") % 50)
         .cast("int").alias("w"))
    df.write.parquet(str(tmp_path / "t"))
    spec_path = str(tmp_path / "spec.json")
    with open(spec_path, "w") as f:
        _json.dump({"properties": {"w": {"minimum": 0}},
                    "x-table-checks": {"null-rates": [{"column": "w", "max_rate": 0.5}]}}, f)
    s = run(["--table", str(tmp_path / "t"), "--spec", spec_path,
             "--manifest", str(tmp_path / "man"), "--out", str(tmp_path / "out")],
            spark=spark)
    assert s["n_failed_checks"].get("rows", 0) > 0     # minimum violations
    assert s["table_passed"] is False
    assert "null_rate" not in s["n_failed_checks"]     # that check passes


def test_job_preflight_lint_blocks_unsatisfiable_spec(spark, tmp_path):
    import json as _json
    from jsonschema_spark.job import run

    spark.createDataFrame([("img-1", 0, 5)], "image_id string, part_id int, w int") \
        .write.parquet(str(tmp_path / "t"))
    bad = str(tmp_path / "bad.json")
    with open(bad, "w") as f:
        _json.dump({"properties": {"w": {"minimum": 10, "maximum": 5}}}, f)
    with pytest.raises(SystemExit, match="lint"):
        run(["--table", str(tmp_path / "t"), "--spec", bad,
             "--manifest", str(tmp_path / "m"), "--out", str(tmp_path / "o")],
            spark=spark)
    # --force-lint overrides; every row then (correctly) violates
    s = run(["--table", str(tmp_path / "t"), "--spec", bad,
             "--manifest", str(tmp_path / "m2"), "--out", str(tmp_path / "o2"),
             "--force-lint"], spark=spark)
    assert s["n_violations"] > 0


def test_job_check_headers_flag(spark, tmp_path):
    """CLI --check-headers adds the headers pass: violations + verdicts land
    under pass_id=headers and the summary counts its failed checks."""
    import json as _json
    import subprocess, sys, os

    from jsonschema_spark import fixtures as FX

    tbl = str(tmp_path / "tbl")
    FX.generate_images_df(spark, _header_fixture_cfg()).write.parquet(tbl)
    specp = tmp_path / "spec.json"
    specp.write_text(_json.dumps({
        "type": "object",
        "properties": {"image_id": {"type": "string"}, "fmt": {"type": "string"}},
    }))
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, PYTHONPATH=root)
    out = subprocess.run(
        [sys.executable, "-m", "jsonschema_spark.job",
         "--table", tbl, "--spec", str(specp),
         "--manifest", str(tmp_path / "man"), "--out", str(tmp_path / "out"),
         "--parallelism", "4", "--check-headers"],
        capture_output=True, text=True, env=env, cwd=root)
    assert out.returncode == 0, out.stderr[-2000:]
    summary = _json.loads(
        [l for l in out.stdout.splitlines() if l.startswith("{")][-1])
    assert summary["status"] == "ok"
    assert summary["n_failed_checks"].get("headers", 0) > 0
    import duckdb

    n = duckdb.sql(
        f"SELECT count(*) FROM parquet_scan('{tmp_path}/out/violations/*/*/*.parquet', "
        "hive_partitioning=1) WHERE pass_id='headers'").fetchone()[0]
    assert n > 0


# ------------------------------------------------- summary from the frames

def _small_table(spark, path, n=200, n_parts=4):
    """n rows over n_parts partitions; every third row has w < 0 and every
    fifth h > 100, so each partition fails two checks many times over."""
    spark.range(n).select(
        F.concat(F.lit("img-"), F.col("id")).alias("image_id"),
        (F.col("id") % n_parts).cast("int").alias("part_id"),
        F.when(F.col("id") % 3 == 0, -1).otherwise(F.col("id") % 50).cast("int").alias("w"),
        F.when(F.col("id") % 5 == 0, 500).otherwise(10).cast("int").alias("h"),
    ).write.parquet(path)
    return path


def _spec(tmp_path, spec, name="spec.json"):
    p = str(tmp_path / name)
    with open(p, "w") as f:
        json.dump(spec, f)
    return p


CHECKED = {"properties": {"w": {"minimum": 0}, "h": {"maximum": 100}}}


def _args(tmp_path, table, spec, out="out", man="man"):
    return ["--table", table, "--spec", spec, "--manifest", str(tmp_path / man),
            "--out", str(tmp_path / out)]


def test_fresh_run_reads_nothing_under_out(spark, tmp_path, monkeypatch):
    """A fresh run builds its summary from its own frames: no parquet read
    touches --out, and the manifest's wall_ms is NULL (a fused run has no
    per-partition wall time to record)."""
    from pyspark.sql.readwriter import DataFrameReader

    table = _small_table(spark, str(tmp_path / "t"))
    spec = _spec(tmp_path, CHECKED)
    reads = []
    for name in ("parquet", "load"):
        real = getattr(DataFrameReader, name)

        def spy(self, *paths, _real=real, **kw):
            reads.extend(str(p) for p in paths)
            return _real(self, *paths, **kw)

        monkeypatch.setattr(DataFrameReader, name, spy)
    s = job.run(_args(tmp_path, table, spec), spark=spark)
    monkeypatch.undo()
    assert s["status"] == "ok" and s["table_passed"] is False
    out = str(tmp_path / "out")
    assert reads and not [p for p in reads if p.startswith(out)], reads
    man = Manifest(spark, str(tmp_path / "man")).read().collect()
    assert len(man) == 4 and all(r.wall_ms is None for r in man)
    # no guessing at sink errors, no second count of the fact table
    src = open(job.__file__).read()
    assert "AnalysisException" not in src
    assert "fact.groupBy" not in src


def test_top_k_keeps_exact_violation_counts(spark, tmp_path):
    """--top-k bounds the rows sink to k example rows per (part, keyword,
    path); the summary still counts every violation, from the verdicts."""
    table = _small_table(spark, str(tmp_path / "t"))
    spec = _spec(tmp_path, CHECKED)
    full = job.run(_args(tmp_path, table, spec, "out", "man"), spark=spark)
    top1 = job.run(_args(tmp_path, table, spec, "out1", "man1") + ["--top-k", "1"],
                   spark=spark)
    n_w, n_h = len(range(0, 200, 3)), len(range(0, 200, 5))
    assert full["n_violations"] == full["table_n_violations"] == n_w + n_h
    assert (top1["n_violations"], top1["table_n_violations"]) == (
        full["n_violations"], full["table_n_violations"])
    assert top1["n_failed_checks"] == full["n_failed_checks"] == {"rows": 8}
    rows = spark.read.parquet(str(tmp_path / "out1" / "violations")).where(
        F.col("pass_id") == "rows")
    per_cell = rows.groupBy("part_id", "keyword", "path").count().collect()
    assert len(per_cell) == 8 and max(r["count"] for r in per_cell) == 1
    man = {int(r.part_id): r.n_violations
           for r in Manifest(spark, str(tmp_path / "man1")).read().collect()}
    assert sum(man.values()) == n_w + n_h


def test_zero_check_spec_passes_and_resumes(spark, tmp_path):
    """A spec with zero checks judges nothing: status ok, table_passed
    true, every row counted. Its verdicts sink holds no data file, and a
    resume still reads the completed partitions' state."""
    table = _small_table(spark, str(tmp_path / "t"))
    spec = _spec(tmp_path, {})
    args = _args(tmp_path, table, spec)
    s = job.run(args, spark=spark)
    assert (s["status"], s["table_passed"], s["n_failed_checks"]) == ("ok", True, {})
    assert (s["n_rows"], s["table_n_rows"], s["table_n_violations"]) == (200, 200, 0)
    man = Manifest(spark, str(tmp_path / "man"))
    keep = [r.asDict() for r in man.read().collect() if int(r.part_id) != 0]
    shutil.rmtree(str(tmp_path / "man"))
    Manifest(spark, str(tmp_path / "man")).record(keep)
    r = job.run(args + ["--resume"], spark=spark)
    assert (r["status"], r["table_passed"], r["n_partitions"]) == ("ok", True, 1)
    assert (r["n_rows"], r["table_n_rows"]) == (50, 200)


def test_clean_table_is_ok(spark, tmp_path):
    """A table with zero violation rows: status ok, nothing failed."""
    table = _small_table(spark, str(tmp_path / "t"))
    spec = _spec(tmp_path, {"properties": {"w": {"minimum": -5}, "h": {"maximum": 1000}}})
    s = job.run(_args(tmp_path, table, spec), spark=spark)
    assert (s["status"], s["table_passed"], s["n_failed_checks"]) == ("ok", True, {})
    assert (s["n_violations"], s["table_n_violations"], s["table_n_rows"]) == (0, 0, 200)


def test_resume_without_completed_state_raises(spark, tmp_path):
    """A manifest that marks partitions done while the stats sink lacks
    their rows leaves no state to judge the table-wide checks on: the
    resume raises instead of reporting a summary."""
    from pyspark.errors import AnalysisException

    table = _small_table(spark, str(tmp_path / "t"))
    spec = _spec(tmp_path, CHECKED)
    job.run(_args(tmp_path, table, spec), spark=spark)
    shutil.rmtree(str(tmp_path / "out" / "stats" / "part_id=0"))
    Manifest(spark, str(tmp_path / "man2")).record(
        [{"part_id": p, "pass_id": "full", "status": "done"} for p in (0, 1)])
    with pytest.raises(SystemExit, match=r"partitions \[0\] done"):
        job.run(_args(tmp_path, table, spec, "out", "man2") + ["--resume"], spark=spark)
    # no sink at all under --out
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        job.run(_args(tmp_path, table, spec, "nowhere", "man2") + ["--resume"],
                spark=spark)


def test_spec_images_lints_clean():
    """The flagship spec declares every name it requires, so a job run on
    it prints no lint finding."""
    from jsonschema_spark.lint import lint_spec

    assert lint_spec(FX.SPEC_IMAGES) == []
