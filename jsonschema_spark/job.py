"""E3 — the operational entry point for ``spark-submit --py-files`` (SURVEY.md §3).

Usage:
    spark-submit --py-files jsonschema_spark.zip -m jsonschema_spark.job \\
        --table /data/images --spec spec.json --manifest /data/manifest \\
        --out /data/violations [--dim name=path ...] [--baseline path] \\
        [--resume] [--sample-fidelity 0.001]

Runs the full constraint suite partition-batch-wise, appending per-partition
manifest rows after each batch so a killed run resumes where it left off
(BASELINE.json:14). Prints a one-line JSON summary with images/sec (the
north metric, BASELINE.json:2).

The summary comes from the run's verdict frame and stats rows, never from
its sinks; a ``--resume`` first reads the completed partitions' stats rows
(``validate_table``'s ``state``) and failed verdicts once.

The spec decides which table passes run: its ``x-table-checks`` block,
checked and resolved by ``spec.parse``, declares them. Drift runs when the
block has drift columns and ``--baseline`` is given; quantile checks add
KLL sketches to the stats sink and ``global_quantiles`` to the summary.
Spec lint runs first and stops the job on an error finding unless
``--force-lint`` is given.
"""

from __future__ import annotations

import argparse
import json
import sys
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .engine import VIOLATION_PASSES, get_session, validate_table
from .io.tables import load_fact_table
from .manifest import Manifest
from .passes.stats import STATS_SCHEMA, merge_quantiles, merge_sketches
from .spec import parse

VERDICTS_SCHEMA = ("check_id string, keyword string, path string, passed boolean, "
                   "n_violations long, pass_id string")


def _cell_counts(verdicts: DataFrame) -> dict:
    """(part_id, pass_id) -> (failed checks, exact violation rows)."""
    return {
        (r.part_id, r.pass_id): (r.n_failed, r.n_violations)
        for r in verdicts.groupBy("part_id", "pass_id").agg(
            F.count(F.when(~F.col("passed"), 1)).alias("n_failed"),
            F.sum(F.when(F.col("pass_id").isin(*VIOLATION_PASSES), F.col("n_violations"))
                  .otherwise(0)).alias("n_violations"),
        ).collect()
    }


def _rows_per_part(stats: DataFrame) -> dict:
    return {r.part_id: r.n for r in
            stats.groupBy("part_id").agg(F.max("n_rows").alias("n")).collect()}


def _completed_state(spark: SparkSession, out: str, done: list, part_type: str):
    """The completed partitions' stats rows, row counts and failed
    verdicts' ``_cell_counts``; raises when a partition's state is gone, as
    no table-wide check could then be judged. The stats rows are
    checkpointed, not persisted: a plan that still read the sink would be
    re-executed from the rewritten files once the stats sink is written."""
    part = f", part_id {part_type}"
    is_done = F.col("part_id").cast("string").isin([str(p) for p in done])
    state = (spark.read.schema(STATS_SCHEMA + part).parquet(out + "/stats")
             .where(is_done).localCheckpoint())
    rows = _rows_per_part(state)
    missing = [p for p in done if str(p) not in map(str, rows)]
    if missing:
        raise SystemExit(
            f"--resume: the manifest marks partitions {missing} done but "
            f"{out}/stats holds no state for them; rerun without --resume")
    failed = (spark.read.schema(VERDICTS_SCHEMA + part).parquet(out + "/verdicts")
              .where(is_done & ~F.col("passed")))
    return state, rows, _cell_counts(failed)


def run(argv: list[str] | None = None, spark: SparkSession | None = None) -> dict:
    ap = argparse.ArgumentParser()
    ap.add_argument("--table", required=True)
    ap.add_argument("--table-format", default=None,
                    help="fact-table format (parquet default; 'iceberg' on a "
                         "cluster with the runtime jar — io/tables.py is the "
                         "only code that sees this)")
    ap.add_argument("--spec", required=True)
    ap.add_argument("--manifest", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--dim", action="append", default=[], help="name=path, repeatable")
    ap.add_argument("--baseline", default=None,
                    help="baseline profile (passes.drift.baseline_profile) "
                         "for the spec's x-table-checks/drift columns")
    ap.add_argument("--key-col", default="image_id")
    ap.add_argument("--part-col", default="part_id")
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--top-k", type=int, default=None)
    ap.add_argument("--parallelism", type=int, default=None)
    # B28: sampled decoded-pixel fidelity pass (the only pass that reads
    # `bytes`). Three modes; --fidelity-mode picks one, and without it the
    # mode is ref when --fidelity-ref is given, else generator:
    #   phash     — recompute the perceptual hash from bytes and compare to
    #               the table's own stored phash column. No reference input;
    #               runs on ARBITRARY tables.
    #   ref       — join a reference table of the same shape on image_id;
    #               decoded-pixel PSNR>=40dB + caption equality vs it.
    #   generator — expected pixels re-derive from the deterministic fixture
    #               generator via image_id index (golden tests and fixture
    #               tables; needs the generator layout knobs below).
    ap.add_argument("--sample-fidelity", type=float, default=None,
                    help="sampling fraction for the decoded-pixel fidelity pass")
    ap.add_argument("--fidelity-parts-fraction", type=float, default=None,
                    help="two-stage cluster sample: keep this fraction of "
                         "partitions (hash-pruned at the scan on part-"
                         "partitioned tables), row-sample inside so the "
                         "overall fraction is unchanged; rotate --fidelity-"
                         "seed across scheduled runs for coverage")
    ap.add_argument("--fidelity-seed", type=int, default=7)
    ap.add_argument("--fidelity-mode", choices=["generator", "phash", "ref"],
                    default=None,
                    help="default: ref when --fidelity-ref is given, else "
                         "generator (fixture-table compatibility)")
    ap.add_argument("--fidelity-ref", default=None,
                    help="reference-table path for --fidelity-mode ref")
    ap.add_argument("--fidelity-nparts", type=int, default=16)
    ap.add_argument("--fidelity-driftpart", type=int, default=7)
    ap.add_argument("--check-headers", action="store_true",
                    help="add the container-header sniff pass (B53): magic "
                         "bytes / header dims / raw byte-length checked "
                         "against the declared fmt/w/h columns on EVERY row "
                         "— pure Column exprs, no pixel decode")
    ap.add_argument("--force-lint", action="store_true",
                    help="run even when spec lint reports error-severity "
                         "findings (unsatisfiable nodes)")
    ap.add_argument("--strict", action="store_true",
                    help="exit non-zero (3) when any check failed "
                         "(table_passed false) — CI gate; handled at the "
                         "__main__ level so library callers are unaffected")
    ap.add_argument("--kll-k", type=int, default=200,
                    help="KLL sketch size for a spec with x-table-checks/"
                         "quantiles (exact below k values per sketch; "
                         "~1.65%% rank error at the default 200)")
    args = ap.parse_args(argv)

    own_session = spark is None
    if spark is None:
        spark = get_session("jsonschema-spark-job", parallelism=args.parallelism)

    with open(args.spec) as f:
        raw_spec = json.load(f)
    # pre-flight lint BEFORE any cluster work: an error-severity finding
    # means a node no value can satisfy — every row would violate, which is
    # a typo'd spec burning a 100 TB scan, not a validation result
    from .lint import lint_spec

    findings = lint_spec(raw_spec)
    for sev, fpath, msg in findings:
        print(f"spec-lint {sev}: {fpath}: {msg}", file=sys.stderr)
    errors = [f for f in findings if f[0] == "error"]
    if errors and not args.force_lint:
        raise SystemExit(
            f"spec fails lint with {len(errors)} error(s) — fix the spec or "
            "pass --force-lint to run anyway")
    spec = parse(raw_spec)

    # The ONE fact-table read in the operational path — io/tables.py is the
    # format swap point (parquet here, `--table-format iceberg` or
    # SPARK_GRAFT_TABLE_FORMAT=iceberg on a real cluster).
    fact_full = load_fact_table(spark, args.table, fmt=args.table_format)
    man = Manifest(spark, args.manifest)
    done = man.completed_parts("full") if args.resume else []
    # `completed`: the done partitions' rows, for the table-wide P2
    fact, completed = man.split(fact_full, done, part_col=args.part_col)

    dims = {}
    for d in args.dim:
        name, path = d.split("=", 1)
        dims[name] = spark.read.parquet(path)
    baseline = spark.read.parquet(args.baseline) if args.baseline else None

    t0 = time.time()
    # a one-row probe; the run's partition list comes from its stats rows
    if fact.isEmpty():
        summary = {"status": "nothing-to-do", "images_per_sec": 0.0, "n_rows": 0}
        man.write_summary(summary)
        print(json.dumps(summary))
        return summary
    state, prior_rows, prior_cells = None, {}, {}
    if done:
        state, prior_rows, prior_cells = _completed_state(
            spark, args.out, done, fact_full.schema[args.part_col].dataType.simpleString())

    fidelity_fn = None
    if args.sample_fidelity:
        from .passes import fidelity as P5

        mode = args.fidelity_mode or ("ref" if args.fidelity_ref else "generator")
        pf, fseed = args.fidelity_parts_fraction, args.fidelity_seed
        if mode == "phash":
            fidelity_fn = lambda df: P5.fidelity_violations_phash(  # noqa: E731
                df, fraction=args.sample_fidelity, part_col=args.part_col,
                parts_fraction=pf, seed=fseed,
            )
        elif mode == "ref":
            if not args.fidelity_ref:
                raise SystemExit("--fidelity-mode ref needs --fidelity-ref <path>")
            ref = load_fact_table(spark, args.fidelity_ref, fmt=args.table_format)
            fidelity_fn = lambda df: P5.fidelity_violations_ref(  # noqa: E731
                df, ref, fraction=args.sample_fidelity,
                part_col=args.part_col, key_col=args.key_col,
                parts_fraction=pf, seed=fseed,
            )
        else:
            from . import fixtures as FX

            fcfg = FX.FixtureConfig(
                n=0, n_parts=args.fidelity_nparts, drift_part=args.fidelity_driftpart
            )
            fidelity_fn = lambda df: P5.fidelity_violations(  # noqa: E731
                df, fcfg, fraction=args.sample_fidelity, part_col=args.part_col,
                parts_fraction=pf, seed=fseed,
            )

    headers_fn = None
    if args.check_headers:
        from .passes.headers import header_violations as _hv

        need = {"bytes", "fmt", "w", "h"}
        missing = need - set(fact.columns)
        if missing:
            raise SystemExit(
                f"--check-headers needs columns {sorted(need)}; table is "
                f"missing {sorted(missing)}")
        headers_fn = lambda df: _hv(  # noqa: E731
            df, key_col=args.key_col, part_col=args.part_col)

    res = validate_table(
        fact, spec, dims=dims, baseline=baseline,
        key_col=args.key_col, part_col=args.part_col, top_k=args.top_k,
        fidelity_fn=fidelity_fn,
        headers_fn=headers_fn,
        kll_k=args.kll_k,
        state=state,
        completed=completed,
    )
    # Sinks partitioned by (pass_id, part_id). Overwrite semantics:
    # - resume: DYNAMIC partition overwrite rewrites exactly the cells this
    #   run recomputed (pending partitions per-partition, all partitions for
    #   the table-wide uniqueness, anomaly and null-rate passes) and
    #   completed cells survive (B4).
    # - fresh run: STATIC overwrite truncates the whole sink first — dynamic
    #   mode would leave stale cells from a previous run with a different
    #   spec/data (a partition whose violations dropped to zero writes no
    #   rows, so its old rows would survive and pollute the counts).
    # The three outputs are independent DAGs: submit concurrently so one
    # job's stage gaps are filled by another's tasks.
    from concurrent.futures import ThreadPoolExecutor

    ow_mode = "dynamic" if args.resume else "static"
    # the verdicts sink and the summary both read the verdict frame
    verdicts = res.verdicts.persist()

    sinks = [("violations", res.violations.repartition("pass_id", "part_id"), ["pass_id"]),
             ("verdicts", verdicts, ["pass_id"]), ("stats", res.stats, [])]

    def write(sink) -> None:
        name, df, keys = sink
        (df.write.mode("overwrite").option("partitionOverwriteMode", ow_mode)
         .partitionBy(*keys, "part_id").parquet(f"{args.out}/{name}"))

    with ThreadPoolExecutor(len(sinks)) as ex:
        list(ex.map(write, sinks))

    # The summary and the manifest rows come from this run's frames plus
    # the completed partitions' state read above, never from the sinks. A
    # (part, pass) verdict cell this run judged replaces the completed
    # one, as the dynamic overwrite replaces it in the sink.
    cells = {**prior_cells, **_cell_counts(verdicts)}
    vc: dict = {}
    failed_checks: dict = {}
    for (part, pass_id), (n_failed, n_viol) in cells.items():
        vc[part] = vc.get(part, 0) + n_viol
        if n_failed:
            failed_checks[pass_id] = failed_checks.get(pass_id, 0) + n_failed
    run_rows = _rows_per_part(res.stats)
    pending_parts = list(run_rows)
    rc = {**prior_rows, **run_rows}
    # B15/B42: the table-wide distinct and quantile estimates merge the
    # sketches of every partition, completed ones included
    global_distinct = {r.column: int(r.n_distinct_merged)
                       for r in merge_sketches(res.table_stats).collect()}
    global_quantiles = {
        r.column: {"q50": r.q50, "q90": r.q90, "q99": r.q99}
        for r in merge_quantiles(res.table_stats).collect()
    } if spec.table_checks.quantiles else None
    # wall_ms is NULL: a fused run validates its partitions in one pass and
    # cannot observe a per-partition wall time (the summary has wall_sec)
    man.record(
        [
            {"part_id": p, "pass_id": "full", "status": "done",
             "n_rows": rc.get(p, 0), "n_violations": vc.get(p, 0), "wall_ms": None}
            for p in pending_parts
        ]
    )
    # n_rows/n_violations/images_per_sec cover the partitions this run
    # processed; the table_* totals cover every partition, completed ones
    # included.
    pend = set(pending_parts)
    n_rows = sum(n for p, n in rc.items() if p in pend)
    elapsed = time.time() - t0
    summary = {
        "status": "ok",
        "n_rows": n_rows,
        "n_violations": sum(n for p, n in vc.items() if p in pend),
        "n_partitions": len(pending_parts),
        "table_n_rows": sum(rc.values()),
        "table_n_violations": sum(vc.values()),
        "wall_sec": round(elapsed, 3),
        "images_per_sec": round(n_rows / elapsed, 1) if elapsed > 0 else 0.0,
        "global_distinct": global_distinct,
        **({"global_quantiles": global_quantiles} if global_quantiles is not None else {}),
        "n_failed_checks": failed_checks,
        "table_passed": not failed_checks,
    }
    man.write_summary(summary)
    print(json.dumps(summary))
    res.cleanup()  # unpersist run caches — library callers keep their session
    verdicts.unpersist()
    if own_session:
        spark.stop()
    return summary


if __name__ == "__main__":
    _summary = run(sys.argv[1:])
    # --strict: CI-friendly exit code — non-zero when any check failed.
    # Applied only on the CLI path; library callers read the summary dict.
    if "--strict" in sys.argv[1:] and _summary.get("table_passed") is False:
        sys.exit(3)
