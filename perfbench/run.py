"""Benchmark of the validation engine: one closed-loop client, one operation
at a time, on ``local[min(4, nproc)]``.

    python3 perfbench/run.py --workload image_suite --seed 1 --seconds 5 --trace 0

Workloads:
  image_suite     ``engine.validate_table`` (P1-P4, P6 and a sampled P5)
                  over a generated image table; outputs on three threads.
  query_registry  a fixed subset of ``__spark_entry__.queries()`` that keeps
                  every operator family, in seed-shuffled order.

After setup, operations repeat for ``--seconds`` (at least one); ``cpu_s``
is the median CPU seconds of one (client, driver JVM and Python workers),
``run_s`` its median wall. The first operation of a session is cold (JIT,
code generation, Python workers), as it is for each spark-submit job; an
operation takes longer than the benchmark's ``run_seconds``, so both are
that first operation's.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs a session
that writes a Spark event log, measures the operations untraced, then once
more with every call wrapped in a span that tags its Spark jobs with a job
group, runs the per-layer probes and prints the per-layer metrics; its
spans are written to ``.perfbench/spans``. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; earlier lines are a
readable report. Every invocation is archived under ``.perfbench/records``.
Exit status: 0 when every output checked out, 1 when one did not, 2 when the
engine is not in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import common as C  # noqa: E402

# End-to-end metrics repeat within a tenth from run to run. The operation's
# wall (run_s, rows_per_s) is per-layer: it tracks the CPU time a shared
# host's hypervisor steals (0.2-0.5 spread at 2-25 % steal), which CPU time
# does not count. peak_rss_mb is per-layer too: the JVM heap grows with GC
# timing.
E2E = {"setup_s": "s", "cpu_s": "s", "rows_per_cpu_s": "rows/cpu-s"}
PASSES = ["stats", "uniqueness", "referential", "drift", "fidelity", "anomaly"]
PASS_FIELDS = {"wall_s": "s", "task_s": "s", "gc_s": "s", "shuffle_write_mb": "MB",
               "spill_mb": "MB"}
OPERATOR_FIELDS = {"wall_s": "s", "task_s": "s", "jobs": "count", "exchanges": "count"}


def per_layer_units() -> dict[str, str]:
    from registry import FAMILIES

    units = {"run_s": "s", "rows_per_s": "rows/s"}
    units.update({f"passes.{p}.{f}": u for p in PASSES for f, u in PASS_FIELDS.items()})
    units.update({
        "compile_spark.compile_s": "s", "compile_spark.n_checks": "count",
        "engine.plan_s": "s", "engine.fused_cache_mb": "MB", "engine.fact_scans": "count",
        "sinks.violations.wall_s": "s", "sinks.verdicts.wall_s": "s",
        "sinks.stats.wall_s": "s", "sinks.union_wall_s": "s", "sinks.overlap": "ratio",
        "sinks.task_s": "s",
        "job.run_s": "s", "job.resume_s": "s", "job.resume_cost_ratio": "ratio",
        "job.rows_per_s": "rows/s", "job.bytes_written_mb": "MB", "job.files_written": "count",
        "job.input_rows_read": "count", "job.scan_useful_ratio": "ratio",
        "job.out_bytes_per_input_byte": "ratio",
        "manifest.record_s": "s", "manifest.filter_pending_s": "s",
    })
    units.update({f"operators.{fam}.{f}": u for fam in FAMILIES
                  for f, u in OPERATOR_FIELDS.items()})
    units.update({
        "query_s_p50": "s", "query_s_p90": "s", "query_cold_pass_s": "s",
        "spark.task_s": "s", "spark.gc_s": "s", "spark.cpu_util": "ratio", "peak_rss_mb": "MB",
        "host.steal_pct": "%", "host.other_load_pct": "%",
        "prepare_s": "s", "tracing_overhead_s": "s", "failed_ops_share": "ratio",
    })
    return units


class Run:
    """State of one invocation: counts of checked operations and the figures
    the workload reports."""

    def __init__(self, args):
        self.args = args
        self.started = time.time()
        self.run_id = f"{args.workload}-s{args.seed}-{int(self.started)}-{os.getpid()}"
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.values: dict[str, float] = {}
        self.walls: list[float] = []
        self.cpus: list[float] = []
        self.tracer = C.Tracer(self.run_id)
        self.traced: C.Tracer | None = None
        self.launch_s = 0.0
        self.session_started = 0.0
        self.eventlog_dir = os.path.join(C.WORK, "eventlog", self.run_id)

    def check(self, errors: list[str]) -> None:
        self.attempted += 1
        if errors:
            self.failed += 1
            self.errors.extend(errors[:5])

    def deadline_loop(self, op) -> list[float]:
        """Run ``op`` back to back for ``--seconds`` (at least once);
        returns the wall time of each run and keeps its CPU seconds."""
        walls: list[float] = []
        t_end = time.time() + self.args.seconds
        while not walls or time.time() < t_end:
            t0, cpu0 = time.time(), C.tree_cpu_s()
            op()
            walls.append(time.time() - t0)
            self.cpus.append(C.tree_cpu_s() - cpu0)
        self.walls = walls
        return walls

    def start_tracing(self, spark) -> C.Tracer:
        """A tracer whose spans also tag the Spark jobs they submit."""
        self.traced = C.Tracer(self.run_id, spark)
        return self.traced

    def stop_tracing(self, spark) -> tuple[list[dict], dict]:
        """Stop the session, which completes its event log, and return
        (the log's events, per-span Spark figures). The whole session's
        totals go to ``spark.*``."""
        from eventlog import layer_metrics, read_events

        spark.stop()
        wall = time.time() - self.session_started
        events = read_events(self.eventlog_dir)
        layers = layer_metrics(events, self.traced.spans)
        total = layers.get("*", {})
        self.values["spark.task_s"] = total.get("task_s", 0.0)
        self.values["spark.gc_s"] = total.get("gc_s", 0.0)
        self.values["spark.cpu_util"] = total.get("task_s", 0.0) / max(wall * C.CORES, 1e-9)
        return events, layers


def setup(run: Run, spark, register):
    """Session start, input registration and warm-up; returns (session,
    registered inputs). Untraced runs set up three times and report the
    median as ``setup_s``; the first start is the one that also launched
    the JVM."""
    if run.args.trace:
        return spark, register(spark)
    walls, reg = [], None
    for k in range(3):
        if k:
            spark.stop()
        t0 = time.time()
        if k:
            spark = C.new_session()
        reg = register(spark)
        walls.append(time.time() - t0 + (0.0 if k else run.launch_s))
    run.values["setup_s"] = C.median(walls)
    return spark, reg


def image_suite(run: Run, spark):
    import images as I

    seed = run.args.seed
    t0 = time.time()
    inp = I.prepare(spark, seed, hive=bool(run.args.trace))
    run.values["prepare_s"] = time.time() - t0
    spark, reg = setup(run, spark, lambda s: I.register(s, inp))

    def op(tracer, storage=None):
        try:
            run.check(I.check_verdicts(I.suite_op(spark, reg, tracer, storage), seed))
        except Exception as ex:  # a failed operation is counted, not fatal
            run.check([f"image_suite op raised {type(ex).__name__}: {ex}"[:300]])

    if run.args.trace:
        # The E3 CLI goes first, cold, as a spark-submit job meets it; the
        # suite operations after it run warm, traced and untraced alike.
        tracer = run.start_tracing(spark)
        job, job_errors = I.job_probe(spark, inp, tracer, os.path.join(C.WORK, "job", run.run_id))
        run.check(job_errors)
    walls = run.deadline_loop(lambda: op(run.tracer))
    run.values["run_s"] = C.median(walls)
    run.values["rows_per_s"] = I.N_ROWS / run.values["run_s"]
    run.values["cpu_s"] = C.median(run.cpus)
    run.values["rows_per_cpu_s"] = I.N_ROWS / run.values["cpu_s"]
    run.values["engine.plan_s"] = C.median(run.tracer.walls("engine.validate_table"))
    if not run.args.trace:
        return spark

    storage: dict = {}
    with tracer.span("image_suite.op"):
        op(tracer, storage)
    run.values["tracing_overhead_s"] = tracer.walls("image_suite.op")[0] - run.values["run_s"]
    n_checks, fid_errors = I.pass_probes(spark, reg, tracer)
    run.check(fid_errors)
    ev, layers = run.stop_tracing(spark)
    from eventlog import fact_scans

    v = run.values
    for p in PASSES:
        name = f"passes.{p}"
        v[f"{name}.wall_s"] = sum(tracer.walls(name))
        for f in PASS_FIELDS:
            if f != "wall_s":
                v[f"{name}.{f}"] = layers.get(name, {}).get(f, 0.0)
    v["compile_spark.compile_s"] = sum(tracer.walls("compile_spark.compile"))
    v["compile_spark.n_checks"] = n_checks
    v["engine.fused_cache_mb"] = storage.get("cache_mb", 0.0)
    v["engine.fact_scans"], _ = fact_scans(ev, inp.fact + "]", tracer.spans, "image_suite.op")
    sink_walls = {s: sum(tracer.walls(f"sinks.{s}")) for s in ("violations", "verdicts", "stats")}
    for s, w in sink_walls.items():
        v[f"sinks.{s}.wall_s"] = w
    v["sinks.union_wall_s"] = sum(tracer.walls("sinks.union"))
    v["sinks.overlap"] = sum(sink_walls.values()) / max(v["sinks.union_wall_s"], 1e-9)
    v["sinks.task_s"] = sum(layers.get(f"sinks.{s}", {}).get("task_s", 0.0) for s in sink_walls)
    fresh, resume = sum(tracer.walls("job.fresh")), sum(tracer.walls("job.resume"))
    _, read = fact_scans(ev, inp.fact_hive + "]", tracer.spans, "job.resume")
    v.update({
        "job.run_s": fresh, "job.resume_s": resume,
        "job.resume_cost_ratio": resume / max(fresh, 1e-9),
        "job.rows_per_s": job["resume_rows_per_s"],
        "job.bytes_written_mb": job["out_bytes"] / 2 ** 20,
        "job.files_written": job["out_files"], "job.input_rows_read": read,
        "job.scan_useful_ratio": job["pending_rows"] / max(read, 1),
        "job.out_bytes_per_input_byte": job["out_bytes"] / max(job["in_bytes"], 1),
        "manifest.record_s": sum(tracer.walls("manifest.record")),
        "manifest.filter_pending_s": sum(tracer.walls("manifest.filter_pending")),
    })
    return None


def query_registry(run: Run, spark):
    import numpy as np

    import registry as R

    t0 = time.time()
    sf_dir = R.prepare(run.args.seed)
    run.values["prepare_s"] = time.time() - t0

    def register(s):
        for t in R.ROWS:
            s.read.parquet(os.path.join(sf_dir, f"{t}.parquet")).count()
        return None

    spark, _ = setup(run, spark, register)
    # every chosen query has a DuckDB twin, so every execution is checked
    oracle = R.oracle_digests(sf_dir)
    rng = np.random.default_rng([run.args.seed, 12])
    query_walls: list[float] = []

    def one(name):
        t0 = time.time()
        try:
            got, df = R.run_query(spark, sf_dir, name)
            errors = [] if got == oracle[name] else [f"{name}: differs from its DuckDB twin"]
        except Exception as ex:
            df, errors = None, [f"{name} raised {type(ex).__name__}: {ex}"[:300]]
        query_walls.append(time.time() - t0)
        run.check(errors)
        return df

    def one_pass():
        for name in rng.permutation(list(R.QUERIES)):
            one(str(name))

    if run.args.trace:
        # a cold pass first, so that the untraced and the traced pass both run warm
        t0 = time.time()
        one_pass()
        run.values["query_cold_pass_s"] = time.time() - t0
        query_walls.clear()
    walls = run.deadline_loop(one_pass)
    run.values["run_s"] = C.median(walls)
    run.values["rows_per_s"] = R.rows_read_per_pass() / run.values["run_s"]
    run.values["cpu_s"] = C.median(run.cpus)
    run.values["rows_per_cpu_s"] = R.rows_read_per_pass() / run.values["cpu_s"]
    run.values["query_s_p50"] = C.quantile(query_walls, 0.5)
    run.values["query_s_p90"] = C.quantile(query_walls, 0.9)
    if not run.args.trace:
        return spark

    tracer = run.start_tracing(spark)
    n_exchanges: dict[str, int] = {}
    for name in rng.permutation(list(R.QUERIES)):
        fam = R.QUERIES[str(name)][0]
        with tracer.span(f"operators.{fam}", desc=str(name)):
            df = one(str(name))
        n_exchanges[fam] = n_exchanges.get(fam, 0) + (R.exchanges(df) if df is not None else 0)
    run.values["tracing_overhead_s"] = sum(
        s["end"] - s["start"] for s in tracer.spans) - run.values["run_s"]
    _, layers = run.stop_tracing(spark)
    for fam in R.FAMILIES:
        name = f"operators.{fam}"
        run.values[f"{name}.wall_s"] = sum(tracer.walls(name))
        run.values[f"{name}.task_s"] = layers.get(name, {}).get("task_s", 0.0)
        run.values[f"{name}.jobs"] = layers.get(name, {}).get("jobs", 0)
        run.values[f"{name}.exchanges"] = n_exchanges.get(fam, 0)
    return None


WORKLOADS = {"image_suite": image_suite, "query_registry": query_registry}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if not C.engine_present():
        print(f"perfbench: the engine (jsonschema_spark/, __spark_entry__.py) is not "
              f"in {C.ROOT}", file=sys.stderr)
        return 2
    run = Run(args)
    C.prepare_process_env(eventlog_dir=run.eventlog_dir if args.trace else None)
    spark = None
    try:
        # the readings end before the JVM exits, whose CPU time would
        # otherwise count as another process's
        with C.HostMonitor() as host:
            run.session_started = time.time()
            spark = C.new_session()
            run.launch_s = time.time() - run.session_started
            spark = WORKLOADS[args.workload](run, spark)
    finally:
        C.shutdown(spark)
    v = run.values
    v["peak_rss_mb"] = host.peak_rss_mb
    v["host.steal_pct"] = host.steal_pct
    v["host.other_load_pct"] = host.other_load_pct
    v["failed_ops_share"] = run.failed / max(run.attempted, 1)
    if run.traced is not None:
        run.traced.write(os.path.join(C.WORK, "spans", f"{run.run_id}.jsonl"))
    units = dict(E2E) if not args.trace else per_layer_units()
    metrics = {k: {"value": float(v.get(k, 0.0)), "unit": u} for k, u in units.items()}
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "started": run.started, "version": C.code_version(),
              "run_id": run.run_id, "wall_s": time.time() - run.started,
              "attempted": run.attempted, "failed": run.failed,
              "errors": run.errors, "walls": run.walls, "cpus": run.cpus, "values": v, "metrics": metrics}
    path = C.archive(record)
    for k in sorted(v):
        unit = E2E.get(k) or per_layer_units().get(k, "")
        print(f"{args.workload:15s} {k:34s} {v[k]:14.4f} {unit}")
    for e in run.errors:
        print(f"CHECK FAILED: {e}")
    print(f"record: {os.path.relpath(path, C.ROOT)}")
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0 if run.failed == 0 else 1

if __name__ == "__main__":
    sys.exit(main())
