"""The image workloads' inputs, operation and correctness checks.

Inputs per seed: a fact table of ``N_ROWS`` generated images in ``N_PARTS``
partitions, built row by row by ``fixtures.make_row`` from a seed-drawn
``fixtures.PlantPlan`` and a seed-drawn drifted partition, plus the
license dimension that matches it. Shared by every seed: the clean-table
drift baseline and the small hive-partitioned with-bytes table that feeds
the sampled fidelity pass (P5).
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import sys
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

import numpy as np

from common import DATA, dir_bytes_files, sink_noop

N_ROWS = 32_000
N_PARTS = 16
FID_ROWS = 2_000
FID_PARTS = 64
# P5 samples 0.1% of the fact rows, cluster-sampled over 1/6 of the
# with-bytes table's partitions (the production sampling policy), with the
# benchmark's seed as the sampling seed. 64 partitions make an empty
# partition slice unlikely (a chance of (5/6)^64).
FID_FRACTION = 0.001 * N_ROWS / FID_ROWS
FID_PARTS_FRACTION = 1 / 6
RESUME_DONE_SHARE = 0.75


def _fx():
    from jsonschema_spark import fixtures as FX

    return FX


def seeded_plan(cfg, seed: int):
    """Plant assignments drawn from ``seed``: same plant counts as
    ``fixtures.build_plan``, different rows."""
    FX = _fx()
    n = cfg.n
    k = [int(round(n * r)) for r in (
        cfg.rate_dup_id, cfg.rate_dup_id, cfg.rate_dup_phash, cfg.rate_dup_phash,
        cfg.rate_orphan_fmt, cfg.rate_orphan_license, cfg.rate_w_zero,
        cfg.rate_h_big, cfg.rate_null_caption, cfg.rate_bad_id)]
    pool = np.random.default_rng([seed, 1]).choice(n, size=sum(k), replace=False)
    c = [[int(x) for x in part] for part in np.split(pool, np.cumsum(k)[:-1])]
    return FX.PlantPlan(
        dup_id=dict(zip(c[0], c[1])), dup_phash=dict(zip(c[2], c[3])),
        orphan_fmt=frozenset(c[4]), orphan_license=frozenset(c[5]),
        w_zero=frozenset(c[6]), h_big=frozenset(c[7]),
        null_caption=frozenset(c[8]), bad_id=frozenset(c[9]))


def seeded_config(seed: int):
    drift_part = int(np.random.default_rng([seed, 2]).integers(N_PARTS))
    return _fx().FixtureConfig(n=N_ROWS, n_parts=N_PARTS, with_bytes=False,
                               drift_part=drift_part)


def pending_parts(seed: int) -> list[int]:
    """The partitions a resume has left to do: a seed-chosen quarter."""
    order = np.random.default_rng([seed, 3]).permutation(N_PARTS)
    return sorted(int(p) for p in order[: int(N_PARTS * (1 - RESUME_DONE_SHARE))])


def expected_totals(plan) -> dict[tuple[str, str], int]:
    """Violations per (pass, check) over the whole table that the plants
    cause; every other row/uniqueness/referential check expects 0."""
    bad = len(plan.bad_id)
    return {
        ("rows", "minimum@/w"): len(plan.w_zero),
        ("rows", "maximum@/h"): len(plan.h_big),
        ("rows", "required@/caption"): len(plan.null_caption),
        ("rows", "pattern@/image_id"): bad,
        ("rows", "minLength@/image_id"): bad,
        ("rows", "enum@/fmt"): len(plan.orphan_fmt),
        ("unique", "uniqueItems@/image_id"): 2 * len(plan.dup_id),
        ("unique", "uniqueItems@/phash"): 2 * len(plan.dup_phash),
        ("refs", "references@/fmt->dim_fmt.fmt"): len(plan.orphan_fmt),
        ("refs", "references@/image_id->dim_license.image_id"):
            len(plan.orphan_license) + bad,
    }


def check_verdicts(rows: list[dict], seed: int) -> list[str]:
    """Errors in a verdict matrix (``validate_table(...).verdicts`` rows):
    per-check violation totals must equal the seed's planted counts, and
    drift must fail on the seed's drifted partition and nowhere else."""
    cfg = seeded_config(seed)
    want = expected_totals(seeded_plan(cfg, seed))
    got: dict[tuple[str, str], int] = {}
    drift_failed = set()
    for r in rows:
        if r["part_id"] is None:
            continue
        if r["pass_id"] in ("rows", "unique", "refs"):
            key = (r["pass_id"], r["check_id"])
            got[key] = got.get(key, 0) + int(r["n_violations"])
        elif r["pass_id"] == "drift" and not r["passed"]:
            drift_failed.add(int(r["part_id"]))
    errors = [f"{k}: {got.get(k, 0)} violations, planted {want.get(k, 0)}"
              for k in sorted(set(got) | set(want)) if got.get(k, 0) != want.get(k, 0)]
    if not got:
        errors.append("no row/uniqueness/referential verdicts")
    if drift_failed != {cfg.drift_part}:
        errors.append(f"drift failed on {sorted(drift_failed)}, drifted {cfg.drift_part}")
    return errors


def fidelity_planted_keys() -> set[str]:
    """Row keys of the with-bytes table that carry a plant; the sampled
    fidelity pass may only flag these."""
    FX = _fx()
    cfg = fidelity_config()
    plan = FX.build_plan(cfg)
    rows = set(plan.dup_id) | set(plan.dup_phash) | set().union(
        plan.orphan_fmt, plan.orphan_license, plan.w_zero, plan.h_big,
        plan.null_caption, plan.bad_id)
    return {FX.make_row(i, cfg, plan)["image_id"] for i in rows}


def fidelity_config():
    return _fx().FixtureConfig(n=FID_ROWS, n_parts=FID_PARTS, with_bytes=True)


@dataclass
class Inputs:
    seed: int
    fact: str
    fact_hive: str
    dim_fmt: str
    dim_license: str
    baseline: str
    fid: str
    spec: str
    clean: str


def inputs_for(seed: int) -> Inputs:
    seed_dir = os.path.join(DATA, f"images_n{N_ROWS}_p{N_PARTS}_s{seed}")
    shared = os.path.join(DATA, f"images_n{N_ROWS}_p{N_PARTS}_shared")
    return Inputs(seed, os.path.join(seed_dir, "fact"), os.path.join(seed_dir, "fact_hive"),
                  os.path.join(shared, "dim_fmt"), os.path.join(seed_dir, "dim_license"),
                  os.path.join(shared, "baseline"),
                  os.path.join(shared, f"fid_{FID_ROWS}_p{FID_PARTS}"),
                  os.path.join(shared, "spec.json"), os.path.join(shared, "clean"))


def _done(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def _generate(spark, cfg, plan):
    import pandas as pd

    FX = _fx()

    def gen(batches):
        for b in batches:
            yield pd.DataFrame([FX.make_row(int(i), cfg, plan) for i in b["id"]])

    return spark.range(0, cfg.n, 1, 4 * 4).mapInPandas(gen, schema=FX.IMAGES_DDL)


def seeded_rows(cfg, plan) -> list[int]:
    """Rows whose ``make_row`` output differs from the clean table's: the
    drifted partition and every planted row that carries a changed value."""
    changed = set(range(cfg.drift_part, cfg.n, cfg.n_parts))
    changed.update(plan.dup_id, plan.dup_phash)
    changed.update(*(s for s in (plan.orphan_fmt, plan.w_zero, plan.h_big,
                                 plan.null_caption, plan.bad_id)))
    return sorted(changed)


def _write_arrow(table, path: str, partition_col: str | None = None) -> None:
    """Write ``table`` as a parquet directory with a ``_SUCCESS`` marker,
    into a temporary sibling that is renamed into place when complete."""
    import pyarrow.dataset as ds

    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    table = table.replace_schema_metadata(None)
    per_file = -(-table.num_rows // 4)
    ds.write_dataset(table, tmp, format="parquet", max_rows_per_file=per_file,
                     max_rows_per_group=per_file,
                     partitioning=[partition_col] if partition_col else None,
                     partitioning_flavor="hive" if partition_col else None)
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)


def prepare(spark, seed: int, hive: bool) -> Inputs:
    """Build whatever inputs of ``seed`` are not on disk yet. The seed's
    table is the clean table (no plants, no drift; shared by all seeds)
    with the rows the seed changes re-made by ``make_row``; every row
    equals ``make_row(i, seeded_config(seed), seeded_plan(...))``. Spark
    builds the shared inputs once per checkout; the seed's own tables are
    written with pyarrow, which takes about a second."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from jsonschema_spark.passes.drift import baseline_profile

    FX = _fx()
    inp = inputs_for(seed)
    if not _done(inp.clean):
        clean = FX.FixtureConfig(n=N_ROWS, n_parts=N_PARTS, plants=False,
                                 with_bytes=False, drift_part=-1)
        _generate(spark, clean, FX.PlantPlan()).write.mode("overwrite").parquet(inp.clean)
    if not _done(inp.baseline):
        baseline_profile(spark.read.parquet(inp.clean), FX.drift_columns()) \
            .coalesce(1).write.mode("overwrite").parquet(inp.baseline)
    if not _done(inp.dim_fmt):
        FX.dim_fmt_df(spark).coalesce(1).write.mode("overwrite").parquet(inp.dim_fmt)
    if not os.path.exists(inp.spec):
        with open(inp.spec, "w") as f:
            json.dump(FX.SPEC_IMAGES, f)
    if not _done(inp.fid):
        FX.generate_images_df(spark, fidelity_config()).write.mode("overwrite") \
            .partitionBy("part_id").parquet(inp.fid)
        # the engine's dynamic partition overwrite leaves no _SUCCESS marker
        open(os.path.join(inp.fid, "_SUCCESS"), "w").close()
    cfg = seeded_config(seed)
    plan = seeded_plan(cfg, seed)
    if not _done(inp.fact):
        rows = seeded_rows(cfg, plan)
        clean = pq.read_table(inp.clean)
        ids = pc.cast(pc.utf8_slice_codeunits(clean["image_id"], 4), pa.int64())
        kept = clean.filter(pc.invert(pc.is_in(ids, value_set=pa.array(rows, pa.int64()))))
        made = pa.Table.from_pylist([FX.make_row(i, cfg, plan) for i in rows],
                                    schema=clean.schema)
        _write_arrow(pa.concat_tables([kept, made]), inp.fact)
    if not _done(inp.dim_license):
        ids = [i for i in range(cfg.n) if i not in plan.orphan_license]
        _write_arrow(pa.table({"image_id": [f"img-{i:012d}" for i in ids],
                               "license": ["cc-by-4.0"] * len(ids)}), inp.dim_license)
    if hive and not _done(inp.fact_hive):
        _write_arrow(pq.read_table(inp.fact), inp.fact_hive, partition_col="part_id")
    return inp


@dataclass
class Registered:
    fact: object
    baseline: object
    dims: dict
    fid: object
    seed: int


def register(spark, inp: Inputs) -> Registered:
    """Open the inputs and touch each once (schema, footers, row count)."""
    reg = Registered(spark.read.parquet(inp.fact), spark.read.parquet(inp.baseline),
                     {"dim_fmt": spark.read.parquet(inp.dim_fmt),
                      "dim_license": spark.read.parquet(inp.dim_license)},
                     spark.read.parquet(inp.fid), inp.seed)
    for df in (reg.fact, reg.baseline, reg.fid, *reg.dims.values()):
        df.count()
    return reg


def _fidelity(reg: Registered):
    from jsonschema_spark.passes.fidelity import fidelity_violations

    return fidelity_violations(reg.fid, fidelity_config(), fraction=FID_FRACTION,
                               seed=reg.seed, parts_fraction=FID_PARTS_FRACTION)


def suite_op(spark, reg: Registered, tracer, storage: dict | None = None) -> list[dict]:
    """One ``image_suite`` operation: ``validate_table`` with P1-P4, P6 and
    the sampled P5, then its three outputs on three threads. Violations and
    stats go to noop sinks; the verdict matrix (one row per partition and
    check) is collected, since it is what the correctness check reads.
    Returns the verdict rows."""
    from jsonschema_spark.engine import validate_table

    FX = _fx()
    with tracer.span("engine.validate_table"):
        res = validate_table(reg.fact, FX.SPEC_IMAGES, dims=reg.dims,
                             baseline=reg.baseline, drift_columns=FX.drift_columns(),
                             fidelity_fn=lambda _: _fidelity(reg))
    collected: list = []
    outs = {"violations": (res.violations, sink_noop),
            "verdicts": (res.verdicts, lambda df: collected.extend(df.collect())),
            "stats": (res.stats, sink_noop)}
    def write(name):
        df, fn = outs[name]
        with tracer.span(f"sinks.{name}", parent="sinks.union"):
            fn(df)

    with tracer.span("sinks.union"):
        with ThreadPoolExecutor(len(outs)) as ex:
            list(ex.map(write, outs))
    if storage is not None:
        infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
        storage["cache_mb"] = sum(i.memSize() + i.diskSize() for i in infos) / 2 ** 20
    res.cleanup()
    return [r.asDict() for r in collected]


def pass_probes(spark, reg: Registered, tracer) -> tuple[int, list[str]]:
    """Each pass's public function materialised on its own noop sink (its
    standalone cost), plus ``compile_table``. Returns (the compiled spec's
    check count, errors of the fidelity pass's output)."""
    from jsonschema_spark.compile_spark import compile_table
    from jsonschema_spark.passes import anomaly as P6
    from jsonschema_spark.passes import drift as P4
    from jsonschema_spark.passes import referential as P3
    from jsonschema_spark.passes import stats as P1
    from jsonschema_spark.passes import uniqueness as P2
    from jsonschema_spark.spec import parse

    FX = _fx()
    fact = reg.fact
    with tracer.span("compile_spark.compile"):
        compiled = compile_table(parse(FX.SPEC_IMAGES), fact.schema)
    stat_cols = [c for c in compiled.columns
                 if fact.schema[c].dataType.typeName() != "binary"]
    with tracer.span("passes.stats"):
        sink_noop(P1.row_violations(fact, compiled, key_col="image_id"))
        sink_noop(P1.column_stats(fact, stat_cols))
    with tracer.span("passes.uniqueness"):
        for keys in (["image_id"], ["phash"]):
            sink_noop(P2.uniqueness_violations(fact, keys, key_col="image_id"))
    with tracer.span("passes.referential"):
        for ref in FX.SPEC_IMAGES["x-table-checks"]["references"]:
            sink_noop(P3.referential_violations(
                fact, reg.dims[ref["dim"]], fact_key=ref["column"], dim_key=ref["key"],
                key_col="image_id", strategy=ref.get("strategy", "broadcast"),
                dim_name=ref["dim"]))
    with tracer.span("passes.drift"):
        sink_noop(P4.drift_metrics(P4.observed_histograms(fact, FX.drift_columns()),
                                   reg.baseline))
    with tracer.span("passes.fidelity"):
        flagged = {r.row_key for r in _fidelity(reg).collect()}
    with tracer.span("passes.anomaly"):
        sink_noop(P6.anomaly_flags(P6.partition_profile(fact, ["w", "h", "phash"])))
    stray = flagged - fidelity_planted_keys()
    errors = [f"fidelity flagged unplanted rows {sorted(stray)[:5]}"] if stray else []
    return len(compiled.check_ids()), errors


def job_probe(spark, inp: Inputs, tracer, work: str) -> tuple[dict, list[str]]:
    """``job.run`` (the E3 CLI) over the hive-partitioned table with real
    parquet sinks: a fresh run, then a manifest that marks a seed-chosen
    three quarters of the partitions done, then ``--resume``."""
    from jsonschema_spark import job
    from jsonschema_spark.manifest import Manifest

    out, man_fresh, man_resume = (os.path.join(work, d) for d in ("out", "man", "man_resume"))
    shutil.rmtree(work, ignore_errors=True)
    args = ["--table", inp.fact_hive, "--spec", inp.spec, "--out", out,
            "--dim", f"dim_fmt={inp.dim_fmt}", "--dim", f"dim_license={inp.dim_license}",
            "--baseline", inp.baseline]
    # job.run prints its summary line; keep stdout for the benchmark's own
    with tracer.span("job.fresh"), contextlib.redirect_stdout(sys.stderr):
        fresh = job.run(args + ["--manifest", man_fresh], spark=spark)
    pending = pending_parts(inp.seed)
    with tracer.span("manifest.record"):
        Manifest(spark, man_resume).record(
            [{"part_id": p, "pass_id": "full", "status": "done"}
             for p in range(N_PARTS) if p not in pending])
    with tracer.span("manifest.filter_pending"):
        Manifest(spark, man_resume).filter_pending(spark.read.parquet(inp.fact_hive), "full")
    with tracer.span("job.resume"), contextlib.redirect_stdout(sys.stderr):
        resumed = job.run(args + ["--manifest", man_resume, "--resume"], spark=spark)
    in_bytes, _ = dir_bytes_files(inp.fact_hive)
    out_bytes, out_files = (sum(x) for x in zip(*(dir_bytes_files(d) for d in
                                                  (out, man_fresh, man_resume))))
    from pyspark.sql import functions as F

    verdicts = [r.asDict() for r in spark.read.parquet(os.path.join(out, "verdicts"))
                .where(F.col("part_id").isNotNull()).collect()]
    pending_rows = sum(1 for i in range(N_ROWS) if i % N_PARTS in pending)
    errors = check_verdicts(verdicts, inp.seed)
    for leg, s, rows, parts in (("fresh", fresh, N_ROWS, N_PARTS),
                                ("resume", resumed, pending_rows, len(pending))):
        if (s.get("n_rows"), s.get("n_partitions"), s.get("table_passed")) != (rows, parts, False):
            errors.append(f"job {leg} summary {s.get('n_rows')} rows / "
                          f"{s.get('n_partitions')} parts / passed={s.get('table_passed')},"
                          f" want {rows} / {parts} / False")
    facts = {"in_bytes": in_bytes, "out_bytes": out_bytes, "out_files": out_files,
             "pending_rows": pending_rows, "resume_rows_per_s": resumed.get("images_per_sec", 0.0)}
    shutil.rmtree(work, ignore_errors=True)
    return facts, errors
