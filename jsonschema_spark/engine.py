"""E2 — ``validate_table``: the set-oriented DataFrame API (SURVEY.md §3 E2).

Compiles a JSONSchema-style spec and runs the validation passes:
  P1 row predicates + fused column stats   (passes/stats.py)
  P2 salted uniqueness                     (passes/uniqueness.py)
  P3 broadcast/shuffle-hash referential    (passes/referential.py)
  P4 histogram + KS/PSI drift              (passes/drift.py)
  P5 sampled decoded-pixel fidelity        (passes/fidelity.py, opt-in)
  P6 partition-anomaly (median/MAD robust z) (passes/anomaly.py, opt-in)

P1–P4 and P6 consume ONE fused scan of the fact table (SURVEY §4 pass fusion);
P5 is the only pass that reads the binary column, on its own sampled scan.

Row validation without the table passes: ``validate_rows`` (batch or
streaming; ``streaming.validate_stream`` is this function) and
``validate_json_rows`` (a JSON-string payload column, compiled by the same
``compile_spark.compile_json_node`` as an ``x-json`` table column). They
and P1 turn the compiled violations array into rows through one explode,
``passes.stats.explode_violations``.

Violation streams are unioned into one schema (B23) and one persisted frame;
every check counted from it (P1, P2, P3, P5, P7) is judged per (partition,
check) in the one verdict grid, ``passes.stats.verdicts_from_violations``
(B18): one zero-filled count and one join. Nothing here collects fact-scale
data to the driver — violations/verdicts are returned as DataFrames for the
caller to sink (B3) or aggregate.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from functools import reduce
from itertools import chain
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .compile_spark import (CompiledTableSpec, column_pointer, compile_json_column,
                            compile_table)
from .spec import Spec, parse, sql_identifiers
from .passes import stats as P1
from .passes import uniqueness as P2
from .passes import referential as P3
from .passes import drift as P4


# the passes judged by counting violation rows (verdict n_violations = rows)
VIOLATION_PASSES = ("rows", "unique", "refs", "fidelity", "headers")
# the passes judged as ONE check each (keyword = pass_id), by its path:
# every row of the pass counts toward it
ONE_CHECK_PASSES = {"fidelity": "/", "headers": "/bytes"}


@dataclass
class ValidationResult:
    violations: DataFrame       # (part_id, row_key, keyword, path, value)
    verdicts: DataFrame         # (part_id, check_id, keyword, path, passed, n_violations)
    stats: DataFrame            # this run's partitions' state rows (stats.STATS_SCHEMA)
    drift_metrics: DataFrame | None
    compiled: CompiledTableSpec
    table_stats: DataFrame | None = None  # `stats` plus the `state` passed in
    anomaly_flags: DataFrame | None = None  # per-(part, col, metric) robust-z
    quantile_verdicts: DataFrame | None = None  # x-table-checks/quantiles detail
    _cached: list[DataFrame] = field(default_factory=list)

    def cleanup(self) -> None:
        """Unpersist every DataFrame this run cached (the fused scan
        projection, the violation frame, the drift histograms and the
        per-partition stats aggregate). Call after the sinks are written —
        long-lived sessions otherwise accumulate cached storage across
        validate_table calls."""
        for df in self._cached:
            try:
                df.unpersist()
            except Exception:
                pass
        self._cached.clear()


def recommended_conf(parallelism: int = 32) -> dict[str, str]:
    """Spark confs the engine is designed around (SURVEY.md §4, BASELINE.md)."""
    return {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.shuffle.partitions": str(max(parallelism * 4, 32)),
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
        # Resume idempotency (B4): overwrite ONLY the partitions present in a
        # retried write, so completed partitions' violations survive a resume.
        "spark.sql.sources.partitionOverwriteMode": "dynamic",
        # A full constraint suite compiles to one projection with dozens of
        # CASE WHEN branches; past 64KB of generated bytecode Spark silently
        # falls back to INTERPRETED expression evaluation (measured 15x
        # slower on the violations projection). Raise the limit — generated
        # code is still split into JIT-able methods by methodSplitThreshold.
        "spark.sql.codegen.hugeMethodLimit": "65535000",
        # hll_sketch_agg runs in ObjectHashAggregate, which silently falls
        # back to SORT-BASED aggregation past 128 distinct groups — with
        # 256 table partitions that sorted 32M rows per task and spent 87%
        # of the stats stage in GC (event-log profile). Sketch state is
        # O(KB) per (partition x column); thousands of groups fit trivially.
        "spark.sql.objectHashAggregate.sortBased.fallbackThreshold": "131072",
        # validate_table persists 4 intermediates (the fused scan, the
        # violation frame, the drift histograms, the wide stats agg whose
        # part_id column is the partition list). With this false, AQE
        # never coalesces inside a cached plan, so each keeps
        # spark.sql.shuffle.partitions partitions and every stage reading
        # it runs that many near-empty tasks: ~800 tasks per 32k-row
        # image_suite op at 32 shuffle partitions (with the 10 caches of
        # the time). With it true, AQE sizes each cache from its runtime
        # bytes (170 tasks then).
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    }


def get_session(app: str = "jsonschema-spark", master: str | None = None,
                parallelism: int | None = None) -> SparkSession:
    import os

    cpus = parallelism or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    b = SparkSession.builder.appName(app)
    b = b.master(master or f"local[{cpus}]")
    # In local mode the driver JVM is the executor; the 1g default heap
    # can't hold checkpointed bench tables. No effect on existing sessions.
    b = b.config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g"))
    for k, v in recommended_conf(cpus).items():
        b = b.config(k, v)
    return b.getOrCreate()


def validate_rows(
    df: DataFrame, spec: dict[str, Any] | Spec, keys: list[str]
) -> DataFrame:
    """Generic row-level validation: compile the spec against ``df``'s schema
    and return violation rows keyed by ``keys`` — (keys..., keyword, path,
    value). One projection + explode; no per-row Python (B5/B6). Stateless,
    so it runs unchanged on a streaming DataFrame (``streaming
    .validate_stream`` is this function, B26)."""
    if not isinstance(spec, Spec):
        spec = parse(spec)
    compiled = compile_table(spec, df.schema)
    return P1.explode_violations(df, keys, compiled.violations_array())


def validate_json_rows(
    df: DataFrame, json_col: str, spec: dict[str, Any] | Spec, keys: list[str]
) -> DataFrame:
    """Row-level validation of a JSON-STRING payload column (e.g. an
    ``events.props`` blob) with ``compile_json_node`` — the compiler an
    ``x-json`` table column uses: the payload is parsed once via
    ``from_json`` and every keyword runs as a codegen predicate on the
    parsed struct (SURVEY.md B25/A15). Malformed JSON, and a non-object
    payload under a ``type: object`` root, surface as a ``type`` violation
    at the root path."""
    if not isinstance(spec, Spec):
        spec = parse(spec)
    compiled = compile_json_column(spec, json_col)
    return P1.explode_violations(df, keys, compiled.violations_array())


def rollup_verdicts(verdicts: DataFrame) -> DataFrame:
    """B17 — per-partition AND table-wide verdicts in ONE aggregation via
    GROUPING SETS: {(part, check), (check)}. The global row has part_id
    NULL; its ``passed`` is the AND of the partition verdicts."""
    return verdicts.groupingSets(
        [["part_id", "check_id", "keyword", "path"], ["check_id", "keyword", "path"]],
        "part_id", "check_id", "keyword", "path",
    ).agg(
        F.min(F.col("passed").cast("int")).cast("boolean").alias("passed"),
        F.sum("n_violations").alias("n_violations"),
    )


def _referenced_columns(expr: str, columns: list[str]) -> set[str]:
    """The columns an SQL expression (a drift or anomaly column) may
    reference: each one that appears in ``expr`` as an identifier token or
    as a whole word. Keeping a column too many costs cache space; dropping
    a referenced one fails analysis on the fused projection."""
    tokens = sql_identifiers(expr)
    return {c for c in columns
            if c in tokens or re.search(rf"\b{re.escape(c)}\b", expr)}


def _fused_projection(
    fact: DataFrame,
    compiled: CompiledTableSpec,
    spec: Spec,
    key_col: str,
    part_col: str,
) -> DataFrame:
    """The SURVEY §4 pass-fusion projection: ONE scan of the fact table
    producing every non-binary column any pass consumes PLUS the compiled
    row-violations array. Binary columns (``bytes``) are read by the scan
    only where a check references them (e.g. ``required``) and are never
    materialized into the cached projection — the cache holds narrow
    columns + mostly-empty arrays."""
    needed: set[str] = {part_col, key_col}
    needed.update(compiled.columns)
    for key_cols in spec.table_checks.unique:
        needed.update(key_cols)
    for ref in spec.table_checks.references:
        needed.add(ref["column"])
    exprs = [dc.expr for dc in spec.table_checks.drift_columns]
    if spec.table_checks.anomaly is not None:
        exprs += spec.table_checks.anomaly["columns"]
    for expr in exprs:
        needed.update(_referenced_columns(expr, fact.columns))
    fields = {f.name: f.dataType for f in fact.schema.fields}
    keep = [c for c in fact.columns
            if c in needed and fields[c].typeName() != "binary"]
    return fact.select(*keep, compiled.violations_array().alias("__viols"))


def _literal_table(spark: SparkSession, fields: list[tuple[str, str]],
                   rows: list[tuple]) -> DataFrame:
    """A small table of spec literals, built in the JVM: one task exploding
    a literal array of typed structs. ``spark.createDataFrame(list)`` would
    plan a Python RDD scan and wait on Python workers each time it runs."""
    return spark.range(0, 1, 1, 1).select(F.inline(F.array(*[
        F.struct(*[F.lit(v).cast(t).alias(n) for (n, t), v in zip(fields, row)])
        for row in rows])))


def _bound_verdicts(
    bounds: DataFrame, values: DataFrame, on: list[str], value: str,
    keyword: str, id_suffix: Column,
) -> tuple[DataFrame, DataFrame]:
    """Table-wide lo/hi bound checks (quantile and distinct families):
    ``bounds`` rows (column, ..., lo, hi) joined to the merged ``values``;
    a missing value, or one outside a given bound, fails. The check id is
    ``keyword@path`` plus ``id_suffix``. Returns the judged rows and their
    table-wide verdict rows (part_id NULL)."""
    v = F.col(value)
    path = column_pointer(F.col("column"))
    judged = bounds.join(values, on, "left").withColumn(
        "passed",
        v.isNotNull()
        & (F.col("lo").isNull() | (v >= F.col("lo")))
        & (F.col("hi").isNull() | (v <= F.col("hi"))))
    verdicts = judged.select(
        F.lit(None).cast("int").alias("part_id"),
        F.concat(F.lit(f"{keyword}@"), path, id_suffix).alias("check_id"),
        F.lit(keyword).alias("keyword"),
        path.alias("path"),
        "passed",
        (~F.col("passed")).cast("long").alias("n_violations"),
    )
    return judged, verdicts


def validate_table(
    fact: DataFrame,
    spec: dict[str, Any] | Spec,
    dims: dict[str, DataFrame] | None = None,
    baseline: DataFrame | None = None,
    key_col: str = "image_id",
    part_col: str = "part_id",
    top_k: int | None = None,
    drift_columns: list[P4.DriftColumn] | None = None,
    fidelity_fn: Any | None = None,
    headers_fn: Any | None = None,
    kll_k: int = 200,
    state: DataFrame | None = None,
    completed: DataFrame | None = None,
) -> ValidationResult:
    """Run the validation suite over ``fact``.

    Pass fusion (SURVEY §4): the fact table is scanned ONCE into a
    persisted narrow projection (spec'd non-binary columns + the
    precomputed row-violations array); the row pass, stats, uniqueness,
    referential, drift histograms and the anomaly profile all consume that
    cache instead of re-scanning parquet. The cache is bounded by the
    narrow column set × row count (binary columns never enter it) and
    spills to disk.

    The spec decides which passes run: P4 drift needs ``baseline`` and the
    drift columns ``spec.parse`` resolved (``drift_columns``, if given, must
    equal them); a spec with quantile checks fuses a mergeable KLL sketch
    (size ``kll_k``) per numeric spec'd column into the SAME single-scan
    stats aggregation (SURVEY §2 B42), and its stats rows carry them for
    ``passes.stats.merge_quantiles``.

    ``state`` and ``completed`` (both or neither) describe the partitions
    an earlier run validated, a resume's completed ones: their stats rows
    (``part_id`` + ``passes.stats.STATS_SCHEMA``) and their fact rows. The
    quantile, distinct, null-rate and P6 verdicts are judged on this run's
    stats rows plus ``state``, and P2 on the fused cache's key columns plus
    ``completed``'s, as a fresh run over the whole table would judge them.

    ``fidelity_fn`` (P5) and ``headers_fn`` (P7): optional callables
    ``fact -> violations DataFrame`` (part_id, row_key, keyword, path,
    value): the sampled decoded-pixel PSNR + caption-equality pass
    (passes/fidelity.py) and the container-header sniff over every row
    (passes/headers.py, B53). Both read ``bytes``, on scans of their own.

    Every violation row carries a ``pass_id`` column ("rows" | "unique" |
    "refs" | "fidelity" | "headers") so sinks can partition by (pass_id,
    part_id) and a resumed pass dynamically overwrites exactly its own
    cells (B4).

    The violation streams form ONE persisted frame (MEMORY_AND_DISK; ≪ fact
    rows by construction) that feeds the sink and the verdict grid,
    ``passes.stats.verdicts_from_violations`` (B18): one zero-filled count,
    judged on this run's partitions (P2: plus the ``state`` ones). The other
    caches are the fused scan, the drift histograms, the per-partition
    stats aggregate (its ``part_id`` column is the partition list) and, on
    a resume with uniqueness checks, ``completed``'s key columns.

    Call ``result.cleanup()`` after sinking to unpersist all caches.
    """
    if not isinstance(spec, Spec):
        spec = parse(spec)
    if drift_columns is not None and tuple(drift_columns) != spec.table_checks.drift_columns:
        raise ValueError("drift_columns differ from the spec's x-table-checks/drift "
                         "columns; the spec's are the ones run")
    if (state is None) != (completed is None):
        raise ValueError("state and completed go together: pass both or neither")
    dims = dims or {}
    compiled = compile_table(spec, fact.schema)
    cached: list[DataFrame] = []

    def _persist(df: DataFrame) -> DataFrame:
        from pyspark import StorageLevel

        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        cached.append(df)
        return df

    # THE fact scan (SURVEY §4): all passes below read `base`, so parquet
    # is hit exactly once for the suite (assert_single_scan test pins this).
    base = _persist(_fused_projection(fact, compiled, spec, key_col, part_col))

    # P6 — partition anomaly (passes/anomaly.py): robust median/MAD z-score
    # of per-partition column profiles. Its state is FUSED into the stats
    # aggregation below (one groupBy(part) agg serves P1 stats, the check
    # families AND P6), so the config is read here and the pass is
    # constructed from the state rows.
    acfg = spec.table_checks.anomaly
    anomaly_df = None
    a_cols: tuple[str, ...] = ()
    if acfg is not None:
        fields = {f.name: f.dataType for f in fact.schema.fields}
        a_cols = tuple(c for c in acfg["columns"]
                       if c not in fields or fields[c].typeName() != "binary")

    # fused stats (B14/B15) — from the same cached scan, never `bytes`
    qchecks = spec.table_checks.quantiles
    dchecks = spec.table_checks.distinct
    nrchecks = spec.table_checks.null_rates
    stat_cols = [c for c in compiled.columns
                 if fact.schema[c].dataType.typeName() != "binary"]
    for kind, checks in (("quantiles", qchecks), ("distinct", dchecks),
                         ("null-rates", nrchecks)):
        missing = [c["column"] for c in checks if c["column"] not in stat_cols]
        if missing:
            raise ValueError(
                f"x-table-checks/{kind} columns {missing} are absent from the "
                "table or binary — these checks run on the fused stats scan")
    numeric_q = P1.numeric_columns(fact, [c["column"] for c in qchecks])
    bad_q = [c["column"] for c in qchecks if c["column"] not in numeric_q]
    if bad_q:
        # a quantile bound on a non-numeric column gets no KLL sketch and
        # would surface as a data failure instead of a config error
        raise ValueError(
            f"x-table-checks/quantiles on non-numeric columns {bad_q} — "
            "quantile sketches exist only for numeric columns")
    # ONE aggregation over `base` for the stats sink, the quantile/
    # distinct/null-rate verdict branches, the P6 profile AND the partition
    # list; the result is partitions-scale, so persist it — without this
    # the concurrent sink jobs re-ran the 10^12-row aggregation once per
    # consumer (measured: three ~300-600 task-second ObjectHashAggregate
    # stages per suite run at 32M rows, each re-shuffling ~277 MB of
    # partial sketch state).
    wide_agg = _persist(P1.partition_wide_agg(
        base, stat_cols, part_col=part_col,
        with_quantiles=bool(qchecks), kll_k=kll_k, anomaly_exprs=a_cols))
    stats_df = P1.stats_long(wide_agg, stat_cols, a_cols)
    # one row per partition of this run
    all_parts = wide_agg.select("part_id")
    # every table-wide judgement below reads this run's state plus the
    # completed partitions' (see ``state`` in the docstring)
    table_stats = stats_df
    judged_parts = all_parts
    if state is not None:
        table_stats = stats_df.unionByName(state.select(*stats_df.columns))
        judged_parts = all_parts.unionByName(state.select("part_id").distinct())

    # the violation streams, tagged with their pass_id, and the grid's
    # (pass_id, check_id, keyword, path) checks: P2's judged on
    # `judged_parts`, every other one on `all_parts`
    streams: list[DataFrame] = []
    part_checks: list[tuple[str, str, str, str]] = []
    table_checks: list[tuple[str, str, str, str]] = []

    # P1 — row predicates (the array precomputed by the fused projection)
    streams.append(P1.explode_violations(
        base, [F.col(part_col).alias("part_id"),
               F.col(key_col).cast("string").alias("row_key")],
        F.col("__viols")).withColumn("pass_id", F.lit("rows")))
    part_checks += [("rows", cid, *cid.split("@", 1)) for cid in compiled.check_ids()]

    # P2 — uniqueness, table-wide: the fused cache plus, on a resume, the
    # completed rows' key columns; each key reads them twice (uncached, 6
    # scans with the runtime bloom filter their partition filter draws)
    unique = spec.table_checks.unique
    scope = base
    if completed is not None and unique:
        cols = list(dict.fromkeys([part_col, key_col, *(c for k in unique for c in k)]))
        scope = base.select(*cols).unionByName(_persist(completed.select(*cols)))
    for key_cols in unique:
        streams.append(P2.uniqueness_violations(
            scope, list(key_cols), key_col=key_col, part_col=part_col)
            .withColumn("pass_id", F.lit("unique")))
        path = P2.unique_path(key_cols)
        table_checks.append(("unique", f"uniqueItems@{path}", "uniqueItems", path))

    # P3 — referential (reads the fused cache, never parquet)
    for ref in spec.table_checks.references:
        dim_name = ref["dim"]
        if dim_name not in dims:
            raise KeyError(f"referential check needs dim table {dim_name!r}")
        streams.append(P3.referential_violations(
            base, dims[dim_name], fact_key=ref["column"], dim_key=ref["key"],
            key_col=key_col, part_col=part_col,
            strategy=ref.get("strategy", "broadcast"), dim_name=dim_name,
        ).withColumn("pass_id", F.lit("refs")))
        path = P3.ref_path(ref["column"], dim_name, ref["key"])
        part_checks.append(("refs", f"references@{path}", "references", path))

    # P5 — sampled fidelity (B28): own scan, the only pass touching `bytes`;
    # P7 — container-header sniff (B53): header fields only, no decode.
    for pass_id, fn in (("fidelity", fidelity_fn), ("headers", headers_fn)):
        if fn is not None:
            streams.append(fn(fact).withColumn("pass_id", F.lit(pass_id)))
            path = ONE_CHECK_PASSES[pass_id]
            part_checks.append((pass_id, f"{pass_id}@{path}", pass_id, path))

    # ONE violation frame for the sink and the verdict grid
    violations = _persist(reduce(DataFrame.unionByName, streams))
    rows = F.col("pass_id") == "rows"  # --top-k bounds the row pass only
    sink = violations if top_k is None else P1.bound_top_k(
        violations.where(rows), top_k).unionByName(violations.where(~rows))

    # THE verdict grid (B18): one zero-filled count over every stream; a
    # P5/P7 row counts toward its pass's one check
    one_path = F.create_map(*map(F.lit, chain(*ONE_CHECK_PASSES.items())))[F.col("pass_id")]
    counted = violations.withColumns({
        "keyword": F.when(one_path.isNotNull(), F.col("pass_id")).otherwise(F.col("keyword")),
        "path": F.coalesce(one_path, F.col("path"))})
    verdict_streams = [P1.verdicts_from_violations(
        counted, [(all_parts, part_checks), (judged_parts, table_checks)])]

    # P4 — drift (histograms over the fused cache)
    drift_df = None
    dcfg = spec.table_checks.drift
    drift_cols = spec.table_checks.drift_columns
    if baseline is not None and drift_cols:
        # The histogram table is tiny (partitions x columns x buckets) but
        # drift_metrics consumes it several times (partition list, bucket
        # grid, CDF join) and the verdicts sink runs as its own job —
        # without a persist the 10^12-row aggregation would re-execute per
        # consumer job instead of once per suite.
        obs = _persist(P4.observed_histograms(base, drift_cols, part_col=part_col))
        drift_df = P4.drift_metrics(obs, baseline)
        verdict_streams.append(
            P4.drift_verdicts(
                drift_df,
                ks_alpha=dcfg.get("ks_alpha", 0.01),
                psi_max=dcfg.get("psi_max", 0.2),
            ).withColumn("pass_id", F.lit("drift"))
        )

    # P6 assembly — from the state rows of every judged partition
    if acfg is not None:
        from jsonschema_spark.passes import anomaly as P6

        prof = P6.profile_from_stats(table_stats, a_cols)
        anomaly_df = P6.anomaly_flags(prof, z_max=acfg.get("z_max", 3.5))
        flagged = P6.anomaly_verdicts(anomaly_df)
        # healthy partitions still get explicit pass rows (per-partition
        # pass/fail contract): every partition with no flag
        healthy = judged_parts.join(flagged, "part_id", "left_anti").select(
            "part_id", F.lit("anomaly@").alias("check_id"),
            F.lit("anomaly").alias("keyword"), F.lit("/").alias("path"),
            F.lit(True).alias("passed"), F.lit(0).cast("long").alias("n_violations"))
        verdict_streams.append(
            flagged.unionByName(healthy).withColumn("pass_id", F.lit("anomaly")))

    # quantile-bound verdicts (B42 as a CHECK TYPE): the merged table-wide
    # sketch value against the spec'd bound — metadata-scale joins only
    spark = fact.sparkSession
    quantile_verdicts = None
    if qchecks:
        qs = tuple(sorted({float(q["q"]) for q in qchecks}))
        melted = P1.merge_quantiles(table_stats, qs).selectExpr(
            "column",
            f"stack({len(qs)}, "
            + ", ".join(f"'{P1.quantile_name(q)}', {P1.quantile_name(q)}" for q in qs)
            + ") as (qname, value)")
        checks_df = _literal_table(
            spark,
            [("column", "string"), ("q", "double"), ("qname", "string"),
             ("lo", "double"), ("hi", "double")],
            [(q["column"], float(q["q"]), P1.quantile_name(float(q["q"])),
              float(q["min"]) if "min" in q else None,
              float(q["max"]) if "max" in q else None)
             for q in qchecks])
        judged, qv = _bound_verdicts(
            checks_df, melted, ["column", "qname"], "value", "quantile",
            F.concat(F.lit("@q"), F.col("q").cast("string")))
        quantile_verdicts = judged.select("column", "q", "value", "lo", "hi", "passed")
        verdict_streams.append(qv.withColumn("pass_id", F.lit("quantiles")))

    # distinct-cardinality bounds (B15 as a CHECK TYPE): merged HLL estimate
    # vs the spec'd bound — table-wide, metadata-scale join
    if dchecks:
        d_df = _literal_table(
            spark, [("column", "string"), ("lo", "long"), ("hi", "long")],
            [(d["column"],
              int(d["min"]) if "min" in d else None,
              int(d["max"]) if "max" in d else None) for d in dchecks])
        _, dv = _bound_verdicts(
            d_df, P1.merge_sketches(table_stats), ["column"], "n_distinct_merged",
            "distinct", F.lit(""))
        verdict_streams.append(dv.withColumn("pass_id", F.lit("distinct")))

    # null-rate bounds: per-partition AND table-wide verdicts in ONE
    # aggregation (grouping sets, as in rollup_verdicts) straight off the
    # state rows (no extra scan); n_violations carries the null count
    if nrchecks:
        nr_df = _literal_table(
            spark, [("column", "string"), ("max_rate", "double")],
            [(n["column"], float(n["max_rate"])) for n in nrchecks])
        nr = (
            table_stats.select("part_id", "column", "n_rows", "n_nulls")
            .join(nr_df, "column")
            .groupingSets([["part_id", "column", "max_rate"], ["column", "max_rate"]],
                          "part_id", "column", "max_rate")
            .agg(F.sum("n_rows").alias("n_rows"), F.sum("n_nulls").alias("n_nulls"))
        )
        path = column_pointer(F.col("column"))
        verdict_streams.append(nr.select(
            F.col("part_id").cast("int").alias("part_id"),
            F.concat(F.lit("null-rate@"), path).alias("check_id"),
            F.lit("null-rate").alias("keyword"),
            path.alias("path"),
            (F.col("n_nulls") / F.greatest(F.col("n_rows"), F.lit(1))
             <= F.col("max_rate")).alias("passed"),
            F.col("n_nulls").cast("long").alias("n_violations"),
        ).withColumn("pass_id", F.lit("null_rate")))

    return ValidationResult(
        violations=sink,
        verdicts=reduce(DataFrame.unionByName, verdict_streams),
        stats=stats_df,
        table_stats=table_stats,
        drift_metrics=drift_df,
        anomaly_flags=anomaly_df,
        quantile_verdicts=quantile_verdicts,
        compiled=compiled,
        _cached=cached,
    )
