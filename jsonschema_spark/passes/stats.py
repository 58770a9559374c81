"""P1 — fused single-scan column-stats pass + row-level violation projection.

SURVEY.md §2 B5/B6/B14/B15/B21; BASELINE.json:6 "single-scan per-partition
column-stats pass (min/max/null-rate/distinct via HLL sketches, type/format/
range predicates compiled from a JSONSchema-style constraint spec)".

Scale notes (100 TB / 10^12 rows):
- The stats pass reads ONLY the spec'd columns (never ``bytes``); Catalyst
  prunes the Parquet/Iceberg scan to that column set.
- All columns' aggregates are fused into ONE ``groupBy(part_id).agg(...)`` —
  Catalyst executes it as map-side partial + final hash aggregation, so the
  shuffle carries one small row per (partition × map-task), not data rows.
- HLL sketches (`hll_sketch_agg`) are mergeable binary state (O(KB)): they
  round-trip through the manifest and roll up table-wide via
  ``hll_union_agg`` across resume boundaries (B15).
- Row violations are a pure projection (whole-stage codegen) + explode;
  the sink is bounded by top-k per (partition, keyword) (B21) while exact
  counts are preserved in the verdicts.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..compile_spark import CompiledTableSpec

VIOLATION_COLS = ["part_id", "row_key", "keyword", "path", "value"]


def explode_violations(
    df: DataFrame, keys: list[str | Column], viols: Column
) -> DataFrame:
    """One row per violation: project ``keys`` (names or Columns) and the
    ``viols`` array, drop rows whose array is empty before the explode, and
    return (keys..., keyword, path, value). Every E2 row entry point — batch,
    streaming, JSON payloads and the fused P1 — goes through here."""
    narrow = df.select(*keys, viols.alias("viols"))
    names = narrow.columns[:-1]
    return (
        narrow.where(F.size("viols") > 0)
        .select(*names, F.explode("viols").alias("v"))
        .select(*names, "v.keyword", "v.path", "v.value")
    )


def row_violations(
    df: DataFrame,
    compiled: CompiledTableSpec,
    key_col: str,
    part_col: str = "part_id",
) -> DataFrame:
    """Row-level violations: one narrow projection → explode. Returns
    VIOLATION_COLS schema (bound it with ``bound_top_k`` for a sink)."""
    return explode_violations(
        df, [F.col(part_col).alias("part_id"),
             F.col(key_col).cast("string").alias("row_key")],
        compiled.violations_array())


def bound_top_k(violations: DataFrame, top_k: int) -> DataFrame:
    """Bound a violation stream to ≤k example rows per (partition, check)
    (B21) — exact counts must be taken from the unbounded stream first."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("part_id", "keyword", "path").orderBy("row_key")
    return (
        violations.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= top_k)
        .drop("_rn")
    )


_NUMERIC_TYPENAMES = (
    "byte", "short", "integer", "long", "float", "double", "decimal",
)


def numeric_columns(df: DataFrame, columns: list[str]) -> set[str]:
    return {
        c for c in columns
        if df.schema[c].dataType.typeName().startswith(_NUMERIC_TYPENAMES)
    }


def partition_wide_agg(
    df: DataFrame,
    columns: list[str],
    part_col: str = "part_id",
    with_sketches: bool = True,
    with_quantiles: bool = False,
    kll_k: int = 200,
    anomaly_exprs: tuple[str, ...] = (),
) -> DataFrame:
    """THE per-partition aggregation: one ``groupBy(part)`` hash agg
    computing the stats-pass state for every spec'd column and, when
    ``anomaly_exprs`` is non-empty, the partition-anomaly profile
    (mean + null-rate per expression, ``__a{i}_mean``/``__a{i}_nullrate``
    columns) in the SAME pass — the stats sink, the quantile/distinct/
    null-rate check families, and P6 all derive from this one result, so
    the fact table is aggregated exactly once for all of them (at 32M rows
    the un-fused form ran three ~300-600 task-second ObjectHashAggregate
    stages per suite, each re-exchanging ~277 MB of partial sketch state).

    Output: one row per partition; the caller persists it (partitions ×
    columns scale, independent of row count) and projects the long stats
    shape via ``stats_long`` / the anomaly profile via
    ``anomaly.profile_from_wide``."""
    aggs: list[Column] = [F.count(F.lit(1)).alias("n_rows")]
    numeric = numeric_columns(df, columns)
    for c in columns:
        col = F.col(c)
        aggs.append(F.sum(col.isNull().cast("long")).alias(f"{c}__nulls"))
        aggs.append(F.min(col).cast("string").alias(f"{c}__min"))
        aggs.append(F.max(col).cast("string").alias(f"{c}__max"))
        aggs.append(F.approx_count_distinct(col).alias(f"{c}__dist"))
        if with_sketches:
            # hll_sketch_agg natively supports int/long/string/binary — pass
            # those through unchanged (a cast("string") on an int column
            # allocates a UTF8String per CELL: measured GC churn at 32
            # cores); only unsupported types (double, date, ...) cast.
            dt = df.schema[c].dataType.typeName()
            sk = col if dt in ("integer", "long", "string") else col.cast("string")
            aggs.append(F.hll_sketch_agg(sk).alias(f"{c}__hll"))
        if with_quantiles and c in numeric:
            aggs.append(
                F.kll_sketch_agg_double(col.cast("double"), F.lit(kll_k))
                .alias(f"{c}__kll"))
    for i, e in enumerate(anomaly_exprs):
        v = F.expr(e)
        aggs.append(F.avg(v.cast("double")).alias(f"__a{i}_mean"))
        aggs.append(F.avg(v.isNull().cast("double")).alias(f"__a{i}_nullrate"))
    # no pre-select: anomaly expressions may reference any input column;
    # Catalyst column-prunes the scan to exactly the referenced set (the
    # single-HashAggregate plan assert pins this)
    return df.groupBy(F.col(part_col).alias("part_id")).agg(*aggs)


def stats_long(
    wide: DataFrame,
    columns: list[str],
    numeric: set[str],
    with_sketches: bool = True,
    with_quantiles: bool = False,
) -> DataFrame:
    """Project ``partition_wide_agg`` output to the stats-sink long format:
    part_id, column, n_rows, n_nulls, min_val, max_val, n_distinct_approx,
    hll_sketch[, kll_sketch]."""
    structs = [
        F.struct(
            F.lit(c).alias("column"),
            F.col(f"{c}__nulls").alias("n_nulls"),
            F.col(f"{c}__min").alias("min_val"),
            F.col(f"{c}__max").alias("max_val"),
            F.col(f"{c}__dist").alias("n_distinct_approx"),
            (F.col(f"{c}__hll") if with_sketches else F.lit(None).cast("binary")).alias("hll_sketch"),
            *([(F.col(f"{c}__kll") if c in numeric else F.lit(None).cast("binary")).alias("kll_sketch")]
              if with_quantiles else []),
        )
        for c in columns
    ]
    out_cols = [
        "part_id", "s.column", "n_rows", "s.n_nulls", "s.min_val", "s.max_val",
        "s.n_distinct_approx", "s.hll_sketch",
    ] + (["s.kll_sketch"] if with_quantiles else [])
    return (
        wide.select("part_id", "n_rows", F.explode(F.array(*structs)).alias("s"))
        .select(*out_cols)
    )


def column_stats(
    df: DataFrame,
    columns: list[str],
    part_col: str = "part_id",
    with_sketches: bool = True,
    with_quantiles: bool = False,
    kll_k: int = 200,
) -> DataFrame:
    """Fused per-partition stats for all spec'd columns in ONE aggregation.

    Output (long format): part_id, column, n_rows, n_nulls, min_val:string,
    max_val:string, n_distinct_approx, hll_sketch:binary[, kll_sketch:binary].

    ``with_quantiles`` adds a mergeable KLL quantile sketch per NUMERIC
    column (Apache DataSketches, same family as the HLL sketches): binary
    state that round-trips through the stats manifest and rolls up
    table-wide via ``kll_merge_agg_double`` across resume boundaries — the
    quantile analogue of B15, giving resumable p50/p90/p99 without a global
    sort or a second fact scan. KLL is exact while a sketch has seen ≤ k
    values (no compaction yet) and carries the published ~1.65%/k=200 rank
    error beyond; raise ``kll_k`` for tighter tails. Opt-in so existing
    stats-sink schemas are unchanged.

    Composition of ``partition_wide_agg`` + ``stats_long``; the engine calls
    those directly so the anomaly pass can share the same aggregation."""
    wide = partition_wide_agg(
        df.select(part_col, *columns), columns, part_col=part_col,
        with_sketches=with_sketches, with_quantiles=with_quantiles, kll_k=kll_k)
    return stats_long(wide, columns, numeric_columns(df, columns),
                      with_sketches=with_sketches, with_quantiles=with_quantiles)


def quantile_name(q: float) -> str:
    """The column name of quantile ``q`` in ``merge_quantiles`` output:
    q ×100, dots becoming underscores (0.5 → q50, 0.999 → q99_9)."""
    return "q" + f"{q * 100:g}".replace(".", "_")


def merge_quantiles(
    stats: DataFrame, quantiles: tuple[float, ...] = (0.5, 0.9, 0.99)
) -> DataFrame:
    """Roll partition-level KLL sketches up table-wide (resume-safe merge —
    the quantile analogue of ``merge_sketches``). Input must come from
    ``column_stats(..., with_quantiles=True)``; non-numeric columns (null
    sketches) are skipped. Output: column, then one column per quantile
    named by ``quantile_name`` (q50, q90, q99, ...).

    Past k values a KLL sketch compacts at random, so the estimate is not
    reproducible: on identical input it may be any value within the rank
    error (~0.0165 at k = 200) of the exact quantile, and a quantile
    verdict whose bound lies in that band may flip between runs."""
    merged = (
        stats.where(F.col("kll_sketch").isNotNull())
        .groupBy("column")
        .agg(F.kll_merge_agg_double("kll_sketch").alias("_m"))
    )
    return merged.select(
        "column",
        *[F.kll_sketch_get_quantile_double("_m", F.lit(q)).alias(quantile_name(q))
          for q in quantiles],
    )


def merge_sketches(stats: DataFrame) -> DataFrame:
    """Roll partition-level HLL sketches up table-wide (resume-safe union)."""
    return stats.groupBy("column").agg(
        F.sum("n_rows").alias("n_rows"),
        F.sum("n_nulls").alias("n_nulls"),
        F.hll_sketch_estimate(F.hll_union_agg("hll_sketch")).alias("n_distinct_merged"),
    )


def verdicts_from_violations(
    violations: DataFrame,
    groups: list[tuple[DataFrame, list[tuple[str, str, str, str]]]],
) -> DataFrame:
    """B18: THE verdict grid — fold every violation stream into one dense
    per-(partition, check) verdict matrix; parts×checks with zero
    violations appear as passed=true. The one place the engine zero-fills
    verdict rows: one count aggregation and one join for all checks.

    ``violations``: exact-count rows (part_id, pass_id, keyword, path); a
    row counts toward the check of the same pass_id, keyword and path (pass
    streams before top-k bounding). ``pass_id`` in the key keeps a row
    check apart from a table check of the same keyword and path.
    ``groups``: (parts, checks) pairs — each check (pass_id, check_id,
    keyword, path) is judged on every partition of ``parts`` (a DataFrame
    with a single, distinct ``part_id`` column).

    Output: part_id, check_id, keyword, path, passed, n_violations, pass_id.
    """
    key = ["part_id", "pass_id", "keyword", "path"]
    grids = []
    for parts, checks in groups:
        entries = [F.struct(F.lit(pid).alias("pass_id"), F.lit(cid).alias("check_id"),
                            F.lit(kw).alias("keyword"), F.lit(path).alias("path"))
                   for pid, cid, kw, path in checks]
        # parts × checks as a literal array per part: metadata-scale, no
        # join, no fact-table data (the cast types an empty check list)
        grids.append(parts.select("part_id", F.explode(F.array(*entries).cast(
            "array<struct<pass_id:string,check_id:string,keyword:string,path:string>>"))
            .alias("c")).select("part_id", "c.*"))
    counts = violations.groupBy(*key).agg(F.count(F.lit(1)).alias("n_violations"))
    return (
        reduce(DataFrame.unionByName, grids).join(counts, key, "left")
        .withColumn("n_violations", F.coalesce(F.col("n_violations"), F.lit(0)))
        .withColumn("passed", F.col("n_violations") == 0)
        .select("part_id", "check_id", "keyword", "path", "passed", "n_violations",
                "pass_id")
    )
