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
  round-trip through the stats sink and roll up table-wide via
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


# The per-partition state table (the stats sink): one row per (partition,
# key), a key being a spec'd column or a P6 anomaly expression; a field a
# key does not carry is NULL. Every field merges across partitions.
# n_numeric/sum_numeric: count and sum of the key's non-null double values.
_STATE_FIELDS = (
    ("n_rows", "long"), ("n_nulls", "long"), ("min_val", "string"),
    ("max_val", "string"), ("n_distinct_approx", "long"),
    ("hll_sketch", "binary"), ("kll_sketch", "binary"),
    ("n_numeric", "long"), ("sum_numeric", "double"),
)
STATS_SCHEMA = "column string, " + ", ".join(f"{n} {t}" for n, t in _STATE_FIELDS)


def _state_keys(columns: list[str], anomaly_exprs: tuple[str, ...]) -> list[str]:
    return list(dict.fromkeys([*columns, *anomaly_exprs]))


def partition_wide_agg(
    df: DataFrame,
    columns: list[str],
    part_col: str = "part_id",
    with_sketches: bool = True,
    with_quantiles: bool = False,
    kll_k: int = 200,
    anomaly_exprs: tuple[str, ...] = (),
) -> DataFrame:
    """THE per-partition aggregation: one ``groupBy(part)`` hash agg of the
    state of every key (each column, and each ``anomaly_exprs`` entry — a
    column or any SQL expression). The stats sink, the quantile/distinct/
    null-rate checks and P6 all derive from it, so the fact table is
    aggregated once for all of them (un-fused, 32M rows ran three ~300-600
    task-second ObjectHashAggregate stages per suite).

    Output: one row per partition, ``n_rows`` plus ``__{i}_{field}`` for
    key i; ``stats_long`` projects the state rows."""
    aggs: list[Column] = [F.count(F.lit(1)).alias("n_rows")]
    numeric = numeric_columns(df, columns)
    for i, c in enumerate(_state_keys(columns, anomaly_exprs)):
        p = f"__{i}_"
        col = F.col(c) if c in columns else F.expr(c)
        aggs.append(F.sum(col.isNull().cast("long")).alias(p + "n_nulls"))
        if c in columns:
            aggs.append(F.min(col).cast("string").alias(p + "min_val"))
            aggs.append(F.max(col).cast("string").alias(p + "max_val"))
            aggs.append(F.approx_count_distinct(col).alias(p + "n_distinct_approx"))
            if with_sketches:
                # hll_sketch_agg natively supports int/long/string/binary —
                # pass those through unchanged (a cast("string") on an int
                # column allocates a UTF8String per CELL: measured GC churn
                # at 32 cores); only unsupported types (double, date, ...)
                # cast.
                dt = df.schema[c].dataType.typeName()
                sk = col if dt in ("integer", "long", "string") else col.cast("string")
                aggs.append(F.hll_sketch_agg(sk).alias(p + "hll_sketch"))
            if with_quantiles and c in numeric:
                aggs.append(
                    F.kll_sketch_agg_double(col.cast("double"), F.lit(kll_k))
                    .alias(p + "kll_sketch"))
        if c in anomaly_exprs:
            v = col.cast("double")
            aggs.append(F.count(v).alias(p + "n_numeric"))
            aggs.append(F.sum(v).alias(p + "sum_numeric"))
    # no pre-select: anomaly expressions may reference any input column;
    # Catalyst column-prunes the scan to exactly the referenced set (the
    # single-HashAggregate plan assert pins this)
    return df.groupBy(F.col(part_col).alias("part_id")).agg(*aggs)


def stats_long(
    wide: DataFrame, columns: list[str], anomaly_exprs: tuple[str, ...] = ()
) -> DataFrame:
    """Project ``partition_wide_agg`` output to the state rows: part_id
    then ``STATS_SCHEMA``, one row per (partition, key). A partition with
    no keys still gets one row (``column`` NULL) carrying its ``n_rows``."""
    have = set(wide.columns)

    def field(i: int, name: str, typ: str) -> Column:
        src = "n_rows" if name == "n_rows" else f"__{i}_{name}"
        return (F.col(src) if src in have else F.lit(None).cast(typ)).alias(name)

    entries = [
        F.struct(F.lit(c).cast("string").alias("column"),
                 *[field(i, n, t) for n, t in _STATE_FIELDS])
        for i, c in enumerate(_state_keys(columns, anomaly_exprs) or [None])
    ]
    return wide.select("part_id", F.explode(F.array(*entries)).alias("s")).select(
        "part_id", "s.*")


def column_stats(
    df: DataFrame,
    columns: list[str],
    part_col: str = "part_id",
    with_sketches: bool = True,
    with_quantiles: bool = False,
    kll_k: int = 200,
) -> DataFrame:
    """Fused per-partition stats for all spec'd columns in ONE aggregation:
    the state rows (part_id, then ``STATS_SCHEMA``; the anomaly fields
    NULL).

    ``with_quantiles`` adds a mergeable KLL quantile sketch per NUMERIC
    column, rolled up table-wide by ``merge_quantiles`` across resume
    boundaries (B42, the quantile analogue of B15). KLL is exact while a
    sketch has seen ≤ k values and carries ~1.65% rank error at k=200
    beyond; raise ``kll_k`` for tighter tails."""
    wide = partition_wide_agg(
        df.select(part_col, *columns), columns, part_col=part_col,
        with_sketches=with_sketches, with_quantiles=with_quantiles, kll_k=kll_k)
    return stats_long(wide, columns)


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
    """Roll partition-level HLL sketches up table-wide (resume-safe union);
    rows without a sketch are skipped. ``hll_union_agg``'s estimate depends
    on merge order (8 sketches in ascending and descending order: 787,
    806); its union with itself is estimated from the registers alone
    (794 for both), so a resume reads what a fresh run reads."""
    merged = F.hll_union_agg("hll_sketch")
    return stats.where(F.col("hll_sketch").isNotNull()).groupBy("column").agg(
        F.sum("n_rows").alias("n_rows"),
        F.sum("n_nulls").alias("n_nulls"),
        F.hll_sketch_estimate(F.hll_union(merged, merged)).alias("n_distinct_merged"),
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
