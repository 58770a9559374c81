"""Spec suggestion: profile a table and draft the JSONSchema-style
constraint spec a user would then tighten by hand — the inverse direction
of the validation engine (observed data -> candidate spec), the standard
on-boarding path for putting an existing 10^12-row table under validation.

Scale shape: ONE fused hash aggregation over the requested columns (the
same map-side-combine shape as the stats pass — no shuffle of data rows,
one small row to the driver), plus one bounded ``collect_set`` per
low-cardinality column for enum candidates, guarded by an
``approx_count_distinct`` pre-check so the set is never collected for
high-cardinality columns. Driver-side work is metadata-scale (one row).

The profile -> suggestion rules are deterministic (engine-portable, so the
driver query has an exact DuckDB oracle twin):

- ``required``: observed null-rate is exactly 0
- numeric columns: observed [min, max] become ``minimum``/``maximum``
- string columns: observed length range becomes ``minLength``/``maxLength``
- ``enum``: exact sorted distinct values when the column's exact distinct
  count is <= ``enum_max``
- ``format``: a string column whose EVERY non-null value matches one of the
  menu formats (most-specific-first precedence: date-time, date, uuid,
  email, ipv4, uri) gets that ``format`` keyword suggested. The menu reuses
  the exact regexes the validation engine asserts (``formats.py``,
  restricted to the Java∩RE2 subset — no lookaheads), so the clean-round-
  trip property is preserved by construction: whatever matched during
  profiling validates during checking.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_NUMERIC = (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
            T.FloatType, T.DoubleType, T.DecimalType)

# format-suggestion menu: (format name, regex) in precedence order — the
# regexes are the validation engine's own (formats.py), restricted to the
# Java∩RE2-safe subset so DuckDB oracle twins can evaluate them verbatim
# (HOSTNAME_RE's lookahead is excluded). Shared source = the suggested spec
# validates clean against the very data it was profiled from.
from jsonschema_spark import formats as _FMT

SUGGEST_FORMATS: tuple[tuple[str, str], ...] = (
    ("date-time", _FMT.DATETIME_RE),
    ("date", _FMT.DATE_RE),
    ("uuid", _FMT.UUID_RE),
    ("email", _FMT.EMAIL_RE),
    ("ipv4", _FMT.IPV4_RE),
    ("uri", _FMT.URI_RE),
)

_JSON_TYPE = {
    "string": "string", "boolean": "boolean",
    "byte": "integer", "short": "integer", "integer": "integer", "long": "integer",
    "float": "number", "double": "number",
}


def _suggested_format(c: str, is_str: bool) -> Column:
    """First menu format (precedence order) every non-null value matched;
    null for non-string / all-null / no-uniform-match columns."""
    if not is_str:
        return F.lit(None).cast("string")
    non_null = F.col("__n") - F.col(f"{c}__nulls")
    out: Column = F.lit(None).cast("string")
    for i, (name, _) in reversed(list(enumerate(SUGGEST_FORMATS))):
        out = F.when((non_null > 0) & (F.col(f"{c}__fmt{i}") == non_null),
                     F.lit(name)).otherwise(out)
    return out


def profile_columns(
    df: DataFrame, columns: list[str] | None = None, enum_max: int = 16
) -> DataFrame:
    """The deterministic per-column profile the suggestion is built from.

    Output: column, json_type, n_rows, n_nulls, required, min_num, max_num,
    min_len, max_len, n_distinct, enum_vals (sorted array, null when the
    column is not enum-eligible). One fused aggregation; enum sets are
    gathered in the same pass via ``collect_set`` ONLY for columns whose
    ``approx_count_distinct`` pre-estimate is small (<= 2*enum_max guard
    band), and discarded post-hoc if the exact count exceeds ``enum_max``.
    """
    cols = columns or [
        f.name for f in df.schema.fields
        if isinstance(f.dataType, _NUMERIC + (T.StringType, T.BooleanType))
    ]
    # cheap pre-estimate in ONE tiny agg to decide which columns may collect
    est = df.agg(*[F.approx_count_distinct(c).alias(c) for c in cols]).collect()[0]
    maybe_enum = {c for c in cols if est[c] <= 2 * enum_max}

    aggs: list[Column] = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        col = F.col(c)
        dt = df.schema[c].dataType
        aggs.append(F.sum(col.isNull().cast("long")).alias(f"{c}__nulls"))
        aggs.append(F.count_distinct(col).alias(f"{c}__dist"))
        if isinstance(dt, _NUMERIC):
            aggs.append(F.min(col).cast("double").alias(f"{c}__min"))
            aggs.append(F.max(col).cast("double").alias(f"{c}__max"))
        if isinstance(dt, T.StringType):
            aggs.append(F.min(F.length(col)).alias(f"{c}__minlen"))
            aggs.append(F.max(F.length(col)).alias(f"{c}__maxlen"))
            for i, (_, rex) in enumerate(SUGGEST_FORMATS):
                aggs.append(F.sum(col.rlike(rex).cast("long"))
                            .alias(f"{c}__fmt{i}"))
        if c in maybe_enum:
            aggs.append(F.sort_array(F.collect_set(col.cast("string")))
                        .alias(f"{c}__enum"))
    wide = df.agg(*aggs)

    structs = []
    for c in cols:
        dt = df.schema[c].dataType
        is_num = isinstance(dt, _NUMERIC)
        is_str = isinstance(dt, T.StringType)
        dist = F.col(f"{c}__dist")
        enum_ok = (F.col(f"{c}__enum") if c in maybe_enum
                   else F.lit(None).cast("array<string>"))
        structs.append(F.struct(
            F.lit(c).alias("column"),
            F.lit(_JSON_TYPE.get(dt.typeName(), dt.typeName())).alias("json_type"),
            F.col("__n").alias("n_rows"),
            F.col(f"{c}__nulls").alias("n_nulls"),
            (F.col(f"{c}__nulls") == 0).alias("required"),
            (F.col(f"{c}__min") if is_num else F.lit(None).cast("double")).alias("min_num"),
            (F.col(f"{c}__max") if is_num else F.lit(None).cast("double")).alias("max_num"),
            (F.col(f"{c}__minlen") if is_str else F.lit(None).cast("int")).alias("min_len"),
            (F.col(f"{c}__maxlen") if is_str else F.lit(None).cast("int")).alias("max_len"),
            dist.alias("n_distinct"),
            F.when(dist <= enum_max, enum_ok)
             .otherwise(F.lit(None).cast("array<string>")).alias("enum_vals"),
            _suggested_format(c, is_str).alias("suggested_format"),
        ))
    return (
        wide.select(F.explode(F.array(*structs)).alias("s")).select("s.*")
    )


def suggest_spec(
    df: DataFrame, columns: list[str] | None = None, enum_max: int = 16
) -> dict[str, Any]:
    """Assemble the draft spec document from ``profile_columns``."""
    props: dict[str, Any] = {}
    required: list[str] = []
    for r in profile_columns(df, columns, enum_max).collect():
        p: dict[str, Any] = {"type": r["json_type"]}
        if r["min_num"] is not None:
            mn, mx = r["min_num"], r["max_num"]
            if r["json_type"] == "integer":
                mn, mx = int(mn), int(mx)
            p["minimum"], p["maximum"] = mn, mx
        if r["min_len"] is not None:
            p["minLength"], p["maxLength"] = r["min_len"], r["max_len"]
        if r["enum_vals"] is not None:
            vals: list[Any] = list(r["enum_vals"])
            if r["json_type"] == "integer":
                vals = [int(v) for v in vals]
            elif r["json_type"] == "number":
                vals = [float(v) for v in vals]
            p["enum"] = vals
        if r["suggested_format"] is not None:
            p["format"] = r["suggested_format"]
        props[r["column"]] = p
        if r["required"]:
            required.append(r["column"])
    out: dict[str, Any] = {"type": "object", "properties": props}
    if required:
        out["required"] = sorted(required)
    return out
