"""Tests of the ``x-table-checks`` block: ``spec.parse`` checks and
resolves it through one reader (``spec._read_table_checks``), lint reports
that reader's problems, and ``validate_table`` judges the parsed checks
(the quantile, distinct and null-rate families, references and drift).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from jsonschema_spark import fixtures as FX
from jsonschema_spark.engine import validate_table
from jsonschema_spark.lint import lint_spec
from jsonschema_spark.passes.drift import baseline_profile
from jsonschema_spark.spec import DriftColumn, SpecError, parse, table_check_problems


# ------------------------------------------------------- the one checker

LINT_SPEC = {
    "properties": {"w": {}, "fmt": {}},
    "x-table-checks": {
        "quantiles": [
            {"column": "w", "q": 1.5, "max": 10},      # q out of range
            {"column": "nope", "q": 0.5, "min": 0},    # undeclared column
            {"column": "w", "q": 0.5},                 # no bound
            {"column": "w", "q": 0.9, "min": 10, "max": 5},  # inverted
        ],
        "distinct": [{"column": "fmt", "min": 5, "max": 2}],
        "null-rates": [{"column": "w", "max_rate": 1.5}],
        "references": [{"column": "fmt"}],             # missing dim/key
    },
}


def test_lint_x_table_checks():
    findings = lint_spec(LINT_SPEC)
    msgs = {(sev, p) for sev, p, _ in findings}
    assert ("error", "/x-table-checks/quantiles/0") in msgs
    assert ("error", "/x-table-checks/quantiles/1") in msgs
    assert ("error", "/x-table-checks/quantiles/2") in msgs
    assert ("error", "/x-table-checks/quantiles/3") in msgs
    assert ("error", "/x-table-checks/distinct/0") in msgs
    assert ("error", "/x-table-checks/null-rates/0") in msgs
    assert ("error", "/x-table-checks/references/0") in msgs


def test_lint_and_checker_report_the_same_problems():
    """Lint's x-table-checks findings are the checker's problems, each an
    error; parse raises on all of them but the inverted bounds."""
    problems = table_check_problems(LINT_SPEC)
    lint = {(sev, p) for sev, p, _ in lint_spec(LINT_SPEC)
            if p.startswith("/x-table-checks")}
    assert lint == {("error", p) for p, _ in problems}
    assert {p for p, _ in problems} == {
        "/x-table-checks/quantiles/0", "/x-table-checks/quantiles/1",
        "/x-table-checks/quantiles/2", "/x-table-checks/quantiles/3",
        "/x-table-checks/distinct/0", "/x-table-checks/null-rates/0",
        "/x-table-checks/references/0"}
    with pytest.raises(SpecError) as e:
        parse(LINT_SPEC)
    raised = str(e.value)
    for p in ("quantiles/0", "quantiles/1", "quantiles/2", "null-rates/0",
              "references/0"):
        assert f"/x-table-checks/{p}:" in raised
    assert "quantiles/3" not in raised and "distinct/0" not in raised
    # inverted bounds and z_max <= 0 are lint-only: --force-lint runs them
    tc = parse({"properties": {"w": {}}, "x-table-checks": {
        "quantiles": [{"column": "w", "q": 0.9, "min": 10, "max": 5}],
        "distinct": [{"column": "w", "min": 5, "max": 2}],
        "anomaly": {"columns": ["w"], "z_max": 0}}}).table_checks
    assert len(tc.quantiles) == len(tc.distinct) == 1 and tc.anomaly["z_max"] == 0


def test_flat_unique_list_is_rejected():
    """A flat list of names is not a list of keys: each string used to be
    split into one-character column names."""
    with pytest.raises(SpecError, match="unique/0"):
        parse({"x-table-checks": {"unique": ["image_id"]}})
    assert parse({"x-table-checks": {"unique": [["image_id"], ["a", "b"]]}}
                 ).table_checks.unique == (("image_id",), ("a", "b"))


def test_reference_without_key_is_a_spec_error(spark):
    df = spark.createDataFrame([(0, "img-0", "png")], "part_id int, image_id string, fmt string")
    with pytest.raises(SpecError, match="missing 'key'"):
        validate_table(df, {"properties": {"fmt": {}}, "x-table-checks": {
            "references": [{"column": "fmt", "dim": "dim_fmt"}]}},
            dims={"dim_fmt": FX.dim_fmt_df(spark)})


def test_unknown_join_strategy_is_rejected(spark):
    """A P3 strategy outside broadcast/shuffle_hash/merge is a spec error
    at its own pointer; it used to become a sort-merge join silently."""
    from jsonschema_spark.passes.referential import orphan_rows
    from jsonschema_spark.spec import JOIN_STRATEGIES

    def spec(strategy):
        return {"properties": {"fmt": {}}, "x-table-checks": {"references": [
            {"column": "fmt", "dim": "dim_fmt", "key": "fmt", "strategy": strategy}]}}

    assert table_check_problems(spec("shuffle")) == [(
        "/x-table-checks/references/0/strategy",
        "unknown join strategy 'shuffle', not one of "
        "('broadcast', 'shuffle_hash', 'merge')")]
    with pytest.raises(SpecError, match="/x-table-checks/references/0/strategy:"):
        parse(spec("shuffle"))
    for strategy in JOIN_STRATEGIES:
        assert parse(spec(strategy)).table_checks.references[0]["strategy"] == strategy
    df = spark.createDataFrame([("png",)], "fmt string")
    with pytest.raises(ValueError, match="unknown join strategy 'shuffle'"):
        orphan_rows(df, FX.dim_fmt_df(spark), "fmt", "fmt", strategy="shuffle")


def test_drift_columns_resolve_at_parse():
    """Bare-string entries take their grid from the root property; one
    without a derivable range is a parse error, not a degenerate histogram."""
    tc = parse({"properties": {"v": {"type": "integer", "minimum": 1, "maximum": 9},
                               "s": {"type": "string"}},
                "x-table-checks": {"drift": {"columns": [
                    "v", "s", {"expr": "length(s)", "hi": 64, "buckets": 8}]}}}
               ).table_checks
    assert tc.drift_columns == (
        DriftColumn("v", "v", "numeric", 1.0, 9.0, 32),
        DriftColumn("s", "s", "categorical"),
        DriftColumn("length_s", "length(s)", "numeric", 0.0, 64.0, 8))
    with pytest.raises(SpecError, match="no derivable numeric range"):
        parse({"properties": {"v": {"type": "integer"}},
               "x-table-checks": {"drift": {"columns": ["v"]}}})
    assert FX.drift_columns() == list(parse(FX.SPEC_IMAGES).table_checks.drift_columns)


def test_stats_check_on_column_named_in_allof_or_required(spark):
    """A stats column counts as named where compile_table can put it in
    the fused scan: an allOf branch's properties or the root's required
    list. Lint passes such a spec and validate_table judges it."""
    spec = {"properties": {"w": {}},
            "allOf": [{"properties": {"v": {"minimum": 0}}}],
            "required": ["u"],
            "x-table-checks": {
                "null-rates": [{"column": "v", "max_rate": 0.2}],
                "quantiles": [{"column": "u", "q": 0.5, "max": 1000}]}}
    assert [f for f in lint_spec(spec) if f[0] == "error"] == []
    df = spark.range(40).select(
        F.concat(F.lit("img-"), F.col("id")).alias("image_id"),
        (F.col("id") % 2).cast("int").alias("part_id"),
        F.col("id").alias("w"),
        F.when(F.col("id") % 4 == 0, None).otherwise(F.col("id")).alias("v"),
        F.col("id").alias("u"))
    res = validate_table(df, spec)
    got = {(r["check_id"], r["part_id"]): r["passed"] for r in res.verdicts.where(
        F.col("pass_id").isin("null_rate", "quantiles")).collect()}
    res.cleanup()
    assert got[("null-rate@/v", None)] is False          # 10 of 40 null
    assert got[("null-rate@/v", 1)] is True              # nulls are even ids
    assert got[("quantile@/u@q0.5", None)] is True


def test_drift_runs_from_the_spec_alone(spark):
    """A drift spec and a baseline are enough: validate_table reads the
    drift columns from the spec, and passing FX.drift_columns() (equal to
    them) changes nothing; different columns are refused."""
    cfg = FX.FixtureConfig(n=400, n_parts=4, with_bytes=False)
    fact = FX.generate_images_df(spark, cfg)
    clean = FX.generate_images_df(spark, FX.FixtureConfig(
        n=400, n_parts=4, plants=False, with_bytes=False, drift_part=-1))
    kw = dict(dims={"dim_fmt": FX.dim_fmt_df(spark),
                    "dim_license": FX.dim_license_df(spark, cfg)},
              baseline=baseline_profile(clean, FX.drift_columns()))

    def drift(**extra):
        res = validate_table(fact, FX.SPEC_IMAGES, **kw, **extra)
        rows = {tuple(r) for r in res.verdicts.where(F.col("pass_id") == "drift")
                .select("part_id", "check_id", "passed").collect()}
        res.cleanup()
        return rows

    from_spec = drift()
    assert len(from_spec) == 4 * len(FX.drift_columns())
    assert from_spec == drift(drift_columns=FX.drift_columns())
    with pytest.raises(ValueError, match="drift_columns"):
        validate_table(fact, FX.SPEC_IMAGES, **kw, drift_columns=FX.drift_columns()[:1])


# ------------------------------------------- stats-check family verdicts


def test_quantile_bound_checks_verdicts(spark):
    """x-table-checks/quantiles: spec'd quantile bounds judged against the
    merged table-wide KLL sketch; verdicts join the main stream as
    table-wide rows (part_id null, pass_id 'quantiles'); non-spec'd columns
    fail fast."""
    df = spark.range(1000).select(
        F.concat(F.lit("img-"), F.col("id")).alias("image_id"),
        (F.col("id") % 4).alias("part_id"),
        F.col("id").cast("long").alias("w"))
    spec = {"properties": {"w": {"minimum": 0}},
            "x-table-checks": {"quantiles": [
                {"column": "w", "q": 0.99, "max": 995},
                {"column": "w", "q": 0.5, "min": 600}]}}
    res = validate_table(df, spec, kll_k=4096)
    qv = {(r["q"], r["passed"], r["value"]) for r in res.quantile_verdicts.collect()}
    assert (0.99, True, 989.0) in qv and (0.5, False, 499.0) in qv
    v = res.verdicts.where(F.col("pass_id") == "quantiles").collect()
    assert len(v) == 2 and all(r["part_id"] is None for r in v)
    assert {r["check_id"] for r in v} == {"quantile@/w@q0.99", "quantile@/w@q0.5"}

    with pytest.raises(ValueError, match="zz"):
        validate_table(df, {"properties": {"w": {}}, "x-table-checks": {
            "quantiles": [{"column": "zz", "q": 0.5, "max": 1}]}})

    with pytest.raises(SpecError):
        parse({"x-table-checks": {"quantiles": [{"column": "w", "q": 1.5, "max": 1}]}})
    with pytest.raises(SpecError):
        parse({"x-table-checks": {"quantiles": [{"column": "w", "q": 0.5}]}})


def test_distinct_and_nullrate_checks_verdicts(spark):
    """x-table-checks/distinct (merged HLL) and /null-rates (per-partition +
    table-wide off the stats rows, n_violations = null count)."""
    df = spark.range(1000).select(
        F.concat(F.lit("img-"), F.col("id")).alias("image_id"),
        (F.col("id") % 4).alias("part_id"),
        F.when(F.col("id") % 10 == 0, None).otherwise(F.col("id") % 7).alias("v"),
        (F.col("id") % 3).cast("string").alias("fmt"))
    spec = {"properties": {"v": {}, "fmt": {}},
            "x-table-checks": {
                "distinct": [{"column": "fmt", "min": 2, "max": 10},
                             {"column": "v", "min": 100}],
                "null-rates": [{"column": "v", "max_rate": 0.05},
                               {"column": "fmt", "max_rate": 0.0}]}}
    res = validate_table(df, spec)
    d = {(r["pass_id"], r["check_id"], r["part_id"]): (r["passed"], r["n_violations"])
         for r in res.verdicts.where(
             F.col("pass_id").isin("distinct", "null_rate")).collect()}
    assert d[("distinct", "distinct@/fmt", None)][0] is True
    assert d[("distinct", "distinct@/v", None)][0] is False   # 7 < 100
    assert d[("null_rate", "null-rate@/v", None)] == (False, 100)
    assert d[("null_rate", "null-rate@/fmt", None)] == (True, 0)
    # nulls land only in even partitions (id%10==0 => id even)
    assert d[("null_rate", "null-rate@/v", 0)] == (False, 50)
    assert d[("null_rate", "null-rate@/v", 1)] == (True, 0)

    with pytest.raises(ValueError, match="zz"):
        validate_table(df, {"properties": {"v": {}}, "x-table-checks": {
            "distinct": [{"column": "zz", "min": 1}]}})
    with pytest.raises(SpecError):
        parse({"x-table-checks": {"distinct": [{"column": "v"}]}})
    with pytest.raises(SpecError):
        parse({"x-table-checks": {"null-rates": [{"column": "v", "max_rate": 2}]}})


def test_table_wide_check_paths_are_escaped_pointer_tokens(spark):
    """A column ``a/b`` is the one path segment ``a~1b`` in every check that
    names it, table-wide ones included, as in the row checks: its null-rate
    verdict and its ``minimum`` verdict share the path ``/a~1b``."""
    from jsonschema_spark.passes.anomaly import anomaly_verdicts
    from jsonschema_spark.passes.drift import drift_verdicts

    df = spark.createDataFrame(
        [("img-0", 0, 1), ("img-1", 0, 1), ("img-2", 1, None)],
        "image_id string, part_id int, `a/b` int")
    dim = spark.createDataFrame([(1,)], "k int")
    spec = {"properties": {"a/b": {"minimum": 5}},
            "x-table-checks": {
                "unique": [["a/b"]],
                "references": [{"column": "a/b", "dim": "d", "key": "k"}],
                "quantiles": [{"column": "a/b", "q": 0.5, "max": 0}],
                "distinct": [{"column": "a/b", "min": 5}],
                "null-rates": [{"column": "a/b", "max_rate": 0.0}]}}
    res = validate_table(df, spec, dims={"d": dim})
    got = {(r["check_id"], r["path"])
           for r in res.verdicts.select("check_id", "path").collect()}
    res.cleanup()
    assert got == {("minimum@/a~1b", "/a~1b"), ("uniqueItems@/a~1b", "/a~1b"),
                   ("references@/a~1b->d.k", "/a~1b->d.k"),
                   ("quantile@/a~1b@q0.5", "/a~1b"), ("distinct@/a~1b", "/a~1b"),
                   ("null-rate@/a~1b", "/a~1b")}

    drift = spark.createDataFrame([(0, "a/b~", 0.0, 1.0)],
                                  "part_id int, col string, ks_p double, psi double")
    assert [tuple(r) for r in drift_verdicts(drift).select("check_id", "path").collect()] \
        == [("drift@/a~1b~0", "/a~1b~0")]
    flags = spark.createDataFrame([(0, "a/b", "mean", True)],
                                  "part_id int, column string, metric string, is_anomaly boolean")
    assert [tuple(r) for r in anomaly_verdicts(flags).select("check_id", "path").collect()] \
        == [("anomaly@/a~1b:mean", "/a~1b")]


def test_quantile_check_on_non_numeric_column_rejected(spark):
    """ADVICE r3 low: a quantile bound on a string column must be a config
    error, not a silently-failing data verdict."""
    df = spark.createDataFrame([(1, "a")], "id int, s string")
    spec = {"properties": {"s": {}},
            "x-table-checks": {"quantiles": [{"column": "s", "q": 0.5, "min": 0}]}}
    with pytest.raises(ValueError, match="non-numeric"):
        validate_table(df, spec, key_col="id", part_col="s")
