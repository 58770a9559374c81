"""Tests of ``compile_spark``: the E2 compiler from a SpecNode tree to Spark
Column predicates.

``compile_table`` compiles the table root with ``compile_node`` over one
struct of the row's columns. These tests pin what that struct must not
cost (a field access on it is the column itself, so analysis carries no
copy of the struct and the fused scan reads only what some check reads),
the column names it must survive, and the static table-shape checks that
stay in ``compile_table``.
"""

from __future__ import annotations

import re

import pytest


def test_if_then_else_flat_table(spark):
    """Root-level draft-7 conditional compiles against the row struct; its
    column set names only the columns the conditional references."""
    from jsonschema_spark.engine import validate_rows
    from jsonschema_spark.compile_spark import compile_table
    from jsonschema_spark import spec as specmod

    rows = [(1, "raw", 10, 20), (2, "raw", None, 20), (3, "png", 5000, 20), (4, "png", 50, 20)]
    df = spark.createDataFrame(rows, "id int, fmt string, w int, h int")
    spec = {"if": {"properties": {"fmt": {"const": "raw"}}, "required": ["fmt"]},
            "then": {"required": ["w", "h"]},
            "else": {"properties": {"w": {"maximum": 100}}}}
    got = sorted((r["id"], r["keyword"]) for r in validate_rows(df, spec, keys=["id"]).collect())
    assert got == [(2, "then"), (3, "else")]
    # pruning: the conditional must not drag unreferenced columns into the scan
    cts = compile_table(specmod.parse(spec), df.schema)
    assert "id" not in cts.columns

    # absent column referenced by a conditional fails fast at compile time
    from jsonschema_spark.compile_spark import CompileError
    bad = {"if": {"required": ["nope"]}, "then": {"required": ["w"]}}
    with pytest.raises(CompileError):
        compile_table(specmod.parse(bad), df.schema)


def test_if_then_else_json_payload(spark):
    """Conditional-only fields (named only in then.required / else.properties)
    must still materialize in the from_json struct."""
    from jsonschema_spark.engine import validate_json_rows

    spec = {"if": {"properties": {"fmt": {"const": "raw"}}, "required": ["fmt"]},
            "then": {"required": ["w", "h"]},
            "else": {"properties": {"w": {"maximum": 100}}}}
    rows = [(1, '{"fmt":"raw","w":1,"h":2}'), (2, '{"fmt":"raw","w":1}'),
            (3, '{"fmt":"png","w":500}'), (4, '{"fmt":"png","w":50}')]
    df = spark.createDataFrame(rows, "id int, payload string")
    got = sorted((r["id"], r["keyword"])
                 for r in validate_json_rows(df, "payload", spec, keys=["id"]).collect())
    assert got == [(2, "then"), (3, "else")]


def test_unevaluated_properties_root_static_check(spark):
    """Root-level unevaluatedProperties:false rejects at compile time a
    column that no branch names (names evaluated by ANY branch count)."""
    from jsonschema_spark.compile_spark import compile_table, CompileError
    from jsonschema_spark import spec as specmod

    schema = spark.createDataFrame([(1, "x", 2)], "a int, b string, c int").schema
    ok_spec = {"properties": {"a": {}},
               "anyOf": [{"properties": {"b": {}}}, {"properties": {"c": {}}}],
               "unevaluatedProperties": False}
    compile_table(specmod.parse(ok_spec), schema)  # no branch misses a column

    bad = {"properties": {"a": {}}, "unevaluatedProperties": False}
    with pytest.raises(CompileError, match="unevaluatedProperties"):
        compile_table(specmod.parse(bad), schema)


def test_row_struct_folds_to_columns(spark, tmp_path):
    """The row struct costs nothing at run time. Its field accesses fold
    back to columns in the optimized plan, and a root-level check's NULL
    value keeps the scan from reading columns no check reads: ``bytes``
    under a root if/then/else."""
    from jsonschema_spark import fixtures as FX
    from jsonschema_spark.compile_spark import compile_table
    from jsonschema_spark.spec import parse

    path = str(tmp_path / "images")
    FX.generate_images_df(spark, FX.FixtureConfig(n=64, n_parts=2, with_bytes=True)) \
        .write.parquet(path)
    fact = spark.read.parquet(path)

    compiled = compile_table(parse(FX.SPEC_IMAGES), fact.schema)
    qe = fact.select(compiled.violations_array().alias("v"))._jdf.queryExecution()
    plan = qe.optimizedPlan().toString()
    assert "named_struct" not in plan
    # the only struct left is the violation record (keyword, path, value),
    # already in the analyzed plan: a field access on the row is its column,
    # so no check carries a copy of the row struct through analysis
    for p in (plan, qe.analyzed().toString()):
        assert set(re.findall(r"struct\((\w+)", p)) == {"keyword"}

    cond = {"if": {"properties": {"fmt": {"const": "raw"}}, "required": ["fmt"]},
            "then": {"required": ["w", "h"]},
            "else": {"properties": {"w": {"maximum": 100}}}}
    compiled = compile_table(parse(cond), fact.schema)
    assert compiled.check_ids() == ["else@", "then@"]
    scan = fact.select(compiled.violations_array().alias("v")) \
        ._jdf.queryExecution().executedPlan().toString()
    read = re.search(r"ReadSchema: struct<([^>]*)>", scan).group(1)
    assert {c.split(":")[0] for c in read.split(",")} == {"fmt", "w", "h"}


def test_x_json_on_a_nested_struct_field(spark):
    """``x-json`` is dispatched wherever ``compile_node`` meets it, so a
    JSON-string field of a struct column is parsed like a root column; a
    non-string field still fails at compile time."""
    from jsonschema_spark.compile_spark import CompileError, compile_table
    from jsonschema_spark.engine import validate_rows
    from jsonschema_spark.spec import parse

    rows = [(1, ('{"k": 1}',)), (2, ("{}",)), (3, ("oops",)), (4, (None,)), (5, None)]
    df = spark.createDataFrame(rows, "id int, s struct<p: string>")
    spec = {"properties": {"s": {"properties": {"p": {
        "x-json": True, "type": "object", "required": ["k"]}}}}}
    got = sorted((r["id"], r["keyword"], r["path"])
                 for r in validate_rows(df, spec, keys=["id"]).collect())
    assert got == [(2, "required", "/s/p/k"), (3, "type", "/s/p")]

    bad = spark.createDataFrame([(1, (2,))], "id int, s struct<p: int>")
    with pytest.raises(CompileError, match="x-json column 'p'"):
        compile_table(parse(spec), bad.schema)


def test_unnamed_columns_with_awkward_names(spark):
    """A check names only the columns it reads, and the row quotes every
    column name. So a column with a dot or backtick in its name, or two
    that differ only in case, validate as long as no check names them
    ambiguously; and a root keyword that reads every column reads those
    names too."""
    from jsonschema_spark.engine import validate_rows

    df = spark.createDataFrame([(1, 2, 3, 4, 5), (-1, None, None, None, None)],
                               "id int, `a.b` int, `c``d` int, x int, X int")
    got = [(r["id"], r["keyword"], r["path"])
           for r in validate_rows(df, {"properties": {"id": {"minimum": 0}}},
                                  keys=["id"]).collect()]
    assert got == [(-1, "minimum", "/id")]

    wide = spark.createDataFrame([(1, 2, 3, 4), (-1, None, None, None)],
                                 "id int, `a.b` int, `c``d` int, x int")
    spec = {"maxProperties": 3, "propertyNames": {"pattern": "^[a-z]+$"}}
    got = sorted((r["id"], r["keyword"], r["path"], r["value"])
                 for r in validate_rows(wide, spec, keys=["id"]).collect())
    assert got == [(1, "maxProperties", "", None),
                   (1, "propertyNames", "/a.b", "a.b"),
                   (1, "propertyNames", "/c`d", "c`d")]


def test_root_level_value(spark):
    """A root-level check on the table row reports a NULL value (rendering
    the row would read every column); on a ``validate_json_rows`` document
    it reports the parsed document rendered as a string."""
    from jsonschema_spark.engine import validate_json_rows, validate_rows

    spec = {"properties": {"a": {}, "b": {}}, "maxProperties": 1}
    df = spark.createDataFrame([(1, 1, None), (2, 1, 2)], "id int, a int, b int")
    got = [(r["id"], r["keyword"], r["path"], r["value"])
           for r in validate_rows(df, {**spec, "maxProperties": 2},  # id counts
                                  keys=["id"]).collect()]
    assert got == [(2, "maxProperties", "", None)]

    docs = spark.createDataFrame([(1, '{"a":1}'), (2, '{"a":1,"b":2}')],
                                 "id int, payload string")
    got = [(r["id"], r["keyword"], r["path"], r["value"])
           for r in validate_json_rows(docs, "payload", spec, keys=["id"]).collect()]
    assert got == [(2, "maxProperties", "", "{1, 2}")]


def test_additional_properties_schema_on_a_map_column(spark):
    """On a map column, schema-form ``additionalProperties`` is one check at
    the map's path over the values of the keys that neither ``properties``
    nor ``patternProperties`` matches, as map ``patternProperties`` is."""
    from jsonschema_spark.engine import validate_rows

    df = spark.createDataFrame(
        [(1, {"a": 9, "x_1": 9, "b": 1}), (2, {"a": 9, "x_1": 9, "b": 5}), (3, None)],
        "id int, m map<string, int>")
    spec = {"properties": {"m": {"properties": {"a": {}},
                                 "patternProperties": {"^x_": {}},
                                 "additionalProperties": {"maximum": 3}}}}
    got = [(r["id"], r["keyword"], r["path"])
           for r in validate_rows(df, spec, keys=["id"]).collect()]
    assert got == [(2, "additionalProperties", "/m")]


def test_property_names_are_escaped_pointer_tokens(spark):
    """A column or field name is one JSON-Pointer segment (``~`` → ``~0``,
    ``/`` → ``~1``): column ``a/b`` and field ``b`` of struct column ``a``
    are two checks with two ids, and E2 reports the paths E1 reports, on a
    table and on a JSON payload."""
    import json

    from jsonschema_spark.compile_spark import compile_table
    from jsonschema_spark.engine import validate_json_rows, validate_rows
    from jsonschema_spark.local import validate
    from jsonschema_spark.spec import parse

    spec = {"properties": {"a/b": {"minimum": 5}, "a~": {"minimum": 5},
                           "a": {"properties": {"b": {"minimum": 5}}}}}
    doc = {"a/b": 1, "a~": 2, "a": {"b": 3}}
    want = sorted(v.path for v in validate(doc, spec))
    assert want == ["/a/b", "/a~0", "/a~1b"]

    df = spark.createDataFrame([(1, 1, 2, (3,))],
                               "id int, `a/b` int, `a~` int, a struct<b:int>")
    assert compile_table(parse(spec), df.schema).check_ids() == [
        "minimum@/a/b", "minimum@/a~0", "minimum@/a~1b"]
    got = sorted(r["path"] for r in validate_rows(df, spec, keys=["id"]).collect())
    assert got == want

    docs = spark.createDataFrame([(1, json.dumps(doc))], "id int, payload string")
    got = sorted(r["path"] for r in
                 validate_json_rows(docs, "payload", spec, keys=["id"]).collect())
    assert got == want
