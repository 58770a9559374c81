"""E1 ↔ E2 differential testing (SURVEY.md §5.1/§5.4).

The same conformance corpus that pins the local evaluator's semantics is
replayed through the Spark backend: each scalar/uniform-array case becomes a
one-row DataFrame with column ``v`` and spec ``{"properties": {"v": case
schema}}`` — both backends must agree on pass/fail. Plus a hypothesis
property test over random flat specs × random rows.

Documented, intentional divergences (skipped):
- ``data == None``: a NULL cell means "property absent" in the table model
  (only ``required`` fires), while E1 treats it as a JSON null instance.
- object instances: flat tables have no object-valued cells (struct columns
  are covered by the golden table tests).
- heterogeneous arrays: not representable as a Spark array type.

The table root is differential-tested too: a row is one object whose
properties are its columns, so every object keyword at the root of a table
spec must flag the same (row, keyword, path) set as E1 over the row dicts.
"""

from __future__ import annotations

import json
import os

import pytest

from jsonschema_spark.engine import validate_rows
from jsonschema_spark.local import is_valid, validate

HERE = os.path.dirname(os.path.abspath(__file__))
CORPUS = os.path.join(HERE, "conformance")


def _spark_type_for(data):
    if isinstance(data, bool):
        return "boolean"
    if isinstance(data, int):
        return "long"
    if isinstance(data, float):
        return "double"
    if isinstance(data, str):
        return "string"
    if isinstance(data, list):
        if not data:
            return "array<long>"
        inner = {_spark_type_for(x) for x in data}
        if len(inner) == 1 and None not in inner and not any(
            i is None or (i and i.startswith("array")) for i in inner
        ):
            return f"array<{inner.pop()}>"
        return None
    return None  # dict, None → skip


def load_runnable_cases():
    cases = []
    for draft in sorted(os.listdir(CORPUS)):
        ddir = os.path.join(CORPUS, draft)
        for fname in sorted(os.listdir(ddir)):
            with open(os.path.join(ddir, fname)) as f:
                groups = json.load(f)
            for g in groups:
                for t in g["tests"]:
                    st = _spark_type_for(t["data"])
                    if st is None:
                        continue
                    cid = f"{draft}/{fname}::{g['description']}::{t['description']}"
                    cases.append(
                        pytest.param(g["schema"], t["data"], t["valid"], st, id=cid)
                    )
    return cases


CASES = load_runnable_cases()


def test_runnable_corpus_is_substantial():
    assert len(CASES) >= 100


@pytest.mark.parametrize("schema,data,valid,stype", CASES)
def test_corpus_agreement(spark, schema, data, valid, stype):
    wrapped_schema = {"properties": {"v": schema}}
    e1 = is_valid({"v": data}, wrapped_schema)
    assert e1 == valid, "E1 disagrees with the corpus verdict"

    df = spark.createDataFrame([(1, data)], f"id long, v {stype}")
    viols = validate_rows(df, wrapped_schema, keys=["id"])
    e2 = viols.count() == 0
    assert e2 == e1, f"E2 (Spark) disagrees with E1: violations={viols.collect()}"


# ------------------------------------------------------------------ table root

ROOT_ROWS = [
    (1, 1, "ab", 5, (1, "q", 2)),
    (2, -3, None, None, (-1, None, None)),
    (3, None, "zzzz", 10, None),
    (4, 7, "b", None, (None, "long-string", 9)),
    (5, None, None, None, None),
    (6, 0, "abc", -1, (5, "", -4)),
    (7, 2, "ab", 3, (None, None, None)),
]
ROOT_DDL = "id long, a long, b string, c long, s struct<x_a: long, x_b: string, y: long>"

ROOT_SPECS = {
    "allOf": {"allOf": [{"properties": {"a": {"minimum": 0}}}, {"required": ["b"]}]},
    "anyOf": {"anyOf": [{"required": ["a"]},
                        {"properties": {"b": {"minLength": 3}}, "required": ["b"]}]},
    "oneOf": {"oneOf": [{"required": ["a"]}, {"required": ["c"]}]},
    "not": {"not": {"required": ["c"]}},
    "if_then_else": {"if": {"properties": {"a": {"minimum": 1}}, "required": ["a"]},
                     "then": {"required": ["b"]},
                     "else": {"properties": {"c": {"maximum": 5}}}},
    "dependencies_array": {"dependencies": {"a": ["b", "c"]}},
    "dependencies_schema": {"dependencies": {
        "b": {"properties": {"a": {"minimum": 0}}, "required": ["a"]}}},
    "minProperties": {"minProperties": 4},
    "maxProperties": {"maxProperties": 3},
    "propertyNames": {"propertyNames": {"pattern": "^(id|[abs])$"}},
    # a pattern also applies to a name that `properties` lists
    "patternProperties": {"properties": {"a": {"minimum": 0}},
                          "patternProperties": {"^[ab]$": {"type": "integer"},
                                                "^a$": {"maximum": 3}}},
    "unevaluatedProperties": {"properties": {"id": {}, "a": {}, "s": {}},
                              "anyOf": [{"properties": {"b": {"minLength": 3}}},
                                        {"properties": {"c": {"minimum": 0}}}],
                              "unevaluatedProperties": False},
    # draft-3 boolean `required`: a field the struct type lacks is absent
    "nested_d3_required": {"properties": {"s": {"properties": {
        "x_a": {"required": True}, "z": {"required": True}}}}},
    "nested_patternProperties": {"properties": {"s": {
        "patternProperties": {"^x_": {"type": "integer"}, "^y$": {"minimum": 0}}}}},
    # schema-form additionalProperties applies to every unmatched property
    "additionalProperties_schema": {"properties": {"id": {}, "a": {}},
                                    "additionalProperties": {"type": "integer"}},
    "nested_additionalProperties_schema": {"properties": {"s": {
        "properties": {"x_a": {}}, "additionalProperties": {"type": "integer"}}}},
    # schema-form unevaluatedProperties reports the subschema's own keywords,
    # on the properties no validated branch evaluates
    "unevaluatedProperties_schema": {
        "properties": {"id": {}, "s": {}},
        "anyOf": [{"properties": {"b": {"minLength": 3}}},
                  {"properties": {"c": {"minimum": 0}}}],
        "unevaluatedProperties": {"type": "string", "maxLength": 1}},
    "nested_unevaluatedProperties_schema": {"properties": {"s": {
        "properties": {"x_a": {}},
        "anyOf": [{"properties": {"y": {"minimum": 0}}}],
        "unevaluatedProperties": {"type": "integer", "maximum": 2}}}},
}


def _row_doc(row: dict) -> dict:
    """A table row as the JSON object E1 sees: a NULL column is an absent key."""
    return {k: _row_doc(v.asDict()) if hasattr(v, "asDict") else v
            for k, v in row.items() if v is not None}


@pytest.mark.parametrize("name", sorted(ROOT_SPECS))
def test_table_root_agreement(spark, name):
    spec = ROOT_SPECS[name]
    df = spark.createDataFrame(ROOT_ROWS, ROOT_DDL)
    e2 = {(r["id"], r["keyword"], r["path"])
          for r in validate_rows(df, spec, keys=["id"]).collect()}
    e1 = {(r["id"], v.keyword, v.path)
          for r in df.collect() for v in validate(_row_doc(r.asDict()), spec)}
    assert e1, f"{name}: no row violates the spec, so the case shows nothing"
    assert e2 == e1, f"{name}: E2 only {sorted(e2 - e1)}, E1 only {sorted(e1 - e2)}"


# --------------------------------------------------------------- property-based

try:
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    HAVE_HYPOTHESIS = True
except ImportError:  # pragma: no cover
    HAVE_HYPOTHESIS = False


if HAVE_HYPOTHESIS:
    prop_schema = st.fixed_dictionaries(
        {},
        optional={
            "minimum": st.integers(-20, 20),
            "maximum": st.integers(-20, 20),
            "multipleOf": st.sampled_from([1, 2, 3, 5]),
            "enum": st.lists(st.integers(-5, 5), min_size=1, max_size=4, unique=True),
        },
    )
    str_schema = st.fixed_dictionaries(
        {},
        optional={
            "minLength": st.integers(0, 5),
            "maxLength": st.integers(0, 8),
            "pattern": st.sampled_from(["^a", "b$", "ab", "^[ab]+$"]),
            "enum": st.lists(st.text("ab", max_size=4), min_size=1, max_size=4, unique=True),
        },
    )
    rows = st.lists(
        st.tuples(
            st.one_of(st.none(), st.integers(-25, 25)),
            st.one_of(st.none(), st.text("abc", max_size=6)),
        ),
        min_size=1,
        max_size=25,
    )

    @given(num=prop_schema, s=str_schema, data=rows, req=st.booleans())
    @settings(
        max_examples=12,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def test_random_spec_agreement(spark, num, s, data, req):
        schema = {"properties": {"n": num, "s": s}}
        if req:
            schema["required"] = ["n"]
        df = spark.createDataFrame(
            [(i, n, t) for i, (n, t) in enumerate(data)], "id long, n long, s string"
        )
        bad_ids = {
            r.id for r in validate_rows(df, schema, keys=["id"]).select("id").collect()
        }
        for i, (n, t) in enumerate(data):
            doc = {}
            if n is not None:
                doc["n"] = n
            if t is not None:
                doc["s"] = t
            assert is_valid(doc, schema) == (i not in bad_ids), (
                f"row {i} doc={doc} schema={schema}: "
                f"E1={is_valid(doc, schema)} E2={'valid' if i not in bad_ids else 'invalid'}"
            )


if HAVE_HYPOTHESIS:
    # round-3 keywords: root conditional (if/then/else) and contains bounds —
    # same E1↔E2 agreement property over random flat specs × random rows
    @given(
        data=rows,
        ifmin=st.integers(-10, 10),
        thenlen=st.integers(0, 4),
        elsepat=st.sampled_from(["^a", "b$", "^[ab]+$"]),
    )
    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def test_random_conditional_agreement(spark, data, ifmin, thenlen, elsepat):
        schema = {
            "properties": {"n": {}, "s": {}},
            "if": {"properties": {"n": {"minimum": ifmin}}, "required": ["n"]},
            "then": {"properties": {"s": {"minLength": thenlen}}},
            "else": {"properties": {"s": {"pattern": elsepat}}},
        }
        df = spark.createDataFrame(
            [(i, n, t) for i, (n, t) in enumerate(data)], "id long, n long, s string"
        )
        bad_ids = {
            r.id for r in validate_rows(df, schema, keys=["id"]).select("id").collect()
        }
        for i, (n, t) in enumerate(data):
            doc = {}
            if n is not None:
                doc["n"] = n
            if t is not None:
                doc["s"] = t
            assert is_valid(doc, schema) == (i not in bad_ids), (
                f"row {i} doc={doc} schema={schema}")

    arr_rows = st.lists(
        st.one_of(st.none(),
                  st.lists(st.integers(-10, 10), min_size=0, max_size=6)),
        min_size=1, max_size=15,
    )

    @given(data=arr_rows, cmin=st.integers(-5, 5),
           mn=st.integers(0, 3), extra=st.integers(0, 3))
    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def test_random_contains_bounds_agreement(spark, data, cmin, mn, extra):
        schema = {"properties": {"xs": {
            "contains": {"minimum": cmin},
            "minContains": mn, "maxContains": mn + extra}}}
        df = spark.createDataFrame(
            [(i, xs) for i, xs in enumerate(data)], "id long, xs array<long>"
        )
        bad_ids = {
            r.id for r in validate_rows(df, schema, keys=["id"]).select("id").collect()
        }
        for i, xs in enumerate(data):
            doc = {} if xs is None else {"xs": xs}
            assert is_valid(doc, schema) == (i not in bad_ids), (
                f"row {i} doc={doc} schema={schema}")
