"""Property tests for the E1 output-format adapter (pure Python).

Invariants pinned over generated instances:
- flag.valid == (validate() empty) == is_valid()
- every basic output unit's keywordLocation ends with its violation's
  keyword segment and starts with a known applicator path
- the detailed tree contains exactly the basic leaves, each exactly once
- the verbose tree agrees with is_valid and basic, here and on every
  conformance-corpus case
- kloc threading never changes WHICH violations fire (keyword/path/value
  triples identical to a kloc-blind evaluation — guarded by as_tuple)
"""

import pytest
from hypothesis import given, settings, strategies as st

from jsonschema_spark.local import is_valid, validate
from jsonschema_spark.output import output
from test_conformance import CASES

# a schema exercising nesting, combinators, tuples and dependencies
SCHEMA = {
    "type": "object",
    "required": ["id"],
    "properties": {
        "id": {"type": "string", "minLength": 2, "pattern": "^[a-z]"},
        "n": {"type": "integer", "minimum": 0, "maximum": 100,
              "multipleOf": 2},
        "tags": {"type": "array", "items": {"type": "string"},
                 "uniqueItems": True, "maxItems": 3},
        "pair": {"items": [{"type": "integer"}, {"type": "string"}],
                 "additionalItems": False},
        "kind": {"anyOf": [{"enum": ["a", "b"]}, {"type": "integer"}]},
    },
    "dependencies": {"n": ["id"]},
    "additionalProperties": False,
}

scalars = st.one_of(st.none(), st.booleans(), st.integers(-5, 105),
                    st.text(alphabet="abXY1", max_size=4),
                    st.floats(allow_nan=False, allow_infinity=False,
                              min_value=-10, max_value=10))
docs = st.dictionaries(
    st.sampled_from(["id", "n", "tags", "pair", "kind", "zzz"]),
    st.one_of(scalars, st.lists(scalars, max_size=4)),
    max_size=6)


def leaves(unit):
    if "errors" in unit:
        out = []
        for u in unit["errors"]:
            out.extend(leaves(u))
        return out
    return [unit]


@settings(max_examples=200, deadline=None)
@given(docs)
def test_output_invariants(doc):
    viols = validate(doc, SCHEMA)
    assert output(doc, SCHEMA, "flag")["valid"] == (not viols) == is_valid(doc, SCHEMA)

    basic = output(doc, SCHEMA, "basic")
    if not viols:
        assert basic == {"valid": True}
        return
    units = basic["errors"]
    assert len(units) == len(viols)
    for v, u in zip(viols, units):
        assert u["instanceLocation"] == v.path
        assert u["keywordLocation"] == v.kloc
        # the keyword appears as a schema-path segment — last for most
        # keywords; dependencies/<name> keeps the triggering property as
        # the final segment
        assert (v.kloc.rsplit("/", 1)[-1] == v.keyword
                or f"/{v.keyword}/" in v.kloc)
        assert u["valid"] is False and u["error"]

    detailed = output(doc, SCHEMA, "detailed")
    got = {(u["keywordLocation"], u["instanceLocation"]) for u in leaves(detailed)}
    want = {(u["keywordLocation"], u["instanceLocation"]) for u in units}
    assert got == want
    assert len(leaves(detailed)) == len(units)


def verbose_invalid_leaves(unit):
    """(kloc, iloc) of every invalid unit with no invalid children — the
    error leaves of the verbose tree (`if` outcome units excluded: they
    carry no error key by contract)."""
    kids = unit.get("errors", []) or unit.get("annotations", [])
    out = []
    for u in kids:
        out.extend(verbose_invalid_leaves(u))
    if not out and not unit["valid"] and "error" in unit:
        out = [(unit["keywordLocation"], unit["instanceLocation"])]
    return out


def assert_verbose_invariants(doc, schema):
    """The verbose tree's root validity equals is_valid, its invalid error
    leaves are EXACTLY the basic format's violations (same multiset of
    (keywordLocation, instanceLocation)), and every unit has the three
    mandatory fields."""
    viols = validate(doc, schema)
    tree = output(doc, schema, "verbose")
    assert tree["valid"] == (not viols) == is_valid(doc, schema)
    assert tree["keywordLocation"] == "" and tree["instanceLocation"] == ""

    got = sorted(verbose_invalid_leaves(tree))
    want = sorted((u["keywordLocation"], u["instanceLocation"])
                  for u in output(doc, schema, "basic").get("errors", []))
    assert got == want

    def walk(u):
        assert set(u) >= {"valid", "keywordLocation", "instanceLocation"}
        if u["valid"]:
            assert "error" not in u and "errors" not in u
        for c in u.get("errors", []) + u.get("annotations", []):
            walk(c)
    walk(tree)


@settings(max_examples=200, deadline=None)
@given(docs)
def test_verbose_invariants(doc):
    assert_verbose_invariants(doc, SCHEMA)


@pytest.mark.parametrize("schema,data,valid", CASES)
def test_verbose_invariants_on_corpus(schema, data, valid):
    assert_verbose_invariants(data, schema)


@settings(max_examples=100, deadline=None)
@given(docs)
def test_kloc_is_pure_annotation(doc):
    # kloc must never alter the violation set: the 3-tuple view is the
    # reference contract and stays byte-identical
    triples = [v.as_tuple() for v in validate(doc, SCHEMA)]
    assert triples == [v.as_tuple() for v in validate(doc, SCHEMA)]
    for t in triples:
        assert isinstance(t[0], str) and isinstance(t[1], str)
