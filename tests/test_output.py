"""Standard output formats (draft-2019 §10) over the E1 evaluator.

Pure Python — no Spark fixture. Pins the keywordLocation threading in
local._eval (applicator segments, dynamic paths) and the flag/basic/
detailed structures in jsonschema_spark.output."""

import json

from jsonschema_spark import local
from jsonschema_spark.local import validate
from jsonschema_spark.output import output, output_json


def kloc_map(doc, schema):
    return {(v.keyword, v.path): v.kloc for v in validate(doc, schema)}


class TestKeywordLocation:
    def test_root_keyword(self):
        assert kloc_map(3, {"minimum": 5}) == {("minimum", ""): "/minimum"}

    def test_property_nesting(self):
        m = kloc_map({"a": {"b": "x"}},
                     {"properties": {"a": {"properties": {
                         "b": {"minLength": 3}}}}})
        assert m == {("minLength", "/a/b"):
                     "/properties/a/properties/b/minLength"}

    def test_items_and_tuple(self):
        m = kloc_map([1, "x"], {"items": {"type": "integer"}})
        assert m == {("type", "/1"): "/items/type"}
        m = kloc_map(["x"], {"items": [{"type": "integer"}]})
        assert m == {("type", "/0"): "/items/0/type"}

    def test_allof_indexed(self):
        m = kloc_map(3, {"allOf": [{"minimum": 10}, {"multipleOf": 2}]})
        assert m == {("minimum", ""): "/allOf/0/minimum",
                     ("multipleOf", ""): "/allOf/1/multipleOf"}

    def test_combinator_reported_at_its_own_location(self):
        m = kloc_map("x", {"properties": {}, "anyOf": [{"type": "integer"}]})
        assert m == {("anyOf", ""): "/anyOf"}

    def test_required_location(self):
        m = kloc_map({}, {"required": ["a"]})
        assert m == {("required", "/a"): "/required"}

    def test_additional_properties_location(self):
        m = kloc_map({"a": 1, "b": 2},
                     {"properties": {"a": {}}, "additionalProperties": False})
        assert m == {("additionalProperties", "/b"): "/additionalProperties"}

    def test_pattern_properties_location(self):
        m = kloc_map({"xa": "q"},
                     {"patternProperties": {"^x": {"type": "integer"}}})
        assert m == {("type", "/xa"): "/patternProperties/^x/type"}

    def test_dependencies_location_names_trigger(self):
        m = kloc_map({"a": 1},
                     {"dependencies": {"a": ["b"]}})
        assert m == {("dependencies", "/b"): "/dependencies/a"}

    def test_property_names_are_escaped_pointer_tokens(self):
        # "a/b" is ONE property: its segment is a~1b, distinct from the
        # nested /a/b; "~" escapes first, so "a~1b" itself stays distinct
        schema = {"properties": {"a/b": {"type": "string"},
                                 "a~1b": {"type": "string"},
                                 "a": {"properties": {"b": {"type": "string"}}}},
                  "patternProperties": {"^x/": {"type": "string"}},
                  "dependencies": {"d/e": ["f/g"]}}
        doc = {"a/b": 1, "a~1b": 1, "a": {"b": 2}, "x/y": 3, "d/e": 0}
        assert kloc_map(doc, schema) == {
            ("type", "/a~1b"): "/properties/a~1b/type",
            ("type", "/a~01b"): "/properties/a~01b/type",
            ("type", "/a/b"): "/properties/a/properties/b/type",
            ("type", "/x~1y"): "/patternProperties/^x~1/type",
            ("dependencies", "/f~1g"): "/dependencies/d~1e"}

    def test_default_kloc_empty_for_untracked_callers(self):
        # Violation's 3-field reference shape is intact: as_tuple and
        # equality by (keyword, path, value) still work for old callers.
        v = validate(3, {"minimum": 5})[0]
        assert v.as_tuple() == ("minimum", "", 3)


class TestOutputFormats:
    SCHEMA = {"properties": {"a": {"minimum": 5},
                             "b": {"properties": {"c": {"type": "string"}}}},
              "required": ["d"]}
    DOC = {"a": 1, "b": {"c": 2}}

    def test_flag(self):
        assert output(self.DOC, self.SCHEMA, "flag") == {"valid": False}
        assert output({"a": 9, "d": 0}, self.SCHEMA, "flag") == {"valid": True}

    def test_valid_instance_all_formats(self):
        for fmt in ("flag", "basic", "detailed"):
            assert output({"a": 9, "d": 0}, self.SCHEMA, fmt) == {"valid": True}

    def test_basic_units(self):
        out = output(self.DOC, self.SCHEMA, "basic")
        assert out["valid"] is False
        locs = {(u["keywordLocation"], u["instanceLocation"])
                for u in out["errors"]}
        assert locs == {("/properties/a/minimum", "/a"),
                        ("/properties/b/properties/c/type", "/b/c"),
                        ("/required", "/d")}
        assert all(u["valid"] is False and u["error"] for u in out["errors"])

    def test_single_error_detailed_is_the_leaf(self):
        out = output(3, {"minimum": 5}, "detailed")
        assert out == {"valid": False, "keywordLocation": "/minimum",
                       "instanceLocation": "",
                       "error": "value is less than the minimum"}

    def test_detailed_nests_under_common_prefix(self):
        schema = {"properties": {"a": {"allOf": [{"minimum": 10},
                                                 {"multipleOf": 7}]}}}
        out = output({"a": 3}, schema, "detailed")
        assert out["keywordLocation"] == "/properties/a/allOf"
        assert out["instanceLocation"] == "/a"
        kids = {u["keywordLocation"] for u in out["errors"]}
        assert kids == {"/properties/a/allOf/0/minimum",
                        "/properties/a/allOf/1/multipleOf"}

    def test_detailed_branch_point_at_root(self):
        out = output(self.DOC, self.SCHEMA, "detailed")
        assert out["keywordLocation"] == ""
        assert out["instanceLocation"] == ""
        # root branches into the /properties container (2 leaves) and the
        # /required leaf — single-child chains collapse, branch points stay
        assert len(out["errors"]) == 2
        props = next(u for u in out["errors"]
                     if u["keywordLocation"] == "/properties")
        assert {x["keywordLocation"] for x in props["errors"]} == {
            "/properties/a/minimum", "/properties/b/properties/c/type"}
        req = next(u for u in out["errors"]
                   if u["keywordLocation"] == "/required")
        assert req["instanceLocation"] == "/d"

    def test_detailed_nests_an_escaped_name_as_one_segment(self):
        schema = {"properties": {"a/b": {"type": "string"},
                                 "a": {"properties": {"b": {"type": "string"}}}}}
        out = output({"a/b": 1, "a": {"b": 2}}, schema, "detailed")
        assert out["keywordLocation"] == "/properties"
        assert [(u["keywordLocation"], u["instanceLocation"])
                for u in out["errors"]] == [
            ("/properties/a/properties/b/type", "/a/b"),
            ("/properties/a~1b/type", "/a~1b")]

    def test_output_json_round_trips(self):
        s = output_json(self.DOC, self.SCHEMA, "basic")
        assert json.loads(s)["valid"] is False

    def test_unsupported_format_raises(self):
        try:
            output({}, {}, "exhaustive")
        except ValueError as e:
            assert "exhaustive" in str(e)
        else:
            raise AssertionError("expected ValueError")


class TestVerbose:
    def test_valid_doc_full_tree(self):
        schema = {"type": "object", "required": ["a"],
                  "properties": {"a": {"type": "integer", "minimum": 0}}}
        out = output({"a": 3}, schema, "verbose")
        assert out["valid"] is True
        assert out["keywordLocation"] == "" and out["instanceLocation"] == ""
        units = {u["keywordLocation"]: u for u in out["annotations"]}
        assert units["/type"]["valid"] is True
        assert units["/required"]["instanceLocation"] == "/a"
        a = units["/properties/a"]
        assert a["valid"] is True and a["instanceLocation"] == "/a"
        akids = {u["keywordLocation"] for u in a["annotations"]}
        assert akids == {"/properties/a/type", "/properties/a/minimum"}

    def test_invalid_leaf_carries_error_valid_siblings_do_not(self):
        schema = {"properties": {"a": {"type": "integer", "minimum": 10}}}
        out = output({"a": 3}, schema, "verbose")
        assert out["valid"] is False
        a = out["errors"][0]
        assert a["keywordLocation"] == "/properties/a"
        by_kloc = {u["keywordLocation"]: u for u in a["errors"]}
        assert by_kloc["/properties/a/type"]["valid"] is True
        assert "error" not in by_kloc["/properties/a/type"]
        bad = by_kloc["/properties/a/minimum"]
        assert bad["valid"] is False and "minimum" in bad["error"]

    def test_type_gated_units_are_omitted(self):
        # minimum is never applied to a string instance, so no unit appears
        out = output("x", {"minimum": 5, "minLength": 1}, "verbose")
        klocs = {u["keywordLocation"] for u in out["annotations"]}
        assert klocs == {"/minLength"}

    def test_items_units_per_index(self):
        out = output([1, "x"], {"items": {"type": "integer"}}, "verbose")
        assert out["valid"] is False
        il = [(u["instanceLocation"], u["valid"]) for u in out["errors"]]
        assert il == [("/0", True), ("/1", False)]

    def test_if_unit_records_branch_outcome_without_error(self):
        schema = {"if": {"minimum": 10}, "then": {"multipleOf": 2}}
        out = output(11, schema, "verbose")
        units = {u["keywordLocation"]: u for u in out["errors"]}
        assert units["/if"]["valid"] is True and "error" not in units["/if"]
        assert units["/then"]["valid"] is False
        # if fails: no then unit, tree valid
        out2 = output(3, schema, "verbose")
        assert out2["valid"] is True
        klocs = {u["keywordLocation"] for u in out2["annotations"]}
        assert klocs == {"/if"}
        (ifu,) = out2["annotations"]
        assert ifu["valid"] is False and "error" not in ifu

    def test_allof_branches_nest(self):
        schema = {"allOf": [{"minimum": 10}, {"multipleOf": 7}]}
        out = output(3, schema, "verbose")
        assert out["valid"] is False
        by_kloc = {u["keywordLocation"]: u for u in out["errors"]}
        b0 = by_kloc["/allOf/0"]
        assert b0["valid"] is False
        assert b0["errors"][0]["keywordLocation"] == "/allOf/0/minimum"
        b1 = by_kloc["/allOf/1"]
        assert b1["valid"] is False

    def test_combinators_stay_leaves(self):
        out = output("z", {"anyOf": [{"enum": ["a"]}, {"type": "integer"}]},
                     "verbose")
        (u,) = out["errors"]
        assert u["keywordLocation"] == "/anyOf" and u["valid"] is False

    def test_verbose_walks_once(self, monkeypatch):
        # verbose output is ONE evaluation with a trace: it calls the
        # evaluator exactly as often as validate does, quiet probes included
        schema = {"properties": {k: {"properties": {
            "x": {"type": "integer", "minimum": 0},
            "y": {"anyOf": [{"type": "string"}, {"maximum": 3}]},
            "z": {"items": {"if": {"minimum": 1}, "then": {"maximum": 9}}}}}
            for k in "abc"}}
        doc = {k: {"x": -1, "y": 5, "z": [0, 4, 12]} for k in "abc"}
        calls = []
        real = local._eval

        def spy(*args, **kwargs):
            calls.append(1)
            return real(*args, **kwargs)

        monkeypatch.setattr(local, "_eval", spy)
        validate(doc, schema)
        n_validate = len(calls)
        calls.clear()
        assert output(doc, schema, "verbose")["valid"] is False
        assert len(calls) == n_validate > 1

    def test_verbose_json_round_trips(self):
        s = output_json([1, "x"], {"items": {"type": "integer"}}, "verbose")
        assert json.loads(s)["valid"] is False
