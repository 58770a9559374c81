"""Standard JSON-Schema output formats over the E1 evaluator.

Draft 2019-09 / 2020-12 define interoperable validation output
(§10 "Output formats"): ``flag``, ``basic``, ``detailed`` and ``verbose``
structures built from *output units* carrying ``keywordLocation`` (the
dynamic evaluation path into the schema), ``instanceLocation`` (a JSON
Pointer into the instance) and a human-readable ``error``. The reference
validator's ``validate(doc) -> violations`` shape maps 1:1 onto the
``basic`` format's error list; this module is the adapter. Both
locations are RFC 6901 pointers: a property name ``a/b`` is the one
escaped segment ``a~1b``.

Supported: ``flag``, ``basic``, ``detailed``, ``verbose``. Documented
divergences:

- ``keywordLocation`` elides ``$ref`` hops: ``spec.py`` resolves
  references at parse time, so locations are post-resolution paths
  (the spec's ``absoluteKeywordLocation`` without a base URI). Schemas
  without ``$ref`` match the spec exactly.
- ``detailed`` nests leaf errors under their common applicator prefixes
  (single-child chains collapsed, the spec's condensation rule); it does
  not re-emit per-branch ``anyOf``/``oneOf`` sub-errors the evaluator
  already folded into one combinator violation. ``verbose`` keeps the
  same stance: ``anyOf``/``oneOf``/``not`` are leaf units (their branch
  evaluations are quiet probes in E1, not annotation-bearing
  applications).
- ``verbose`` is the trace of the one E1 evaluation that ``validate``
  runs: one unit per keyword CHECK the evaluator actually performs (a
  ``maximum`` unit appears only when the instance is a number, as E1's
  checks are type-gated), nested under the subschemas it applied. It is
  not one unit per declared keyword — unapplied keywords are omitted
  rather than emitted as vacuously valid, which §10.4.4 permits.
"""

from __future__ import annotations

import json
from typing import Any

from . import local
from .local import Violation, validate

_MESSAGES = {
    "type": "instance does not match the expected type",
    "enum": "value is not one of the enumerated values",
    "const": "value does not equal the constant",
    "minimum": "value is less than the minimum",
    "exclusiveMinimum": "value is not greater than the exclusive minimum",
    "maximum": "value is greater than the maximum",
    "exclusiveMaximum": "value is not less than the exclusive maximum",
    "multipleOf": "value is not a multiple of the divisor",
    "minLength": "string is shorter than minLength",
    "maxLength": "string is longer than maxLength",
    "pattern": "string does not match the pattern",
    "format": "string does not conform to the format",
    "contentEncoding": "string is not valid for the content encoding",
    "contentMediaType": "content does not parse as the declared media type",
    "contentSchema": "decoded content does not validate against contentSchema",
    "minItems": "array has fewer items than minItems",
    "maxItems": "array has more items than maxItems",
    "uniqueItems": "array items are not unique",
    "additionalItems": "item is not allowed by additionalItems",
    "contains": "no array item matches the contains schema",
    "minContains": "too few array items match the contains schema",
    "maxContains": "too many array items match the contains schema",
    "required": "required property is missing",
    "minProperties": "object has fewer properties than minProperties",
    "maxProperties": "object has more properties than maxProperties",
    "additionalProperties": "property is not allowed by additionalProperties",
    "propertyNames": "property name does not validate against propertyNames",
    "dependencies": "property dependency is not satisfied",
    "unevaluatedProperties": "property was not evaluated by any keyword",
    "unevaluatedItems": "item was not evaluated by any keyword",
    "allOf": "instance does not validate against all subschemas",
    "anyOf": "instance does not validate against any subschema",
    "oneOf": "instance does not validate against exactly one subschema",
    "not": "instance validates against the not schema",
    "then": "instance matched if but does not validate against then",
    "else": "instance did not match if and does not validate against else",
    "disallow": "instance matches a disallowed type or schema",
}


def _message(keyword: str) -> str:
    return _MESSAGES.get(keyword, f"fails the {keyword} constraint")


def _unit(v: Violation) -> dict[str, Any]:
    return {
        "valid": False,
        "keywordLocation": v.kloc,
        "instanceLocation": v.path,
        "error": _message(v.keyword),
    }


def output(doc: Any, schema: Any, format: str = "basic") -> dict[str, Any]:
    """Validate ``doc`` and return a draft-2019 output structure.

    ``format`` is one of ``"flag"``, ``"basic"``, ``"detailed"``,
    ``"verbose"``.
    """
    if format not in ("flag", "basic", "detailed", "verbose"):
        raise ValueError(f"unsupported output format: {format!r} "
                         "(supported: flag, basic, detailed, verbose)")
    if format == "verbose":
        return verbose(doc, schema)
    viols = validate(doc, schema)
    if format == "flag":
        return {"valid": not viols}
    if not viols:
        return {"valid": True}
    units = [_unit(v) for v in viols]
    if format == "basic":
        return {"valid": False, "errors": units}
    return _detailed(units)


def _detailed(units: list[dict[str, Any]]) -> dict[str, Any]:
    """Nest leaf error units under common keywordLocation prefixes.

    Builds a trie over the keywordLocation segments, collapses
    single-child chains (the spec's condensation rule: a node with one
    child is replaced by that child), and emits container units with
    ``errors`` lists at branch points."""
    if len(units) == 1:
        return units[0]

    root: dict[str, Any] = {"kids": {}, "leaves": []}
    for u in units:
        segs = [s for s in u["keywordLocation"].split("/") if s != ""]
        node = root
        for s in segs:
            node = node["kids"].setdefault(s, {"kids": {}, "leaves": []})
        # the same keywordLocation can fire at several instance locations
        # (e.g. items/type for two bad array elements) — keep every leaf
        node["leaves"].append(u)

    def emit(node: dict[str, Any], prefix: str) -> dict[str, Any]:
        # collapse single-child chains with no leaves at this node
        while not node["leaves"] and len(node["kids"]) == 1:
            (seg, child), = node["kids"].items()
            prefix = f"{prefix}/{seg}"
            node = child
        if len(node["leaves"]) == 1 and not node["kids"]:
            return node["leaves"][0]
        children = list(node["leaves"])
        children += [emit(c, f"{prefix}/{s}")
                     for s, c in sorted(node["kids"].items())]
        inst = _common_instance(children)
        return {"valid": False, "keywordLocation": prefix,
                "instanceLocation": inst, "errors": children}

    return emit(root, "")


def _common_instance(children: list[dict[str, Any]]) -> str:
    """Longest common JSON-Pointer prefix of the children's
    instanceLocations (the container unit's instanceLocation)."""
    paths = [c["instanceLocation"].split("/") for c in children]
    common = paths[0]
    for p in paths[1:]:
        i = 0
        while i < min(len(common), len(p)) and common[i] == p[i]:
            i += 1
        common = common[:i]
    return "/".join(common)


def output_json(doc: Any, schema: Any, format: str = "basic") -> str:
    """``output`` serialized as canonical JSON (sorted keys)."""
    return json.dumps(output(doc, schema, format), sort_keys=True)


# ---------------------------------------------------------------------------
# verbose (§10.4.4): every applied unit, valid ones included
# ---------------------------------------------------------------------------

def verbose(doc: Any, schema: Any) -> dict[str, Any]:
    """Full evaluation tree: one output unit per keyword check E1 performs,
    nested under the applicator units that performed them.

    One walk: ``local._eval`` runs once with a trace, recording each check
    and each applied subschema as it evaluates them, and this function
    folds that trace into units. Validity therefore comes from the very
    checks that produce ``validate``'s violations."""
    trace: list = []
    local._eval(doc, local._root(schema), "", [], "", trace)
    return _fold(trace, "", "")


def _fold(trace: list, kloc: str, iloc: str) -> dict[str, Any]:
    """One subschema's unit from its trace. It is valid iff no check in its
    subtree failed; the ``if`` unit records the branch outcome only, so it
    neither carries an error nor counts toward validity."""
    kids: list[dict[str, Any]] = []
    valid = True
    for kw, k, i, res in trace:
        if kw is None:
            u = _fold(res, k, i)
        else:
            u = {"valid": res, "keywordLocation": k, "instanceLocation": i}
            if not res and kw != "if":
                u["error"] = _message(kw)
        kids.append(u)
        valid = valid and (u["valid"] or kw == "if")
    unit: dict[str, Any] = {"valid": valid, "keywordLocation": kloc,
                            "instanceLocation": iloc}
    if kids:
        unit["annotations" if valid else "errors"] = kids
    return unit
