"""Spec linting: authoring-time diagnostics for constraint specs — the
checks a reviewer runs BEFORE a 10^12-row job does (a contradictory bound
silently fails every row; an inert keyword silently checks nothing).

Pure driver-side tree walk over the RAW schema document (pre-$ref-inlining,
so messages point at what the author wrote). Each finding is
(severity, path, message) with severity in {"error", "warning"}:

- error: the spec is satisfiable by NO value at that node (inverted bounds,
  empty enum) — every row would violate.
- warning: legal but almost certainly not what the author meant (inert
  then/else, unknown format, redundant unevaluatedProperties, required
  names never declared).

The root's ``x-table-checks`` block is checked by ``spec``'s one reader
(``table_check_problems``), not by this walk; each problem is an error.
"""

from __future__ import annotations

import re
from typing import Any

from .formats import FORMAT_CHECKERS

Finding = tuple[str, str, str]  # (severity, json-pointer path, message)

_APPLICATORS = ("allOf", "anyOf", "oneOf")
_SUBSCHEMA_KEYS = ("not", "if", "then", "else", "contains", "propertyNames",
                   "additionalProperties", "additionalItems", "items",
                   "unevaluatedProperties", "unevaluatedItems", "contentSchema")

# Every keyword the union surface interprets, plus the spec's annotation
# keywords (legal, inert here). Used ONLY for the typo detector: an unknown
# key warns IFF it is edit-distance-close to one of these — arbitrary
# custom annotations stay silent (they are legal JSON Schema).
_KNOWN_KEYWORDS = frozenset({
    # core / identifiers
    "$schema", "$id", "id", "$ref", "$dynamicRef", "$anchor",
    "$dynamicAnchor", "$defs", "definitions", "$vocabulary", "$comment",
    # annotations (inert by design)
    "title", "description", "default", "examples", "deprecated",
    "readOnly", "writeOnly",
    # assertions — number/string
    "type", "enum", "const", "minimum", "maximum", "exclusiveMinimum",
    "exclusiveMaximum", "multipleOf", "divisibleBy", "minLength",
    "maxLength", "pattern", "format", "contentEncoding",
    "contentMediaType", "contentSchema",
    # arrays
    "items", "prefixItems", "additionalItems", "minItems", "maxItems",
    "uniqueItems", "contains", "minContains", "maxContains",
    "unevaluatedItems",
    # objects
    "properties", "patternProperties", "additionalProperties",
    "propertyNames", "required", "minProperties", "maxProperties",
    "dependencies", "dependentRequired", "dependentSchemas",
    "unevaluatedProperties",
    # combinators / conditionals / d3
    "allOf", "anyOf", "oneOf", "not", "if", "then", "else", "extends",
    "disallow",
    # engine extensions
    "x-table-checks", "x-json",
})


def lint_spec(schema: dict[str, Any] | bool) -> list[Finding]:
    out: list[Finding] = []
    _walk(schema, "", out)
    if isinstance(schema, dict):
        _lint_refs(schema, out)
        _lint_meta(schema, out)
        from .spec import table_check_problems

        out.extend(("error", ptr, msg) for ptr, msg in table_check_problems(schema))
    return out


def _lint_meta(root: dict[str, Any], out: list[Finding]) -> None:
    """Validate the spec against its meta-schema with the engine's own E1
    evaluator (metaschema.py): catches malformed keyword SHAPES the parser
    handles worst — some raise raw TypeErrors deep in parse_node
    ({"pattern": 5}), some are silently accepted and then check nothing
    ({"minimum": "5"}, {"enum": "x"}) — the most expensive typo class at
    fact scale. Meta selection follows $schema (draft-04/07 published
    metas) and falls back to the engine's union-surface DIALECT meta, so
    legal dialect mixing never false-positives."""
    from .local import validate as _validate
    from .metaschema import meta_for

    meta, name = meta_for(root)
    try:
        violations = _validate(root, meta)
    except TypeError as e:
        # a spec loaded from JSON cannot hit this; a programmatically built
        # dict with non-JSON values (functions, bytes, ...) can
        out.append(("error", "/", f"spec is not a JSON document: {e}"))
        return
    for v in violations:
        out.append(("error", v.path or "/",
                    f"spec does not validate against the {name} "
                    f"meta-schema: {v.keyword} (meta location {v.kloc})"))


def _lint_refs(root: dict[str, Any], out: list[Finding]) -> None:
    """Every $ref/$dynamicRef must resolve (pointer, $anchor, or embedded
    $id resource) BEFORE cluster time: an unresolvable ref is a parse-time
    SpecError, i.e. a spec typo that would otherwise surface only when the
    job is submitted. Resolution reuses the real parser helpers so lint and
    parse can never disagree."""
    from .spec import SpecError, _find_anchor, _resolve_id_ref, _resolve_pointer

    refs: list[tuple[str, str, str]] = []  # (path, keyword, value)

    def collect(node: Any, path: str) -> None:
        if isinstance(node, dict):
            for kw in ("$ref", "$dynamicRef"):
                v = node.get(kw)
                if isinstance(v, str):
                    refs.append((path or "/", kw, v))
            for k, v in node.items():
                collect(v, f"{path}/{k}")
        elif isinstance(node, list):
            for i, v in enumerate(node):
                collect(v, f"{path}/{i}")

    collect(root, "")
    for path, kw, ptr in refs:
        try:
            if not ptr.startswith("#"):
                _resolve_id_ref(ptr, root)
            elif kw == "$dynamicRef" and not ptr[1:].startswith("/"):
                if (_find_anchor(root, ptr[1:], key="$dynamicAnchor") is None
                        and _find_anchor(root, ptr[1:]) is None):
                    raise SpecError(f"unresolvable $dynamicRef: {ptr!r}")
            else:
                _resolve_pointer(root, ptr)
        except SpecError as e:
            out.append(("error", path, f"{kw} does not resolve: {e}"))


def _walk(s: Any, path: str, out: list[Finding]) -> None:
    if not isinstance(s, dict):
        return

    def err(msg: str) -> None:
        out.append(("error", path or "/", msg))

    def warn(msg: str) -> None:
        out.append(("warning", path or "/", msg))

    # --- unsatisfiable bounds (errors) -----------------------------------
    for lo, hi, excl in (("minimum", "maximum", False),):
        a, b = s.get(lo), s.get(hi)
        if isinstance(a, (int, float)) and isinstance(b, (int, float)) and a > b:
            err(f"{lo} ({a}) > {hi} ({b}): no number satisfies this node")
    em, ex = s.get("exclusiveMinimum"), s.get("exclusiveMaximum")
    if (isinstance(em, (int, float)) and not isinstance(em, bool)
            and isinstance(ex, (int, float)) and not isinstance(ex, bool) and em >= ex):
        err(f"exclusiveMinimum ({em}) >= exclusiveMaximum ({ex}): empty range")
    for lo, hi in (("minLength", "maxLength"), ("minItems", "maxItems"),
                   ("minProperties", "maxProperties"),
                   ("minContains", "maxContains")):
        a, b = s.get(lo), s.get(hi)
        if isinstance(a, int) and isinstance(b, int) and a > b:
            err(f"{lo} ({a}) > {hi} ({b}): unsatisfiable")
    if s.get("enum") == []:
        err("enum is empty: no value can validate")
    if "const" in s and isinstance(s.get("enum"), list) and s["const"] not in s["enum"]:
        err("const is not a member of enum: unsatisfiable conjunction")

    # --- typo detection + vocabulary declarations (warnings) -------------
    # an unknown key close in spelling to a real keyword is almost always a
    # typo that silently validates nothing ("minimumm": every row passes);
    # unknown keys with no close match are legal custom annotations — silent
    import difflib
    for k in s:
        if k in _KNOWN_KEYWORDS or k.startswith("x-") or not isinstance(k, str):
            continue
        close = difflib.get_close_matches(k, _KNOWN_KEYWORDS, n=1, cutoff=0.85)
        if close:
            warn(f"unknown keyword {k!r} is ignored by this engine — "
                 f"did you mean {close[0]!r}?")
    voc = s.get("$vocabulary")
    if isinstance(voc, dict):
        required = [u for u, req in voc.items() if req is True]
        if required:
            warn("$vocabulary declarations are not enforced: keywords are "
                 "interpreted per this engine's draft-3..2020-12 union "
                 f"surface ({len(required)} vocabularies declared required)")

    # --- inert / suspicious (warnings) -----------------------------------
    if ("then" in s or "else" in s) and "if" not in s:
        warn("then/else without if are inert (draft-7 §6.6)")
    if ("minContains" in s or "maxContains" in s) and "contains" not in s:
        warn("minContains/maxContains without contains are inert")
    fmt = s.get("format")
    if isinstance(fmt, str) and fmt not in FORMAT_CHECKERS:
        warn(f"unknown format {fmt!r}: not validated by this engine")
    pat = s.get("pattern")
    if isinstance(pat, str):
        try:
            re.compile(pat)
        except re.error as e:
            err(f"pattern does not compile: {e}")
    if "unevaluatedProperties" in s and "additionalProperties" in s:
        warn("unevaluatedProperties is dead code: additionalProperties "
             "already evaluates every property at this node")
    if "contentSchema" in s and s.get("contentMediaType") != "application/json":
        warn("contentSchema is inert without contentMediaType: application/json")
    req = s.get("required")
    props = s.get("properties")
    if isinstance(req, list) and isinstance(props, dict):
        # name never declared anywhere reachable is legal but usually a typo
        declared = set(props)
        for sub in (x for k in _APPLICATORS for x in s.get(k, []) if isinstance(x, dict)):
            declared |= set(sub.get("properties", {}) or {})
        for sub in (s.get(k) for k in ("if", "then", "else")):
            if isinstance(sub, dict):
                declared |= set(sub.get("properties", {}) or {})
        for name in req:
            if isinstance(name, str) and name not in declared:
                warn(f"required name {name!r} is never declared in properties "
                     "(typo?)")

    # --- recurse ---------------------------------------------------------
    for key in ("properties", "patternProperties", "$defs", "definitions",
                "dependentSchemas"):
        block = s.get(key)
        if isinstance(block, dict):
            for name, sub in block.items():
                _walk(sub, f"{path}/{key}/{name}", out)
    for key in _APPLICATORS:
        block = s.get(key)
        if isinstance(block, list):
            for i, sub in enumerate(block):
                _walk(sub, f"{path}/{key}/{i}", out)
    for key in _SUBSCHEMA_KEYS:
        sub = s.get(key)
        if isinstance(sub, dict):
            _walk(sub, f"{path}/{key}", out)
    items = s.get("items")
    if isinstance(items, list):
        for i, sub in enumerate(items):
            _walk(sub, f"{path}/items/{i}", out)
    pitems = s.get("prefixItems")
    if isinstance(pitems, list):
        for i, sub in enumerate(pitems):
            _walk(sub, f"{path}/prefixItems/{i}", out)
    deps = s.get("dependencies")
    if isinstance(deps, dict):
        for name, sub in deps.items():
            if isinstance(sub, dict):
                _walk(sub, f"{path}/dependencies/{name}", out)
