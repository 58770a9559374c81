"""E1: single-document ``validate(doc, spec) -> [Violation]`` evaluator.

The reference-parity path (SURVEY.md §3 E1, BASELINE.json:6
"validate(doc)->violations"). Pure Python, driver-side, no Spark imports.
Exists to (a) pass the authored JSTS-shape conformance corpus
(tests/conformance/) and (b) differentially cross-check the Spark backend:
both consume the same SpecNode tree from ``spec.py``.

Semantics are draft-04 with these documented choices (SURVEY.md §5.1):
- ``1.0`` counts as an integer (draft-6 alignment; the corpus pins this).
- Python ``bool`` is NOT a number/integer (JSON true/false are a distinct type).
- ``minimum``/``maximum`` etc. ignore instances of non-matching type.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from typing import Any

from .spec import Spec, SpecNode, parse_node, pointer_token
from . import formats
from .formats import FORMAT_CHECKERS


@dataclass(frozen=True)
class Violation:
    keyword: str
    path: str      # JSON-Pointer into the instance ("" = root)
    value: Any     # the offending value
    # JSON-Pointer into the schema: the dynamic evaluation path to the
    # failing keyword (draft-2019 §10.4.1 "keywordLocation"), e.g.
    # "/properties/a/anyOf/1/minimum". $ref hops are ELIDED (documented
    # divergence: spec.py resolves references at parse time, so the path
    # is the post-resolution one — closer to absoluteKeywordLocation
    # without the base URI). Default "" keeps the 3-field reference shape
    # (keyword, path, value) intact for every existing consumer.
    kloc: str = ""

    def as_tuple(self) -> tuple[str, str, Any]:
        return (self.keyword, self.path, self.value)


def json_type(v: Any) -> str:
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "boolean"
    if isinstance(v, int):
        return "integer"
    if isinstance(v, float):
        return "number"
    if isinstance(v, str):
        return "string"
    if isinstance(v, list):
        return "array"
    if isinstance(v, dict):
        return "object"
    raise TypeError(f"not a JSON value: {type(v).__name__}")


def _type_matches(v: Any, t: str) -> bool:
    jt = json_type(v)
    if t == "any":
        return True
    if t == "number":
        return jt in ("number", "integer")
    if t == "integer":
        # 1.0 is an integer (pinned: SURVEY.md §5.1)
        return jt == "integer" or (jt == "number" and float(v).is_integer())
    return jt == t


def _json_eq(a: Any, b: Any) -> bool:
    """Deep JSON equality: 1 == 1.0 but True != 1."""
    if isinstance(a, bool) != isinstance(b, bool):
        return False
    if isinstance(a, (int, float)) and isinstance(b, (int, float)) and not isinstance(a, bool):
        return a == b
    if type(a) is not type(b):
        return False
    if isinstance(a, list):
        return len(a) == len(b) and all(_json_eq(x, y) for x, y in zip(a, b))
    if isinstance(a, dict):
        return a.keys() == b.keys() and all(_json_eq(a[k], b[k]) for k in a)
    return a == b


def _is_num(v: Any) -> bool:
    return isinstance(v, (int, float)) and not isinstance(v, bool)


def _root(schema: dict | bool | Spec | SpecNode) -> SpecNode:
    if isinstance(schema, Spec):
        return schema.root
    if isinstance(schema, SpecNode):
        return schema
    return parse_node(schema)


def validate(doc: Any, schema: dict | bool | Spec | SpecNode) -> list[Violation]:
    """The reference API: validate one JSON document, return violations."""
    out: list[Violation] = []
    _eval(doc, _root(schema), "", out)
    return out


def is_valid(doc: Any, schema: dict | bool | Spec | SpecNode) -> bool:
    return not validate(doc, schema)


def _eval(v: Any, n: SpecNode, path: str, out: list[Violation],
          sp: str = "", trace: list | None = None) -> None:  # noqa: C901
    # ``sp`` is the dynamic schema path (keywordLocation prefix) — "" for
    # callers that don't need locations; every recursion extends it with
    # the applicator segment, every violation records f"{sp}/{keyword}".
    # With a ``trace`` list, every keyword check appends
    # (keyword, kloc, iloc, ok) and every applied subschema appends
    # (None, kloc, iloc, its own trace), in evaluation order — the
    # ``verbose`` output format is that list folded into a tree.

    def check(kw: str, ok: Any, key: Any = None, value: Any = v,
              seg: str | None = None) -> None:
        # ``key``: the property name or index the check is about, appended
        # to ``path`` as one escaped segment; ``seg``: the schema segment
        # when it is not the keyword itself
        if ok and trace is None:
            return
        iloc = path if key is None else f"{path}/{pointer_token(str(key))}"
        kloc = f"{sp}/{seg or kw}"
        if not ok:
            out.append(Violation(kw, iloc, value, kloc))
        if trace is not None:
            trace.append((kw, kloc, iloc, bool(ok)))

    def apply(x: Any, sub: SpecNode, iloc: str, seg: str) -> None:
        kloc = f"{sp}/{seg}"
        kids = None if trace is None else []
        if trace is not None:
            trace.append((None, kloc, iloc, kids))
        _eval(x, sub, iloc, out, kloc, kids)

    if n.type is not None:
        check("type", any(_type_matches(v, t) for t in n.type))
    if n.disallow is not None:
        # disallowed when the instance DOES match the type/schema (d3 §5.25)
        check("disallow", not any(
            _type_matches(v, d) if isinstance(d, str) else _eval_quiet(v, d)
            for d in n.disallow))
    if n.enum is not None:
        check("enum", any(_json_eq(v, e) for e in n.enum))
    if n.has_const:
        check("const", _json_eq(v, n.const))

    if _is_num(v):
        if n.minimum is not None:
            ok = v > n.minimum if n.exclusive_minimum else v >= n.minimum
            check("exclusiveMinimum" if n.exclusive_minimum else "minimum", ok)
        if n.maximum is not None:
            ok = v < n.maximum if n.exclusive_maximum else v <= n.maximum
            check("exclusiveMaximum" if n.exclusive_maximum else "maximum", ok)
        if n.multiple_of is not None:
            q = v / n.multiple_of
            check("multipleOf", abs(q - round(q)) <= 1e-9)

    if isinstance(v, str):
        if n.min_length is not None:
            check("minLength", len(v) >= n.min_length)
        if n.max_length is not None:
            check("maxLength", len(v) <= n.max_length)
        if n.pattern is not None:
            check("pattern", re.search(n.pattern, v) is not None)
        if n.format is not None:
            chk = FORMAT_CHECKERS.get(n.format)
            if chk is not None:
                check("format", chk(v))
        # draft-7 §8 content keywords (asserting mode — formats.py rationale):
        # the media type is judged only on content that decoded, and
        # contentSchema only on content that parsed
        decoded = True
        if n.content_encoding == "base64":
            decoded = formats.check_base64(v)
            check("contentEncoding", decoded)
        if decoded and n.content_media_type is not None:
            data: bytes | str = v
            if n.content_encoding == "base64":
                import base64
                data = base64.b64decode(v)
            parsed = formats.check_media_type(data, n.content_media_type)
            check("contentMediaType", parsed)
            if parsed and n.content_schema is not None \
                    and n.content_media_type == "application/json":
                import json as _json
                doc = _json.loads(data if isinstance(data, str)
                                  else data.decode("utf-8"))
                check("contentSchema", _eval_quiet(doc, n.content_schema))

    if isinstance(v, list):
        if n.min_items is not None:
            check("minItems", len(v) >= n.min_items)
        if n.max_items is not None:
            check("maxItems", len(v) <= n.max_items)
        if n.unique_items:
            check("uniqueItems", not any(_json_eq(v[i], v[j])
                                         for i in range(len(v))
                                         for j in range(i)))
        if n.items is not None:
            for i, x in enumerate(v):
                apply(x, n.items, f"{path}/{i}", "items")
        if n.tuple_items is not None:
            for i, x in enumerate(v):
                if i < len(n.tuple_items):
                    apply(x, n.tuple_items[i], f"{path}/{i}", f"items/{i}")
                elif n.additional_items is False:
                    check("additionalItems", False, key=i, value=x)
                elif isinstance(n.additional_items, SpecNode):
                    apply(x, n.additional_items, f"{path}/{i}",
                          "additionalItems")
        if n.contains is not None:
            cnt = sum(_eval_quiet(x, n.contains) for x in v)
            minc = 1 if n.min_contains is None else n.min_contains
            check("contains" if n.min_contains is None else "minContains",
                  cnt >= minc)
            if n.max_contains is not None:
                check("maxContains", cnt <= n.max_contains)

    if isinstance(v, dict):
        if n.required is not None:
            for name in n.required:
                check("required", name in v, key=name, value=None)
        if n.min_properties is not None:
            check("minProperties", len(v) >= n.min_properties)
        if n.max_properties is not None:
            check("maxProperties", len(v) <= n.max_properties)
        matched: set[str] = set()
        for name, sub in n.properties.items():
            if name in v:
                matched.add(name)
                tok = pointer_token(name)
                apply(v[name], sub, f"{path}/{tok}", f"properties/{tok}")
            elif sub.d3_required:
                check("required", False, key=name, value=None,
                      seg=f"properties/{pointer_token(name)}/required")
        for pat, sub in n.pattern_properties.items():
            for name in v:
                if re.search(pat, name):
                    matched.add(name)
                    apply(v[name], sub, f"{path}/{pointer_token(name)}",
                          f"patternProperties/{pointer_token(pat)}")
        if n.additional_properties is not None:
            extras = [k for k in v if k not in matched and k not in n.properties]
            for k in extras:
                if n.additional_properties is False:
                    check("additionalProperties", False, key=k, value=v[k])
                elif isinstance(n.additional_properties, SpecNode):
                    apply(v[k], n.additional_properties,
                          f"{path}/{pointer_token(k)}", "additionalProperties")
        if n.property_names is not None:
            for k in v:
                check("propertyNames", _eval_quiet(k, n.property_names),
                      key=k, value=k)
        for name, dep in n.dependencies.items():
            if name in v:
                seg = f"dependencies/{pointer_token(name)}"
                if isinstance(dep, tuple):
                    for d in dep:
                        check("dependencies", d in v, key=d, value=None,
                              seg=seg)
                else:
                    check("dependencies", _eval_quiet(v, dep), seg=seg)
        if n.unevaluated_properties is not None and n.unevaluated_properties is not True:
            acc: set = set()
            if not _names_cover(v, n, acc):
                for k in v:
                    if k in acc:
                        continue
                    if n.unevaluated_properties is False:
                        check("unevaluatedProperties", False, key=k,
                              value=v[k])
                    else:
                        apply(v[k], n.unevaluated_properties,
                              f"{path}/{pointer_token(k)}",
                              "unevaluatedProperties")

    if isinstance(v, list) and n.unevaluated_items is not None \
            and n.unevaluated_items is not True:
        cov = _items_cover(v, n)
        cevals = _contains_evaluators(v, n)
        for i in range(min(cov, len(v)), len(v)):
            # d2019 §9.3.1.4: items matched by an applicable `contains`
            # (this schema's or a validated applied branch's) are evaluated
            if any(_eval_quiet(v[i], c) for c in cevals):
                continue
            if n.unevaluated_items is False:
                check("unevaluatedItems", False, key=i, value=v[i])
            else:
                apply(v[i], n.unevaluated_items, f"{path}/{i}",
                      "unevaluatedItems")

    if n.all_of is not None:
        for i, sub in enumerate(n.all_of):
            apply(v, sub, path, f"allOf/{i}")
    if n.any_of is not None:
        check("anyOf", any(_eval_quiet(v, s) for s in n.any_of))
    if n.one_of is not None:
        check("oneOf", sum(_eval_quiet(v, s) for s in n.one_of) == 1)
    if n.not_ is not None:
        check("not", not _eval_quiet(v, n.not_))
    if n.if_ is not None:
        matched_if = _eval_quiet(v, n.if_)
        if trace is not None:
            # the branch outcome, not a check: it never fails the instance
            trace.append(("if", f"{sp}/if", path, matched_if))
        if matched_if:
            if n.then_ is not None:
                check("then", _eval_quiet(v, n.then_))
        elif n.else_ is not None:
            check("else", _eval_quiet(v, n.else_))


def _eval_quiet(v: Any, n: SpecNode) -> bool:
    tmp: list[Violation] = []
    _eval(v, n, "", tmp)
    return not tmp


def _applied_subschemas(v: Any, n: SpecNode) -> list[SpecNode]:
    """In-place applicator branches whose annotations apply to ``v`` under
    draft-2019 semantics: only branches that VALIDATE contribute (a failing
    allOf/anyOf branch's annotations are dropped); if/then/else contribute
    per the if outcome; schema-form dependencies when triggered + valid."""
    subs: list[SpecNode] = []
    for br in (n.all_of or ()) + (n.any_of or ()) + (n.one_of or ()):
        if _eval_quiet(v, br):
            subs.append(br)
    if n.if_ is not None:
        if _eval_quiet(v, n.if_):
            subs.append(n.if_)
            if n.then_ is not None and _eval_quiet(v, n.then_):
                subs.append(n.then_)
        elif n.else_ is not None and _eval_quiet(v, n.else_):
            subs.append(n.else_)
    if isinstance(v, dict):
        for name, dep in n.dependencies.items():
            if name in v and isinstance(dep, SpecNode) and _eval_quiet(v, dep):
                subs.append(dep)
    return subs


def _names_cover(v: dict, n: SpecNode, acc: set) -> bool:
    """Collect into ``acc`` the property names of ``v`` evaluated by ``n``
    and its applied applicator branches (recursively). Returns True when
    ALL names are evaluated (additionalProperties present at some applied
    level)."""
    if n.additional_properties is not None:
        return True
    acc.update(k for k in v if k in n.properties)
    for rx in n.pattern_properties:
        acc.update(k for k in v if re.search(rx, k))
    for sub in _applied_subschemas(v, n):
        # a VALIDATED applied branch carrying its own unevaluatedProperties
        # evaluates every name (d2019 annotation flow): a schema/true applies
        # to all names not otherwise evaluated there, and false could only
        # validate if no name was left unevaluated
        if sub.unevaluated_properties is not None:
            return True
        if _names_cover(v, sub, acc):
            return True
    return False


def _contains_evaluators(v: list, n: SpecNode) -> list[SpecNode]:
    """`contains` subschemas whose annotations apply to ``v`` (this schema's
    own plus those of validated applied branches, recursively) — items they
    match count as evaluated for unevaluatedItems (d2019 §9.3.1.4)."""
    subs = [n.contains] if n.contains is not None else []
    for sub in _applied_subschemas(v, n):
        subs.extend(_contains_evaluators(v, sub))
    return subs


def _items_cover(v: list, n: SpecNode) -> int:
    """Number of leading items of ``v`` evaluated by ``n`` and its applied
    branches. Single-schema ``items`` (or any ``additionalItems``) evaluates
    everything; tuple form evaluates its prefix. ``contains``-matched items
    are handled separately (per-item, ``_contains_evaluators``)."""
    if n.items is not None:
        return len(v)
    cov = 0
    if n.tuple_items is not None:
        if n.additional_items is not None:
            return len(v)
        cov = min(len(n.tuple_items), len(v))
    for sub in _applied_subschemas(v, n):
        # mirror of _names_cover: a validated applied branch with its own
        # unevaluatedItems evaluates the whole array
        if sub.unevaluated_items is not None:
            return len(v)
        cov = max(cov, _items_cover(v, sub))
        if cov >= len(v):
            return len(v)
    return cov
