"""Constraint-spec front-end: parse a JSONSchema-style dict into a SpecNode tree.

Shared by the local evaluator (``local.py``, reference-parity path E1) and the
Spark compiler (``compile_spark.py``, set-oriented path E2) so both backends
have identical semantics by construction (SURVEY.md §3).

Covers the draft-03 ∪ draft-04 keyword surface inventoried in SURVEY.md §2
Part A, plus the draft-06 conveniences ``const`` / ``contains`` and the
engine's table-level extension block ``x-table-checks`` (uniqueness /
referential / drift — SURVEY.md §2 Part B, BASELINE.json north_rule).

``$ref`` / ``definitions`` are resolved at parse time by inlining (SURVEY.md
§2 A22): the data plane never sees a ref. Cyclic refs finitely unroll
(``RECURSIVE_UNROLL``); non-cyclic chains are capped at ``MAX_REF_DEPTH``.
"""

from __future__ import annotations

import json as _json
import re
from dataclasses import dataclass, field
from typing import Any

# Keywords that are pure metadata (SURVEY.md A31) — retained, never validated.
METADATA_KEYWORDS = {"title", "description", "default", "id", "$schema", "x-table-checks",
                     "x-json"}

# JSON type names (draft-04 §3.5; draft-03 §5.1 adds "any").
JSON_TYPES = {"object", "array", "string", "number", "integer", "boolean", "null", "any"}

MAX_REF_DEPTH = 128

# Cyclic $refs (e.g. a linked-list/tree schema referencing itself) are
# finitely UNROLLED this many times; beyond that the cycle truncates to the
# permissive empty schema. Documents nested deeper than the unroll limit are
# accepted permissively past that depth (complete, not sound, below the cut
# — documented delta; erroring out on valid recursive schemas would be
# worse). Non-cyclic ref chains keep the hard MAX_REF_DEPTH error.
RECURSIVE_UNROLL = 8


class SpecError(ValueError):
    """Malformed constraint spec."""


# Memo for $ref expansion, active during one top-level parse()/parse_node()
# call (driver-side, single-threaded). Without it a schema with R ref sites
# back to a cycle unrolls as an R^RECURSIVE_UNROLL node TREE (a meta-schema
# with ~35 "#" sites would need 35^8 nodes); with it, expansion is keyed by
# (target identity, merged siblings, per-pointer cycle COUNTS) and the
# result is a shared DAG — SpecNodes are frozen, so sharing is safe. Stack
# ORDER is irrelevant to semantics: truncation tests ref_stack.count(ptr)
# and depth equals the count sum, both order-insensitive.
_REF_MEMO: dict[tuple, "SpecNode"] | None = None


@dataclass(frozen=True)
class SpecNode:
    """One schema object, normalized. Children are SpecNodes; keyword values
    are plain Python literals. Immutable so it is safe to close over when
    building Spark Column expressions on the driver."""

    # validation keywords (None = absent)
    type: tuple[str, ...] | None = None          # normalized to tuple of type names
    enum: tuple[Any, ...] | None = None
    const: Any = None
    has_const: bool = False
    minimum: float | None = None
    exclusive_minimum: bool = False              # draft-4 boolean modifier form
    maximum: float | None = None
    exclusive_maximum: bool = False
    multiple_of: float | None = None             # d4 multipleOf / d3 divisibleBy
    min_length: int | None = None
    max_length: int | None = None
    pattern: str | None = None
    items: "SpecNode | None" = None              # single-schema form
    tuple_items: tuple["SpecNode", ...] | None = None   # positional form
    additional_items: "SpecNode | bool | None" = None
    min_items: int | None = None
    max_items: int | None = None
    unique_items: bool = False
    contains: "SpecNode | None" = None
    min_contains: int | None = None             # draft-2019 refinement of contains
    max_contains: int | None = None
    required: tuple[str, ...] | None = None      # d4 array form
    d3_required: bool = False                    # d3 boolean-on-property form
    properties: dict[str, "SpecNode"] = field(default_factory=dict)
    pattern_properties: dict[str, "SpecNode"] = field(default_factory=dict)
    additional_properties: "SpecNode | bool | None" = None
    min_properties: int | None = None
    max_properties: int | None = None
    dependencies: dict[str, Any] = field(default_factory=dict)  # name -> tuple[str,...] | SpecNode
    all_of: tuple["SpecNode", ...] | None = None
    any_of: tuple["SpecNode", ...] | None = None
    one_of: tuple["SpecNode", ...] | None = None
    not_: "SpecNode | None" = None
    if_: "SpecNode | None" = None                # draft-7 conditionals
    then_: "SpecNode | None" = None
    else_: "SpecNode | None" = None
    property_names: "SpecNode | None" = None     # draft-6
    content_encoding: str | None = None          # draft-7 §8 (asserting mode)
    content_media_type: str | None = None
    content_schema: "SpecNode | None" = None     # d2019 §8.5: schema for decoded JSON
    # draft-2019 §9.3.2.4/§9.3.1.3 — apply to properties/items not evaluated
    # by this schema or a SUCCESSFULLY-validating in-place applicator branch
    unevaluated_properties: "SpecNode | bool | None" = None
    unevaluated_items: "SpecNode | bool | None" = None
    disallow: tuple[Any, ...] | None = None      # d3 §5.25: type names or schemas
    format: str | None = None
    # metadata passthrough for reporting
    meta: dict[str, Any] = field(default_factory=dict)

    def is_trivial(self) -> bool:
        """True if this node imposes no constraint (empty schema)."""
        return self == SpecNode()


@dataclass(frozen=True)
class DriftColumn:
    """One histogram column of ``x-table-checks/drift``, resolved at parse
    time (``passes.drift`` builds its bucket Column). The same grid drives
    the observed histograms and the baseline profile."""

    name: str               # label, e.g. "caption_len"
    expr: str               # SQL expression, e.g. "length(caption)"
    kind: str = "numeric"   # "numeric" | "categorical"
    lo: float | None = None
    hi: float | None = None
    buckets: int = 32


@dataclass(frozen=True)
class TableChecks:
    """Engine extension block ``x-table-checks`` (SURVEY.md §2 Part B), as
    checked and resolved by ``parse`` (``_read_table_checks``)."""

    unique: tuple[tuple[str, ...], ...] = ()
    # {"column", "dim", "key", "strategy"?}
    references: tuple[dict[str, Any], ...] = ()
    # {"columns": [...], "ks_alpha"?, "psi_max"?}; ``drift_columns`` holds
    # its resolved column entries
    drift: dict[str, Any] | None = None
    drift_columns: tuple[DriftColumn, ...] = ()
    # cross-field row predicates — SQL invariants JSON Schema cannot express
    # (e.g. "fmt <> 'raw' OR length(bytes) = w*h*3"); each entry:
    # {"name": str, "test": <SQL bool expr>, "show"?: <SQL value expr>,
    #  "columns"?: [str, ...]}  (columns override the identifier scan used
    # for fused-scan pruning)
    row_predicates: tuple[dict[str, Any], ...] = ()
    # partition-anomaly pass: {"columns": [str, ...], "z_max"?: float} —
    # robust median/MAD z-score of per-partition mean/null-rate profiles
    anomaly: dict[str, Any] | None = None
    # quantile-bound checks on merged KLL sketches (B42): each entry
    # {"column": str, "q": float, "min"?: num, "max"?: num} — verdict is
    # table-wide (the merged sketch), resume-safe like the HLL rollup
    quantiles: tuple[dict[str, Any], ...] = ()
    # distinct-cardinality bounds on the merged HLL sketches (B15): each
    # entry {"column": str, "min"?: int, "max"?: int} — catches collapsed
    # or exploded cardinality (e.g. fmt suddenly 1 distinct); table-wide
    distinct: tuple[dict[str, Any], ...] = ()
    # null-rate bounds: {"column": str, "max_rate": float} — "required" is
    # too strict at web scale; this bounds the rate instead. Verdicts per
    # partition AND table-wide, both free from the stats pass
    null_rates: tuple[dict[str, Any], ...] = ()


@dataclass(frozen=True)
class Spec:
    root: SpecNode
    table_checks: TableChecks
    raw: dict[str, Any] = field(default_factory=dict, compare=False)


def _as_tuple_of_types(v: Any) -> tuple[str, ...]:
    """Normalize d4 string / d3 union-list of type names (d3 also allows
    embedded schemas in the union; those are handled by the caller)."""
    if isinstance(v, str):
        vals = (v,)
    elif isinstance(v, list):
        vals = tuple(x for x in v if isinstance(x, str))
    else:
        raise SpecError(f"bad 'type' value: {v!r}")
    for t in vals:
        if t not in JSON_TYPES:
            raise SpecError(f"unknown type name: {t!r}")
    return vals


def _find_anchor(doc: Any, name: str, key: str = "$anchor") -> Any:
    """Depth-first search for a subschema carrying ``$anchor: name``
    (draft-2019 §8.2.3 plain-name fragments, same-document). A
    ``$dynamicAnchor`` also registers as a plain anchor (d2020 §8.2.2), so
    plain-$ref resolution accepts either; pass key="$dynamicAnchor" to
    require the dynamic flavor."""
    if isinstance(doc, dict):
        if doc.get(key) == name or (key == "$anchor" and doc.get("$dynamicAnchor") == name):
            return doc
        for v in doc.values():
            hit = _find_anchor(v, name, key)
            if hit is not None:
                return hit
    elif isinstance(doc, list):
        for v in doc:
            hit = _find_anchor(v, name, key)
            if hit is not None:
                return hit
    return None


def pointer_token(name: str) -> str:
    """Escape one JSON-Pointer reference token (RFC 6901 §3): ``~`` → ``~0``,
    then ``/`` → ``~1``, so a name containing ``/`` stays one segment.
    ``_resolve_pointer`` applies the inverse."""
    return name.replace("~", "~0").replace("/", "~1")


def _resolve_pointer(doc: Any, pointer: str) -> Any:
    """Resolve a '#/a/b' JSON-Pointer fragment — or a '#name' plain-name
    $anchor fragment (d2019) — against the root schema doc."""
    if not pointer.startswith("#"):
        raise SpecError(f"only same-document $refs supported, got {pointer!r}")
    if len(pointer) > 1 and not pointer[1:].startswith("/"):
        hit = _find_anchor(doc, pointer[1:])
        if hit is None:
            raise SpecError(f"unresolvable $anchor ref: {pointer!r}")
        return hit
    cur = doc
    frag = pointer[1:].lstrip("/")
    if not frag:
        return cur
    for token in frag.split("/"):
        token = token.replace("~1", "/").replace("~0", "~")
        if isinstance(cur, dict) and token in cur:
            cur = cur[token]
        elif isinstance(cur, list) and token.isdigit() and int(token) < len(cur):
            cur = cur[int(token)]
        else:
            raise SpecError(f"unresolvable $ref: {pointer!r}")
    return cur


def _build_id_registry(doc: Any, base: str = "", reg: dict[str, Any] | None = None) -> dict[str, Any]:
    """Collect every embedded schema resource declared via ``$id`` (draft 6+)
    or draft-4 ``id`` into a URI → subschema registry (d2020 §8.2.1 bundling).

    Base-URI chaining follows the lexical nesting rule: a relative ``$id``
    resolves against the nearest ancestor resource's id (RFC 3986 via
    ``urljoin``). Each resource registers under BOTH its raw ``$id`` string
    and its resolved absolute form, so ``{"$ref": "item.json"}`` and
    ``{"$ref": "https://ex.com/item.json"}`` both hit a resource declared as
    ``{"$id": "item.json"}`` under a root ``$id`` of ``https://ex.com/root``.
    Fragment-only ids (``"#foo"``, legal in draft 4/6) are anchors, not
    resources — they are already handled by ``_find_anchor`` and skipped here.
    """
    if reg is None:
        reg = {}
    if isinstance(doc, dict):
        idv = doc.get("$id", doc.get("id"))
        if isinstance(idv, str) and idv and not idv.startswith("#"):
            from urllib.parse import urljoin

            resolved = urljoin(base, idv) if base else idv
            reg.setdefault(idv, doc)
            reg.setdefault(resolved, doc)
            base = resolved
        for v in doc.values():
            _build_id_registry(v, base, reg)
    elif isinstance(doc, list):
        for v in doc:
            _build_id_registry(v, base, reg)
    return reg


def _resolve_id_ref(ptr: str, doc_root: dict[str, Any]) -> tuple[dict[str, Any], Any]:
    """Resolve a non-fragment ``$ref`` (``"item.json"``, ``"urn:x"``,
    ``"https://…/s.json#/a/b"``, ``"other.json#anchor"``) against the
    same-document ``$id`` registry. Returns ``(resource, target)`` — the
    embedded resource the base URI named (fragments inside the target must
    resolve against it, not the whole document) and the final target
    subschema. Raises SpecError when no embedded resource matches (true
    cross-document retrieval is out of scope — the engine never fetches
    URLs)."""
    from urllib.parse import urljoin

    base, _, frag = ptr.partition("#")
    reg = _build_id_registry(doc_root)
    root_id = doc_root.get("$id", doc_root.get("id", ""))
    resource = reg.get(base)
    if resource is None and isinstance(root_id, str) and root_id:
        resource = reg.get(urljoin(root_id, base))
        if resource is None and urljoin(root_id, base) == root_id.split("#")[0]:
            resource = doc_root  # ref points back at the root resource itself
    if resource is None:
        raise SpecError(
            f"unresolvable $ref {ptr!r}: no embedded $id matches and remote "
            "retrieval is unsupported (same-document resolution only)")
    if frag:
        if frag.startswith("/"):
            return resource, _resolve_pointer(resource, "#" + frag)
        hit = _find_anchor(resource, frag)
        if hit is None:
            raise SpecError(f"unresolvable anchor {frag!r} inside $id resource {base!r}")
        return resource, hit
    return resource, resource


def parse(schema: dict[str, Any] | bool) -> Spec:
    """Parse a full spec document (root schema + optional x-table-checks);
    one ``SpecError`` lists every problem of the x-table-checks block."""
    if schema is True:
        schema = {}
    if schema is False:
        schema = {"not": {}}
    if not isinstance(schema, dict):
        raise SpecError(f"schema must be an object, got {type(schema).__name__}")
    global _REF_MEMO
    fresh_memo = _REF_MEMO is None
    if fresh_memo:
        _REF_MEMO = {}
    try:
        root = _parse_node(schema, schema, depth=0, ref_stack=())
    finally:
        if fresh_memo:
            _REF_MEMO = None
    table_checks, problems = _read_table_checks(schema.get("x-table-checks"), root)
    if problems:
        raise SpecError(f"x-table-checks has {len(problems)} problem(s): "
                        + "; ".join(f"{ptr}: {msg}" for ptr, msg in problems))
    return Spec(root=root, table_checks=table_checks, raw=schema)


def parse_node(schema: dict[str, Any] | bool) -> SpecNode:
    """Parse a bare (sub)schema with itself as the $ref root."""
    if schema is True:
        return SpecNode()
    if schema is False:
        return SpecNode(not_=SpecNode())
    global _REF_MEMO
    fresh_memo = _REF_MEMO is None
    if fresh_memo:
        _REF_MEMO = {}
    try:
        return _parse_node(schema, schema, depth=0, ref_stack=())
    finally:
        if fresh_memo:
            _REF_MEMO = None


Problem = tuple[str, str]  # (JSON pointer, message)

_TC = "/x-table-checks"
# P3's join strategies (passes/referential.py), "broadcast" by default
JOIN_STRATEGIES = ("broadcast", "shuffle_hash", "merge")
_FAMILIES = ("unique", "references", "drift", "row-predicates", "anomaly",
             "quantiles", "distinct", "null-rates")


def sql_identifiers(expr: str) -> set[str]:
    """The identifier tokens (column names it may read) of an SQL expression."""
    return set(re.findall(r"[A-Za-z_][A-Za-z0-9_]*", expr))


def in_place_branches(node: SpecNode):
    """``node`` and, recursively, its in-place applicator subschemas whose
    property names can evaluate the same instance (allOf/anyOf/oneOf,
    if/then/else, schema-form dependencies; ``not`` never does)."""
    yield node
    for sub in ((node.all_of or ()) + (node.any_of or ()) + (node.one_of or ())
                + tuple(x for x in (node.if_, node.then_, node.else_) if x is not None)
                + tuple(d for d in node.dependencies.values()
                        if isinstance(d, SpecNode))):
        yield from in_place_branches(sub)


def declared_names(node: SpecNode) -> set[str]:
    """The property names ``node`` lists in ``properties`` or ``required``."""
    return {*node.properties, *(node.required or ())}


def _drift_name(expr: str) -> str:
    """The slug naming a drift expression without a "name" (``length(caption)``
    -> ``length_caption``): sink paths and verdict keys carry no raw SQL."""
    return re.sub(r"[^A-Za-z0-9]+", "_", expr).strip("_") or "expr"


def _is_name(v: Any) -> bool:
    return isinstance(v, str) and v != ""


def _number(v: Any) -> bool:
    return isinstance(v, (int, float)) and not isinstance(v, bool)


def _read_table_checks(tc: Any, root: SpecNode | None, lint: bool = False
                       ) -> tuple[TableChecks, list[Problem]]:
    """THE reader of the ``x-table-checks`` block: checks every entry and
    resolves the drift columns, collecting each problem as a (pointer,
    message) pair; ``lint=True`` adds the ones a run survives (inverted
    min/max, ``z_max <= 0``). A stats-family column must be named where
    ``compile_table`` can put it in the fused scan (root or in-place branch
    properties/required/patternProperties, or a row predicate); that walk
    and bare-string drift entries are skipped without ``root``."""
    problems: list[Problem] = []

    def need(ok: Any, ptr: str, msg: str) -> bool:
        if not ok:
            problems.append((ptr, msg))
        return bool(ok)

    tc = {} if tc is None else tc
    if not need(isinstance(tc, dict), _TC, f"must be an object, got {tc!r}"):
        return TableChecks(), problems
    for fam in tc:
        need(fam in _FAMILIES, f"{_TC}/{fam}", f"unknown check family {fam!r}")

    def entries(ptr: str, value: Any, kind: Any = dict, what: str = "an object"):
        if not need(isinstance(value, (list, tuple)), ptr, f"must be an array, got {value!r}"):
            return []
        return [(f"{ptr}/{i}", e) for i, e in enumerate(value)
                if need(isinstance(e, kind), f"{ptr}/{i}", f"must be {what}, got {e!r}")]

    def family(fam: str, **kw):
        return entries(f"{_TC}/{fam}", tc.get(fam, []), **kw)

    unique = tuple(tuple(k) for p, k in family(
        "unique", kind=(list, tuple), what="an array of column names")
        if need(k and all(map(_is_name, k)), p, "a key must be a non-empty array of column names"))
    references = tuple(dict(r) for p, r in family("references") if all([
        *[need(_is_name(r.get(f)), p, f"missing {f!r}") for f in ("column", "dim", "key")],
        need(r.get("strategy", "broadcast") in JOIN_STRATEGIES, f"{p}/strategy",
             f"unknown join strategy {r.get('strategy')!r}, not one of {JOIN_STRATEGIES}")]))
    predicates = tuple(dict(r) for p, r in family("row-predicates") if all([
        need(_is_name(r.get("name")), p, "row-predicate needs a non-empty 'name'"),
        need(_is_name(r.get("test")), p, "row-predicate needs a SQL 'test' string")]))

    anomaly = tc.get("anomaly")
    ptr = f"{_TC}/anomaly"
    if anomaly is not None and need(isinstance(anomaly, dict), ptr, "must be an object"):
        cols, z = anomaly.get("columns"), anomaly.get("z_max")
        need(isinstance(cols, list) and cols and all(map(_is_name, cols)), ptr,
             "anomaly needs a non-empty 'columns' list of expressions")
        need(not (lint and _number(z) and z <= 0), ptr, f"z_max={z} flags every partition")
        anomaly = dict(anomaly)

    drift, drift_columns = tc.get("drift"), []
    ptr = f"{_TC}/drift"
    if drift is not None and need(isinstance(drift, dict), ptr, "must be an object"):
        for p, e in entries(f"{ptr}/columns", drift.get("columns", []), (dict, str),
                            "an object or a property name"):
            drift_columns += _drift_column(p, e, root, need)
        drift = dict(drift)

    bounded: dict[str, list] = {}
    for fam in ("quantiles", "distinct", "null-rates"):
        bounded[fam] = []
        for p, c in family(fam):
            lo, hi, q, r = (c.get(k) for k in ("min", "max", "q", "max_rate"))
            oks = [need(_is_name(c.get("column")), p, f"{fam} check needs a 'column'")]
            if fam == "null-rates":
                oks.append(need(_number(r) and 0 <= r <= 1, p,
                                f"null-rate check needs 0 <= max_rate <= 1, got {r!r}"))
            else:
                oks.append(need((lo, hi) != (None, None) and all(
                    v is None or _number(v) for v in (lo, hi)), p,
                    "needs a numeric 'min' or 'max' bound (neither checks nothing)"))
                if fam == "quantiles":
                    oks.append(need(_number(q) and 0 < q < 1, p,
                                    f"quantile check needs 0 < q < 1, got {q!r}"))
                need(not (lint and _number(lo) and _number(hi) and lo > hi), p,
                     f"min ({lo}) > max ({hi}): unsatisfiable")
            if all(oks):
                bounded[fam].append((p, dict(c)))

    if root is not None:
        branches = list(in_place_branches(root))
        named = set().union(*map(declared_names, branches))
        patterns = [p for b in branches for p in b.pattern_properties]
        for pred in predicates:
            cols = pred.get("columns")
            named |= set(cols) if cols is not None else sql_identifiers(pred["test"])
        for p, c in (x for checks in bounded.values() for x in checks):
            col = c["column"]
            need(col in named or any(re.search(rx, col) for rx in patterns), p,
                 f"column {col!r} is not named by the spec's properties, required, "
                 "patternProperties or row predicates (the check is judged from "
                 "the fused stats scan)" if named or patterns else
                 f"column {col!r}: the spec has no properties, so the stats scan "
                 "has no columns to judge it from")

    return TableChecks(
        unique=unique, references=references, drift=drift,
        drift_columns=tuple(drift_columns), row_predicates=predicates,
        anomaly=anomaly,
        quantiles=tuple(c for _, c in bounded["quantiles"]),
        distinct=tuple(c for _, c in bounded["distinct"]),
        null_rates=tuple(c for _, c in bounded["null-rates"]),
    ), problems


def _drift_column(ptr: str, e: dict | str, root: SpecNode | None, need) -> list[DriftColumn]:
    """Resolve one drift column entry: an object ``{"expr", "name"?,
    "kind"?, "lo"?, "hi", "buckets"?}`` (expressions need explicit ranges:
    a guessed one blinds KS/PSI), or a root property name, categorical if
    string-typed, else ranged by its minimum/maximum."""
    if isinstance(e, dict):
        expr, lo, hi, n = e.get("expr"), e.get("lo", 0.0), e.get("hi"), e.get("buckets", 32)
        if not need(_is_name(expr), ptr, "drift column needs a SQL 'expr' string"):
            return []
        name = e.get("name") or _drift_name(expr)
        if e.get("kind", "numeric") == "categorical":
            return [DriftColumn(name, expr, "categorical")]
        if not need(_number(lo) and _number(hi) and isinstance(n, int) and n > 0, ptr,
                    "numeric drift column needs numbers 'hi' and 'lo' (default 0) and "
                    f"a positive integer 'buckets' (default 32), got {hi!r}/{lo!r}/{n!r}"):
            return []
        return [DriftColumn(name, expr, "numeric", float(lo), float(hi), n)]
    prop = root.properties.get(e) if root is not None else None
    if prop is not None and prop.type and "string" in prop.type and "(" not in e:
        return [DriftColumn(_drift_name(e), e, "categorical")]
    if root is None or not need(
            prop is not None and prop.maximum is not None, ptr,
            f"drift column {e!r} has no derivable numeric range (no matching property "
            'with minimum/maximum); use the object form {"expr": ..., "lo": ..., '
            '"hi": ..., "buckets": ...}'):
        return []
    lo = prop.minimum if prop.minimum is not None else 0.0
    return [DriftColumn(_drift_name(e), e, "numeric", float(lo), float(prop.maximum), 32)]


def table_check_problems(schema: dict[str, Any]) -> list[Problem]:
    """Every problem of ``schema``'s ``x-table-checks`` block, including the
    ones a run survives, as (pointer, message)."""
    try:
        root = parse_node(schema)
    except (ValueError, TypeError, AttributeError, re.error):
        # a root that does not parse (SpecError is a ValueError) is the
        # meta-schema and $ref lints' concern
        root = None
    return _read_table_checks(schema.get("x-table-checks"), root, lint=True)[1]


def _sub(v: Any, root: dict, depth: int, ref_stack: tuple[str, ...] = (),
         doc_root: dict | None = None) -> SpecNode:
    if v is True:
        return SpecNode()
    if v is False:
        return SpecNode(not_=SpecNode())
    if not isinstance(v, dict):
        raise SpecError(f"subschema must be an object/bool, got {v!r}")
    return _parse_node(v, root, depth, ref_stack, doc_root)


def _parse_node(
    s: dict[str, Any], root: dict[str, Any], depth: int,
    ref_stack: tuple[str, ...] = (),
    doc_root: dict[str, Any] | None = None,
) -> SpecNode:
    # ``root`` is the CURRENT RESOURCE root (pointer/anchor fragments resolve
    # against it); ``doc_root`` is the whole document (the $id registry spans
    # it). They differ only after a $ref crossed into an embedded $id resource.
    if doc_root is None:
        doc_root = root
    if depth > MAX_REF_DEPTH:
        raise SpecError(f"$ref nesting exceeds depth cap {MAX_REF_DEPTH}")

    # --- $ref: inline the target, merging sibling keywords (d4: siblings
    # ignored, but merging is a strict superset and harmless for our corpus).
    # Cyclic refs unroll RECURSIVE_UNROLL times, then truncate permissively
    # (A22 — a recursive schema must parse, not error; see RECURSIVE_UNROLL).
    if "$ref" in s or "$dynamicRef" in s:
        # $dynamicRef (d2020 §8.2.3.2): resolves like $ref, except that when
        # the target carries a matching $dynamicAnchor the reference re-binds
        # to the OUTERMOST dynamic scope defining that anchor. We support
        # same-document schemas only, where the outermost scope is the root
        # document itself — so the document-order-first $dynamicAnchor from
        # the root IS the correct binding. (Cross-resource dynamic rebinding
        # would need an $id registry; out of scope, documented in SURVEY.)
        ptr = s.get("$ref", s.get("$dynamicRef"))
        if ref_stack.count(ptr) >= RECURSIVE_UNROLL:
            return SpecNode()
        new_root = root
        if not ptr.startswith("#"):
            # non-fragment ref: resolve via the same-document $id registry
            # (d2020 §8.2.1 bundled resources, A42); subsequent fragments
            # inside the target resolve against THAT resource, not the
            # whole document, so the resource becomes the new root.
            new_root, target = _resolve_id_ref(ptr, doc_root)
        elif "$ref" not in s and not ptr[1:].startswith("/"):
            target = _find_anchor(root, ptr[1:], key="$dynamicAnchor")
            if target is None:  # no dynamic anchor anywhere: plain-$ref fallback
                target = _resolve_pointer(root, ptr)
        else:
            target = _resolve_pointer(root, ptr)
        merged = {k: v for k, v in s.items() if k not in ("$ref", "$dynamicRef")}
        if isinstance(target, dict):
            for k, v in target.items():
                # the target's own $id must not re-register the merged node
                # as a resource (it would shadow the real one in reports)
                if k in ("$id", "id"):
                    continue
                merged.setdefault(k, v)
        # memoized expansion (see _REF_MEMO): key by resolved target +
        # sibling keywords + per-pointer cycle counts. id() keys are stable
        # here because the parse holds strong references to both roots for
        # the memo's whole lifetime (one top-level parse call).
        key = None
        if _REF_MEMO is not None:
            counts = tuple(sorted(
                (p, ref_stack.count(p)) for p in set(ref_stack + (ptr,))))
            sibs = {k: v for k, v in s.items() if k not in ("$ref", "$dynamicRef")}
            sib_key = _json.dumps(sibs, sort_keys=True, default=repr) if sibs else ""
            key = (id(root), id(doc_root), ptr, sib_key, counts)
            hit = _REF_MEMO.get(key)
            if hit is not None:
                return hit
        node = _parse_node(merged, new_root, depth + 1, ref_stack + (ptr,), doc_root)
        if key is not None:
            _REF_MEMO[key] = node
        return node

    kw: dict[str, Any] = {}
    meta = {k: s[k] for k in METADATA_KEYWORDS & s.keys() if k != "x-table-checks"}
    if meta:
        kw["meta"] = meta

    if "type" in s:
        tv = s["type"]
        # d3 union types may embed schemas: {"type": ["string", {...}]}
        if isinstance(tv, list) and any(isinstance(x, dict) for x in tv):
            alts = []
            for x in tv:
                if isinstance(x, str):
                    alts.append(SpecNode(type=_as_tuple_of_types(x)))
                else:
                    alts.append(_sub(x, root, depth + 1, ref_stack, doc_root))
            kw["any_of"] = tuple(alts) + (kw.get("any_of") or ())
        else:
            kw["type"] = _as_tuple_of_types(tv)
    if "enum" in s:
        kw["enum"] = tuple(s["enum"])
    if "const" in s:
        kw["const"] = s["const"]
        kw["has_const"] = True
    if "minimum" in s:
        kw["minimum"] = s["minimum"]
        em = s.get("exclusiveMinimum")
        if isinstance(em, bool):
            kw["exclusive_minimum"] = em
    if isinstance(s.get("exclusiveMinimum"), (int, float)) and not isinstance(s.get("exclusiveMinimum"), bool):
        # draft-6 numeric form
        kw["minimum"] = s["exclusiveMinimum"]
        kw["exclusive_minimum"] = True
    if "maximum" in s:
        kw["maximum"] = s["maximum"]
        em = s.get("exclusiveMaximum")
        if isinstance(em, bool):
            kw["exclusive_maximum"] = em
    if isinstance(s.get("exclusiveMaximum"), (int, float)) and not isinstance(s.get("exclusiveMaximum"), bool):
        kw["maximum"] = s["exclusiveMaximum"]
        kw["exclusive_maximum"] = True
    if "multipleOf" in s or "divisibleBy" in s:
        k = s.get("multipleOf", s.get("divisibleBy"))
        if not isinstance(k, (int, float)) or isinstance(k, bool) or k <= 0:
            raise SpecError(f"multipleOf must be a number > 0, got {k!r}")
        kw["multiple_of"] = k
    if "minLength" in s:
        kw["min_length"] = int(s["minLength"])
    if "maxLength" in s:
        kw["max_length"] = int(s["maxLength"])
    if "pattern" in s:
        re.compile(s["pattern"])  # fail fast at compile time (A9)
        kw["pattern"] = s["pattern"]
    if "prefixItems" in s:
        # draft-2020-12 §10.3.1.1: the tuple form moved from `items` to
        # `prefixItems`; a sibling `items` then constrains only the elements
        # PAST the prefix (exactly draft-4 additionalItems), so both map onto
        # the existing tuple machinery with identical semantics.
        pi = s["prefixItems"]
        if not isinstance(pi, list):
            raise SpecError(f"prefixItems must be an array, got {pi!r}")
        kw["tuple_items"] = tuple(_sub(x, root, depth + 1, ref_stack, doc_root) for x in pi)
        if "items" in s:
            it = s["items"]
            kw["additional_items"] = (
                it if isinstance(it, bool) else _sub(it, root, depth + 1, ref_stack, doc_root))
    elif "items" in s:
        it = s["items"]
        if isinstance(it, list):
            kw["tuple_items"] = tuple(_sub(x, root, depth + 1, ref_stack, doc_root) for x in it)
        else:
            kw["items"] = _sub(it, root, depth + 1, ref_stack, doc_root)
    if "additionalItems" in s and "prefixItems" not in s:
        # d2020 removed additionalItems; alongside prefixItems the sibling
        # `items` above already owns the tail, so a stray additionalItems is
        # ignored exactly as the 2020-12 core spec prescribes.
        ai = s["additionalItems"]
        kw["additional_items"] = ai if isinstance(ai, bool) else _sub(ai, root, depth + 1, ref_stack, doc_root)
    if "minItems" in s:
        kw["min_items"] = int(s["minItems"])
    if "maxItems" in s:
        kw["max_items"] = int(s["maxItems"])
    if "uniqueItems" in s:
        kw["unique_items"] = bool(s["uniqueItems"])
    if "contains" in s:
        kw["contains"] = _sub(s["contains"], root, depth + 1, ref_stack, doc_root)
    if "minContains" in s:
        kw["min_contains"] = int(s["minContains"])
    if "maxContains" in s:
        kw["max_contains"] = int(s["maxContains"])
    if "required" in s:
        rq = s["required"]
        if isinstance(rq, bool):           # draft-3 boolean-on-property form
            kw["d3_required"] = rq
        else:
            kw["required"] = tuple(rq)
    if "properties" in s:
        kw["properties"] = {k: _sub(v, root, depth + 1, ref_stack, doc_root) for k, v in s["properties"].items()}
    if "patternProperties" in s:
        for p in s["patternProperties"]:
            re.compile(p)
        kw["pattern_properties"] = {k: _sub(v, root, depth + 1, ref_stack, doc_root) for k, v in s["patternProperties"].items()}
    if "additionalProperties" in s:
        ap = s["additionalProperties"]
        kw["additional_properties"] = ap if isinstance(ap, bool) else _sub(ap, root, depth + 1, ref_stack, doc_root)
    if "minProperties" in s:
        kw["min_properties"] = int(s["minProperties"])
    if "maxProperties" in s:
        kw["max_properties"] = int(s["maxProperties"])
    # d4 `dependencies` plus its draft-2019 split into dependentRequired
    # (name -> [names]) and dependentSchemas (name -> schema); all three
    # normalize into the same dependencies map. A name appearing under more
    # than one keyword ANDs its constraints (draft-2019: the keywords are
    # independent) — name lists union, schemas wrap in a synthetic allOf.
    if "dependencies" in s or "dependentRequired" in s or "dependentSchemas" in s:
        raw_deps: dict[str, list[Any]] = {}
        for name, d in s.get("dependencies", {}).items():
            raw_deps.setdefault(name, []).append((d,) if isinstance(d, str) else d)
        for name, d in s.get("dependentRequired", {}).items():
            raw_deps.setdefault(name, []).append(list(d))
        for name, d in s.get("dependentSchemas", {}).items():
            raw_deps.setdefault(name, []).append(d)
        deps: dict[str, Any] = {}
        for name, entries in raw_deps.items():
            names: list[str] = []
            schemas: list[Any] = []
            for d in entries:
                if isinstance(d, (list, tuple)):
                    names.extend(n for n in d if n not in names)
                else:
                    schemas.append(d)
            if not schemas:
                deps[name] = tuple(names)
            else:
                if names:
                    schemas.append({"required": names})
                merged = schemas[0] if len(schemas) == 1 else {"allOf": schemas}
                deps[name] = _sub(merged, root, depth + 1, ref_stack, doc_root)
        kw["dependencies"] = deps
    if "allOf" in s or "extends" in s:     # d3 extends ≙ allOf (A18)
        ext = s.get("allOf", s.get("extends"))
        if isinstance(ext, dict):
            ext = [ext]
        kw["all_of"] = tuple(_sub(x, root, depth + 1, ref_stack, doc_root) for x in ext)
    if "anyOf" in s:
        kw["any_of"] = tuple(_sub(x, root, depth + 1, ref_stack, doc_root) for x in s["anyOf"]) + (kw.get("any_of") or ())
    if "oneOf" in s:
        kw["one_of"] = tuple(_sub(x, root, depth + 1, ref_stack, doc_root) for x in s["oneOf"])
    if "not" in s:
        kw["not_"] = _sub(s["not"], root, depth + 1, ref_stack, doc_root)
    # draft-7 conditionals: then/else are inert without if (spec §6.6)
    if "if" in s:
        kw["if_"] = _sub(s["if"], root, depth + 1, ref_stack, doc_root)
        if "then" in s:
            kw["then_"] = _sub(s["then"], root, depth + 1, ref_stack, doc_root)
        if "else" in s:
            kw["else_"] = _sub(s["else"], root, depth + 1, ref_stack, doc_root)
    if "propertyNames" in s:
        kw["property_names"] = _sub(s["propertyNames"], root, depth + 1, ref_stack, doc_root)
    if "unevaluatedProperties" in s:
        up = s["unevaluatedProperties"]
        kw["unevaluated_properties"] = up if isinstance(up, bool) else _sub(up, root, depth + 1, ref_stack, doc_root)
    if "unevaluatedItems" in s:
        ui = s["unevaluatedItems"]
        kw["unevaluated_items"] = ui if isinstance(ui, bool) else _sub(ui, root, depth + 1, ref_stack, doc_root)
    if "contentEncoding" in s:
        kw["content_encoding"] = s["contentEncoding"]
    if "contentMediaType" in s:
        kw["content_media_type"] = s["contentMediaType"]
    if "contentSchema" in s and s.get("contentMediaType") == "application/json":
        # d2019 §8.5: contentSchema only applies alongside contentMediaType;
        # JSON is the one media type whose decoded form we can re-validate
        kw["content_schema"] = _sub(s["contentSchema"], root, depth + 1, ref_stack, doc_root)
    if "disallow" in s:                    # d3 §5.25: type name | schema | list
        dv = s["disallow"]
        if not isinstance(dv, list):
            dv = [dv]
        kw["disallow"] = tuple(
            x if isinstance(x, str) else _sub(x, root, depth + 1, ref_stack, doc_root) for x in dv
        )
    if "format" in s:
        kw["format"] = s["format"]

    return SpecNode(**kw)
