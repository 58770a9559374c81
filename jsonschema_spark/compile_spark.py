"""E2 backend: compile a SpecNode tree into Spark ``Column`` predicates.

This is the engine's "compiler backend" (SURVEY.md §2 B5): every draft-03/04
keyword from Part A becomes a JVM-side Column expression — whole-stage
codegen, zero per-row Python (BASELINE.json:15). There is one object
compiler, ``compile_node``: a table row is one object whose properties are
its columns, so ``compile_table`` compiles the spec's root with it over a
struct of the columns, exactly as a nested struct column is compiled; an
``x-json`` string value is dispatched to ``compile_json_node`` from there.
One compiled table spec yields:

- ``row_checks``: list of CheckExpr (keyword, path, null-safe predicate,
  offending-value column) — evaluated in a single ``select`` producing an
  ``array<struct<keyword,path,value>>`` per row, then ``filter`` + ``explode``
  (SURVEY.md B5/B6).
- per-column stats expressions for the fused single-scan stats pass (B14).

Null semantics (matches the E1 evaluator / JSON Schema): a NULL cell means
"property absent" — only ``required`` fires on it; every other keyword's
predicate is null-forgiving via ``coalesce(pred, true)``.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, replace
from functools import cached_property, reduce
from typing import Any

from pyspark.sql import Column
from pyspark.sql.classic.column import Column as ClassicColumn
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import formats
from .formats import FORMAT_REGEXES
from .spec import (Spec, SpecNode, declared_names, in_place_branches,
                   pointer_token, sql_identifiers)
from . import sqlglue

VIOLATION_STRUCT = T.StructType(
    [
        T.StructField("keyword", T.StringType()),
        T.StructField("path", T.StringType()),
        T.StructField("value", T.StringType()),
    ]
)


@dataclass
class CheckExpr:
    keyword: str
    path: str            # JSON-Pointer-style path, e.g. "/w"
    ok: Column           # True/Null = row passes (null-forgiving already applied)
    value: Column        # offending value rendered as string

    @property
    def check_id(self) -> str:
        return f"{self.keyword}@{self.path}"


def column_pointer(name: Column) -> Column:
    """``/<name>`` with ``name`` escaped as ``spec.pointer_token`` escapes
    it: the path of a table-wide check, whose column name is data."""
    tok = F.replace(F.replace(name, F.lit("~"), F.lit("~0")), F.lit("/"), F.lit("~1"))
    return F.concat(F.lit("/"), tok)


class CompileError(ValueError):
    pass


_NUMERIC = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType,
)
_INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)


def _is_numeric(dt: T.DataType | None) -> bool:
    return isinstance(dt, _NUMERIC)


def _spark_type_matches(dt: T.DataType | None, jt: str) -> bool | None:
    """Static check of a Spark dtype against a JSON type name.

    Returns True (always matches), False (never), or None (runtime check
    needed — e.g. ``integer`` over a double column)."""
    if dt is None or jt == "any":
        return True if jt in ("any",) else None
    if jt == "string":
        return isinstance(dt, (T.StringType, T.BinaryType, T.TimestampType, T.DateType))
    if jt == "boolean":
        return isinstance(dt, T.BooleanType)
    if jt == "number":
        return _is_numeric(dt)
    if jt == "integer":
        if isinstance(dt, _INTEGRAL):
            return True
        if isinstance(dt, (T.FloatType, T.DoubleType, T.DecimalType)):
            return None  # runtime: integral-valued?
        return False
    if jt == "array":
        return isinstance(dt, T.ArrayType)
    if jt == "object":
        return isinstance(dt, (T.StructType, T.MapType))
    if jt == "null":
        return None  # runtime isNull
    return False


def _forgive_null(col: Column, pred: Column) -> Column:
    return F.when(col.isNull(), F.lit(True)).otherwise(F.coalesce(pred, F.lit(False)))


def _lit_eq(col: Column, dt: T.DataType | None, v: Any) -> Column | None:
    """Typed JSON equality of a cell against a Python literal.

    Returns a boolean Column, or None when the literal's JSON type can never
    match the column's Spark dtype (bool vs number distinction included —
    JSON true ≠ 1, "1" ≠ 1), mirroring local._json_eq."""
    if isinstance(v, bool):
        if dt is None or isinstance(dt, T.BooleanType):
            return col == F.lit(v)
        return None
    if isinstance(v, (int, float)):
        if dt is None or _is_numeric(dt):
            return col == F.lit(v)
        return None
    if isinstance(v, str):
        if dt is None or isinstance(dt, T.StringType):
            return col == F.lit(v)
        return None
    if isinstance(v, list) and isinstance(dt, T.ArrayType):
        ev = dt.elementType
        ok = (
            (all(isinstance(x, bool) for x in v) and isinstance(ev, T.BooleanType))
            or (all(isinstance(x, (int, float)) and not isinstance(x, bool) for x in v)
                and _is_numeric(ev))
            or (all(isinstance(x, str) for x in v) and isinstance(ev, T.StringType))
        )
        if ok:
            return col == F.array(*[F.lit(x) for x in v]) if v else F.size(col) == 0
        return None
    return None  # dicts / nested arrays: no flat-column representation


def node_valid(node: SpecNode, col: Column, dt: T.DataType | None) -> Column:
    """Single boolean Column: does `col` satisfy the whole (sub)schema?
    Used inside combinators (anyOf/oneOf/not) and array lambdas."""
    checks = compile_node(node, col, path="", dt=dt)
    if not checks:
        return F.lit(True)
    return reduce(lambda a, b: a & b, (c.ok for c in checks))


# --- draft-2019 unevaluated* support (annotation-flow compilation) ---------
# The draft's rule: a property/item is "evaluated" if this schema or an
# in-place applicator branch that APPLIED AND VALIDATED names it. Coverage
# therefore mixes compile-time facts (static property names / regexes) with
# runtime branch validity — compiled here as boolean guard Columns.

_ALL_ITEMS = object()  # sentinel: every item is evaluated


def _applicator_guards(
    node: SpecNode, col: Column, dt: T.DataType | None
) -> list[tuple[SpecNode, Column]]:
    """(branch, guard) pairs where guard is true iff the branch's
    annotations apply to this value under draft-2019 semantics."""
    out: list[tuple[SpecNode, Column]] = []

    def valid(sub: SpecNode) -> Column:
        return F.coalesce(node_valid(sub, col, dt), F.lit(False))

    for br in (node.all_of or ()) + (node.any_of or ()) + (node.one_of or ()):
        out.append((br, valid(br)))
    if node.if_ is not None:
        g = valid(node.if_)
        out.append((node.if_, g))
        if node.then_ is not None:
            out.append((node.then_, g & valid(node.then_)))
        if node.else_ is not None:
            out.append((node.else_, ~g & valid(node.else_)))
    for name, dep in node.dependencies.items():
        if not isinstance(dep, SpecNode):
            continue
        if isinstance(dt, T.StructType):
            present = (col.getField(name).isNotNull()
                       if name in {f.name for f in dt.fields} else F.lit(False))
        elif isinstance(dt, T.MapType):
            present = F.map_contains_key(col, F.lit(name))
        else:
            continue
        out.append((dep, present & valid(dep)))
    return out


def _unmatched(names, props, pats) -> list[str]:
    """The ``names`` that ``props`` does not list and no regex in ``pats``
    matches: the properties ``additionalProperties`` applies to."""
    return [n for n in names if n not in props and not any(re.search(p, n) for p in pats)]


def _covers(
    node: SpecNode, key: str | Column, col: Column, dt: T.DataType | None
) -> Column | bool:
    """Is property ``key`` evaluated? ``key`` is a struct field name, whose
    static coverage folds to True/False at compile time, or a map-key
    Column, where static names become ``isin`` and patterns ``rlike``;
    runtime branch validity adds guard Columns."""
    if node.additional_properties is not None:
        return True
    terms: list[Column] = []
    if isinstance(key, str):
        if key in node.properties or any(re.search(rx, key) for rx in node.pattern_properties):
            return True
    else:
        if node.properties:
            terms.append(key.isin(*node.properties.keys()))
        terms.extend(key.rlike(sqlglue.to_java_regex(rx)) for rx in node.pattern_properties)
    for sub, guard in _applicator_guards(node, col, dt):
        # a validated applied branch carrying its own unevaluatedProperties
        # evaluates every name (annotation flow — mirrors local._names_cover)
        c = (True if sub.unevaluated_properties is not None
             else _covers(sub, key, col, dt))
        if c is False:
            continue
        terms.append(guard if c is True else guard & c)
    if not terms:
        return False
    return reduce(lambda a, b: a | b, terms)


def _items_covered(node: SpecNode, col: Column, dt: T.DataType | None):
    """Evaluated-prefix length for an array column: _ALL_ITEMS, an int, or
    an int Column when branch guards make it runtime-dependent. Divergence
    (documented, mirrors local.py): contains-matched items are not tracked."""
    if node.items is not None:
        return _ALL_ITEMS
    base = 0
    if node.tuple_items is not None:
        if node.additional_items is not None:
            return _ALL_ITEMS
        base = len(node.tuple_items)
    parts: list[Column] = []
    for sub, guard in _applicator_guards(node, col, dt):
        c = (_ALL_ITEMS if sub.unevaluated_items is not None
             else _items_covered(sub, col, dt))
        if c is _ALL_ITEMS:
            parts.append(F.when(guard, F.size(col)).otherwise(F.lit(0)))
        else:
            cc = F.lit(c) if isinstance(c, int) else c
            parts.append(F.when(guard, cc).otherwise(F.lit(0)))
    if not parts:
        return base
    return F.greatest(F.lit(base), *parts)


def _contains_subschemas(
    node: SpecNode, col: Column, dt: T.DataType | None
) -> list[tuple[SpecNode, Column | None]]:
    """(contains-subschema, guard) pairs whose annotations apply at this
    node — the compiled mirror of local._contains_evaluators; guard is None
    for this schema's own contains, a branch-validity Column otherwise."""
    out: list[tuple[SpecNode, Column | None]] = []
    if node.contains is not None:
        out.append((node.contains, None))
    for br, guard in _applicator_guards(node, col, dt):
        for sub, g in _contains_subschemas(br, col, dt):
            out.append((sub, guard if g is None else (guard & g)))
    return out


def compile_node(  # noqa: C901 — keyword dispatch is intrinsically wide
    node: SpecNode, col: Column, path: str, dt: T.DataType | None
) -> list[CheckExpr]:
    """Compile one SpecNode against one Column. Returns null-forgiving checks.

    A check's value defaults to ``col`` rendered as a string, except when
    ``col`` is the whole table row (``_TableRow``): rendering it would make
    the scan read every column, so its own checks carry a NULL value."""
    if node.meta.get("x-json"):
        # engine extension: the value is a JSON-STRING payload, compiled by
        # the same compile_json_node as validate_json_rows
        if not isinstance(dt, T.StringType):
            name = path.rsplit("/", 1)[-1]
            raise CompileError(f"x-json column {name!r} must be a string column")
        return compile_json_node(node, col, path)
    out: list[CheckExpr] = []
    sval = (F.lit(None).cast("string") if isinstance(col, _TableRow)
            else col.cast("string"))

    def add(keyword: str, ok: Column, p: str | None = None, value: Column | None = None):
        out.append(CheckExpr(keyword, p if p is not None else path,
                             ok, value if value is not None else sval))

    def at(name: str) -> str:
        # the instance path of a property: its name is one escaped segment
        return f"{path}/{pointer_token(name)}"

    # --- A1 type ---------------------------------------------------------
    if node.type is not None:
        alts: list[Column] = []
        always = False
        for jt in node.type:
            m = _spark_type_matches(dt, jt)
            if m is True:
                always = True
                break
            if m is None:
                if jt == "integer" and _is_numeric(dt):
                    alts.append(col == F.floor(col))
                elif jt == "null":
                    alts.append(col.isNull())
                else:
                    alts.append(F.lit(True))  # unknown dtype: permissive
        if not always:
            pred = reduce(lambda a, b: a | b, alts) if alts else F.lit(False)
            add("type", _forgive_null(col, pred))

    # --- A21 disallow (d3) ----------------------------------------------
    if node.disallow is not None:
        bad: list[Column] = []
        for d in node.disallow:
            if isinstance(d, str):
                m = _spark_type_matches(dt, d)
                if m is True:
                    bad.append(F.lit(True))
                elif m is None:
                    if d == "integer" and _is_numeric(dt):
                        bad.append(col == F.floor(col))
                    elif d == "null":
                        bad.append(col.isNull())
            else:
                bad.append(node_valid(d, col, dt))
        if bad:
            pred = ~reduce(lambda a, b: a | b, bad)
            add("disallow", _forgive_null(col, pred))

    # --- A2/A3 enum & const ----------------------------------------------
    # JSON equality is typed: a boolean cell never equals 1, a string cell
    # never equals an int member. Members whose JSON type can't match the
    # column's dtype contribute no predicate (they simply can never match).
    if node.enum is not None:
        preds = [p for v in node.enum if v is not None
                 and (p := _lit_eq(col, dt, v)) is not None]
        allows_null = any(v is None for v in node.enum)
        pred = reduce(lambda a, b: a | b, preds) if preds else F.lit(False)
        if allows_null:
            add("enum", F.coalesce(pred, col.isNull()))
        else:
            add("enum", _forgive_null(col, pred))
    if node.has_const:
        if node.const is None:
            add("const", col.isNull())
        else:
            p = _lit_eq(col, dt, node.const)
            add("const", _forgive_null(col, p if p is not None else F.lit(False)))

    # --- A4–A6 numeric bounds ---------------------------------------------
    if _is_numeric(dt) or dt is None:
        if node.minimum is not None:
            kw = "exclusiveMinimum" if node.exclusive_minimum else "minimum"
            pred = col > F.lit(node.minimum) if node.exclusive_minimum else col >= F.lit(node.minimum)
            add(kw, _forgive_null(col, pred))
        if node.maximum is not None:
            kw = "exclusiveMaximum" if node.exclusive_maximum else "maximum"
            pred = col < F.lit(node.maximum) if node.exclusive_maximum else col <= F.lit(node.maximum)
            add(kw, _forgive_null(col, pred))
        if node.multiple_of is not None:
            k = node.multiple_of
            if isinstance(k, int) and isinstance(dt, _INTEGRAL):
                pred = F.pmod(col, F.lit(k)) == 0
            else:
                q = col / F.lit(float(k))
                pred = F.abs(q - F.round(q)) < F.lit(1e-9)
            add("multipleOf", _forgive_null(col, pred))

    # --- A7–A9, A23–A30 string checks --------------------------------------
    if isinstance(dt, T.StringType) or dt is None:
        if node.min_length is not None:
            add("minLength", _forgive_null(col, F.length(col) >= node.min_length))
        if node.max_length is not None:
            add("maxLength", _forgive_null(col, F.length(col) <= node.max_length))
        if node.pattern is not None:
            add("pattern", _forgive_null(col, col.rlike(sqlglue.to_java_regex(node.pattern))))
        if node.format is not None and node.format in FORMAT_REGEXES:
            add("format", _forgive_null(col, col.rlike(FORMAT_REGEXES[node.format])))
        # draft-7 §8 content keywords, asserting mode (formats.py rationale).
        # All JVM-side: base64 shape via rlike; media type via a hex-prefix
        # compare on the (lazily, when-guarded) decoded bytes.
        if node.content_encoding == "base64":
            add("contentEncoding", _forgive_null(col, col.rlike(formats.BASE64_RE)))
        if node.content_media_type is not None:
            mt = node.content_media_type
            if node.content_encoding == "base64":
                blob = F.unbase64(col)
            else:
                blob = col.cast("binary")  # raw string: bytes are its UTF-8
            if mt == "application/json":
                ok = F.try_parse_json(col if node.content_encoding is None
                                      else blob.cast("string")).isNotNull()
            elif mt in formats.MEDIA_TYPE_MAGIC:
                magic = formats.MEDIA_TYPE_MAGIC[mt]
                ok = F.hex(F.substring(blob, 1, len(magic))) == magic.hex().upper()
                if mt == "image/webp":
                    ok = ok & (F.hex(F.substring(blob, 9, 4)) == b"WEBP".hex().upper())
            else:
                ok = F.lit(True)  # unknown media type: permissive
            if node.content_encoding == "base64":
                # decode-failure is contentEncoding's violation, not this one's
                ok = F.when(col.rlike(formats.BASE64_RE), ok).otherwise(F.lit(True))
            add("contentMediaType", _forgive_null(col, ok))
            if mt == "application/json" and node.content_schema is not None:
                # d2019 contentSchema: re-validate the decoded JSON content
                cs = node.content_schema
                jtxt = blob.cast("string") if node.content_encoding == "base64" else col
                cdt = spec_struct_type(cs)
                if isinstance(cdt, (T.StructType, T.ArrayType, T.MapType)):
                    parsed = F.from_json(jtxt, cdt)
                    cs_ok = F.coalesce(node_valid(cs, parsed, cdt), F.lit(True))
                else:
                    # scalar contentSchema (e.g. {"type":"integer"}): from_json
                    # only accepts container types, so parse {"v": <text>} into
                    # struct<v: scalar> — proper JSON scalar parsing (quoted
                    # strings, null) entirely inside codegen. A JSON value that
                    # does not coerce to the scalar type parses to null, which
                    # is a TYPE mismatch (not a forgiven null) unless the
                    # subschema's type admits null — mirrors the E1 evaluator.
                    parsed = F.from_json(
                        F.concat(F.lit('{"v":'), jtxt, F.lit('}')),
                        T.StructType([T.StructField("v", cdt)]),
                    )["v"]
                    nt = cs.type
                    allows_null = nt is None or "null" in nt or "any" in nt
                    cs_ok = (
                        F.coalesce(node_valid(cs, parsed, cdt), F.lit(True))
                        & (parsed.isNotNull() | F.lit(allows_null))
                    )
                # only judge content that parsed as JSON (media-type/encoding
                # violations own the unparseable cases)
                add("contentSchema", _forgive_null(
                    col, F.when(ok, cs_ok).otherwise(F.lit(True))))

    # --- A10–A13 arrays ------------------------------------------------------
    if isinstance(dt, T.ArrayType) or (dt is None and (
            node.items or node.tuple_items or node.min_items is not None
            or node.max_items is not None or node.unique_items or node.contains)):
        elem_dt = dt.elementType if isinstance(dt, T.ArrayType) else None
        if node.min_items is not None:
            add("minItems", _forgive_null(col, F.size(col) >= node.min_items))
        if node.max_items is not None:
            add("maxItems", _forgive_null(col, F.size(col) <= node.max_items))
        if node.unique_items:
            add("uniqueItems", _forgive_null(col, F.size(col) == F.size(F.array_distinct(col))))
        if node.items is not None and not node.items.is_trivial():
            sub = node.items
            add("items",
                _forgive_null(col, F.forall(col, lambda x: node_valid(sub, x, elem_dt))),
                value=F.to_json(F.filter(col, lambda x: ~F.coalesce(node_valid(sub, x, elem_dt), F.lit(False))))
                if elem_dt is not None else sval)
        if node.tuple_items is not None:
            for i, sub in enumerate(node.tuple_items):
                if sub.is_trivial():
                    continue
                el = F.element_at(col, i + 1)
                ok = F.when(F.size(col) > i, node_valid(sub, el, elem_dt)).otherwise(F.lit(True))
                add("items", _forgive_null(col, ok), p=f"{path}/{i}", value=el.cast("string"))
            if node.additional_items is False:
                add("additionalItems", _forgive_null(col, F.size(col) <= len(node.tuple_items)))
            elif isinstance(node.additional_items, SpecNode) and not node.additional_items.is_trivial():
                ai = node.additional_items
                n0 = len(node.tuple_items)
                extras_ok = F.forall(
                    F.slice(col, n0 + 1, F.greatest(F.size(col) - n0, F.lit(0))),
                    lambda x: node_valid(ai, x, elem_dt),
                )
                add("additionalItems",
                    _forgive_null(col, F.when(F.size(col) <= n0, F.lit(True)).otherwise(extras_ok)))
        if node.contains is not None:
            sub = node.contains
            if node.min_contains is None and node.max_contains is None:
                add("contains", _forgive_null(col, F.exists(col, lambda x: node_valid(sub, x, elem_dt))))
            else:
                # draft-2019 counting form: one filter pass, both bounds
                cnt = F.size(F.filter(col, lambda x: F.coalesce(node_valid(sub, x, elem_dt), F.lit(False))))
                minc = 1 if node.min_contains is None else node.min_contains
                add("contains" if node.min_contains is None else "minContains",
                    _forgive_null(col, cnt >= minc))
                if node.max_contains is not None:
                    add("maxContains", _forgive_null(col, cnt <= node.max_contains))
        if node.unevaluated_items is not None and node.unevaluated_items is not True:
            cov = _items_covered(node, col, dt)
            if cov is not _ALL_ITEMS:
                covc = F.lit(cov) if isinstance(cov, int) else cov
                # d2019 §9.3.1.4: items matched by an applicable `contains`
                # (this schema's or a validated applied branch's, guard-
                # Column-gated) are evaluated — exempt them per item
                cpreds = _contains_subschemas(node, col, dt)

                def _cont_ok(x):
                    terms = [
                        (g & F.coalesce(node_valid(sub, x, elem_dt), F.lit(False)))
                        if g is not None
                        else F.coalesce(node_valid(sub, x, elem_dt), F.lit(False))
                        for sub, g in cpreds
                    ]
                    return reduce(lambda a, b: a | b, terms) if terms else F.lit(False)

                tail = F.slice(col, covc + F.lit(1),
                               F.greatest(F.size(col) - covc, F.lit(0)))
                if node.unevaluated_items is False:
                    if cpreds:
                        ok = F.forall(tail, _cont_ok)
                    else:
                        ok = F.size(col) <= covc
                    add("unevaluatedItems", _forgive_null(col, ok))
                else:
                    ui = node.unevaluated_items
                    ok = F.forall(tail, lambda x: _cont_ok(x) | F.coalesce(
                        node_valid(ui, x, elem_dt), F.lit(True)))
                    add("unevaluatedItems", _forgive_null(col, ok))

    # --- A15–A17 objects -----------------------------------------------------
    if isinstance(dt, T.StructType):
        fields = {f.name: f.dataType for f in dt.fields}

        def has(name: str) -> Column:
            return col.getField(name).isNotNull() if name in fields else F.lit(False)

        def require(name: str) -> None:
            add("required", col.isNull() | has(name), p=at(name),
                value=F.lit(None).cast("string"))

        for name in node.required or ():
            require(name)
        for name, sub in node.properties.items():
            if name in fields:
                out.extend(compile_node(sub, col.getField(name), at(name), fields[name]))
            if sub.d3_required:
                require(name)
        for pat, sub in node.pattern_properties.items():
            # names are static: a pattern applies to every field it matches,
            # `properties` names included (as in E1)
            for name in fields:
                if re.search(pat, name):
                    out.extend(compile_node(sub, col.getField(name), at(name), fields[name]))
        ap = node.additional_properties
        if ap is False or isinstance(ap, SpecNode):
            for n in _unmatched(fields, node.properties, node.pattern_properties):
                if ap is False:
                    add("additionalProperties", col.isNull() | col.getField(n).isNull(),
                        p=at(n), value=col.getField(n).cast("string"))
                else:
                    out.extend(compile_node(ap, col.getField(n), at(n), fields[n]))
        if node.min_properties is not None or node.max_properties is not None:
            # struct arity is static; count non-null fields at runtime
            cnt = reduce(lambda a, b: a + b,
                         [has(f).cast("int") for f in fields]) if fields else F.lit(0)
            if node.min_properties is not None:
                add("minProperties", _forgive_null(col, cnt >= node.min_properties))
            if node.max_properties is not None:
                add("maxProperties", _forgive_null(col, cnt <= node.max_properties))
        if node.property_names is not None:
            # struct field names are static — validate each NAME at compile
            # time with the local evaluator (same SpecNode semantics by
            # construction); a bad name violates iff the field is present
            from .local import is_valid as _name_valid
            for n_ in fields:
                if not _name_valid(n_, node.property_names):
                    add("propertyNames", col.isNull() | col.getField(n_).isNull(),
                        p=at(n_), value=F.lit(n_))
        for name, dep in node.dependencies.items():
            if name not in fields:
                continue
            present = has(name)
            if isinstance(dep, tuple):
                for d in dep:
                    add("dependencies", _forgive_null(col, F.when(present, has(d)).otherwise(F.lit(True))),
                        p=at(d))
            else:
                add("dependencies",
                    _forgive_null(col, F.when(present, node_valid(dep, col, dt)).otherwise(F.lit(True))))
        if node.unevaluated_properties is not None and node.unevaluated_properties is not True:
            # struct fields are static names — coverage folds to compile-time
            # True/False plus runtime branch-validity guards. In the false
            # form a field is a violation iff present AND unevaluated; in the
            # schema form an unevaluated field gets the subschema's own
            # checks (as in E1), each passing wherever the field is covered
            up = node.unevaluated_properties
            for f in fields:
                covf = _covers(node, f, col, dt)
                if covf is True:
                    continue
                fcol = col.getField(f)
                if isinstance(up, SpecNode):
                    out.extend(c if covf is False else replace(c, ok=covf | c.ok)
                               for c in compile_node(up, fcol, at(f), fields[f]))
                    continue
                ok = fcol.isNull() if covf is False else fcol.isNull() | covf
                add("unevaluatedProperties", _forgive_null(col, ok),
                    p=at(f), value=fcol.cast("string"))
    elif isinstance(dt, T.MapType):
        if node.required is not None:
            for name in node.required:
                add("required", col.isNull() | F.map_contains_key(col, F.lit(name)),
                    p=at(name), value=F.lit(None).cast("string"))
        for name, sub in node.properties.items():
            v = F.element_at(col, F.lit(name))
            out.extend(compile_node(sub, v, at(name), dt.valueType))
        for pat, sub in node.pattern_properties.items():
            jpat = sqlglue.to_java_regex(pat)
            ok = F.forall(
                F.map_values(F.map_filter(col, lambda k, _v: k.rlike(jpat))),
                lambda v: node_valid(sub, v, dt.valueType),
            )
            add("patternProperties", _forgive_null(col, ok), p=f"{path}")
        ap = node.additional_properties
        if ap is False or isinstance(ap, SpecNode):
            names = list(node.properties)
            pats = [sqlglue.to_java_regex(p) for p in node.pattern_properties]
            def _extra(k: Column) -> Column:
                known = k.isin(*names) if names else F.lit(False)
                for jp in pats:
                    known = known | k.rlike(jp)
                return ~known
            if ap is False:
                ok = F.size(F.filter(F.map_keys(col), _extra)) == 0
            else:
                # one check over the unmatched keys' values, as patternProperties
                ok = F.forall(F.map_values(F.map_filter(col, lambda k, _v: _extra(k))),
                              lambda v: node_valid(ap, v, dt.valueType))
            add("additionalProperties", _forgive_null(col, ok))
        if node.min_properties is not None:
            add("minProperties", _forgive_null(col, F.size(col) >= node.min_properties))
        if node.max_properties is not None:
            add("maxProperties", _forgive_null(col, F.size(col) <= node.max_properties))
        if node.property_names is not None:
            pn = node.property_names
            ok = F.forall(F.map_keys(col),
                          lambda k: F.coalesce(node_valid(pn, k, T.StringType()), F.lit(True)))
            add("propertyNames", _forgive_null(col, ok))
        for name, dep in node.dependencies.items():
            present = F.map_contains_key(col, F.lit(name))
            if isinstance(dep, tuple):
                for d in dep:
                    add("dependencies",
                        _forgive_null(col, F.when(present, F.map_contains_key(col, F.lit(d))).otherwise(F.lit(True))),
                        p=at(d))
        if node.unevaluated_properties is not None and node.unevaluated_properties is not True:
            up = node.unevaluated_properties
            val_dt = dt.valueType

            def _key_ok(k: Column) -> Column:
                c = _covers(node, k, col, dt)
                t = F.lit(False) if c is False else (F.lit(True) if c is True else c)
                if isinstance(up, SpecNode):
                    t = t | F.coalesce(
                        node_valid(up, F.element_at(col, k), val_dt), F.lit(True))
                return t

            add("unevaluatedProperties",
                _forgive_null(col, F.forall(F.map_keys(col), _key_ok)))

    # --- A18–A21 combinators ---------------------------------------------------
    if node.all_of is not None:
        for sub in node.all_of:
            out.extend(compile_node(sub, col, path, dt))
    if node.any_of is not None:
        pred = reduce(lambda a, b: a | b, [node_valid(s, col, dt) for s in node.any_of])
        add("anyOf", _forgive_null(col, pred))
    if node.one_of is not None:
        cnt = reduce(lambda a, b: a + b,
                     [F.coalesce(node_valid(s, col, dt), F.lit(False)).cast("int") for s in node.one_of])
        add("oneOf", _forgive_null(col, cnt == 1))
    if node.not_ is not None:
        add("not", _forgive_null(col, ~F.coalesce(node_valid(node.not_, col, dt), F.lit(False))))
    if node.if_ is not None:
        # draft-7 conditionals: if-valid => then must hold, else => else
        cond = F.coalesce(node_valid(node.if_, col, dt), F.lit(False))
        if node.then_ is not None and not node.then_.is_trivial():
            add("then", _forgive_null(
                col, F.when(cond, node_valid(node.then_, col, dt)).otherwise(F.lit(True))))
        if node.else_ is not None and not node.else_.is_trivial():
            add("else", _forgive_null(
                col, F.when(cond, F.lit(True)).otherwise(node_valid(node.else_, col, dt))))

    return out


# --------------------------------------------------------------------------
# Table-level compilation
# --------------------------------------------------------------------------

@dataclass
class CompiledTableSpec:
    checks: list[CheckExpr]
    columns: list[str]                 # columns the spec names; the stats pass judges these
    spec: Spec

    def violations_array(self) -> Column:
        """array<struct<keyword,path,value>> of this row's violations —
        ONE projection, zero per-row Python (SURVEY.md B5).

        Allocation discipline (the 32-core GC lever, round 2): the naive
        form allocates |checks| structs + an array PER ROW even when every
        check passes — at 32 tasks that allocation rate drowns the collector
        (measured 60–90% GC time in the cache-build stage). Rows that pass
        every check instead short-circuit to a single shared empty-array
        literal: the common path evaluates only a boolean AND chain."""
        empty = F.array().cast(T.ArrayType(VIOLATION_STRUCT))
        if not self.checks:
            return empty
        structs = [
            F.when(
                ~F.coalesce(c.ok, F.lit(False)),
                F.struct(
                    F.lit(c.keyword).alias("keyword"),
                    F.lit(c.path).alias("path"),
                    c.value.alias("value"),
                ),
            )
            for c in self.checks
        ]
        arr = F.filter(F.array(*structs), lambda x: x.isNotNull())
        return F.when(self.row_valid(), empty).otherwise(arr)

    def row_valid(self) -> Column:
        if not self.checks:
            return F.lit(True)
        return reduce(lambda a, b: a & b,
                      (F.coalesce(c.ok, F.lit(False)) for c in self.checks))

    def check_ids(self) -> list[str]:
        return sorted({c.check_id for c in self.checks})


def spec_struct_type(node: SpecNode) -> T.DataType:
    """Derive the Spark type a (sub)schema describes, for ``from_json``
    parsing of JSON-string payload columns (SURVEY.md B25).

    Unconstrained / union-typed nodes fall back to StringType (every JSON
    scalar parses into a string; predicates then run on the string form)."""
    # Only an unambiguous single type drives the parse type: for a union like
    # ["integer","string"], parsing as Long would null out valid strings and
    # fabricate required/type violations — fall through to StringType. The
    # all-numeric union ["integer","number"] is losslessly a double.
    if node.type and len(node.type) == 1:
        t = node.type[0]
    elif node.type and set(node.type) <= {"integer", "number"}:
        t = "number"
    else:
        t = None
    # conditional (if/then/else) subschemas may constrain fields the base
    # schema never names — merge them so from_json materializes the fields
    # the conditionals need to see
    cond_props: dict[str, SpecNode] = {}
    conds = [s for s in (node.if_, node.then_, node.else_) if s is not None]
    for sub in conds:  # typed properties first — they must win the merge
        for n, s in sub.properties.items():
            cond_props.setdefault(n, s)
    for sub in conds:
        for n in sub.required or ():
            cond_props.setdefault(n, SpecNode())  # presence-only field
    if node.properties or cond_props or t == "object":
        props = dict(node.properties)
        for n, s in cond_props.items():
            props.setdefault(n, s)
        fields = [T.StructField(n, spec_struct_type(s), True)
                  for n, s in props.items()]
        return T.StructType(fields) if fields else T.MapType(T.StringType(), T.StringType())
    if t == "array" or node.items is not None or node.tuple_items is not None:
        elem = spec_struct_type(node.items) if node.items is not None else T.StringType()
        return T.ArrayType(elem, True)
    if t == "integer":
        return T.LongType()
    if t == "number":
        return T.DoubleType()
    if t == "boolean":
        return T.BooleanType()
    if t is None and (
        node.minimum is not None or node.maximum is not None
        or node.multiple_of is not None
    ):
        # untyped node with numeric constraints: parse as number so the
        # bound predicates stay numeric (a string field would skip them)
        return T.DoubleType()
    return T.StringType()


def compile_json_node(node: SpecNode, raw: Column, path: str) -> list[CheckExpr]:
    """Compile ``node`` against a JSON-STRING column ``raw``: the payload is
    parsed once with ``from_json`` into the node-derived type and every
    keyword runs as a codegen predicate on the parsed value (SURVEY B25/B44).

    One ``type`` check at ``path`` fails on malformed JSON and, when the
    node's type is exactly ``["object"]``, on a parseable non-object (unions
    stay permissive). Only object payloads are parsed: PERMISSIVE from_json
    turns anything else into a null-fielded struct, which would fabricate
    ``required`` violations, so every other payload reaches the keyword
    checks as NULL, which ``compile_node`` forgives (draft-4: object keywords
    apply only to objects). ``node``'s ``x-json`` flag, if any, is dropped
    before the parsed value is compiled."""
    node = replace(node, meta={k: v for k, v in node.meta.items() if k != "x-json"})
    dt = spec_struct_type(node)
    parsed = F.try_parse_json(raw).isNotNull()
    # a parseable value is an object iff its first non-whitespace char is
    # '{'; JSON whitespace is space/tab/CR/LF (ltrim strips spaces only)
    is_object = raw.rlike(r"^[ \t\r\n]*\{")
    ok = parsed & is_object if list(node.type or ()) == ["object"] else parsed
    doc = F.when(parsed & is_object, F.from_json(raw, dt))
    return [CheckExpr("type", path, raw.isNull() | ok, raw),
            *compile_node(node, doc, path, dt)]


def compile_json_column(spec: Spec, json_col: str) -> CompiledTableSpec:
    """Compile a whole spec against one JSON-STRING column, rooted at ``""``
    — dynamic-schema validation without any per-row Python."""
    return CompiledTableSpec(
        checks=compile_json_node(spec.root, F.col(json_col), ""),
        columns=[json_col], spec=spec)


class _TableRow(ClassicColumn):
    """The table row as one object value: a struct of ``fields`` that is
    never null and whose field access resolves straight to the column.
    A check thus carries only the columns it reads; the struct itself is
    built only where a keyword reads the row as a whole."""

    def __init__(self, fields: list[T.StructField]):
        self._fields = fields

    @cached_property
    def _jc(self):
        return F.struct(*[self.getField(f.name).alias(f.name) for f in self._fields])._jc

    def getField(self, name: str) -> Column:
        # quoted: dots and backticks in a column name are part of the name
        return F.col("`" + name.replace("`", "``") + "`")

    def isNull(self) -> Column:
        return F.lit(False)


def compile_table(spec: Spec, schema: T.StructType) -> CompiledTableSpec:
    """Compile a root object-spec against a flat DataFrame schema.

    The row is one object whose properties are its columns (SURVEY.md
    §1.2): ``compile_node`` compiles the root once over a struct of the
    columns, so every keyword means at the root what it means on a nested
    struct column. ``part_id``, the engine's partition column, is in the
    row only when the spec names it. A field access on the row
    (``_TableRow``) is the column itself and the row's own checks carry a
    NULL value, so a check names only the columns it reads and the fused
    scan reads no others.

    What the table shape decides at compile time raises ``CompileError``:
    absent required columns, extra columns under a root
    additionalProperties/unevaluatedProperties false, absent columns under
    if/then/else, and bad row predicates."""
    root = spec.root
    fields = {f.name: f.dataType for f in schema.fields}
    cols = [n for n in fields if n != "part_id"]

    missing = [n for n in (root.required or ()) if n not in fields]
    if missing:
        raise CompileError(f"required columns absent from table schema: {missing}")
    for name, sub in root.properties.items():
        if sub.d3_required and name not in fields:
            raise CompileError(f"required column absent: {name}")

    if root.additional_properties is False:
        extras = _unmatched(cols, root.properties, root.pattern_properties)
        if extras:
            raise CompileError(f"additionalProperties:false but table has extra columns: {extras}")

    branches = list(in_place_branches(root))
    if root.unevaluated_properties is False:
        # table columns are static, so a column that no branch names can
        # never be evaluated: reject the table at compile time. Columns
        # that only some branch names get compile_node's runtime
        # annotation-flow check.
        names = {n for nd in branches for n in nd.properties}
        pats = {p for nd in branches for p in nd.pattern_properties}
        extras = _unmatched(cols, names, pats)
        if extras:
            raise CompileError(
                "unevaluatedProperties:false but table has columns no schema "
                f"branch evaluates: {extras}")

    if root.if_ is not None:
        conds = [sub for sub in (root.if_, root.then_, root.else_) if sub is not None]
        unknown = sorted(set().union(*map(declared_names, conds)) - fields.keys())
        if unknown:
            raise CompileError(f"if/then/else references absent columns: {unknown}")

    used = set().union(*map(declared_names, branches)) & fields.keys()
    used.update(n for nd in branches for p in nd.pattern_properties
                for n in fields if re.search(p, n))
    row = [f for f in schema.fields if f.name != "part_id" or f.name in used]
    checks = compile_node(root, _TableRow(row), "", T.StructType(row))

    for pred in spec.table_checks.row_predicates:
        name, test = pred["name"], pred["test"]
        cols = pred.get("columns")
        if cols is None:
            # conservative identifier scan: any schema field named in the
            # test must survive fused-scan column pruning
            tokens = sql_identifiers(test)
            cols = [c for c in fields if c in tokens]
        unknown = [c for c in cols if c not in fields]
        if unknown:
            raise CompileError(f"row-predicate {name!r} references absent columns: {unknown}")
        used.update(cols)
        try:
            # ANSI CHECK-constraint semantics: a NULL predicate result passes
            # (null inputs are the type/required checks' concern)
            ok = F.coalesce(F.expr(test), F.lit(True))
            show = F.expr(pred["show"]).cast("string") if pred.get("show") \
                else F.lit(None).cast("string")
        except Exception as exc:
            raise CompileError(f"row-predicate {name!r}: bad SQL expression: {exc}") from exc
        checks.append(CheckExpr("x-predicate", f"/{name}", ok, show))

    return CompiledTableSpec(checks=checks, columns=sorted(used), spec=spec)
